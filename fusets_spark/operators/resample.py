"""Calendar resampling — mirror of the reference's temporal downsample
(reference _phenolopy.py:448-511 `resample(time=interval).mean/median`) and
calendar group-reduce (`groupby('time.month')`, _phenolopy.py:514-598).

Calendar buckets use date_trunc (month/week boundaries), NOT fixed-width
window() — pandas '1M' resample labels by calendar month; epoch-aligned
fixed windows would mis-bucket (SURVEY.md §7.3). Median is EXACT
(Spark `median` == numpy median semantics), never percentile_approx
(_phenolopy.py:498 requires numpy-exact medians).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SERIES_KEYS = ("source", "doc_id")

_TRUNC = {"week": "week", "month": "month", "year": "year", "day": "day",
          "hour": "hour", "quarter": "quarter"}


def resample(
    df: DataFrame,
    interval: str,
    reducer: str = "mean",
    value_col: str = "value",
) -> DataFrame:
    """Downsample per series to calendar buckets.

    interval: one of day/week/month/quarter/year (date_trunc units).
    reducer: 'mean' or 'median' (exact), like the reference's two reducers.
    Output: (source, doc_id, bucket_ts, value, n_obs).
    """
    from ..kernels import fanout_partitions

    unit = _TRUNC[interval]
    v = F.col(value_col)
    red = {"mean": F.avg(v), "median": F.median(v)}[reducer]
    # keyed fan-out: parallelizes the aggregation over narrow scans while
    # keeping exchange count and per-group row order identical (the exact
    # median additionally never depends on order)
    df = fanout_partitions(df, keys=SERIES_KEYS)
    return (
        df.groupBy(*SERIES_KEYS, F.date_trunc(unit, "ts").alias("bucket_ts"))
        .agg(red.alias(value_col), F.count(v).alias("n_obs"))
    )


def group_by_calendar(
    df: DataFrame,
    part: str = "month",
    reducer: str = "mean",
    value_col: str = "value",
) -> DataFrame:
    """Calendar group-reduce across years (reference _phenolopy.py:514-598):
    group by month-of-year (or week-of-year) pooling all years."""
    from ..kernels import fanout_partitions

    v = F.col(value_col)
    key = {"month": F.month("ts"), "week": F.weekofyear("ts")}[part]
    red = {"mean": F.avg(v), "median": F.median(v)}[reducer]
    df = fanout_partitions(df, keys=SERIES_KEYS)
    return (
        df.groupBy(*SERIES_KEYS, key.alias(part))
        .agg(red.alias(value_col), F.count(v).alias("n_obs"))
    )
