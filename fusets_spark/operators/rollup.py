"""Tiered continuous aggregates: raw -> 1m -> 5m -> 1h.

Semantics mirror the reference's temporal resample (reference
_phenolopy.py:448-511, ds.resample(time=interval)) generalized to the
TimescaleDB-style retention ladder required by the north rule.

Exactness strategy (parity at every tier):
  * sums are computed on the integer token domain (int64) so they are
    order-insensitive and bit-exact under any shuffle/salting;
  * avg is derived as sum/count at read time (one deterministic double
    division), never re-averaged across tiers;
  * first/last are argmin/argmax by a *unique* ordering key (pos / ts),
    so min_by/max_by are deterministic without a sort.

Every tier site is one fold built from two aggregate lists: `point_aggs`
turns points into a partial, `merge_aggs` merges partials by their order
keys. Tier k+1 is computed FROM tier k (partial+final reuse — the map-side
combine the reference never had), so the 1h tier never rescans raw points.

Skew: `salted_rollup` exposes the two-phase salted aggregation required for
hot (source, bucket) keys — phase 1 aggregates on (keys..., salt), phase 2
merges. Because all merge functions (sum/count/min/max + argmin/argmax by
unique key) are associative+commutative, salting cannot change results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


TIERS = {"1m": 60, "5m": 300, "1h": 3600}
SERIES_KEYS = ["source", "doc_id"]
_ORDER_KEYS = ["first_pos", "last_pos"]


def _bucket(col: str, seconds: int) -> Column:
    """Start of the epoch-aligned `seconds`-wide bucket holding `col`."""
    return F.timestamp_seconds(
        F.unix_timestamp(col) - F.pmod(F.unix_timestamp(col), F.lit(seconds))
    )


def point_aggs(v: Column, order: Column, integer_values: bool = True) -> list[Column]:
    """The tier partial of raw points: n_obs, sum, min, max, the values at
    the smallest/largest `order` key (first/last) and those keys
    (first_pos/last_pos), so partials merge exactly through merge_aggs.
    integer_values=True sums on int64 (bit-exact under any shuffle order)."""
    return [
        F.count(v).alias("n_obs"),
        (F.sum(v.cast("long")) if integer_values else F.sum(v)).alias("sum_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
        F.min_by(v, order).alias("first_val"),
        F.max_by(v, order).alias("last_val"),
        F.min(order).alias("first_pos"),
        F.max(order).alias("last_pos"),
    ]


def merge_aggs(first: str, last: str) -> list[Column]:
    """The merge of tier partials: counts and sums add, min/max fold, and
    first/last come from the partial with the smallest `first` / largest
    `last` order key. Output columns are point_aggs'."""
    return [
        F.sum("n_obs").alias("n_obs"),
        F.sum("sum_val").alias("sum_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
        F.min_by("first_val", F.col(first)).alias("first_val"),
        F.max_by("last_val", F.col(last)).alias("last_val"),
        F.min(first).alias("first_pos"),
        F.max(last).alias("last_pos"),
    ]


def _with_avg(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "avg_val", F.col("sum_val").cast("double") / F.col("n_obs")
    )


def rollup_from_raw(
    points: DataFrame,
    tier: str,
    value_col: str = "value",
    order_col: str = "pos",
    integer_values: bool = True,
    with_order_keys: bool = False,
) -> DataFrame:
    """Aggregate raw points into one tier.

    points: (source, doc_id, <order_col>, ts, value) — value NULL rows already
    dropped; order_col must be unique per series (token pos / event_id).
    integer_values=True sums on int64 (bit-exact under any shuffle order);
    False keeps double sums (token tables are the integer domain, generic
    event streams are not).

    Output: (source, doc_id, bucket_ts, n_obs, sum_val, min_val, max_val,
             first_val, last_val[, first_pos, last_pos], avg_val)
    """
    from ..kernels import fanout_partitions

    # Narrow scans (one parquet row group) would otherwise run the whole
    # map-side aggregation on one core; the keyed fan-out keeps exchange
    # count AND per-group row order identical (see fanout_partitions).
    points = fanout_partitions(points, keys=tuple(SERIES_KEYS))
    out = points.groupBy(
        *SERIES_KEYS, _bucket("ts", TIERS[tier]).alias("bucket_ts")
    ).agg(*point_aggs(F.col(value_col), F.col(order_col), integer_values))
    # unused order keys are pruned from the Aggregate by the optimizer
    return _with_avg(out if with_order_keys else out.drop(*_ORDER_KEYS))


def merge_tier_partials(partials: DataFrame) -> DataFrame:
    """EXACT merge of per-batch tier partials for the same (series, bucket)
    — the late-data path of the continuous aggregate: when a later batch
    contributes points to an already-materialized bucket, reading the tier
    means re-merging partial rows. Every merge is associative+commutative
    (sums/counts/min/max), and first/last merge exactly because partials
    carry their order keys (first_pos/last_pos from
    rollup_from_raw(with_order_keys=True)): the merged first is the
    first_val of the partial with the smallest first_pos. Output schema ==
    the input schema (merging is idempotent and composable)."""
    return _with_avg(
        partials.groupBy(*SERIES_KEYS, "bucket_ts").agg(
            *merge_aggs("first_pos", "last_pos")
        )
    )


def rollup_from_tier(lower: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1m->5m, 5m->1h).

    first/last merge by the finer bucket_ts (unique per series within the
    coarser bucket), so the result is identical to aggregating raw directly.
    """
    out = lower.groupBy(
        *SERIES_KEYS, _bucket("bucket_ts", TIERS[tier]).alias("bucket_ts")
    ).agg(*merge_aggs("bucket_ts", "bucket_ts"))
    return _with_avg(out.drop(*_ORDER_KEYS))


def salted_rollup(
    points: DataFrame,
    tier: str,
    n_salts: int = 16,
    value_col: str = "value",
    integer_values: bool = True,
) -> DataFrame:
    """Two-phase salted aggregation for hot (source, bucket) skew.

    Phase 1 groups by (series, bucket, salt) — the salt (pos % n_salts)
    spreads one hot key over n_salts reducers, bounding any single task.
    Phase 2 merges partials. Integer sums + argmin/argmax-by-unique-key make
    the result independent of the salt count. AQE handles join skew but not
    groupBy skew on hot series — this does (SURVEY.md §4).
    """
    partials = points.groupBy(
        *SERIES_KEYS,
        _bucket("ts", TIERS[tier]).alias("bucket_ts"),
        F.pmod(F.col("pos"), F.lit(n_salts)).alias("_salt"),
    ).agg(*point_aggs(F.col(value_col), F.col("pos"), integer_values))
    return merge_tier_partials(partials).drop(*_ORDER_KEYS)
