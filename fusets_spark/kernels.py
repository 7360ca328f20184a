"""The Python-kernel boundary: every Python call over a DataFrame's rows,
bar the stateful block sealer, goes through this module.

Per-row kernels (token ingest, block decode, the MinHash/SimHash folds,
the LSH bucket and IVF cell assignment, the media decoders, the netCDF and
GeoTIFF loaders, the token generator) run through map_kernel: it owns the
batch loop, skips empty batches, fans a narrow scan out (fanout_partitions)
and picks the batch type the kernel was written for, pandas frames
(mapInPandas) or Arrow record batches (mapInArrow).

Every sequential per-series numpy kernel (codec, smoothing, harmonics,
CCDC, peak/valley, Whittaker, MOGPR fusion) and similarity's LSH pair
join run through group_kernel — the role
`xarray.apply_ufunc(..., input_core_dims=[[time_dim]])` plays in the
reference. Two of them run their time loop once per call, vectorized
across the call's series, not once per series: Whittaker's banded
solve, and fusion's state-space path (batched Kalman + RTS sweeps over
the call's long docs, each sweep's arrays bounded by GROUP_BYTES). The
only other grouped Python call is the stateful block sealer, which
takes its bucket column from bucket_col (tests/test_kernel_boundary.py
keeps it that way).

A kernel group is a partition: series are hashed straight into
n_buckets(df) partitions, so one kernel call receives MANY whole series
(grouping by the series key itself would create millions of tiny groups
and drown in Spark's per-group machinery, measured ~8 ms per group on the
codec, 60x the codec's own cost), and one bucket is one task. Kernel
results are grouping-independent by construction (each series lives in
exactly one partition), pinned by the grouping-invariance tests.

The bucket count follows the input (n_buckets): small inputs get a few
large partitions, so the per-call pandas/Arrow overhead is paid a few
times, not hundreds.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GROUP_BYTES = 8 << 20  # target input bytes per bucket


def n_buckets(df: DataFrame) -> int:
    """min(dP × 8, max(dP × 2, ceil(estimate / GROUP_BYTES))) buckets, dP
    being defaultParallelism and the estimate the optimized plan's
    sizeInBytes (no Spark job; unknown is Long.MaxValue, so the cap). A
    bucket is one task, so the floor keeps every core busy and the cap
    bounds the task count. It does not bound per-task memory: past
    dP × 8 × GROUP_BYTES (256 MiB at local[4]) every bucket grows with the
    input (ROADMAP direction 4)."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return min(dp * 8, max(dp * 2, -(-est // GROUP_BYTES)))


def bucket_col(hash_on: tuple[str, ...], n: int) -> Column:
    """pmod(xxhash64(*hash_on), n): the bucket a series lives in."""
    return F.pmod(F.xxhash64(*hash_on), F.lit(n))


def group_kernel(
    df: DataFrame,
    fn: Callable,
    schema: str,
    *,
    by: tuple[str, ...] = ("source",),
    hash_on: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Run `fn` (pandas frame -> pandas frame) on whole series: the input
    is hash-partitioned on (*by, *hash_on) into n_buckets(df) partitions,
    and each partition's rows are one pandas frame, handed to `fn` once
    per distinct `by` value (once per partition when by=()). Empty
    partitions make no call.

    The exchange is a user-specified repartition by number, which AQE does
    not coalesce. Size-based coalescing is right for byte-bound ETL
    shuffles but wrong for numpy kernel stages: a few-MB shuffle feeding a
    CPU-heavy solve gets coalesced to 1-2 tasks (measured: whittaker 6.3 s
    -> 1.x s at sf0.1 once exempt). So the plan has exactly one exchange,
    n_buckets(df) wide, and one bucket is one task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        del frames  # pdf holds its own copy of every batch
        if not by:
            yield fn(pdf)
            return
        for _, group in pdf.groupby(list(by), sort=False, dropna=False):
            yield fn(group.reset_index(drop=True))

    return df.repartition(n_buckets(df), *by, *hash_on).mapInPandas(
        run, schema=schema
    )


def map_kernel(
    df: DataFrame, fn: Callable, schema, *, arrow: bool = False
) -> DataFrame:
    """Run `fn` on every batch of `df`'s rows: fn(batch) returns an iterator
    of output batches (a loader yields one per file or band, ingest two).
    `fn` never sees an empty batch. A narrow scan is fanned out first
    (fanout_partitions, round-robin), so a kernel's results must not depend
    on how rows are split into batches or partitions.

    arrow: batches are pyarrow RecordBatches in and out (mapInArrow), for a
    kernel that reads list or binary columns as Arrow and returns typed
    nulls; otherwise pandas frames (mapInPandas)."""

    def run(batches: Iterator) -> Iterator:
        for batch in batches:
            if len(batch):
                yield from fn(batch)

    df = fanout_partitions(df)
    if arrow:
        return df.mapInArrow(run, schema)
    return df.mapInPandas(run, schema=schema)


def fanout_partitions(df: DataFrame, keys: tuple[str, ...] = ()):
    """Scale-adaptive fan-out for work fused into a narrow scan stage.

    Parquet row groups are atomic scan units, so a single-file/
    single-row-group input yields ONE scan partition no matter what
    maxPartitionBytes says — and everything fused into the scan stage
    (map_kernel calls, map-side partial aggregation, per-row expression
    evaluation) then runs on one core. When the upstream plan has fewer
    partitions than the session's parallelism, repartition to
    defaultParallelism × 2; inputs that are already wide keep their
    partitioning (no shuffle — the 100-TB case, where the corpus arrives
    in thousands of files).

    Only exchange-free plans are fanned out. Their partition count is
    known without running anything; asking any other plan for its RDD's
    partition count would run its upstream map stages as a Spark job
    during plan construction (AQE sizes its reads from them) and report
    the AQE-coalesced width, so a shuffle output that is already wide
    would get a second exchange. A shuffle output is left as it is.

    keys: hash-repartition by these columns instead of round-robin. For a
    downstream groupBy whose keys are a superset, the hash partitioning
    satisfies the aggregation's ClusteredDistribution, so the groupBy adds
    NO second exchange — same exchange count as the unfanned plan — and,
    because a SINGLE upstream map task feeds each reducer one
    order-preserving block, every group still sees its rows in scan order:
    float aggregates (rounded sums/avgs) stay bit-identical to the
    single-partition plan. Round-robin (no keys) is map_kernel's: per-row
    kernels' results are partitioning-independent by construction."""
    sc = df.sparkSession.sparkContext
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "Exchange" covers shuffle, broadcast and reused exchanges; a
    # broadcast or a subquery runs as a job when the plan is executed
    if "Exchange" in plan or "Subquery" in plan:
        return df
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism * 2, *keys)
