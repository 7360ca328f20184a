"""The grouped Python-kernel boundary.

Every sequential per-series numpy kernel (codec, smoothing, harmonics,
CCDC, peak/valley, Whittaker, MOGPR fusion) runs through group_kernel —
the role `xarray.apply_ufunc(..., input_core_dims=[[time_dim]])` plays in
the reference. The only other grouped Python calls are similarity's LSH
pair join, which groups on its natural (table_no, bucket) keys, and the
stateful block sealer, which takes its bucket column from bucket_col
(tests/test_kernel_boundary.py keeps it that way).

Series are hash-bucketed, so one kernel call receives MANY whole series:
grouping by the series key itself would create millions of tiny groups
and drown in Spark's per-group machinery (measured ~8 ms per group on the
codec, 60x the codec's own cost). Kernel results are grouping-independent
by construction (each series lives in exactly one bucket), pinned by the
grouping-invariance tests.

The bucket count follows the input (n_buckets): small inputs get a few
large groups, so the per-group pandas/Arrow overhead is paid a few times,
not hundreds. fanout_partitions is the scan-side counterpart for per-row
mapInPandas kernels fused into a narrow scan stage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GROUP_BYTES = 8 << 20  # target input bytes per group


def n_buckets(df: DataFrame) -> int:
    """min(dP × 8, max(dP × 2, ceil(estimate / GROUP_BYTES))) buckets, dP
    being defaultParallelism and the estimate the optimized plan's
    sizeInBytes (no Spark job; unknown is Long.MaxValue, so the cap). The
    floor keeps every core busy; the cap bounds per-task memory."""
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
    """Run `fn` (pandas frame -> pandas frame) once per group of
    (*by, bucket of hash_on), with n_buckets(df) buckets.

    The exchange is a user-specified repartition by number to
    defaultParallelism × 4 (straggler headroom) on the grouping keys.
    AQE's size-based coalescing is right for byte-bound ETL shuffles but
    wrong for numpy kernel stages: a few-MB shuffle feeding a CPU-heavy
    solve gets coalesced to 1-2 tasks (measured: whittaker 6.3 s -> 1.x s
    at sf0.1 once exempt). A REPARTITION_BY_NUM is exempt, and the groupBy
    on the same keys is satisfied by it (ClusteredDistribution), so the
    plan has exactly one exchange, of a fixed width."""
    keys = (*by, "_g")
    grouped = df.withColumn("_g", bucket_col(hash_on, n_buckets(df)))
    width = df.sparkSession.sparkContext.defaultParallelism * 4
    return (
        grouped.repartition(width, *keys)
        .groupBy(*keys)
        .applyInPandas(fn, schema=schema)
    )


def fanout_partitions(df: DataFrame, per_core: int = 2, keys: tuple[str, ...] = ()):
    """Scale-adaptive fan-out for work fused into a narrow scan stage.

    Parquet row groups are atomic scan units, so a single-file/
    single-row-group input yields ONE scan partition no matter what
    maxPartitionBytes says — and everything fused into the scan stage
    (mapInPandas kernels, map-side partial aggregation, per-row expression
    evaluation) then runs on one core. When the upstream plan has fewer
    partitions than the session's parallelism, repartition to
    defaultParallelism × per_core; inputs that are already wide keep their
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
    single-partition plan. Round-robin (no keys) is for per-row kernels
    whose results are partitioning-independent by construction."""
    sc = df.sparkSession.sparkContext
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "Exchange" covers shuffle, broadcast and reused exchanges; a
    # broadcast or a subquery runs as a job when the plan is executed
    if "Exchange" in plan or "Subquery" in plan:
        return df
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism * per_core, *keys)
