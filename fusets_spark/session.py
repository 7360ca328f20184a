"""SparkSession factory tuned for the rollup engine.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor; on a real cluster the same builder is used with
``spark-submit --py-files fusets_spark.zip`` (see plans/pipeline.py docstring).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make `fusets_spark` importable on executor Python workers.

    Zips the package and registers it via addPyFile — the same mechanism as
    `spark-submit --py-files fusets_spark.zip` on a real cluster (north rule).
    Needed because the driver's sys.path does not propagate to workers.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(f"/tmp/fusets_spark-{os.getpid()}.zip")
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in sorted(pkg_dir.rglob("*.py")):
                zf.write(p, f"fusets_spark/{p.relative_to(pkg_dir)}")
    sc.addPyFile(str(zip_path))
    _SHIPPED.add(key)


def default_groups(
    df, minimum: int = 64, per_core: int = 4
) -> int:
    """Task granularity for hash-bucketed applyInPandas kernels: enough
    buckets to keep every core of a real cluster busy with headroom for
    stragglers (defaultParallelism × per_core), floored at `minimum` so
    small local sessions still amortize per-group Arrow overhead. Kernel
    results are grouping-independent by construction (each series lives in
    exactly one bucket), pinned by the cross-partitioning parity tests."""
    sc = df.sparkSession.sparkContext
    return max(minimum, sc.defaultParallelism * per_core)


def repartition_for_kernel(df, *keys):
    """AQE-coalesce-proof partitioning for compute-bound applyInPandas
    kernels.

    AQE's size-based partition coalescing is right for byte-bound ETL
    shuffles but dead wrong for numpy kernel stages: a few-MB shuffle
    feeding a CPU-heavy solve gets coalesced to 1-2 tasks and the kernel
    runs on 2 of 32 cores (measured: whittaker 6.3s -> 1.x s at sf0.1).
    A USER-SPECIFIED repartition by number+keys is exempt from AQE
    coalescing, and the following groupBy on the same keys is satisfied
    by this hash partitioning (ClusteredDistribution), so Spark inserts no
    second exchange — same shuffle count, fixed task count.

    Partition count = defaultParallelism × 4 (straggler headroom), the
    same sizing default_groups uses for the bucket modulus."""
    n = df.sparkSession.sparkContext.defaultParallelism * 4
    return df.repartition(n, *keys)


def fanout_partitions(df, per_core: int = 2, keys: tuple[str, ...] = ()):
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
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism * per_core, *keys)


def get_spark(
    app_name: str = "fusets-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] parallelism. Defaults to $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: defaults to max(cores, 32) locally. On a cluster AQE
        coalesces; start high and let adaptive execution shrink. AQE does
        not run on streaming queries, so stateful streams do not take this
        width: they start through streaming.start_per_core, which gives
        them one state shard per core.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches large enough to amortize the Python hop but small
        # enough that per-batch numpy temporaries stay cache-sized (large
        # fresh allocations are DRAM-bandwidth-bound and kill multi-worker
        # scaling — measured on the codec path)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # per-partition parquet overwrite == idempotent tier commits
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
