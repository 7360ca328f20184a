"""SparkSession factory tuned for the rollup engine.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor; on a real cluster the same builder is used with
``spark-submit --py-files fusets_spark.zip`` (see plans/pipeline.py docstring).

Python workers start from the engine's own daemon, ``fusets_spark.worker_boot``
(``spark.python.daemon.module``): PySpark's stock daemon with
``zipimport.zipimporter.invalidate_caches`` made a no-op. A reused worker
otherwise re-reads the directory of each of its 17 cached zips (``pyspark.zip``
and its subpackages, py4j, the spark-core jar, the package zip) before every
task, which is most of a Python task's fixed cost. The no-op is safe: a zip
never changes under a live worker, since Spark refuses to re-register a path
with other content, and a zip added later by ``addPyFile`` has no cached
importer, so its first import reads it fresh. The daemon also imports pandas,
pyarrow and pyarrow's pandas converter, collects and ``gc.freeze()``s its
heap before it forks: workers share those modules as copy-on-write pages,
and PySpark's per-task ``gc.collect()`` skips them (see the module).

The daemon module must be importable before any task ships the package. In
local mode ``spark.executorEnv.PYTHONPATH`` names the directory holding
``fusets_spark``. On a cluster ``--py-files fusets_spark.zip`` puts the zip on
the executors' path, and the boot module resolves from it; the driver-local
directory in ``spark.executorEnv.PYTHONPATH`` names nothing there and is
skipped. Workers still load the rest of the package from where they did with
the stock daemon (cwd, shipped zip, path), because the boot module drops the
package it was imported through before any worker forks.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
# the directory holding fusets_spark: where local workers find worker_boot
_PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])


def ship_package(spark: SparkSession) -> None:
    """Make `fusets_spark` importable on executor Python workers.

    Zips the package and registers it via addPyFile — the same mechanism as
    `spark-submit --py-files fusets_spark.zip` on a real cluster (north rule).
    Needed because the driver's sys.path does not propagate to workers.
    Idempotent per SparkContext. The zip is written once per process under
    the temp root (``tempfile.gettempdir()``) and removed at interpreter exit.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"fusets_spark-{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in sorted(pkg_dir.rglob("*.py")):
                zf.write(p, f"fusets_spark/{p.relative_to(pkg_dir)}")
        atexit.register(zip_path.unlink, missing_ok=True)
    sc.addPyFile(str(zip_path))
    _SHIPPED.add(key)


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
        not run on streaming queries, so the stateful block sealer does not
        take this width: it starts through streaming.start_per_core, which
        gives it one state shard per core. Grouped numpy kernels do not take
        it either: kernels.group_kernel sizes their exchange from the
        input (kernels.n_buckets), a width AQE does not coalesce.
    extra_conf: applied last, so it overrides any setting above, including
        the two that start Python workers from ``fusets_spark.worker_boot``
        (``spark.python.daemon.module``, ``spark.executorEnv.PYTHONPATH``;
        see the module docstring). ``{"spark.python.daemon.module":
        "pyspark.daemon"}`` restores PySpark's stock daemon.
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.python.daemon.module", "fusets_spark.worker_boot")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
