"""Session lifecycle, set-up timing, memory sampling and tracing hooks
shared by the workloads."""

from __future__ import annotations

import os
import threading
import time
import zipfile
from contextlib import contextmanager

from perfbench.trace import Tracer, median

SETUP_REPEATS = 3


def _identity(batches):
    yield from batches


def _children(pid: int) -> list[int]:
    """Child pids of every thread of `pid`. Linux parents a forked process
    to the thread that forked it, and the JVM forks the Python worker
    daemon from a task thread, not its main thread."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int) -> list[int]:
    """`root` and all its descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_pss_bytes(root: int) -> tuple[int, int]:
    """(JVM, Python) summed PSS of a process and all its descendants. PSS,
    not RSS, so pages shared by forked Python workers count once."""
    jvm = py = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kib = int(line.split()[1]) * 1024
                        if is_jvm:
                            jvm += kib
                        else:
                            py += kib
                        break
        except OSError:
            continue
    return jvm, py


class PssSampler:
    """Background thread sampling the process tree's PSS every `period` s;
    keeps the peaks of the whole tree, of the JVM and of the Python
    processes (driver and workers)."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = {"tree": 0, "jvm": 0, "python": 0}
        self._lock = threading.Lock()  # the run's thread samples too
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvm, py = tree_pss_bytes(os.getpid())
        with self._lock:
            for k, v in (("tree", jvm + py), ("jvm", jvm), ("python", py)):
                self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Harness:
    """One benchmark process: owns the Spark session, the work directory,
    the memory sampler and (for traced runs) the span recorder."""

    def __init__(self, repo, work, seed, seconds, trace, scale=1.0):
        self.repo = repo
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.spark = None
        self.tracer = Tracer() if trace else None
        self.pss = PssSampler()
        self.pss.start()
        self.setups: list[dict] = []
        self.setup_once: dict[str, float] = {}
        self.checks: list[tuple[str, list[str]]] = []
        self.check_windows: list[tuple[float, float]] = []
        self.ops_attempted = 0
        self._zip = None

    # ---- sizes
    def n(self, full: int, floor: int = 8) -> int:
        return max(floor, int(round(full * self.scale)))

    # ---- session
    def _start_session(self, cores: int):
        from fusets_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        return spark, time.perf_counter() - t

    def _ship(self, spark) -> float:
        """Equivalent of session.ship_package with the zip kept inside the
        work directory: zip the package, addPyFile it on the context."""
        t = time.perf_counter()
        if self._zip is None:
            pkg = os.path.join(self.repo, "fusets_spark")
            self._zip = os.path.join(self.work, "fusets_spark.zip")
            with zipfile.ZipFile(self._zip, "w") as zf:
                for root, _, files in sorted(os.walk(pkg)):
                    for name in sorted(files):
                        if name.endswith(".py"):
                            p = os.path.join(root, name)
                            zf.write(p, os.path.relpath(p, self.repo))
        spark.sparkContext.addPyFile(self._zip)
        return time.perf_counter() - t

    def _warm_workers(self, spark) -> float:
        """First-job warm-up of a fresh context: one Arrow task per core
        starts and imports the Python workers."""
        t = time.perf_counter()
        n = spark.sparkContext.defaultParallelism
        spark.range(0, 1024 * n, numPartitions=n).mapInPandas(
            _identity, "id long"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def setup(self, build_inputs, cores: int = 4):
        """SETUP_REPEATS set-ups, each: a fresh SparkSession (the first one
        launches the JVM, later ones restart the context on it), shipping
        the package and building the workload's inputs with
        `build_inputs(k)`; then, once, the worker warm-up job. Returns the
        last set-up's inputs."""
        inputs = None
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark, start_s = self._start_session(cores)
            ship_s = self._ship(self.spark)
            t_in = time.perf_counter()
            inputs = build_inputs(k)
            self.setups.append(
                {
                    "total_s": time.perf_counter() - t,
                    "session_s": start_s,
                    "ship_s": ship_s,
                    "inputs_s": time.perf_counter() - t_in,
                }
            )
        self.setup_once["warm_workers_s"] = self._warm_workers(self.spark)
        return inputs

    def warm_commit(self, sources: dict[str, str]):
        """One-time warm-up of the commit path (compiles the commit's plans
        in the JVM): commit each batch of `sources` (batch id -> parquet
        dir) into a fresh store. Part of set-up. Returns the pipeline,
        whose store holds the crash-free commits."""
        from fusets_spark.plans.pipeline import RollupPipeline

        t = time.perf_counter()
        pipe = RollupPipeline(os.path.join(self.work, "warm_store"))
        for batch_id, src in sorted(sources.items()):
            pipe.process_batch(self.spark.read.parquet(src), batch_id)
        self.setup_once["warm_commit_s"] = time.perf_counter() - t
        return pipe

    def setup_s(self) -> float:
        """Median of the repeated set-ups plus the one-time set-up work."""
        return median([s["total_s"] for s in self.setups]) + sum(
            self.setup_once.values()
        )

    def conf(self) -> dict:
        keep = (
            "spark.master",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.driver.memory",
            "spark.default.parallelism",
        )
        conf = dict(self.spark.sparkContext.getConf().getAll())
        out = {k: conf.get(k) for k in keep}
        out["defaultParallelism"] = self.spark.sparkContext.defaultParallelism
        return out

    # ---- accounting
    @contextmanager
    def checking(self):
        """Mark a block of output checks: Spark work in it is untimed and
        belongs to no span (epoch-second windows, as the status store)."""
        t = time.time()
        try:
            yield
        finally:
            self.check_windows.append((t, time.time()))

    def check(self, name: str, errors: list[str]) -> None:
        self.checks.append((name, list(errors)))

    def op(self) -> None:
        self.ops_attempted += 1

    def attempted(self) -> int:
        return self.ops_attempted + len(self.checks)

    def failed(self) -> int:
        return sum(1 for _, e in self.checks if e)

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    try:
                        proc.stdin.close()
                    except OSError:
                        pass
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        self.pss.stop()

    def peak_pss_gib(self) -> dict[str, float]:
        """Peak PSS so far, in GiB, of the whole tree, the JVM and the
        Python processes."""
        self.pss.sample()
        return {k: v / 2**30 for k, v in self.pss.peak.items()}
