"""The engine's Python worker boot (fusets_spark/worker_boot.py) and the
package zip: every worker of a get_spark session runs with zip-directory
re-reads off and is forked from a daemon that froze its heap, a zip added
after the first job still imports, workers load the package from where the
stock daemon's would, extra_conf restores the stock daemon, and
ship_package's zip lives under the temp root until exit. No timing is
asserted here."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _probe(spark, tasks: int = 16):
    """One row per task: its worker pid, whether the worker runs the boot
    module's invalidate_caches, how many objects the daemon froze before it
    forked the worker, and where it loaded fusets_spark from. The
    UDF is nested so that it is pickled by value: workers never import
    this test module."""

    def _boot_probe(batches):
        import gc
        import os
        import zipimport

        import fusets_spark
        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame(
                {
                    "pid": [os.getpid()],
                    "patched": [code.co_filename.endswith("worker_boot.py")],
                    "frozen": [gc.get_freeze_count()],
                    "file": [fusets_spark.__file__],
                }
            )

    return (
        spark.range(0, 4 * tasks, numPartitions=tasks)
        .mapInPandas(
            _boot_probe, "pid long, patched boolean, frozen long, file string"
        )
        .collect()
    )


def test_every_worker_runs_the_patched_invalidation(spark):
    assert spark.conf.get("spark.python.daemon.module") == "fusets_spark.worker_boot"
    rows = _probe(spark)
    assert len(rows) == 16
    assert all(r.patched for r in rows), sorted({(r.pid, r.patched) for r in rows})
    assert all(r.frozen > 0 for r in rows), sorted({(r.pid, r.frozen) for r in rows})


def test_zip_added_after_the_first_job_imports(spark, tmp_path):
    _probe(spark, tasks=4)  # the workers are up, their importers cached
    name = f"boot_probe_{uuid.uuid4().hex[:12]}"
    zpath = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(zpath))

    def _import_it(batches):
        import importlib

        import pandas as pd

        value = importlib.import_module(name).VALUE
        for _ in batches:
            yield pd.DataFrame({"v": [value]})

    rows = spark.range(0, 32, numPartitions=8).mapInPandas(_import_it, "v long")
    assert [r.v for r in rows.collect()] == [42] * 8


_SESSIONS = """
import json, os, sys
from fusets_spark.session import get_spark, ship_package
sys.path.insert(0, {tests!r})
from test_worker_boot import _probe

out = []
for extra in (None, {{"spark.python.daemon.module": "pyspark.daemon"}}):
    spark = get_spark("boot-probe", cores=1, shuffle_partitions=1, extra_conf=extra)
    ship_package(spark)
    rows = _probe(spark, tasks=2)
    out.append({{
        "patched": [r.patched for r in rows],
        "frozen": [r.frozen for r in rows],
        "file": [r.file for r in rows],
    }})
    spark.stop()
print("RESULT " + json.dumps({{"pid": os.getpid(), "sessions": out}}))
"""


def test_boot_keeps_package_location_and_stock_daemon_is_one_conf_away(tmp_path):
    """In a fresh driver started outside the repository, with the package
    shipped: the default session's workers are patched, a session built
    with extra_conf={"spark.python.daemon.module": "pyspark.daemon"} runs
    the stock daemon, whose workers hold no frozen objects, and both load
    fusets_spark from the shipped zip, as the stock daemon did before the
    boot module existed. The zip is gone from the driver's temp root once
    the driver exits."""
    script = tmp_path / "sessions.py"
    script.write_text(_SESSIONS.format(tests=str(REPO / "tests")))
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        TMPDIR=str(tmp_path),
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])
    boot, stock = got["sessions"]
    assert boot["patched"] == [True, True]
    assert stock["patched"] == [False, False]
    assert all(n > 0 for n in boot["frozen"]), boot["frozen"]
    assert stock["frozen"] == [0, 0]
    zip_name = f"fusets_spark-{got['pid']}.zip"
    for f in boot["file"] + stock["file"]:
        assert f.endswith(os.path.join(zip_name, "fusets_spark", "__init__.py")), f
    assert not list(tmp_path.glob("fusets_spark-*.zip"))


def test_ship_package_zip_lands_in_the_temp_root_and_goes_at_exit(
    temp_root, monkeypatch
):
    from types import SimpleNamespace

    from fusets_spark import session

    root, run_exit = temp_root
    monkeypatch.setattr(session, "_SHIPPED", set())
    added = []
    context = SimpleNamespace(addPyFile=added.append)
    session.ship_package(SimpleNamespace(sparkContext=context))

    zips = list(root.iterdir())
    assert [p.name for p in zips] == [f"fusets_spark-{os.getpid()}.zip"]
    assert added == [str(zips[0])]
    assert "fusets_spark/worker_boot.py" in zipfile.ZipFile(zips[0]).namelist()
    run_exit()
    assert list(root.iterdir()) == []
