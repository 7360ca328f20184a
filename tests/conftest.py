from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from fusets_spark.session import get_spark


def entry_mod():
    """This checkout's __spark_entry__.py, loaded as module __spark_entry__
    (the driver contract: a standalone file, not a package import)."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def with_null_tokens(spark, toks):
    """toks plus three rows explode_raw reads as missing data: a NULL
    element (a missing point that keeps its position), a NULL tokens array
    (no points) and an all-missing row (no points)."""
    from fusets_spark.datagen import TOKENS_SCHEMA

    elems = [100 + 7 * i for i in range(150)]
    elems[3] = elems[70] = None
    elems[5] = -1
    rows = [
        ("s2ndvi-null-elem", elems, len(elems), "s2ndvi"),
        ("s2ndvi-null-array", None, 0, "s2ndvi"),
        ("rvi-all-missing", [-1, -1, -1], 3, "rvi"),
    ]
    return toks.unionByName(spark.createDataFrame(rows, TOKENS_SCHEMA))


def split_ingest(ingested):
    """(tiers, blocks) views of a fused ingest frame, each in its stage's
    committed column order; tier rows keep their `tier` label last."""
    from fusets_spark.plans.pipeline import STAGE_COLS

    tiers = ingested.filter("kind = 'tier'").select(*STAGE_COLS["1m"], "tier")
    blocks = ingested.filter("kind = 'block'").select(*STAGE_COLS["blocks"])
    return tiers, blocks


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("fusets-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def set_buckets(monkeypatch):
    """set_buckets(n): every grouped kernel built after the call hashes its
    series into n buckets, whatever its input's size, so it runs n tasks
    (a bucket is a partition). The bucket count is a literal in the plan,
    so it holds for as long as the frame lives."""
    from fusets_spark import kernels

    def _set(n: int) -> None:
        monkeypatch.setattr(kernels, "n_buckets", lambda df: n)

    return _set


@pytest.fixture
def temp_root(tmp_path, monkeypatch):
    """tmp_path as the temp root (tempfile.gettempdir()), with atexit
    registrations recorded instead of registered. Returns (root, run_exit):
    run_exit() runs the recorded hooks, as interpreter exit would."""
    import atexit
    import tempfile

    hooks = []
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **kw: hooks.append((fn, a, kw))
    )

    def run_exit() -> None:
        for fn, args, kwargs in hooks:
            fn(*args, **kwargs)

    return tmp_path, run_exit
