"""Tests of the benchmark itself: generator determinism, the statistics
and self-time helpers, and a tiny-size smoke run of every workload with
its output checks. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, reference
from perfbench.harness import tree_pids, tree_pss_bytes
from perfbench.trace import Span, covered, parse_metric, percentile, self_times

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _series_arrays(s: gen.Series):
    return [s.key, s.source, s.doc_id, s.offsets, s.tokens, s.late_lag]


def test_series_independent_of_chunking():
    whole = gen.make_series(np.arange(60), 5, two_signal_frac=0.5, late_frac=0.2)
    parts = gen.concat_series(
        [
            gen.make_series(np.arange(a, b), 5, two_signal_frac=0.5, late_frac=0.2)
            for a, b in [(0, 7), (7, 31), (31, 60)]
        ]
    )
    for x, y in zip(_series_arrays(whole), _series_arrays(parts)):
        assert np.array_equal(x, y)


def test_inputs_byte_identical_at_any_file_partitioning(tmp_path):
    def written(n_files, sub):
        bs = gen.make_batches(3, 40, 11, late_frac=0.2, two_signal_frac=0.5)
        out = []
        for bid, table in zip(bs.batch_ids, bs.rows):
            d = tmp_path / sub / bid
            gen.write_table(table, str(d), n_files)
            out.append(pq.read_table(str(d)))
        return out

    one, three, three_again = written(1, "a"), written(3, "b"), written(3, "c")
    for a, b in zip(one, three):
        assert a.equals(b)
    for bid in ("b00", "b01", "b02"):
        for f in sorted(os.listdir(tmp_path / "b" / bid)):
            assert (tmp_path / "b" / bid / f).read_bytes() == (
                tmp_path / "c" / bid / f
            ).read_bytes()


def test_different_seed_gives_different_inputs():
    a = gen.make_batches(2, 30, 1, late_frac=0.2)
    b = gen.make_batches(2, 30, 2, late_frac=0.2)
    assert not a.rows[0].equals(b.rows[0])
    assert not np.array_equal(a.series.tokens[:500], b.series.tokens[:500])


def test_late_points_move_to_later_batches_without_overlap():
    bs = gen.make_batches(3, 50, 3, late_frac=0.3, two_signal_frac=0.5)
    seen: dict[tuple[str, str], np.ndarray] = {}
    late_rows = 0
    for b, table in enumerate(bs.rows):
        for src, doc, toks in zip(
            table["source"].to_pylist(),
            table["doc_id"].to_pylist(),
            table["tokens"].to_pylist(),
        ):
            toks = np.asarray(toks)
            idx = int(doc[3:])
            if idx // 50 != b:
                late_rows += 1
                assert idx // 50 < b
            cur = seen.setdefault((src, doc), np.full(len(toks), gen.MISSING))
            hit = toks != gen.MISSING
            assert not (hit & (cur != gen.MISSING)).any()
            cur[hit] = toks[hit]
    assert late_rows > 0
    ser = bs.series
    for s in range(len(ser)):
        full = ser.tokens[ser.offsets[s] : ser.offsets[s + 1]]
        assert np.array_equal(seen[(ser.source[s], ser.doc_id[s])], full)


def test_tier_reference_matches_loop():
    ser = gen.make_series(np.arange(5), 9)
    ref = reference.tier_reference(ser, 60)
    for s in range(len(ser)):
        toks = ser.tokens[ser.offsets[s] : ser.offsets[s + 1]]
        pos = np.flatnonzero(toks != gen.MISSING)
        buckets = (gen.T0_S + pos) // 60 * 60
        for bkt in np.unique(buckets):
            p = pos[buckets == bkt]
            row = ref[
                (ref.doc_id == ser.doc_id[s])
                & (ref.source == ser.source[s])
                & (ref.bucket_s == bkt)
            ].iloc[0]
            assert row.n_obs == len(p)
            assert row.sum_val == int(toks[p].sum())
            assert row.first_val == toks[p[0]] and row.last_val == toks[p[-1]]
            assert row.min_val == toks[p].min() and row.max_val == toks[p].max()


def test_percentile():
    assert percentile([3.0], 50) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([4.0, 1.0, 3.0, 2.0], 100) == 4.0
    assert percentile(list(range(101)), 95) == 95.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_times_subtract_covered_children():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), (2, 5)], 2.5, 4) == 1.5
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0, depth=1),
        Span("b", 5.0, 6.0, parent=0, depth=1),
        Span("a.x", 2.0, 3.0, parent=1, depth=2),
    ]
    st = self_times(spans)
    assert st == [6.0, 2.0, 1.0, 1.0]
    assert sum(st) == spans[0].dur


def test_unattributed_executions_outside_spans_and_checks():
    from perfbench.layers import unattributed
    from perfbench.trace import Execution, attribute

    spans = [
        Span("op.a", 10.0, 20.0),
        Span("engine", 12.0, 15.0, parent=0, depth=1),
        Span("op.b", 30.0, 40.0),
    ]
    exs = [
        Execution(i, t, [], {}, {})
        for i, t in enumerate([13.0, 18.0, 22.0, 25.0, 35.0, 45.0])
    ]
    attribute(exs, spans)
    assert [e.span for e in exs] == [1, 0, None, None, 2, None]
    # 22.0 is in a check window; 45.0 is after the last timed operation
    lost = unattributed(exs, spans, check_windows=[(21.0, 23.0)])
    assert [e.exec_id for e in lost] == [3]


def test_parse_metric():
    assert parse_metric("924 ms") == pytest.approx(0.924)
    assert parse_metric("2.1 MiB") == pytest.approx(2.1 * 2**20)
    assert parse_metric("16,298") == 16298
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n4.7 s (1.1 s, 1.2 s, 1.3 s (stage 3.0: task 12))"
    ) == pytest.approx(4.7)


def _worker_pids(batches):
    import pandas as pd

    for b in batches:
        yield pd.DataFrame({"pid": [os.getpid()] * len(b)})


def test_memory_walk_reaches_python_workers():
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").appName("walk").getOrCreate()
    try:
        got = spark.range(0, 64, numPartitions=2).mapInPandas(
            _worker_pids, "pid long"
        ).collect()
        workers = {r.pid for r in got}
        # reused workers stay alive between tasks, so they are in the tree
        # of this process (python -> JVM -> worker daemon -> workers)
        walked = set(tree_pids(os.getpid()))
        assert workers and workers <= walked
        jvm, py = tree_pss_bytes(os.getpid())
        assert jvm > 0 and py > 0
    finally:
        spark.stop()


def _bench_names():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        b = json.load(f)
    return (
        [w["name"] for w in b["workloads"]],
        {m["name"] for m in b["end_to_end"]},
        {m["name"] for m in b["per_layer"]},
    )


def _run(workload, trace, cwd=REPO):
    return subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "3", "--seconds", "0", "--trace", str(trace),
            "--scale", "0.05",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", _bench_names()[0])
def test_smoke_traced(workload):
    _, _, layer = _bench_names()
    p = _run(workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    full = json.loads(p.stdout.strip().splitlines()[-2])
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == layer
    assert all(v == "ok" for v in full["checks"].values())


def test_smoke_untraced_reports_end_to_end():
    _, e2e, _ = _bench_names()
    p = _run("ingest_trickle", 0)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"]
    assert set(out["metrics"]) == e2e
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_to_run_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(REPO, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run("ingest_trickle", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
