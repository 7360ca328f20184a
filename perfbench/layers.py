"""Per-layer metrics of a traced run: the span wrappers installed around
the engine's public entry points, the streaming progress listener, and
the fold of spans plus Spark status-store metrics into named layer
metrics. Every traced run reports every per-layer metric; a layer the
workload does not reach reports 0."""

from __future__ import annotations

import json
import threading
import time

from perfbench.trace import attribute, median, read_executions, self_times

# metric -> unit; the end-to-end metrics first, then the per-layer ones
E2E_UNITS = {
    "setup_s": "s",
    "round_s": "s",
    "ingest_points_per_s": "1/s",
    "store_bytes_per_point": "B/point",
    "py_peak_pss_gib": "GiB",
}
LAYER_UNITS = {
    # per-workload end-to-end quantities, one sample per round
    "commit_p50_s": "s",
    "ingest_seq_per_s": "1/s",
    "resume_s": "s",
    "compact_s": "s",
    "read_merged_p50_s": "s",
    "decode_p50_s": "s",
    "gapfill_p50_s": "s",
    "fuse_p50_s": "s",
    "stream_rollup_drain_s": "s",
    "stream_seal_drain_s": "s",
    "fail_frac": "ratio",
    "peak_pss_gib": "GiB",
    "jvm_peak_pss_gib": "GiB",
    # session
    "session.start_s": "s",
    "session.ship_s": "s",
    # plans.pipeline
    "pipeline.process_batch_s": "s",
    "pipeline.self_s": "s",
    "pipeline.stages_skipped": "count",
    # plans.lineage
    "lineage.write_batch_s": "s",
    "lineage.write_batch_calls": "count",
    "lineage.manifest_stats_s": "s",
    "lineage.commit_watermark_s": "s",
    "lineage.live_batches_s": "s",
    "lineage.retention_s": "s",
    "lineage.bytes_written": "B",
    # operators.ingest
    "ingest.py_start_s": "s",
    "ingest.py_init_s": "s",
    "ingest.py_run_s": "s",
    "ingest.bytes_to_py": "B",
    "ingest.bytes_from_py": "B",
    "ingest.tasks": "count",
    "ingest.scan_s": "s",
    # operators.rollup
    "rollup.merge_s": "s",
    "rollup.rows_in": "count",
    "rollup.rows_out": "count",
    "rollup.shuffle_bytes": "B",
    # codec
    "codec.decode_s": "s",
    "codec.decode_points": "count",
    "codec.compact_s": "s",
    "codec.compact_blocks_in": "count",
    "codec.compact_blocks_out": "count",
    "codec.block_bytes_per_point": "B/point",
    "codec.py_init_s": "s",
    "codec.py_run_s": "s",
    # operators.whittaker
    "whittaker.s": "s",
    "whittaker.series": "count",
    "whittaker.grid_points": "count",
    "whittaker.py_run_s": "s",
    "whittaker.shuffle_bytes": "B",
    # operators.fusion
    "fusion.s": "s",
    "fusion.docs": "count",
    "fusion.py_run_s": "s",
    # streaming
    "rollup_stream.drain_s": "s",
    "rollup_stream.batches": "count",
    "rollup_stream.state_rows": "count",
    "rollup_stream.commit_ms": "ms",
    "block_stream.drain_s": "s",
    "block_stream.batches": "count",
    "block_stream.state_rows": "count",
    "block_stream.commit_ms": "ms",
    # Spark engine, per round
    "spark.jobs_per_commit": "count",
    "spark.sql_executions": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.py_start_s": "s",
    "spark.py_init_s": "s",
    "spark.py_run_s": "s",
    # the trace itself
    "trace.overhead_s": "s",
    "trace.unattributed_executions": "count",
}

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
TO_PY = "data sent to Python workers"
FROM_PY = "data returned from Python workers"
ROWS = "number of output rows"
SHUFFLE = "shuffle bytes written"


def units() -> dict[str, str]:
    return {**E2E_UNITS, **LAYER_UNITS}


def install(tracer) -> None:
    """Wrap the engine's public entry points (and the lineage manifest
    stats pass) with span recorders. Call sites inside the engine resolve
    these names at call time, so the wrappers see every call."""
    from fusets_spark.codec import blocks
    from fusets_spark.operators import fusion, ingest, rollup, whittaker
    from fusets_spark.plans import lineage, pipeline
    from fusets_spark.streaming import block_stream, rollup_stream

    P, T = pipeline.RollupPipeline, lineage.TierStore

    def manifest_facts(span, m):
        span.attrs.update(n_bytes=m.n_bytes, n_rows=m.n_rows)

    for owner, attr, name, hook in [
        (P, "run", "pipeline.run", None),
        (P, "process_batch", "pipeline.process_batch", None),
        (P, "read_tier", "pipeline.read_tier", None),
        (P, "apply_compaction", "pipeline.apply_compaction", None),
        (P, "apply_retention", "pipeline.apply_retention", None),
        (T, "write_batch", "lineage.write_batch", manifest_facts),
        (T, "commit_watermark", "lineage.commit_watermark", None),
        (T, "live_batches", "lineage.live_batches", None),
        (T, "apply_retention", "lineage.apply_retention", None),
        (lineage, "_manifest_stats", "lineage.manifest_stats", None),
        (ingest, "ingest_from_tokens", "ingest.plan", None),
        (rollup, "merge_tier_partials", "rollup.plan", None),
        (blocks, "decode_blocks", "codec.decode_plan", None),
        (blocks, "compact_blocks", "codec.compact_plan", None),
        (whittaker, "whittaker_gapfill", "whittaker.plan", None),
        (fusion, "mogpr_fuse", "fusion.plan", None),
        (rollup_stream, "start_file_stream_rollup", "rollup_stream.start", None),
        (block_stream, "seal_all_with_sentinels", "block_stream.seal", None),
    ]:
        tracer.wrap(owner, attr, name, on_return=hook)


def progress_dict(p) -> dict:
    """A StreamingQueryProgress (object or dict, by PySpark version)."""
    if isinstance(p, dict):
        return p
    return json.loads(p.json)


class ProgressListener:
    """Collects progress events, per query id, of streaming queries the
    benchmark cannot reach directly (seal_all_with_sentinels awaits its
    own query). Callbacks arrive on another thread."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = progress_dict(event.progress)
                with outer._lock:
                    outer._events.setdefault(str(d["id"]), []).append(d)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer._terminated.add(str(event.id))

        self.spark = spark
        self._lock = threading.Lock()
        self._events: dict[str, list[dict]] = {}
        self._terminated: set[str] = set()
        self._listener = _L()
        spark.streams.addListener(self._listener)

    def take_terminated(self, skip: set[str], timeout: float = 10.0) -> list[dict]:
        """Progress events of a terminated query whose id is not in `skip`
        (events arrive asynchronously, so wait up to `timeout`); the id is
        added to `skip`."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                new = sorted(self._terminated - skip)
                if new:
                    skip.add(new[0])
                    return list(self._events.get(new[0], []))
            time.sleep(0.05)
        return []

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


def _stream_stats(runs: list[list[dict]]) -> tuple[float, float, float]:
    """(micro-batches, peak state rows, state commit ms) per drain."""
    if not runs:
        return 0.0, 0.0, 0.0
    batches, rows, commit = [], [], []
    for evs in runs:
        batches.append(len(evs))
        ops = [op for e in evs for op in e.get("stateOperators", [])]
        per_ev = [
            sum(op.get("numRowsTotal", 0) for op in e.get("stateOperators", []))
            for e in evs
        ]
        rows.append(max(per_ev, default=0))
        commit.append(sum(op.get("commitTimeMs", 0) for op in ops))
    return median(batches), median(rows), median(commit)


def per_layer(h, walls: dict, phases: dict, extra: dict):
    """Fold the traced run's spans and status-store metrics into every
    per-layer metric (sums are per round). Returns (metrics, report)."""
    from fusets_spark.plans.pipeline import STAGES

    tr = h.tracer
    spans = tr.spans
    rounds = extra["rounds"]
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update({k: v for k, v in phases.items() if k in LAYER_UNITS})

    roots = [i for i, s in enumerate(spans) if s.parent is None]
    since = min(spans[i].start for i in roots) - 1.0
    exs = read_executions(h.spark, since)
    attribute(exs, spans)
    root_of = {}
    for i, s in enumerate(spans):
        root_of[i] = i if s.parent is None else root_of[s.parent]

    def total(name):
        return sum(spans[i].dur for i in tr.named(name)) / rounds

    def execs_under(pred):
        return [e for e in exs if e.span is not None and pred(e.span)]

    def per_round(execs, metric, node=""):
        return sum(e.metric(metric, node) for e in execs) / rounds

    # session
    out["session.start_s"] = h.setups[0]["session_s"]
    out["session.ship_s"] = median([s["ship_s"] for s in h.setups])

    # plans.pipeline + plans.lineage. Durations are over the crash-free
    # commits (completed calls of the crash run); the resume run's partial
    # commits count only toward the skipped stages.
    pbs = tr.named("pipeline.process_batch")
    done = [i for i in pbs if not spans[i].attrs.get("raised")]
    full = [i for i in done if spans[root_of[i]].name == "op.crash_run"]
    if full:
        durs, selfs = [], []
        for i in full:
            lin = [k for k in tr.children(i) if spans[k].name.startswith("lineage.")]
            durs.append(spans[i].dur)
            selfs.append(spans[i].dur - sum(spans[k].dur for k in lin))
        out["pipeline.process_batch_s"] = median(durs)
        out["pipeline.self_s"] = median(selfs)
    if done:
        writes = sum(
            1
            for i in done
            for k in tr.children(i)
            if spans[k].name == "lineage.write_batch"
        )
        out["pipeline.stages_skipped"] = (len(STAGES) * len(done) - writes) / rounds
    wbs = tr.named("lineage.write_batch")
    out["lineage.write_batch_s"] = total("lineage.write_batch")
    out["lineage.write_batch_calls"] = len(wbs) / rounds
    out["lineage.manifest_stats_s"] = total("lineage.manifest_stats")
    out["lineage.commit_watermark_s"] = total("lineage.commit_watermark")
    out["lineage.live_batches_s"] = total("lineage.live_batches")
    out["lineage.retention_s"] = total("lineage.apply_retention")
    out["lineage.bytes_written"] = (
        sum(spans[i].attrs.get("n_bytes", 0) for i in wbs) / rounds
    )

    # operators.ingest: the staging write is the execution a process_batch
    # span submits itself (not through a lineage child)
    staged = execs_under(lambda i: spans[i].name == "pipeline.process_batch")
    if staged:
        out["ingest.py_start_s"] = per_round(staged, PY_START)
        out["ingest.py_init_s"] = per_round(staged, PY_INIT)
        out["ingest.py_run_s"] = per_round(staged, PY_RUN)
        out["ingest.bytes_to_py"] = per_round(staged, TO_PY)
        out["ingest.bytes_from_py"] = per_round(staged, FROM_PY)
        out["ingest.tasks"] = sum(e.tasks for e in staged) / rounds
        out["ingest.scan_s"] = per_round(staged, "scan time")

    def under_root(name):
        return execs_under(lambda i: spans[root_of[i]].name == name)

    # operators.rollup (merged read)
    if "query.read_merged" in walls:
        ex = under_root("query.read_merged")
        out["rollup.merge_s"] = median(walls["query.read_merged"])
        out["rollup.rows_in"] = per_round(ex, ROWS, "Scan")
        finals = [
            min(e.node_values.get(("HashAggregate", ROWS), [0])) for e in ex
        ]
        out["rollup.rows_out"] = sum(finals) / rounds
        out["rollup.shuffle_bytes"] = per_round(ex, SHUFFLE)

    # codec
    n_points = extra["_n_points"]
    codec_ex = []
    if "query.decode" in walls:
        ex = under_root("query.decode")
        codec_ex += ex
        out["codec.decode_s"] = median(walls["query.decode"])
        out["codec.decode_points"] = per_round(ex, ROWS, "MapInPandas")
    if "op.compact" in walls:
        ex = under_root("op.compact")
        codec_ex += ex
        out["codec.compact_s"] = median(walls["op.compact"])
        out["codec.compact_blocks_in"] = median([a for a, _ in extra["_compact"]])
        out["codec.compact_blocks_out"] = median([b for _, b in extra["_compact"]])
    if "drain.seal" in walls:
        codec_ex += under_root("drain.seal")
    if codec_ex:
        out["codec.py_init_s"] = per_round(codec_ex, PY_INIT)
        out["codec.py_run_s"] = per_round(codec_ex, PY_RUN)
    out["codec.block_bytes_per_point"] = extra["_block_bytes"] / n_points

    # operators.whittaker / operators.fusion
    if "query.gapfill" in walls:
        ex = under_root("query.gapfill")
        out["whittaker.s"] = median(walls["query.gapfill"])
        out["whittaker.series"] = extra["gapfill_series"]
        out["whittaker.grid_points"] = per_round(ex, ROWS, "FlatMapGroupsInPandas")
        out["whittaker.py_run_s"] = per_round(ex, PY_RUN)
        out["whittaker.shuffle_bytes"] = per_round(ex, SHUFFLE)
    if "query.fuse" in walls:
        ex = under_root("query.fuse")
        out["fusion.s"] = median(walls["query.fuse"])
        out["fusion.docs"] = extra["fuse_docs"]
        out["fusion.py_run_s"] = per_round(ex, PY_RUN, "FlatMapGroupsInPandas")

    # streaming
    if "drain.rollup" in walls:
        prog = extra["_progress"]
        out["rollup_stream.drain_s"] = median(walls["drain.rollup"])
        (
            out["rollup_stream.batches"],
            out["rollup_stream.state_rows"],
            out["rollup_stream.commit_ms"],
        ) = _stream_stats(prog["rollup"])
        out["block_stream.drain_s"] = median(walls["drain.seal"])
        (
            out["block_stream.batches"],
            out["block_stream.state_rows"],
            out["block_stream.commit_ms"],
        ) = _stream_stats(prog["seal"])

    # Spark engine over everything the timed operations submitted
    timed = execs_under(lambda i: True)
    if full:
        under = set(full).union(*(tr.descendants(p) for p in full))
        in_commit = execs_under(lambda i: i in under)
        out["spark.jobs_per_commit"] = sum(len(e.jobs) for e in in_commit) / len(full)
    out["spark.sql_executions"] = len(timed) / rounds
    out["spark.tasks"] = sum(e.tasks for e in timed) / rounds
    out["spark.task_failures"] = sum(e.failed_tasks for e in timed) / rounds
    out["spark.shuffle_write_bytes"] = per_round(timed, SHUFFLE)
    out["spark.py_start_s"] = per_round(timed, PY_START)
    out["spark.py_init_s"] = per_round(timed, PY_INIT)
    out["spark.py_run_s"] = per_round(timed, PY_RUN)

    # the trace: the recorder's own time, and Spark work the spans miss
    out["trace.overhead_s"] = tr.bookkeeping_s / rounds
    lost = unattributed(exs, spans, h.check_windows)
    out["trace.unattributed_executions"] = len(lost)
    h.check(
        "spark_work_inside_spans",
        [f"execution {e.exec_id} ran outside every timed operation" for e in lost],
    )
    report = {
        "self_s_by_span": _self_by_name(spans, rounds),
        "executions": len(exs),
    }
    return out, report


def unattributed(exs, spans, check_windows, slack: float = 0.002) -> list:
    """SQL executions submitted between the first timed operation's start
    and the last one's end that fall in no span and in no output-check
    window: work that escaped the timed operations, for example a job a
    background thread submits after the call that started it returned."""
    roots = [s for s in spans if s.parent is None]
    lo, hi = min(s.start for s in roots), max(s.end for s in roots)
    return [
        e
        for e in exs
        if e.span is None
        and lo <= e.submitted <= hi
        and not any(a - slack <= e.submitted <= b + slack for a, b in check_windows)
    ]


def _self_by_name(spans, rounds) -> dict[str, float]:
    acc: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        acc[s.name] = acc.get(s.name, 0.0) + st / rounds
    return dict(sorted(acc.items(), key=lambda kv: -kv[1]))
