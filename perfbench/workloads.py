"""The benchmark's workloads. Each takes a Harness, runs set-up, timed
rounds and output checks, and returns {"result": <last line>, "full":
<report>}.

A round is the workload's fixed sequence of operations; rounds repeat
until --seconds have passed (at least one). Output checks run after the
first round, outside the timed operations.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.dataset as ds

from perfbench import gen, layers, reference
from perfbench.trace import median

FILES_PER_BATCH = 4
MAX_ROUNDS = 50
STAGES = ("1m", "5m", "1h", "blocks")

# ingest_trickle
TRICKLE_BATCHES = 2
TRICKLE_DOCS = 500
TRICKLE_LATE = 0.20
TWO_SIGNAL = 0.5  # share of docs with two signals (fusion inputs)
CRASH_BATCH = "b01"
CRASH_STAGE = "5m"
FUSE_DOCS = 50
GAPFILL_EVERY = 4  # gap-fill the series of docs whose index % 4 == 0
COMPACT_NOW = "2024-01-09 00:00:00"  # every block batch is past 7 days
RETENTION_NOW = "2024-02-05 00:00:00"  # past the 1m and blocks horizons

# stream_backlog
STREAM_DOCS = 500
STREAM_FILES = 8


@contextmanager
def timed_op(h, name: str, walls: dict):
    """Time one benchmark operation (a root span when tracing)."""
    h.op()
    t = time.perf_counter()
    if h.tracer is not None:
        with h.tracer.span(name, root=True):
            yield
    else:
        yield
    walls.setdefault(name, []).append(time.perf_counter() - t)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _manifest_bytes(pipe, stages=STAGES) -> int:
    total = 0
    for st in stages:
        live = pipe.store.live_batches(st)
        total += sum(m.n_bytes for m in pipe.store.manifests(st) if m.batch_id in live)
    return total


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _read_parquet_dir(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _write_batches(h, k: int, bs: gen.BatchSet) -> dict[str, str]:
    root = os.path.join(h.work, f"in{k}")
    paths = {}
    for bid, table in zip(bs.batch_ids, bs.rows):
        paths[bid] = os.path.join(root, bid)
        gen.write_table(table, paths[bid], FILES_PER_BATCH)
    return paths


def _check_tiers(h, pipe, ser) -> None:
    for tier in ("1m", "1h"):
        got = pipe.read_tier(h.spark, tier, merged=True).toPandas()
        ref = reference.tier_reference(ser, reference.TIER_SECONDS[tier])
        h.check(
            f"merged_{tier}_vs_reference",
            reference.compare_tier(got, ref, reference.TIER_COLS),
        )


def _finish(h, workload: str, e2e: dict, phases: dict, extra: dict, walls: dict):
    """Assemble the last-line result and the full report."""
    pss = h.peak_pss_gib()
    e2e["py_peak_pss_gib"] = pss["python"]
    phases["peak_pss_gib"] = pss["tree"]
    phases["jvm_peak_pss_gib"] = pss["jvm"]
    e2e.setdefault("setup_s", h.setup_s())
    units = layers.units()
    layer_report = {}
    if h.tracer is not None:
        metrics, layer_report = layers.per_layer(h, walls, phases, extra)
    else:
        metrics = {k: e2e[k] for k in layers.E2E_UNITS}
    phases["fail_frac"] = h.failed() / h.attempted()
    if "fail_frac" in metrics:
        metrics["fail_frac"] = phases["fail_frac"]
    result = {
        "correct": h.failed() == 0,
        "attempted": h.attempted(),
        "failed": h.failed(),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    full = {
        "workload": workload,
        "seed": h.seed,
        "trace": h.tracer is not None,
        "end_to_end": e2e,
        "phases": phases,
        "setups": h.setups,
        "setup_once": h.setup_once,
        "op_walls": walls,
        "spark_conf": h.conf(),
        "checks": {name: errs or "ok" for name, errs in h.checks},
        **layer_report,
        **{k: v for k, v in extra.items() if not k.startswith("_")},
    }
    return {"result": result, "full": full}


def _rounds(h, body) -> int:
    t0 = time.perf_counter()
    r = 0
    while True:
        body(r)
        r += 1
        if time.perf_counter() - t0 >= h.seconds or r >= MAX_ROUNDS:
            return r


# --------------------------------------------------------------------------
# ingest_trickle
# --------------------------------------------------------------------------


def ingest_trickle(h):
    from pyspark.sql import functions as F

    from fusets_spark.codec import blocks
    from fusets_spark.operators import fusion, whittaker
    from fusets_spark.plans.pipeline import RollupPipeline

    n_docs = h.n(TRICKLE_DOCS)

    def build(k):
        bs = gen.make_batches(
            TRICKLE_BATCHES,
            n_docs,
            h.seed,
            late_frac=TRICKLE_LATE,
            two_signal_frac=TWO_SIGNAL,
        )
        return bs, _write_batches(h, k, bs)

    bs, paths = h.setup(build)
    # one-time warm-up of the commit path, which doubles as the crash-free
    # reference commit of every batch
    crash_free = h.warm_commit(paths)
    spark = h.spark
    ser = bs.series
    n_points = ser.n_points()
    # fixed query subsets, chosen from the generator's doc indices
    # a two-signal doc d has series keys 2d and 2d + 1
    two = np.sort(ser.doc_idx[ser.key % 2 == 1])
    fuse_docs = [gen.doc_name(int(d)) for d in two[: h.n(FUSE_DOCS, 4)]]
    quarter = F.substring("doc_id", -2, 2).cast("int") % GAPFILL_EVERY == 0
    if h.tracer is not None:
        layers.install(h.tracer)
    walls: dict[str, list[float]] = {}
    commits: list[float] = []
    resumes: list[float] = []
    store_bpp: list[float] = []
    block_bpp: list[float] = []
    extra: dict = {"_compact": []}

    def one_round(r):
        pipe = RollupPipeline(os.path.join(h.work, f"store{r}"))
        orig = pipe.process_batch
        calls: list[tuple[str, float, bool]] = []

        def process_batch(tokens, batch_id, *a, **kw):
            t = time.perf_counter()
            ok = False
            try:
                out = orig(tokens, batch_id, *a, **kw)
                ok = True
                return out
            finally:
                calls.append((batch_id, time.perf_counter() - t, ok))

        pipe.process_batch = process_batch
        crashed = False
        with timed_op(h, "op.crash_run", walls):
            batches = {b: spark.read.parquet(p) for b, p in paths.items()}
            try:
                pipe.run(spark, batches, fail_at=(CRASH_BATCH, CRASH_STAGE))
            except RuntimeError as e:
                crashed = "simulated failure" in str(e)
        n_crash = len(calls)
        with timed_op(h, "op.resume_run", walls):
            pipe.run(spark, batches)
        # crash-free commits: the crash run's calls that completed; the
        # resume run finishes a partial commit and is reported apart
        commits.extend(w for _, w, ok in calls[:n_crash] if ok)
        resumes.append(calls[n_crash][1])

        # the read side, closed loop with one client, fixed order
        with timed_op(h, "query.read_merged", walls):
            _noop(pipe.read_tier(spark, "1m", merged=True))
        with timed_op(h, "query.decode", walls):
            _noop(blocks.decode_blocks(pipe.read_tier(spark, "blocks")))
        with timed_op(h, "query.gapfill", walls):
            sel = pipe.read_tier(spark, "blocks").filter(quarter)
            _noop(whittaker.whittaker_gapfill(blocks.decode_blocks(sel), grid_seconds=1))
        with timed_op(h, "query.fuse", walls):
            sel = pipe.read_tier(spark, "blocks").filter(F.col("doc_id").isin(fuse_docs))
            _noop(fusion.mogpr_fuse(blocks.decode_blocks(sel)))

        if r == 0:
            with h.checking():
                h.check(
                    "crash_then_resume",
                    []
                    if crashed and calls[n_crash][0] == CRASH_BATCH
                    else [f"crash run did not stop at {CRASH_BATCH}"],
                )
                h.check(
                    "all_batches_committed",
                    [
                        f"{st}: {sorted(pipe.store.committed(st))}"
                        for st in STAGES
                        if sorted(pipe.store.committed(st)) != bs.batch_ids
                    ],
                )
                _check_tiers(h, pipe, ser)
                got = blocks.decode_blocks(pipe.read_tier(spark, "blocks")).toPandas()
                h.check(
                    "decoded_points_vs_generated",
                    reference.compare_points(got, reference.points_reference(ser)),
                )
        store_bpp.append(_manifest_bytes(pipe) / n_points)
        block_bpp.append(_manifest_bytes(pipe, ("blocks",)) / n_points)
        blocks_in = sum(
            m.n_rows
            for m in pipe.store.manifests("blocks")
            if m.batch_id in pipe.store.live_batches("blocks")
        )

        with timed_op(h, "op.compact", walls):
            new_id = pipe.apply_compaction(spark, COMPACT_NOW)
        new_m = pipe.store.manifest("blocks", new_id) if new_id else None
        extra["_compact"].append((blocks_in, new_m.n_rows if new_m else 0))
        if r == 0:
            with h.checking():
                errs = [] if new_m else ["compaction rewrote nothing"]
                if new_m:
                    got = _read_parquet_dir(
                        os.path.join(pipe.store.tier_path("blocks"), f"batch={new_id}")
                    )
                    errs += reference.compare_block_counts(
                        got, reference.block_counts_reference(ser, 86400)
                    )
                    if blocks_in <= new_m.n_rows:
                        errs.append("compaction merged no blocks")
                h.check("compaction_vs_reference", errs)

        with timed_op(h, "op.retention", walls):
            pipe.apply_retention(RETENTION_NOW)
        if r == 0:
            with h.checking():
                live = {st: sorted(pipe.store.live_batches(st)) for st in STAGES}
                want = {"1m": [], "5m": bs.batch_ids, "1h": bs.batch_ids, "blocks": []}
                h.check(
                    "retention_live_sets",
                    [f"{st}: {live[st]}" for st in STAGES if live[st] != want[st]],
                )
                _check_crash_free_manifests(h, pipe, crash_free, bs.batch_ids)

    rounds = _rounds(h, one_round)
    ingest_walls = [
        a + b for a, b in zip(walls["op.crash_run"], walls["op.resume_run"])
    ]
    round_walls = [sum(w[r] for w in walls.values()) for r in range(rounds)]
    e2e = {
        "round_s": median(round_walls),
        "ingest_points_per_s": n_points / median(ingest_walls),
        "store_bytes_per_point": median(store_bpp),
    }
    phases = {
        "commit_p50_s": median(commits),
        "ingest_seq_per_s": bs.n_rows() / median(ingest_walls),
        "resume_s": median(resumes),
        "read_merged_p50_s": median(walls["query.read_merged"]),
        "decode_p50_s": median(walls["query.decode"]),
        "gapfill_p50_s": median(walls["query.gapfill"]),
        "fuse_p50_s": median(walls["query.fuse"]),
        "compact_s": median(walls["op.compact"]),
    }
    extra.update(
        rounds=rounds,
        input_rows=bs.n_rows(),
        input_points=n_points,
        series=len(ser),
        commits_per_round=len(commits) // rounds,
        gapfill_series=int((ser.doc_idx % GAPFILL_EVERY == 0).sum()),
        fuse_docs=len(fuse_docs),
        _n_points=n_points,
        _block_bytes=median(block_bpp) * n_points,
    )
    return _finish(h, "ingest_trickle", e2e, phases, extra, walls)


def _check_crash_free_manifests(h, pipe, crash_free, batch_ids) -> None:
    """After the crash and resume, every batch's manifests (row counts +
    content hashes) equal those of a crash-free commit of the same batches.
    Manifests keep their hashes after retention and compaction, so the
    comparison can run last."""
    errs = []
    for st in STAGES:
        for bid in batch_ids:
            a = pipe.store.manifest(st, bid)
            b = crash_free.store.manifest(st, bid)
            if a is None or (a.n_rows, a.content_hash) != (b.n_rows, b.content_hash):
                errs.append(f"{st}/{bid}: resumed manifest differs from crash-free")
    h.check("resume_manifests_vs_crash_free", errs)


# --------------------------------------------------------------------------
# stream_backlog
# --------------------------------------------------------------------------


def stream_backlog(h):
    from pyspark.sql import functions as F

    from fusets_spark.streaming import block_stream, rollup_stream

    n_docs = h.n(STREAM_DOCS)

    def build(k):
        ser = gen.make_series(np.arange(n_docs), h.seed)
        path = os.path.join(h.work, f"backlog{k}")
        gen.write_backlog(ser, path, STREAM_FILES)
        return ser, path

    ser, backlog = h.setup(build)
    spark = h.spark
    if h.tracer is not None:
        layers.install(h.tracer)
    listener = layers.ProgressListener(spark) if h.tracer is not None else None
    seen_queries: set[str] = set()
    walls: dict[str, list[float]] = {}
    progress: dict[str, list] = {"rollup": [], "seal": []}
    out_bytes: list[float] = []

    def one_round(r):
        out = os.path.join(h.work, f"rollup{r}")
        with timed_op(h, "drain.rollup", walls):
            q = rollup_stream.start_file_stream_rollup(
                spark, backlog, out, os.path.join(h.work, f"ckpt{r}")
            )
            q.awaitTermination()
        seen_queries.add(str(q.id))
        progress["rollup"].append([layers.progress_dict(p) for p in q.recentProgress])
        seal_dir = os.path.join(h.work, f"seal{r}")
        with timed_op(h, "drain.seal", walls):
            pts = spark.read.parquet(backlog).filter(
                F.col("source") != gen.SENTINEL_SOURCE
            )
            block_stream.seal_all_with_sentinels(
                spark, pts, seal_dir, sink="parquet"
            )
        if listener is not None:
            progress["seal"].append(listener.take_terminated(seen_queries))
        out_bytes.append(
            _tree_bytes(out) + _tree_bytes(os.path.join(seal_dir, "blocks"))
        )
        if r == 0:
            with h.checking():
                got = _read_parquet_dir(out)
                got = got[got["source"] != gen.SENTINEL_SOURCE]
                cols = [c for c in reference.TIER_COLS if not c.endswith("_pos")]
                h.check(
                    "stream_1m_vs_reference",
                    reference.compare_tier(got, reference.tier_reference(ser, 60), cols),
                )
                sealed = _read_parquet_dir(os.path.join(seal_dir, "blocks"))
                # the seal's own sentinels use the same default source name
                sealed = sealed[sealed["source"] != gen.SENTINEL_SOURCE]
                h.check(
                    "sealed_blocks_vs_reference",
                    reference.compare_block_counts(
                        sealed, reference.block_counts_reference(ser, 3600)
                    ),
                )

    rounds = _rounds(h, one_round)
    if listener is not None:
        listener.close()
    n_points = ser.n_points()
    round_walls = [
        a + b for a, b in zip(walls["drain.rollup"], walls["drain.seal"])
    ]
    e2e = {
        "round_s": median(round_walls),
        "ingest_points_per_s": n_points / median(round_walls),
        "store_bytes_per_point": median(out_bytes) / n_points,
    }
    phases = {
        "stream_rollup_drain_s": median(walls["drain.rollup"]),
        "stream_seal_drain_s": median(walls["drain.seal"]),
    }
    extra = {
        "rounds": rounds,
        "input_points": n_points,
        "series": len(ser),
        "_n_points": n_points,
        "_progress": progress,
        "_block_bytes": _tree_bytes(os.path.join(h.work, "seal0", "blocks")),
    }
    return _finish(h, "stream_backlog", e2e, phases, extra, walls)


WORKLOADS = {
    "ingest_trickle": ingest_trickle,
    "stream_backlog": stream_backlog,
}
