"""Kill-and-resume: after a simulated failure mid-commit, resuming must
produce content identical to an uninterrupted run (manifest hashes + full
row content per tier + blocks), per the north rule."""

from __future__ import annotations

import re
import shutil

import pandas as pd
import pytest

from fusets_spark.datagen import generate_tokens
from fusets_spark.plans.pipeline import STAGES, RollupPipeline


def _stage_one(store, df, tier, batch_id):
    """Stage `df` as batch `batch_id` of `tier`, ready for write_batch."""
    from pyspark.sql import functions as F

    from fusets_spark.plans.lineage import stage_batches

    staging = store.stage_path(batch_id)
    shutil.rmtree(staging, ignore_errors=True)
    return stage_batches(
        df.withColumn("_stage", F.lit(tier)), staging, "_stage", [tier]
    )[tier]


def _execution_ids(spark) -> set[int]:
    """Ids of the SQL executions in the status store, once every event
    posted so far has reached it. New executions are told apart by id: the
    store's count stops growing at spark.sql.ui.retainedExecutions, which a
    whole test session passes."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().executionId())
    return ids


def _files_per_dir(store) -> dict[str, int]:
    """Parquet files per committed batch=/source= directory."""
    import os

    out = {}
    for d, _, files in os.walk(os.path.join(store.root, "tiers")):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(d, store.root)] = n
    return out


def _batches(spark):
    return {
        f"b{str(i).zfill(3)}": generate_tokens(
            spark, 60, seed=100 + i, min_tok=32, max_tok=200
        )
        for i in range(3)
    }


@pytest.fixture()
def batches(spark):
    return _batches(spark)


@pytest.fixture(scope="module")
def clean_pipe(spark, tmp_path_factory):
    """One crash-free run, the reference for every crash stage."""
    pipe = RollupPipeline(str(tmp_path_factory.mktemp("clean")))
    pipe.run(spark, _batches(spark))
    return pipe


def _content(spark, pipe, stage, merged=False):
    df = pipe.read_tier(spark, stage, merged=merged).toPandas()
    if "block" in df.columns:
        df["block"] = df["block"].map(bytes)
    return df.sort_values(
        [c for c in df.columns if c != "block"]
    ).reset_index(drop=True)


@pytest.mark.parametrize("stage", STAGES)
def test_kill_and_resume_identical(spark, batches, clean_pipe, stage, tmp_path):
    """A crash after any stage's data+manifest write (watermark not yet
    advanced) resumes to the crash-free content. Crashing after 'blocks'
    leaves exactly one stage pending."""
    import os

    crash_root = str(tmp_path / "crash")
    crash = RollupPipeline(crash_root)
    with pytest.raises(RuntimeError, match="simulated failure"):
        crash.run(spark, batches, fail_at=("b001", stage))
    # b000 fully committed; b001 committed up to the stage before the crash
    crashed_at = STAGES.index(stage)
    for i, s in enumerate(STAGES):
        assert crash.store.watermark(s) == ("b001" if i < crashed_at else "b000")
    staging = os.path.join(crash_root, "_staging")
    assert os.listdir(staging) == ["b001"]
    # resume
    crash.run(spark, batches)
    assert os.listdir(staging) == []

    for s in STAGES:
        assert crash.store.watermark(s) == "b002"
        cm = {m.batch_id: m for m in clean_pipe.store.manifests(s)}
        xm = {m.batch_id: m for m in crash.store.manifests(s)}
        assert cm.keys() == xm.keys()
        for b in cm:
            assert cm[b].content_hash == xm[b].content_hash, (s, b)
            assert cm[b].n_rows == xm[b].n_rows
        a = _content(spark, clean_pipe, s)
        b = _content(spark, crash, s)
        pd.testing.assert_frame_equal(a, b)

    shutil.rmtree(crash_root)


def test_empty_batches_commit(spark, tmp_path):
    """A batch with no points (every token missing, or no rows at all)
    commits every stage with a zero-row manifest, and later batches read
    exactly as in a store that never saw it."""
    from pyspark.sql import functions as F

    from fusets_spark.plans.lineage import content_hash

    toks = generate_tokens(spark, 12, seed=5, min_tok=32, max_tok=128)
    batches = {
        "b0-missing": toks.withColumn(
            "tokens", F.expr("transform(tokens, t -> -1)")
        ),
        "b1-norows": toks.limit(0),
        "b2": toks,
    }
    pipe = RollupPipeline(str(tmp_path / "with_empty"))
    pipe.run(spark, batches)
    ref = RollupPipeline(str(tmp_path / "ref"))
    ref.run(spark, {"b2": toks})

    for stage in STAGES:
        assert pipe.store.committed(stage) == set(batches)
        _, empty_hash = content_hash(ref.read_tier(spark, stage).filter("false"))
        for bid in ("b0-missing", "b1-norows"):
            m = pipe.store.manifest(stage, bid)
            assert (m.n_rows, m.content_hash, m.n_bytes, m.min_ts, m.max_ts) \
                == (0, empty_hash, 0, "", ""), (stage, bid)
        pd.testing.assert_frame_equal(
            _content(spark, pipe, stage, merged=True),
            _content(spark, ref, stage, merged=True),
        )


def test_partition_pruning_on_source(spark, batches, tmp_path):
    """Tier storage is partitioned by (batch, source): a source filter must
    prune partitions at scan time, and manifests carry byte counts."""
    root = str(tmp_path / "prune")
    pipe = RollupPipeline(root)
    before = _execution_ids(spark)
    pipe.run(spark, dict(list(batches.items())[:1]))
    # a commit is one staged write: one SQL execution, and one file per
    # (stage, source) directory of the batch
    assert len(_execution_ids(spark) - before) == 1
    files = _files_per_dir(pipe.store)
    assert files and set(files.values()) == {1}, files
    df = pipe.read_tier(spark, "1m").filter("source = 's2ndvi'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both the user's source filter AND the snapshot read's live-batch
    # filter must reach PartitionFilters (scan-time pruning, no data read)
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m, plan
    assert "isnotnull(source" in m.group(0)
    assert "batch" in m.group(0)
    for m in pipe.store.manifests("1m"):
        assert m.n_bytes > 0
    shutil.rmtree(root)


def test_rerun_is_idempotent(spark, batches, tmp_path):
    import os

    root = str(tmp_path / "idem")
    pipe = RollupPipeline(root)
    pipe.run(spark, batches)
    before = {
        s: {m.batch_id: m.content_hash for m in pipe.store.manifests(s)}
        for s in STAGES
    }
    # force FULL reprocessing by dropping every watermark (commit state),
    # leaving data + manifests in place
    for s in STAGES:
        os.remove(pipe.store._wm_path(s))
    pipe.run(spark, batches)
    after = {
        s: {m.batch_id: m.content_hash for m in pipe.store.manifests(s)}
        for s in STAGES
    }
    assert before == after
    shutil.rmtree(root)


def test_resume_with_non_padded_batch_ids(spark, tmp_path):
    """Commit state is a SET of batch ids, not a string-ordered watermark:
    lexicographically 'batch-10' < 'batch-9', so ordering-based resume
    would silently SKIP batch-10 after committing batch-9."""
    root = str(tmp_path / "pad")
    b9 = generate_tokens(spark, 20, seed=9, min_tok=32, max_tok=64)
    b10 = generate_tokens(spark, 20, seed=10, min_tok=32, max_tok=64)
    pipe = RollupPipeline(root)
    pipe.run(spark, {"batch-9": b9})
    assert pipe.store.is_committed("1m", "batch-9")
    assert not pipe.store.is_committed("1m", "batch-10")
    pipe.run(spark, {"batch-9": b9, "batch-10": b10})
    for s in STAGES:
        got = {m.batch_id for m in pipe.store.manifests(s)}
        assert got == {"batch-9", "batch-10"}, (s, got)
    shutil.rmtree(root)


def test_read_tier_numeric_looking_batch_id(spark, tmp_path):
    """A numeric-looking batch id like '0123' must survive read_tier:
    partition-column type inference would coerce it to int 123 and the
    string isin() filter would silently drop every row (read_tier reads
    with the declared schema, so `batch` is never inferred)."""
    root = str(tmp_path / "numeric")
    toks = generate_tokens(spark, 20, seed=3, min_tok=32, max_tok=64)
    pipe = RollupPipeline(root)
    pipe.run(spark, {"0123": toks})
    got = pipe.read_tier(spark, "1m")
    assert got.count() > 0
    assert dict(got.dtypes)["batch"] == "string"
    assert {r["batch"] for r in got.select("batch").distinct().collect()} \
        == {"0123"}
    shutil.rmtree(root)


def test_retention_drops_old_batches_keeps_lineage(spark, tmp_path):
    """Retention drops partitions whose newest bucket_ts is past the tier
    horizon, flags their manifests expired (lineage preserved), leaves
    watermarks/commit state intact, and is idempotent. Tiers with a None
    horizon keep everything."""
    import json
    import os

    from pyspark.sql import functions as F

    from fusets_spark.operators.rollup import rollup_from_raw
    from fusets_spark.operators.explode import explode_raw
    from fusets_spark.plans.lineage import TierStore

    store = TierStore(str(tmp_path / "ret"))
    pts = explode_raw(generate_tokens(spark, 10, seed=3, min_tok=32, max_tok=64))
    for k, batch_id in enumerate(["b0", "b1", "b2"]):
        tier = rollup_from_raw(
            pts.withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {k * 10} DAYS")
            ),
            "1m",
        )
        for stage in ("1m", "1h"):
            store.write_batches(
                tier.withColumn("_batch", F.lit(batch_id)), stage, "_batch", "cfg"
            )
            store.commit_watermark(stage, batch_id)

    # batches are 0/10/20 days old relative to b2; 5-day horizon drops b0+b1
    m2 = store.manifest("1m", "b2")
    now = m2.max_ts  # newest data's timestamp
    dropped = store.apply_retention({"1m": 5 * 86400.0, "1h": None}, now)
    assert dropped == {"1m": ["b0", "b1"]}
    # partitions gone, manifests expired, commit state intact
    for b in ("b0", "b1"):
        assert not os.path.isdir(
            os.path.join(store.tier_path("1m"), f"batch={b}")
        )
        assert store.manifest("1m", b).expired
        assert store.is_committed("1m", b)
    assert os.path.isdir(os.path.join(store.tier_path("1m"), "batch=b2"))
    # 1h tier (None horizon) untouched
    assert not store.manifest("1h", "b0").expired
    # reads see only surviving data
    got = spark.read.parquet(store.tier_path("1m"))
    assert got.select("batch").distinct().toPandas()["batch"].tolist() == ["b2"]
    # idempotent
    assert store.apply_retention({"1m": 5 * 86400.0}, now) == {}


def test_late_data_merged_read_exact(spark, tmp_path):
    """Late data end-to-end: the same doc's points arrive split across two
    batches (masked halves of its token array). The merged tier read must
    equal the single-pass rollup of the combined points EXACTLY — including
    first/last, which merge by the stored order keys."""
    from pyspark.sql import functions as F

    from fusets_spark.operators.explode import explode_raw
    from fusets_spark.operators.rollup import rollup_from_raw

    toks = generate_tokens(spark, 12, seed=33, min_tok=64, max_tok=200)
    even = toks.withColumn(
        "tokens",
        F.expr("transform(tokens, (t, i) -> CASE WHEN i % 2 = 0 THEN t ELSE -1 END)"),
    )
    odd = toks.withColumn(
        "tokens",
        F.expr("transform(tokens, (t, i) -> CASE WHEN i % 2 = 1 THEN t ELSE -1 END)"),
    )
    pipe = RollupPipeline(str(tmp_path / "late"))
    pipe.run(spark, {"b-even": even, "b-odd": odd})

    key = ["source", "doc_id", "bucket_ts"]
    merged = pipe.read_tier(spark, "1m", merged=True).toPandas()
    direct = rollup_from_raw(
        explode_raw(toks), "1m", with_order_keys=True
    ).toPandas()
    cols = sorted(direct.columns)
    merged = merged[cols].sort_values(key).reset_index(drop=True)
    direct = direct[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, direct, check_dtype=False)
    # the unmerged read genuinely contains cross-batch partials
    raw = pipe.read_tier(spark, "1m").groupBy(*key).count()
    assert raw.filter("count > 1").count() > 0


def test_block_batch_compaction_lifecycle(spark, tmp_path):
    """Compacting two aged fine-block batches into one daily batch must
    preserve every decoded point exactly, keep lineage (superseded
    manifests), drop the old partitions, and finish idempotently after a
    crash between commit and cleanup."""
    from fusets_spark.codec.blocks import decode_blocks
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.plans.pipeline import RollupPipeline

    pipe = RollupPipeline(str(tmp_path / "store"), block_seconds=60)
    t1 = generate_tokens(spark, 25, seed=1, min_tok=32, max_tok=200)
    t2 = generate_tokens(spark, 25, seed=2, min_tok=32, max_tok=200)
    pipe.process_batch(t1, "b1")
    pipe.process_batch(t2, "b2")

    # value in the sort key: the two batches hold tied timestamps for the
    # same doc_ids with different values, and the comparison is a point
    # MULTISET check — tied-ts order is canonicalized by (ts, value) during
    # compaction, not by batch order
    before = (
        decode_blocks(
            spark.read.parquet(pipe.store.tier_path("blocks")).drop("batch")
        )
        .toPandas()
        .sort_values(["source", "doc_id", "ts", "value"])
        .reset_index(drop=True)
    )

    pipe.compact_block_batches(spark, ["b1", "b2"], "compact-1", 3600)

    tier = spark.read.parquet(pipe.store.tier_path("blocks"))
    batches = {r.batch for r in tier.select("batch").distinct().collect()}
    assert batches == {"compact-1"}
    after = (
        decode_blocks(tier.drop("batch"))
        .toPandas()
        .sort_values(["source", "doc_id", "ts", "value"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after, check_dtype=False)

    # lineage: old manifests stay, flagged; committed set untouched
    for bid in ("b1", "b2"):
        m = pipe.store.manifest("blocks", bid)
        assert m is not None and m.superseded_by == "compact-1"
        assert pipe.store.is_committed("blocks", bid)
    assert pipe.store.is_committed("blocks", "compact-1")

    # idempotent re-run (the crashed-between-commit-and-cleanup path)
    pipe.compact_block_batches(spark, ["b1", "b2"], "compact-1", 3600)
    assert spark.read.parquet(pipe.store.tier_path("blocks")).count() == len(
        tier.collect()
    )


def test_compact_blocks_deterministic_on_overlap(spark):
    """Compacted bytes must be a pure function of the point MULTISET:
    feeding the same overlapping-batch blocks in either batch order (the
    late-data scenario where two batches hold blocks for the same
    (doc_id, bucket_ts), including tied timestamps) yields byte-identical
    compacted blocks with true min/max ts."""
    from fusets_spark.codec.blocks import compact_blocks, encode_blocks
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.operators.explode import explode_raw

    b1 = encode_blocks(
        explode_raw(generate_tokens(spark, 10, seed=1, min_tok=32, max_tok=64)),
        block_seconds=60,
    )
    b2 = encode_blocks(
        explode_raw(generate_tokens(spark, 10, seed=2, min_tok=32, max_tok=64)),
        block_seconds=60,
    )

    def bag(df):
        pdf = compact_blocks(df, 3600).toPandas()
        return sorted(
            (r.source, r.doc_id, r.bucket_ts, r.min_ts, r.max_ts,
             bytes(r.block))
            for r in pdf.itertuples()
        )

    a = bag(b1.unionByName(b2))
    b = bag(b2.unionByName(b1))
    assert a == b
    for _, _, bucket, lo, hi, _blk in a:
        assert bucket <= lo <= hi


def test_pipeline_cli_main(spark, tmp_path):
    """The spark-submit entrypoint: per-batch parquet subdirs in, tier
    store out, committed-set resume (second invocation is a no-op), and
    optional retention."""
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.plans import pipeline
    from fusets_spark.plans.lineage import TierStore

    root = tmp_path / "batches"
    for i in range(2):
        generate_tokens(
            spark, 20, seed=i, min_tok=32, max_tok=64
        ).write.mode("overwrite").parquet(str(root / f"batch-{i}"))
    store = str(tmp_path / "store")
    pipeline.main([str(root), store,
                   "--retention-now", "2024-03-01 00:00:00"])
    st = TierStore(store)
    for stage in pipeline.STAGES:
        assert st.committed(stage) == {"batch-0", "batch-1"}
    # blocks + 1m are past the default horizons at that `now`; lineage kept
    for bid in ("batch-0", "batch-1"):
        m = st.manifest("blocks", bid)
        assert m is not None and m.expired
    # resume: no-op (watermark set already covers everything)
    pipeline.main([str(root), store])
    assert st.committed("1h") == {"batch-0", "batch-1"}

    # policy compaction via the CLI on a second store (retention would
    # have dropped the aged blocks in the first one): both input batches
    # age past 7 days and collapse into one live compacted batch
    store2 = str(tmp_path / "store2")
    pipeline.main([str(root), store2, "--compact-now", "2024-02-01 00:00:00"])
    st2 = TierStore(store2)
    live = st2.live_batches("blocks")
    assert len(live) == 1 and next(iter(live)).startswith("compact-")
    # second invocation: resume no-op AND compaction no-op (its own output
    # is recognized and skipped)
    pipeline.main([str(root), store2, "--compact-now", "2024-02-01 00:00:00"])
    assert st2.live_batches("blocks") == live

def test_snapshot_read_consistency(spark, tmp_path):
    """read_tier must be SNAPSHOT-CONSISTENT from lineage metadata alone:
    (1) an uncommitted crashed batch partition on disk is invisible;
    (2) in the crash window between a compaction rewrite's commit and its
        source-partition drops, readers see the rewrite OR the sources —
        never both (the supersedes list retires sources atomically with
        the commit);
    (3) as_of_batches time-travels to an earlier committed view."""
    from fusets_spark.codec.blocks import decode_blocks
    from fusets_spark.datagen import generate_tokens
    from fusets_spark.plans.pipeline import RollupPipeline

    pipe = RollupPipeline(str(tmp_path / "store"), block_seconds=60)
    t1 = generate_tokens(spark, 20, seed=1, min_tok=32, max_tok=128)
    t2 = generate_tokens(spark, 20, seed=2, min_tok=32, max_tok=128)
    pipe.process_batch(t1, "b1")
    pipe.process_batch(t2, "b2")

    def bag(df):
        return (
            df.toPandas()
            .sort_values(["source", "doc_id", "ts", "value"])
            .reset_index(drop=True)
        )

    committed_view = bag(decode_blocks(pipe.read_tier(spark, "blocks")))

    # (1) crashed write: partition lands on disk, no manifest/commit
    t3 = generate_tokens(spark, 10, seed=3, min_tok=32, max_tok=128)
    from pyspark.sql import functions as F

    from fusets_spark.codec.blocks import encode_blocks
    from fusets_spark.operators.explode import explode_raw

    staged = encode_blocks(explode_raw(t3), block_seconds=60)

    staged.withColumn("batch", F.lit("crashed")).write.mode(
        "append"
    ).partitionBy("batch", "source").parquet(pipe.store.tier_path("blocks"))
    on_disk = {
        r.batch
        for r in spark.read.parquet(pipe.store.tier_path("blocks"))
        .select("batch").distinct().collect()
    }
    assert "crashed" in on_disk  # raw listing DOES see it...
    after_crash = bag(decode_blocks(pipe.read_tier(spark, "blocks")))
    pd.testing.assert_frame_equal(committed_view, after_crash)  # ...reader doesn't

    # (2) compaction crash window: commit the rewrite but "crash" before
    # the source drops (stage, then call write_batch + watermark directly)
    src = (
        spark.read.parquet(pipe.store.tier_path("blocks"))
        .filter(F.col("batch").isin(["b1", "b2"]))
        .drop("batch")
    )
    from fusets_spark.codec.blocks import compact_blocks

    staged = _stage_one(
        pipe.store, compact_blocks(src, 3600), "blocks", "compact-1"
    )
    pipe.store.write_batch(
        staged, "blocks", "compact-1", pipe.cfg_hash, supersedes=["b1", "b2"]
    )
    pipe.store.commit_watermark("blocks", "compact-1")
    # both source trees still on disk alongside the rewrite
    on_disk = {
        r.batch
        for r in spark.read.parquet(pipe.store.tier_path("blocks"))
        .select("batch").distinct().collect()
    }
    assert {"b1", "b2", "compact-1"} <= on_disk
    assert pipe.store.live_batches("blocks") == {"compact-1"}
    window_view = bag(decode_blocks(pipe.read_tier(spark, "blocks")))
    pd.testing.assert_frame_equal(committed_view, window_view)  # no dupes

    # (3) time travel: the pre-compaction view is still addressable
    old_view = bag(
        decode_blocks(
            pipe.read_tier(spark, "blocks", as_of_batches={"b1", "b2"})
        )
    )
    pd.testing.assert_frame_equal(committed_view, old_view)

    # finishing the interrupted compaction converges disk to the live set
    pipe.compact_block_batches(spark, ["b1", "b2"], "compact-1", 3600)
    on_disk = {
        r.batch
        for r in spark.read.parquet(pipe.store.tier_path("blocks"))
        .select("batch").distinct().collect()
    }
    assert on_disk == {"compact-1", "crashed"}  # crashed junk still inert

def test_policy_driven_compaction(spark, tmp_path):
    """apply_compaction selects aged live block batches from manifests
    alone, rewrites them into one deterministic coarse batch, skips its
    own output on re-run (config-hash recognition => the policy is a
    no-op on a quiet store), and leaves young batches untouched."""
    from pyspark.sql import functions as F

    from fusets_spark.codec.blocks import decode_blocks
    from fusets_spark.plans.pipeline import RollupPipeline

    pipe = RollupPipeline(str(tmp_path / "store"), block_seconds=60)
    old1 = generate_tokens(spark, 15, seed=1, min_tok=32, max_tok=128)
    old2 = generate_tokens(spark, 15, seed=2, min_tok=32, max_tok=128)
    young = generate_tokens(spark, 10, seed=3, min_tok=32, max_tok=128).withColumn(
        "tokens", F.col("tokens")
    )
    pipe.process_batch(old1, "b-old1")
    pipe.process_batch(old2, "b-old2")

    def bag(df):
        return (
            df.toPandas()
            .sort_values(["source", "doc_id", "ts", "value"])
            .reset_index(drop=True)
        )

    before = bag(decode_blocks(pipe.read_tier(spark, "blocks")))

    # datagen data starts at t0=2024-01-01; 30 days later everything ages out
    new_id = pipe.apply_compaction(
        spark, "2024-02-01 00:00:00", age_seconds=7 * 86400.0,
        target_seconds=3600,
    )
    assert new_id is not None and new_id.startswith("compact-")
    assert pipe.store.live_batches("blocks") == {new_id}
    after = bag(decode_blocks(pipe.read_tier(spark, "blocks")))
    pd.testing.assert_frame_equal(before, after, check_dtype=False)

    # re-running the policy is a no-op: the compacted batch is recognized
    # by its compaction config hash and skipped
    assert pipe.apply_compaction(
        spark, "2024-02-01 00:00:00", age_seconds=7 * 86400.0,
        target_seconds=3600,
    ) is None

    # a recent batch stays un-compacted under the age filter
    pipe.process_batch(young, "b-young")
    m = pipe.store.manifest("blocks", "b-young")
    assert pipe.apply_compaction(
        spark, m.max_ts, age_seconds=7 * 86400.0, target_seconds=3600
    ) is None
    assert "b-young" in pipe.store.live_batches("blocks")


def test_write_batches_equals_write_batch_loop(spark, tmp_path):
    """write_batches (one staged write, stats observed per batch id) must
    be protocol-equivalent to a loop staging and committing each batch on
    its own: same batch partitions, same read-back rows, and identical
    manifest count/hash/lo/hi per batch (the order-insensitive stats make
    the per-batch conditional folds exact)."""
    from pyspark.sql import functions as F

    from fusets_spark.operators.explode import explode_raw
    from fusets_spark.operators.rollup import rollup_from_raw
    from fusets_spark.plans.lineage import TierStore

    pts = explode_raw(generate_tokens(spark, 8, seed=5, min_tok=32, max_tok=64))
    tier = rollup_from_raw(pts, "1m").withColumn(
        "_batch", F.format_string("g%d", F.pmod(F.xxhash64("doc_id"), F.lit(3)))
    )

    loop_store = TierStore(str(tmp_path / "loop"))
    bids = sorted(
        r["_batch"] for r in tier.select("_batch").distinct().collect()
    )
    loop_mans = {}
    for bid in bids:
        staged = _stage_one(
            loop_store, tier.filter(F.col("_batch") == bid).drop("_batch"),
            "1m", bid,
        )
        loop_mans[bid] = loop_store.write_batch(staged, "1m", bid, "cfg")
        loop_store.commit_watermark("1m", bid)

    bat_store = TierStore(str(tmp_path / "batched"))
    bat_mans = bat_store.write_batches(tier, "1m", "_batch", "cfg")
    for bid in sorted(bat_mans):
        bat_store.commit_watermark("1m", bid)

    assert sorted(bat_mans) == bids
    for bid in bids:
        a, b = loop_mans[bid], bat_mans[bid]
        assert (a.n_rows, a.content_hash, a.min_ts, a.max_ts) == (
            b.n_rows, b.content_hash, b.min_ts, b.max_ts
        ), bid
    cols = [c for c in tier.columns if c != "_batch"]
    got_a = (
        spark.read.parquet(loop_store.tier_path("1m"))
        .orderBy("batch", "source", "doc_id", "bucket_ts")
        .toPandas()
    )
    got_b = (
        spark.read.parquet(bat_store.tier_path("1m"))
        .orderBy("batch", "source", "doc_id", "bucket_ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got_a[["batch"] + cols].reset_index(drop=True),
        got_b[["batch"] + cols].reset_index(drop=True),
    )


def test_read_tier_empty_live_set(spark, tmp_path):
    """A stage with no live rows — a store that committed only zero-row
    batches, or nothing at all — reads as an empty frame with the declared
    column names, order and dtypes instead of failing schema inference."""
    from pyspark.sql import functions as F

    toks = generate_tokens(spark, 12, seed=5, min_tok=32, max_tok=128)
    empty = RollupPipeline(str(tmp_path / "empty"))
    missing = toks.withColumn("tokens", F.expr("transform(tokens, t -> -1)"))
    empty.run(spark, {"b0": missing})
    fresh = RollupPipeline(str(tmp_path / "fresh"))
    ref = RollupPipeline(str(tmp_path / "ref"))
    ref.run(spark, {"b1": toks})
    for stage in STAGES:
        assert empty.store.live_batches(stage) == {"b0"}
        for merged in (False, True):
            want = ref.read_tier(spark, stage, merged=merged).dtypes
            for pipe in (empty, fresh):
                got = pipe.read_tier(spark, stage, merged=merged)
                assert got.dtypes == want, (stage, merged)
                assert got.count() == 0


@pytest.mark.parametrize("advisory", [None, "4k"], ids=["default", "4k"])
def test_observed_manifests_match_committed_files(
    spark, batches, tmp_path, advisory
):
    """Manifest stats are observed on the staged write, never read back.
    Recomputing _manifest_stats from every committed partition's files
    (read with the declared schema) must give the manifest's row count,
    content hash and bucket_ts range, and n_bytes must be the partition's
    bytes on disk — across a crash + resume, a compaction and a
    write_batches commit. At a 4k advisory partition size adaptive
    execution splits an oversized (stage, source) directory over several
    files, which a plain repartition by (stage, source) never does."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from fusets_spark.plans.lineage import TierStore, _manifest_stats
    from fusets_spark.plans.pipeline import STAGE_SCHEMAS

    advisory_conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    pipe = RollupPipeline(str(tmp_path / "store"))
    if advisory:
        spark.conf.set(advisory_conf, advisory)
    try:
        with pytest.raises(RuntimeError, match="simulated failure"):
            pipe.run(spark, batches, fail_at=("b001", "5m"))
        pipe.run(spark, batches)
        new_id = "compact-b000-b001"
        pipe.compact_block_batches(spark, ["b000", "b001"], new_id, 86400)
        by_minute = (
            pipe.read_tier(spark, "1m")
            .drop("batch")
            .withColumn("_batch", F.format_string("m%d", F.minute("bucket_ts")))
        )
        minute_mans = pipe.store.write_batches(
            by_minute, "by_minute", "_batch", "cfg"
        )
    finally:
        spark.conf.unset(advisory_conf)
    assert len(minute_mans) > 1
    if advisory:
        assert max(_files_per_dir(pipe.store).values()) > 1

    schemas = {
        s: spark.createDataFrame([], STAGE_SCHEMAS[s]).schema for s in STAGES
    }
    schemas["by_minute"] = StructType(
        [f for f in by_minute.schema if f.name != "_batch"]
    )
    checked = 0
    for tier, schema in schemas.items():
        for m in pipe.store.manifests(tier):
            part = pipe.store.batch_path(tier, m.batch_id)
            if not os.path.isdir(part):
                # compaction dropped it, or a zero-row batch has no files
                assert m.superseded_by or m.n_bytes == 0, (tier, m.batch_id)
                continue
            assert m.n_bytes == TierStore._tree_bytes(part), (tier, m.batch_id)
            back = (
                spark.read.schema(
                    StructType([*schema, StructField("batch", StringType())])
                )
                .option("basePath", pipe.store.tier_path(tier))
                .parquet(part)
                .select(*schema.names)
            )
            assert _manifest_stats(back) == (
                m.n_rows, m.content_hash, m.min_ts, m.max_ts
            ), (tier, m.batch_id)
            checked += 1
    # 3 batches x 3 tiers, b002 + the compacted blocks batch, per-minute ones
    assert checked == 9 + 2 + len(minute_mans)
    assert os.listdir(os.path.join(pipe.store.root, "_staging")) == []


def test_stale_uncommitted_partition_replaced(spark, batches, clean_pipe, tmp_path):
    """A crash leaves an uncommitted batch partition (renamed in, manifest
    written, watermark not) and a half-committed staging dir. Junk planted
    in both must not survive the resume: the partition is replaced, not
    merged into, and staging is re-written from scratch."""
    import glob
    import os

    root = str(tmp_path / "stale")
    crash = RollupPipeline(root)
    with pytest.raises(RuntimeError, match="simulated failure"):
        crash.run(spark, batches, fail_at=("b001", "5m"))
    part = crash.store.batch_path("5m", "b001")
    assert os.path.isdir(part) and not crash.store.is_committed("5m", "b001")
    a_file = sorted(glob.glob(os.path.join(part, "source=*", "*.parquet")))[0]
    stale_dirs = [
        os.path.join(part, "source=zzz"),
        os.path.join(crash.store.stage_path("b001"), "stage=1h", "source=zzz"),
    ]
    for d in stale_dirs:
        os.makedirs(d)
        shutil.copy(a_file, os.path.join(d, "part-stale.parquet"))

    crash.run(spark, batches)
    for d in stale_dirs:
        assert not os.path.exists(d), d
    assert os.listdir(os.path.join(root, "_staging")) == []
    for s in STAGES:
        want = {m.batch_id: m for m in clean_pipe.store.manifests(s)}
        got = {m.batch_id: m for m in crash.store.manifests(s)}
        assert want.keys() == got.keys()
        for b, m in want.items():
            assert (m.n_rows, m.content_hash, m.min_ts, m.max_ts, m.n_bytes) == (
                got[b].n_rows, got[b].content_hash, got[b].min_ts,
                got[b].max_ts, got[b].n_bytes,
            ), (s, b)
