"""The continuous-aggregate rollup pipeline (north rule's production job).

Incremental batch processing over an append-only tokenized-sequence table:
each input batch runs ONE token scan (operators/ingest.py:
ingest_from_tokens, the shuffle-free ladder and Gorilla block fold) into
ONE staged write: every tier row and block row is labelled with its
stage, and the pending stages are written partitioned and clustered by
(stage, source), so a small batch lands as one file per (stage, source).
Each stage's manifest stats are observed on that write. Every stage then
commits by renaming its staged partition into the TierStore and writing
its lineage manifest, then its watermark (plans/lineage.py), so a kill at
ANY point resumes to byte-identical content (tested).

Deployment shape (cluster): `spark-submit --py-files fusets_spark.zip
fusets_spark/plans/pipeline.py <input> <store>` against Iceberg; batches =
Iceberg snapshot ranges. Here batches are parquet subdirectories.

Ordering: batches are processed in sorted batch_id order for determinism,
but commit/resume decisions use SET MEMBERSHIP of committed batch ids
(never id ordering — non-zero-padded ids like 'batch-10' < 'batch-9' would
otherwise skip uncommitted batches or reprocess committed ones).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec.blocks import BLOCK_SCHEMA
from ..operators import ingest, rollup
from ..operators.rollup import TIERS
from .lineage import TierStore, stage_batches

STAGES = [*TIERS.keys(), "blocks"]
# each stage's committed columns, read back with exactly these types
STAGE_SCHEMAS = {**{t: ingest.TIER_SCHEMA for t in TIERS}, "blocks": BLOCK_SCHEMA}
# their names in committed order: what each stage's manifest hash covers
STAGE_COLS = {
    s: [f.split()[0] for f in ddl.split(", ")] for s, ddl in STAGE_SCHEMAS.items()
}

# TimescaleDB-style default retention: fine data is the shortest-lived,
# coarser aggregates keep longer, the 1h tier forever (None).
DEFAULT_RETENTION: dict[str, float | None] = {
    "blocks": 7 * 86400.0,
    "1m": 30 * 86400.0,
    "5m": 180 * 86400.0,
    "1h": None,
}


def _config_hash(cfg: dict) -> str:
    return hashlib.sha256(
        json.dumps(cfg, sort_keys=True).encode()
    ).hexdigest()[:16]


class RollupPipeline:
    def __init__(
        self,
        store_root: str,
        t0: str = "2024-01-01 00:00:00",
        block_seconds: int = 3600,
    ):
        self.store = TierStore(store_root)
        self.cfg = {"t0": t0, "block_seconds": block_seconds, "v": 1}
        self.cfg_hash = _config_hash(self.cfg)
        self.t0 = t0
        self.block_seconds = block_seconds

    def process_batch(
        self,
        tokens: DataFrame,
        batch_id: str,
        fail_after_stage: str | None = None,
    ) -> None:
        """Commit one input batch through every pending stage.
        `fail_after_stage` simulates an executor/driver loss mid-commit
        (for the resume test): the stage's data+manifest are committed but
        the watermark is NOT.

        ONE token scan feeds ONE staged write under `_staging/<id>`:
        tier rows are labelled with their tier and block rows with
        `blocks`, the pending stages are written partitioned by (stage,
        source), and each stage's manifest stats are observed over its own
        committed columns (STAGE_COLS). A file carries the other kind's
        columns as nulls; reads take only the stage's own columns
        (STAGE_SCHEMAS). Each pending stage then commits by rename.
        Staging is overwrite-idempotent: a crash at any point resumes by
        re-staging (content is a pure function of the batch), and
        committed stages are skipped."""
        staging = self.store.stage_path(batch_id)
        pending = [
            s for s in STAGES if not self.store.is_committed(s, batch_id)
        ]
        if pending:
            shutil.rmtree(staging, ignore_errors=True)
            # looked up on the module at call time, so a wrapper installed
            # on ingest.ingest_from_tokens sees every staging scan
            ingested = ingest.ingest_from_tokens(
                tokens, t0=self.t0, block_seconds=self.block_seconds
            )
            label = F.when(F.col("kind") == "tier", F.col("tier")).otherwise(
                F.lit("blocks")
            )
            staged = stage_batches(
                ingested.withColumn("stage", label)
                .filter(F.col("stage").isin(pending))
                .drop("kind", "tier"),
                staging, "stage", {s: STAGE_COLS[s] for s in pending},
            )
            for stage in pending:
                self.store.write_batch(
                    staged[stage], stage, batch_id, self.cfg_hash
                )
                if fail_after_stage == stage:
                    raise RuntimeError(
                        f"simulated failure after {stage}/{batch_id}"
                    )
                self.store.commit_watermark(stage, batch_id)
        # also clears staging a crashed run left after its last commit
        shutil.rmtree(staging, ignore_errors=True)

    def run(
        self,
        spark: SparkSession,
        batches: dict[str, DataFrame],
        fail_at: tuple[str, str] | None = None,
    ) -> None:
        """Process pending batches in order, skipping committed ones.
        fail_at = (batch_id, stage) simulated crash point."""
        for batch_id in sorted(batches):
            if all(self.store.is_committed(s, batch_id) for s in STAGES):
                continue
            fail_stage = fail_at[1] if fail_at and fail_at[0] == batch_id else None
            self.process_batch(batches[batch_id], batch_id, fail_stage)

    def read_tier(
        self,
        spark: SparkSession,
        stage: str,
        merged: bool = False,
        as_of_batches: set[str] | None = None,
    ) -> DataFrame:
        """SNAPSHOT-CONSISTENT tier read: only batch partitions in the
        store's live set (committed, not retired by retention or a
        committed compaction rewrite) are visible — a raw directory read
        would see crashed uncommitted writes, and duplicated data in the
        window between a compaction's commit and its source-partition
        drops. The batch filter is on the partition column, so Spark
        prunes at planning time (scale cost: zero data touched for dead
        batches).

        as_of_batches: explicit batch subset for time travel — read the
        store as it stood when exactly these batches were live (ids must
        be a subset of currently-readable partitions; retention-dropped
        data is gone). Default: the current live set.

        merged=True re-merges per-batch partial rows for the same
        (series, bucket) — exact under late data because stored rows carry
        first_pos/last_pos (see rollup.merge_tier_partials); a
        no-op-by-value when batches never share a bucket. Tiers store no
        avg_val: both reads derive it as sum/count."""
        live = (
            as_of_batches
            if as_of_batches is not None
            else self.store.live_batches(stage)
        )
        df = self._read_batches(spark, stage, live)
        if stage == "blocks":
            return df
        # looked up on the module at call time, so a wrapper installed on
        # rollup.merge_tier_partials sees every merged read
        return rollup.merge_tier_partials(df) if merged else rollup._with_avg(df)

    def _read_batches(
        self, spark: SparkSession, stage: str, batch_ids
    ) -> DataFrame:
        """The rows of exactly these batches of `stage`: only their
        batch=<id> directories are listed and read with the stage's
        declared schema, `batch`/`source` as strings (nothing is inferred:
        id '0123' stays a string). No directory at all (zero-row batches
        only) reads as an empty frame of the same columns."""
        schema = f"{STAGE_SCHEMAS[stage]}, batch string"
        ids = sorted(batch_ids)
        paths = [
            p
            for p in (self.store.batch_path(stage, b) for b in ids)
            if os.path.isdir(p)
        ]
        if not paths:
            df = spark.createDataFrame([], schema)
            data = [c for c in df.columns if c not in ("batch", "source")]
            return df.select(*data, "batch", "source")
        return (
            spark.read.schema(schema)
            .option("basePath", self.store.tier_path(stage))
            .parquet(*paths)
            .filter(F.col("batch").isin(ids))
        )

    def apply_compaction(
        self,
        spark: SparkSession,
        now: str,
        age_seconds: float = 7 * 86400.0,
        target_seconds: int = 86400,
    ) -> str | None:
        """POLICY-driven rewrite compaction — retention's sibling: find
        every live blocks batch whose newest data is at least `age_seconds`
        old at `now` and rewrite them into one coarser `target_seconds`
        batch (TimescaleDB's compress_chunk policy / Iceberg's
        rewrite_data_files, scheduled instead of hand-picked).

        Metadata-only selection: manifests carry each batch's max_ts, and
        batches already produced by this policy are recognized by their
        compaction config hash and skipped — re-running the policy on a
        quiet store is a no-op, so it can run on every pipeline tick.
        The new batch id is derived from the sorted source ids, making a
        crashed run resume into the SAME rewrite (is_committed skips the
        recompute; the drop loop finishes).

        Returns the new batch id, or None if nothing qualified."""
        from datetime import datetime, timedelta

        compact_hash = _config_hash(
            {**self.cfg, "compacted_to": target_seconds}
        )
        cutoff = datetime.fromisoformat(now) - timedelta(
            seconds=float(age_seconds)
        )
        live = self.store.live_batches("blocks")
        sources = sorted(
            m.batch_id
            for m in self.store.manifests("blocks")
            if m.batch_id in live
            and m.max_ts
            and m.config_hash != compact_hash
            and datetime.fromisoformat(m.max_ts) < cutoff
        )
        if not sources:
            return None
        new_id = "compact-" + hashlib.sha256(
            ",".join(sources).encode()
        ).hexdigest()[:12]
        self.compact_block_batches(
            spark, sources, new_id, target_seconds, config_hash=compact_hash
        )
        return new_id

    def compact_block_batches(
        self,
        spark: SparkSession,
        batch_ids: list[str],
        new_batch_id: str,
        target_seconds: int = 86400,
        config_hash: str | None = None,
    ) -> None:
        """Rewrite aged fine-block batches into ONE coarser-bucket batch
        (the TimescaleDB/Iceberg rewrite-compaction step of the retention
        lifecycle): whole blocks regrouped + re-encoded via
        codec.compact_blocks — never split, byte-identical to encoding the
        raw points at target_seconds directly.

        Crash-safe with the same commit discipline as ingest:
          1. read exactly the source batch partitions (snapshot read),
             compact, stage, commit as `new_batch_id` by rename + manifest,
             then watermark;
          2. drop each source partition and flag its manifest
             superseded_by=new_batch_id (lineage kept, committed set
             untouched so resume keeps skipping the old ids).
        A crash before the step-1 commit resumes by recomputing (overwrite-
        idempotent); after it, re-running skips straight to finishing the
        drops (mark_superseded is idempotent). The new batch's manifest
        carries `supersedes=batch_ids`, so snapshot readers
        (read_tier/live_batches) retire the sources ATOMICALLY with the
        step-1 commit — a crash inside the step-2 drop loop leaves both
        data trees on disk but never a duplicated read."""
        from ..codec.blocks import compact_blocks

        staging = self.store.stage_path(new_batch_id)
        if not self.store.is_committed("blocks", new_batch_id):
            src = self._read_batches(spark, "blocks", batch_ids).drop("batch")
            shutil.rmtree(staging, ignore_errors=True)
            staged = stage_batches(
                compact_blocks(src, target_seconds).withColumn(
                    "stage", F.lit("blocks")
                ),
                staging, "stage", ["blocks"],
            )
            self.store.write_batch(
                staged["blocks"], "blocks", new_batch_id,
                config_hash or self.cfg_hash,
                supersedes=batch_ids,
            )
            self.store.commit_watermark("blocks", new_batch_id)
        for bid in batch_ids:
            self.store.mark_superseded("blocks", bid, new_batch_id)
        shutil.rmtree(staging, ignore_errors=True)

    def apply_retention(
        self, now: str, policy: dict[str, float | None] | None = None
    ) -> dict[str, list[str]]:
        """Drop batch partitions past each tier's horizon (see
        TierStore.apply_retention); commit state and lineage stay intact."""
        return self.store.apply_retention(policy or DEFAULT_RETENTION, now)


def main(argv: list[str] | None = None) -> None:
    """spark-submit entrypoint (the deployment shape in the module
    docstring; spark-submit takes a script path, not a module flag):

        spark-submit --py-files fusets_spark.zip \\
            fusets_spark/plans/pipeline.py <input_root> <store_root> \\
            [--t0 ...] [--block-seconds N] [--retention-now ISO] \\
            [--compact-now ISO] [--compact-age-days D] \\
            [--compact-target-seconds T]

    <input_root> holds one parquet subdirectory per batch (batch id =
    directory name; on Iceberg, snapshot ranges take this role). Committed
    batches are skipped via the TierStore watermark set, so re-running the
    same command after any crash resumes exactly."""
    import argparse

    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser(description="fusets_spark rollup pipeline")
    ap.add_argument("input_root", help="dir of per-batch parquet subdirs")
    ap.add_argument("store_root", help="tier-store root")
    ap.add_argument("--t0", default="2024-01-01 00:00:00")
    ap.add_argument("--block-seconds", type=int, default=3600)
    ap.add_argument(
        "--retention-now",
        default=None,
        help="apply the default retention policy as of this ISO timestamp",
    )
    ap.add_argument(
        "--compact-now",
        default=None,
        help="run policy-driven block compaction as of this ISO timestamp",
    )
    ap.add_argument("--compact-age-days", type=float, default=7.0)
    ap.add_argument("--compact-target-seconds", type=int, default=86400)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("fusets-rollup").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pipe = RollupPipeline(
        args.store_root, t0=args.t0, block_seconds=args.block_seconds
    )
    batches = {
        name: spark.read.parquet(os.path.join(args.input_root, name))
        for name in sorted(os.listdir(args.input_root))
        if os.path.isdir(os.path.join(args.input_root, name))
    }
    pipe.run(spark, batches)
    # retention BEFORE compaction: a batch past the retention horizon is
    # dropped outright, so the compaction pass never wastes a rewrite on
    # doomed data (expired batches leave the live set and are not
    # compaction candidates).
    if args.retention_now:
        dropped = pipe.apply_retention(args.retention_now)
        print(f"retention dropped: {dropped}")
    if args.compact_now:
        new_id = pipe.apply_compaction(
            spark,
            args.compact_now,
            age_seconds=args.compact_age_days * 86400.0,
            target_seconds=args.compact_target_seconds,
        )
        print(f"compaction: {new_id or 'nothing to compact'}")


if __name__ == "__main__":
    main()
