"""Lineage manifests + watermark checkpoints for exact resume (north rule).

Commit protocol (per input batch, per tier):
  1. compute tier rows — a PURE function of (input batch, config): integer
     sums, argmin/argmax by unique keys, deterministic codecs (no
     partition-count or batch-order dependence anywhere);
  2. write the batch's rows under the tier's `batch=<id>` partition with
     dynamic partition overwrite (re-running replaces exactly that
     partition — idempotent);
  3. write the lineage manifest (row count + order-insensitive content hash
     + config hash) for the (tier, batch);
  4. LAST, advance the watermark file atomically (temp + rename).

Crash between any steps -> the batch is simply reprocessed on resume and
overwrites its own partition with identical content (verified by the
kill-and-resume test). The content hash is an order-insensitive fold
(sum of per-row xxhash64 over canonicalized values), so it is stable under
any shuffle order or parallelism.

On a real cluster the same protocol runs against Iceberg (`replaceWhere` /
MERGE per partition + snapshot ids in the manifest); the filesystem layout
here mirrors that with plain parquet partitions.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Manifest:
    tier: str
    batch_id: str
    n_rows: int
    content_hash: str
    config_hash: str
    n_bytes: int = 0  # on-disk bytes of the batch's partition tree
    min_ts: str = ""  # ISO min/max bucket_ts of the batch (retention key)
    max_ts: str = ""
    expired: bool = False  # data partition dropped by retention policy
    superseded_by: str = ""  # compaction rewrote this batch into another
    # Batches this batch REWRITES (compaction): recorded in the NEW batch's
    # manifest so the supersede takes effect atomically with its commit —
    # the moment the rewritten batch is committed, snapshot readers exclude
    # the sources, even before their partitions are physically dropped
    # (the Iceberg analog: one snapshot swaps data files in and out).
    supersedes: list[str] | None = None


def _manifest_stats(df: DataFrame) -> tuple[int, str, str, str]:
    """ONE aggregation pass -> (row count, order-insensitive content hash,
    min/max bucket_ts as ISO strings — empty if the column is absent).
    Hash = bit_xor fold of xxhash64 over every column of every row
    (canonicalized to strings) plus a modular sum — both order-insensitive
    and overflow-free, identical under any partitioning/parallelism. The
    (xor, modsum, count) triple makes accidental collisions (duplicate-row
    cancellation in xor) detectable."""
    cols = [F.col(c).cast("string") for c in df.columns]
    row_hash = F.xxhash64(*cols)
    has_ts = "bucket_ts" in df.columns
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(f'cast(`{c}` as string)' for c in df.columns)}))").alias("x"),
        F.sum(F.pmod(row_hash, F.lit(2**31))).alias("s"),
    ]
    if has_ts:
        aggs += [F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")]
    agg = df.agg(*aggs).collect()[0]
    n = int(agg["n"])
    x = int(agg["x"] or 0) & 0xFFFFFFFFFFFFFFFF
    s = int(agg["s"] or 0) % (2**31)
    lo = str(agg["lo"]) if has_ts and agg["lo"] is not None else ""
    hi = str(agg["hi"]) if has_ts and agg["hi"] is not None else ""
    return n, f"{x:016x}-{s:08x}", lo, hi


# _manifest_stats' hash of zero rows (both folds are empty)
_EMPTY_HASH = f"{0:016x}-{0:08x}"


def content_hash(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive content hash) — see _manifest_stats."""
    n, h, _, _ = _manifest_stats(df)
    return n, h


class TierStore:
    """Filesystem layout:
    root/tiers/<tier>/batch=<id>/*.parquet     (dynamic partition overwrite)
    root/manifests/<tier>/<batch>.json
    root/watermarks/<tier>.json                 (atomic rename commit)
    """

    def __init__(self, root: str):
        self.root = root
        for d in ("tiers", "manifests", "watermarks"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    # --- paths
    def tier_path(self, tier: str) -> str:
        return os.path.join(self.root, "tiers", tier)

    def _manifest_path(self, tier: str, batch_id: str) -> str:
        d = os.path.join(self.root, "manifests", tier)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{batch_id}.json")

    def _wm_path(self, tier: str) -> str:
        return os.path.join(self.root, "watermarks", f"{tier}.json")

    # --- watermarks
    def watermark(self, tier: str) -> str | None:
        """Last committed batch id (display/metrics only — resume decisions
        use set membership via is_committed, never id ordering: string
        comparison would mis-order non-zero-padded ids like batch-10 <
        batch-9 and skip or reprocess batches)."""
        p = self._wm_path(tier)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["batch_id"]

    def committed(self, tier: str) -> set[str]:
        """Exact set of committed batch ids for the tier."""
        p = self._wm_path(tier)
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            d = json.load(f)
        return set(d.get("committed", [d["batch_id"]] if "batch_id" in d else []))

    def is_committed(self, tier: str, batch_id: str) -> bool:
        return batch_id in self.committed(tier)

    def commit_watermark(self, tier: str, batch_id: str) -> None:
        done = self.committed(tier)
        done.add(batch_id)
        p = self._wm_path(tier)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p))
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"batch_id": batch_id, "tier": tier, "committed": sorted(done)},
                f,
            )
        os.replace(tmp, p)  # atomic on POSIX

    # --- batch commit
    def write_batches(
        self,
        df: DataFrame,
        tier: str,
        batch_col: str,
        config_hash: str,
    ) -> dict[str, "Manifest"]:
        """Commit MANY batches from one DataFrame in O(1) Spark jobs —
        protocol-equivalent to calling write_batch once per distinct value
        of `batch_col`, but with ONE partitioned write and ONE grouped
        manifest-stats pass instead of 2×N jobs (a write_batch loop
        re-executes the input plan and runs a stats aggregation per batch;
        at 52 weekly batches that was 104 sequential jobs for seconds of
        actual data). Same batch=<id>/source=<s>/ layout, same manifest
        fields (the content hash is an order-insensitive xor/modsum fold,
        so per-batch values are identical to the loop's), watermarks left
        to the caller exactly like write_batch."""
        import shutil

        data_cols = [c for c in df.columns if c != batch_col]
        out = df.withColumnRenamed(batch_col, "batch")
        batch_ids = sorted(
            r["batch"] for r in out.select("batch").distinct().collect()
        )  # bounded: one row per batch
        for bid in batch_ids:
            part = os.path.join(self.tier_path(tier), f"batch={bid}")
            shutil.rmtree(part, ignore_errors=True)
        part_cols = ["batch"] + (["source"] if "source" in data_cols else [])
        # cluster rows by the partition dirs before writing (guide §6):
        # without this every write task sprays a file into every
        # batch=/source= dir it touches — N_tasks × N_dirs small files
        (
            out.repartition(*part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.tier_path(tier))
        )
        spark = df.sparkSession
        infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        try:
            prev_infer = spark.conf.get(infer_key)
        except Exception:
            prev_infer = None
        spark.conf.set(infer_key, "false")
        try:
            schema = {f.name: f.dataType for f in df.schema.fields}
            back = (
                spark.read.option("basePath", self.tier_path(tier))
                .parquet(
                    *[
                        os.path.join(self.tier_path(tier), f"batch={bid}")
                        for bid in batch_ids
                    ]
                )
                .select(
                    "batch",
                    *[F.col(c).cast(schema[c]).alias(c) for c in data_cols],
                )
            )
            # the same aggregate set _manifest_stats runs, grouped by batch
            # (all order-insensitive => identical per-batch values)
            cast_cols = ", ".join(f"cast(`{c}` as string)" for c in data_cols)
            row_hash = F.xxhash64(*[F.col(c).cast("string") for c in data_cols])
            aggs = [
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({cast_cols}))").alias("x"),
                F.sum(F.pmod(row_hash, F.lit(2**31))).alias("s"),
            ]
            has_ts = "bucket_ts" in data_cols
            if has_ts:
                aggs += [
                    F.min("bucket_ts").alias("lo"),
                    F.max("bucket_ts").alias("hi"),
                ]
            stats = {r["batch"]: r for r in back.groupBy("batch").agg(*aggs).collect()}
        finally:
            if prev_infer is None:
                spark.conf.unset(infer_key)
            else:
                spark.conf.set(infer_key, prev_infer)
        mans: dict[str, Manifest] = {}
        for bid in batch_ids:
            r = stats[bid]
            x = int(r["x"] or 0) & 0xFFFFFFFFFFFFFFFF
            s = int(r["s"] or 0) % (2**31)
            lo = str(r["lo"]) if has_ts and r["lo"] is not None else ""
            hi = str(r["hi"]) if has_ts and r["hi"] is not None else ""
            part = os.path.join(self.tier_path(tier), f"batch={bid}")
            m = Manifest(
                tier, bid, int(r["n"]), f"{x:016x}-{s:08x}", config_hash,
                self._tree_bytes(part), lo, hi,
            )
            self._write_manifest(m)
            mans[bid] = m
        return mans

    def write_batch(
        self,
        df: DataFrame,
        tier: str,
        batch_id: str,
        config_hash: str,
        supersedes: list[str] | None = None,
    ) -> Manifest:
        """Steps 1-3 of the protocol (caller advances the watermark).
        `supersedes`: batch ids this batch rewrites (compaction) — recorded
        in THIS batch's manifest so snapshot readers drop the sources
        atomically with this batch's commit.

        Layout: batch=<id>/source=<s>/ — the source subpartition gives
        partition pruning on the hot filter dimension (the Iceberg analog
        is PARTITIONED BY (batch, source, hours(bucket_ts)))."""
        # An uncommitted batch=<id> tree from a crashed earlier attempt may
        # hold source= subpartitions the new df no longer produces — dynamic
        # overwrite would leave them in place (and the read-back below would
        # hash stale rows). The batch is uncommitted, so dropping the whole
        # partition first is exactly the overwrite semantics we want.
        import shutil

        part = os.path.join(self.tier_path(tier), f"batch={batch_id}")
        shutil.rmtree(part, ignore_errors=True)
        out = df.withColumn("batch", F.lit(batch_id))
        part_cols = ["batch"] + (["source"] if "source" in df.columns else [])
        (
            out.write.mode("overwrite")
            .partitionBy(*part_cols)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.tier_path(tier))
        )
        if os.path.isdir(part):
            n, h, lo, hi = self._partition_stats(df, tier, part)
        else:
            # a zero-row batch (empty or all-missing input): partitionBy
            # creates no batch=<id> directory, so there is nothing to read
            # back. Record what _manifest_stats gives for 0 rows.
            n, h, lo, hi = 0, _EMPTY_HASH, "", ""
        n_bytes = self._tree_bytes(part)
        m = Manifest(
            tier, batch_id, n, h, config_hash, n_bytes, lo, hi,
            supersedes=sorted(supersedes) if supersedes else None,
        )
        self._write_manifest(m)
        return m

    def _partition_stats(
        self, df: DataFrame, tier: str, part: str
    ) -> tuple[int, str, str, str]:
        """_manifest_stats of a just-written batch partition. The stats
        come from the partition files, not a second execution of the
        input plan, which may be an expensive scan. Partition-column type
        inference is disabled for the read-back (a numeric-looking source
        like '0123' must not round-trip as 123); casting to the input
        schema then restores exact dtypes."""
        spark = df.sparkSession
        infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        try:
            prev_infer = spark.conf.get(infer_key)
        except Exception:
            prev_infer = None
        spark.conf.set(infer_key, "false")
        try:
            back = (
                spark.read.option("basePath", self.tier_path(tier))
                .parquet(part)
                .select(
                    *[
                        F.col(f.name).cast(f.dataType)
                        for f in df.schema.fields
                    ]
                )
            )
            return _manifest_stats(back)
        finally:
            # restore the session-wide flag — leaving it flipped changes how
            # partition columns type-infer in every later unrelated read
            if prev_infer is None:
                spark.conf.unset(infer_key)
            else:
                spark.conf.set(infer_key, prev_infer)

    # --- snapshot-consistent read set
    def live_batches(self, tier: str) -> set[str]:
        """The batch ids a consistent reader should see RIGHT NOW:
        committed, not expired by retention, and not superseded by a
        committed compaction rewrite. Metadata-only (manifests + the
        watermark set) — this is the Iceberg snapshot's file list.

        Raw directory listings are NOT a consistent view: an uncommitted
        batch=<id> tree from a crashed write is visible on disk, and a
        crash between a compaction's commit and its source-partition drops
        leaves BOTH the rewritten batch and its sources on disk. Both
        anomalies are excluded here: uncommitted ids are absent from the
        watermark set, and a committed rewrite's `supersedes` list retires
        its sources atomically with its commit."""
        committed = self.committed(tier)
        mans = {m.batch_id: m for m in self.manifests(tier)}
        dead: set[str] = set()
        for b in committed:
            m = mans.get(b)
            if m is None:
                continue
            if m.supersedes:
                dead |= set(m.supersedes)
        for b, m in mans.items():
            # legacy path: supersede recorded only on the source manifest
            if m.superseded_by and m.superseded_by in committed:
                dead.add(b)
            if m.expired:
                dead.add(b)
        return {b for b in committed if b not in dead}

    def _write_manifest(self, m: Manifest) -> None:
        """Atomic manifest write (temp + rename, same discipline as
        commit_watermark) — a crash mid-write must never leave truncated
        JSON that wedges manifest()/resume."""
        p = self._manifest_path(m.tier, m.batch_id)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p))
        with os.fdopen(fd, "w") as f:
            json.dump(asdict(m), f)
        os.replace(tmp, p)

    @staticmethod
    def _tree_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for name in files:
                total += os.path.getsize(os.path.join(root, name))
        return total

    # --- retention (TimescaleDB-style drop_chunks over batch partitions)
    def apply_retention(
        self, policy: dict[str, float | None], now: str
    ) -> dict[str, list[str]]:
        """Enforce a per-tier retention policy: drop every committed batch
        partition whose newest bucket_ts is older than `now - keep_seconds`
        for its tier. Metadata-only decision (manifests carry the batch's
        time range), partition-level deletion — the Iceberg analog is
        `DELETE WHERE`/expire_snapshots on the (batch) partition.

        Lineage is preserved: the manifest stays, flagged expired=true
        (content hash still documents what the data WAS). Watermarks are
        untouched — retention never un-commits a batch, so resume logic
        keeps skipping it. Idempotent: already-expired manifests are
        skipped. Tiers mapped to None (or absent) are kept forever.

        Returns {tier: [expired batch ids]}."""
        import shutil
        from datetime import datetime, timedelta

        now_dt = datetime.fromisoformat(now)
        dropped: dict[str, list[str]] = {}
        for tier, keep in policy.items():
            if keep is None:
                continue
            cutoff = now_dt - timedelta(seconds=float(keep))
            for m in self.manifests(tier):
                if m.expired or not m.max_ts:
                    continue
                if datetime.fromisoformat(m.max_ts) >= cutoff:
                    continue
                part = os.path.join(self.tier_path(tier), f"batch={m.batch_id}")
                if os.path.isdir(part):
                    shutil.rmtree(part)
                m.expired = True
                self._write_manifest(m)
                dropped.setdefault(tier, []).append(m.batch_id)
        return dropped

    def mark_superseded(
        self, tier: str, batch_id: str, new_batch_id: str
    ) -> None:
        """Flag a batch as rewritten by compaction and drop its data
        partition (idempotent). The manifest stays for lineage — content
        hash still documents what the batch held; the committed set is
        untouched so resume keeps skipping the original batch id."""
        import shutil

        m = self.manifest(tier, batch_id)
        if m is None:
            return
        part = os.path.join(self.tier_path(tier), f"batch={batch_id}")
        if os.path.isdir(part):
            shutil.rmtree(part)
        if m.superseded_by != new_batch_id:
            m.superseded_by = new_batch_id
            self._write_manifest(m)

    def manifest(self, tier: str, batch_id: str) -> Manifest | None:
        p = self._manifest_path(tier, batch_id)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return Manifest(**json.load(f))

    def manifests(self, tier: str) -> list[Manifest]:
        d = os.path.join(self.root, "manifests", tier)
        out = []
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            with open(os.path.join(d, name)) as f:
                out.append(Manifest(**json.load(f)))
        return out
