"""Lineage manifests + watermark checkpoints for exact resume (north rule).

Commit protocol (per input batch, per stage):
  1. compute the stage rows — a PURE function of (input batch, config):
     integer sums, argmin/argmax by unique keys, deterministic codecs (no
     partition-count or batch-order dependence anywhere);
  2. STAGE them: every pending stage of the batch goes out in one
     partitioned write under `_staging/<id>/<key>=<stage>/source=<s>/`,
     clustered by (stage, source) so a small batch writes one file per
     directory (stage_batches). The write carries a DataFrame.observe of
     the manifest-stats fold, one conditional set per stage over that
     stage's committed columns, so row count, content hash and bucket_ts
     range come from the write itself — no read-back;
  3. RENAME each staged stage into `tiers/<stage>/batch=<id>` (write_batch;
     an uncommitted tree left there by a crashed attempt is dropped first,
     so re-running replaces the partition instead of merging into it);
  4. write the lineage manifest (the observed stats + config hash + the
     bytes now on disk) for the (stage, batch);
  5. LAST, advance the watermark file atomically (temp + rename).

Crash between any steps -> the batch is simply reprocessed on resume and
replaces its own partition with identical content (verified by the
kill-and-resume test). The content hash is an order-insensitive fold
(bit_xor and modular sum of per-row xxhash64 over canonicalized values),
so it is stable under any shuffle order or parallelism.

On a real cluster the same protocol runs against Iceberg: steps 2-4 are a
snapshot append of data files already written, whose manifest carries the
writer-side column metrics, plus snapshot ids in the lineage manifest; the
filesystem layout here mirrors that with plain parquet partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, Observation
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


@dataclass
class Staged:
    """One stage's rows written but not committed: the staged partition
    directory (absent when the stage has no rows) and its manifest stats."""

    path: str
    n_rows: int
    content_hash: str
    min_ts: str
    max_ts: str


def _row_hash(cols: list[str]) -> Column:
    """xxhash64 of a row's `cols` (committed order), canonicalized to strings."""
    return F.xxhash64(*[F.col(c).cast("string") for c in cols])


def _stats_aggs(
    row_hash: Column, has_ts: bool, tag: str = "", where: Column | None = None
) -> list[Column]:
    """The manifest-stats fold as aggregate columns named <tag>0.. —
    restricted to the rows matching `where`."""

    def only(c: Column) -> Column:
        return c if where is None else F.when(where, c)

    aggs = [
        F.count(only(F.lit(1))),
        F.bit_xor(only(row_hash)),
        F.sum(only(F.pmod(row_hash, F.lit(2**31)))),
    ]
    if has_ts:
        ts = only(F.col("bucket_ts"))
        aggs += [F.min(ts), F.max(ts)]
    return [a.alias(f"{tag}{i}") for i, a in enumerate(aggs)]


def _stats_values(vals: list) -> tuple[int, str, str, str]:
    """_stats_aggs' values -> (n, content hash, min_ts, max_ts)."""
    n, x, s, lo, hi = [*vals, None, None][:5]
    x = int(x or 0) & 0xFFFFFFFFFFFFFFFF
    s = int(s or 0) % (2**31)
    return (
        int(n),
        f"{x:016x}-{s:08x}",
        "" if lo is None else str(lo),
        "" if hi is None else str(hi),
    )


def _manifest_stats(df: DataFrame) -> tuple[int, str, str, str]:
    """ONE aggregation pass -> (row count, order-insensitive content hash,
    min/max bucket_ts as ISO strings — empty if the column is absent).
    Hash = bit_xor fold of xxhash64 over every column of every row
    (canonicalized to strings) plus a modular sum — both order-insensitive
    and overflow-free, identical under any partitioning/parallelism. The
    (xor, modsum, count) triple makes accidental collisions (duplicate-row
    cancellation in xor) detectable. stage_batches observes the same fold
    on its write."""
    aggs = _stats_aggs(_row_hash(df.columns), "bucket_ts" in df.columns)
    return _stats_values(list(df.agg(*aggs).collect()[0]))


def content_hash(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive content hash) — see _manifest_stats."""
    n, h, _, _ = _manifest_stats(df)
    return n, h


def stage_batches(
    df: DataFrame, path: str, key: str, keys: list[str] | dict[str, list[str]]
) -> dict[str, Staged]:
    """Step 2 of the protocol: write `df` under `path` in ONE write,
    partitioned by (`key`, source), and return each key value's Staged
    partition `path/<key>=<k>`. Its manifest stats are a DataFrame.observe
    on the write — the fold _manifest_stats runs, one conditional set per
    key value — so the stats describe exactly the rows written. A key
    value's row hash covers its committed columns in order: `keys` maps
    each value to them, or lists values that all commit every column but
    `key`, in df order.

    The rows are clustered by the partition columns with a rebalance hint
    before the write: adaptive execution packs a small write into one file
    per directory and splits an oversized one at the session's advisory
    partition size, where an unclustered write sprays one file per write
    task into every directory it touches.

    Appends: the caller clears `path` first. The observe sits directly
    above the write (the rebalance exchange is below it), so its metrics
    merge once per successful write task."""
    if not isinstance(keys, dict):
        keys = dict.fromkeys(keys, [c for c in df.columns if c != key])
    part_cols = [key] + (["source"] if "source" in df.columns else [])
    # the row hash and the key's index are computed once per row, not per
    # key: write_batches observes up to 52 weekly ids, where a per-key hash
    # and string compare cost ~1 s of q_retention_horizon. Key values that
    # commit the same columns share one hash expression.
    by_cols: dict[tuple[str, ...], list[int]] = {}
    for i, cols in enumerate(keys.values(), start=1):
        by_cols.setdefault(tuple(cols), []).append(i)
    hashes = [(_row_hash(list(c)), idx) for c, idx in by_cols.items()]
    row_hash = hashes[0][0]
    for h, idx in hashes[1:]:
        row_hash = F.when(F.col("_key").isin(idx), h).otherwise(row_hash)
    has_ts = "bucket_ts" in df.columns
    per_key = [
        _stats_aggs(F.col("_row_hash"), has_ts, f"k{i}_", F.col("_key") == i + 1)
        for i in range(len(keys))
    ]
    obs = Observation()
    (
        df.hint("rebalance", *part_cols)
        .withColumn(
            "_key",
            F.array_position(F.array(*[F.lit(k) for k in keys]), F.col(key)),
        )
        .withColumn("_row_hash", row_hash)
        .observe(obs, *[a for aggs in per_key for a in aggs])
        .drop("_row_hash", "_key")
        .write.mode("append")
        .partitionBy(*part_cols)
        .parquet(path)
    )
    got = obs.get
    return {
        k: Staged(
            os.path.join(path, f"{key}={k}"),
            *_stats_values([got[f"k{i}_{j}"] for j in range(len(per_key[i]))]),
        )
        for i, k in enumerate(keys)
    }


class TierStore:
    """Filesystem layout:
    root/tiers/<tier>/batch=<id>/source=<s>/*.parquet   (committed by rename)
    root/_staging/<id>/                                  (uncommitted writes)
    root/manifests/<tier>/<batch>.json
    root/watermarks/<tier>.json                          (atomic rename commit)
    """

    def __init__(self, root: str):
        self.root = root
        for d in ("tiers", "_staging", "manifests", "watermarks"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    # --- paths
    def tier_path(self, tier: str) -> str:
        return os.path.join(self.root, "tiers", tier)

    def batch_path(self, tier: str, batch_id: str) -> str:
        return os.path.join(self.tier_path(tier), f"batch={batch_id}")

    def stage_path(self, batch_id: str) -> str:
        """Where a batch's stages are staged before their commit."""
        return os.path.join(self.root, "_staging", batch_id)

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
        """Commit one batch per distinct value of `batch_col`: ONE staged
        write partitioned by the batch column (stats observed per batch id),
        then write_batch per id. Same batch=<id>/source=<s>/ layout and
        manifests as staging each batch on its own; watermarks are left to
        the caller exactly like write_batch."""
        out = df.withColumnRenamed(batch_col, "batch")
        batch_ids = sorted(
            r["batch"] for r in out.select("batch").distinct().collect()
        )  # bounded: one row per batch
        if not batch_ids:
            return {}
        staging = tempfile.mkdtemp(
            prefix=f"{tier}-", dir=os.path.join(self.root, "_staging")
        )
        try:
            # stage_batches clusters the rows by (batch, source)
            staged = stage_batches(out, staging, "batch", batch_ids)
            return {
                bid: self.write_batch(staged[bid], tier, bid, config_hash)
                for bid in batch_ids
            }
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def write_batch(
        self,
        staged: Staged,
        tier: str,
        batch_id: str,
        config_hash: str,
        supersedes: list[str] | None = None,
    ) -> Manifest:
        """Steps 3-4 of the protocol (caller advances the watermark): move
        the staged partition in as `batch=<id>` and write its manifest.
        `supersedes`: batch ids this batch rewrites (compaction) — recorded
        in THIS batch's manifest so snapshot readers drop the sources
        atomically with this batch's commit.

        Layout: batch=<id>/source=<s>/ — the source subpartition gives
        partition pruning on the hot filter dimension (the Iceberg analog
        is PARTITIONED BY (batch, source, hours(bucket_ts)))."""
        # An uncommitted batch=<id> tree from a crashed earlier attempt may
        # hold source= subpartitions the staged rows no longer produce. The
        # batch is uncommitted, so dropping the whole partition before the
        # rename replaces it rather than merging into it.
        part = self.batch_path(tier, batch_id)
        shutil.rmtree(part, ignore_errors=True)
        # a zero-row stage has no staged directory and commits no partition
        if os.path.isdir(staged.path):
            os.makedirs(self.tier_path(tier), exist_ok=True)
            os.replace(staged.path, part)
        m = Manifest(
            tier, batch_id, staged.n_rows, staged.content_hash, config_hash,
            self._tree_bytes(part), staged.min_ts, staged.max_ts,
            supersedes=sorted(supersedes) if supersedes else None,
        )
        self._write_manifest(m)
        return m

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
        dead = {b for b, m in mans.items() if m.expired}
        for b in committed:
            if b in mans and mans[b].supersedes:
                dead |= set(mans[b].supersedes)
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
                part = self.batch_path(tier, m.batch_id)
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
        m = self.manifest(tier, batch_id)
        if m is None:
            return
        part = self.batch_path(tier, batch_id)
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
