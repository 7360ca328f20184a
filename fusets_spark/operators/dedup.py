"""Deduplication operators for training-data pipelines (engine extension
beyond the reference — see round brief: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup).

All hash math is engine-portable by construction: md5 hex strings (identical
in Spark and DuckDB) with LEXICOGRAPHIC string mins for MinHash — no
engine-specific integer hashing anywhere, so every operator here has an
exact SQL oracle. Everything is native DataFrame expressions (no UDFs):
shingling via transform/sequence, banding via md5 of concatenated minhashes,
candidate pairs via per-bucket array combinatorics after ONE groupBy on the
band key (no self-join).

Scale notes:
  * candidate generation is always BUCKETED (band key / shared shingle /
    LSH bucket) — never an all-pairs cross join;
  * minhash_lsh_pairs frequency-caps HOT band buckets (> max_bucket_size
    docs): they emit a connectivity-preserving star (bucket-min × rest,
    m−1 rows) instead of m²/2 all-pairs — the boilerplate job-killer;
  * ngram_jaccard_pairs frequency-caps hot shingles before the self-join
    (one boilerplate shingle shared by m docs is m²/2 join rows otherwise)
    and then verifies candidates with the EXACT Jaccard over full sets;
  * simhash is a pure per-row scan (a numpy vote-fold kernel, zero shuffle).

Cache lifetime: ngram_jaccard_pairs .persist()s its shingle table — its
plan genuinely consumes it on several branches (frequency cap, both
self-join sides, exact-intersection verify). minhash_lsh_pairs does NOT:
since the bucket-groupBy rewrite its whole derivation is one
single-consumer subtree, where a persist costs a materialization pass
and saves nothing. Caches are deliberately left alive for the
SparkSession (these tables ARE the materialized index a production
corpus keeps hot; Spark evicts LRU under memory pressure). Long-lived
shared sessions running many one-shot dedups should call
spark.catalog.clearCache() between ops (bench.py does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import map_kernel


def _words():
    """Whitespace tokenization of `text` (built lazily: constructing a
    Column requires an active SparkContext, so no module-level Columns)."""
    return F.split(F.trim(F.col("text")), " +")


def _shingles(n: int = 3):
    """n-word shingles of the whitespace-tokenized text (0-based arrays).
    Guarded for size(words) < n: sequence(0, size-n) would run DESCENDING
    and index past the array (INVALID_ARRAY_INDEX under ANSI); short docs
    yield an empty shingle array instead."""
    idx = ", ".join(f"words[i+{k}]" for k in range(n))
    return F.expr(
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(0, size(words)-{n}), i -> concat_ws(' ', {idx}))"
        f" ELSE array() END"
    )


def _doc_shingles(
    docs: DataFrame, shingle_words: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) rows; distinct=False skips the dedup SHUFFLE of
    the exploded shingle table for consumers whose aggregation is
    duplicate-insensitive (min for MinHash) — the groupBy then partial-
    aggregates map-side and only one row per (doc, agg) crosses the wire
    instead of every shingle occurrence."""
    sh = docs.withColumn("words", _words()).select(
        "doc_id", F.explode(_shingles(shingle_words)).alias("shingle")
    )
    return sh.distinct() if distinct else sh


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by full-text md5: one survivor (min doc_id) per digest."""
    return (
        docs.select(F.col("doc_id"), F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 8, shingle_words: int = 3
) -> DataFrame:
    """MinHash signature per doc: FOUR sub-hashes per md5 — hash i is
    min over shingles of substr(md5(shingle || ':' || i//4), 8*(i%4)+1, 8).
    One 128-bit md5 yields four independent 32-bit (8-hex-char, fixed
    width, so string min == numeric min) hash families, quartering the
    digest count on the hot shingle stream vs one-md5-per-hash. The
    formula is portable (md5 + substring exist in every engine, incl. the
    DuckDB oracle).

    Round 7: signatures are built by a VECTORIZED kernel (map_kernel) —
    bit-identical to the expression form (the 8-hex-char substrings are
    exactly the digest's big-endian uint32 words, and fixed-width-hex
    string min == uint32 min; pinned in tests/test_training_ops.py) —
    which removes both the shingle explode (rows × ~n_words) and its
    groupBy from the plan entirely: one scan, zero shuffle, 8.5 s → 2.1 s
    at sf1.0. Per batch, each distinct shingle is md5-hashed once (dict
    cache — boilerplate shingles repeat heavily), the per-doc mins are one
    numpy minimum.reduceat over the gathered digest-word table, and
    duplicates need no handling because min is duplicate-insensitive.
    map_kernel fans single-file inputs out first, so the kernel is never
    pinned to one core by a lone parquet row group."""
    import numpy as np
    import pandas as pd

    n_digests = (n_hashes + 3) // 4
    names = [f"mh{i}" for i in range(n_hashes)]

    def _sig(pdf):
        import binascii
        import hashlib
        import re

        split = re.compile(" +").split
        cache: dict[str, int] = {}
        rows: list[bytes] = []  # n_digests*16 raw md5 bytes per shingle
        flat: list[int] = []
        starts: list[int] = []
        ids: list[int] = []
        for doc_id, t in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
            if t is None:
                continue
            words = split(t.strip(" "))
            if len(words) < shingle_words:
                # mirrors the expression form: no shingles -> the doc
                # has no signature row at all
                continue
            ids.append(doc_id)
            starts.append(len(flat))
            for i in range(len(words) - shingle_words + 1):
                s = " ".join(words[i : i + shingle_words])
                j = cache.get(s)
                if j is None:
                    j = len(rows)
                    cache[s] = j
                    rows.append(
                        b"".join(
                            hashlib.md5(
                                (s + ":" + str(d)).encode("utf-8")
                            ).digest()
                            for d in range(n_digests)
                        )
                    )
                flat.append(j)
        if not ids:
            return
        # digest words, big-endian uint32: word w of digest d is the
        # hex substring substr(md5, 8*w+1, 8) as a number
        table = np.frombuffer(b"".join(rows), dtype=">u4").reshape(
            -1, 4 * n_digests
        )[:, :n_hashes]
        mins = np.minimum.reduceat(
            table[np.asarray(flat, dtype=np.int64)],
            np.asarray(starts, dtype=np.int64),
            axis=0,
        )
        data = {"doc_id": np.asarray(ids, dtype=np.int64)}
        for k in range(n_hashes):
            # ufunc outputs are native-endian regardless of the input's
            # byte order — cast back to big-endian so the hex bytes come
            # out in digest order
            hx = binascii.hexlify(
                mins[:, k].astype(">u4").tobytes()
            ).decode("ascii")
            data[names[k]] = [
                hx[8 * i : 8 * i + 8] for i in range(len(ids))
            ]
        yield pd.DataFrame(data)

    schema = "doc_id long, " + ", ".join(f"{n} string" for n in names)
    return map_kernel(docs.select("doc_id", "text"), _sig, schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_words: int = 3,
    max_bucket_size: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ANY LSH band (band key =
    md5 of the band's concatenated minhashes). Self-join per band, a < b.

    RETURN-VALUE CONTRACT: with the default max_bucket_size=None every
    same-bucket pair is emitted (exact all-pairs semantics — safe for
    per-pair consumers: exact-Jaccard verification, pair scoring). The
    cap is OPT-IN because it changes the pair set: HOT buckets
    (> max_bucket_size docs) emit a STAR instead of all-pairs, which
    preserves connectivity (components-identical) but DROPS within-bucket
    candidate pairs — only connected-components consumers should enable
    it.

    HOT-BUCKET frequency cap (the 100-TB boilerplate job-killer): a band
    bucket holding m identical/near-identical docs contributes m²/2
    candidate rows — one boilerplate cluster of 10⁵ docs is 5·10⁹ rows
    PER BAND. Buckets larger than `max_bucket_size` therefore emit a
    STAR instead of all-pairs: (bucket-min doc) × (every other doc), m−1
    rows. Unlike the hot-shingle DROP in ngram_jaccard_pairs, the star
    keeps the bucket fully connected, so downstream connected components
    (neardup_components) produce IDENTICAL clusters to the uncapped
    all-pairs graph — only the redundant within-cluster pair edges are
    elided. Cold buckets (≤ cap) keep exact all-pairs semantics.

    Plan shape: ONE groupBy on the band key collects each bucket's
    sorted doc array (cold arrays bounded by the cap), and the pairs come
    from JVM-side array combinatorics (transform/slice/flatten) — no
    self-join at all, so the band key is shuffled once instead of thrice
    (two join sides + distinct). Measured at sf0.1 this halves the old
    self-join's stage count and beats the window-function formulation by
    ~25% (the window adds a per-partition sort the agg doesn't need).
    Scale note: a HOT bucket's collect_list is O(bucket size) in one
    reducer row (~16 B/doc id); exact duplicates — the dominant source of
    mega-buckets — should be removed with exact_dedup FIRST, which keeps
    near-dup bucket sizes in the 10³-10⁵ range (≤ a few MB per row)."""
    rows_per_band = n_hashes // bands
    # The whole derivation is ONE plan subtree (signatures -> band
    # explode -> bucket groupBy -> pair explode), and every in-repo
    # consumer — including neardup_components since its edge reversal
    # moved into the same explode — evaluates it exactly once per
    # action, so no persist here: caching a single-consumer subtree
    # costs a materialization pass and saves nothing. At web scale the
    # signature table IS the thing you materialize — but explicitly, as
    # a written table in the pipeline, not as an operator-local cache.
    sig = minhash_signatures(docs, n_hashes, shingle_words)
    band_structs = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_no"),
                F.md5(F.concat_ws("|", *parts)).alias("bkey"),
            )
        )
    # one plan subtree: bands come from an explode, not a 4-way union that
    # re-derives the signatures per band
    stacked = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", F.col("b.band_no").alias("band_no"), F.col("b.bkey").alias("bkey"))
    buckets = stacked.groupBy("band_no", "bkey").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    all_pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), "
        "y -> struct(x as doc_a, y as doc_b))))"
    )
    star_pairs = F.expr(
        "transform(slice(ds, 2, size(ds)), "
        "y -> struct(ds[0] as doc_a, y as doc_b))"
    )
    pair_expr = (
        all_pairs
        if max_bucket_size is None
        else F.when(F.size("ds") <= max_bucket_size, all_pairs).otherwise(
            star_pairs
        )
    )
    out = buckets.select(F.explode(pair_expr).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )
    # distinct=False skips the cross-band dedup SHUFFLE for consumers that
    # are duplicate-insensitive downstream — neardup_components distincts
    # its (bidirectional) edge list anyway, so the pair-level distinct
    # there is a pure extra stage (≤ `bands`× duplication in between).
    return out.distinct() if distinct else out


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash as a portable bit-string: word -> md5 hex; hex nibble j
    supplies bit 4j..4j+3; each set bit votes +1, clear bit -1; simhash bit
    = 1 iff the vote sum > 0. Returned as a `bits`-char '0'/'1' string;
    1 <= bits <= 128 (the md5 width), else ValueError.

    Round 7: the vote fold runs as a VECTORIZED numpy kernel (map_kernel)
    instead of the interpreted per-element Catalyst fold — same integer
    votes, bit-identical output (pinned against the expression form in
    tests/reference_impls.py), ~8× the throughput at sf1.0 (19.6 s →
    2.5 s): per batch, each distinct word is md5-hashed once (dict cache),
    the vote rows come from one unpackbits over the first ceil(bits/8)
    digest bytes, sliced to `bits`, and each doc's vote sum is one numpy
    gather+sum. Still zero shuffle on a well-partitioned corpus;
    map_kernel fans single-file inputs out first, because a lone parquet
    row group would pin the kernel to one core.
    Every word OCCURRENCE votes (duplicates kept)."""
    import numpy as np
    import pandas as pd

    if not 1 <= bits <= 128:
        raise ValueError(f"simhash bits must be in 1..128 (md5 width), got {bits}")
    nbytes = -(-bits // 8)

    def _fold(pdf):
        import hashlib
        import re

        split = re.compile(" +").split
        n = len(pdf)
        # distinct-word digest cache: md5 each word once per batch
        word_ix: dict[str, int] = {}
        digests: list[bytes] = []
        doc_words: list[list[int] | None] = []
        for t in pdf["text"]:
            if t is None:
                # matches the expression form: concat_ws over the NULL
                # fold result yields an empty string
                doc_words.append(None)
                continue
            idxs = []
            for w in split(t.strip(" ")):
                j = word_ix.get(w)
                if j is None:
                    j = len(digests)
                    word_ix[w] = j
                    digests.append(
                        hashlib.md5(w.encode("utf-8")).digest()[:nbytes]
                    )
                idxs.append(j)
            doc_words.append(idxs)
        if digests:
            table = np.frombuffer(
                b"".join(digests), dtype=np.uint8
            ).reshape(-1, nbytes)
            # unpackbits is MSB-first per byte == hex-nibble bit order
            bitrows = np.unpackbits(table, axis=1)[:, :bits]
            votes = bitrows.astype(np.int32) * 2 - 1
        else:
            votes = np.zeros((0, bits), np.int32)
        sums = np.zeros((n, bits), dtype=np.int64)
        for i, idxs in enumerate(doc_words):
            if idxs:
                sums[i] = votes[idxs].sum(axis=0, dtype=np.int64)
        chars = np.where(sums > 0, ord("1"), ord("0")).astype(np.uint8)
        sims = [
            bytes(chars[i]).decode("ascii")
            if doc_words[i] is not None
            else ""
            for i in range(n)
        ]
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].to_numpy(), "simhash": sims}
        )

    return map_kernel(
        docs.select("doc_id", "text"), _fold, "doc_id long, simhash string"
    )


def neardup_components(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 25,
    jump_after: int = 3,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs + survivor
    selection — the step that turns PAIRS into a usable dedup at corpus
    scale (transitive closure: a~b, b~c ⇒ one cluster, keep one doc).

    Iterative min-label propagation with POINTER JUMPING (the
    large-star/small-star family): every doc starts labeled with itself;
    each materialized check (1) pushes labels across edges and keeps the
    per-doc min — 3 folds on the first check, 2 after, with convergence
    read off the LAST fold (the count action, not the fold, is the
    per-check fixed cost, and a last-fold no-op proves a propagation
    fixed point, so the common shallow graph finishes in ONE job) —
    then (2) replaces each doc's label by its label's own label, twice.
    Step (2) quarters the remaining pointer depth per iteration, so
    convergence is O(log diameter) rounds — a chain of n duplicates
    (boilerplate-heavy corpora) resolves in ~log2(n) folds instead of n.
    localCheckpoint() truncates the iterative lineage so the plan does
    not grow per round. Docs with no candidate pair are singleton
    components.

    Raises RuntimeError if max_iter rounds did not converge (silently
    returning partially-propagated labels would produce WRONG components
    that only an exact-closure oracle would catch).

    jump_after: pointer jumping starts only after this many plain
    propagation rounds. Real near-dup graphs are overwhelmingly shallow
    (boilerplate clusters, diameter 2-4) and each jump costs an extra
    join + materialization per round — so the common case converges on
    cheap fold-only rounds, while a pathological deep chain still
    finishes in jump_after + O(log diameter) rounds (chain-of-1000 test:
    ≤15).

    Output: (doc_id, component, is_survivor) with component = min doc_id of
    the cluster, survivor = the min doc itself.
    _rounds_out: optional list; the executed round count is appended
    (test/metrics hook)."""
    # Both edge directions from ONE explode — a unionByName of the
    # forward and reversed pair frames would put the (possibly
    # expensive) candidate-pair derivation into the plan TWICE and
    # evaluate it twice in round 1's job.
    # LAZY checkpoint: round 1's single job materializes the edge list
    # (and truncates its lineage for rounds 2+) — an eager checkpoint
    # here would spend one whole extra job on it. The initial labels need
    # no checkpoint at all: they are a bare projection of the doc ids,
    # consumed once inside round 1's plan.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = docs.select(F.col("doc_id").alias("doc")).withColumn(
        "label", F.col("doc")
    )
    changed = -1
    rounds = 0
    while rounds < max_iter:
        # TWO propagation folds per materialized convergence check: the
        # count action — not the fold — is the per-round fixed cost
        # (job launch + result round trip). `mid` carries the label
        # from BETWEEN the folds (the null-min trick: prop rows
        # contribute NULL, so min(mid) recovers each doc's own
        # post-fold-1 label), and the convergence test is
        # "did the SECOND fold change anything vs the first" —
        # label < mid. If fold 2 was a no-op, fold 1's output was
        # already a fixed point of the propagation operator, which (by
        # the min-fold + symmetric-edge argument in the docstring) IS
        # full convergence. The usual shallow LSH graph (near-clique
        # buckets, diameter ≤ 2) therefore converges in ONE
        # materialized job — fold 1 finishes it, fold 2 confirms it,
        # both inside the same count — where a check-then-confirm loop
        # would launch two. max_iter is a fold budget rounded up to the
        # enclosing check (a check may run up to n_folds - 1 folds past
        # it before the convergence test fires: 3 on the four-fold first
        # check, 1 on later checks).
        # The FIRST check runs FOUR folds: LSH candidate graphs are
        # overwhelmingly propagation-depth ≤ 3 (near-clique buckets
        # chained across bands; depth 2 dominates small corpora, depth 3
        # shows up once band-collision chains span more buckets — the
        # 10× corpus measured exactly that, costing a whole second
        # check job under the old 3-fold first check), so folds 1-3
        # finish them and fold 4 confirms — the whole query then needs
        # exactly ONE materialized job. A fold INSIDE the job is one
        # extra join+groupBy stage (~0.2 s at these sizes); a second
        # CHECK is a full job launch + count round trip (~1.5-2 s), so
        # over-folding by one is cheap insurance both ways.
        # Later checks drop back to two folds between jump pairs.
        n_folds = 4 if rounds == 0 else 2
        cur = labels.select("doc", "label")
        for f in range(n_folds):
            rounds += 1
            if f == n_folds - 1:  # snapshot pre-last-fold labels as mid
                cur = cur.select(
                    "doc", "label", F.col("label").alias("mid")
                )
                prop = edges.join(cur, edges["a"] == cur["doc"]).select(
                    F.col("b").alias("doc"),
                    "label",
                    F.lit(None).alias("mid"),
                )
                cur = (
                    cur.unionByName(prop)
                    .groupBy("doc")
                    .agg(
                        F.min("label").alias("label"),
                        F.min("mid").alias("mid"),  # unique per doc
                    )
                )
            else:
                prop = edges.join(cur, edges["a"] == cur["doc"]).select(
                    F.col("b").alias("doc"), "label"
                )
                cur = (
                    cur.unionByName(prop)
                    .groupBy("doc")
                    .agg(F.min("label").alias("label"))
                )
        # LAZY checkpoint + full-filter count: ONE Spark job both
        # materializes this round's labels (all partitions — no limit(),
        # which could truncate the checkpoint) and computes the change
        # count. The eager-checkpoint-then-count shape launched two jobs
        # per round, and per-round job launch overhead dominates the
        # loop's wall time on small-to-medium graphs.
        hop = cur.localCheckpoint(eager=False)
        # Convergence check BEFORE the jump: the jump below is purely an
        # accelerator for deep components.
        changed = hop.filter(F.col("label") < F.col("mid")).count()
        if changed == 0:
            labels = hop.drop("mid")
            break
        if rounds <= jump_after:
            labels = hop.drop("mid")
            continue
        # pointer jumping: label <- label(label). Every label is itself a
        # doc id, and a parent's label is ≤ its own id by the min-fold
        # invariant, so each self-join halves the pointer depth. Applied
        # TWICE per iteration (matching the two folds sharing this job
        # cadence): depth quarters per materialization, so a chain of n
        # still resolves in O(log n) folds. Both jumps read the
        # checkpointed `hop`; the second jump's inputs re-derive the
        # first jump within the same job — duplicate compute of one
        # bounded join against launching a second job, the right trade
        # on any graph shallow enough to be re-derived (and deep tiers
        # converge in strictly fewer materializations).
        jumped = hop.drop("mid")
        for _j in range(2):
            parent = jumped.select(
                F.col("doc").alias("p_doc"), F.col("label").alias("p_label")
            )
            jumped = jumped.join(
                parent, jumped["label"] == parent["p_doc"], "left"
            ).select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce("p_label", "label")
                ).alias("label"),
            )
        labels = jumped.localCheckpoint()
    if changed != 0:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iter} rounds — "
            "pair graph deeper than expected; raise max_iter"
        )
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    return labels.select(
        F.col("doc").alias("doc_id"),
        F.col("label").alias("component"),
        (F.col("doc") == F.col("label")).alias("is_survivor"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_words: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs sharing ≥1 NON-HOT shingle.

    Scale path: candidate generation groups docs per shingle and emits
    within-group pair combinatorics only for shingles whose document
    frequency ≤ max_doc_freq — a boilerplate shingle shared by m docs
    would otherwise contribute m²/2 rows. The Jaccard value is computed
    EXACTLY over the candidates' full shingle sets (hot shingles
    included), so the cap only bounds candidate generation; pairs whose
    overlap is exclusively boilerplate are the accepted recall loss.

    r7 shape (guide §3.3, §8): the old exact-intersection step joined
    every candidate pair against BOTH docs' full shingle sets
    (candidates × shingles-per-doc intermediate rows — 72 M rows at
    sf0.1 for 1.1 M candidates, 17.7 s). The shared-RARE-shingle count
    per pair already falls out of the pair-generation explode itself
    (the shingle table is distinct per doc, so counting a pair's
    emissions counts its shared rare shingles), and the hot remainder is
    a per-doc hot-shingle ARRAY (hot shingles are few by definition)
    attached to each pair once: n_inter = n_rare + |hot_a ∩ hot_b|.
    Exact same candidates, exact same Jaccard; the candidate × shingle
    blow-up join is gone."""
    # the distinct shingle table feeds the per-shingle doc lists, the
    # hot-membership join and the per-doc sizes — persist it instead of
    # re-deriving the explode + distinct per consumer (MEMORY_AND_DISK;
    # at corpus scale this is the materialized shingle index)
    sh = _doc_shingles(docs, shingle_words).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    groups = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    # rare shingles: emit each within-group (doc_a < doc_b) pair; the
    # per-pair emission count IS the shared-rare-shingle count. The
    # explode input is a tiny aggregated table — round-robin repartition
    # (AQE-exempt) so the pair expansion runs wide, not on the 1-2 tasks
    # AQE's size-based coalescing would leave.
    n_fan = docs.sparkSession.sparkContext.defaultParallelism * 4
    rare_pairs = (
        groups.filter(F.size("ds") <= max_doc_freq)
        .repartition(n_fan)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x as doc_a, y as doc_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    # hot remainder: per-doc sorted array of its hot shingles (distinct
    # hot shingles are few — that is what makes them hot), attached to
    # each candidate pair once; pairs sharing only hot shingles are NOT
    # candidates (unchanged contract). Gated on a BOUNDED scalar action
    # (count of the aggregated shingle-frequency table, also warms the
    # persisted shingle index): corpora with no over-cap shingle skip
    # the two pair-table joins entirely — they would join against an
    # empty side yet still shuffle every candidate pair twice.
    n_hot = groups.filter(F.size("ds") > max_doc_freq).count()
    if n_hot == 0:
        inter = rare_pairs.select(
            "doc_a", "doc_b", F.col("n_rare").alias("n_inter")
        )
    else:
        hot_sets = (
            sh.join(
                groups.filter(F.size("ds") > max_doc_freq).select("shingle"),
                "shingle",
            )
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("shingle")).alias("hs"))
        )
        ha = hot_sets.select(
            F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")
        )
        hb = hot_sets.select(
            F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")
        )
        inter = (
            rare_pairs.join(ha, "doc_a", "left")
            .join(hb, "doc_b", "left")
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("n_rare")
                    + F.when(
                        F.col("ha").isNotNull() & F.col("hb").isNotNull(),
                        F.size(F.array_intersect("ha", "hb")).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                ).alias("n_inter"),
            )
        )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select(
        "doc_a", "doc_b", "n_inter", F.round("jaccard", 6).alias("jaccard")
    )
