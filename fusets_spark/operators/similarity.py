"""Similarity search over embedding columns (engine extension, round brief).

Brute-force cosine top-k is the exactness baseline (native higher-order
array functions — zip_with + aggregate, JVM-side, no UDF). Top-k NEVER uses
a global window: `orderBy(...).limit(k)` compiles to TakeOrderedAndProject
(per-partition partial top-k, merged on the driver) so the plan stays
parallel at any corpus size; only the k survivors are ranked.

The scale path is random-hyperplane LSH:
  * bucketing — hyperplanes are a deterministic function of
    (table, plane, dim) so bucket assignment is reproducible at any
    parallelism, and the same float64 plane values are embedded in the SQL
    oracle; the corpus side is a numpy kernel and the 1-row query side runs
    the same fold on the driver (_plane_margins, _cell_scores), so the
    query reaches the plan only as literals: its probe list and its vector;
  * multi-probe ANN — the query probes its own bucket plus the buckets
    reached by flipping its lowest-|margin| bits, recovering recall without
    more tables;
  * near-dup — banded MULTI-TABLE LSH: several independent plane sets,
    same-bucket candidate pairs unioned across tables, then the exact
    cosine filter. One table with few planes degrades to ~n²/2^planes
    candidate pairs; multiple tables let each table carry enough planes to
    keep buckets small while the union keeps recall.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..datagen import _hash01
from ..kernels import group_kernel, map_kernel


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns as a double: the left fold
    ((0 + t0) + t1) + … of double(a[k]) * double(b[k]). Out-of-bounds
    terms are NULL (zip_with pads with NULL), so short arrays null out the
    whole sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column | str, dim: int | None = None) -> Column:
    """L2 norm of an array column, with _dot's fold association. Pass the
    column NAME together with dim to get the sum UNROLLED into one parsed
    SQL expression (a single py4j round trip); the unrolled chain
    ((0.0 + t0) + t1) + … is the same association, so the double is the
    same."""
    if dim is None:
        assert not isinstance(a, str)
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    terms = " + ".join(
        f"CAST({a}[{k}] AS DOUBLE) * CAST({a}[{k}] AS DOUBLE)" for k in range(dim)
    )
    return F.expr(f"SQRT(0.0D + {terms})")


def make_planes(n_planes: int, dim: int = 64, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian-ish hyperplanes from the splitmix hash
    (datagen._hash01) — identical at any parallelism, embeddable as plan
    literals (and therefore into a SQL oracle)."""
    planes = np.empty((n_planes, dim))
    for p in range(n_planes):
        u1 = _hash01(np.full(dim, p), np.arange(dim), seed)
        u2 = _hash01(np.full(dim, p), np.arange(dim), seed ^ 0x5A5A)
        planes[p] = np.sqrt(-2 * np.log(u1 + 1e-12)) * np.cos(2 * np.pi * u2)
    return planes


def _embedding_matrix(ids, vectors, dim: int) -> np.ndarray:
    """Stack embeddings into an (n, dim) float64 matrix — the one loader of
    every similarity kernel and query side.

    Malformed-input contract: fail fast, naming the row. A NULL embedding,
    a length other than dim, and a NULL or NaN element each raise
    ValueError; none of them has a bucket, a cell or a cosine."""
    V = np.empty((len(vectors), dim), dtype=np.float64)
    for r, (i, v) in enumerate(zip(ids, vectors)):
        if v is None:
            raise ValueError(f"vec_id {i}: NULL embedding")
        a = np.asarray(v, dtype=np.float64)  # a NULL element becomes NaN
        if a.shape != (dim,):
            raise ValueError(f"vec_id {i}: embedding length {a.size} != dim {dim}")
        V[r] = a
    bad = np.isnan(V).any(axis=1)
    if bad.any():
        raise ValueError(
            f"vec_id {list(ids)[int(bad.argmax())]}: NULL or NaN embedding element"
        )
    return V


def _plane_margins(V: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """V·p for every row p of planes (last axis); V is one vector or a
    stack of them. Each dot is the left fold ((0.0 + v0·p0) + v1·p1) + …,
    one vectorized multiply-add per dimension — never np.dot or @, whose
    pairwise/BLAS summation changes ULPs and can flip a near-zero
    margin's sign. This is the association of the SQL oracle's list_sum
    and of the Catalyst reference forms in tests/reference_impls.py."""
    out = np.empty(V.shape[:-1] + (len(planes),))
    for i, p in enumerate(planes):
        acc = np.zeros(V.shape[:-1])
        for k in range(V.shape[-1]):
            acc += V[..., k] * p[k]
        out[..., i] = acc
    return out


def _cell_scores(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """|c|² − 2·v·c per centroid c (last axis): its argmin is the nearest
    centroid, as |v|² is the same for every cell. v·c is _plane_margins'
    fold and |c|² is float(c @ c), the literal the SQL oracle embeds."""
    n2 = np.array([float(c @ c) for c in C])
    return n2 - 2.0 * _plane_margins(V, C)


def _query_vector(
    embeddings: DataFrame, query_vec_id: int, dim: int | None = None
) -> np.ndarray | None:
    """The query row's embedding, read on the driver with one first() job;
    None when no row has query_vec_id. dim None takes the row's own
    length."""
    row = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .first()
    )
    if row is None:
        return None
    v = row[0]
    if dim is None:
        dim = 0 if v is None else len(v)
    return _embedding_matrix([query_vec_id], [v], dim)[0]


def cosine_topk(embeddings: DataFrame, query_vec_id: int, k: int = 20) -> DataFrame:
    """Exact top-k by cosine similarity to one stored vector. The query row
    is read on the driver (one first() job) and enters the plan as a
    literal, so the plan scans embeddings once, with no join. No row with
    query_vec_id gives an empty frame."""
    q = _query_vector(embeddings, query_vec_id)
    return _ranked_candidates(embeddings, q, k)


def _ranked_candidates(cand: DataFrame, q: np.ndarray | None, k: int) -> DataFrame:
    """Exact cosine of each candidate against the query vector, which
    enters the plan as an array literal, then the ranked top-k, fully
    deterministic (cos DESC, vec_id ASC). No query vector (q None) ranks
    nothing: an empty frame with the same schema.

    Partial top-k (TakeOrderedAndProject — no single-partition global
    sort), then rank ONLY the k survivors (window over ≤k rows)."""
    if q is None:
        cand, q = cand.limit(0), np.zeros(1)
    qvec = F.lit([float(x) for x in q])
    cos = _dot(F.col("embedding"), qvec) / (
        _norm(F.col("embedding")) * _norm(qvec)
    )
    order = (F.col("cos").desc(), F.col("vec_id").asc())
    top = cand.select("vec_id", "label", cos.alias("cos")).orderBy(*order).limit(k)
    # constant partition key: identical ≤k-row cost, but avoids the noisy
    # (and at-scale alarming) WindowExec "No Partition Defined" warning.
    # Must be NON-FOLDABLE (id*0, not lit(0)) or Spark 4's
    # EliminateWindowPartitions folds it away and the warning returns.
    top = top.withColumn("_p", F.col("vec_id") * 0)
    w = Window.partitionBy("_p").orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id",
        "label",
        # cos is signed: normalize -0.0 after rounding (driver hash).
        (F.round("cos", 6) + F.lit(0.0)).alias("cos"),
        "rank",
    )


def _bucket_strings_kernel(
    df: DataFrame,
    sets: list[tuple[str, np.ndarray]],
    dim: int,
    norm_col: str | None = None,
) -> DataFrame:
    """Corpus-side bucket assignment as a vectorized map_kernel
    (guide §4.2) — appends one '0'/'1' bucket-string column per
    (name, planes) set to a frame with vec_id and embedding columns,
    passing every input column through.

    Why not Catalyst: the bucket expression over P planes is a
    ~(P·dim·4)-node tree (casts + literal products + concat); past
    codegen's size limits it evaluates INTERPRETED per row — measured
    0.8 s for ONE 8-plane set over 20 k vectors, and the near-dup query
    carries n_tables sets.

    Each bit is strictly `margin > 0` over _plane_margins' left fold,
    against the same float64 plane values the SQL oracle embeds; the
    Catalyst form in tests/reference_impls.py is pinned bit-identical
    (tests/test_training_ops.py). With norm_col set, the L2 norm is
    emitted too, with `_norm`'s exact association chain."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    def _assign(pdf):
        n = len(pdf)
        V = _embedding_matrix(pdf["vec_id"], pdf["embedding"], dim)
        pdf = pdf.copy()
        for name, planes in sets:
            chars = np.where(
                _plane_margins(V, planes) > 0, ord("1"), ord("0")
            ).astype(np.uint8)
            pdf[name] = [
                bytes(chars[r]).decode("ascii") for r in range(n)
            ]
        if norm_col is not None:
            acc = np.zeros(n, dtype=np.float64)
            for k in range(dim):
                acc += V[:, k] * V[:, k]  # _norm's exact fold
            pdf[norm_col] = np.sqrt(acc)
        yield pdf

    # fresh StructType (never .add on a cached schema — it mutates)
    fields = list(df.schema.fields) + [
        StructField(name, StringType(), False) for name, _ in sets
    ]
    if norm_col is not None:
        fields.append(StructField(norm_col, DoubleType(), False))
    return map_kernel(df, _assign, StructType(fields))


def probe_buckets(qvec: np.ndarray, planes: np.ndarray, n_probes: int) -> list[str]:
    """Query bucket + the n_probes buckets at Hamming distance 1 obtained by
    flipping the lowest-|margin| planes (classic multi-probe LSH). The
    margins are the corpus kernel's fold, so the query's own bucket is the
    one the kernel assigns it; ties flip the lower plane first."""
    margins = _plane_margins(qvec, planes)
    base = ["1" if m > 0 else "0" for m in margins]
    out = ["".join(base)]
    for p in np.argsort(np.abs(margins), kind="stable")[:n_probes]:
        flipped = base.copy()
        flipped[p] = "0" if base[p] == "1" else "1"
        out.append("".join(flipped))
    return out


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 20,
    n_planes: int = 8,
    n_probes: int = 2,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the query's probe
    bucket set (own bucket + n_probes lowest-margin bit flips). A bucket
    filter against the literal probe list replaces the full cross join;
    the probed fraction of the corpus is ~(1 + n_probes)/2^n_planes. No
    row with query_vec_id gives an empty frame."""
    planes = make_planes(n_planes, dim, seed)
    # the 1-row query side runs on the driver through the corpus kernel's
    # own fold (one first() job): its probe list and its vector enter the
    # plan as literals, so the plan scans embeddings once, with no join
    q = _query_vector(embeddings, query_vec_id, dim)
    if q is None:
        return _ranked_candidates(embeddings, None, k)
    bucketed = _bucket_strings_kernel(embeddings, [("bucket", planes)], dim)
    cand = bucketed.filter(
        F.col("bucket").isin(probe_buckets(q, planes, n_probes))
    )
    return _ranked_candidates(cand, q, k)


def kmeans_fit(X: np.ndarray, n_cells: int, iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd k-means for the IVF coarse quantizer: init =
    evenly spaced rows of the (vec_id-sorted) sample, fixed iteration
    count, empty cells keep their previous centroid. Pure numpy on the
    driver — bit-reproducible, so centroids can be embedded as plan
    literals AND regenerated by the SQL oracle."""
    X = np.asarray(X, dtype=np.float64)
    idx = np.linspace(0, len(X) - 1, n_cells).astype(int)
    C = X[idx].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for c in range(n_cells):
            m = a == c
            if m.any():
                C[c] = X[m].mean(0)
    return C


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample: int = 1024,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Fit-once coarse quantizer on a deterministic sample — the same
    fit-once/apply-many pattern as the reference's MOGPRTransformer: the
    first `sample` vectors by id train k-means on the driver (bounded
    collect), then assignment runs distributed against literal centroids.
    At corpus scale the quantizer is trained once on a fixed sample and
    reused across queries/batches."""
    pdf = (
        embeddings.orderBy(id_col)
        .limit(sample)
        .select(id_col, vec_col)
        .toPandas()
    )
    # the quantizer's dim is the sample's: the first non-NULL vector's length
    dim = next((len(v) for v in pdf[vec_col] if v is not None), 0)
    X = _embedding_matrix(pdf[id_col], pdf[vec_col], dim)
    return kmeans_fit(X, n_cells, iters)


def _assign_cells_kernel(embeddings: DataFrame, C: np.ndarray) -> DataFrame:
    """Corpus-side nearest-centroid assignment as a vectorized map_kernel
    (guide §4.2). The Catalyst form — array_sort over n_cells
    structs each holding an unrolled 64-term dot — is a ~1,000-node
    expression tree that exceeds codegen limits and evaluates INTERPRETED
    per row (~0.8 ms/row: 16 s for 20k embeddings on one core).

    The cell is the argmin of _cell_scores, whose fold and |c|² term are
    the ones the SQL oracle and the query side use; np.argmin breaks ties
    toward the lower cell index, like the oracle's (d, c) struct sort. The
    Catalyst form in tests/reference_impls.py is pinned to it
    (tests/test_training_ops.py)."""
    dim = C.shape[1]

    def _assign(pdf):
        V = _embedding_matrix(pdf["vec_id"], pdf["embedding"], dim)
        pdf = pdf.copy()
        pdf["cell"] = np.argmin(_cell_scores(V, C), axis=1).astype(np.int32)
        yield pdf

    from pyspark.sql.types import IntegerType, StructField, StructType

    # fresh StructType: StructType.add MUTATES (and df.schema is cached on
    # the DataFrame), so extending embeddings.schema in place would corrupt
    # the source frame's schema for every later use in the same session
    schema = StructType(
        list(embeddings.schema.fields)
        + [StructField("cell", IntegerType(), False)]
    )
    return map_kernel(embeddings, _assign, schema)


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 20,
    n_cells: int = 16,
    nprobe: int = 2,
    sample: int = 1024,
    iters: int = 10,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN — the centroid-quantizer alternative to hyperplane LSH:
    vectors are assigned to their nearest of n_cells k-means centroids
    (cell = shuffle/partition key at scale); the query probes its `nprobe`
    nearest cells and ranks candidates by exact cosine. Probed fraction of
    the corpus ≈ nprobe/n_cells. No row with query_vec_id gives an empty
    frame.

    centroids: pass a pre-trained quantizer (fit-once/apply-many — the
    production shape: train on one corpus snapshot, reuse across every
    query/batch/SF) to skip the in-plan training collect entirely."""
    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(embeddings, n_cells, sample, iters)
    )
    # the query's probe cells come from the corpus kernel's own scores,
    # computed on the driver (one first() job) and passed in as literals
    q = _query_vector(embeddings, query_vec_id, C.shape[1])
    if q is None:
        return _ranked_candidates(embeddings, None, k)
    cells = np.argsort(_cell_scores(q, C), kind="stable")[:nprobe]
    cand = _assign_cells_kernel(embeddings, C).filter(
        F.col("cell").isin([int(c) for c in cells])
    )
    return _ranked_candidates(cand, q, k)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    n_tables: int = 3,
    seed: int = 7,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded multi-table LSH:
    candidate pairs share a bucket in ANY of n_tables independent plane
    sets; the exact cosine filter (>= threshold) then removes false
    positives. Scale shape: per-table buckets hold ~n/2^n_planes vectors, so
    candidate volume is O(n_tables * n^2/2^n_planes) -- raise n_planes for
    corpus growth and add tables to hold recall, instead of letting one
    low-plane table go quadratic.

    Plan shape (round 7): the heavy per-candidate work never crosses an
    exchange. Every vector carries its bucket in EVERY table, so the
    cross-table dedup that used to be a corpus-scale dropDuplicates
    becomes the LOCAL rule "emit the pair only in the LOWEST table where
    the two sides share a bucket" -- each distinct pair surfaces exactly
    once, with no (vec_a, vec_b) exchange in the plan at all. The exact
    path is one scan + one SMALL exchange (corpus x n_tables rows,
    vector payloads, never per-pair bytes) into a per-(table, bucket)
    kernel that generates pairs AND evaluates the exact cosine in
    vectorized numpy with the identical left-fold float association the
    Catalyst fold used -- results bit-identical to the per-table
    self-join reference (pinned in tests/test_training_ops.py). History:
    the round-6 shape shuffled + sort-aggregated every candidate row
    WITH both embeddings (121 s at 20 k vectors / 18.7 M candidates,
    sf1.0); the round-7 first pass (broadcast id-pair join + Catalyst
    fold cosine) reached ~7.5-10.5 s; the kernel path measures ~4.1 s.

    max_bucket_size: OPT-IN hot-bucket star cap (None = exact all-pairs
    semantics, the default -- pair-level consumers keep every within-bucket
    candidate). Connected-components consumers may set a cap: buckets
    holding more than this many vectors emit a connectivity-preserving STAR
    (bucket-min x rest, m-1 rows) instead of m^2/2 all-pairs, which keeps
    downstream components identical while bounding the candidate volume a
    cluster of m near-identical embeddings can produce (identical vectors
    share every bucket no matter how many planes, so n_planes alone cannot
    prevent the blowup)."""
    plane_sets = [
        (f"_b{t}", make_planes(n_planes, dim, seed + 7919 * t))
        for t in range(n_tables)
    ]
    all_b = [f"_b{t}" for t in range(n_tables)]
    table_structs = [
        F.struct(
            F.lit(t).alias("table_no"), F.col(f"_b{t}").alias("bucket")
        )
        for t in range(n_tables)
    ]

    def _stacked(with_payload: bool) -> DataFrame:
        # one corpus pass: per-vector buckets for ALL tables (assigned by
        # the vectorized kernel — the n_tables interpreted bucket
        # expressions cost ~0.8 s per table set at 20 k vectors),
        # exploded to one row per (vector, table); the payload variant
        # carries the embedding and its norm (computed ONCE per vector
        # with `_norm`'s exact fold association, so bit-identical)
        base = _bucket_strings_kernel(
            embeddings.select("vec_id", "embedding"),
            plane_sets,
            dim,
            norm_col="nrm" if with_payload else None,
        )
        pay_names = ["embedding", "nrm"] if with_payload else []
        return base.select(
            "vec_id",
            *pay_names,
            *all_b,
            F.explode(F.array(*table_structs)).alias("t"),
        ).select(
            "vec_id",
            *pay_names,
            *all_b,
            F.col("t.table_no").alias("table_no"),
            F.col("t.bucket").alias("bucket"),
        )

    if max_bucket_size is None:
        # EXACT path (round 7, second pass): ONE corpus scan feeding a
        # per-(table, bucket) vectorized kernel that generates the pairs
        # AND evaluates the exact cosine in numpy. The previous exact
        # shape (broadcast self-join on bare ids + two broadcast
        # embedding attaches + per-pair Catalyst fold) was already
        # exchange-free, but the fold cosine ran INTERPRETED per pair —
        # ~18.7 M pairs × 64 terms dominated the query at sf1.0. The
        # kernel computes each pair's dot with the SAME left-fold float
        # association ((0.0 + t0) + t1) + … — one vectorized
        # multiply-accumulate per dimension, never np.dot (pairwise
        # summation would change ULPs near the threshold) — and each
        # vector's norm comes from the bucket kernel's numpy left-fold,
        # pinned bit-identical to Catalyst `_norm`
        # (test_bucket_kernel_matches_expression), so cosines are
        # bit-identical (pinned against the naive per-table self-join
        # reference in tests/test_training_ops.py). The threshold filter and the
        # 6-dp rounding stay in Catalyst on the kernel's raw output, so
        # NaN/rounding semantics are exactly the join form's (the kernel
        # over-emits NaN cosines for Catalyst to keep, matching Spark's
        # NaN-largest comparison order).
        #
        # Shuffle cost: each vector crosses the (table_no, bucket)
        # exchange once per table with its 64-float payload — corpus ×
        # n_tables bytes, NOT per-pair bytes; kernels.group_kernel's
        # exchange is AQE-exempt so the kernel runs wide even though the
        # stacked table is only a few MB (§2.5). Scale note: a bucket of m
        # vectors is one kernel call with m²/2 candidate pairs — the
        # same volume the self-join emitted. The pairs are generated in
        # row bands: bounded scratch, not bounded output. `outs` still
        # holds every threshold-surviving pair of the bucket, so a hot
        # bucket of near-identical vectors can fill one task's memory.
        # Exact-path consumers of clustered corpora (and components
        # consumers at 100-TB scale) should set max_bucket_size, the
        # opt-in star cap below, which bounds the volume itself.
        stacked = _stacked(with_payload=True)
        import pandas as pd

        out_schema = "vec_a long, vec_b long, cos double"
        prev_b = all_b  # bucket-string columns, table order

        def _bucket_pairs(pdf):
            t = int(pdf["table_no"].iat[0])
            m = len(pdf)
            if m < 2:
                return pd.DataFrame(
                    {
                        "vec_a": np.array([], np.int64),
                        "vec_b": np.array([], np.int64),
                        "cos": np.array([], np.float64),
                    }
                )
            pdf = pdf.sort_values("vec_id", kind="stable")
            ids = pdf["vec_id"].to_numpy()
            V = _embedding_matrix(ids, pdf["embedding"], dim)
            nrm = pdf["nrm"].to_numpy()  # kernel fold, bit-equal to _norm
            codes = [
                pd.factorize(pdf[prev_b[tp]])[0] for tp in range(t)
            ]
            outs = [
                pd.DataFrame(
                    {
                        "vec_a": np.array([], np.int64),
                        "vec_b": np.array([], np.int64),
                        "cos": np.array([], np.float64),
                    }
                )
            ]
            # row-banded pair generation: anchors i in [s, e) pair with
            # every j > i. Band size is chosen so one band's pair count is
            # ~2^21 — peak scratch stays bounded no matter how hot the
            # bucket (no O(m²)-at-once triu materialization).
            band = max(1, (1 << 21) // m)
            for s in range(0, m - 1, band):
                e = min(s + band, m - 1)
                # ia = s,s,…(m-1-s times), s+1,… ; ib = the j > ia runs
                counts = m - 1 - np.arange(s, e)
                ia = np.repeat(np.arange(s, e), counts)
                ib = np.concatenate(
                    [np.arange(i + 1, m) for i in range(s, e)]
                )
                # strictly increasing ids (mirrors vec_id < r_vec_id —
                # duplicate ids never self-pair); lowest-shared-table
                # dedup: emit in table t only when the two sides disagree
                # in EVERY earlier table's bucket
                keep = ids[ia] < ids[ib]
                for c in codes:
                    keep &= c[ia] != c[ib]
                ia, ib = ia[keep], ib[keep]
                if len(ia) == 0:
                    continue
                acc = np.zeros(len(ia), dtype=np.float64)
                ta = np.empty(len(ia), dtype=np.float64)
                tb = np.empty(len(ia), dtype=np.float64)
                for k in range(dim):
                    np.take(V[:, k], ia, out=ta)
                    np.take(V[:, k], ib, out=tb)
                    ta *= tb
                    acc += ta  # exact left-fold: ((0+t0)+t1)+…
                cos = acc / (nrm[ia] * nrm[ib])
                sel = (cos >= threshold) | np.isnan(cos)
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[ia[sel]],
                            "vec_b": ids[ib[sel]],
                            "cos": cos[sel],
                        }
                    )
                )
            return pd.concat(outs, ignore_index=True)

        raw = group_kernel(
            stacked, _bucket_pairs, out_schema, by=("table_no", "bucket"),
            hash_on=(),
        )
        return (
            raw.filter(F.col("cos") >= threshold)
            .select(
                "vec_a",
                "vec_b",
                (F.round("cos", 6) + F.lit(0.0)).alias("cos"),
            )
        )
    else:
        # CAPPED path (opt-in, for components consumers): per-bucket array
        # combinatorics with the star cap, then pair-level dedup (the cap
        # bounds the volume, so the exchange is small by construction) and
        # two broadcast joins to attach the embeddings for the verify.
        stacked = _stacked(with_payload=False)
        buckets = stacked.groupBy("table_no", "bucket").agg(
            F.sort_array(F.collect_list("vec_id")).alias("vs")
        )
        # The bucket table is a few KB (2^n_planes * n_tables rows), so AQE
        # size-based coalescing would collapse the downstream pair explode
        # -- up to max_bucket_size^2/2 rows PER bucket row -- onto 1-2
        # tasks. A user repartition by the bucket key is exempt from AQE
        # coalescing and spreads the explode across the cluster.
        n_part = embeddings.sparkSession.sparkContext.defaultParallelism * 2
        buckets = buckets.repartition(n_part, "table_no", "bucket")
        all_pairs = F.expr(
            "flatten(transform(vs, (x, i) -> "
            "transform(slice(vs, i + 2, size(vs)), "
            "y -> struct(x as vec_a, y as vec_b))))"
        )
        star_pairs = F.expr(
            "transform(slice(vs, 2, size(vs)), "
            "y -> struct(vs[0] as vec_a, y as vec_b))"
        )
        pair_expr = F.when(
            F.size("vs") <= max_bucket_size, all_pairs
        ).otherwise(star_pairs)
        pairs = (
            buckets.select(F.explode(pair_expr).alias("p"))
            .select("p.vec_a", "p.vec_b")
            .dropDuplicates(["vec_a", "vec_b"])
        )
        emb = embeddings.select(
            "vec_id", "embedding", _norm("embedding", dim).alias("nrm")
        )
        ea = emb.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
        )
        eb = emb.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("nrm").alias("nb"),
        )
        cand = pairs.join(F.broadcast(ea), "vec_a").join(
            F.broadcast(eb), "vec_b"
        )
    # per-pair dot stays the higher-order form: measured 2x FASTER than a
    # 64-term unrolled chain here (the unrolled Project falls out of
    # whole-stage codegen into per-node interpreted eval)
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(
            "vec_a",
            "vec_b",
            (F.round("cos", 6) + F.lit(0.0)).alias("cos"),
        )
    )
