"""Training-data pipeline operators: ANN recall, LSH determinism,
multimodal stub plumbing, lang-id heuristic on crafted text."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def test_ann_recall_vs_exact(spark):
    from fusets_spark.operators.similarity import ann_topk_lsh, cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = set(
        cosine_topk(emb, 0, k=10).toPandas()["vec_id"].tolist()
    )
    approx = set(
        ann_topk_lsh(emb, 0, k=10, n_planes=6).toPandas()["vec_id"].tolist()
    )
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall {recall} suspiciously low"
    assert 0 in approx  # the query vector always lands in its own bucket


def test_lsh_bucket_deterministic_across_partitioning(spark):
    from fusets_spark.operators.similarity import (
        _bucket_strings_kernel,
        make_planes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sets = [("bucket", make_planes(12, 64, 42))]
    a = _bucket_strings_kernel(emb, sets, 64).select("vec_id", "bucket").toPandas()
    b = (
        _bucket_strings_kernel(emb.repartition(13), sets, 64)
        .select("vec_id", "bucket")
        .toPandas()
    )
    a = a.sort_values("vec_id").reset_index(drop=True)
    b = b.sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_bucket_kernel_matches_expression(spark):
    """The mapInPandas bucket-assignment kernel must be BIT-IDENTICAL to
    the `_bucket_expr` Catalyst reference on the real corpus, for both the
    ann plane set and every near-dup table's set, and its norm column must
    be bit-identical to the `_norm` unrolled expression (int64 bit compare
    — a single flipped near-zero margin would change a bucket string)."""
    import numpy as np
    from reference_impls import _bucket_expr

    from fusets_spark.operators.similarity import (
        _bucket_strings_kernel,
        _norm,
        make_planes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sets = [("ann", make_planes(8, 64, 42))] + [
        (f"_b{t}", make_planes(5, 64, 7 + 7919 * t)) for t in range(3)
    ]
    got = (
        _bucket_strings_kernel(
            emb.select("vec_id", "embedding"), sets, 64, norm_col="nrm"
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ref = (
        emb.select(
            "vec_id",
            *[
                _bucket_expr("embedding", planes).alias(name)
                for name, planes in sets
            ],
            _norm("embedding", 64).alias("nrm"),
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    for name, _ in sets:
        assert (got[name] == ref[name]).all(), name
    assert (
        got["nrm"].to_numpy().view(np.int64)
        == ref["nrm"].to_numpy().view(np.int64)
    ).all()


def test_ngram_jaccard_hot_shingle_capped(spark):
    """One boilerplate shingle shared by ALL docs must not make candidate
    generation quadratic: with the doc-frequency cap, pairs whose only
    overlap is the hot shingle never become candidates, while true near-dups
    keep their EXACT Jaccard (hot shingle still counted in the value)."""
    from fusets_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved worldwide"
    rows = [
        (i, f"unique{i}a unique{i}b unique{i}c unique{i}d {boiler}")
        for i in range(40)
    ]
    # one true near-dup pair sharing a rare 4-gram prefix
    rows.append((100, f"shared one two three four tail100 {boiler}"))
    rows.append((101, f"shared one two three four tail101 {boiler}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(
        docs, shingle_words=4, threshold=0.0, max_doc_freq=10
    ).toPandas()
    # threshold=0 ⇒ output == candidate set: only the true pair survives
    assert len(got) == 1
    assert (got.loc[0, "doc_a"], got.loc[0, "doc_b"]) == (100, 101)
    # The Jaccard VALUE still counts hot shingles: 10-word docs have 7
    # 4-gram shingles; 100/101 share 'shared one two three',
    # 'one two three four' and the boilerplate shingle -> 3/(7+7-3)
    assert got.loc[0, "n_inter"] == 3
    assert abs(got.loc[0, "jaccard"] - 3 / 11) < 1e-6


def test_shingles_short_doc_ansi_safe(spark):
    """Docs shorter than the shingle width must yield zero shingles, not an
    ANSI INVALID_ARRAY_INDEX (sequence(0, size-n) runs descending)."""
    from fusets_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "a full five word document here")],
        "doc_id long, text string",
    )
    got = minhash_signatures(docs, n_hashes=2, shingle_words=3).toPandas()
    assert got["doc_id"].tolist() == [2]


def test_simhash_single_scan_no_shuffle(spark):
    """simhash is a pure per-row kernel: no shuffled aggregation may appear
    (the old words×64 explode forced two). The ONLY exchange allowed is the
    scale-adaptive round-robin fan-out for narrow inputs (a single parquet
    row group pins the kernel to one core) — and on an input that already
    has enough partitions there must be NO exchange at all."""
    from fusets_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = simhash(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # fan-out only (single-file input)
    wide = docs.repartition(
        spark.sparkContext.defaultParallelism
    )
    plan = simhash(wide)._jdf.queryExecution().executedPlan().toString()
    # strip the input repartition itself: no FURTHER exchange added
    assert plan.count("Exchange") == 1 and "RoundRobin" in plan


def test_multimodal_stub_pipeline(spark):
    from fusets_spark.operators.multimodal import (
        attach_binary_payload,
        extract_media_features,
        frame_sample_plan,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(50)
        .select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    feats = extract_media_features(docs, media_type="video", fake=True)
    pdf = feats.toPandas()
    assert len(pdf) == 50
    assert (pdf["n_bytes"] > 0).all()
    assert pdf["sha256"].str.len().eq(64).all()
    assert (pdf["width"].between(64, 255)).all()
    assert (pdf["n_frames"] >= 1).all()
    # JVM-side metadata agrees with the Python-side decode
    meta = attach_binary_payload(docs, "payload", "video").toPandas()
    m = meta.set_index("media_id")["sha256"]
    p = pdf.set_index("media_id")["sha256"]
    assert (m.sort_index() == p.sort_index()).all()
    # frame sampling plan explodes every 10th frame
    plan = frame_sample_plan(feats, every_n=10).toPandas()
    want = int(sum(np.ceil(pdf["n_frames"] / 10)))
    assert len(plan) == want


def test_multimodal_real_decode_raises(spark):
    from fusets_spark.operators.multimodal import _decode_one

    with pytest.raises(NotImplementedError):
        _decode_one(b"xxx", "image", fake=False)


def test_lang_id_on_crafted_text(spark):
    from fusets_spark.functions.textstats import lang_id

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "lang": ["en", "de", "fr", "es"],
            "text": [
                "the cat and the dog of a house to go",
                "der hund und die katze ist das haus",
                "le chat et la maison les arbres des fleurs",
                "el perro y la casa los gatos que corren",
            ],
        }
    )
    got = lang_id(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert got.loc[1, "predicted_lang"] == "en"
    assert got.loc[2, "predicted_lang"] == "de"
    assert got.loc[3, "predicted_lang"] == "fr"
    assert got.loc[4, "predicted_lang"] == "es"


def test_minhash_lsh_hot_bucket_cap_linear(spark):
    """ADVERSARIAL: 10⁴ identical docs land in ONE band bucket per band.
    Uncapped all-pairs would be ~5·10⁷ candidate rows; the hot-bucket
    star cap must emit exactly m−1 pairs (bucket-min × every other doc)
    — O(m·cap) work, not O(m²) — while keeping the cluster fully
    connected for components."""
    from fusets_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_components,
    )

    m = 10_000
    docs = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again").alias(
            "text"
        ),
    )
    pairs = minhash_lsh_pairs(docs, max_bucket_size=64)
    got = pairs.toPandas()
    # star: every pair anchors at the bucket-min doc (id 0)
    assert len(got) == m - 1
    assert set(got["doc_a"]) == {0}
    assert set(got["doc_b"]) == set(range(1, m))
    # connectivity preserved: one component, survivor = doc 0
    comp = neardup_components(docs, pairs).toPandas()
    assert set(comp["component"]) == {0}
    assert int(comp["is_survivor"].sum()) == 1


def test_minhash_lsh_cold_buckets_unchanged_by_cap(spark):
    """The cap only rewrites buckets LARGER than max_bucket_size: on a
    corpus with no hot bucket, the capped pair set is byte-identical to
    the uncapped all-pairs set."""
    from fusets_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    capped = minhash_lsh_pairs(docs, max_bucket_size=64).toPandas()
    uncapped = minhash_lsh_pairs(docs, max_bucket_size=10**9).toPandas()
    key = ["doc_a", "doc_b"]
    pd.testing.assert_frame_equal(
        capped.sort_values(key).reset_index(drop=True),
        uncapped.sort_values(key).reset_index(drop=True),
    )


def test_neardup_components_transitive_chain(spark):
    """a~b, b~c, d~e ⇒ components {a,b,c} and {d,e}; f is a singleton; the
    survivor is the min doc of each cluster."""
    from fusets_spark.operators.dedup import neardup_components

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    ).selectExpr("doc_id", "'x' AS text")
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    got = (
        neardup_components(docs, pairs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got["component"].tolist() == [1, 1, 1, 4, 4, 6]
    assert got["is_survivor"].tolist() == [True, False, False, True, False, True]


def test_multi_probe_improves_ann_candidates(spark):
    """Multi-probe LSH must never see FEWER candidates than probing only
    the query's own bucket, and the query vector is always rank 1."""
    from fusets_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    single = ann_topk_lsh(emb, 0, k=100, n_planes=6, n_probes=0).toPandas()
    multi = ann_topk_lsh(emb, 0, k=100, n_planes=6, n_probes=3).toPandas()
    assert len(multi) >= len(single)
    assert set(single["vec_id"]) <= set(multi["vec_id"])
    assert multi.loc[multi["rank"] == 1, "vec_id"].iloc[0] == 0


def test_ivf_recall_vs_exact(spark):
    """IVF ANN finds a reasonable share of the exact top-k; the query
    vector is always rank 1 (it probes its own cell); raising nprobe never
    shrinks the candidate set."""
    from fusets_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = set(cosine_topk(emb, 0, k=10).toPandas()["vec_id"])
    ivf2 = ivf_topk(emb, 0, k=10, n_cells=16, nprobe=2).toPandas()
    assert ivf2.loc[ivf2["rank"] == 1, "vec_id"].iloc[0] == 0
    recall = len(exact & set(ivf2["vec_id"])) / len(exact)
    assert recall >= 0.3, f"IVF recall {recall} suspiciously low"
    # k >= corpus size ⇒ both results are their FULL candidate cells, so
    # more probes is a strict candidate superset (k-truncation would break
    # this: narrow's weakest survivors need not make wide's top-k)
    wide = ivf_topk(emb, 0, k=1000, n_cells=16, nprobe=8).toPandas()
    narrow = ivf_topk(emb, 0, k=1000, n_cells=16, nprobe=2).toPandas()
    assert set(narrow["vec_id"]) <= set(wide["vec_id"])


def test_neardup_components_long_chain_logarithmic(spark):
    """Adversarial worst case for min-label propagation: one chain of 1000
    near-dups (pair i ~ i+1). Plain propagation needs ~1000 rounds (diameter)
    — pointer jumping must resolve it in O(log n) and still label every doc
    with the chain minimum."""
    from fusets_spark.operators.dedup import neardup_components

    n = 1000
    docs = spark.range(n).selectExpr("id AS doc_id", "'x' AS text")
    pairs = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    rounds: list[int] = []
    got = neardup_components(docs, pairs, max_iter=20, _rounds_out=rounds)
    comp = got.toPandas()
    assert (comp["component"] == 0).all()
    assert comp["is_survivor"].sum() == 1
    # depth halves per round: ~log2(1000) + propagation slack
    assert rounds[0] <= 15, f"chain of {n} took {rounds[0]} rounds"


def test_neardup_components_raises_on_non_convergence(spark):
    """Exiting via max_iter with labels still moving must raise, not return
    silently-wrong components."""
    import pytest as _pytest

    from fusets_spark.operators.dedup import neardup_components

    n = 64
    docs = spark.range(n).selectExpr("id AS doc_id", "'x' AS text")
    pairs = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    with _pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(docs, pairs, max_iter=1)


def test_parse_media_header_real_bytes():
    """Header parser vs independently struct-packed PNG/WAV bytes (not the
    Spark-side construction — a shared byte-order mistake would cancel)."""
    import struct
    import zlib

    from fusets_spark.operators.multimodal import parse_media_header

    ihdr = struct.pack(">II5B", 640, 480, 8, 6, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert parse_media_header(png) == ("image", 640, 480, None, None, None)

    n_samples, channels, sr, bits = 1000, 2, 44100, 16
    block = channels * bits // 8
    data = b"\x00" * (n_samples * block)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, sr,
                                sr * block, block, bits)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert parse_media_header(wav) == ("audio", None, None, 2, 44100, 1000)

    assert parse_media_header(b"plain text")[0] == "unknown"
    assert parse_media_header(b"")[0] == "unknown"


def test_decode_media_headers_distributed(spark):
    """The mapInPandas wrapper returns one typed row per payload."""
    import struct

    from fusets_spark.operators.multimodal import decode_media_headers

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II5B", 3, 7, 8, 6, 0, 0, 0) + b"\x00" * 4
    )
    df = spark.createDataFrame(
        [("a", bytearray(png)), ("b", bytearray(b"junk"))],
        "media_id string, payload binary",
    )
    got = (
        decode_media_headers(df).toPandas().set_index("media_id").sort_index()
    )
    assert got.loc["a", "media_type"] == "image"
    assert got.loc["a", "width"] == 3 and got.loc["a", "height"] == 7
    assert got.loc["b", "media_type"] == "unknown"
    assert got.loc["a", "n_bytes"] == len(png)


def test_resize_raw_media_exact_and_modes_agree(spark):
    """Nearest-neighbor resize: exact on a hand-checked bitmap, and the
    binary production output must equal the exploded pixels repacked."""
    import numpy as np

    from fusets_spark.operators.multimodal import resize_raw_media

    # 4x2 bitmap (h=2 rows of w=4): values 0..7
    buf = bytes(range(8))
    df = spark.createDataFrame(
        [("a", bytearray(buf), 4, 2)],
        "media_id string, payload binary, width int, height int",
    )
    px = (
        resize_raw_media(df, out_w=2, out_h=2, output="pixels")
        .orderBy("y", "x")
        .collect()
    )
    # src_x = (x*4)//2 -> 0,2 ; src_y = (y*2)//2 -> 0,1
    assert [(r.y, r.x, r.px) for r in px] == [
        (0, 0, 0), (0, 1, 2), (1, 0, 4), (1, 1, 6),
    ]
    binary = resize_raw_media(df, out_w=2, out_h=2, output="binary").collect()
    assert bytes(binary[0].resized) == bytes([0, 2, 4, 6])
    assert (binary[0].out_w, binary[0].out_h) == (2, 2)

    # random bitmaps: modes agree
    rng = np.random.default_rng(11)
    rows = []
    for i in range(20):
        w, h = int(rng.integers(3, 40)), int(rng.integers(3, 40))
        rows.append(
            (f"m{i}", bytearray(rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()), w, h)
        )
    df2 = spark.createDataFrame(
        rows, "media_id string, payload binary, width int, height int"
    )
    pix = {
        r.media_id: r
        for r in resize_raw_media(df2, 5, 9, output="binary").collect()
    }
    got = (
        resize_raw_media(df2, 5, 9, output="pixels")
        .orderBy("media_id", "y", "x")
        .toPandas()
    )
    for mid, g in got.groupby("media_id"):
        assert bytes(pix[mid].resized) == bytes(
            g.sort_values(["y", "x"])["px"].astype(np.uint8).to_numpy().tobytes()
        )


def test_bmp_decode_roundtrip():
    """decode_bmp must invert a hand-built 8-bit BMP: bottom-up rows,
    4-byte padding, palette skipped — and take the real (non-fake) path in
    extract_media_features."""
    import numpy as np

    from fusets_spark.operators.multimodal import (
        _decode_one,
        bmp8_header,
        decode_bmp,
    )

    rng = np.random.default_rng(3)
    for w, h in [(10, 6), (16, 4), (1, 1), (13, 7)]:
        arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
        stride = ((w * 8 + 31) // 32) * 4
        rows = []
        for fy in range(h):           # bottom-up storage
            row = arr[h - 1 - fy]
            rows.append(row.tobytes() + b"\x00" * (stride - w))
        payload = bmp8_header(w, h) + b"".join(rows)
        dw, dh, got = decode_bmp(payload)
        assert (dw, dh) == (w, h)
        assert np.array_equal(got, arr)
        fw, fh, nframes, mi = _decode_one(payload, "image", fake=False)
        assert (fw, fh, nframes) == (w, h, 1)
        assert mi == float(arr.mean())


def test_neardup_components_shallow_graph_single_check(spark):
    """The one-check contract (round 7: first check widened to 4 folds
    so propagation-depth-3 graphs — measured on the 10× corpus — also
    finish in one job): a diameter-≤2 graph (star — the LSH hot-bucket
    cap's output shape) must converge in ONE materialized check
    (folds 1-2 finish it, the last fold self-confirms)."""
    from fusets_spark.operators.dedup import neardup_components

    n = 50
    docs = spark.range(n).selectExpr("id AS doc_id", "'x' AS text")
    pairs = spark.range(1, n).selectExpr("0 AS doc_a", "id AS doc_b")
    rounds: list[int] = []
    got = neardup_components(docs, pairs, _rounds_out=rounds).toPandas()
    assert (got["component"] == 0).all()
    assert got["is_survivor"].sum() == 1
    assert rounds[0] == 4, f"star took {rounds[0]} folds (1 check = 4)"


def test_neardup_components_mid_depth_needs_second_check(spark):
    """A path of 6 nodes labeled from the high end (5-4-3-2-1-0) has
    propagation depth 5: check 1's four folds still change labels on
    their last fold, so the loop must NOT stop early — a second check
    finishes and confirms. Guards the last-fold convergence test against
    off-by-one early exits."""
    from fusets_spark.operators.dedup import neardup_components

    docs = spark.range(6).selectExpr("id AS doc_id", "'x' AS text")
    pairs = spark.range(5).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    rounds: list[int] = []
    got = neardup_components(docs, pairs, _rounds_out=rounds).toPandas()
    assert (got["component"] == 0).all()
    assert got["is_survivor"].sum() == 1
    assert rounds[0] > 4, "depth-5 path cannot finish in one check"


def test_embedding_neardup_hot_bucket_cap_linear(spark):
    """ADVERSARIAL (round-6 verdict #1): 10⁴ IDENTICAL embeddings share
    every LSH bucket in every table no matter how many planes, so the
    uncapped exact path is m²/2 candidate pairs by definition. With the
    OPT-IN max_bucket_size star cap the pair count must be exactly m−1
    (bucket-min × rest), i.e. O(m) — and all pairs pass the cosine
    verify (cos = 1), so the output itself is the star."""
    from fusets_spark.operators.similarity import embedding_neardup_pairs

    m = 10_000
    vec = F.array(*[F.lit(float(k % 7 + 1)) for k in range(64)])
    emb = spark.range(m).select(
        F.col("id").alias("vec_id"),
        vec.cast("array<float>").alias("embedding"),
    )
    got = embedding_neardup_pairs(
        emb, threshold=0.95, n_planes=5, n_tables=3, seed=7, dim=64,
        max_bucket_size=64,
    ).toPandas()
    assert len(got) == m - 1
    assert set(got["vec_a"]) == {0}
    assert set(got["vec_b"]) == set(range(1, m))
    assert (got["cos"] == 1.0).all()


def test_embedding_neardup_exact_path_identical_cluster(spark):
    """EXACT path on a cluster of identical embeddings: they share every
    bucket in every table, so the lowest-shared-table dedup must emit each
    pair EXACTLY once (in table 0) — m(m-1)/2 pairs, all cos == 1.0. A
    double emission (missed cross-table dedup) or a miss would change the
    row count."""
    from fusets_spark.operators.similarity import embedding_neardup_pairs

    m = 200
    vec = F.array(*[F.lit(float(k % 7 + 1)) for k in range(64)])
    emb = spark.range(m).select(
        F.col("id").alias("vec_id"),
        vec.cast("array<float>").alias("embedding"),
    )
    got = embedding_neardup_pairs(
        emb, threshold=0.95, n_planes=5, n_tables=3, seed=7, dim=64
    ).toPandas()
    assert len(got) == m * (m - 1) // 2
    assert (got["cos"] == 1.0).all()
    assert (got["vec_a"] < got["vec_b"]).all()
    assert not got.duplicated(["vec_a", "vec_b"]).any()


def test_embedding_neardup_matches_naive_reference(spark):
    """The round-7 plan rewrite (per-(table, bucket) pair+cosine kernel
    with local lowest-shared-table dedup) must produce EXACTLY the rows of
    the naive reference shape: per-table self-join on the bucket, union
    over tables, dropDuplicates, per-pair cosine — the round-6 semantics."""
    from reference_impls import _bucket_expr

    from fusets_spark.operators.similarity import (
        _dot,
        _norm,
        embedding_neardup_pairs,
        make_planes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    P = dict(threshold=0.25, n_planes=5, n_tables=3, seed=7, dim=64)
    got = embedding_neardup_pairs(emb, **P).toPandas()

    ref_pairs = None
    for t in range(P["n_tables"]):
        planes = make_planes(P["n_planes"], P["dim"], P["seed"] + 7919 * t)
        b = emb.select(
            "vec_id", "embedding", _bucket_expr("embedding", planes).alias("b")
        )
        l, r = b.alias("l"), b.alias("r")
        p = l.join(
            r,
            (F.col("l.b") == F.col("r.b"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        ).select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.col("l.embedding").alias("ea"),
            F.col("r.embedding").alias("eb"),
        )
        ref_pairs = p if ref_pairs is None else ref_pairs.unionByName(p)
    cos = _dot(F.col("ea"), F.col("eb")) / (
        _norm(F.col("ea")) * _norm(F.col("eb"))
    )
    ref = (
        ref_pairs.dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cos", cos)
        .filter(F.col("cos") >= P["threshold"])
        .select(
            "vec_a", "vec_b", (F.round("cos", 6) + F.lit(0.0)).alias("cos")
        )
        .toPandas()
    )
    key = ["vec_a", "vec_b"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        ref.sort_values(key).reset_index(drop=True),
    )


def test_simhash_kernel_matches_expression(spark):
    """The round-7 vectorized simhash kernel must be BIT-IDENTICAL to the
    pure-Catalyst fold it replaced — integer votes, so exact equality is
    well-defined. Covers the corpus at 60, 64 and 124 bits (the kernel
    reads ceil(bits/8) digest bytes; the reference reads bits/4 nibbles)
    plus edge cases: NULL text (expression form yields "" via concat_ws
    over the NULL fold), empty text, spaces only, runs of spaces,
    unicode. Widths outside 1..128 raise."""
    from reference_impls import simhash_expr

    from fusets_spark.operators.dedup import simhash

    def _same(df, bits):
        a = simhash(df, bits).toPandas().sort_values("doc_id").reset_index(drop=True)
        b = (
            simhash_expr(df, bits)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
        assert (a["simhash"].str.len().isin([0, bits])).all()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for bits in (60, 64, 124):
        _same(docs, bits)

    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": [
                    None,
                    "",
                    "   ",
                    "one two",
                    "  a  b c d  ",
                    "héllo wörld π one two three",
                ],
            }
        )
    )
    _same(edge, 64)
    for bits in (0, 132):  # outside the md5 width
        with pytest.raises(ValueError, match="1..128"):
            simhash(edge, bits)


def test_minhash_kernel_matches_expression(spark):
    """The round-7 vectorized minhash signature kernel must be
    BIT-IDENTICAL to the explode + min-aggregate expression form: the
    8-hex-char substrings are the digest's big-endian uint32 words and
    fixed-width hex string min == numeric min. Docs with < shingle_words
    words (or NULL text) must be ABSENT in both forms."""
    from fusets_spark.operators.dedup import minhash_signatures
    from reference_impls import minhash_signatures_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = (
        minhash_signatures(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        minhash_signatures_expr(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)

    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [None, "one two", "a b c d e", "x  y  z"],
            }
        )
    )
    a = (
        minhash_signatures(edge)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        minhash_signatures_expr(edge)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(a["doc_id"]) == [3, 4]  # <3-word docs absent in both
    pd.testing.assert_frame_equal(a, b)


def test_ivf_cell_kernel_matches_expression(spark):
    """The vectorized nearest-centroid kernel must assign EXACTLY the cells
    the Catalyst reference (array_sort over per-cell score structs) assigns —
    same left-fold float association, same tie-break toward the lower cell
    index."""
    import numpy as np
    from pyspark.sql import functions as F

    from reference_impls import _ivf_cell_scores

    from fusets_spark.operators.similarity import (
        _assign_cells_kernel,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack(
        emb.limit(256).toPandas()["embedding"].map(np.asarray).to_numpy()
    ).astype(np.float64)
    C = kmeans_fit(X, 16, 4)

    expr_cell = F.element_at(
        F.array_sort(F.array(*_ivf_cell_scores("embedding", C))), 1
    )["c"]
    want = (
        emb.withColumn("cell", expr_cell)
        .select("vec_id", "cell")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    got = (
        _assign_cells_kernel(emb, C)
        .select("vec_id", "cell")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert (got["cell"].to_numpy() == want["cell"].to_numpy()).all()


def _ivf_test_centroids(n_cells: int = 4, dim: int = 64) -> np.ndarray:
    rng = np.random.default_rng(3)
    return rng.standard_normal((n_cells, dim))


def _similarity_op(op: str, emb):
    from fusets_spark.operators import similarity as S

    if op == "cosine_topk":
        return S.cosine_topk(emb, 0)
    if op == "ann_topk_lsh":
        return S.ann_topk_lsh(emb, 0, n_planes=3)
    if op == "ivf_topk":
        return S.ivf_topk(emb, 0, centroids=_ivf_test_centroids())
    return S.embedding_neardup_pairs(emb, threshold=0.0, n_planes=2)


@pytest.mark.parametrize(
    "bad", ["null_embedding", "short", "null_element", "nan_element"]
)
@pytest.mark.parametrize(
    "op", ["ann_topk_lsh", "ivf_topk", "embedding_neardup_pairs"]
)
def test_malformed_embedding_fails_fast_naming_the_row(spark, op, bad):
    """Malformed-input contract of the embedding operators: a NULL
    embedding, a wrong length, or a NULL or NaN element fails fast with a
    ValueError that names the vec_id — never a NaN bucket bit or a NaN
    cosine that the threshold filter would keep."""
    rng = np.random.default_rng(0)
    rows = [(i, rng.standard_normal(64).tolist(), i % 3) for i in range(12)]
    vec = rows[7][1]
    rows[7] = (7, {
        "null_embedding": None,
        "short": vec[:63],
        "null_element": vec[:5] + [None] + vec[6:],
        "nan_element": vec[:5] + [float("nan")] + vec[6:],
    }[bad], 1)
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(Exception, match=r"ValueError: vec_id 7: "):
        _similarity_op(op, emb).collect()


@pytest.mark.parametrize("op", ["cosine_topk", "ann_topk_lsh", "ivf_topk"])
def test_malformed_query_row_fails_before_any_kernel(spark, op):
    """The query side loads its row through the same loader, on the
    driver, so a NaN query vector fails while the plan is built."""
    rng = np.random.default_rng(0)
    rows = [(i, rng.standard_normal(64).tolist(), 0) for i in range(4)]
    rows[0] = (0, [float("nan")] * 64, 0)
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match=r"vec_id 0: NULL or NaN"):
        _similarity_op(op, emb)


def test_absent_query_row_returns_an_empty_ranked_frame(spark):
    """A query_vec_id with no row ranks nothing: an empty frame with the
    schema the present-query frame has, from all three top-k operators."""
    from fusets_spark.operators.similarity import (
        ann_topk_lsh,
        cosine_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    C = _ivf_test_centroids()
    for topk in (
        cosine_topk,
        lambda e, q: ann_topk_lsh(e, q, n_planes=5),
        lambda e, q: ivf_topk(e, q, centroids=C),
    ):
        present, absent = topk(emb, 0), topk(emb, -1)
        assert absent.schema == present.schema
        assert absent.schema.simpleString() == (
            "struct<vec_id:bigint,label:int,cos:double,rank:int>"
        )
        assert absent.collect() == []


def test_query_side_folds_match_the_catalyst_references(spark):
    """The driver-side query folds are bit-identical to the Catalyst
    reference forms: LSH margins against `_plane_dot`, and the IVF probe
    order against array_sort over `_ivf_cell_scores` (ties to the lower
    cell in both)."""
    from reference_impls import _ivf_cell_scores, _plane_dot

    from fusets_spark.operators.similarity import (
        _cell_scores,
        _embedding_matrix,
        _plane_margins,
        make_planes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter("vec_id < 40")
    planes = make_planes(8, 64, 42)
    C = _ivf_test_centroids(16)
    ref = (
        emb.select(
            "vec_id",
            "embedding",
            F.array(*[_plane_dot("embedding", p) for p in planes]).alias("m"),
            F.transform(
                F.array_sort(F.array(*_ivf_cell_scores("embedding", C))),
                lambda s: s["c"],
            ).alias("order"),
        )
        .toPandas()
        .sort_values("vec_id")
    )
    for vid, v, m, order in ref.itertuples(index=False):
        q = _embedding_matrix([vid], [v], 64)[0]
        got_m = _plane_margins(q, planes)
        assert (got_m.view(np.int64) == np.asarray(m).view(np.int64)).all()
        got_order = np.argsort(_cell_scores(q, C), kind="stable")
        assert got_order.tolist() == list(order)
