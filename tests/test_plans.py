"""Plan-quality regressions: predicate pushdown and column pruning must
reach the parquet scans (SURVEY.md §4); UDF stages must not widen scans."""

from __future__ import annotations

import re

import pytest
from conftest import entry_mod
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "error")
        .select("event_id", "value")
    )
    plan = _plan(ev)
    assert "DataFilters: [isnotnull(event_type" in plan
    assert "props" not in plan  # column pruning


def test_pricing_summary_pushdown(spark):
    mod = entry_mod()
    plan = _plan(mod.queries()["pricing_summary"](spark, SF))
    assert "l_shipdate" in plan.split("DataFilters:")[1][:200]
    # only the needed 6 columns are read
    read = plan.split("ReadSchema:")[1][:400]
    assert "l_partkey" not in read and "l_suppkey" not in read


def test_udf_stage_does_not_widen_scan(spark):
    """Column pruning must survive the Python-kernel optimizer barrier:
    the whittaker query never reads `props` or `event_id`."""
    mod = entry_mod()
    plan = _plan(mod.queries()["whittaker_gapfill"](spark, SF))
    scan = plan.split("FileScan parquet")[1][:300]
    assert "props" not in scan and "event_id" not in scan


def test_topk_has_no_global_window_sort(spark):
    """Top-k must compile to TakeOrderedAndProject (parallel partial top-k),
    never a single-partition global sort feeding a window: the window may
    only run AFTER the k-row limit."""
    mod = entry_mod()
    for name in ("cosine_topk", "ann_lsh_topk"):
        plan = _plan(mod.queries()[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, name
        # any Window must sit above the TakeOrderedAndProject (k rows only)
        if "Window" in plan:
            assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
                f"{name}: window below the top-k limit = global sort"
            )


def test_phenometrics_single_scan_single_exchange(spark):
    """phenometrics must stay a one-pass window plan: ONE parquet scan and
    ONE hash exchange on the series key (the old groupBy + join-back shape
    re-scanned and re-shuffled the input 7x — at 100 TB that is 7x the IO)."""
    mod = entry_mod()
    plan = _plan(mod.queries()["phenometrics"](spark, SF))
    assert plan.count("FileScan parquet") == 1, "phenometrics re-scans input"
    assert plan.count("Exchange hashpartitioning") == 1, (
        "phenometrics re-shuffles beyond the series-key exchange"
    )


def test_dedup_reuses_materialized_intermediates(spark):
    """Plan-shape contract per operator (round 6): ngram_jaccard's
    shingle table feeds several branches (cap, both join sides, exact
    verify) and must be persisted (InMemoryTableScan); minhash_lsh is
    the opposite — since the bucket-groupBy rewrite it is ONE
    single-consumer subtree, so it must scan the corpus exactly once
    and carry NO cache (a persist there is a pure extra
    materialization pass); banded/near-dup stacking must be an explode,
    not a per-band union that re-scans the corpus."""
    mod = entry_mod()
    plan = _plan(mod.queries()["dedup_ngram_jaccard"](spark, SF))
    assert "InMemoryTableScan" in plan, "ngram: shingles not cached"
    plan = _plan(mod.queries()["dedup_minhash_lsh"](spark, SF))
    assert "InMemoryTableScan" not in plan, "minhash: needless cache"
    assert plan.count("FileScan parquet") == 1, "minhash re-scans corpus"
    plan = _plan(mod.queries()["embedding_neardup"](spark, SF))
    # round 7 contract (second pass): ONE corpus scan into the
    # per-(table, bucket) pair+cosine kernel — the only exchange is the
    # small stacked (vector × table) repartition; pair generation, the
    # lowest-shared-table dedup and the exact cosine all happen inside
    # the grouped kernel (MapInPandas over the kernels.group_kernel
    # exchange), so no corpus-scale pair exchange may exist.
    assert plan.count("FileScan parquet") == 1, "neardup re-scans corpus"
    assert "MapInPandas" in plan, "neardup: pair kernel missing"
    assert "hashpartitioning(vec_a" not in plan, (
        "neardup: corpus-scale pair exchange crept back in"
    )


def test_cosine_topk_scans_embeddings_once(spark):
    """The cosine top-k query reads its 1-row query side on the driver, so
    its plan scans embeddings once, with no join and no broadcast."""
    mod = entry_mod()
    plan = _plan(mod.queries()["cosine_topk"](spark, SF))
    assert plan.count("FileScan parquet") == 1, "cosine_topk re-scans corpus"
    assert "Broadcast" not in plan and "Join" not in plan, plan


def _grouped_operators():
    """name -> (build(points, blocks, embeddings), grouping keys, hashed
    columns)."""
    from fusets_spark.codec.blocks import (
        compact_blocks,
        encode_blocks,
        roundtrip_points,
    )
    from fusets_spark.operators import (
        ccdc,
        fusion,
        harmonics,
        peakvalley,
        similarity,
        smoothing,
        whittaker,
    )

    series = (("source",), ("doc_id",))
    return {
        "encode_blocks": (lambda p, b, e: encode_blocks(p), *series),
        "compact_blocks": (lambda p, b, e: compact_blocks(b, 86400), *series),
        "roundtrip_points": (lambda p, b, e: roundtrip_points(p), *series),
        "savgol_smooth": (lambda p, b, e: smoothing.savgol_smooth(p), *series),
        "gaussian_smooth": (lambda p, b, e: smoothing.gaussian_smooth(p), *series),
        "stl_trend_col": (lambda p, b, e: smoothing.stl_trend_col(p), *series),
        "harmonic_fit": (lambda p, b, e: harmonics.harmonic_fit(p), *series),
        "harmonic_fitted": (lambda p, b, e: harmonics.harmonic_fitted(p), *series),
        "ccdc_segments": (lambda p, b, e: ccdc.ccdc_segments(p), *series),
        "num_seasons": (lambda p, b, e: peakvalley.num_seasons(p), *series),
        "peakvalley": (lambda p, b, e: peakvalley.peakvalley(p), *series),
        "whittaker_gapfill": (
            lambda p, b, e: whittaker.whittaker_gapfill(p),
            (), ("source", "doc_id"),
        ),
        "mogpr_fuse": (
            lambda p, b, e: fusion.mogpr_fuse(p), (), ("doc_id",)
        ),
        "embedding_neardup_pairs": (
            lambda p, b, e: similarity.embedding_neardup_pairs(e),
            ("table_no", "bucket"), (),
        ),
    }


@pytest.mark.parametrize("name", sorted(_grouped_operators()))
def test_grouped_kernel_plan(spark, name):
    """Every grouped numpy kernel compiles to the same shape: ONE
    REPARTITION_BY_NUM exchange (AQE cannot coalesce it) hashing the
    operator's grouping keys and series key straight into kernels.n_buckets
    partitions — the inputs here are local lists, RDD scans without a size
    estimate, so the cap, defaultParallelism × 8 — and a MapInPandas above
    it that runs the kernel per partition: no groupBy (so no Sort and no
    FlatMapGroupsInPandas) and no bucket column."""
    import datetime

    build, by, hash_on = _grouped_operators()[name]
    t = datetime.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [("s", "d", t, 1.0)], "source string, doc_id string, ts timestamp, value double"
    )
    from fusets_spark.codec.blocks import BLOCK_SCHEMA

    blocks = spark.createDataFrame(
        [("s", "d", t, 1, t, t, "c", bytearray(b"x"))], BLOCK_SCHEMA
    )
    emb = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    plan = _plan(build(points, blocks, emb))

    def cols(s):
        return tuple(re.sub(r"#\d+L?", "", c.strip()) for c in s.split(","))

    dp = spark.sparkContext.defaultParallelism
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    ex = re.search(r"hashpartitioning\(([^()]*), (\d+)\), REPARTITION_BY_NUM", plan)
    assert cols(ex.group(1)) == (*by, *hash_on) and int(ex.group(2)) == dp * 8
    assert -1 < plan.find("MapInPandas") < ex.start(), plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert not re.search(r"\bSort\b", plan), plan
    assert not re.search(r"\b_g#", plan), plan


def test_kernel_stages_resist_aqe_coalescing(spark, monkeypatch):
    """Compute-bound numpy kernels must keep their task count under AQE:
    kernels.group_kernel issues a user-specified REPARTITION_BY_NUM
    (exempt from size-based coalescing — AQE was measured collapsing the
    few-MB kernel shuffle to 2 of 32 cores), n_buckets of the query's
    input wide, so exactly ONE exchange appears and it is the
    non-coalescible kind."""
    from fusets_spark import kernels

    n_buckets, sized = kernels.n_buckets, []
    monkeypatch.setattr(
        kernels, "n_buckets", lambda df: sized.append(n_buckets(df)) or sized[-1]
    )
    mod = entry_mod()
    for name in ("whittaker_gapfill", "gorilla_roundtrip"):
        sized.clear()
        plan = _plan(mod.queries()[name](spark, SF))
        assert "REPARTITION_BY_NUM" in plan, (
            f"{name}: kernel shuffle lost its AQE-coalesce exemption"
        )
        (n_parts,) = sized
        assert f", {n_parts}), REPARTITION_BY_NUM" in plan, (
            f"{name}: kernel partition count is not n_buckets of its input"
        )


def _aggregates(plan: str) -> list[str]:
    """The Aggregate operator lines of a plan, outermost first, with
    expression ids stripped."""
    return [
        re.sub(r"#\d+L?", "", line)
        for line in plan.splitlines()
        if "Aggregate [" in line
    ]


def test_tier_rollups_share_one_aggregate(spark):
    """Every Catalyst tier site is built from rollup.point_aggs /
    merge_aggs. Order keys a site does not return are pruned from its
    Aggregate, and the salted rollup stays two Aggregates."""
    import datetime

    from fusets_spark.operators.rollup import rollup_from_raw, salted_rollup
    from fusets_spark.streaming.rollup_stream import POINTS_DDL

    points = spark.createDataFrame(
        [("s", "d", 1, datetime.datetime(2024, 1, 1), 1.0)], POINTS_DDL
    )

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    raw = rollup_from_raw(points, "1m", with_order_keys=False)
    (agg,) = _aggregates(optimized(raw))
    assert "min_by(value, pos)" in agg and "max_by(value, pos)" in agg
    for gone in ("min(pos)", "max(pos)", "first_pos", "last_pos"):
        assert gone not in agg, gone
    assert not {"first_pos", "last_pos"} & set(raw.columns)

    salted = salted_rollup(points, "1m", n_salts=4)
    outer, inner = _aggregates(optimized(salted))
    assert "min(pos) AS first_pos" in inner and "max(pos) AS last_pos" in inner
    for gone in ("min(pos)", "max(pos)", "AS first_pos", "AS last_pos"):
        assert gone not in outer, gone
    assert not {"first_pos", "last_pos"} & set(salted.columns)
