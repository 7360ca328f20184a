"""Tier-ladder parity tests (F7 in FIXTURES.md).

Oracle = pandas groupby with identical epoch-floor bucket edges. Parity is
EXACT (integer sums, argmin/argmax by unique pos) at every tier; coarser
tiers computed from finer tiers must equal coarser tiers computed from raw.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fusets_spark.datagen import generate_tokens
from fusets_spark.operators.explode import explode_raw
from fusets_spark.operators.rollup import TIERS, rollup_from_raw, salted_rollup
from reference_impls import rollup_ladder

N_DOCS = 120


@pytest.fixture(scope="module")
def raw_points(spark):
    toks = generate_tokens(spark, N_DOCS, seed=42, min_tok=32, max_tok=200)
    return explode_raw(toks).cache()


def _oracle(points_pdf: pd.DataFrame, seconds: int) -> pd.DataFrame:
    p = points_pdf.copy()
    epoch = p["ts"].astype("int64") // 10**9
    p["bucket_ts"] = pd.to_datetime((epoch - epoch % seconds) * 10**9)
    g = p.sort_values("pos").groupby(["source", "doc_id", "bucket_ts"])
    out = g["value"].agg(
        n_obs="count", min_val="min", max_val="max",
        first_val="first", last_val="last",
    )
    out["sum_val"] = g["value"].apply(lambda s: int(s.astype(np.int64).sum()))
    out["avg_val"] = out["sum_val"] / out["n_obs"]
    return out.reset_index()


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = ["source", "doc_id", "bucket_ts", "n_obs", "sum_val",
            "min_val", "max_val", "first_val", "last_val", "avg_val"]
    return (
        pdf[cols]
        .sort_values(["source", "doc_id", "bucket_ts"])
        .reset_index(drop=True)
        .astype({"n_obs": "int64", "sum_val": "int64"})
    )


@pytest.mark.parametrize("tier", ["1m", "5m", "1h"])
def test_rollup_matches_pandas_oracle(spark, raw_points, tier):
    got = _canon(rollup_from_raw(raw_points, tier).toPandas())
    want = _canon(_oracle(raw_points.toPandas(), TIERS[tier]))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_tier_from_tier_equals_tier_from_raw(spark, raw_points):
    ladder = rollup_ladder(raw_points)
    for tier in ["5m", "1h"]:
        via_ladder = _canon(ladder[tier].toPandas())
        direct = _canon(rollup_from_raw(raw_points, tier).toPandas())
        pd.testing.assert_frame_equal(via_ladder, direct, check_dtype=False)


def test_salted_rollup_is_exact(spark, raw_points):
    for n_salts in (4, 16):
        got = _canon(salted_rollup(raw_points, "1m", n_salts=n_salts).toPandas())
        want = _canon(rollup_from_raw(raw_points, "1m").toPandas())
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_tokens_native_rollup_equals_explode_path(spark):
    """The shuffle-free token ingest's tiers, order keys included, must
    equal explode_raw + groupBy exactly, NULL tokens included."""
    from conftest import split_ingest, with_null_tokens
    from fusets_spark.operators.ingest import ingest_from_tokens

    toks = with_null_tokens(
        spark, generate_tokens(spark, 80, seed=7, min_tok=32, max_tok=400)
    )
    tiers, _ = split_ingest(ingest_from_tokens(toks))
    tiers = tiers.toPandas()
    pts = explode_raw(toks)
    key = ["source", "doc_id", "bucket_ts"]
    for tier in TIERS:
        got = tiers[tiers["tier"] == tier].drop(columns="tier")
        want = rollup_from_raw(pts, tier, with_order_keys=True).toPandas()
        assert len(got) > 0
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want[got.columns].sort_values(key).reset_index(drop=True),
            check_dtype=False,
            check_exact=True,
        )


def test_generator_deterministic_across_partitioning(spark):
    a = generate_tokens(spark, 50, partitions=1).toPandas()
    b = generate_tokens(spark, 50, partitions=7).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert np.array_equal(np.asarray(x), np.asarray(y))


def test_missing_fraction_sane(spark):
    toks = generate_tokens(spark, 40).toPandas()
    arr = np.concatenate([np.asarray(t) for t in toks["tokens"]])
    frac = float((arr == -1).mean())
    assert 0.15 < frac < 0.35


def test_merge_tier_partials_equals_direct_rollup(spark):
    """Late-data exactness: points split arbitrarily across two batches,
    each rolled up independently with order keys, then merged — must equal
    the single-pass rollup of all points, including first/last (merged by
    the carried order keys). Merging is also idempotent."""
    from pyspark.sql import functions as F

    from fusets_spark.datagen import generate_tokens
    from fusets_spark.operators.explode import explode_raw
    from fusets_spark.operators.rollup import merge_tier_partials, rollup_from_raw

    pts = explode_raw(generate_tokens(spark, 30, seed=21, min_tok=64, max_tok=200))
    a = pts.filter(F.pmod("pos", F.lit(3)) == 0)
    b = pts.filter(F.pmod("pos", F.lit(3)) != 0)
    partials = rollup_from_raw(a, "1m", with_order_keys=True).unionByName(
        rollup_from_raw(b, "1m", with_order_keys=True)
    )
    merged = merge_tier_partials(partials).toPandas()
    direct = rollup_from_raw(pts, "1m", with_order_keys=True).toPandas()
    key = ["source", "doc_id", "bucket_ts"]
    cols = sorted(direct.columns)
    merged = merged[cols].sort_values(key).reset_index(drop=True)
    direct = direct[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, direct, check_dtype=False)
    # idempotent: merging the merged rows is a no-op
    again = merge_tier_partials(
        merge_tier_partials(partials)
    ).toPandas()[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(again, direct, check_dtype=False)
