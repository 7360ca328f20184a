"""Mimic the driver's correctness gate: run every __spark_entry__.queries()
entry at sf0.01 and compare against its oracle_sql() via DuckDB —
row count + schema + order-insensitive exact values."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from conftest import entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf) and isinstance(
            pdf[c].iloc[0], (list, np.ndarray)
        ):
            pdf[c] = pdf[c].map(lambda v: tuple(np.asarray(v).tolist()))
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        if pdf[c].dtype == np.float32:
            pdf[c] = pdf[c].astype(np.float64)
        if str(pdf[c].dtype) in ("int32", "uint32", "int16", "uint64"):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _query_names():
    return sorted(entry_mod().queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_duckdb_oracle(spark, duck, name):
    mod = entry_mod()
    q = mod.queries()[name]
    oracles = mod.oracle_sql()
    got = _canon(q(spark, SF_DIR).toPandas())
    if name not in oracles:
        assert len(got) >= 0  # rows-only check, mirrors driver behavior
        return
    want = _canon(duck.execute(oracles[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    # The driver's value hash is SIGN-SENSITIVE: -0.0 != +0.0 there, while
    # assert_frame_equal treats them as equal. Compare raw float64 bits too.
    for c in got.columns:
        if got[c].dtype == np.float64:
            gb = got[c].to_numpy(np.float64).tobytes()
            wb = want[c].to_numpy(np.float64).tobytes()
            assert gb == wb, (
                f"{name}.{c}: float bit mismatch (likely -0.0 vs +0.0 — "
                "add the `+ 0.0` sign normalization on both sides)"
            )


def test_entry_smoke(spark):
    mod = entry_mod()
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_driver_queries_leave_the_temp_root_as_found(spark, temp_root):
    """The queries that stage a stream or a store under the temp root
    (stream rollup, late-data merge, retention) keep it while their lazy
    frame can still read it and remove it at interpreter exit: collect,
    run the exit hooks, and the temp root is as the calls found it."""
    from fusets_spark.session import ship_package

    mod = entry_mod()
    root, run_exit = temp_root
    ship_package(spark)  # its zip has its own test (test_worker_boot.py)
    before = sorted(root.iterdir())
    for name in ("stream_rollup_1m", "late_data_merge", "retention_horizon"):
        assert mod.queries()[name](spark, mod.SF0001).collect()
    assert len(sorted(root.iterdir())) == len(before) + 3
    run_exit()
    assert sorted(root.iterdir()) == before


def test_fixed_query_dirs_land_under_the_temp_root(spark, temp_root):
    """The queries that write a fixed per-SF directory (the stream sealer's
    work dir and the csv, netCDF and GeoTIFF granules) root it at
    tempfile.gettempdir(), wherever that points."""
    mod = entry_mod()
    root, _ = temp_root
    for q in (mod.q_stream_block_encode, mod.q_csv_load, mod.q_netcdf_load,
              mod.q_geotiff_load):
        assert q(spark, mod.SF0001).limit(1).collect()
    made = sorted(p.name.rsplit("_", 1)[0] for p in root.iterdir())
    assert made == [
        "fusets_csv", "fusets_nc", "fusets_stream_blocks", "fusets_tif"
    ]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.1"])
def test_ivf_oracle_exact_off_contract_sf(spark, sf_dir):
    """ann_ivf_topk parity OFF the contract SF (VERDICT r3 #9): the query
    applies the frozen contract-SF quantizer at every sf_dir, so the
    oracle's embedded literal centroids match at sf0.001 and sf0.1 too."""
    mod = entry_mod()
    got = _canon(mod.queries()["ann_ivf_topk"](spark, sf_dir).toPandas())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    want = _canon(con.execute(mod.oracle_sql()["ann_ivf_topk"]).df())
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True
    )


def test_ivf_cell_norm_term_is_the_oracle_literal():
    """The IVF kernel's |c|² term must be the double the oracle embeds,
    float(c @ c), bit for bit. (C * C).sum(axis=1) is not: it differs by
    up to 2.8e-17 on 7 of the 16 contract-SF centroids. With v = 0 the
    score |c|² − 2·v·c is the |c|² term alone."""
    import re

    from fusets_spark.operators.similarity import _cell_scores

    mod = entry_mod()
    C = mod._ivf_centroids()
    lits = re.findall(
        r"\((\d+), \[[^\]]*\]::DOUBLE\[\], ([^)]+)\)", mod._ivf_oracle()
    )
    assert [int(i) for i, _ in lits] == list(range(len(C)))
    want = np.array([float(n2) for _, n2 in lits])
    got = _cell_scores(np.zeros(C.shape[1]), C)
    assert (got.view(np.int64) == want.view(np.int64)).all()


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.1"])
def test_mogpr_oracle_exact_off_contract_sf(spark, sf_dir):
    """mogpr_fusion parity OFF the contract SF: the recursive-CTE
    Gauss-Jordan oracle and the engine's Cholesky path agree bit-for-bit
    (after the shared 5dp rounding) at every SF, not just the driver's
    sf0.01 — the 5-day subset keeps joint n small at any corpus size
    because per-user event density is SF-independent."""
    mod = entry_mod()
    got = _canon(mod.queries()["mogpr_fusion"](spark, sf_dir).toPandas())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    want = _canon(con.execute(mod.oracle_sql()["mogpr_fusion"]).df())
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True
    )
    for c in ("value_fused", "value_std"):
        assert (
            got[c].to_numpy(np.float64).tobytes()
            == want[c].to_numpy(np.float64).tobytes()
        )
