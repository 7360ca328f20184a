"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship rollup ladder on sf0.001.
queries()     -> one entry per implemented operator (SURVEY.md §2).
oracle_sql()  -> DuckDB-equivalent SQL per query (correctness gate).

Conventions shared by queries and oracles:
  * events is the canonical point-series table: series key =
    (event_type AS source, user_id AS doc_id), unique order key = event_id.
  * double aggregates are rounded (sum->4dp, avg/std->6dp) in BOTH engines so
    the driver's value-hash is insensitive to float summation order.
  * SIGNED rounded doubles (diffs, derivatives, slopes, band indices) add
    `+ 0.0` after round() on BOTH sides: a tiny negative that rounds to zero
    yields -0.0, DuckDB's round() preserves the sign while Spark's
    normalizes, and the driver's value hash is sign-sensitive. IEEE 754:
    -0.0 + 0.0 == +0.0, non-zero values are unchanged, NULL stays NULL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Make fusets_spark importable regardless of the loader's cwd/sys.path.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusets_spark.operators.explode import DEFAULT_EPOCH  # noqa: F401 (re-export)
from fusets_spark.operators.rollup import rollup_from_raw, rollup_from_tier

SF0001 = "/root/testdata/sf0.001"
# The driver's correctness gate compares queries() vs oracle_sql() at this
# scale factor. Oracles that must embed data-derived literals (the IVF
# quantizer centroids) regenerate them from THIS directory, so query ==
# oracle is exact at the contract SF by construction.
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _rz(c, n: int):
    """Sign-normalized round for SIGNED double columns (see module
    docstring): forces -0.0 -> +0.0 so Spark and DuckDB hash identically."""
    return F.round(c, n) + F.lit(0.0)


# Deterministic subset pinning the whittaker driver row to a cheap oracle
# (same filter on both sides; see q_whittaker_gapfill docstring).
_WHIT_CUTOFF = "2024-01-11 00:00:00"
# Deterministic subset keeping the mogpr joint Gram matrices small enough
# (n <= ~21) for the recursive-CTE Gauss-Jordan oracle (see q_mogpr_fusion).
_MOGPR_CUTOFF = "2024-01-06 00:00:00"


def _query_temp_dir(prefix: str) -> str:
    """A fresh directory under the temp root for one query call, removed at
    interpreter exit: the lazy frame the query returns still reads from it,
    so it must outlive the call, and exit is after the frame's last use."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin UTC: bucket math is epoch-based (tz-independent) but timestamp
    # rendering at the Arrow boundary and timestamp literals are not. The
    # DuckDB oracle treats parquet timestamps as naive-UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Ship fusets_spark to executor Python workers (the --py-files story);
    # the driver process may not have been launched from the repo root.
    from fusets_spark.session import ship_package

    ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        F.col("user_id").alias("doc_id"),
        F.col("event_id").alias("pos"),
        "ts",
        "value",
    )


def _round_rollup(df: DataFrame) -> DataFrame:
    return df.select(
        "source",
        "doc_id",
        "bucket_ts",
        "n_obs",
        F.round("sum_val", 4).alias("sum_val"),
        "min_val",
        "max_val",
        "first_val",
        "last_val",
        F.round("avg_val", 6).alias("avg_val"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full retention ladder over the sf0.001 event stream; returns
    the 1h tier (raw -> 1m -> 5m -> 1h, coarse tiers derived from fine)."""
    pts = _event_points(spark, SF0001)
    t1m = rollup_from_raw(pts, "1m", integer_values=False)
    t5m = rollup_from_tier(t1m, "5m")
    t1h = rollup_from_tier(t5m, "1h")
    return _round_rollup(t1h)


# ---------------------------------------------------------------------------
# queries / oracles
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT event_type AS source,
       user_id AS doc_id,
       time_bucket(INTERVAL '{interval}', ts) AS bucket_ts,
       count(value) AS n_obs,
       round(sum(value), 4) AS sum_val,
       min(value) AS min_val,
       max(value) AS max_val,
       arg_min(value, event_id) AS first_val,
       arg_max(value, event_id) AS last_val,
       round(sum(value) / count(value), 6) AS avg_val
FROM events
GROUP BY 1, 2, 3
"""


def _mk_rollup(tier: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        pts = _event_points(spark, sf_dir)
        return _round_rollup(rollup_from_raw(pts, tier, integer_values=False))

    return q


def q_stream_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of rollup_1m (north rule continuous
    aggregate, SURVEY.md §2.8): the events file drained through the real
    readStream -> trigger(availableNow) -> checkpointed stream path of
    streaming/rollup_stream.start_stream_rollup, whose every micro-batch
    runs the batch rollup_from_raw and publishes a tier partial; the
    partials are read back through rollup.merge_tier_partials, as any
    reader of the stream does. Oracle: identical SQL as rollup_1m —
    streaming must not change one value."""
    from fusets_spark.operators.rollup import merge_tier_partials
    from fusets_spark.streaming.rollup_stream import start_stream_rollup

    # _t() side effects (UTC pin + package shipping) without a batch read
    _t(spark, sf_dir, "events")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the streaming file source requires a DIRECTORY to watch; the test
    # fixture is a single parquet file, so watch a temp dir holding a
    # symlink to it (zero copy). The partials stay there for the caller
    # until interpreter exit.
    root = _query_temp_dir("fusets_stream_rollup_")
    watch_dir, out = os.path.join(root, "src"), os.path.join(root, "out")
    os.mkdir(watch_dir)
    os.symlink(path, os.path.join(watch_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(watch_dir).select(
        F.col("event_type").alias("source"),
        F.col("user_id").alias("doc_id"),
        F.col("event_id").alias("pos"),
        "ts",
        "value",
    )
    q = start_stream_rollup(
        stream, out, os.path.join(root, "ckpt"), integer_values=False
    )
    try:
        if not q.awaitTermination(600):
            raise TimeoutError("streaming rollup did not drain in 600s")
    finally:
        q.stop()
    return _round_rollup(merge_tier_partials(spark.read.parquet(out)))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style multi-aggregate (reference analog: the 18-metric
    phenology groupBy, SURVEY.md §2.4) — exercises partial+final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_whittaker_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whittaker gap-fill (reference whittaker.py:123-196) over the event
    stream: per-series dense 1h grid, λ=100. FULLY ORACLED since round 3:
    the banded LDLᵀ solve is replayed in DuckDB as recursive-CTE linear
    recurrences (see oracle_sql()['whittaker_gapfill']); numeric parity is
    additionally pinned by tests/test_whittaker.py against a dense-solve
    numpy oracle.

    The driver query runs on a DETERMINISTIC SUBSET (first 10 days, every
    third series — same filter in the oracle): identical recurrences and
    code path, but the oracle's sequential recursion is ~27x cheaper
    (35.6 s -> 1.3 s at sf0.01), so this row can never again fall out of
    the driver's per-round budget (the round-4 53-vs-50 truncation).
    Full-corpus numeric parity stays pinned in pytest."""
    from fusets_spark.operators.whittaker import whittaker_gapfill

    pts = (
        _event_points(spark, sf_dir)
        .filter(
            (F.col("ts") < F.lit(_WHIT_CUTOFF).cast("timestamp_ntz"))
            & (F.col("doc_id") % 3 == 0)
        )
        .select(
            "source",
            F.col("doc_id").cast("string").alias("doc_id"),
            "ts",
            "value",
        )
    )
    # kernel call count follows the input's size estimate
    # (kernels.n_buckets: defaultParallelism × 2 to × 8), so solver
    # parallelism scales with the cluster
    out = whittaker_gapfill(pts, lmbd=100.0, grid_seconds=3600)
    return out.select(
        "source", "doc_id", "ts", F.round("value_smooth", 6).alias("value_smooth")
    )


def q_stream_block_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming Gorilla block builder (applyInPandasWithState —
    the brief's custom-stateful-operator surface): event points flow
    through a real readStream; each series' open buckets live in
    Spark-managed group state; event-time timeouts seal blocks as the
    watermark passes bucket ends (streaming/block_stream.py). The backlog
    is drained deterministically with one trailing sentinel row, sealed
    blocks are decoded back to points, and the oracle checks
    stream-encode∘decode == identity against the plain events projection —
    so the stateful path must reproduce the batch codec byte-for-byte
    (byte-level equality with encode_blocks is additionally pinned in
    tests/test_streaming.py)."""
    import hashlib
    import tempfile

    from fusets_spark.codec.blocks import decode_blocks
    from fusets_spark.streaming.block_stream import seal_all_with_sentinels

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    # fixed per-SF path under the temp root (overwritten each run) — a
    # fresh mkdtemp per call would accumulate full event-table copies there
    # across rounds
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    work = os.path.join(tempfile.gettempdir(), f"fusets_stream_blocks_{tag}")
    # sealed blocks stream straight to parquet files under a checkpoint
    # (exactly-once); the return is a plain scan of the sink
    sealed = seal_all_with_sentinels(
        spark, pts, work, block_seconds=86400, sink="parquet"
    )
    return decode_blocks(sealed).select(
        "source",
        "doc_id",
        # the stream ran under the pinned-UTC instant type; back to NTZ
        # for hash parity with the DuckDB projection
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
    )


def q_csv_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source loader (reference sits_bridge.py:44-112 load_sits_csv):
    the events table is written out as a WIDE csv at query time (one
    column per event_type band, microsecond timestamps pre-formatted —
    Spark's default CSV timestampFormat truncates to millis), then loaded
    back through sources/loaders.load_points_csv (header + schema
    inference, band auto-detection, wide→long melt, series-key doc_id).
    The oracle reads the same rows straight from parquet, so the whole
    write→infer→melt round trip must be value-exact."""
    import hashlib
    import tempfile

    from fusets_spark.sources.loaders import load_points_csv

    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("Index"),
            "user_id",
        )
        .pivot("event_type")
        .agg(F.first("value"))
    )
    # fixed per-SF path under the temp root (mode=overwrite) — no
    # accumulation across runs
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"fusets_csv_{tag}")
    path = os.path.join(root, "events_wide")
    wide.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    out = load_points_csv(
        spark, path, time_col="Index", series_cols=["user_id"]
    )
    return out.select(
        "source", "doc_id", "ts", _rz(F.col("value"), 6).alias("value")
    )


def q_netcdf_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """netCDF source loader (reference sits_bridge.py:115-145
    load_sits_netcdf) through the DISTRIBUTED directory path: the events
    table is aggregated to a per-(event_type, user, day) daily-mean cube,
    written at query time as one granule per event_type with the
    dependency-free writers — the FIRST event_type as a real NetCDF-4
    (HDF5) file (sources/hdf5.py: dimension scales, DIMENSION_LIST
    global-heap references; round 6), the rest as classic CDF-1
    (sources/netcdf3.py) — then loaded back via
    sources/loaders.load_netcdf_dir, whose per-file magic dispatch
    parses the MIXED directory on executors (binaryFile → pure-numpy
    parse → long melt). The oracle computes the same daily means
    straight from parquet, so both parsers' write→parse→melt round
    trips must be value-exact in one row."""
    import hashlib
    import os
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    from fusets_spark.sources.loaders import load_netcdf_dir
    from fusets_spark.sources.netcdf3 import NcVar, write_netcdf3

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", "user_id", F.to_date("ts").alias("day")
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
        .toPandas()  # bounded: users x days x event_types aggregate
    )
    users = np.sort(daily["user_id"].unique())
    days = pd.date_range(daily["day"].min(), daily["day"].max(), freq="D")
    di = {d.date(): i for i, d in enumerate(days)}
    ui = {u: i for i, u in enumerate(users)}
    # fixed per-SF dir, fully CLEARED each run: per-event_type granules
    # mean a stale .nc from a prior run (data regenerated with a
    # different event_type set at the same path) would be ingested by
    # load_netcdf_dir and corrupt the row. Local-mode assumption:
    # executors share the driver's temp root (true on local[n], which is
    # where driver rows run; a cluster would use a shared store).
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"fusets_nc_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    first_et = sorted(daily["event_type"].unique())[0]
    for et, g in daily.groupby("event_type"):
        cube = np.full((len(days), len(users)), np.nan)
        cube[
            [di[d] for d in g["day"]], [ui[u] for u in g["user_id"]]
        ] = g["v"].to_numpy()
        if et == first_et:
            from fusets_spark.sources.hdf5 import write_netcdf4

            buf = write_netcdf4(
                {"time": None, "series": len(users)},
                [
                    NcVar(
                        "time", ("time",),
                        np.arange(len(days), dtype=np.int32),
                        {"units": f"days since {days[0].date()}"},
                    ),
                    NcVar("series", ("series",), users.astype(np.int32)),
                    NcVar("value", ("time", "series"), cube),
                ],
            )
        else:
            buf = write_netcdf3(
                {"time": None, "series": len(users)},
                [
                    NcVar(
                        "time", ("time",),
                        np.arange(len(days), dtype=">i4"),
                        {"units": f"days since {days[0].date()}"},
                    ),
                    NcVar("series", ("series",), users.astype(">i4")),
                    NcVar("value", ("time", "series"), cube.astype(">f8")),
                ],
            )
        with open(os.path.join(root, f"{et}.nc"), "wb") as f:
            f.write(buf)
    out = load_netcdf_dir(spark, root)
    # cube gaps are NaN in the parsed frame; Arrow surfaces them as NULL
    # at the mapInPandas boundary — filter both representations
    return out.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        F.regexp_extract("src_file", r"([^/]+)\.nc$", 1).alias("source"),
        F.col("series").cast("string").alias("doc_id"),
        F.col("time").cast("timestamp_ntz").alias("ts"),
        _rz(F.col("value"), 6).alias("value"),
    )


def q_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + netCDF loaders folded into ONE driver slot (round 6: frees a
    row under the hard 50-cap for geotiff_load). Both round trips run in
    full — `fmt` tags which loader produced each row, so a regression in
    either one still reddens this row."""
    csv = q_csv_load(spark, sf_dir).withColumn("fmt", F.lit("csv"))
    nc = q_netcdf_load(spark, sf_dir).withColumn("fmt", F.lit("nc"))
    return csv.unionByName(nc)


def q_geotiff_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF source loader (reference sits_bridge.py:148-199
    load_sits_geotiff) through BOTH stacking modes: the events table is
    aggregated to a per-(event_type, user, day) daily-mean cube, users
    are laid onto a ceil(sqrt(n))-wide pixel grid, and the cube is
    written at query time with the dependency-free writer
    (sources/geotiff.py) as
      * file-per-date for the FIRST event_type — one DEFLATE multi-strip
        raster per day, ungeoreferenced (pixel-index coords), exercising
        natural-order path↔coord pairing and the round-6 Compression=8
        read path on executors;
      * time_dimension='band' for the rest — ONE georeferenced
        multi-band file per event_type (bands = time axis), exercising
        the band-count probe and the ModelPixelScale/Tiepoint →
        cell-center transform.
    Granules load back via sources/loaders.load_sits_geotiff (binaryFile
    → executor-side pure-numpy TIFF parse → pixel explosion); nodata
    (-9999, GDAL tag 42113) masks the grid gaps. The oracle computes the
    same daily means and grid coordinates straight from parquet, so the
    whole write→inflate→explode round trip must be value-exact."""
    import hashlib
    import os
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    from fusets_spark.sources.geotiff import write_tiff
    from fusets_spark.sources.loaders import load_sits_geotiff

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", "user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
        .toPandas()  # bounded: users x days x event_types aggregate
    )
    users = np.sort(daily["user_id"].unique())
    days = pd.date_range(daily["day"].min(), daily["day"].max(), freq="D")
    grid_w = int(np.ceil(np.sqrt(len(users))))
    grid_h = int(np.ceil(len(users) / grid_w))
    ui = {u: i for i, u in enumerate(users)}
    di = {d.date(): i for i, d in enumerate(days)}
    nod = -9999.0
    # fixed per-SF dir, fully cleared each run (stale granules from a
    # prior data generation would corrupt the row); local-mode temp-root
    # sharing assumption as q_netcdf_load
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"fusets_tif_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    ets = sorted(daily["event_type"].unique())
    times = list(days)
    outs = []
    for et in ets:
        g = daily[daily["event_type"] == et]
        cube = np.full((len(days), grid_h, grid_w), nod)
        idx = np.array([ui[u] for u in g["user_id"]])
        trow = np.array([di[d] for d in g["day"]])
        cube[trow, idx // grid_w, idx % grid_w] = g["v"].to_numpy()
        d = os.path.join(root, et)
        os.makedirs(d)
        if et == ets[0]:
            for i in range(len(days)):
                with open(os.path.join(d, f"day-{i:03d}.tif"), "wb") as f:
                    f.write(
                        write_tiff(
                            cube[i], nodata=nod,
                            compress="deflate", rows_per_strip=5,
                        )
                    )
            df = load_sits_geotiff(spark, d, times)
        else:
            with open(os.path.join(d, f"{et}.tif"), "wb") as f:
                f.write(
                    write_tiff(
                        np.moveaxis(cube, 0, 2),  # (h, w, bands=time)
                        pixel_scale=(0.5, 0.5, 0.0),
                        tiepoint=(0.0, 0.0, 0.0, 10.0, 20.0, 0.0),
                        nodata=nod, compress="deflate",
                    )
                )
            df = load_sits_geotiff(spark, d, times, time_dimension="band")
        outs.append(df.withColumn("source", F.lit(et)))
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    # nodata pixels surface as NULL (loader masks) — drop grid gaps
    return out.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        "source",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "y",
        "x",
        _rz(F.col("value"), 6).alias("value"),
    )


def q_gorilla_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla DoD+XOR block codec (north rule): encode the event stream into
    per-(series, 1-day-bucket) binary blocks, decode, and return restored
    points. Daily buckets give ~5 points/block on the sparse event grid so
    the verified path exercises the multi-point delta-of-delta and XOR
    codeword branches (1h buckets yielded 1.01 points/block — header-only
    blocks that never touch the variable-length codes).

    The oracle checks encode∘decode == identity: the restored points must
    equal the plain projection of the input (SQL-expressible!).

    r7: both codec directions run fused in one kernel pass
    (roundtrip_points — bytes and restored points identical to the
    chained encode_blocks→decode_blocks, pinned in tests/test_codec.py);
    the chained form shipped the ~800k-row block table across the
    Python↔JVM boundary twice for nothing."""
    from fusets_spark.codec.blocks import roundtrip_points

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    return roundtrip_points(pts, block_seconds=86400).select(
        "source", "doc_id", "ts", "value"
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media resize (round brief: decode/feature-extract/resize/
    frame-sample): nearest-neighbor resize of raw single-channel bitmap
    buffers in vectorized numpy — no media libs, no stub. Payloads are
    deterministic 16x16 bitmaps built from repeat(md5(text), 8) cast to
    binary (ASCII hex bytes), resized to 7x5; output is one row per output
    pixel so the oracle can replay the gather with pure byte indexing."""
    from fusets_spark.operators.multimodal import resize_raw_media

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.repeat(F.md5(F.col("text")), 8).cast("binary").alias("payload"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
    )
    return resize_raw_media(media, out_w=7, out_h=5, output="pixels")


def q_block_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-store compaction (north-rule retention path): 1h Gorilla
    blocks are compacted into 1-day blocks (whole blocks regrouped +
    re-encoded, never split), then decoded. The oracle checks
    decode∘compact∘encode == identity; byte-identity of compacted blocks
    vs direct coarse encoding (incl. compaction composition) is pinned in
    tests/test_codec.py."""
    from fusets_spark.codec.blocks import (
        compact_blocks,
        decode_blocks,
        encode_blocks,
    )

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    fine = encode_blocks(pts, block_seconds=3600)
    daily = compact_blocks(fine, 86400)
    return decode_blocks(daily).select("source", "doc_id", "ts", "value")


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal z-score outlier filter (reference temporal_outliers.py:48-70):
    20-day centered rolling mean/std (ddof=1), |z|>3 -> rolling mean."""
    from fusets_spark.operators.outliers import temporal_outliers

    pts = _event_points(spark, sf_dir)
    out = temporal_outliers(pts, window="20D", threshold=3.0)
    return out.select(
        "source",
        "doc_id",
        "ts",
        F.round("value_filtered", 6).alias("value_filtered"),
    )


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-padded t±1/t±2 features + trend/volatility (reference
    improved_s1_ndvi_fusion_v2.py:94-155)."""
    from fusets_spark.operators.windows import lag_lead_features

    pts = _event_points(spark, sf_dir)
    out = lag_lead_features(pts)
    plain = ["v_lag1", "v_lag2", "v_lead1", "v_lead2", "avg3", "avg5",
             "volatility"]
    signed = ["backward_diff", "forward_diff", "trend"]
    return out.select(
        "source", "doc_id", "ts",
        *[F.round(c, 6).alias(c) for c in plain],
        *[_rz(F.col(c), 6).alias(c) for c in signed],
    )


def q_time_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series time derivative (reference differentiate('time'),
    _phenolopy.py:1342)."""
    from fusets_spark.operators.windows import time_derivative

    pts = _event_points(spark, sf_dir)
    return time_derivative(pts).select(
        "source", "doc_id", "ts", _rz(F.col("dvdt"), 6).alias("dvdt")
    )


def q_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of nulls along time (reference
    interpolate_na(dim='time'), _phenolopy.py:601-690). Nulls are injected
    deterministically (error events) to exercise the gap path."""
    from fusets_spark.operators.windows import linear_interpolate

    pts = _event_points(spark, sf_dir).withColumn(
        "value", F.when(F.col("source") != "error", F.col("value"))
    ).withColumn("source", F.lit("all"))
    return linear_interpolate(pts).select(
        "doc_id", "ts", F.round("value_interp", 6).alias("value_interp")
    )


def q_resample_day_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample, mean reducer (reference _phenolopy.py:448-511)."""
    from fusets_spark.operators.resample import resample

    pts = _event_points(spark, sf_dir)
    out = resample(pts, "day", "mean")
    return out.select(
        "source", "doc_id", "bucket_ts",
        F.round("value", 6).alias("value"), "n_obs",
    )


def q_resample_week_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample, EXACT median reducer (reference _phenolopy.py:498)."""
    from fusets_spark.operators.resample import resample

    pts = _event_points(spark, sf_dir)
    out = resample(pts, "week", "median")
    return out.select(
        "source", "doc_id", "bucket_ts",
        F.round("value", 6).alias("value"), "n_obs",
    )


def q_calendar_month_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar group-reduce across years (reference _phenolopy.py:514-598)."""
    from fusets_spark.operators.resample import group_by_calendar

    pts = _event_points(spark, sf_dir)
    out = group_by_calendar(pts, "month", "mean")
    return out.select(
        "source", "doc_id", "month", F.round("value", 6).alias("value"), "n_obs"
    )


def q_phenometrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series phenology metrics (reference _phenolopy.py:2317-2537) as a
    single declarative plan — POS/VOS/AOS/BSE/MOS/SOS/EOS/LOS/ROI/ROD +
    trapezoidal integrals."""
    from fusets_spark.operators.phenology import phenometrics

    pts = _event_points(spark, sf_dir)
    m = phenometrics(pts, factor=0.5)
    dbl = ["pos_value", "vos_value", "aos_value", "bse_value", "mos_value",
           "sos_value", "eos_value", "lios_value", "liot_value"]
    signed = ["roi_value", "rod_value", "sios_value", "siot_value"]
    ints = ["pos_doy", "vos_doy", "sos_doy", "eos_doy", "los_value"]
    return m.select(
        "source", "doc_id",
        *[F.round(c, 6).alias(c) for c in dbl],
        *[_rz(F.col(c), 6).alias(c) for c in signed],
        *[F.col(c).cast("long").alias(c) for c in ints],
    )


def q_peakvalley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak/valley event mask (reference peakvalley.py:62-184) — the
    per-series sequential state machine, driver-verified against a DuckDB
    oracle that replays the same machine with recursive CTEs
    (_peakvalley_oracle): plateau-run peak/valley detection, the
    fluctuation-merge fold, the backward slope-adjusted start scan and the
    forward recovery scan. The kernel's NaN 'other' marker is projected to
    NULL (same information; NULL is hash-comparable across engines)."""
    from fusets_spark.operators.peakvalley import peakvalley

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    out = peakvalley(pts, drop_thr=50.0, rec_r=1.0, slope_thr=-0.5)
    return out.select(
        "source", "doc_id", "ts",
        F.when(~F.isnan("flag"), F.col("flag")).alias("flag"),
    )


def q_harmonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCDC harmonic OLS fit (reference ccdc.py:118-154) — FULLY ORACLED:
    the kernel accumulates the Gram system sequentially and solves it by
    fixed-order elimination, and the DuckDB oracle replays the identical
    IEEE op sequence (recursive-CTE accumulation + staged-expression
    elimination). Golden coefficients additionally pinned in
    tests/test_kernels.py."""
    from fusets_spark.operators.harmonics import harmonic_fit

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    out = harmonic_fit(pts, num_coefficients=4)
    return out.select(
        "source", "doc_id", "n_obs",
        *[_rz(F.col(f"c{i}"), 4).alias(f"c{i}") for i in range(4)],
    )


def q_ccdc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCDC change detection recast for generic series (reference
    ccdc.py:7-115; the reference wraps lcmap-pyccd and skips its own test)
    — FULLY ORACLED: the sequential segmenter fits its k=2 windows from
    left-to-right running sums + fixed-order elimination, and the DuckDB
    oracle steps the identical state machine as a recursive CTE
    (bit-identical anomaly comparisons). Step-change goldens additionally
    pinned in tests/test_kernels.py."""
    from fusets_spark.operators.ccdc import ccdc_segments

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    out = ccdc_segments(pts, num_coefficients=4, min_obs=8)
    return out.select(
        "source", "doc_id", "segment", "start_day", "end_day", "break_day",
        "n_obs",
    )


def q_mogpr_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOGPR-recast multi-signal fusion (reference mogpr.py:139-221) with
    fixed hyperparameters. Signals = event_type per user. FULLY ORACLED
    since round 5: the query runs on the first {_MOGPR_CUTOFF} days of the
    event stream (every doc, joint n ≤ ~21 observations), and the DuckDB
    oracle re-derives the joint dense-GP posterior end-to-end — per-signal
    z-normalization, the coregionalized Matern-3/2 Gram matrix, a
    recursive-CTE Gauss-Jordan matrix INVERSE over a list-typed augmented
    matrix, then mean/variance readout on the daily grid (the round-3
    "route b" Gram-solve replay). Agreement with the engine's Cholesky
    path is ~2e-12 absolute, so both sides round at 5dp (a 6dp boundary
    sits within ~1e-13 of a computed value once in ~10^3 runs; 5dp makes
    the collision odds negligible). Full-span numeric parity remains
    pinned by tests/test_fusion_differential.py, which re-derives every
    output row of the UNFILTERED sf0.001/sf0.01 events tables through an
    independent LU + explicit-inverse implementation (<1e-8) and an O(n)
    state-space Kalman+RTS twin (~1e-13)."""
    from fusets_spark.operators.fusion import mogpr_fuse

    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(_MOGPR_CUTOFF).cast("timestamp_ntz"))
        .select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("event_type").alias("source"),
            "ts",
            "value",
        )
    )
    # daily output grid keeps the result compact at sf0.01
    out = mogpr_fuse(pts, lengthscale=3.0, noise=0.1, prediction_period_days=1.0)
    return out.select(
        "doc_id", "source", "ts",
        _rz(F.col("value_fused"), 5).alias("value_fused"),
        _rz(F.col("value_std"), 5).alias("value_std"),
    )


def q_bandmath_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vegetation-index style column math (reference _phenolopy.py:158-162)
    over lineitem numeric columns — native expressions, DuckDB oracle."""
    from fusets_spark.functions.bandmath import evi, mavi, ndvi, rvi

    li = _t(spark, sf_dir, "lineitem")
    nir, red = F.col("l_extendedprice"), F.col("l_quantity")
    blue, swir = F.col("l_discount"), F.col("l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _rz(ndvi(nir, red), 6).alias("ndvi"),
        _rz(evi(nir, red, blue), 6).alias("evi"),
        _rz(mavi(nir, red, swir), 6).alias("mavi"),
        _rz(rvi(nir, red), 6).alias("rvi"),
    )


# --- training-data pipeline queries (documents / embeddings) --------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.operators.dedup import minhash_lsh_pairs

    # cap=64 explicitly: the operator default is now None (exact pair
    # semantics, per the round-6 advisor's contract note); this query's
    # oracle replays the capped star semantics, so the cap stays here.
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), max_bucket_size=64
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_words=3,
        threshold=0.05,
        max_doc_freq=100,
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters + survivor selection: MinHash-LSH candidate pairs
    -> connected components (iterative min-label propagation) -> keep the
    min doc per cluster. Oracle = recursive-CTE transitive closure over the
    identical pair set."""
    from fusets_spark.operators.dedup import minhash_lsh_pairs, neardup_components

    docs = _t(spark, sf_dir, "documents")
    # distinct=False: neardup_components distincts its bidirectional edge
    # list, so pair-level dedup here would be a pure extra shuffle stage.
    # components consumer: the star cap keeps clusters identical while
    # bounding hot-bucket pair volume (cap opt-in since round 7).
    return neardup_components(
        docs, minhash_lsh_pairs(docs, max_bucket_size=64, distinct=False)
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.operators.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=20)


_ANN_PARAMS = dict(k=20, n_planes=5, n_probes=2, seed=42, dim=64)
_NEARDUP_PARAMS = dict(threshold=0.25, n_planes=5, n_tables=3, seed=7, dim=64)
_IVF_PARAMS = dict(k=20, n_cells=16, nprobe=2, sample=1024, iters=10)
_IVF_CENTROID_CACHE: dict[str, "object"] = {}


def _ivf_centroids():
    """The ONE quantizer both the query and the oracle use: deterministic
    k-means on the first `sample` vec_ids of the CONTRACT-SF embeddings
    table (ORACLE_SF_DIR), trained once per process via pyarrow (no Spark)
    and cached. Fit-once/apply-many: because the query applies these
    frozen centroids at every sf_dir instead of retraining per input,
    query == oracle holds at EVERY SF, not just the contract one."""
    if "C" not in _IVF_CENTROID_CACHE:
        import numpy as np
        import pyarrow.parquet as pq

        from fusets_spark.operators.similarity import kmeans_fit

        emb_path = f"{ORACLE_SF_DIR}/embeddings.parquet"
        if not os.path.exists(emb_path):
            raise FileNotFoundError(
                f"IVF quantizer needs the contract embeddings table at "
                f"{emb_path} (set via __spark_entry__.ORACLE_SF_DIR / "
                "$SPARK_GRAFT_ORACLE_SF)"
            )
        tbl = pq.read_table(
            emb_path, columns=["vec_id", "embedding"]
        ).to_pandas()
        tbl = tbl.sort_values("vec_id").head(_IVF_PARAMS["sample"])
        X = np.stack(
            [np.asarray(v, dtype=np.float64) for v in tbl["embedding"]]
        )
        _IVF_CENTROID_CACHE["C"] = kmeans_fit(
            X, _IVF_PARAMS["n_cells"], _IVF_PARAMS["iters"]
        )
    return _IVF_CENTROID_CACHE["C"]


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (centroid coarse quantizer, the brief's alternative to LSH):
    deterministic k-means quantizer frozen on the contract-SF sample
    (fit-once/apply-many), distributed assignment against literal
    centroids, nprobe-cell exact-cosine rank. Oracle-exact at every SF —
    the SQL embeds the same frozen centroids."""
    from fusets_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0,
        centroids=_ivf_centroids(), **_IVF_PARAMS,
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: exact cosine within the query's probe-bucket set
    (own bucket + flips of the lowest-|margin| planes). Hyperplanes are
    deterministic literals shared with the SQL oracle."""
    from fusets_spark.operators.similarity import ann_topk_lsh

    return ann_topk_lsh(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, **_ANN_PARAMS
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded multi-table LSH
    (candidates = same bucket in ANY table), exact cosine ≥ threshold."""
    from fusets_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), **_NEARDUP_PARAMS
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.functions.textstats import text_quality

    return text_quality(_t(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.functions.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.functions.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fusets_spark.functions.textstats import doc_fingerprint

    return doc_fingerprint(_t(spark, sf_dir, "documents"))


def q_media_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, JVM-side metadata over a binary payload column
    (payload = utf-8 bytes of text here; the decode stage is a stub —
    see operators/multimodal.py)."""
    from fusets_spark.operators.multimodal import attach_binary_payload

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = attach_binary_payload(docs, "payload", "image")
    return out.select("doc_id", "media_type", "n_bytes", "sha256")


def q_multimodal_decode_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-pixel media decode (formerly the repo's one declared stub):
    a complete 8-bit uncompressed BMP — file header, info header,
    grayscale palette, bottom-up 4-byte-padded pixel rows — is synthesized
    JVM-side from the documents table (pixels = repeat(md5(text), 8) ASCII
    bytes), then operators/multimodal.decode_bmp parses the actual
    container bytes back to (y, x, px) rows. Width 10 forces real row
    padding (stride 12) and the bottom-up flip; the DuckDB oracle derives
    every pixel independently from the source text, so any construction or
    parsing offset error breaks the match end-to-end."""
    from fusets_spark.operators.multimodal import bmp8_header, decode_media_pixels

    W, H = 10, 6
    docs = _t(spark, sf_dir, "documents")
    buf = F.repeat(F.md5(F.col("text")), 8).cast("binary")
    # pixel array: file rows bottom-up; file row fy holds image row H-1-fy,
    # each padded from W=10 to stride 12
    file_rows = [
        F.concat(
            F.substring(buf, (H - 1 - fy) * W + 1, W), F.lit(b"\x00\x00")
        )
        for fy in range(H)
    ]
    payload = F.concat(F.lit(bmp8_header(W, H)), *file_rows)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        payload.alias("payload"),
    )
    return decode_media_pixels(media)


def _byte(c):  # 1-byte binary from an int column (0-255)
    return F.unhex(F.lpad(F.hex(c), 2, "0"))


def _be32(c):  # big-endian uint32 bytes
    return F.unhex(F.lpad(F.hex(c), 8, "0"))


def _le_bytes(c, n: int):  # little-endian n-byte binary
    parts = []
    for i in range(n):
        parts.append(_byte(F.pmod(F.floor(c / F.lit(256**i)).cast("long"), F.lit(256))))
    return F.concat(*parts)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media-header decode (PNG IHDR + WAV RIFF, pure byte parsing —
    operators/multimodal.py:parse_media_header). Deterministic container
    payloads are synthesized JVM-side from the documents table (even doc_id
    -> PNG, odd -> WAV); the decoder extracts dimensions / channels /
    sample rate / sample count from the actual bytes, and the DuckDB oracle
    derives every parsed field + total byte count independently from the
    same source columns — an end-to-end round-trip of construction+parsing
    (a wrong byte order or offset in either stage breaks the match)."""
    from fusets_spark.operators.multimodal import PNG_MAGIC, decode_media_headers

    docs = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    text_bytes = F.encode("text", "utf-8")
    n_chars = F.length("text")
    w = F.pmod(n_chars, F.lit(192)) + F.lit(64)
    h = F.pmod(n_chars * 7 + 13, F.lit(192)) + F.lit(64)
    png_payload = F.concat(
        F.lit(PNG_MAGIC + b"\x00\x00\x00\x0dIHDR"),
        _be32(w),
        _be32(h),
        # bit depth 8, color type 6 (RGBA), compression/filter/interlace 0,
        # 4 CRC bytes (not validated by the header peek)
        F.lit(b"\x08\x06\x00\x00\x00" + b"\x00" * 4),
        text_bytes,
    )
    channels = F.pmod(F.floor(doc_id / F.lit(2)).cast("long"), F.lit(2)) + 1
    sr = F.element_at(
        F.array(F.lit(8000), F.lit(16000), F.lit(44100)),
        (F.pmod(doc_id, F.lit(3)) + 1).cast("int"),
    )
    block = channels * 2  # 16-bit PCM
    data_size = F.octet_length("text")
    wav_payload = F.concat(
        F.lit(b"RIFF"),
        _le_bytes(data_size + 36, 4),
        F.lit(b"WAVEfmt " + b"\x10\x00\x00\x00" + b"\x01\x00"),
        _le_bytes(channels, 2),
        _le_bytes(sr, 4),
        _le_bytes(sr * block, 4),  # byte rate
        _le_bytes(block, 2),
        F.lit(b"\x10\x00data"),  # bits=16 LE, data chunk tag
        _le_bytes(data_size, 4),
        text_bytes,
    )
    src = docs.select(
        doc_id.cast("string").alias("media_id"),
        F.when(F.pmod(doc_id, F.lit(2)) == 0, png_payload)
        .otherwise(wav_payload)
        .alias("payload"),
    )
    # sha256 stays internal: DuckDB's sha256() is VARCHAR-only, so the
    # oracle checks every PARSED header field + total byte count instead
    return decode_media_headers(src).drop("sha256")


def q_savgol_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay smoothing (reference _phenolopy.py:765-771) — scipy
    default semantics in pure numpy; DuckDB oracle = the same smoothing
    matrices as literal window dot products (_savgol_oracle)."""
    from fusets_spark.operators.smoothing import savgol_smooth

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    out = savgol_smooth(pts, window=7, polyorder=2)
    return out.select(
        "source", "doc_id", "ts", _rz(F.col("value_smooth"), 6).alias("value_smooth")
    )


def q_stl_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL/LOESS trend (reference _phenolopy.py:1510-1593 stl_trend method;
    single-cycle STL degenerates to its degree-1 tricube-LOESS trend
    smoother — operators/smoothing.py:loess_trend). The DuckDB oracle
    re-derives every point set-based: an n² within-series self-join builds
    the tricube weights (q-th-smallest distance bandwidth incl. the
    Cleveland span>data extension), then closed-form weighted linear fit
    per point. Sum order differs from numpy's, so values agree to ~1e-12 —
    rounded at 4dp on both sides."""
    from fusets_spark.operators.smoothing import stl_trend_col

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    out = stl_trend_col(pts)
    return out.select(
        "source", "doc_id", "ts", _rz(F.col("trend"), 4).alias("trend")
    )


def q_gaussian_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian smoothing (reference _phenolopy.py:773-779), reflect padding,
    truncate=4; DuckDB oracle folds the padding into literal edge weights
    (_gaussian_oracle)."""
    from fusets_spark.operators.smoothing import gaussian_smooth

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    out = gaussian_smooth(pts, sigma=1.5)
    return out.select(
        "source", "doc_id", "ts", _rz(F.col("value_smooth"), 6).alias("value_smooth")
    )


def q_num_seasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Season count via height/distance peak selection (reference
    _phenolopy.py:804-880) — rows-only; goldens in tests."""
    from fusets_spark.operators.peakvalley import num_seasons

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    return num_seasons(pts)


def q_remove_outliers_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-method outlier removal (reference _phenolopy.py:176-315):
    rolling-median distance > std*factor + neighbor check. win_size=5
    fixed (the reference derives one window per dataset; SQL window frames
    must be constant)."""
    from fusets_spark.operators.outlier_removal import remove_outliers

    pts = _event_points(spark, sf_dir)
    out = remove_outliers(pts, method="median", user_factor=2.0, win_size=5)
    return out.select(
        "source", "doc_id", "ts",
        F.round("value_clean", 6).alias("value_clean"),
    )


def q_merge_cubes_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sensor cube merge (reference openeo/__init__.py:131,
    tests/test_cube_construction.py:4-19): two band frames full-outer-joined
    on (series, ts) — union of time grids, NULL where a band lacks data."""
    from fusets_spark.sources import merge_cubes

    pts = _event_points(spark, sf_dir).select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "ts", "value"
    )
    click = pts.filter(F.col("source") == "click")
    view = pts.filter(F.col("source") == "view")
    wide = merge_cubes(click, view, how="outer")
    return wide.select(
        "doc_id", "ts",
        F.round("click", 6).alias("click"),
        F.round("view", 6).alias("view"),
    )


# Deterministic (x, y) grid derived from the events table: cell value =
# avg(value) of the users hashing to the cell. Mirrorable 1:1 in SQL.
_GRID_W, _GRID_H = 25, 30
# pentagon with no horizontal edges (division guard in the crossing test)
_POLY = [(2.0, 1.0), (22.0, 4.0), (18.0, 27.0), (7.0, 25.0), (1.0, 12.0)]


def _grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.pmod("user_id", F.lit(_GRID_W)).alias("x"),
            F.pmod(F.floor(F.col("user_id") / _GRID_W), F.lit(_GRID_H)).alias(
                "y"
            ),
            "value",
        )
        .groupBy("x", "y")
        .agg(F.avg("value").alias("value"))
    )


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 NaN-aware focal mean/std (reference
    improved_s1_ndvi_fusion_v2.py:46-97) over the derived cell grid."""
    from fusets_spark.operators.spatial import focal_stats

    out = focal_stats(_grid(spark, sf_dir), radius=1)
    return out.select(
        "x", "y", "n_nbr",
        F.round("f_mean", 6).alias("f_mean"),
        F.round("f_std", 6).alias("f_std"),
    )


def q_polygon_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openEO mask_polygon (reference publish_mogpr_s1_s2.py:86,122,138,170)
    as native ray casting over literal vertices."""
    from fusets_spark.operators.spatial import polygon_mask

    out = polygon_mask(_grid(spark, sf_dir), _POLY)
    return out.select("x", "y", F.round("value", 6).alias("cell_value"))


def q_retention_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retention (north rule: per-tier horizons over the tier
    store): the 1m tier is committed through TierStore in per-ISO-week
    batches, apply_retention(keep=10 days, now=max event ts) drops whole
    expired batch partitions (manifests flagged, lineage kept), and the
    surviving tier rows are read back. Oracle = the same 1m rollup minus
    the weeks whose max bucket_ts fell past the horizon — verifying the
    metadata-driven expiry decision AND that surviving data is untouched."""
    from fusets_spark.plans.lineage import TierStore

    pts = _event_points(spark, sf_dir)
    t1m = rollup_from_raw(pts, "1m", integer_values=False).withColumn(
        "week", F.weekofyear("bucket_ts")
    )
    store = TierStore(_query_temp_dir("fusets_retention_"))
    # one staged write for ALL weekly batches (write_batches), manifest
    # stats observed per week on that write — a per-week commit would
    # re-execute the full rollup once per week. Layout and manifest
    # contents equal per-week commits (order-insensitive stats;
    # equivalence pinned in tests/test_resume.py).
    batched = t1m.withColumn(
        "_batch", F.format_string("w%02d", F.col("week"))
    ).drop("week")
    mans = store.write_batches(batched, "1m", "_batch", "cfg")
    for bid in sorted(mans):
        store.commit_watermark("1m", bid)
    now = str(pts.agg(F.max("ts")).collect()[0][0])
    store.apply_retention({"1m": 10 * 86400.0}, now)
    out = spark.read.parquet(store.tier_path("1m")).drop("batch")
    return _round_rollup(out)


def q_late_data_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule late data end-to-end: the event stream is committed in TWO
    batches — on-time (~80%) and late (every 5th event, arriving after its
    bucket was already materialized) — through the TierStore, and the tier
    is read back with merge_tier_partials. The result must equal a
    single-pass rollup EXACTLY (the oracle never sees the split).

    Uses per-(source, 1h) granularity and integer values (milli-floored —
    the north rule's token domain is integer) so buckets genuinely contain
    points from BOTH batches (~4 obs/bucket; per-series event buckets hold
    ~1 obs and would never merge) and partial sums are bit-exact under any
    merge order. first/last merge through the stored order keys
    (first_pos/last_pos), the part a naive re-aggregation gets wrong."""
    from fusets_spark.operators.rollup import (
        merge_tier_partials,
        rollup_from_raw,
    )
    from fusets_spark.plans.lineage import TierStore

    pts = _event_points(spark, sf_dir).select(
        "source",
        F.lit("all").alias("doc_id"),
        "pos",
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
    )
    store = TierStore(_query_temp_dir("fusets_latedata_"))
    # both batches in one staged commit (write_batches), each its own
    # batch partition + manifest + watermark
    batched = [
        rollup_from_raw(pts.filter(pred), "1h", with_order_keys=True)
        .withColumn("_batch", F.lit(bid))
        for bid, pred in (
            ("b1-ontime", F.pmod("pos", F.lit(5)) != 0),
            ("b2-late", F.pmod("pos", F.lit(5)) == 0),
        )
    ]
    mans = store.write_batches(
        batched[0].unionByName(batched[1]), "1h", "_batch", "cfg"
    )
    for bid in sorted(mans):
        store.commit_watermark("1h", bid)
    tier = spark.read.parquet(store.tier_path("1h")).drop("batch")
    merged = merge_tier_partials(tier)
    return merged.select(
        "source",
        "doc_id",
        "bucket_ts",
        "n_obs",
        "sum_val",
        "min_val",
        "max_val",
        "first_val",
        "last_val",
        F.round("avg_val", 6).alias("avg_val"),
    )


def q_rollup_1m_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED rollup (north rule's hot-key skew defense):
    identical oracle as rollup_1m — the salt must not change one value."""
    from fusets_spark.operators.rollup import salted_rollup

    pts = _event_points(spark, sf_dir)
    out = salted_rollup(pts, "1m", n_salts=8, integer_values=False)
    return _round_rollup(out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries, flagship-first.

    The driver records at most the FIRST 50 registered queries per round
    (round 4 registered 53 and the last three — the two flagship kernel
    oracles plus pricing_summary — silently lost their correctness rows).
    Contract going forward: north-rule/flagship queries lead, cheap
    source-layer checks trail, and the registry NEVER exceeds 50. Checks
    demoted to pytest to stay under the cap: output_grid_p5d
    (tests/test_timeaxis.py golden), rollup_5m (tests/test_rollup.py tier
    parametrization), harmonic_fitted (tests/test_kernels.py numpy
    replay)."""
    q = {
        # --- north-rule / flagship kernels ---------------------------------
        "whittaker_gapfill": q_whittaker_gapfill,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "pricing_summary": q_pricing_summary,
        "rollup_1m": _mk_rollup("1m"),
        "rollup_1h": _mk_rollup("1h"),
        "rollup_1m_salted": q_rollup_1m_salted,
        "block_compaction": q_block_compaction,
        "late_data_merge": q_late_data_merge,
        "retention_horizon": q_retention_horizon,
        "stream_rollup_1m": q_stream_rollup_1m,
        "stream_block_encode": q_stream_block_encode,
        "mogpr_fusion": q_mogpr_fusion,
        # --- reference analytics surface -----------------------------------
        "phenometrics": q_phenometrics,
        "peakvalley": q_peakvalley,
        "ccdc_segments": q_ccdc_segments,
        "harmonic_fit": q_harmonic_fit,
        "stl_trend": q_stl_trend,
        "savgol_smooth": q_savgol_smooth,
        "gaussian_smooth": q_gaussian_smooth,
        "zscore_outliers": q_zscore_outliers,
        "remove_outliers_median": q_remove_outliers_median,
        "lag_features": q_lag_features,
        "time_derivative": q_time_derivative,
        "linear_interpolate": q_linear_interpolate,
        "resample_day_mean": q_resample_day_mean,
        "resample_week_median": q_resample_week_median,
        "calendar_month_stats": q_calendar_month_stats,
        "num_seasons": q_num_seasons,
        "merge_cubes_outer": q_merge_cubes_outer,
        "focal_stats": q_focal_stats,
        "polygon_mask": q_polygon_mask,
        "bandmath_indices": q_bandmath_indices,
        # --- training-data pipeline ops ------------------------------------
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_components": q_dedup_components,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "media_binary_meta": q_media_binary_meta,
        "multimodal_decode_pixels": q_multimodal_decode_pixels,
        "media_resize": q_media_resize,
        # --- source layer (round 6: csv+netcdf fold into one combined
        # round-trip row, freeing the slot for the GeoTIFF loader — the
        # last §2 source without a driver row) ----------------------------
        "source_roundtrip": q_source_roundtrip,
        "geotiff_load": q_geotiff_load,
    }
    assert len(q) == 50, f"driver registry must hold exactly 50, got {len(q)}"
    return q


_ZSCORE_ORACLE = """
WITH w AS (
  SELECT event_type AS source, user_id AS doc_id, ts, value,
         avg(value) OVER win AS m,
         stddev_samp(value) OVER win AS s
  FROM events
  WINDOW win AS (PARTITION BY event_type, user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 10 DAYS PRECEDING AND INTERVAL 10 DAYS FOLLOWING)
)
SELECT source, doc_id, ts,
       round(CASE WHEN s IS NULL OR s = 0 THEN value
                  WHEN abs((value - m) / s) > 3 THEN m
                  ELSE value END, 6) AS value_filtered
FROM w
"""

_LAG_FEATURES_ORACLE = """
WITH w AS (
  SELECT event_type AS source, user_id AS doc_id, ts, value,
         coalesce(lag(value, 1) OVER wo, value) AS l1,
         coalesce(lag(value, 2) OVER wo, lag(value, 1) OVER wo, value) AS l2,
         coalesce(lead(value, 1) OVER wo, value) AS p1,
         coalesce(lead(value, 2) OVER wo, lead(value, 1) OVER wo, value) AS p2
  FROM events
  WINDOW wo AS (PARTITION BY event_type, user_id ORDER BY ts)
)
SELECT source, doc_id, ts,
       round(l1, 6) AS v_lag1, round(l2, 6) AS v_lag2,
       round(p1, 6) AS v_lead1, round(p2, 6) AS v_lead2,
       round((l1 + value + p1) / 3, 6) AS avg3,
       round((l2 + l1 + value + p1 + p2) / 5, 6) AS avg5,
       round(value - l1, 6) + 0.0 AS backward_diff,
       round(p1 - value, 6) + 0.0 AS forward_diff,
       round((2 * (p1 - value) + (value - l1)) / 3, 6) + 0.0 AS trend,
       round(abs(p1 - value) + abs(value - l1), 6) AS volatility
FROM w
"""

_DERIV_ORACLE = """
SELECT event_type AS source, user_id AS doc_id, ts,
       round((value - lag(value) OVER wo)
             / ((epoch_us(ts) - lag(epoch_us(ts)) OVER wo) / 1000000.0),
             6) + 0.0 AS dvdt
FROM events
WINDOW wo AS (PARTITION BY event_type, user_id ORDER BY ts)
"""

_INTERP_ORACLE = """
WITH p AS (
  SELECT user_id AS doc_id, ts,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
), w AS (
  SELECT doc_id, ts, v,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY doc_id ORDER BY ts
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY doc_id ORDER BY ts
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER
      (PARTITION BY doc_id ORDER BY ts
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER
      (PARTITION BY doc_id ORDER BY ts
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM p
)
SELECT doc_id, ts,
       round(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  WHEN nt = pt THEN pv
                  ELSE pv + (nv - pv) * (epoch_us(ts) - pt) / (nt - pt)
             END, 6) AS value_interp
FROM w
"""

_PHENO_ORACLE = """
WITH p AS (
  SELECT event_type AS source, user_id AS doc_id, ts, value,
         CAST(dayofyear(ts) AS DOUBLE) AS doy
  FROM events
), ann AS (
  SELECT *,
         max(value) OVER w AS pos_value,
         min(value) OVER w AS vos_value,
         lead(value) OVER wo AS next_v,
         lead(doy) OVER wo AS next_doy
  FROM p
  WINDOW w AS (PARTITION BY source, doc_id),
         wo AS (PARTITION BY source, doc_id ORDER BY ts)
), ann2 AS (
  SELECT *,
         min(CASE WHEN value = pos_value THEN doy END) OVER w2 AS pos_doy,
         min(CASE WHEN value = vos_value THEN doy END) OVER w2 AS vos_doy
  FROM ann
  WINDOW w2 AS (PARTITION BY source, doc_id)
), ann3 AS (
  SELECT *,
         CASE WHEN doy <= pos_doy THEN value END AS ml,
         CASE WHEN doy >= pos_doy THEN value END AS mr,
         (value + next_v) / 2 * (next_doy - doy) AS trap_term
  FROM ann2
), annd AS (
  SELECT *,
    CASE WHEN lag(doy) OVER wo IS NULL THEN lead(ml) OVER wo - ml
         WHEN lead(doy) OVER wo IS NULL THEN ml - lag(ml) OVER wo
         ELSE lead(ml) OVER wo - lag(ml) OVER wo END AS num_l,
    CASE WHEN lag(doy) OVER wo IS NULL THEN lead(mr) OVER wo - mr
         WHEN lead(doy) OVER wo IS NULL THEN mr - lag(mr) OVER wo
         ELSE lead(mr) OVER wo - lag(mr) OVER wo END AS num_r,
    CASE WHEN lag(doy) OVER wo IS NULL THEN lead(doy) OVER wo - doy
         WHEN lead(doy) OVER wo IS NULL THEN doy - lag(doy) OVER wo
         ELSE lead(doy) OVER wo - lag(doy) OVER wo END AS den
  FROM ann3
  WINDOW wo AS (PARTITION BY source, doc_id ORDER BY ts)
), ann4 AS (
  SELECT *,
    CASE WHEN den <> 0 THEN num_l / den
         WHEN num_l > 0 THEN 'infinity'::DOUBLE
         WHEN num_l < 0 THEN '-infinity'::DOUBLE END AS grad_l,
    CASE WHEN den <> 0 THEN num_r / den
         WHEN num_r > 0 THEN 'infinity'::DOUBLE
         WHEN num_r < 0 THEN '-infinity'::DOUBLE END AS grad_r
  FROM annd
), ann5 AS (
  SELECT *,
         ml IS NOT NULL AND grad_l > 0 AS cand_l,
         mr IS NOT NULL AND grad_r < 0 AS cand_r
  FROM ann4
), base AS (
  SELECT source, doc_id,
         any_value(pos_value) AS pos_value,
         CAST(any_value(pos_doy) AS BIGINT) AS pos_doy,
         any_value(vos_value) AS vos_value,
         CAST(any_value(vos_doy) AS BIGINT) AS vos_doy,
         (min(ml) + min(mr)) / 2 AS bse_value,
         any_value(pos_value) - (min(ml) + min(mr)) / 2 AS aos_value,
         (avg(CASE WHEN ml >= 0.8 * pos_value THEN ml END)
          + avg(CASE WHEN mr >= 0.8 * pos_value THEN mr END)) / 2
           AS mos_value,
         sum(trap_term) AS liot_value,
         sum(next_doy - doy) AS span_total,
         max(CASE WHEN cand_l THEN 1 ELSE 0 END) AS has_l,
         max(CASE WHEN cand_r THEN 1 ELSE 0 END) AS has_r
  FROM ann5 GROUP BY source, doc_id
), tgt AS (
  SELECT source, doc_id,
         bse_value + 0.5 * aos_value AS t_l,
         bse_value + 0.5 * aos_value AS t_r
  FROM base
), sos AS (
  SELECT a.source, a.doc_id, a.value AS sos_value,
         CAST(a.doy AS BIGINT) AS sos_doy
  FROM ann5 a JOIN tgt USING (source, doc_id)
  QUALIFY row_number() OVER (PARTITION BY a.source, a.doc_id
    ORDER BY CASE WHEN a.cand_l THEN abs(a.value - tgt.t_l)
                  ELSE 'infinity'::DOUBLE END,
             a.doy, epoch_us(a.ts)) = 1
), eos AS (
  SELECT a.source, a.doc_id, a.value AS eos_value,
         CAST(a.doy AS BIGINT) AS eos_doy
  FROM ann5 a JOIN tgt USING (source, doc_id)
  QUALIFY row_number() OVER (PARTITION BY a.source, a.doc_id
    ORDER BY CASE WHEN a.cand_r THEN abs(a.value - tgt.t_r)
                  ELSE 'infinity'::DOUBLE END,
             a.doy, epoch_us(a.ts)) = 1
), fin AS (
  SELECT b.source, b.doc_id, b.pos_value, b.pos_doy, b.vos_value, b.vos_doy,
         b.bse_value, b.aos_value, b.mos_value, b.liot_value, b.span_total,
         CASE WHEN b.has_l = 1 THEN s.sos_value END AS sos_value,
         CASE WHEN b.has_l = 1 THEN s.sos_doy END AS sos_doy,
         CASE WHEN b.has_r = 1 THEN e.eos_value END AS eos_value,
         CASE WHEN b.has_r = 1 THEN e.eos_doy END AS eos_doy
  FROM base b
  JOIN sos s USING (source, doc_id)
  JOIN eos e USING (source, doc_id)
), lios AS (
  SELECT a.source, a.doc_id, sum(a.trap_term) AS lios_value,
         sum(a.next_doy - a.doy) AS span_season
  FROM ann5 a JOIN fin USING (source, doc_id)
  WHERE a.doy >= fin.sos_doy AND a.next_doy <= fin.eos_doy
  GROUP BY a.source, a.doc_id
)
SELECT f.source, f.doc_id,
       round(f.pos_value, 6) AS pos_value,
       round(f.vos_value, 6) AS vos_value,
       round(f.aos_value, 6) AS aos_value,
       round(f.bse_value, 6) AS bse_value,
       round(f.mos_value, 6) AS mos_value,
       round(f.sos_value, 6) AS sos_value,
       round(f.eos_value, 6) AS eos_value,
       round(CASE WHEN f.pos_doy <> f.sos_doy
                  THEN (f.pos_value - f.sos_value) / (f.pos_doy - f.sos_doy)
             END, 6) + 0.0 AS roi_value,
       round(CASE WHEN f.eos_doy <> f.pos_doy
                  THEN (f.eos_value - f.pos_value) / (f.eos_doy - f.pos_doy)
             END, 6) + 0.0 AS rod_value,
       round(l.lios_value, 6) AS lios_value,
       round(f.liot_value, 6) AS liot_value,
       round(l.lios_value - f.bse_value * l.span_season, 6) + 0.0
         AS sios_value,
       round(f.liot_value - f.bse_value * f.span_total, 6) + 0.0
         AS siot_value,
       f.pos_doy, f.vos_doy, f.sos_doy, f.eos_doy,
       CAST(CASE WHEN f.eos_doy - f.sos_doy < 0
                 THEN f.eos_doy - f.sos_doy + 365
                 ELSE f.eos_doy - f.sos_doy END AS BIGINT) AS los_value
FROM fin f
LEFT JOIN lios l USING (source, doc_id)
"""

_RESAMPLE_ORACLE = """
SELECT event_type AS source, user_id AS doc_id,
       date_trunc('{unit}', ts) AS bucket_ts,
       round({reducer}(value), 6) AS value,
       count(value) AS n_obs
FROM events
GROUP BY 1, 2, 3
"""


_MINHASH_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS words
  FROM documents
), sh0 AS (
  SELECT doc_id, words,
         unnest(range(greatest(len(words) - 2, 0))) AS i
  FROM w
), sh AS (
  SELECT DISTINCT doc_id,
         words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS shingle
  FROM sh0
), sig AS (
  -- four 8-hex-char sub-hashes per md5 (fixed width: string min ==
  -- numeric min), mirroring minhash_signatures' two-digest scheme
  SELECT doc_id,
         min(substring(md5(shingle || ':0'),  1, 8)) AS mh0,
         min(substring(md5(shingle || ':0'),  9, 8)) AS mh1,
         min(substring(md5(shingle || ':0'), 17, 8)) AS mh2,
         min(substring(md5(shingle || ':0'), 25, 8)) AS mh3,
         min(substring(md5(shingle || ':1'),  1, 8)) AS mh4,
         min(substring(md5(shingle || ':1'),  9, 8)) AS mh5,
         min(substring(md5(shingle || ':1'), 17, 8)) AS mh6,
         min(substring(md5(shingle || ':1'), 25, 8)) AS mh7
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band_no, md5(mh0 || '|' || mh1) AS bkey FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig
), bstat AS (
  SELECT band_no, bkey, count(*) AS bsz, min(doc_id) AS bmin
  FROM bands GROUP BY 1, 2
), allp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bstat s ON s.band_no = a.band_no AND s.bkey = a.bkey
              AND s.bsz <= 64
  JOIN bands b ON a.bkey = b.bkey AND a.band_no = b.band_no
              AND a.doc_id < b.doc_id
  UNION ALL
  SELECT s.bmin AS doc_a, a.doc_id AS doc_b
  FROM bands a
  JOIN bstat s ON s.band_no = a.band_no AND s.bkey = a.bkey
              AND s.bsz > 64
  WHERE a.doc_id <> s.bmin
)
SELECT DISTINCT doc_a, doc_b FROM allp
"""

def _components_oracle() -> str:
    """Transitive closure of the MinHash-LSH pair set via a recursive CTE
    (label = any reachable doc id; component = min) — the exact fixpoint the
    Spark min-label propagation converges to."""
    cte, final_select = _MINHASH_ORACLE.rsplit("SELECT DISTINCT", 1)
    return (
        cte.rstrip().replace("WITH w AS", "WITH RECURSIVE w AS", 1)
        + ", pairs AS (\nSELECT DISTINCT"
        + final_select.rstrip()
        + "\n), e AS (\n"
        + "  SELECT doc_a AS a, doc_b AS b FROM pairs\n"
        + "  UNION\n"
        + "  SELECT doc_b, doc_a FROM pairs\n"
        + "), reach(doc, label) AS (\n"
        + "  SELECT doc_id, doc_id FROM documents\n"
        + "  UNION\n"
        + "  SELECT e.b, r.label FROM reach r JOIN e ON e.a = r.doc\n"
        + ")\n"
        + "SELECT doc AS doc_id, min(label) AS component,\n"
        + "       (doc = min(label)) AS is_survivor\n"
        + "FROM reach GROUP BY doc\n"
    )


_SIMHASH_ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS word
  FROM documents
), h AS (
  SELECT doc_id, substring(md5(word), 1, 16) AS hx FROM w
), bits AS (
  SELECT doc_id, i AS bit,
         CASE WHEN ((strpos('0123456789abcdef',
                            substring(hx, (i // 4) + 1, 1)) - 1)
                    >> (3 - (i % 4))) & 1 = 1
              THEN 1 ELSE -1 END AS v
  FROM (SELECT doc_id, hx, unnest(range(64)) AS i FROM h) hh
), agg AS (
  SELECT doc_id, bit, sum(v) AS sv FROM bits GROUP BY 1, 2
)
SELECT doc_id,
       string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY bit)
         AS simhash
FROM agg GROUP BY doc_id
"""

_JACCARD_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS words
  FROM documents
), sh0 AS (
  SELECT doc_id, words,
         unnest(range(greatest(len(words) - 2, 0))) AS i
  FROM w
), sh AS (
  SELECT DISTINCT doc_id,
         words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS shingle
  FROM sh0
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), rare AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100
  ) f USING (shingle)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), inter AS (
  SELECT cand.doc_a, cand.doc_b, count(*) AS n_inter
  FROM cand
  JOIN sh a ON a.doc_id = cand.doc_a
  JOIN sh b ON b.doc_id = cand.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
"""

_COSINE_ORACLE = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id = 0
), e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
), s AS (
  SELECT vec_id, label,
         list_sum(list_transform(range(1, 65), i -> ve[i] * qe[i])) AS dot,
         sqrt(list_sum(list_transform(ve, x -> x * x))) AS nv,
         sqrt(list_sum(list_transform(qe, x -> x * x))) AS nq
  FROM e, q
)
SELECT vec_id, label, round(dot / (nv * nq), 6) + 0.0 AS cos,
       CAST(row_number() OVER (ORDER BY dot / (nv * nq) DESC, vec_id)
            AS BIGINT) AS rank
FROM s
QUALIFY rank <= 20
"""

def _dot_terms(weights, offsets) -> str:
    """SQL dot product of literal weights against per-row lag/lead columns:
    offset 0 -> value, -k -> lm{k} (lag), +k -> lp{k} (lead). repr() of a
    Python float round-trips, so both engines see bit-identical weights."""
    terms = []
    for w, d in zip(weights, offsets):
        w = float(w)
        if w == 0.0:
            continue
        col = "value" if d == 0 else (f"lm{-d}" if d < 0 else f"lp{d}")
        terms.append(f"{w!r} * {col}")
    return "(" + " + ".join(terms) + ")"


_SMOOTH_SCAFFOLD = """
WITH b AS (
  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id, ts, value,
         row_number() OVER wo AS rn,
         count(*) OVER wp AS n,
{lag_cols}
  FROM events
  -- value tie-break mirrors the kernel's (doc_id, ts, value) sort
  WINDOW wo AS (PARTITION BY event_type, user_id ORDER BY ts, value),
         wp AS (PARTITION BY event_type, user_id)
)
SELECT source, doc_id, ts,
       round(CASE
{branches}
             ELSE {interior}
             END, 6) + 0.0 AS value_smooth
FROM b
"""


def _smooth_scaffold(reach: int, branches: list[str], interior: str) -> str:
    lag_cols = ",\n".join(
        [f"         lag(value, {j}) OVER wo AS lm{j}" for j in range(1, reach + 1)]
        + [f"         lead(value, {j}) OVER wo AS lp{j}" for j in range(1, reach + 1)]
    )
    return _SMOOTH_SCAFFOLD.format(
        lag_cols=lag_cols,
        branches="\n".join(f"             {b}" for b in branches),
        interior=interior,
    )


def _savgol_oracle(window: int = 7, polyorder: int = 2) -> str:
    """Savitzky-Golay as fixed linear combinations (the polyfit is linear in
    y, so every output row is a literal-weight dot product): interior = the
    savgol coefficient window; first/last k rows = rows of the 7-point
    smoothing matrix; series shorter than the window = rows of the n-point
    smoothing matrix (global polyfit). Mirrors operators/smoothing.py
    savgol_1d exactly (same matrices feed both sides)."""
    from fusets_spark.operators.smoothing import savgol_coeffs, savgol_matrix

    k = window // 2
    c = savgol_coeffs(window, polyorder)
    S = savgol_matrix(window, polyorder)
    branches = [f"WHEN n <= {polyorder} THEN value"]
    for n in range(polyorder + 1, window):  # degenerate short series
        Sn = savgol_matrix(n, polyorder)
        for i in range(n):
            branches.append(
                f"WHEN n = {n} AND rn = {i + 1} THEN "
                + _dot_terms(Sn[i], [u - i for u in range(n)])
            )
    for i in range(k):  # left edge (short-series rows already caught above)
        branches.append(
            f"WHEN rn = {i + 1} THEN "
            + _dot_terms(S[i], [u - i for u in range(window)])
        )
    for i in range(k):  # right edge
        row = window - 1 - i
        branches.append(
            f"WHEN n - rn = {i} THEN "
            + _dot_terms(S[row], [u - row for u in range(window)])
        )
    interior = _dot_terms(c, [d - k for d in range(window)])
    return _smooth_scaffold(window - 1, branches, interior)


def _gaussian_oracle(sigma: float = 1.5, truncate: float = 4.0) -> str:
    """Gaussian smoothing with reflect padding as fixed dot products: the
    padding is folded into per-(edge-distance) literal weights
    (smoothing.gaussian_fold_weights — the same fold the numpy kernel
    implements via np.pad)."""
    from fusets_spark.operators.smoothing import (
        gaussian_fold_weights,
        gaussian_kernel,
    )

    kern = gaussian_kernel(sigma, truncate)
    r = len(kern) // 2
    big = 4 * r + 8  # any n past both mirrors
    branches = []
    for n in range(1, r):  # short series: repeated-reflection fold, exact
        for i in range(n):
            branches.append(
                f"WHEN n = {n} AND rn = {i + 1} THEN "
                + _dot_terms(
                    gaussian_fold_weights(i, n, kern), [u - i for u in range(n)]
                )
            )
    for a in range(r):  # rows near BOTH ends (n <= 2r-1)
        for b in range(r):
            n = a + b + 1
            if n < r:
                continue
            branches.append(
                f"WHEN n = {n} AND rn = {a + 1} THEN "
                + _dot_terms(
                    gaussian_fold_weights(a, n, kern), [u - a for u in range(n)]
                )
            )
    for a in range(r):  # pure left edge (right mirror out of reach)
        w = gaussian_fold_weights(a, big, kern)
        branches.append(
            f"WHEN rn = {a + 1} THEN "
            + _dot_terms(w[: a + r + 1], [u - a for u in range(a + r + 1)])
        )
    for b in range(r):  # pure right edge
        i = big - 1 - b
        w = gaussian_fold_weights(i, big, kern)
        branches.append(
            f"WHEN n - rn = {b} THEN "
            + _dot_terms(w[i - r :], range(-r, b + 1))
        )
    interior = _dot_terms(kern, range(-r, r + 1))
    return _smooth_scaffold(r, branches, interior)


def _plane_values_sql(planes) -> str:
    """DuckDB VALUES rows `(table, plane, [literal doubles])` for the exact
    hyperplanes the Spark operators embed as plan literals (repr round-trips
    float64, so both engines parse bit-identical plane values)."""
    rows = []
    for t, p, vec in planes:
        lit = ", ".join(repr(float(v)) for v in vec)
        rows.append(f"({t}, {p}, [{lit}]::DOUBLE[])")
    return ",\n    ".join(rows)


def _ann_oracle() -> str:
    """Multi-probe LSH ANN oracle: identical plane literals, bucket strings,
    probe-set construction (flip lowest-|margin| planes), exact cosine
    ranking — mirrors operators/similarity.py:ann_topk_lsh."""
    from fusets_spark.operators.similarity import make_planes

    P = _ANN_PARAMS
    planes = make_planes(P["n_planes"], P["dim"], P["seed"])
    vals = _plane_values_sql([(0, p, planes[p]) for p in range(P["n_planes"])])
    return f"""
WITH planes(t, p, pl) AS (VALUES
    {vals}
), e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
), m AS (
  SELECT vec_id, label, ve, p,
         list_sum(list_transform(range(1, {P['dim'] + 1}),
                                 i -> ve[i] * pl[i])) AS dot
  FROM e CROSS JOIN planes
), b AS (
  SELECT vec_id, any_value(label) AS label, any_value(ve) AS ve,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY p) AS bucket
  FROM m GROUP BY vec_id
), q AS (
  SELECT string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY p) AS qb,
         any_value(ve) AS qve,
         list_transform(
           list_sort(list(struct_pack(a := abs(dot), p := p))),
           s -> s.p) AS ord
  FROM m WHERE vec_id = 0 GROUP BY vec_id
), pr AS (
  SELECT qve,
         list_concat([qb],
           list_transform(ord[1:{P['n_probes']}],
             p -> substr(qb, 1, p)
                  || (CASE WHEN substr(qb, p + 1, 1) = '1'
                           THEN '0' ELSE '1' END)
                  || substr(qb, p + 2))) AS probes
  FROM q
), s AS (
  SELECT b.vec_id, b.label,
         list_sum(list_transform(range(1, {P['dim'] + 1}),
                                 i -> b.ve[i] * pr.qve[i]))
           / (sqrt(list_sum(list_transform(b.ve, x -> x * x)))
              * sqrt(list_sum(list_transform(pr.qve, x -> x * x)))) AS cos
  FROM b, pr WHERE list_contains(pr.probes, b.bucket)
)
SELECT vec_id, label, round(cos, 6) + 0.0 AS cos,
       CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM s
QUALIFY rank <= {P['k']}
"""


def _ivf_oracle() -> str:
    """IVF ANN oracle: regenerate the SAME deterministic k-means centroids
    (numpy on the first `sample` vec_ids) from the ORACLE_SF_DIR embeddings
    — the scale factor the driver's correctness gate compares at — and
    mirror assignment (argmin |c|²−2·v·c, ties → lowest cell), nprobe
    probing, and exact cosine ranking in SQL.

    Parity scope: EVERY SF — since round 4 the query applies the same
    frozen contract-SF quantizer (_ivf_centroids, fit-once/apply-many)
    instead of retraining per input, so the embedded literal centroids
    match the query's at any sf_dir. Fails loudly if the contract table is
    absent rather than silently producing a mismatched oracle."""
    P = _IVF_PARAMS
    C = _ivf_centroids()
    rows = []
    for i, c in enumerate(C):
        lit = ", ".join(repr(float(v)) for v in c)
        rows.append(f"({i}, [{lit}]::DOUBLE[], {float(c @ c)!r})")
    vals = ",\n    ".join(rows)
    dim = C.shape[1]
    return f"""
WITH cents(c, cv, n2) AS (VALUES
    {vals}
), e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
), m AS (
  SELECT vec_id, label, ve, c,
         n2 - 2 * list_sum(list_transform(range(1, {dim + 1}),
                                          i -> ve[i] * cv[i])) AS d
  FROM e CROSS JOIN cents
), a AS (
  SELECT vec_id, any_value(label) AS label, any_value(ve) AS ve,
         list_sort(list(struct_pack(d := d, c := c)))[1].c AS cell
  FROM m GROUP BY vec_id
), q AS (
  SELECT any_value(ve) AS qve,
         list_transform(list_sort(list(struct_pack(d := d, c := c))),
                        s -> s.c)[1:{P['nprobe']}] AS probes
  FROM m WHERE vec_id = 0 GROUP BY vec_id
), s AS (
  SELECT a.vec_id, a.label,
         list_sum(list_transform(range(1, {dim + 1}),
                                 i -> a.ve[i] * q.qve[i]))
           / (sqrt(list_sum(list_transform(a.ve, x -> x * x)))
              * sqrt(list_sum(list_transform(q.qve, x -> x * x)))) AS cos
  FROM a, q WHERE list_contains(q.probes, a.cell)
)
SELECT vec_id, label, round(cos, 6) + 0.0 AS cos,
       CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM s
QUALIFY rank <= {P['k']}
"""


def _neardup_oracle() -> str:
    """Banded multi-table LSH near-dup oracle — mirrors
    operators/similarity.py:embedding_neardup_pairs."""
    from fusets_spark.operators.similarity import make_planes

    P = _NEARDUP_PARAMS
    rows = []
    for t in range(P["n_tables"]):
        planes = make_planes(P["n_planes"], P["dim"], P["seed"] + 7919 * t)
        rows += [(t, p, planes[p]) for p in range(P["n_planes"])]
    vals = _plane_values_sql(rows)
    return f"""
WITH planes(t, p, pl) AS (VALUES
    {vals}
), e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
), m AS (
  SELECT vec_id, ve, t, p,
         list_sum(list_transform(range(1, {P['dim'] + 1}),
                                 i -> ve[i] * pl[i])) AS dot
  FROM e CROSS JOIN planes
), b AS (
  SELECT vec_id, t,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY p) AS bucket
  FROM m GROUP BY vec_id, t
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM b a JOIN b c
    ON a.t = c.t AND a.bucket = c.bucket AND a.vec_id < c.vec_id
), s AS (
  SELECT cand.vec_a, cand.vec_b,
         list_sum(list_transform(range(1, {P['dim'] + 1}),
                                 i -> ea.ve[i] * eb.ve[i]))
           / (sqrt(list_sum(list_transform(ea.ve, x -> x * x)))
              * sqrt(list_sum(list_transform(eb.ve, x -> x * x)))) AS cos
  FROM cand
  JOIN e ea ON ea.vec_id = cand.vec_a
  JOIN e eb ON eb.vec_id = cand.vec_b
)
SELECT vec_a, vec_b, round(cos, 6) + 0.0 AS cos
FROM s WHERE cos >= {P['threshold']}
"""


_QUALITY_ORACLE = r"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), ' +') AS words,
         length(text) AS n_chars
  FROM documents
), f AS (
  SELECT doc_id, n_chars,
         len(words) AS n_words,
         n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         len(list_filter(words,
             x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS n_stop,
         len(list_distinct(words)) AS n_uniq,
         list_sum(list_transform(words, x -> length(x))) AS sum_wlen
  FROM w
)
SELECT doc_id, n_chars, n_words,
       round(CAST(sum_wlen AS DOUBLE) / greatest(n_words, 1), 6)
         AS mean_word_len,
       round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6)
         AS punct_ratio,
       round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6)
         AS stopword_ratio,
       round(CAST(n_uniq AS DOUBLE) / greatest(n_words, 1), 6)
         AS uniq_word_ratio,
       round(
         least(n_words / 50.0, 1.0) * 0.4
         + (1 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 5,
                      1.0)) * 0.2
         + least(CAST(n_stop AS DOUBLE) / greatest(n_words, 1) * 10,
                 1.0) * 0.2
         + CAST(n_uniq AS DOUBLE) / greatest(n_words, 1) * 0.2, 6)
         AS quality_score
FROM f
"""

_LANGID_ORACLE = """
WITH w AS (
  SELECT doc_id, lang AS labeled_lang,
         regexp_split_to_array(trim(text), ' +') AS words
  FROM documents
), scores AS (
  SELECT doc_id, labeled_lang, l.lang AS predicted_lang,
         CASE l.lang
           WHEN 'de' THEN len(list_filter(words,
                x -> x IN ('der', 'die', 'und', 'das', 'ist')))
           WHEN 'en' THEN len(list_filter(words,
                x -> x IN ('the', 'and', 'of', 'to', 'a')))
           WHEN 'es' THEN len(list_filter(words,
                x -> x IN ('el', 'la', 'y', 'los', 'que')))
           WHEN 'fr' THEN len(list_filter(words,
                x -> x IN ('le', 'la', 'et', 'les', 'des')))
           WHEN 'zh' THEN len(list_filter(words,
                x -> x IN ('的', '是', '了', '在', '和')))
         END AS score
  FROM w CROSS JOIN (
    SELECT unnest(['de', 'en', 'es', 'fr', 'zh']) AS lang) l
)
SELECT doc_id, labeled_lang, predicted_lang, CAST(score AS INT) AS score
FROM scores
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, predicted_lang) = 1
"""

_TOKEN_ORACLE = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), ' +')) AS ws_tokens,
       len(regexp_extract_all(text,
           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
FROM documents
"""

_FINGERPRINT_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS words
  FROM documents
), sh0 AS (
  SELECT doc_id, words,
         unnest(range(greatest(len(words) - 4, 0))) AS i
  FROM w WHERE len(words) >= 5
), sh AS (
  SELECT doc_id,
         words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' ||
         words[i+4] || ' ' || words[i+5] AS shingle
  FROM sh0
)
SELECT doc_id,
       min(md5(shingle)) AS fp0,
       min(md5('s1:' || shingle)) AS fp1,
       min(md5('s2:' || shingle)) AS fp2,
       count(DISTINCT shingle) AS n_shingles
FROM sh GROUP BY doc_id
"""


def _multimodal_oracle() -> str:
    """Derive every header field of the synthetic PNG/WAV payloads directly
    from the source columns — parsing parity for the real byte decoder."""

    return """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, doc_id,
         length(text) AS n_chars,
         octet_length(CAST(text AS BLOB)) AS nb
  FROM documents
), png AS (
  SELECT media_id, 'image' AS media_type,
         CAST(33 + nb AS BIGINT) AS n_bytes,
         CAST(n_chars % 192 + 64 AS INT) AS width,
         CAST((n_chars * 7 + 13) % 192 + 64 AS INT) AS height,
         CAST(NULL AS INT) AS n_channels,
         CAST(NULL AS INT) AS sample_rate,
         CAST(NULL AS BIGINT) AS n_samples
  FROM d WHERE doc_id % 2 = 0
), wavp AS (
  SELECT media_id, nb,
         CAST((doc_id // 2) % 2 + 1 AS INT) AS ch,
         CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              ELSE 44100 END AS INT) AS sr
  FROM d WHERE doc_id % 2 = 1
), wav AS (
  SELECT media_id, 'audio' AS media_type,
         CAST(44 + nb AS BIGINT) AS n_bytes,
         CAST(NULL AS INT) AS width,
         CAST(NULL AS INT) AS height,
         ch AS n_channels,
         sr AS sample_rate,
         CAST(nb // (ch * 2) AS BIGINT) AS n_samples
  FROM wavp
)
SELECT * FROM png UNION ALL SELECT * FROM wav
"""


_GRID_SQL = f"""
  SELECT user_id % {_GRID_W} AS x,
         (user_id // {_GRID_W}) % {_GRID_H} AS y,
         avg(value) AS value
  FROM events GROUP BY 1, 2
"""

_FOCAL_ORACLE = f"""
WITH cell AS ({_GRID_SQL}),
contrib AS (
  SELECT cell.x + o.dx AS x, cell.y + o.dy AS y, cell.value AS v
  FROM cell CROSS JOIN (
    SELECT a.dx, b.dy
    FROM (SELECT unnest([-1, 0, 1]) AS dx) a
    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) b
  ) o
), stats AS (
  SELECT x, y, count(v) AS n_nbr, sum(v) AS s, sum(v * v) AS sq
  FROM contrib GROUP BY 1, 2
)
SELECT st.x, st.y, st.n_nbr,
       round(st.s / st.n_nbr, 6) AS f_mean,
       round(sqrt(greatest(st.sq / st.n_nbr
                           - (st.s / st.n_nbr) * (st.s / st.n_nbr), 0.0)), 6)
         AS f_std
FROM stats st
WHERE EXISTS (SELECT 1 FROM cell c WHERE c.x = st.x AND c.y = st.y)
"""


def _polygon_oracle() -> str:
    """Ray casting with the SAME literal vertices as the Spark plan."""
    n = len(_POLY)
    rows = []
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i + 1) % n]
        rows.append(f"({x1!r}, {y1!r}, {x2!r}, {y2!r})")
    vals = ",\n    ".join(rows)
    return f"""
WITH cell AS ({_GRID_SQL}),
e(x1, y1, x2, y2) AS (VALUES
    {vals}
)
SELECT x, y, round(value, 6) AS cell_value
FROM cell
WHERE (
  SELECT sum(CASE WHEN ((y1 > cell.y) != (y2 > cell.y))
                   AND cell.x < (x2 - x1) * (cell.y - y1) / (y2 - y1) + x1
             THEN 1 ELSE 0 END)
  FROM e
) % 2 = 1
"""


_STL_TREND_ORACLE = """
WITH p AS (
  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id, ts,
         value AS y,
         CAST(row_number() OVER w - 1 AS DOUBLE) AS x,
         count(*) OVER (PARTITION BY event_type, user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, value)
), win AS (
  -- STL defaults: period = n (odd) or n+1; trend window = smallest odd
  -- integer >= 1.5*period/(1 - 1.5/seasonal), seasonal=7
  SELECT *, CASE WHEN w0 % 2 = 0 THEN w0 + 1 ELSE w0 END AS wnd
  FROM (
    SELECT *, CAST(ceil(1.5 * (CASE WHEN n % 2 = 1 THEN n ELSE n + 1 END)
                        / (1.0 - 1.5/7.0)) AS BIGINT) AS w0
    FROM p
  )
), pairs AS (
  SELECT a.source, a.doc_id, a.ts, a.x AS xi, a.y AS yi, a.n, a.wnd,
         b.x AS xj, b.y AS yj, abs(a.x - b.x) AS d
  FROM win a JOIN win b USING (source, doc_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source, doc_id, xi
                               ORDER BY d) AS r
  FROM pairs
), bw AS (
  SELECT source, doc_id, xi,
         max(CASE WHEN r = least(wnd, n) THEN
               CASE WHEN wnd > n
                    THEN d * (CAST(wnd AS DOUBLE) / CAST(n AS DOUBLE))
                    ELSE d END
             END) AS dq
  FROM ranked GROUP BY 1, 2, 3
), wgt AS (
  SELECT k.source, k.doc_id, k.ts, k.xi, k.yi, k.n, k.xj, k.yj,
         u*u*u AS w
  FROM (
    SELECT pr.*,
           1.0 - t*t*t AS u
    FROM (
      SELECT pr0.*,
             least(greatest(pr0.d / greatest(b.dq, 1e-12), 0.0), 1.0) AS t
      FROM pairs pr0 JOIN bw b
        ON b.source = pr0.source AND b.doc_id = pr0.doc_id
       AND b.xi = pr0.xi
    ) pr
  ) k
), fit AS (
  SELECT source, doc_id, ts, xi, any_value(yi) AS yi, any_value(n) AS n,
         sum(w) AS sw, sum(w*xj) AS sx, sum(w*yj) AS sy,
         sum(w*xj*xj) AS sxx, sum(w*xj*yj) AS sxy
  FROM wgt GROUP BY 1, 2, 3, 4
)
SELECT source, doc_id, ts,
       round(CASE
         WHEN n <= 2 THEN yi
         WHEN (sw*sxx - sx*sx) <= 1e-12 * sw * sxx THEN sy/sw
         ELSE (sy - ((sw*sxy - sx*sy)/(sw*sxx - sx*sx))*sx)/sw
              + ((sw*sxy - sx*sy)/(sw*sxx - sx*sx))*xi
       END, 4) + 0.0 AS trend
FROM fit
"""


def _harmonic_fit_oracle() -> str:
    """Exact replay of harmonic_fit's fixed-order algorithm (see
    operators/harmonics.py): a recursive CTE accumulates the 4×4 Gram
    matrix + RHS sequentially in (ts, value) order — the identical IEEE
    add/multiply sequence the kernel's per-step loop performs — and staged
    SELECTs replay the no-pivot Gaussian elimination + back-substitution
    expression-for-expression. Same ops, same order => bit-identical
    coefficients; verified trig parity (numpy cos/sin == DuckDB cos/sin on
    the same doubles). Base-case accumulators start at 0.0 + term to match
    the kernel's start-at-zero accumulation (-0.0 hygiene)."""
    import math

    w = repr(2 * math.pi / 365.25)
    return f"""
WITH RECURSIVE basis AS MATERIALIZED (
  SELECT source, doc_id, rn, n, y, t,
         cos({w} * t) AS c, sin({w} * t) AS s
  FROM (
    SELECT source, doc_id, y, ts,
           row_number() OVER wo AS rn,
           count(*) OVER wp AS n,
           day - min(day) OVER wp AS t
    FROM (
      SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id,
             value AS y,
             (epoch_us(ts) // 1000000) / 86400.0 AS day, ts
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    )
    WINDOW wo AS (PARTITION BY source, doc_id ORDER BY ts, y),
           wp AS (PARTITION BY source, doc_id)
  ) WHERE n >= 4
), acc AS (
  SELECT source, doc_id, rn, n,
    0.0::DOUBLE + 1.0*1.0 AS g00,
    0.0::DOUBLE + 1.0*t   AS g01,
    0.0::DOUBLE + 1.0*c   AS g02,
    0.0::DOUBLE + 1.0*s   AS g03,
    0.0::DOUBLE + t*t AS g11,
    0.0::DOUBLE + t*c AS g12,
    0.0::DOUBLE + t*s AS g13,
    0.0::DOUBLE + c*c AS g22,
    0.0::DOUBLE + c*s AS g23,
    0.0::DOUBLE + s*s AS g33,
    0.0::DOUBLE + 1.0*y AS b0,
    0.0::DOUBLE + t*y AS b1,
    0.0::DOUBLE + c*y AS b2,
    0.0::DOUBLE + s*y AS b3
  FROM basis WHERE rn = 1
  UNION ALL
  SELECT b.source, b.doc_id, b.rn, b.n,
    a.g00 + 1.0*1.0, a.g01 + 1.0*b.t, a.g02 + 1.0*b.c, a.g03 + 1.0*b.s,
    a.g11 + b.t*b.t, a.g12 + b.t*b.c, a.g13 + b.t*b.s,
    a.g22 + b.c*b.c, a.g23 + b.c*b.s, a.g33 + b.s*b.s,
    a.b0 + 1.0*b.y, a.b1 + b.t*b.y, a.b2 + b.c*b.y, a.b3 + b.s*b.y
  FROM acc a JOIN basis b ON b.source = a.source AND b.doc_id = a.doc_id
                         AND b.rn = a.rn + 1
), fin AS (
  SELECT * FROM acc WHERE rn = n
), e0 AS (
  SELECT *, g01/g00 AS m1, g02/g00 AS m2, g03/g00 AS m3 FROM fin
), e1 AS (
  SELECT *,
    g11 - m1*g01 AS h11, g12 - m1*g02 AS h12, g13 - m1*g03 AS h13,
    b1 - m1*b0 AS d1,
    g12 - m2*g01 AS h21, g22 - m2*g02 AS h22, g23 - m2*g03 AS h23,
    b2 - m2*b0 AS d2,
    g13 - m3*g01 AS h31, g23 - m3*g02 AS h32, g33 - m3*g03 AS h33,
    b3 - m3*b0 AS d3
  FROM e0
), e2 AS (
  SELECT *, h21/h11 AS m21, h31/h11 AS m31 FROM e1
), e3 AS (
  SELECT *,
    h22 - m21*h12 AS i22, h23 - m21*h13 AS i23, d2 - m21*d1 AS d2b,
    h32 - m31*h12 AS i32, h33 - m31*h13 AS i33, d3 - m31*d1 AS d3b
  FROM e2
), e4 AS (
  SELECT *, i32/i22 AS m32 FROM e3
), e5 AS (
  SELECT *, i33 - m32*i23 AS j33, d3b - m32*d2b AS d3c FROM e4
), bsub AS (
  SELECT *, d3c/j33 AS c3v FROM e5
), bsub2 AS (
  SELECT *, (d2b - i23*c3v)/i22 AS c2v FROM bsub
), bsub3 AS (
  SELECT *, ((d1 - h12*c2v) - h13*c3v)/h11 AS c1v FROM bsub2
), bsub4 AS (
  SELECT *, (((b0 - g01*c1v) - g02*c2v) - g03*c3v)/g00 AS c0v FROM bsub3
)
SELECT source, doc_id, n AS n_obs,
       round(c0v, 4) + 0.0 AS c0, round(c1v, 4) + 0.0 AS c1,
       round(c2v, 4) + 0.0 AS c2, round(c3v, 4) + 0.0 AS c3
FROM bsub4
"""


def _ccdc_oracle() -> str:
    """Exact replay of operators/ccdc.py detect_segments as a recursive-CTE
    state machine (same family as the peakvalley oracle): one recursion
    step per observation carrying (segment index, window start, running
    k=2 Gram sums); the engine fits from identical left-to-right running
    sums via fixed-order 2×2 elimination, so every anomaly comparison sees
    bit-identical doubles. Exactness contract: every tested window must be
    in the k=2 (span < half a year) regime — true for the contract SFs'
    30-day event series; longer-span inputs take the engine's k>=4 lstsq
    path which this SQL does not model. The variogram floor replays the
    engine's quantile_cont-style interpolated median of |successive
    diffs|."""
    # fit-from-sums expression fragments, substituted to mirror the
    # engine's _Sums.fit2 op order exactly
    nD = "CAST(a.cnt AS DOUBLE)"
    m1 = f"(a.st / {nD})"
    h11 = f"(a.stt - {m1}*a.st)"
    bb = f"((a.sty - {m1}*a.sy) / {h11})"
    aa = f"((a.sy - a.st*{bb}) / {nD})"
    ssr = f"((a.syy - {aa}*a.sy) - {bb}*a.sty)"
    rmse = (
        f"sqrt(greatest({ssr}, 0.0) / "
        "CAST(greatest(a.cnt - 2, 1) AS DOUBLE))"
    )
    thr = f"(3.0 * greatest({rmse}, b.vario, 1e-9))"
    brk = (
        f"(a.cnt >= 8 AND b.rn + 2 <= b.n"
        f" AND abs(b.y  - ({aa} + (b.t  - a.t_start)*{bb})) > {thr}"
        f" AND abs(b.y1 - ({aa} + (b.t1 - a.t_start)*{bb})) > {thr}"
        f" AND abs(b.y2 - ({aa} + (b.t2 - a.t_start)*{bb})) > {thr})"
    )
    return f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT source, doc_id, y, day, rn, n,
         day - min(day) OVER (PARTITION BY source, doc_id) AS t,
         max(day) OVER (PARTITION BY source, doc_id) AS last_day
  FROM (
    SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id,
           value AS y,
           (epoch_us(ts) // 1000000) / 86400.0 AS day,
           row_number() OVER (PARTITION BY event_type, user_id
                              ORDER BY ts, value) AS rn,
           count(*) OVER (PARTITION BY event_type, user_id) AS n
    FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  )
), dr AS (
  SELECT source, doc_id, d,
         row_number() OVER (PARTITION BY source, doc_id ORDER BY d) AS r,
         count(*) OVER (PARTITION BY source, doc_id) AS m
  FROM (
    SELECT source, doc_id,
           abs(y - lag(y) OVER (PARTITION BY source, doc_id
                                ORDER BY rn)) AS d
    FROM base
  ) WHERE d IS NOT NULL
), vf AS MATERIALIZED (
  SELECT source, doc_id,
         dlo + (dhi - dlo) * frac AS vario
  FROM (
    SELECT source, doc_id,
      max(CASE WHEN r = CAST(floor((m-1)*0.5) AS BIGINT) + 1
               THEN d END) AS dlo,
      max(CASE WHEN r = least(CAST(floor((m-1)*0.5) AS BIGINT) + 2, m)
               THEN d END) AS dhi,
      any_value((m-1)*0.5 - floor((m-1)*0.5)) AS frac
    FROM dr GROUP BY 1, 2
  )
), src AS MATERIALIZED (
  SELECT base.*, coalesce(vf.vario, 0.0) AS vario,
         lead(t, 1) OVER ws AS t1, lead(y, 1) OVER ws AS y1,
         lead(t, 2) OVER ws AS t2, lead(y, 2) OVER ws AS y2
  FROM base LEFT JOIN vf USING (source, doc_id)
  WINDOW ws AS (PARTITION BY source, doc_id ORDER BY rn)
), rec AS (
  SELECT source, doc_id, rn, n,
    (n < 8) AS done,
    0 AS seg, 1::BIGINT AS start_rn,
    day AS day_start, t AS t_start, day AS prev_day,
    1::BIGINT AS cnt,
    0.0::DOUBLE AS st, 0.0::DOUBLE AS stt,
    0.0::DOUBLE + y AS sy, 0.0::DOUBLE AS sty,
    0.0::DOUBLE + y*y AS syy,
    CASE WHEN n < 8 THEN 0 END AS e_seg,
    CASE WHEN n < 8 THEN day END AS e_start,
    CASE WHEN n < 8 THEN last_day END AS e_end,
    CAST(NULL AS DOUBLE) AS e_brk,
    CASE WHEN n < 8 THEN n END AS e_n,
    CAST(NULL AS INTEGER) AS s_seg,
    CAST(NULL AS DOUBLE) AS s_start,
    CAST(NULL AS DOUBLE) AS s_end,
    CAST(NULL AS BIGINT) AS s_n
  FROM src WHERE rn = 1
  UNION ALL
  SELECT b.source, b.doc_id, b.rn, b.n,
    CASE WHEN {brk} AND b.n - b.rn + 1 < 8 THEN TRUE ELSE FALSE END,
    CASE WHEN {brk} THEN a.seg + 1 ELSE a.seg END,
    CASE WHEN {brk} THEN b.rn ELSE a.start_rn END,
    CASE WHEN {brk} THEN b.day ELSE a.day_start END,
    CASE WHEN {brk} THEN b.t ELSE a.t_start END,
    b.day,
    CASE WHEN {brk} THEN 1 ELSE a.cnt + 1 END,
    CASE WHEN {brk} THEN 0.0 ELSE a.st + (b.t - a.t_start) END,
    CASE WHEN {brk} THEN 0.0
         ELSE a.stt + (b.t - a.t_start)*(b.t - a.t_start) END,
    CASE WHEN {brk} THEN 0.0 + b.y ELSE a.sy + b.y END,
    CASE WHEN {brk} THEN 0.0 ELSE a.sty + (b.t - a.t_start)*b.y END,
    CASE WHEN {brk} THEN 0.0 + b.y*b.y ELSE a.syy + b.y*b.y END,
    CASE WHEN {brk} THEN a.seg
         WHEN b.rn = b.n THEN a.seg END,
    CASE WHEN {brk} THEN a.day_start
         WHEN b.rn = b.n THEN a.day_start END,
    CASE WHEN {brk} THEN a.prev_day
         WHEN b.rn = b.n THEN b.day END,
    CASE WHEN {brk} THEN b.day END,
    CASE WHEN {brk} THEN a.cnt
         WHEN b.rn = b.n THEN a.cnt + 1 END,
    CASE WHEN {brk} AND b.n - b.rn + 1 < 8 THEN a.seg + 1 END,
    CASE WHEN {brk} AND b.n - b.rn + 1 < 8 THEN b.day END,
    CASE WHEN {brk} AND b.n - b.rn + 1 < 8 THEN b.last_day END,
    CASE WHEN {brk} AND b.n - b.rn + 1 < 8 THEN b.n - b.rn + 1 END
  FROM rec a
  JOIN src b ON b.source = a.source AND b.doc_id = a.doc_id
            AND b.rn = a.rn + 1
  WHERE NOT a.done
)
SELECT source, doc_id, e_seg AS segment, e_start AS start_day,
       e_end AS end_day, e_brk AS break_day, e_n AS n_obs
FROM rec WHERE e_seg IS NOT NULL
UNION ALL
SELECT source, doc_id, s_seg, s_start, s_end, CAST(NULL AS DOUBLE), s_n
FROM rec WHERE s_seg IS NOT NULL
"""


_NUM_SEASONS_ORACLE = """
WITH RECURSIVE p AS (
  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id, value,
         row_number() OVER wo - 1 AS idx,
         count(*) OVER wp AS n,
         quantile_cont(value, 0.75) OVER wp AS height
  FROM events
  WINDOW wo AS (PARTITION BY event_type, user_id ORDER BY ts),
         wp AS (PARTITION BY event_type, user_id)
), runs0 AS (  -- group consecutive equal values (find_peaks plateau runs)
  SELECT *, CASE WHEN lag(value) OVER wo2 IS NULL
                   OR lag(value) OVER wo2 <> value THEN 1 ELSE 0 END AS newrun
  FROM p WINDOW wo2 AS (PARTITION BY source, doc_id ORDER BY idx)
), runs1 AS (
  SELECT *, sum(newrun) OVER (PARTITION BY source, doc_id
                              ORDER BY idx) AS run_id
  FROM runs0
), runs AS (
  SELECT source, doc_id, run_id, any_value(value) AS v,
         min(idx) AS first_idx, max(idx) AS last_idx,
         any_value(n) AS n, any_value(height) AS height
  FROM runs1 GROUP BY source, doc_id, run_id
), rp AS (
  SELECT *, lag(v) OVER wr AS pv, lead(v) OVER wr AS nv
  FROM runs WINDOW wr AS (PARTITION BY source, doc_id ORDER BY run_id)
), peaks AS (  -- plateau midpoint peaks, height-filtered, ranked by the
               -- scipy suppression priority (height DESC, later idx first)
  SELECT source, doc_id,
         (first_idx + last_idx) // 2 AS idx, v,
         CAST(ceil(n / 4.0) AS BIGINT) AS dist,
         row_number() OVER (
           PARTITION BY source, doc_id
           ORDER BY v DESC, (first_idx + last_idx) // 2 DESC) AS r
  FROM rp
  WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv
    AND v >= height
), maxr AS (
  SELECT source, doc_id, count(*) AS mr FROM peaks GROUP BY 1, 2
), series AS (
  SELECT DISTINCT source, doc_id FROM p
), rec AS (  -- greedy distance suppression, one ranked peak per step
  SELECT s.source, s.doc_id, CAST(0 AS BIGINT) AS r,
         CAST([] AS BIGINT[]) AS kept
  FROM series s
  UNION ALL
  SELECT rec.source, rec.doc_id, rec.r + 1,
         CASE WHEN len(list_filter(rec.kept,
                                   k -> abs(k - pk.idx) < pk.dist)) = 0
              THEN list_append(rec.kept, pk.idx)
              ELSE rec.kept END
  FROM rec
  JOIN peaks pk ON pk.source = rec.source AND pk.doc_id = rec.doc_id
               AND pk.r = rec.r + 1
)
SELECT rec.source, rec.doc_id, CAST(len(rec.kept) AS INT) AS num_seasons
FROM rec
LEFT JOIN maxr USING (source, doc_id)
WHERE rec.r = coalesce(maxr.mr, 0)
"""


def _mogpr_oracle(
    lengthscale: float = 3.0, noise: float = 0.1, rho: float = 0.7
) -> str:
    """Exact SQL replay of operators/fusion.py:mogpr_fuse (dense path) on
    the deterministic {_MOGPR_CUTOFF} subset.

    Stages (all per doc_id = user):
      obs:   per-signal z-normalization (population std, ddof=0; sd==0→1),
             joint observation index `a` in the kernel's (source, ts µs)
             sort order, signal index `si` in sorted-source order;
      aug:   the regularized Gram matrix A = B∘K + σₙ²I (B = (1-ρ)I+ρ11ᵀ,
             K = Matern-3/2) built row-major as ONE augmented [A | I]
             DOUBLE[] list per doc;
      gj:    recursive-CTE Gauss-Jordan: each iteration pivots on row
             `it` via a single list_transform lambda (no self-joins —
             the whole elimination state rides in the list column), n
             iterations → right half = A⁻¹;
      alpha/kv/mean/var: posterior readout α = A⁻¹z,
             μ_i(g) = k_gᵀα, σ²_i(g) = B_ii − k_gᵀA⁻¹k_g (clamped ≥0),
             denormalized per signal.
    Gauss-Jordan vs the kernel's Cholesky agree to ~2e-12 abs; both sides
    round at 5dp (see q_mogpr_fusion)."""
    d = 1.0 - rho
    return f"""
WITH RECURSIVE obs0 AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id, event_type AS source,
         epoch_us(ts) AS ep_us, epoch_us(ts) // 1000000 AS ep, value AS v
  FROM events WHERE ts < TIMESTAMP '{_MOGPR_CUTOFF}'
), norm AS (
  SELECT doc_id, source, avg(v) AS mu,
         CASE WHEN stddev_pop(v) = 0 OR stddev_pop(v) IS NULL
              THEN 1.0 ELSE stddev_pop(v) END AS sd
  FROM obs0 GROUP BY 1, 2
), obs AS (
  SELECT o.doc_id, o.source, o.ep / 86400.0 AS day,
         (o.v - n.mu) / n.sd AS z, n.mu, n.sd,
         row_number() OVER (PARTITION BY o.doc_id
                            ORDER BY o.source, o.ep_us) - 1 AS a,
         dense_rank() OVER (PARTITION BY o.doc_id
                            ORDER BY o.source) - 1 AS si
  FROM obs0 o JOIN norm n USING (doc_id, source)
), dims AS (
  SELECT doc_id, count(*) AS n, min(day) AS d0, max(day) AS d1
  FROM obs GROUP BY 1
), pairs AS (
  SELECT x.doc_id, d.n, x.a AS i, y.a AS j,
         x.day AS dx, y.day AS dy, x.si AS sx, y.si AS sy
  FROM obs x
  JOIN obs y USING (doc_id)
  JOIN dims d USING (doc_id)
), augent AS (
  SELECT doc_id, n, i, j AS c,
         (CASE WHEN sx = sy THEN {d} ELSE 0.0 END + {rho})
         * (1 + sqrt(3.0) * abs(dx - dy) / {lengthscale})
         * exp(-sqrt(3.0) * abs(dx - dy) / {lengthscale})
         + CASE WHEN i = j THEN {noise} ELSE 0.0 END AS val
  FROM pairs
  UNION ALL
  SELECT doc_id, n, i, n + j, CASE WHEN i = j THEN 1.0 ELSE 0.0 END
  FROM pairs
), aug AS (
  SELECT doc_id, any_value(n) AS n, list(val ORDER BY i, c) AS mat
  FROM augent GROUP BY doc_id
), gj AS (
  SELECT doc_id, n, 0 AS it, mat FROM aug
  UNION ALL
  SELECT doc_id, n, it + 1,
         list_transform(range(2*n*n), idx ->
           CASE WHEN idx // (2*n) = it
                THEN mat[it*2*n + (idx % (2*n)) + 1] / mat[it*2*n + it + 1]
                ELSE mat[idx + 1]
                     - mat[(idx // (2*n))*2*n + it + 1]
                       / mat[it*2*n + it + 1]
                       * mat[it*2*n + (idx % (2*n)) + 1]
           END)
  FROM gj WHERE it < n
), inv AS (
  SELECT doc_id, idx0 // (2*n) AS i, idx0 % (2*n) - n AS j, v
  FROM (
    SELECT doc_id, n, unnest(mat) AS v, unnest(range(2*n*n)) AS idx0
    FROM gj WHERE it = n
  ) WHERE idx0 % (2*n) >= n
), alpha AS (
  SELECT i.doc_id, i.i AS a, sum(i.v * ob.z) AS al
  FROM inv i JOIN obs ob ON ob.doc_id = i.doc_id AND ob.a = i.j
  GROUP BY 1, 2
), grid AS (
  SELECT doc_id, d0 + k AS gt,
         make_timestamp(CAST(round((d0 + k) * 86400000000.0) AS BIGINT)) AS ts
  FROM (
    SELECT doc_id, d0,
           unnest(range(CAST(ceil(d1 + 1e-9 - d0) AS BIGINT))) AS k
    FROM dims
  )
), sigs AS (
  SELECT DISTINCT doc_id, source, si, mu, sd FROM obs
), kv AS (
  SELECT s.doc_id, s.source, s.mu, s.sd, g.ts, g.gt, ob.a,
         (CASE WHEN s.si = ob.si THEN {d} ELSE 0.0 END + {rho})
         * (1 + sqrt(3.0) * abs(g.gt - ob.day) / {lengthscale})
         * exp(-sqrt(3.0) * abs(g.gt - ob.day) / {lengthscale}) AS k
  FROM sigs s
  JOIN grid g USING (doc_id)
  JOIN obs ob USING (doc_id)
), mean_z AS (
  SELECT kv.doc_id, kv.source, kv.ts,
         any_value(kv.mu) AS mu, any_value(kv.sd) AS sd,
         sum(kv.k * al.al) AS mz
  FROM kv JOIN alpha al ON al.doc_id = kv.doc_id AND al.a = kv.a
  GROUP BY 1, 2, 3
), w AS (
  SELECT kv.doc_id, kv.source, kv.ts, i.i AS a, sum(i.v * kv.k) AS wv
  FROM kv JOIN inv i ON i.doc_id = kv.doc_id AND i.j = kv.a
  GROUP BY 1, 2, 3, 4
), var_z AS (
  SELECT w.doc_id, w.source, w.ts,
         greatest(1.0 - sum(w.wv * kv.k), 0.0) AS vz
  FROM w JOIN kv ON kv.doc_id = w.doc_id AND kv.source = w.source
              AND kv.ts = w.ts AND kv.a = w.a
  GROUP BY 1, 2, 3
)
SELECT m.doc_id, m.source, m.ts,
       round(m.mz * m.sd + m.mu, 5) + 0.0 AS value_fused,
       round(sqrt(v.vz) * m.sd, 5) + 0.0 AS value_std
FROM mean_z m JOIN var_z v USING (doc_id, source, ts)
"""


def _whittaker_oracle(
    lmbd: float = 100.0, grid_seconds: int = 3600, max_grid: int = 100_000
) -> str:
    """Exact SQL replay of operators/whittaker.py:whittaker_gapfill.

    The banded LDLᵀ solve is three LINEAR RECURRENCES per series, so it is
    recursive-CTE-expressible with bit-level fidelity (same IEEE ops in the
    same order as the numpy kernel):
      cells: dense per-series grid from first to last obs at grid_seconds;
             observed cells carry w=1/y=v (last obs in a cell wins), gaps
             w=0; bands of D2'D2 from the closed-form indicator sums;
             a0 = w + λ·m0 + ridge(1e-9).
      fwd:   factorization + forward substitution in one pass —
             l2_i = a2[i-2]/d[i-2];
             l1_i = (a1[i-1] − l2_i·l1[i-1]·d[i-2])/d[i-1];
             d_i  = a0[i] − l1_i²·d[i-1] − l2_i²·d[i-2];
             c_i  = b[i] − l1_i·c[i-1] − l2_i·c[i-2]   (b = w·y),
             with l1/l2 = 0 below their first defined index (matching the
             kernel's zero-initialized arrays).
      bwd:   z_i = c_i/d_i − l1[i+1]·z[i+1] − l2[i+2]·z[i+2].
    """
    return f"""
WITH RECURSIVE obs AS (
  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id, ts,
         epoch_us(ts) // 1000000 AS eps, value AS v
  FROM events
  WHERE ts < TIMESTAMP '{_WHIT_CUTOFF}' AND user_id % 3 = 0
), span AS (
  SELECT source, doc_id, min(eps) AS ep0,
         least((max(eps) - min(eps)) // {grid_seconds} + 1,
               {max_grid}) AS n
  FROM obs GROUP BY 1, 2
), cellobs AS (  -- last assignment per grid cell wins (kernel Y[idx]=v)
  SELECT o.source, o.doc_id, (o.eps - s.ep0) // {grid_seconds} AS i, o.v
  FROM obs o
  JOIN span s ON s.source = o.source AND s.doc_id = o.doc_id
  WHERE (o.eps - s.ep0) // {grid_seconds} < s.n  -- kernel max_grid cap
  QUALIFY row_number() OVER (
    PARTITION BY o.source, o.doc_id, (o.eps - s.ep0) // {grid_seconds}
    ORDER BY o.ts DESC) = 1
), grid AS MATERIALIZED (
  SELECT source, doc_id, ep0, n, unnest(range(0, n)) AS i FROM span
), bands AS (
  SELECT g.source, g.doc_id, g.ep0, g.n, g.i,
         CASE WHEN c.v IS NULL THEN 0.0 ELSE 1.0 END AS w,
         coalesce(c.v, 0.0) AS y,
         -- m0(i,n) = [i<=n-3] + 4*[1<=i<=n-2] + [2<=i<=n-1]
         (CASE WHEN g.i <= g.n - 3 THEN 1.0 ELSE 0.0 END
          + CASE WHEN g.i >= 1 AND g.i <= g.n - 2 THEN 4.0 ELSE 0.0 END
          + CASE WHEN g.i >= 2 THEN 1.0 ELSE 0.0 END) AS m0,
         -- m1(i-1,n): entries in {{0,-2,-4}}; CASE keeps +0.0 like numpy
         (CASE WHEN g.i >= 1 THEN
            CASE (CASE WHEN g.i - 1 <= g.n - 3 THEN 1 ELSE 0 END)
               + (CASE WHEN g.i >= 2 AND g.i - 2 <= g.n - 3
                  THEN 1 ELSE 0 END)
              WHEN 0 THEN 0.0 WHEN 1 THEN -2.0 ELSE -4.0 END
          ELSE 0.0 END) AS m1_im1,
         -- m2(i-2,n) = [i>=2 and i-2<=n-3]
         (CASE WHEN g.i >= 2 AND g.i - 2 <= g.n - 3
               THEN 1.0 ELSE 0.0 END) AS m2_im2
  FROM grid g
  LEFT JOIN cellobs c ON c.source = g.source AND c.doc_id = g.doc_id
                     AND c.i = g.i
), cells AS MATERIALIZED (
  SELECT source, doc_id, ep0, n, i,
         w + {lmbd} * m0 + 1e-9 AS a0,
         {lmbd} * m1_im1 AS a1_im1,
         {lmbd} * m2_im2 AS a2_im2,
         w * y AS b
  FROM bands
), fwd AS (  -- factorize + forward-substitute; state = (d, c) at i and i-1
  SELECT source, doc_id, n, 0 AS i,
         a0 AS d, 0.0::DOUBLE AS l1, 0.0::DOUBLE AS l2, b AS c,
         0.0::DOUBLE AS d_prev, 0.0::DOUBLE AS c_prev
  FROM cells WHERE i = 0
  UNION ALL
  SELECT s.source, s.doc_id, s.n, s.i,
         s.a0 - s.l1n * s.l1n * s.d - s.l2n * s.l2n * s.d_prev AS d,
         s.l1n AS l1, s.l2n AS l2,
         s.b - s.l1n * s.c - s.l2n * s.c_prev AS c,
         s.d AS d_prev, s.c AS c_prev
  FROM (
    SELECT f.source, f.doc_id, f.n, x.i, x.a0, x.b,
           f.d, f.c, f.d_prev, f.c_prev,
           CASE WHEN x.i >= 2 THEN x.a2_im2 / f.d_prev ELSE 0.0 END AS l2n,
           (x.a1_im1
            - CASE WHEN x.i >= 2 THEN x.a2_im2 / f.d_prev ELSE 0.0 END
              * f.l1 * f.d_prev) / f.d AS l1n
    FROM fwd f
    JOIN cells x ON x.source = f.source AND x.doc_id = f.doc_id
                AND x.i = f.i + 1
  ) s
), fstep AS MATERIALIZED (
  SELECT source, doc_id, n, i, d, l1, l2, c / d AS cd FROM fwd
), bwd AS (  -- back substitution, downward
  SELECT source, doc_id, n - 1 AS i, cd AS z,
         cd AS z1, 0.0::DOUBLE AS z2, l1 AS l1_j1, l2 AS l2_j1,
         0.0::DOUBLE AS l2_j2
  FROM fstep WHERE i = n - 1
  UNION ALL
  SELECT b.source, b.doc_id, x.i,
         x.cd - b.l1_j1 * b.z1 - b.l2_j2 * b.z2 AS z,
         x.cd - b.l1_j1 * b.z1 - b.l2_j2 * b.z2 AS z1,
         b.z1 AS z2, x.l1 AS l1_j1, x.l2 AS l2_j1, b.l2_j1 AS l2_j2
  FROM bwd b
  JOIN fstep x ON x.source = b.source AND x.doc_id = b.doc_id
              AND x.i = b.i - 1
)
SELECT g.source, g.doc_id,
       make_timestamp((g.ep0 + {grid_seconds} * g.i) * 1000000) AS ts,
       round(z.z, 6) + 0.0 AS value_smooth
FROM grid g
JOIN bwd z ON z.source = g.source AND z.doc_id = g.doc_id AND z.i = g.i
"""


def _peakvalley_oracle(
    drop_thr: float = 50.0, rec_thr: float = 50.0, slope_thr: float = -0.5
) -> str:
    """Exact SQL replay of operators/peakvalley.py:peakvalley_series.

    Stages (all per (source, doc_id), day = epoch-seconds/86400.0 exactly
    as the kernel computes it):
      1. plateau runs -> strict peaks (pv<v>nv) and valleys (pv>v<nv) at
         the floored run midpoint (scipy find_peaks semantics);
      2. boundary fixes: leading valley gets peak 0 prepended, trailing
         peak gets valley n-1 appended; pairs = zip (alternation makes the
         lists equal length);
      3. recursive fold merging sub-recovery fluctuations while dropping
         (merge iff pk2-vl1 < rec_thr AND vl2 < vl1 AND pk2 < pk1);
      4. drop-depth filter (pk-vl > drop_thr);
      5. recursive BACKWARD scan from each valley for the event start
         (first index with drop > drop_thr, then slope1/slope2 adjustment
         with the skip-next quirk, break otherwise);
      6. recursive FORWARD scan from the valley for recovery (running min
         until a rise > rec_thr marks the event eligible);
      7. mask: interior 0, start-day 1, end-day -1, later events overwrite
         earlier ones, end overwrites start within an event; NULL elsewhere.
    """
    return f"""
WITH RECURSIVE p AS (
  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id, ts,
         value AS v,
         (epoch_us(ts) // 1000000) / 86400.0 AS day,
         row_number() OVER wo - 1 AS idx,
         count(*) OVER wp AS n
  FROM events
  WINDOW wo AS (PARTITION BY event_type, user_id ORDER BY ts),
         wp AS (PARTITION BY event_type, user_id)
), pn AS (
  SELECT *,
         lead(v) OVER wnb AS v_next, lead(day) OVER wnb AS d_next,
         lag(v) OVER wnb AS v_prev, lag(day) OVER wnb AS d_prev
  FROM p WINDOW wnb AS (PARTITION BY source, doc_id ORDER BY idx)
), runs0 AS (
  SELECT *, CASE WHEN lag(v) OVER wr0 IS NULL OR lag(v) OVER wr0 <> v
                 THEN 1 ELSE 0 END AS newrun
  FROM p WINDOW wr0 AS (PARTITION BY source, doc_id ORDER BY idx)
), runs1 AS (
  SELECT *, sum(newrun) OVER (PARTITION BY source, doc_id
                              ORDER BY idx) AS run_id
  FROM runs0
), runs AS (
  SELECT source, doc_id, run_id, any_value(v) AS v, any_value(n) AS n,
         min(idx) AS fi, max(idx) AS li
  FROM runs1 GROUP BY 1, 2, 3
), rp AS (
  SELECT *, lag(v) OVER wrp AS pv, lead(v) OVER wrp AS nv
  FROM runs WINDOW wrp AS (PARTITION BY source, doc_id ORDER BY run_id)
), ext AS (
  SELECT source, doc_id, any_value(n) AS n,
         list_sort(list((fi + li) // 2)
           FILTER (WHERE pv IS NOT NULL AND nv IS NOT NULL
                     AND v > pv AND v > nv)) AS pk,
         list_sort(list((fi + li) // 2)
           FILTER (WHERE pv IS NOT NULL AND nv IS NOT NULL
                     AND v < pv AND v < nv)) AS vl
  FROM rp GROUP BY 1, 2
), fixed AS (
  SELECT source, doc_id, n,
         CASE WHEN vl[1] < pk[1]
              THEN list_prepend(CAST(0 AS BIGINT), pk) ELSE pk END AS pk,
         CASE WHEN vl[len(vl)] < pk[len(pk)]
              THEN list_append(vl, n - 1) ELSE vl END AS vl
  FROM ext WHERE len(pk) > 0 AND len(vl) > 0
), pairs1 AS (
  SELECT source, doc_id, n, len(pk) AS np,
         unnest(range(1, len(pk) + 1)) AS i, pk, vl
  FROM fixed
), pairv0 AS (
  SELECT source, doc_id, n, np, i, pk[i] AS pk_idx, vl[i] AS vl_idx
  FROM pairs1
), pairv AS (
  SELECT pv0.*, fp.v AS pk_v, fv.v AS vl_v
  FROM pairv0 pv0
  JOIN p fp ON fp.source = pv0.source AND fp.doc_id = pv0.doc_id
           AND fp.idx = pv0.pk_idx
  JOIN p fv ON fv.source = pv0.source AND fv.doc_id = pv0.doc_id
           AND fv.idx = pv0.vl_idx
), mrec AS (  -- stage 3: sequential fluctuation merge
  SELECT source, doc_id, n, np, 1 AS i,
         pk_idx AS cpk, pk_v AS cpkv, vl_idx AS cvl, vl_v AS cvlv,
         CAST([] AS STRUCT(pk BIGINT, pkv DOUBLE,
                           vl BIGINT, vlv DOUBLE)[]) AS done
  FROM pairv WHERE i = 1
  UNION ALL
  SELECT source, doc_id, n, np, i + 1,
         CASE WHEN mg THEN cpk ELSE pk_idx END,
         CASE WHEN mg THEN cpkv ELSE pk_v END,
         vl_idx, vl_v,
         CASE WHEN mg THEN done
              ELSE list_append(done, {{'pk': cpk, 'pkv': cpkv,
                                       'vl': cvl, 'vlv': cvlv}}) END
  FROM (
    SELECT m.*, nx.pk_idx, nx.pk_v, nx.vl_idx, nx.vl_v,
           (nx.pk_v - m.cvlv < {rec_thr} AND nx.vl_v < m.cvlv
            AND nx.pk_v < m.cpkv) AS mg
    FROM mrec m
    JOIN pairv nx ON nx.source = m.source AND nx.doc_id = m.doc_id
                 AND nx.i = m.i + 1
  )
), deep AS (  -- stage 4: keep drops deeper than drop_thr
  SELECT source, doc_id, n,
         list_filter(
           list_append(done, {{'pk': cpk, 'pkv': cpkv,
                               'vl': cvl, 'vlv': cvlv}}),
           s -> s.pkv - s.vlv > {drop_thr}) AS pairs
  FROM mrec WHERE i = np
), ev0 AS (
  SELECT source, doc_id, n, unnest(range(1, len(pairs) + 1)) AS e, pairs
  FROM deep
), ev1 AS (
  SELECT source, doc_id, n, e,
         pairs[e].pk AS pk_idx, pairs[e].vl AS vl_idx, pairs[e].vlv AS vl_v,
         CASE WHEN e < len(pairs) THEN pairs[e + 1].pk + 1 ELSE n END AS nxt
  FROM ev0
), srec AS (  -- stage 5: backward start scan (state machine, idx = ix-1)
  SELECT source, doc_id, e, pk_idx, vl_v,
         vl_idx AS ix, FALSE AS assigned, CAST(NULL AS BIGINT) AS start,
         FALSE AS skip, FALSE AS brk
  FROM ev1
  UNION ALL
  SELECT source, doc_id, e, pk_idx, vl_v,
         ix - 1,
         CASE WHEN skip THEN assigned WHEN dropc THEN TRUE
              ELSE assigned END,
         CASE WHEN skip THEN start
              WHEN dropc THEN ix - 1
              WHEN assigned AND s1 < {slope_thr} THEN ix - 1
              WHEN assigned AND s1 >= {slope_thr} AND ix - 2 >= pk_idx
                   AND s2 < {slope_thr} THEN ix - 2
              ELSE start END,
         (NOT skip AND NOT dropc AND assigned AND s1 >= {slope_thr}
          AND ix - 2 >= pk_idx AND s2 < {slope_thr}),
         (NOT skip AND NOT dropc AND assigned AND s1 >= {slope_thr}
          AND (ix - 2 < pk_idx OR s2 >= {slope_thr}))
  FROM (
    SELECT s.*,
           (q.v - s.vl_v > {drop_thr} AND NOT s.assigned) AS dropc,
           (q.v_next - q.v) / (q.d_next - q.day) AS s1,
           (q.v_next - q.v_prev) / (q.d_next - q.d_prev) AS s2
    FROM srec s
    JOIN pn q ON q.source = s.source AND q.doc_id = s.doc_id
             AND q.idx = s.ix - 1
    WHERE NOT s.brk AND s.ix - 1 >= s.pk_idx
  )
), sfin AS (
  SELECT source, doc_id, e, start
  FROM srec
  QUALIFY row_number() OVER (PARTITION BY source, doc_id, e
                             ORDER BY ix ASC) = 1
), erec AS (  -- stage 6: forward recovery scan (running minimum)
  SELECT source, doc_id, e, nxt,
         vl_idx AS ix, vl_idx AS endi, vl_v AS endv,
         FALSE AS eligible, FALSE AS brk
  FROM ev1
  UNION ALL
  SELECT source, doc_id, e, nxt,
         ix + 1,
         CASE WHEN recov THEN endi WHEN qv < endv THEN ix + 1
              ELSE endi END,
         CASE WHEN recov THEN endv WHEN qv < endv THEN qv ELSE endv END,
         eligible OR recov,
         recov
  FROM (
    SELECT r.*, q.v AS qv, (q.v - r.endv > {rec_thr}) AS recov
    FROM erec r
    JOIN p q ON q.source = r.source AND q.doc_id = r.doc_id
            AND q.idx = r.ix + 1
    WHERE NOT r.brk AND r.ix + 1 < r.nxt
  )
), efin AS (
  SELECT source, doc_id, e, endi, eligible
  FROM erec
  QUALIFY row_number() OVER (PARTITION BY source, doc_id, e
                             ORDER BY ix DESC) = 1
), evd AS (  -- stage 7: eligible events with start/end days
  SELECT s.source, s.doc_id, s.e, ps.day AS s_day, pe.day AS e_day
  FROM sfin s
  JOIN efin f ON f.source = s.source AND f.doc_id = s.doc_id AND f.e = s.e
  JOIN p ps ON ps.source = s.source AND ps.doc_id = s.doc_id
           AND ps.idx = s.start
  JOIN p pe ON pe.source = s.source AND pe.doc_id = s.doc_id
           AND pe.idx = f.endi
  WHERE f.eligible AND s.start IS NOT NULL
), eff AS (
  SELECT p.source, p.doc_id, p.ts,
         CASE WHEN p.day = ev.e_day THEN -1.0
              WHEN p.day = ev.s_day THEN 1.0
              ELSE 0.0 END AS flag
  FROM p
  JOIN evd ev ON ev.source = p.source AND ev.doc_id = p.doc_id
             AND p.day >= ev.s_day AND p.day <= ev.e_day
  QUALIFY row_number() OVER (PARTITION BY p.source, p.doc_id, p.ts
                             ORDER BY ev.e DESC) = 1
)
SELECT p.source, p.doc_id, p.ts, eff.flag
FROM p
LEFT JOIN eff ON eff.source = p.source AND eff.doc_id = p.doc_id
             AND eff.ts = p.ts
"""


_OUTLIER_REMOVAL_ORACLE = """
WITH p AS (
  SELECT event_type AS source, user_id AS doc_id, ts, value FROM events
), ann AS (
  SELECT *,
         stddev_pop(value) OVER w * 2.0 AS cutoff,
         CASE WHEN count(value) OVER wr = 5
              THEN quantile_cont(value, 0.5) OVER wr
              ELSE value END AS center,
         lag(value) OVER wo AS prev_v,
         lead(value) OVER wo AS next_v
  FROM p
  WINDOW w AS (PARTITION BY source, doc_id),
         wo AS (PARTITION BY source, doc_id ORDER BY ts),
         wr AS (PARTITION BY source, doc_id ORDER BY ts
                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
SELECT source, doc_id, ts,
       round(CASE WHEN abs(value - center) > cutoff
                   AND (value < ((prev_v + next_v) / 2 - cutoff)
                        OR value > (greatest(prev_v, next_v) + cutoff))
                  THEN NULL ELSE value END, 6) AS value_clean
FROM ann
"""


def oracle_sql() -> dict[str, str]:
    return {
        "rollup_1m_salted": _ROLLUP_ORACLE.format(interval="1 minute"),
        "merge_cubes_outer": """
WITH c AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id, ts, round(value, 6) AS click
  FROM events WHERE event_type = 'click'
), v AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id, ts, round(value, 6) AS view
  FROM events WHERE event_type = 'view'
)
SELECT coalesce(c.doc_id, v.doc_id) AS doc_id,
       coalesce(c.ts, v.ts) AS ts,
       c.click, v.view
FROM c FULL OUTER JOIN v ON c.doc_id = v.doc_id AND c.ts = v.ts
""",
        "remove_outliers_median": _OUTLIER_REMOVAL_ORACLE,
        "num_seasons": _NUM_SEASONS_ORACLE,
        "focal_stats": _FOCAL_ORACLE,
        "polygon_mask": _polygon_oracle(),
        "savgol_smooth": _savgol_oracle(),
        "gaussian_smooth": _gaussian_oracle(),
        "stl_trend": _STL_TREND_ORACLE,
        "stream_block_encode": """
SELECT event_type AS source,
       CAST(user_id AS VARCHAR) AS doc_id,
       ts,
       value
FROM events
""",
        "source_roundtrip": """
SELECT 'csv' AS fmt, event_type AS source,
       CAST(user_id AS VARCHAR) AS doc_id,
       ts,
       round(value, 6) + 0.0 AS value
FROM events
UNION ALL
SELECT 'nc' AS fmt, source, doc_id, ts, value FROM (
  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS doc_id,
         CAST(CAST(ts AS DATE) AS TIMESTAMP) AS ts,
         round(avg(value), 6) + 0.0 AS value
  FROM events
  GROUP BY 1, 2, 3
)
""",
        "dedup_exact": """
SELECT md5(text) AS digest,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
""",
        "dedup_minhash_lsh": _MINHASH_ORACLE,
        "dedup_simhash": _SIMHASH_ORACLE,
        "dedup_ngram_jaccard": _JACCARD_ORACLE,
        "dedup_components": _components_oracle(),
        "cosine_topk": _COSINE_ORACLE,
        "ann_lsh_topk": _ann_oracle(),
        "ann_ivf_topk": _ivf_oracle(),
        "embedding_neardup": _neardup_oracle(),
        "text_quality": _QUALITY_ORACLE,
        "lang_id": _LANGID_ORACLE,
        "token_counts": _TOKEN_ORACLE,
        "doc_fingerprint": _FINGERPRINT_ORACLE,
        "geotiff_load": """
WITH u AS (
  SELECT user_id, row_number() OVER (ORDER BY user_id) - 1 AS idx
  FROM (SELECT DISTINCT user_id FROM events)
), dims AS (
  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS w FROM u
), et0 AS (
  SELECT min(event_type) AS e FROM events
), daily AS (
  SELECT e.event_type,
         CAST(CAST(e.ts AS DATE) AS TIMESTAMP) AS ts,
         u.idx // d.w AS r, u.idx % d.w AS c,
         round(avg(e.value), 6) + 0.0 AS v
  FROM events e
  CROSS JOIN dims d
  JOIN u ON e.user_id = u.user_id
  GROUP BY 1, 2, 3, 4
)
SELECT event_type AS source, ts,
       CASE WHEN event_type = (SELECT e FROM et0)
            THEN CAST(r AS DOUBLE)
            ELSE 20.0 - (r + 0.5) * 0.5 END AS y,
       CASE WHEN event_type = (SELECT e FROM et0)
            THEN CAST(c AS DOUBLE)
            ELSE 10.0 + (c + 0.5) * 0.5 END AS x,
       v AS value
FROM daily
""",
        "multimodal_decode_pixels": """
SELECT CAST(d.doc_id AS VARCHAR) AS media_id, g.y, g.x,
       ord(substr(repeat(md5(d.text), 8), g.y * 10 + g.x + 1, 1)) AS px
FROM documents d
CROSS JOIN (
  SELECT y, x
  FROM (SELECT unnest(range(6)) AS y), (SELECT unnest(range(10)) AS x)
) g
""",
        "media_resize": """
SELECT CAST(d.doc_id AS VARCHAR) AS media_id, g.y, g.x,
       ord(substr(repeat(md5(d.text), 8),
                  (g.y * 16 // 5) * 16 + (g.x * 16 // 7) + 1, 1)) AS px
FROM documents d
CROSS JOIN (
  SELECT y, x
  FROM (SELECT unnest(range(5)) AS y), (SELECT unnest(range(7)) AS x)
) g
""",
        "media_binary_meta": """
SELECT doc_id, 'image' AS media_type,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       sha256(text) AS sha256
FROM documents
""",
        "bandmath_indices": """
SELECT l_orderkey, l_linenumber,
       round((l_extendedprice - l_quantity)
             / (l_extendedprice + l_quantity), 6) + 0.0 AS ndvi,
       round(2.5 * (l_extendedprice - l_quantity)
             / (l_extendedprice + 6 * l_quantity - 7.5 * l_discount + 1), 6)
         + 0.0 AS evi,
       round((l_extendedprice - l_quantity)
             / (l_extendedprice + l_quantity + l_tax), 6) + 0.0 AS mavi,
       round((l_quantity + l_quantity)
             / (l_extendedprice + l_quantity), 6) + 0.0 AS rvi
FROM lineitem
""",
        "zscore_outliers": _ZSCORE_ORACLE,
        "lag_features": _LAG_FEATURES_ORACLE,
        "time_derivative": _DERIV_ORACLE,
        "linear_interpolate": _INTERP_ORACLE,
        "resample_day_mean": _RESAMPLE_ORACLE.format(unit="day", reducer="avg"),
        "resample_week_median": _RESAMPLE_ORACLE.format(
            unit="week", reducer="median"
        ),
        "calendar_month_stats": """
SELECT event_type AS source, user_id AS doc_id,
       month(ts) AS month,
       round(avg(value), 6) AS value,
       count(value) AS n_obs
FROM events
GROUP BY 1, 2, 3
""",
        "phenometrics": _PHENO_ORACLE,
        "whittaker_gapfill": _whittaker_oracle(),
        "mogpr_fusion": _mogpr_oracle(),
        "peakvalley": _peakvalley_oracle(),
        "harmonic_fit": _harmonic_fit_oracle(),
        "ccdc_segments": _ccdc_oracle(),
        "gorilla_roundtrip": """
SELECT event_type AS source,
       CAST(user_id AS VARCHAR) AS doc_id,
       ts,
       value
FROM events
""",
        "block_compaction": """
SELECT event_type AS source,
       CAST(user_id AS VARCHAR) AS doc_id,
       ts,
       value
FROM events
""",
        "retention_horizon": f"""
WITH r AS ({_ROLLUP_ORACLE.format(interval="1 minute")})
SELECT source, doc_id, bucket_ts, n_obs, sum_val, min_val, max_val,
       first_val, last_val, avg_val
FROM (
  SELECT *, max(bucket_ts) OVER (PARTITION BY week(bucket_ts)) AS batch_max
  FROM r
)
WHERE batch_max >= (SELECT max(ts) FROM events) - INTERVAL 10 DAY
""",
        "stream_rollup_1m": _ROLLUP_ORACLE.format(interval="1 minute"),
        "late_data_merge": """
SELECT event_type AS source, 'all' AS doc_id,
       time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
       count(fv) AS n_obs,
       CAST(sum(fv) AS BIGINT) AS sum_val,
       min(fv) AS min_val,
       max(fv) AS max_val,
       arg_min(fv, event_id) AS first_val,
       arg_max(fv, event_id) AS last_val,
       round(CAST(sum(fv) AS BIGINT) / count(fv), 6) + 0.0 AS avg_val
FROM (
  SELECT *, CAST(floor(value * 1000) AS BIGINT) AS fv FROM events
)
GROUP BY 1, 2, 3
""",
        "rollup_1m": _ROLLUP_ORACLE.format(interval="1 minute"),
        "rollup_1h": _ROLLUP_ORACLE.format(interval="1 hour"),
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    }
