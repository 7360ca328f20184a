"""Sources / sinks (SURVEY.md §2.1).

* load_points_csv — the reference's `load_sits_csv` (sits_bridge.py:44-112):
  CSV point time series -> long frame; parses the time column, auto-detects
  numeric band columns, melts wide bands to long rows.
* wide_to_long — the xarray band-stacking dual (melt via stack()).
* merge_cubes — the reference's multi-sensor cube merge
  (openeo/__init__.py:131, tests/test_cube_construction.py:4-19): full
  outer join of band frames on (series, ts), or unionByName in long form.
* load_sits_netcdf / load_netcdf_dir — netCDF has no native Spark source;
  production path is ingest-time conversion (sits_bridge.py:115-145
  equivalent). Uses xarray when installed; otherwise a dependency-free
  CLASSIC-format byte parser (sources/netcdf3.py) takes over — single
  file on the driver, or a whole directory parsed ON EXECUTORS via the
  binaryFile source + kernels.map_kernel. NetCDF-4/HDF5 stays gated.

Sinks are plain `df.write.parquet` / the TierStore commit protocol — the
reference's netCDF sink (tests/test_whittaker.py:73-76) maps to the tier
store (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import map_kernel

_NUMERIC = (
    T.DoubleType, T.FloatType, T.IntegerType, T.LongType,
    T.ShortType, T.DecimalType,
)


def wide_to_long(
    df: DataFrame,
    id_cols: list[str],
    band_cols: list[str] | None = None,
    band_name: str = "band",
    value_name: str = "value",
) -> DataFrame:
    """Melt wide band columns into (id_cols..., band, value) rows —
    the long-format dual of the reference's per-variable Dataset."""
    if band_cols is None:
        band_cols = [
            f.name
            for f in df.schema.fields
            if f.name not in id_cols and isinstance(f.dataType, _NUMERIC)
        ]
    stack_expr = ", ".join(
        f"'{c}', cast(`{c}` as double)" for c in band_cols
    )
    return df.selectExpr(
        *id_cols,
        f"stack({len(band_cols)}, {stack_expr}) as ({band_name}, {value_name})",
    )


def load_points_csv(
    spark: SparkSession,
    path: str,
    time_col: str = "Index",
    band_cols: list[str] | None = None,
    series_cols: list[str] | None = None,
    time_format: str | None = None,
) -> DataFrame:
    """CSV point-timeseries -> long frame (source=band, doc_id=series id,
    ts, value). Band columns auto-detected as numeric non-key columns,
    like the reference's sits_bridge loader."""
    raw = spark.read.csv(path, header=True, inferSchema=True)
    ts = (
        F.to_timestamp(F.col(time_col), time_format)
        if time_format
        else F.to_timestamp(F.col(time_col))
    )
    df = raw.withColumn("ts", ts).drop(time_col)
    series_cols = series_cols or []
    id_cols = ["ts", *series_cols]
    long = wide_to_long(df, id_cols, band_cols, band_name="source")
    if series_cols:
        doc = F.concat_ws("-", *[F.col(c).cast("string") for c in series_cols])
    else:
        doc = F.lit("series-0")
    return long.select(
        "source", doc.alias("doc_id"), "ts", "value"
    ).filter(F.col("value").isNotNull())


def merge_cubes(*band_frames: DataFrame, how: str = "union") -> DataFrame:
    """Merge per-band long frames (source, doc_id, ts, value).

    how='union': long-format concat (the engine's preferred shape — each
    band stays a row, no alignment needed; reference xarray.concat,
    mogpr.py:211).
    how='outer': wide alignment via full outer join on (doc_id, ts) with one
    value column per band (reference merge_cubes semantics — union of time
    grids, NULL where a band lacks an observation)."""
    assert band_frames
    if how == "union":
        out = band_frames[0]
        for f in band_frames[1:]:
            out = out.unionByName(f)
        return out
    assert how == "outer"
    wide = None
    for f in band_frames:
        bands = [r[0] for r in f.select("source").distinct().collect()]
        assert len(bands) == 1, "each frame must carry exactly one band"
        b = f.select(
            "doc_id", "ts", F.col("value").alias(bands[0])
        )
        wide = b if wide is None else wide.join(b, ["doc_id", "ts"], "outer")
    return wide


def _classic_to_frame(parsed: dict):
    """xarray's `Dataset.to_dataframe().reset_index()` shape, from a
    parsed classic netCDF file (sources/netcdf3.py): one row per point of
    the dims cross product, one column per dim coordinate and per data
    variable. 1-D variables named after their own dimension are treated
    as coordinates (CF convention), with '<unit> since <origin>' time
    units decoded to timestamps the way xarray would."""
    import numpy as np
    import pandas as pd

    from .netcdf3 import decode_cf_time

    def native(a: "np.ndarray") -> "np.ndarray":
        # classic netCDF data is big-endian; Arrow (the pandas<->Spark
        # bridge) rejects byte-swapped arrays, so normalize on the way out
        if a.dtype.byteorder == ">":
            return a.byteswap().view(a.dtype.newbyteorder("="))
        return a

    coords: dict = {}
    data_vars: dict = {}
    for name, v in parsed["vars"].items():
        if len(v.dims) == 1 and v.dims[0] == name:
            vals = native(np.asarray(v.data))
            units = v.attrs.get("units", "")
            if isinstance(units, str) and " since " in units:
                vals = decode_cf_time(vals, units)
            coords[name] = vals
        else:
            data_vars[name] = v
    if not data_vars:
        raise ValueError("netCDF file holds no data variables")
    dim_tuples = {v.dims for v in data_vars.values()}
    if len(dim_tuples) != 1:
        raise ValueError(
            f"data variables span differing dimensions {dim_tuples}; the "
            "SITS cube shape (shared dims) is required"
        )
    dims = next(iter(dim_tuples))
    sizes = [
        parsed["numrecs"]
        if parsed["dims"][dn] == 0
        else parsed["dims"][dn]
        for dn in dims
    ]
    axes = [
        coords.get(dn, np.arange(n)) for dn, n in zip(dims, sizes)
    ]
    mesh = np.meshgrid(*axes, indexing="ij")
    frame = {dn: m.ravel() for dn, m in zip(dims, mesh)}
    for name, v in data_vars.items():
        frame[name] = native(np.asarray(v.data)).ravel()
    return pd.DataFrame(frame)


def load_sits_netcdf(spark: SparkSession, path: str) -> DataFrame:
    """netCDF ingest -> long rows (reference sits_bridge.py:115-145; no
    native Spark netCDF source, so parsing happens at ingest time).

    Uses xarray when installed (any netCDF variant); otherwise falls back
    to the dependency-free parsers — classic CDF-1/2 via
    sources/netcdf3.py, NetCDF-4 (HDF5 container, incl. the chunked
    deflate/shuffle layouts libnetcdf writes by default) via
    sources/hdf5.py — real byte-level decoding, not a stub. szip and
    exotic filters remain gated without libhdf5 (clear
    NotImplementedError from the parser)."""
    try:
        import xarray as xr
    except ImportError:
        from .netcdf3 import read_netcdf_auto

        with open(path, "rb") as f:
            parsed = read_netcdf_auto(f.read())
        return spark.createDataFrame(_classic_to_frame(parsed))
    import pandas as pd

    ds = xr.load_dataset(path)
    pdf = ds.to_dataframe().reset_index()
    return spark.createDataFrame(pd.DataFrame(pdf))


def load_netcdf_dir(spark: SparkSession, path: str) -> DataFrame:
    """DISTRIBUTED netCDF ingest: every file in `path` is parsed on an
    executor (Spark's binaryFile source ships the bytes; a map_kernel
    batch runs the pure-numpy parser), so ingest parallelism is
    file-count bound exactly like the production parquet path. Classic
    CDF-1/2 and NetCDF-4 (HDF5; contiguous or chunked-compressed) granules
    both parse — magic-dispatched per file, so mixed directories work.
    The output schema is probed from one file on the driver; every file
    must share it (the multi-granule SITS layout). Adds `src_file`
    lineage."""
    from .netcdf3 import read_netcdf_auto

    files = spark.read.format("binaryFile").load(path)
    first = files.select("content").head()
    if first is None:
        raise ValueError(f"no files under {path}")
    probe = _classic_to_frame(read_netcdf_auto(bytes(first["content"])))
    probe["src_file"] = ""
    schema = spark.createDataFrame(probe.head(1)).schema

    def _parse(pdf):
        for src_file, content in zip(pdf["path"], pdf["content"]):
            frame = _classic_to_frame(read_netcdf_auto(bytes(content)))
            frame["src_file"] = src_file
            yield frame

    return map_kernel(files.select("path", "content"), _parse, schema)


def load_sits_geotiff(
    spark: SparkSession,
    path: str,
    time_coords: list,
    time_dimension: str = "time",
) -> DataFrame:
    """GeoTIFF stack -> long rows (reference sits_bridge.py:148-199: a
    rioxarray DataArray (t, y, x) with assigned time coords; here the
    raster pixels EXPLODE to rows, the long-format dual).

    Two stacking modes, mirroring the reference's signature:
      * file-per-date (default): the files under `path`, in NATURAL
        (numeric-aware) path order, pair POSITIONALLY with `time_coords`
        in the caller-given order — the reference's assign_coords
        semantics. Natural order keeps date-2.tif before date-10.tif,
        where a plain lexicographic sort would silently mispair.
      * time_dimension='band': ONE multi-sample file whose bands pair
        with `time_coords`; the band count is validated against
        len(time_coords) up front on the driver (a mismatch would
        otherwise surface as an opaque executor-side IndexError or a
        silent drop of trailing coords).

    Parsing runs ON EXECUTORS (binaryFile ships each granule's bytes; a
    map_kernel batch runs the dependency-free baseline-TIFF parser in
    sources/geotiff.py), so ingest parallelism is granule-count bound.
    Georeferenced rasters emit cell-center map coordinates from the
    GeoTIFF tags; ungeoreferenced ones emit pixel indices. Nodata pixels
    (GDAL tag 42113) become NULL values, as rioxarray masks them."""
    import re

    import numpy as np
    import pandas as pd

    from .geotiff import read_tiff

    def _natural_key(p: str):
        return [
            int(tok) if tok.isdigit() else tok
            for tok in re.split(r"(\d+)", p)
        ]

    files = spark.read.format("binaryFile").load(path)
    # bounded driver-side collect: file PATHS only (one short string per
    # granule — no payload bytes), needed to pair files with the caller's
    # time axis in natural order before the executor-side parse
    paths = sorted(
        (r["path"] for r in files.select("path").collect()),
        key=_natural_key,
    )
    if not paths:
        raise ValueError(f"no files under {path}")
    # positional pairing in the CALLER-GIVEN coord order (reference
    # assign_coords semantics) — do not re-sort the time axis
    times = [pd.Timestamp(t) for t in pd.to_datetime(time_coords)]
    band_mode = time_dimension == "band"
    if band_mode:
        if len(paths) != 1:
            raise ValueError(
                "time_dimension='band' stacks the bands of ONE file; got "
                f"{len(paths)} files"
            )
        # driver-side probe: band count must match the time axis exactly
        probe_bytes = bytes(
            files.select("content").head()["content"]
        )
        probe = read_tiff(probe_bytes)[0]
        n_bands = (
            probe.data.shape[2] if probe.data.ndim == 3 else 1
        )
        if n_bands != len(times):
            raise ValueError(
                f"file has {n_bands} bands but {len(times)} time coords "
                "— time_dimension='band' pairs them one-to-one"
            )
    elif len(paths) != len(times):
        raise ValueError(
            f"{len(paths)} files but {len(times)} time coords — the "
            "file-per-date stack pairs them one-to-one"
        )
    path_to_ts = dict(zip(paths, times))

    schema = (
        "ts timestamp, y double, x double, value double, src_file string"
    )

    def _explode(pdf):
        for src_file, content in zip(pdf["path"], pdf["content"]):
            page = read_tiff(bytes(content))[0]
            native = np.asarray(page.data)
            # nodata must be compared in the raster's NATIVE dtype:
            # float64(float32(-9999.9)) != float('-9999.9'), so a
            # post-cast compare silently passes fractional-nodata
            # pixels through as valid (rioxarray masks pre-cast too)
            arr = native.astype(np.float64)
            if page.nodata is not None:
                nd = np.asarray(page.nodata).astype(native.dtype)
                # integer rasters: only mask when the tag is exactly
                # representable in the native dtype — a wrapping cast
                # (e.g. -9999 tagged on a u8/u16 raster) lands on an
                # arbitrary in-range value and would NaN out real
                # pixels. Float rasters keep the pre-cast compare
                # (float32(-9999.9) == float32 tag, by construction).
                representable = (
                    float(nd) == float(page.nodata)
                    if np.issubdtype(native.dtype, np.integer)
                    else True
                )
                if representable:
                    arr[native == nd] = np.nan
            bands = (
                [arr[:, :, b] for b in range(arr.shape[2])]
                if arr.ndim == 3
                else [arr]
            )
            gt = page.geotransform()
            rows_idx, cols_idx = np.meshgrid(
                np.arange(page.height), np.arange(page.width),
                indexing="ij",
            )
            if gt is not None:
                xs = gt[0] + (cols_idx + 0.5) * gt[1]
                ys = gt[3] + (rows_idx + 0.5) * gt[5]
            else:
                xs = cols_idx.astype(np.float64)
                ys = rows_idx.astype(np.float64)
            for b, band in enumerate(bands):
                vals = band.ravel()
                ts = times[b] if band_mode else path_to_ts[src_file]
                yield pd.DataFrame(
                    {
                        "ts": ts,
                        "y": ys.ravel(),
                        "x": xs.ravel(),
                        "value": vals,
                        "src_file": src_file,
                    }
                )

    return map_kernel(files.select("path", "content"), _explode, schema)
