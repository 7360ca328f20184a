"""Dependency-free NetCDF3 "classic" reader/writer (CDF-1 / CDF-2).

The reference loads SITS cubes from netCDF via xarray
(`sits_bridge.py:115-145`); this container has no xarray/netCDF4/HDF5.
The CLASSIC netCDF format (pre-HDF5) is a small, fully-public,
self-describing binary layout — big-endian scalars, a three-section
header (dims / global attrs / variables), then fixed-size variable data
and interleaved record data — which numpy parses directly, the same way
`operators/multimodal.py` decodes BMP without image libraries. The
format work here is real, not stubbed; NetCDF-4 files (an HDF5
container, magic ``\\x89HDF``) route through read_netcdf_auto to the
minimal HDF5 parser in sources/hdf5.py (contiguous, compact, and
chunked layouts incl. deflate/shuffle compression; szip and exotic
filters remain gated with a clear error).

Format reference: Unidata's "NetCDF Classic Format Specification"
(public; the canonical grammar this module follows). Supported: CDF-1
and CDF-2 (64-bit offsets), all six classic types, fixed and record
variables, global + per-variable attributes, the single-small-record-
variable no-padding special case, and STREAMING (0xFFFFFFFF) record
counts. Not supported (raise): CDF-5; NetCDF-4/HDF5 is handled by
sources/hdf5.py via read_netcdf_auto.

Scale path: `sources.loaders.load_sits_netcdf` uses this for one file;
`load_netcdf_dir` parses a DIRECTORY of classic files distributedly —
Spark's binaryFile source ships each file's bytes to an executor and a
map_kernel batch parses it there, so ingest parallelism is file-count
bound exactly like the production parquet path.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
_DTYPES = {
    NC_BYTE: ">i1",
    NC_CHAR: "S1",
    NC_SHORT: ">i2",
    NC_INT: ">i4",
    NC_FLOAT: ">f4",
    NC_DOUBLE: ">f8",
}
_SIZES = {t: np.dtype(d).itemsize for t, d in _DTYPES.items()}
_TAG_DIM, _TAG_VAR, _TAG_ATT = 0x0A, 0x0B, 0x0C
_STREAMING = 0xFFFFFFFF


def _pad4(n: int) -> int:
    return (n + 3) & ~3


@dataclass
class NcVar:
    name: str
    dims: tuple[str, ...]
    data: np.ndarray
    attrs: dict = field(default_factory=dict)


class _Cursor:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.off = 0

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.off)
        self.off += 4
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.off)
        self.off += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.off)
        self.off += 8
        return v

    def name(self) -> str:
        n = self.i32()
        s = self.buf[self.off : self.off + n].decode("utf-8")
        self.off += _pad4(n)
        return s

    def attrs(self) -> dict:
        tag = self.i32()
        count = self.i32()
        if tag == 0:
            return {}
        assert tag == _TAG_ATT, f"bad attribute tag {tag}"
        out = {}
        for _ in range(count):
            nm = self.name()
            ntype = self.i32()
            nelems = self.i32()
            nbytes = nelems * _SIZES[ntype]
            raw = self.buf[self.off : self.off + nbytes]
            self.off += _pad4(nbytes)
            if ntype == NC_CHAR:
                out[nm] = raw.decode("utf-8")
            else:
                vals = np.frombuffer(raw, dtype=_DTYPES[ntype])
                out[nm] = vals[0].item() if nelems == 1 else vals
        return out


def read_netcdf3(buf: bytes) -> dict:
    """Parse a classic netCDF file held in memory.

    Returns {"dims": {name: size}, "record_dim": name|None,
    "numrecs": int, "gattrs": dict, "vars": {name: NcVar}} — record
    variables come back with the record dimension materialized as the
    leading axis (shape[0] == numrecs), exactly as netCDF libraries
    present them."""
    if buf[:4] == b"\x89HDF":
        raise NotImplementedError(
            "NetCDF-4 file (HDF5 container) — this is the classic-format "
            "parser; use sources.hdf5.read_netcdf4 / read_netcdf_auto "
            "(incl. chunked deflate/shuffle NetCDF-4) or convert with "
            "`nccopy -k classic` offline"
        )
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError(
            f"not a classic netCDF file (magic {buf[:4]!r}; CDF-5 and "
            "other variants unsupported)"
        )
    version = buf[3]
    c = _Cursor(buf)
    c.off = 4
    numrecs = c.u32()

    tag, count = c.i32(), c.i32()
    dim_names: list[str] = []
    dim_sizes: list[int] = []
    record_dim: str | None = None
    if tag == _TAG_DIM:
        for _ in range(count):
            nm = c.name()
            size = c.i32()
            dim_names.append(nm)
            dim_sizes.append(size)
            if size == 0:
                record_dim = nm
    else:
        assert tag == 0, f"bad dim_list tag {tag}"

    gattrs = c.attrs()

    tag, count = c.i32(), c.i32()
    headers = []  # (name, dimids, vattrs, ntype, vsize, begin)
    if tag == _TAG_VAR:
        for _ in range(count):
            nm = c.name()
            ndims = c.i32()
            dimids = [c.i32() for _ in range(ndims)]
            vattrs = c.attrs()
            ntype = c.i32()
            vsize = c.i32()
            begin = c.i64() if version == 2 else c.u32()
            headers.append((nm, dimids, vattrs, ntype, vsize, begin))
    else:
        assert tag == 0, f"bad var_list tag {tag}"

    rec_vars = [
        h for h in headers if any(dim_sizes[d] == 0 for d in h[1])
    ]
    # per-record byte stride: padded vsizes summed — UNLESS there is
    # exactly one record variable of a sub-4-byte type (spec: no padding
    # between its records)
    if len(rec_vars) == 1 and _SIZES[rec_vars[0][3]] < 4:
        nm, dimids, _, ntype, _, _ = rec_vars[0]
        per_rec = _SIZES[ntype] * int(
            np.prod([dim_sizes[d] for d in dimids if dim_sizes[d] != 0])
        )
        recsize = per_rec
    else:
        recsize = sum(h[4] for h in rec_vars)
    if numrecs == _STREAMING:
        numrecs = (
            (len(buf) - min(h[5] for h in rec_vars)) // recsize
            if rec_vars and recsize
            else 0
        )

    out_vars: dict[str, NcVar] = {}
    for nm, dimids, vattrs, ntype, vsize, begin in headers:
        dims = tuple(dim_names[d] for d in dimids)
        shape = [dim_sizes[d] for d in dimids]
        dtype = np.dtype(_DTYPES[ntype])
        if 0 in shape:  # record variable
            per_shape = [s for s in shape if s != 0]
            n_per = int(np.prod(per_shape)) if per_shape else 1
            recs = []
            for r in range(numrecs):
                recs.append(
                    np.frombuffer(
                        buf, dtype=dtype, count=n_per,
                        offset=begin + r * recsize,
                    )
                )
            data = (
                np.stack(recs).reshape([numrecs] + per_shape)
                if recs
                else np.empty([0] + per_shape, dtype=dtype)
            )
        else:
            n = int(np.prod(shape)) if shape else 1
            data = np.frombuffer(buf, dtype=dtype, count=n, offset=begin)
            data = data.reshape(shape) if shape else data[0]
        out_vars[nm] = NcVar(nm, dims, data, vattrs)

    return {
        "dims": dict(zip(dim_names, dim_sizes)),
        "record_dim": record_dim,
        "numrecs": numrecs,
        "gattrs": gattrs,
        "vars": out_vars,
    }


def _np_to_nctype(arr: np.ndarray) -> int:
    kind = np.dtype(arr.dtype).kind, np.dtype(arr.dtype).itemsize
    table = {
        ("i", 1): NC_BYTE, ("S", 1): NC_CHAR, ("i", 2): NC_SHORT,
        ("i", 4): NC_INT, ("f", 4): NC_FLOAT, ("f", 8): NC_DOUBLE,
    }
    if kind not in table:
        raise ValueError(f"no classic netCDF type for dtype {arr.dtype}")
    return table[kind]


def _enc_name(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">i", len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))


def _enc_attrs(attrs: dict) -> bytes:
    if not attrs:
        return struct.pack(">ii", 0, 0)
    out = [struct.pack(">ii", _TAG_ATT, len(attrs))]
    for nm, val in attrs.items():
        out.append(_enc_name(nm))
        if isinstance(val, str):
            raw = val.encode("utf-8")
            out.append(struct.pack(">ii", NC_CHAR, len(raw)))
            out.append(raw + b"\x00" * (_pad4(len(raw)) - len(raw)))
        else:
            arr = np.atleast_1d(np.asarray(val))
            # python ints/floats land as i8/f8 — coerce ints to the widest
            # classic integer type; floats already map to NC_DOUBLE
            if arr.dtype.kind == "i" and arr.dtype.itemsize == 8:
                arr = arr.astype(">i4")
            ntype = _np_to_nctype(arr)
            arr = arr.astype(_DTYPES[ntype])
            raw = arr.tobytes()
            out.append(struct.pack(">ii", ntype, len(arr)))
            out.append(raw + b"\x00" * (_pad4(len(raw)) - len(raw)))
    return b"".join(out)


def write_netcdf3(
    dims: dict[str, int | None],
    variables: list[NcVar],
    gattrs: dict | None = None,
    version: int = 1,
) -> bytes:
    """Serialize to classic netCDF bytes. `dims` maps name -> size with
    None marking the record dimension; each variable's `dims` tuple
    references those names (record dim first, if used). Data for record
    variables carries the record dim as the leading axis."""
    dim_names = list(dims)
    dim_ids = {n: i for i, n in enumerate(dim_names)}
    record_dim = next((n for n, s in dims.items() if s is None), None)
    numrecs = 0
    for v in variables:
        if record_dim in v.dims:
            numrecs = max(numrecs, v.data.shape[0])

    fixed, recs = [], []
    for v in variables:
        (recs if record_dim in v.dims else fixed).append(v)
        if record_dim in v.dims and v.dims[0] != record_dim:
            raise ValueError(
                f"{v.name}: the record dimension must be the leading axis"
            )

    # header layout first with placeholder begins, then patch: begins
    # depend on header length, which depends only on structure (the
    # begin field width is fixed per version)
    def header(begins: dict[str, int]) -> bytes:
        out = [b"CDF", bytes([version]), struct.pack(">I", numrecs)]
        if dims:
            out.append(struct.pack(">ii", _TAG_DIM, len(dims)))
            for n in dim_names:
                out.append(_enc_name(n))
                out.append(struct.pack(">i", dims[n] or 0))
        else:
            out.append(struct.pack(">ii", 0, 0))
        out.append(_enc_attrs(gattrs or {}))
        if variables:
            out.append(struct.pack(">ii", _TAG_VAR, len(variables)))
            for v in variables:
                ntype = _np_to_nctype(np.asarray(v.data))
                per_shape = [
                    dims[d] for d in v.dims if d != record_dim
                ]
                # product over non-record dims (1 for scalars), padded —
                # the spec's vsize definition for fixed AND record vars
                vsize = _pad4(_SIZES[ntype] * int(np.prod(per_shape)))
                out.append(_enc_name(v.name))
                out.append(struct.pack(">i", len(v.dims)))
                for d in v.dims:
                    out.append(struct.pack(">i", dim_ids[d]))
                out.append(_enc_attrs(v.attrs))
                out.append(struct.pack(">ii", ntype, vsize))
                out.append(
                    struct.pack(">q" if version == 2 else ">I",
                                begins.get(v.name, 0))
                )
        else:
            out.append(struct.pack(">ii", 0, 0))
        return b"".join(out)

    hlen = len(header({}))
    begins: dict[str, int] = {}
    off = hlen
    for v in fixed:
        begins[v.name] = off
        off += _pad4(np.asarray(v.data).astype(
            _DTYPES[_np_to_nctype(np.asarray(v.data))]
        ).nbytes)
    rec_start = off
    # per-record slot per record var (padded; single small-var exception)
    slots = []
    for v in recs:
        arr = np.asarray(v.data)
        per = arr[0:1].astype(_DTYPES[_np_to_nctype(arr)]).nbytes
        slots.append(per)
    if len(recs) == 1 and slots and slots[0] % 4 != 0:
        padded = slots  # spec exception: no inter-record padding
    else:
        padded = [_pad4(s) for s in slots]
    cur = rec_start
    for v, _slot in zip(recs, padded):
        begins[v.name] = cur
        cur += _slot
    recsize = sum(padded)

    body = bytearray(rec_start - hlen)
    for v in fixed:
        arr = np.asarray(v.data).astype(
            _DTYPES[_np_to_nctype(np.asarray(v.data))]
        )
        start = begins[v.name] - hlen
        body[start : start + arr.nbytes] = arr.tobytes()
    rec_body = bytearray(recsize * numrecs)
    for v, slot in zip(recs, padded):
        arr = np.asarray(v.data).astype(
            _DTYPES[_np_to_nctype(np.asarray(v.data))]
        )
        per = arr[0:1].nbytes if len(arr) else 0
        for r in range(arr.shape[0]):
            start = (begins[v.name] - rec_start) + r * recsize
            rec_body[start : start + per] = arr[r : r + 1].tobytes()

    return header(begins) + bytes(body) + bytes(rec_body)


def decode_cf_time(vals: np.ndarray, units: str):
    """Minimal CF time decoding ('<unit> since <timestamp>') for the
    coordinate handling xarray would apply; returns numpy datetime64[us]."""
    import pandas as pd

    unit, _, origin = units.partition(" since ")
    step = {
        "seconds": 1_000_000, "minutes": 60_000_000,
        "hours": 3_600_000_000, "days": 86_400_000_000,
    }[unit.strip()]
    base = pd.Timestamp(origin.strip()).value // 1000  # µs
    # CF values are frequently FLOAT (e.g. days 0.5) — scale to µs before
    # the integer cast so fractional steps round instead of truncating
    offs = np.round(np.asarray(vals, dtype=np.float64) * step).astype(
        np.int64
    )
    return (base + offs).astype("datetime64[us]")


def read_netcdf_auto(buf: bytes) -> dict:
    """Magic-dispatched netCDF parse: classic CDF-1/2 via read_netcdf3,
    NetCDF-4 (HDF5 container, incl. chunked deflate/shuffle) via
    sources/hdf5.read_netcdf4. Both return the same dict contract, so
    loaders built on it ingest either format transparently."""
    if buf[:4] == b"\x89HDF":
        from .hdf5 import read_netcdf4

        return read_netcdf4(buf)
    return read_netcdf3(buf)
