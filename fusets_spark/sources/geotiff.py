"""Dependency-free baseline (Geo)TIFF reader/writer.

The reference's `load_sits_geotiff` (sits_bridge.py:148-199) stacks
per-date GeoTIFF rasters into a `(t, y, x)` cube via rioxarray; this
container has no raster libraries. BASELINE TIFF — uncompressed,
strip-organized, chunky planar layout — is a small public format
(header + IFD tag directory + raw strips) that numpy parses directly,
the same approach as the BMP pixel decoder (`operators/multimodal.py`)
and the classic-netCDF parser (`sources/netcdf3.py`). Real byte-level
decoding with an explicit gate for exotic variants.

Supported: II and MM byte orders, multi-IFD (multi-page) files, u8/u16/
u32/i8/i16/i32/f32/f64 samples, multi-sample chunky pixels, multi-strip
data, the TILED layout (tags 322-325, full-size zero-padded edge tiles,
row-major tile order), DEFLATE-compressed strips AND tiles
(Compression 8 "Adobe deflate" and the legacy 32946 code; zlib is
stdlib), TIFF-variant LZW (Compression 5 — spec §13 early-change
codec in pure Python, pinned to the spec's own worked example),
PackBits RLE (Compression 32773 — spec §9, row-scoped packing on
write, stream decode on read), horizontal differencing (Predictor 2)
on integer samples — scoped per decode unit, i.e. per tile in tiled
files — and the GeoTIFF georeferencing tags (ModelPixelScale 33550,
ModelTiepoint 33922, GDAL nodata 42113) → an affine geotransform.
Gated (clear NotImplementedError): other compressions (JPEG/ZSTD…),
the floating-point Predictor 3, and planar configuration 2.

Scale path: `sources.loaders.load_sits_geotiff` explodes raster pixels
to long rows ON EXECUTORS (binaryFile + kernels.map_kernel), one granule per
task — the reference's "raster pixel -> row explosion" recast.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f",
             12: "d"}

T_WIDTH, T_HEIGHT, T_BITS, T_COMPRESSION = 256, 257, 258, 259
T_STRIP_OFFSETS, T_SPP, T_ROWS_PER_STRIP, T_STRIP_COUNTS = 273, 277, 278, 279
T_PLANAR, T_SAMPLE_FORMAT = 284, 339
T_PREDICTOR = 317
T_PIXEL_SCALE, T_TIEPOINT, T_NODATA = 33550, 33922, 42113

_DEFLATE_CODES = (8, 32946)  # Adobe deflate + the legacy COMPRESSION_DEFLATE
_LZW_CODE = 5
_PACKBITS_CODE = 32773

_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first variable-width codes
    starting at 9 bits, Clear=256 / EOI=257, and the TIFF "early change"
    (the code width grows when the table reaches 2^w − 1, one code
    earlier than vanilla LZW). Pure Python — roughly MB/s-scale, so fine
    for granule ingest (one raster per executor task) but not a bulk
    codec; `gdal_translate -co COMPRESS=DEFLATE` remains the fast path."""
    out = bytearray()
    nbits = len(data) * 8
    bitpos = 0
    width = 9
    # 256 literals + two placeholders holding the Clear/EOI slots
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: int | None = None
    while True:
        if bitpos + width > nbits:
            break  # truncated stream: treat like EOI (libtiff tolerates)
        b0 = bitpos >> 3
        chunk = int.from_bytes(data[b0 : b0 + 4].ljust(4, b"\x00"), "big")
        code = (chunk >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            table = table[:258]
            width = 9
            prev = None
            continue
        if prev is None:
            if code >= 256:
                raise ValueError("LZW stream starts with a table code")
            out += table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # the KwKwK case
                entry = table[prev] + table[prev][:1]
            else:
                raise ValueError(f"LZW code {code} beyond table")
            out += entry
            table.append(table[prev] + entry[:1])
        prev = code
        # TIFF early change (spec §13 decoder pseudocode): switch at
        # NextCode 510/1022/2046 = 2^w − 2 — one entry BEFORE the
        # encoder's 511/1023/2047, because the decoder's table lags the
        # encoder's by exactly one entry (it cannot build the entry for
        # the latest code until the next one arrives).
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (fixture generator): emits Clear first,
    resets the table before it would overflow the 12-bit code space, and
    mirrors the decoder's early-change width schedule."""
    bits: list[tuple[int, int]] = []  # (code, width)
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    bits.append((_LZW_CLEAR, width))
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        bits.append((table[w], width))
        if next_code >= 4093:
            bits.append((_LZW_CLEAR, width))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        else:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        w = bytes([ch])
    if w:
        bits.append((table[w], width))
    bits.append((_LZW_EOI, width))
    acc = 0
    nacc = 0
    out = bytearray()
    for code, cw in bits:
        acc = (acc << cw) | code
        nacc += cw
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (TIFF spec §9): control byte c — 0..127 copies the
    next c+1 bytes literally, 129..255 repeats the next byte 257-c
    times, 128 is a no-op. Decoded as one stream per strip/tile: the
    spec packs rows separately, but concatenated row streams decode
    identically, so this also accepts writers whose runs cross rows."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:
            out += data[i : i + 1] * (257 - c)
            i += 1
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """PackBits encoder (fixture generator): replicate runs of ≥3,
    literal stretches otherwise, both capped at 128 per the spec. The
    caller packs each ROW separately (spec §9 requirement)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n - 1 and data[j] == data[j + 1] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i = j + 1
            continue
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        out.append(k - i - 1)
        out += data[i:k]
        i = k
    return bytes(out)


@dataclass
class TiffPage:
    width: int
    height: int
    data: np.ndarray  # (height, width) or (height, width, samples)
    pixel_scale: tuple | None = None  # (sx, sy, sz)
    tiepoint: tuple | None = None  # (i, j, k, x, y, z)
    nodata: float | None = None
    tags: dict = field(default_factory=dict)

    def geotransform(self) -> tuple | None:
        """(origin_x, px_w, 0, origin_y, 0, -px_h) for the raster-space
        (0,0) anchor — GDAL's convention; None when ungeoreferenced."""
        if self.pixel_scale is None or self.tiepoint is None:
            return None
        i, j, _k, x, y, _z = self.tiepoint
        sx, sy, _sz = self.pixel_scale
        return (x - i * sx, sx, 0.0, y + j * sy, 0.0, -sy)


def _read_tag_values(buf, bo, ttype, count, value_field):
    size = _TYPE_SIZES.get(ttype, 1) * count
    raw = value_field[:size] if size <= 4 else None
    if raw is None:
        (off,) = struct.unpack(bo + "I", value_field)
        raw = buf[off : off + size]
    if ttype == 2:  # ASCII, NUL-terminated
        return raw.split(b"\x00")[0].decode("ascii", "replace")
    if ttype not in _TYPE_FMT and ttype not in (5, 10):
        # UNDEFINED(7) and any exotic type: keep the raw bytes — real
        # files carry e.g. ICC profiles (34675, type 7) that must not
        # crash the tag walk
        return raw
    if ttype in (5, 10):  # RATIONAL: pairs of (u32|i32)
        f = "I" if ttype == 5 else "i"
        vals = struct.unpack(bo + f * (2 * count), raw)
        return tuple(vals[2 * i] / (vals[2 * i + 1] or 1)
                     for i in range(count))
    vals = struct.unpack(bo + _TYPE_FMT[ttype] * count, raw)
    return vals if count > 1 else vals[0]


def read_tiff(buf: bytes) -> list[TiffPage]:
    """Parse every IFD (page) of a baseline TIFF held in memory."""
    if buf[:2] == b"II":
        bo = "<"
    elif buf[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError(f"not a TIFF (byte-order mark {buf[:2]!r})")
    (magic,) = struct.unpack_from(bo + "H", buf, 2)
    if magic != 42:
        raise NotImplementedError(
            f"TIFF magic {magic} (BigTIFF and variants unsupported)"
        )
    (ifd_off,) = struct.unpack_from(bo + "I", buf, 4)
    pages: list[TiffPage] = []
    seen_offsets: set[int] = set()
    while ifd_off:
        if ifd_off in seen_offsets:
            raise ValueError("circular IFD chain (corrupt TIFF)")
        seen_offsets.add(ifd_off)
        (n_tags,) = struct.unpack_from(bo + "H", buf, ifd_off)
        tags: dict = {}
        for i in range(n_tags):
            ent = ifd_off + 2 + 12 * i
            tag, ttype = struct.unpack_from(bo + "HH", buf, ent)
            (count,) = struct.unpack_from(bo + "I", buf, ent + 4)
            tags[tag] = _read_tag_values(
                buf, bo, ttype, count, buf[ent + 8 : ent + 12]
            )
        (ifd_off,) = struct.unpack_from(bo + "I", buf, ifd_off + 2 + 12 * n_tags)

        compression = int(tags.get(T_COMPRESSION, 1))
        if compression not in (1, _LZW_CODE, _PACKBITS_CODE) and (
            compression not in _DEFLATE_CODES
        ):
            raise NotImplementedError(
                f"TIFF compression {compression} — only baseline "
                "uncompressed, DEFLATE (8/32946), LZW (5) and PackBits "
                "(32773) rasters decode without raster libraries "
                "(convert with `gdal_translate -co COMPRESS=DEFLATE` "
                "offline)"
            )
        if tags.get(T_PLANAR, 1) != 1:
            raise NotImplementedError("planar configuration 2 unsupported")

        w, h = int(tags[T_WIDTH]), int(tags[T_HEIGHT])
        spp = int(tags.get(T_SPP, 1))
        bits = tags.get(T_BITS, 8)
        bits = bits[0] if isinstance(bits, tuple) else bits
        fmt = tags.get(T_SAMPLE_FORMAT, 1)
        fmt = fmt[0] if isinstance(fmt, tuple) else fmt
        kind = {1: "u", 2: "i", 3: "f"}.get(int(fmt))
        if kind is None or (kind == "f" and bits not in (32, 64)) or (
            kind != "f" and bits not in (8, 16, 32)
        ):
            raise NotImplementedError(
                f"sample format {fmt} / {bits} bits unsupported"
            )
        dtype = np.dtype(f"{bo}{kind}{bits // 8}")

        predictor = int(tags.get(T_PREDICTOR, 1))
        if predictor == 3 or (predictor == 2 and kind == "f"):
            raise NotImplementedError(
                "TIFF Predictor 3 (floating point) unsupported"
            )
        if predictor not in (1, 2):
            raise NotImplementedError(f"TIFF predictor {predictor}")

        def _unpredict(arr: "np.ndarray") -> "np.ndarray":
            # horizontal differencing: stored[x] = cur[x] - cur[x-1]
            # (mod 2^bits) per row and sample channel; reconstruction is
            # a wrapping cumulative sum over the width axis on the
            # UNSIGNED view of the decoded samples (the spec defines the
            # difference on the sample's bit pattern). Differencing is
            # scoped to the decode unit — rows never cross strips, and
            # TILES difference their own rows independently, which is
            # why this applies per tile before assembly.
            if predictor != 2:
                return arr
            u = np.dtype(f"u{bits // 8}")
            acc = np.add.accumulate(
                arr.astype(arr.dtype.newbyteorder("=")).view(u),
                axis=1,
                dtype=u,
            )
            return acc.view(f"{kind}{bits // 8}")

        def _chunk(off: int, cnt: int) -> bytes:
            if compression in _DEFLATE_CODES:
                import zlib

                # strips/tiles are independently deflated zlib streams
                return zlib.decompress(buf[off : off + cnt])
            if compression == _LZW_CODE:
                # independently LZW-coded strips/tiles (spec §13)
                return lzw_decode(buf[off : off + cnt])
            if compression == _PACKBITS_CODE:
                return packbits_decode(buf[off : off + cnt])
            return buf[off : off + cnt]

        def _tup(v) -> tuple:
            return v if isinstance(v, tuple) else (v,)

        if 322 in tags or 323 in tags:  # tiled layout
            if 324 not in tags or 325 not in tags:
                raise ValueError("tiled TIFF missing TileOffsets/ByteCounts")
            tw, tl = int(tags[322]), int(tags[323])
            offs, cnts = _tup(tags[324]), _tup(tags[325])
            across, down = -(-w // tw), -(-h // tl)
            if len(offs) != across * down:
                raise NotImplementedError(
                    f"{len(offs)} tiles for a {across}x{down} grid "
                    "(planar/multi-page tile sets unsupported)"
                )
            canvas = np.zeros((down * tl, across * tw, spp), dtype=dtype)
            need_t = tl * tw * spp * dtype.itemsize
            for i, (o, c) in enumerate(zip(offs, cnts)):
                got = _chunk(o, c)
                if len(got) < need_t:
                    raise ValueError(
                        f"TIFF tile {i} decodes short: {len(got)} bytes, "
                        f"need {need_t} — corrupt or truncated file"
                    )
                tile = np.frombuffer(
                    got, dtype=dtype, count=tl * tw * spp
                ).reshape(tl, tw, spp)
                tile = _unpredict(tile)
                r, cx = divmod(i, across)
                canvas[r * tl : (r + 1) * tl, cx * tw : (cx + 1) * tw] = tile
            # edge tiles are written FULL-SIZE and cropped on read
            data = canvas[:h, :w]
            data = data[:, :, 0] if spp == 1 else data
        else:
            offs = _tup(tags[T_STRIP_OFFSETS])
            cnts = _tup(tags[T_STRIP_COUNTS])
            raw = b"".join(_chunk(o, c) for o, c in zip(offs, cnts))
            need_s = h * w * spp * dtype.itemsize
            if len(raw) < need_s:
                raise ValueError(
                    f"TIFF strips decode short: {len(raw)} bytes, "
                    f"need {need_s} — corrupt or truncated file"
                )
            data = np.frombuffer(raw, dtype=dtype, count=h * w * spp)
            data = data.reshape((h, w) if spp == 1 else (h, w, spp))
            data = _unpredict(data)

        nodata = tags.get(T_NODATA)
        pages.append(
            TiffPage(
                width=w,
                height=h,
                data=data,
                pixel_scale=tags.get(T_PIXEL_SCALE),
                tiepoint=tags.get(T_TIEPOINT),
                nodata=float(nodata) if nodata is not None else None,
                tags=tags,
            )
        )
    return pages


def write_tiff(
    data: np.ndarray,
    pixel_scale: tuple | None = None,
    tiepoint: tuple | None = None,
    nodata: float | None = None,
    compress: str | None = None,
    predictor: int = 1,
    rows_per_strip: int | None = None,
    tile: tuple | None = None,
) -> bytes:
    """Minimal single-page little-endian TIFF — fixture generator for
    tests and offline conversion checks. compress='deflate' produces
    Compression=8 chunks (independent zlib streams, `rows_per_strip`
    rows each); predictor=2 applies horizontal differencing on integer
    samples before compression (the layout GDAL's
    `-co COMPRESS=DEFLATE -co PREDICTOR=2` emits). tile=(tw, tl)
    switches from strips to the TILED layout (tags 322-325): full-size
    zero-padded edge tiles, row-major tile order, differencing scoped
    per tile — GDAL's `-co TILED=YES` shape."""
    data = np.asarray(data)
    if data.ndim == 2:
        h, w = data.shape
        spp = 1
    else:
        h, w, spp = data.shape
    kind = data.dtype.kind
    fmt = {"u": 1, "i": 2, "f": 3}[kind]
    bits = data.dtype.itemsize * 8
    if compress not in (None, "deflate", "lzw", "packbits"):
        raise NotImplementedError(f"write compression {compress!r}")
    if predictor not in (1, 2):
        raise NotImplementedError(f"write predictor {predictor}")
    native = data.astype(f"<{kind}{data.dtype.itemsize}")
    if predictor == 2 and kind == "f":
        raise NotImplementedError(
            "Predictor 2 is integer-only (3 would be the float one)"
        )

    def _diff(arr: np.ndarray) -> np.ndarray:
        if predictor != 2:
            return arr
        u = np.dtype(f"<u{data.dtype.itemsize}")
        uv = arr.view(u)
        d = uv.copy()
        d[:, 1:] = uv[:, 1:] - uv[:, :-1]
        return d.view(arr.dtype)

    def _pack(arr: np.ndarray) -> bytes:
        if compress == "packbits":
            # spec §9: each row is packed SEPARATELY (no run may span a
            # row boundary); arr is (rows, width[, spp]) for this chunk
            return b"".join(
                packbits_encode(row.tobytes()) for row in arr
            )
        chunk = arr.tobytes()
        if compress == "deflate":
            import zlib

            chunk = zlib.compress(chunk)
        elif compress == "lzw":
            chunk = lzw_encode(chunk)
        return chunk

    if tile is not None:
        # tiled layout: full-size zero-padded tiles, row-major order,
        # predictor differencing scoped per tile (matching the reader)
        tw, tl = int(tile[0]), int(tile[1])
        across, down = -(-w // tw), -(-h // tl)
        pad_shape = (down * tl, across * tw) + (
            (spp,) if data.ndim == 3 else ()
        )
        padded = np.zeros(pad_shape, dtype=native.dtype)
        padded[:h, :w] = native
        strips = [
            _pack(_diff(padded[r * tl : (r + 1) * tl, c * tw : (c + 1) * tw]))
            for r in range(down)
            for c in range(across)
        ]
        rps = None
    else:
        rps = h if rows_per_strip is None else max(1, int(rows_per_strip))
        diffed = _diff(native)
        strips = [_pack(diffed[r0 : r0 + rps]) for r0 in range(0, h, rps)]
    pix = b"".join(strips)

    strip_off = 8
    strip_offs = []
    o = strip_off
    for s in strips:
        strip_offs.append(o)
        o += len(s)
    ext: list[bytes] = []
    ext_off = strip_off + len(pix) + (len(pix) & 1)

    def ext_values(fmt_char: str, vals) -> int:
        nonlocal ext_off
        raw = struct.pack("<" + fmt_char * len(vals), *vals)
        ext.append(raw)
        off = ext_off
        ext_off += len(raw) + (len(raw) & 1)
        return off

    entries: list[tuple[int, int, int, bytes]] = []

    def tag(tagno, ttype, vals, fmt_char):
        size = _TYPE_SIZES[ttype] * len(vals)
        if size <= 4:
            field_ = struct.pack("<" + fmt_char * len(vals), *vals)
            field_ += b"\x00" * (4 - len(field_))
        else:
            field_ = struct.pack("<I", ext_values(fmt_char, vals))
        entries.append((tagno, ttype, len(vals), field_))

    tag(T_WIDTH, 4, [w], "I")
    tag(T_HEIGHT, 4, [h], "I")
    tag(T_BITS, 3, [bits] * spp, "H")
    tag(
        T_COMPRESSION, 3,
        [{None: 1, "deflate": 8, "lzw": _LZW_CODE,
          "packbits": _PACKBITS_CODE}[compress]], "H",
    )
    tag(262, 3, [1], "H")  # BlackIsZero
    if tile is not None:
        tag(322, 3, [tw], "H")  # TileWidth
        tag(323, 3, [tl], "H")  # TileLength
        tag(324, 4, strip_offs, "I")  # TileOffsets
        tag(325, 4, [len(s) for s in strips], "I")  # TileByteCounts
    else:
        tag(T_STRIP_OFFSETS, 4, strip_offs, "I")
        tag(T_ROWS_PER_STRIP, 4, [rps], "I")
        tag(T_STRIP_COUNTS, 4, [len(s) for s in strips], "I")
    tag(T_SPP, 3, [spp], "H")
    tag(T_PLANAR, 3, [1], "H")
    tag(T_SAMPLE_FORMAT, 3, [fmt] * spp, "H")
    if predictor == 2:
        tag(T_PREDICTOR, 3, [2], "H")
    if pixel_scale is not None:
        tag(T_PIXEL_SCALE, 12, list(pixel_scale), "d")
    if tiepoint is not None:
        tag(T_TIEPOINT, 12, list(tiepoint), "d")
    if nodata is not None:
        s = f"{nodata:g}".encode() + b"\x00"
        size = len(s)
        if size <= 4:
            field_ = s + b"\x00" * (4 - size)
            entries.append((T_NODATA, 2, size, field_))
        else:
            entries.append(
                (T_NODATA, 2, size,
                 struct.pack("<I", ext_values("B", list(s))))
            )

    entries.sort(key=lambda e: e[0])  # spec: ascending tag order
    ifd_off = ext_off
    out = [struct.pack("<2sHI", b"II", 42, ifd_off)]
    out.append(pix + b"\x00" * (len(pix) & 1))
    for raw in ext:
        out.append(raw + b"\x00" * (len(raw) & 1))
    out.append(struct.pack("<H", len(entries)))
    for tagno, ttype, count, field_ in entries:
        out.append(struct.pack("<HHI", tagno, ttype, count) + field_)
    out.append(struct.pack("<I", 0))  # no next IFD
    return b"".join(out)
