"""Multimodal column plumbing (engine extension, round brief).

Images/audio/video are opaque BinaryType columns with typed metadata.

REAL decode path — `decode_media_headers`: container-detection + header
parsing for two dependency-free formats, implemented from their public
byte layouts:
  * PNG — 8-byte signature then the IHDR chunk; width/height are the
    big-endian uint32s at bytes 16-19 / 20-23 (PNG spec §5.2, §11.2.2);
  * WAV — RIFF/WAVE container with a 'fmt ' chunk; channels (uint16 LE at
    22), sample rate (uint32 LE at 24), bits (uint16 LE at 34) and the
    'data' chunk size at 40 (canonical 44-byte header).
Runs as a pure-Python map_kernel over byte batches (header peeks —
no per-pixel work), so it needs no media libraries and is exactly
SQL-mirrorable (the driver oracle derives every parsed field independently
and compares).

REAL pixel path — `decode_bmp` / `decode_media_pixels`: full per-pixel
decoding of 8-bit uncompressed BMP (pixel-array offset, int32 dimensions,
bottom-up 4-byte-aligned rows — all pure byte parsing, no media libs), and
`extract_media_features` takes this real path automatically for BMP
payloads. Compressed containers (PNG deflate / JPEG) still need external
decoders absent from this container: for those `_decode_one` raises a
descriptive NotImplementedError unless `fake=True` (deterministic test
decoder, pipeline-shape only). Production swap-in replaces `_decode_one`
only — batch shape (bytes in, struct rows out) is unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import map_kernel

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

HEADER_SCHEMA = (
    "media_id string, media_type string, n_bytes long, sha256 string, "
    "width int, height int, n_channels int, sample_rate int, n_samples long"
)


def parse_media_header(b: bytes) -> tuple:
    """(media_type, width, height, n_channels, sample_rate, n_samples) from
    raw container bytes; unknown containers -> ('unknown', None, ...)."""
    if len(b) >= 24 and b[:8] == PNG_MAGIC and b[12:16] == b"IHDR":
        width = int.from_bytes(b[16:20], "big")
        height = int.from_bytes(b[20:24], "big")
        return ("image", width, height, None, None, None)
    if (
        len(b) >= 44
        and b[:4] == b"RIFF"
        and b[8:12] == b"WAVE"
        and b[12:16] == b"fmt "
    ):
        channels = int.from_bytes(b[22:24], "little")
        sample_rate = int.from_bytes(b[24:28], "little")
        bits = int.from_bytes(b[34:36], "little")
        n_samples = None
        if b[36:40] == b"data":
            block = max(channels * (bits // 8), 1)
            n_samples = int.from_bytes(b[40:44], "little") // block
        return ("audio", None, None, channels, sample_rate, n_samples)
    return ("unknown", None, None, None, None, None)


def decode_media_headers(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """Typed metadata from real container bytes (PNG IHDR / WAV RIFF) — a
    map_kernel header peek, one output row per media item."""

    def _run(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        rows = []
        for mid, payload in zip(pdf[id_col], pdf[payload_col]):
            data = bytes(payload)
            kind, w, h, ch, sr, ns = parse_media_header(data)
            sha = hashlib.sha256(data).hexdigest()
            rows.append((str(mid), kind, len(data), sha, w, h, ch, sr, ns))
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "media_type", "n_bytes", "sha256",
                "width", "height", "n_channels", "sample_rate",
                "n_samples",
            ],
        )

    return map_kernel(df.select(id_col, payload_col), _run, HEADER_SCHEMA)

MEDIA_SCHEMA = (
    "media_id string, media_type string, n_bytes long, sha256 string, "
    "width int, height int, n_frames int, mean_intensity double"
)

BMP_MAGIC = b"BM"


def bmp8_header(width: int, height: int) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER + 256-entry grayscale palette
    for an 8-bit uncompressed (BI_RGB) BMP — the canonical 1078-byte
    preamble before the bottom-up, 4-byte-row-aligned pixel array. Used to
    synthesize real container payloads in tests and driver queries."""
    stride = ((width * 8 + 31) // 32) * 4
    img_size = stride * height
    file_size = 14 + 40 + 1024 + img_size
    fh = (
        b"BM"
        + file_size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (1078).to_bytes(4, "little")
    )
    ih = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (8).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + img_size.to_bytes(4, "little")
        + (0).to_bytes(8, "little")  # ppm resolution
        + (256).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
    )
    palette = bytes(b for i in range(256) for b in (i, i, i, 0))
    return fh + ih + palette


def decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    """REAL pixel decode for 8-bit uncompressed BMP — pure byte-offset
    parsing of the public format (file header offsets 10-13 = pixel array
    offset; info header: width/height int32 LE at 18/22, bit depth uint16
    at 28, compression uint32 at 30; rows bottom-up unless height < 0,
    each row padded to 4 bytes). No media libraries involved. Returns
    (width, height, uint8 array (height, width) in top-down row order)."""
    if len(data) < 54 or data[:2] != BMP_MAGIC:
        raise ValueError("not a BMP payload")
    pixoff = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bits = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bits != 8 or comp != 0:
        raise NotImplementedError(
            f"only 8-bit uncompressed BMP is decoded here (got bits={bits}, "
            f"compression={comp}); compressed formats need media libs "
            "absent from this container"
        )
    hh = abs(h)
    stride = ((w * 8 + 31) // 32) * 4
    if len(data) < pixoff + stride * hh:
        raise ValueError("truncated BMP pixel array")
    arr = np.frombuffer(
        data, dtype=np.uint8, count=stride * hh, offset=pixoff
    ).reshape(hh, stride)[:, :w]
    if h > 0:  # bottom-up storage -> flip to top-down
        arr = arr[::-1]
    return w, hh, arr


PIXEL_DECODE_SCHEMA = "media_id string, y int, x int, px int"


def decode_media_pixels(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL per-pixel decode of BMP payloads to exploded (media_id, y, x,
    px) rows — a map_kernel over byte batches, numpy reshape/flip per
    item (no per-pixel Python). This retires the former declared stub: the
    container in/pixels out path is fully real for the dependency-free
    uncompressed format; compressed containers still require external
    decoders (decode_bmp raises a descriptive error for them)."""

    def _run(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        ids, ys, xs, pxs = [], [], [], []
        for mid, payload in zip(pdf[id_col], pdf[payload_col]):
            w, h, arr = decode_bmp(bytes(payload))
            ids.append(np.repeat(np.asarray([str(mid)], dtype=object), w * h))
            ys.append(np.repeat(np.arange(h, dtype=np.int64), w))
            xs.append(np.tile(np.arange(w, dtype=np.int64), h))
            pxs.append(arr.ravel().astype(np.int64))
        yield pd.DataFrame(
            {
                "media_id": np.concatenate(ids),
                "y": np.concatenate(ys),
                "x": np.concatenate(xs),
                "px": np.concatenate(pxs),
            }
        )

    return map_kernel(
        df.select(id_col, payload_col), _run, PIXEL_DECODE_SCHEMA
    )


def attach_binary_payload(df: DataFrame, payload_col: str, media_type: str) -> DataFrame:
    """Mark a binary column as a typed media payload (adds media metadata
    columns computed JVM-side: size + sha256)."""
    return df.withColumn("media_type", F.lit(media_type)).withColumn(
        "n_bytes", F.length(F.col(payload_col))
    ).withColumn("sha256", F.sha2(F.col(payload_col), 256))


def _decode_one(payload: bytes, media_type: str, fake: bool) -> tuple:
    if payload[:2] == BMP_MAGIC and not fake:
        # REAL path: dependency-free uncompressed BMP (see decode_bmp)
        w, h, arr = decode_bmp(payload)
        return w, h, 1, float(arr.mean()) if arr.size else 0.0
    if not fake:
        raise NotImplementedError(
            "non-BMP media decoding requires image/audio libs not present "
            "in this container; pass fake=True for the deterministic test "
            "decoder (8-bit BMP payloads decode for real)"
        )
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    n_frames = 1 if media_type == "image" else 1 + digest[2] % 120
    arr = np.frombuffer(payload[:4096], dtype=np.uint8)
    mean_intensity = float(arr.mean()) if len(arr) else 0.0
    return width, height, n_frames, mean_intensity


def extract_media_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    media_type: str = "image",
    fake: bool = False,
) -> DataFrame:
    """Decode/feature-extract media payloads via map_kernel (batches
    of raw bytes; one output row per media item)."""

    def _run(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        rows = []
        for mid, payload in zip(pdf[id_col], pdf[payload_col]):
            data = bytes(payload)
            w, h, nf, mi = _decode_one(data, media_type, fake)
            sha = hashlib.sha256(data).hexdigest()
            rows.append((str(mid), media_type, len(data), sha, w, h, nf, mi))
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "media_type", "n_bytes", "sha256",
                "width", "height", "n_frames", "mean_intensity",
            ],
        )

    return map_kernel(df.select(id_col, payload_col), _run, MEDIA_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_n: int = 10, id_col: str = "media_id"
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits (media_id,
    frame_no) rows for every_n-th frame of the decoded frame count —
    sampling plan only; actual frame extraction is behind the same stub."""
    return df.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_no"),
    )


RESIZE_SCHEMA = (
    "media_id string, out_w int, out_h int, resized binary"
)
PIXEL_SCHEMA = "media_id string, y int, x int, px int"


def _nn_index(out_n: int, src_n: int) -> np.ndarray:
    """Nearest-neighbor source index for each output coordinate:
    src = floor(out * src_n / out_n) (the standard scale-floor mapping)."""
    return (np.arange(out_n, dtype=np.int64) * src_n) // out_n


def resize_raw_media(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
    width_col: str = "width",
    height_col: str = "height",
    output: str = "binary",
) -> DataFrame:
    """REAL nearest-neighbor resize over raw single-channel bitmap buffers
    (row-major uint8, one byte per pixel) — no media libraries required,
    so unlike the compressed-pixel path this is NOT a stub: the gather is
    plain vectorized numpy (`arr[np.ix_(rows, cols)]`) inside a map_kernel
    over byte batches. Compressed containers (PNG/JPEG) must be
    decoded to raw first (that step is the container-blocked stub in
    extract_media_features); raw tiles are also exactly what a training
    pipeline stores after ingest-time decode.

    output='binary' emits the resized row-major buffer (production shape);
    output='pixels' explodes to one (y, x, px) row per output pixel —
    SQL-mirrorable byte indexing, used by the driver oracle."""
    if output not in ("binary", "pixels"):
        raise ValueError(f"unknown output mode {output!r}")

    ys = np.repeat(np.arange(out_h, dtype=np.int64), out_w)
    xs = np.tile(np.arange(out_w, dtype=np.int64), out_h)

    def _run(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        ids, res = [], []
        for mid, payload, w, h in zip(
            pdf[id_col], pdf[payload_col], pdf[width_col], pdf[height_col]
        ):
            w, h = int(w), int(h)
            buf = np.frombuffer(bytes(payload), dtype=np.uint8)
            if len(buf) < w * h:
                raise ValueError(
                    f"payload of {mid!r} holds {len(buf)} bytes < "
                    f"{w}x{h} bitmap"
                )
            arr = buf[: w * h].reshape(h, w)
            ids.append(str(mid))
            res.append(arr[np.ix_(_nn_index(out_h, h), _nn_index(out_w, w))])
        if output == "binary":
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "out_w": out_w,
                    "out_h": out_h,
                    "resized": [r.tobytes() for r in res],
                }
            )
        else:
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(
                        np.asarray(ids, dtype=object), out_w * out_h
                    ),
                    "y": np.tile(ys, len(ids)),
                    "x": np.tile(xs, len(ids)),
                    "px": np.concatenate([r.ravel() for r in res]).astype(
                        np.int64
                    ),
                }
            )

    cols = [id_col, payload_col, width_col, height_col]
    schema = RESIZE_SCHEMA if output == "binary" else PIXEL_SCHEMA
    return map_kernel(df.select(*cols), _run, schema)
