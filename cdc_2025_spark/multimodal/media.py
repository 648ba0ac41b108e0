"""Media table schema + decode/feature-extract operators.

Design for 100 TB of media: payloads live in the lake as parquet
binary columns (or object-store URIs for >~1 MB blobs); the decode
stage is mapInPandas so each Arrow batch moves JVM->Python exactly
once; partitioning is by content hash so decode work balances
regardless of source skew.
"""

from __future__ import annotations

import hashlib
import logging
import struct as _struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_log = logging.getLogger(__name__)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("codec", StringType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_sha256", StringType()),
    ]
)


def _parallel_payloads(tasks: list) -> list[bytes]:
    """Evaluate ``[(fn, kwargs), ...] -> [payload, ...]`` on a
    driver-local process pool — the fixture-generation analogue of
    guide §2.6 (overlap independent work): the heavyweight encoders
    (FLAC LPC+Rice costs ~1 s of pure Python PER CLIP) otherwise
    serialize a cold session's corpus build on one core. Every
    builder is a pure function of its kwargs, so the bytes are
    identical to sequential evaluation in order. A pool that cannot
    start or breaks (no fork, unpicklable task) falls back to the
    sequential loop with a WARNING; builder errors propagate.
    Generation is a local-fixture concern only — at real scale media
    arrives in the lake and none of this code runs."""
    import concurrent.futures as _cf
    import os as _os
    import pickle as _pickle

    if len(tasks) < 2:
        return [fn(**kw) for fn, kw in tasks]
    try:
        workers = min(len(tasks), _os.cpu_count() or 1)
        with _cf.ProcessPoolExecutor(max_workers=workers) as ex:
            futs = [ex.submit(fn, **kw) for fn, kw in tasks]
            return [f.result() for f in futs]
    except (OSError, _cf.BrokenExecutor, _pickle.PicklingError) as e:
        _log.warning("media payload pool failed (%r); encoding %d "
                     "payloads sequentially", e, len(tasks))
        return [fn(**kw) for fn, kw in tasks]


def _media_frame(
    spark: SparkSession, rows: list, n_slices: int | None
) -> DataFrame:
    """rows -> MEDIA_SCHEMA frame; with ``n_slices``, parallelize into
    that many partitions instead of createDataFrame's
    defaultParallelism local-relation slicing (identical rows)."""
    if n_slices is None:
        return spark.createDataFrame(rows, MEDIA_SCHEMA)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), MEDIA_SCHEMA
    )


def make_synthetic_media(
    spark: SparkSession,
    n: int = 64,
    kind: str = "image",
    n_slices: int | None = None,
) -> DataFrame:
    """Deterministic fake media rows (payload = seeded bytes) for
    exercising the pipeline without real codecs.

    ``n_slices``: partition count for the local relation —
    createDataFrame otherwise slices these few-dozen-row frames into
    defaultParallelism partitions, and a union of several such frames
    schedules hundreds of near-empty tasks for its first
    materialization (the r16 media-cache lesson)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media-{kind}-{i}".encode()).digest() * 8
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                (64 + i % 16, 48 + i % 9, 1000 * (1 + i % 7), "fake"),
            )
        )
    return _media_frame(spark, rows, n_slices)


def make_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Build a REAL uncompressed 24-bit BMP (BITMAPINFOHEADER,
    bottom-up, 4-byte row padding) with a deterministic
    seeded-gradient pixel pattern — a genuine image payload with no
    codec dependency, for exercising the non-stub decode path."""
    row_bytes = (width * 3 + 3) & ~3
    img_size = row_bytes * height
    header = _struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + _struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835,
        2835, 0, 0,
    )
    rows = []
    # bottom-up storage (positive height): emit generator row h-1
    # first so pixel (x, y) means y-from-top after decode
    for y in reversed(range(height)):
        row = bytearray()
        for x in range(width):
            row += bytes(
                (
                    (x * 7 + y * 3 + seed) % 256,        # B
                    (x * 5 + y * 11 + seed * 2) % 256,   # G
                    (x * 13 + y * 17 + seed * 3) % 256,  # R
                )
            )
        row += b"\0" * (row_bytes - width * 3)
        rows.append(bytes(row))
    return header + b"".join(rows)


def decode_bmp(payload: bytes):
    """REAL decode kernel for uncompressed BMP: returns an
    (height, width, 3) uint8 RGB array. Handles 24-bit BGR, 32-bit
    BGRA/BGRX (the screenshot format — 4th byte dropped like the
    PNG/AVI alpha convention; BI_BITFIELDS accepted only for the
    standard BGRA masks), and 8-bit palette (BGRX color table at the
    end of the info header, out-of-range indices fail loud); both
    bottom-up (positive height) and top-down (negative height)
    layouts and 4-byte row padding. Other depths (1/2/4/16-bit) and
    RLE compression raise. Dependency-free (struct + numpy only)."""
    import numpy as np  # noqa: PLC0415

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = _struct.unpack_from("<I", payload, 10)
    hdr_size, width, height = _struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = _struct.unpack_from("<HHI", payload, 26)
    if bpp == 32 and compression == 3:
        # BI_BITFIELDS: accept only the standard little-endian BGRA
        # masks (the overwhelmingly common case); anything exotic
        # refuses rather than decoding with scrambled channels
        masks = _struct.unpack_from("<III", payload, 54)
        if masks != (0x00FF0000, 0x0000FF00, 0x000000FF):
            raise NotImplementedError(
                f"BMP: non-standard BI_BITFIELDS masks "
                f"{tuple(hex(m) for m in masks)}"
            )
    elif bpp not in (8, 24, 32) or compression != 0:
        raise NotImplementedError(
            f"unsupported BMP (bpp={bpp}, compression={compression});"
            " supported: uncompressed 8-bit palette, 24-bit,"
            " 32-bit (incl. standard-mask BI_BITFIELDS)"
        )
    top_down = height < 0
    height = abs(height)
    nbytes = bpp // 8
    row_bytes = (width * nbytes + 3) & ~3
    buf = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=data_off
    ).reshape(height, row_bytes)
    px = buf[:, : width * nbytes].reshape(height, width, nbytes)
    if not top_down:
        px = px[::-1]
    if bpp == 8:
        # color table: BGRX quads right after the info header
        (n_colors,) = _struct.unpack_from("<I", payload, 46)
        n_colors = n_colors or 256
        tbl = np.frombuffer(
            payload,
            dtype=np.uint8,
            count=n_colors * 4,
            offset=14 + hdr_size,
        ).reshape(n_colors, 4)
        idx = px[:, :, 0]
        if int(idx.max()) >= n_colors:
            raise ValueError(
                f"BMP palette index {int(idx.max())} out of range "
                f"({n_colors} entries)"
            )
        return tbl[idx][:, :, 2::-1].copy()  # BGRX -> RGB
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB, alpha dropped


def make_bmp_variant(
    width: int,
    height: int,
    seed: int = 0,
    bpp: int = 32,
    bitfields: bool = False,
    top_down: bool = False,
) -> bytes:
    """Twins of the seeded pattern in the other BMP shapes the
    decoder supports: 32-bit BGRA (alpha = (x+y+seed)%256, dropped
    by decode — pixel-identical to the 24-bit twin), optionally as
    BI_BITFIELDS with the standard masks, and 8-bit palette (the
    PNG variant's 16-entry table and (x+y+seed)%16 indices, stored
    as a BGRX color table)."""
    if bpp == 32:
        nbytes, n_colors = 4, 0
    elif bpp == 8:
        nbytes, n_colors = 1, 16
        if bitfields:
            raise ValueError("bitfields only applies to 32-bit")
    else:
        raise ValueError(f"no variant builder for bpp={bpp}")
    row_bytes = (width * nbytes + 3) & ~3
    img_size = row_bytes * height
    extra = 12 if bitfields else 4 * n_colors
    data_off = 54 + extra
    compression = 3 if bitfields else 0
    header = _struct.pack(
        "<2sIHHI", b"BM", data_off + img_size, 0, 0, data_off
    ) + _struct.pack(
        "<IiiHHIIiiII",
        40,
        width,
        -height if top_down else height,
        1,
        bpp,
        compression,
        img_size,
        2835,
        2835,
        n_colors,
        0,
    )
    if bitfields:
        header += _struct.pack(
            "<III", 0x00FF0000, 0x0000FF00, 0x000000FF
        )
    elif n_colors:
        header += b"".join(
            bytes(
                (
                    (i * 5 + 11) % 256,   # B
                    (i * 31 + 7) % 256,   # G
                    (i * 16 + 3) % 256,   # R
                    0,
                )
            )
            for i in range(n_colors)
        )
    rows = []
    ys = range(height) if top_down else reversed(range(height))
    for y in ys:
        row = bytearray()
        for x in range(width):
            if bpp == 32:
                row += bytes(
                    (
                        (x * 7 + y * 3 + seed) % 256,        # B
                        (x * 5 + y * 11 + seed * 2) % 256,   # G
                        (x * 13 + y * 17 + seed * 3) % 256,  # R
                        (x + y + seed) % 256,                # A
                    )
                )
            else:
                row.append((x + y + seed) % 16)
        row += b"\0" * (row_bytes - width * nbytes)
        rows.append(bytes(row))
    return header + b"".join(rows)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib  # noqa: PLC0415

    return (
        _struct.pack(">I", len(data))
        + ctype
        + data
        + _struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int, seed: int = 0) -> bytes:
    """Build a REAL PNG (8-bit RGB, color type 2, filter 0 scanlines,
    zlib-compressed IDAT) with the SAME deterministic seeded-gradient
    pixel pattern as ``make_bmp`` — so BMP and PNG payloads of the
    same (width, height, seed) decode to pixel-identical images.
    stdlib-only (struct + zlib)."""
    import zlib  # noqa: PLC0415

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type 0 (None) per scanline
        for x in range(width):
            raw += bytes(
                (
                    (x * 13 + y * 17 + seed * 3) % 256,  # R
                    (x * 5 + y * 11 + seed * 2) % 256,   # G
                    (x * 7 + y * 3 + seed) % 256,        # B
                )
            )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def make_png_interlaced(width: int, height: int, seed: int = 0) -> bytes:
    """Adam7-interlaced twin of ``make_png``: the SAME seeded-gradient
    pixel pattern, serialized as the seven reduced images (filter 0
    scanlines each, empty passes omitted per spec) with IHDR
    interlace=1 — so BMP / PNG / interlaced-PNG payloads of one
    (width, height, seed) all decode pixel-identically."""
    import zlib  # noqa: PLC0415

    def px(x: int, y: int) -> bytes:
        return bytes(
            (
                (x * 13 + y * 17 + seed * 3) % 256,
                (x * 5 + y * 11 + seed * 2) % 256,
                (x * 7 + y * 3 + seed) % 256,
            )
        )

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 1)
    raw = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_passes(width, height):
        for i in range(ph):
            raw.append(0)  # filter type 0 per reduced scanline
            y = y0 + i * dy
            for j in range(pw):
                raw += px(x0 + j * dx, y)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def make_png_variant(
    width: int,
    height: int,
    seed: int = 0,
    color_type: int = 0,
    depth: int = 8,
) -> bytes:
    """Deterministic twins of the seeded pattern in the other PNG
    shapes the decoder supports (filter-0 scanlines, stdlib-only):

    - (8, 0) grayscale: g(x,y) = the pattern's R channel formula —
      decodes to that value replicated across RGB;
    - (8, 4) gray+alpha: same gray + alpha (x+y+seed)%256 (alpha
      dropped by decode, so it equals the grayscale twin);
    - (8, 3) palette: a 16-entry PLTE with idx(x,y) = (x+y+seed)%16 —
      decodes to PLTE[idx];
    - (16, 2) RGB16: the 8-bit pattern scaled x257 (v<<8|v), which
      round(v*255/65535) maps back EXACTLY — decodes pixel-identical
      to make_png of the same (w, h, seed);
    - (16, 0) gray16: the gray formula x257, replicated;
    - (16, 4)/(16, 6) gray+alpha16/RGBA16: the same patterns x257
      with alpha (x+y+seed)%256 x257 (dropped by decode — equal to
      their alpha-free twins);
    - (1/2/4, 0) sub-byte gray: the gray formula quantized to the
      top ``depth`` bits (decodes to sample * 255/(2^d - 1),
      replicated) — samples pack MSB-first, rows pad to a byte;
    - (1/2/4, 3) sub-byte palette: idx(x,y) = (x+y+seed) % 2^d over
      the 16-entry PLTE formula truncated to 2^d entries."""
    import zlib  # noqa: PLC0415

    def gray(x: int, y: int) -> int:
        return (x * 13 + y * 17 + seed * 3) % 256

    plte_chunk = b""
    raw = bytearray()
    if (depth, color_type) == (8, 0):
        for y in range(height):
            raw.append(0)
            raw += bytes(gray(x, y) for x in range(width))
    elif (depth, color_type) == (8, 4):
        for y in range(height):
            raw.append(0)
            for x in range(width):
                raw += bytes((gray(x, y), (x + y + seed) % 256))
    elif (depth, color_type) == (8, 3):
        plte = bytes(
            v
            for i in range(16)
            for v in (
                (i * 16 + 3) % 256,
                (i * 31 + 7) % 256,
                (i * 5 + 11) % 256,
            )
        )
        plte_chunk = _png_chunk(b"PLTE", plte)
        for y in range(height):
            raw.append(0)
            raw += bytes((x + y + seed) % 16 for x in range(width))
    elif (depth, color_type) in ((16, 2), (16, 0), (16, 4), (16, 6)):
        for y in range(height):
            raw.append(0)
            for x in range(width):
                if color_type in (2, 6):
                    samples = [
                        gray(x, y),
                        (x * 5 + y * 11 + seed * 2) % 256,
                        (x * 7 + y * 3 + seed) % 256,
                    ]
                else:
                    samples = [gray(x, y)]
                if color_type in (4, 6):
                    samples.append((x + y + seed) % 256)  # alpha
                for v in samples:
                    raw += bytes((v, v))  # v*257 big-endian
    elif depth in (1, 2, 4) and color_type in (0, 3):
        if color_type == 3:
            plte = bytes(
                v
                for i in range(1 << depth)
                for v in (
                    (i * 16 + 3) % 256,
                    (i * 31 + 7) % 256,
                    (i * 5 + 11) % 256,
                )
            )
            plte_chunk = _png_chunk(b"PLTE", plte)
        for y in range(height):
            raw.append(0)
            bits = []
            for x in range(width):
                s = (
                    (x + y + seed) % (1 << depth)
                    if color_type == 3
                    else gray(x, y) >> (8 - depth)
                )
                bits += [
                    (s >> (depth - 1 - k)) & 1 for k in range(depth)
                ]
            while len(bits) % 8:
                bits.append(0)
            for i in range(0, len(bits), 8):
                b = 0
                for bit in bits[i : i + 8]:
                    b = (b << 1) | bit
                raw.append(b)
    else:
        raise ValueError(
            f"no variant builder for depth={depth}, "
            f"color_type={color_type}"
        )
    ihdr = _struct.pack(
        ">IIBBBBB", width, height, depth, color_type, 0, 0, 0
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + plte_chunk
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 interlace pass geometry: (x0, y0, dx, dy) per pass
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, offset: int, width: int, height: int, bpp: int):
    """Unfilter one (sub-)image's scanline block (filters 0-4 incl.
    Paeth) starting at ``offset`` in the decompressed stream. Returns
    (uint8 array of shape (height, width*bpp), bytes consumed).
    Filter context never crosses the block: row 0's 'previous
    scanline' is zeros — exactly the rule each Adam7 pass restarts
    with."""
    import numpy as np  # noqa: PLC0415

    stride = width * bpp
    need = (stride + 1) * height
    if offset + need > len(raw):
        raise ValueError("IDAT length does not match dimensions")
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up: fully vectorized
            rec = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth: sequential in x
            rec = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    pred = _paeth(int(a), int(b), int(c))
                rec[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out, need


def _adam7_passes(width: int, height: int):
    """(x0, y0, dx, dy, pass_w, pass_h) for each NON-EMPTY Adam7
    pass of a width x height image (spec rule: a pass with zero
    columns or rows contributes no bytes at all)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


# bytes per pixel by (depth, color_type); the filter byte distance
# (T.81 of PNG-land: filters operate on BYTES bpp apart, so 16-bit
# channels just double the stride)
_PNG_BPP = {
    (8, 0): 1, (8, 2): 3, (8, 3): 1, (8, 4): 2, (8, 6): 4,
    (16, 0): 2, (16, 2): 6, (16, 4): 4, (16, 6): 8,
}


def _png_subbyte_samples(raw, offset, width, height, depth):
    """Unfilter + bit-unpack one (sub-)image of a 1/2/4-bit PNG:
    rows are ceil(width*depth/8) bytes, the filter distance is ONE
    BYTE (the spec's rule for sub-byte depths), samples pack
    MSB-first within each byte and rows pad to a byte boundary.
    Returns ((height, width) uint8 sample array, bytes consumed)."""
    import numpy as np  # noqa: PLC0415

    row_bytes = (width * depth + 7) // 8
    rows, used = _png_unfilter(raw, offset, row_bytes, height, 1)
    bits = np.unpackbits(rows, axis=1)[:, : width * depth]
    groups = bits.reshape(height, width, depth).astype(np.uint8)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (groups * weights).sum(axis=2).astype(np.uint8), used


def decode_png(payload: bytes):
    """REAL decode kernel for PNG (stdlib zlib inflate + per-scanline
    unfilter, filters 0-4 incl. Paeth): returns an (height, width, 3)
    uint8 RGB array. Supports 8-bit color types 0 (grayscale,
    replicated), 2 (RGB), 3 (palette via PLTE), 4 (gray+alpha, alpha
    dropped), 6 (RGBA, alpha dropped), 16-bit types 0/2/4/6 (samples
    scaled round(v*255/65535), the spec's display conversion; alpha
    dropped like the 8-bit types), and
    SUB-BYTE depths 1/2/4 for types 0 (gray, scaled by the exact
    255/(2^d - 1) display factor) and 3 (palette) — the scanned-
    document / icon shapes — each non-interlaced AND
    Adam7-interlaced (the seven reduced images unfilter
    independently and scatter into place, per spec); anything outside
    those shapes raises loudly rather than decoding wrongly. Dependency-free (struct + zlib + numpy)."""
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte = 8, None, bytearray(), None
    while pos + 8 <= len(payload):
        (length,) = _struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = _struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, ctype_i, _comp, _filt, interlace = ihdr
    subbyte = depth in (1, 2, 4) and ctype_i in (0, 3)
    bpp = _PNG_BPP.get((depth, ctype_i))
    if (bpp is None and not subbyte) or interlace not in (0, 1):
        raise NotImplementedError(
            f"unsupported PNG shape (depth={depth}, "
            f"color_type={ctype_i}, interlace={interlace}); supported:"
            " 8-bit types 0/2/3/4/6, 16-bit types 0/2, 1/2/4-bit"
            " types 0/3, interlace 0/1"
        )
    if ctype_i == 3 and plte is None:
        raise ValueError("palette PNG without a PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    if subbyte:
        if interlace == 0:
            samples, used = _png_subbyte_samples(
                raw, 0, width, height, depth
            )
        else:
            samples = np.zeros((height, width), dtype=np.uint8)
            used = 0
            for x0, y0, dx, dy, pw, ph in _adam7_passes(width, height):
                sub, n = _png_subbyte_samples(raw, used, pw, ph, depth)
                used += n
                samples[y0::dy, x0::dx] = sub
        if used != len(raw):
            raise ValueError("IDAT length does not match dimensions")
        if ctype_i == 0:
            # exact display scaling: 255/(2^d - 1) is integral for
            # d in {1, 2, 4} (255, 85, 17)
            v8 = (samples * (255 // ((1 << depth) - 1))).astype(
                np.uint8
            )
            return np.repeat(v8[:, :, None], 3, axis=2).copy()
        if int(samples.max()) >= len(plte):
            raise ValueError(
                f"palette index {int(samples.max())} out of range "
                f"({len(plte)} entries)"
            )
        return plte[samples].copy()
    if interlace == 0:
        out, used = _png_unfilter(raw, 0, width, height, bpp)
        if used != len(raw):
            raise ValueError("IDAT length does not match dimensions")
        img = out.reshape(height, width, bpp)
    else:
        img = np.zeros((height, width, bpp), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy, pw, ph in _adam7_passes(width, height):
            sub, used = _png_unfilter(raw, offset, pw, ph, bpp)
            offset += used
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        if offset != len(raw):
            raise ValueError("IDAT length does not match dimensions")
    if depth == 16:
        # big-endian 16-bit samples -> round(v*255/65535)
        wide = (
            img.astype(np.uint16).reshape(height, width, bpp // 2, 2)
        )
        v = (wide[..., 0].astype(np.uint32) << 8) | wide[..., 1]
        v8 = ((v * 255 + 32768) // 65535).astype(np.uint8)
        img = v8  # (h, w, channels)
        if ctype_i == 0:
            return np.repeat(img, 3, axis=2).copy()
        if ctype_i == 4:  # gray+alpha: alpha dropped like 8-bit
            return np.repeat(img[:, :, :1], 3, axis=2).copy()
        if ctype_i == 6:  # RGBA: alpha dropped like 8-bit
            return img[:, :, :3].copy()
        return img.copy()
    if ctype_i == 2:
        return img.copy()
    if ctype_i == 6:
        return img[:, :, :3].copy()
    if ctype_i == 0:
        return np.repeat(img, 3, axis=2).copy()
    if ctype_i == 4:
        return np.repeat(img[:, :, :1], 3, axis=2).copy()
    # ctype 3: palette lookup; out-of-range indices fail loud
    idx = img[:, :, 0]
    if int(idx.max()) >= len(plte):
        raise ValueError(
            f"palette index {int(idx.max())} out of range "
            f"({len(plte)} entries)"
        )
    return plte[idx].copy()


def make_real_media(
    spark: SparkSession,
    n_images: int = 8,
    n_audio: int = 8,
    n_png: int = 0,
    n_jpeg: int = 0,
    n_flac: int = 0,
    n_avi: int = 0,
    n_flac_stereo: int = 0,
    n_jpeg12: int = 0,
    n_png16: int = 0,
    n_png_lowdepth: int = 0,
    n_g711: int = 0,
    n_tiff: int = 0,
    n_gif: int = 0,
    n_slices: int | None = None,
) -> DataFrame:
    """Media rows with REAL payloads: uncompressed 24-bit BMPs,
    zlib-compressed PNGs, baseline JPEGs (Huffman + DCT,
    multimodal/jpeg.py — alternating 4:4:4 / 4:2:0 subsampling),
    RIFF/WAVE PCM-16 sines, FLAC (LPC + Rice, multimodal/flac.py)
    twins of those sines, and MJPEG-AVI videos (multimodal/avi.py —
    RIFF container of baseline-JPEG frames), all deterministic — the
    end-to-end non-stub decode paths with zero codec dependencies.
    PNG/JPEG row i carries the same pixel pattern as BMP row i (same
    width/height/seed formula), so the containers are
    feature-identical (exactly for PNG, tolerance-close for lossy
    JPEG); FLAC row i carries the SAME sine as WAV row i and is
    lossless, so the audio containers are feature-IDENTICAL (the
    BMP/PNG twin story for audio); AVI frame f of row i carries the
    make_jpeg pattern at seed i*31 + f, so sampled video frames are
    bit-identical to the corresponding still JPEGs."""
    from cdc_2025_spark.multimodal.jpeg import make_jpeg  # noqa: PLC0415

    rows = []
    for i in range(n_images):
        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (i, "image", bytearray(make_bmp(w, h, seed=i)), (w, h, 0, "bmp"))
        )
    for i in range(n_png):
        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (
                n_images + n_audio + i,
                "image",
                bytearray(make_png(w, h, seed=i)),
                (w, h, 0, "png"),
            )
        )
    for i in range(n_jpeg):
        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (
                n_images + n_audio + n_png + i,
                "image",
                bytearray(
                    make_jpeg(
                        w,
                        h,
                        seed=i,
                        subsampling="4:2:0" if i % 2 else "4:4:4",
                    )
                ),
                (w, h, 0, "jpeg"),
            )
        )
    for i in range(n_png16):
        # 16-bit RGB PNGs of the SAME pattern scaled x257 — the
        # sample-depth conversion maps back exactly, so these decode
        # pixel-identical to the 8-bit PNG/BMP twins
        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac
                + n_avi + n_flac_stereo + n_jpeg12 + i,
                "image",
                bytearray(
                    make_png_variant(
                        w, h, seed=i, color_type=2, depth=16
                    )
                ),
                (w, h, 0, "png16"),
            )
        )
    for i in range(n_jpeg12):
        # 12-bit extended-sequential (SOF1) twins: the SAME pattern as
        # jpeg row i widened x16 — decoded uint8 view within +/-1 of
        # the 8-bit row (pinned in tests), native depth via
        # decode_jpeg_native
        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac
                + n_avi + n_flac_stereo + i,
                "image",
                bytearray(
                    make_jpeg(
                        w,
                        h,
                        seed=i,
                        subsampling="4:2:0" if i % 2 else "4:4:4",
                        precision=12,
                    )
                ),
                (w, h, 0, "jpeg12"),
            )
        )
    for i in range(n_png_lowdepth):
        # sub-byte PNGs (1/2/4-bit, alternating gray/palette) — the
        # scanned-document / icon shapes, decoded through the
        # bit-unpack path (exact display scaling 255/(2^d - 1))
        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        depth = (1, 2, 4)[i % 3]
        ctype = 0 if i % 2 == 0 else 3
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac
                + n_avi + n_flac_stereo + n_jpeg12 + n_png16 + i,
                "image",
                bytearray(
                    make_png_variant(
                        w, h, seed=i, color_type=ctype, depth=depth
                    )
                ),
                (w, h, 0, f"png{depth}"),
            )
        )
    for i in range(n_tiff):
        # baseline TIFFs of the SAME rgb pattern as BMP row i —
        # lossless twins (alternating byte order / compression /
        # strip layout so all decoder paths ride the rollup)
        from cdc_2025_spark.multimodal.tiff import (  # noqa: PLC0415
            make_tiff,
        )

        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac
                + n_avi + n_flac_stereo + n_jpeg12 + n_png16
                + n_png_lowdepth + n_g711 + i,
                "image",
                bytearray(
                    make_tiff(
                        w,
                        h,
                        seed=i,
                        mode="rgb",
                        compression=32773 if i % 2 else 1,
                        rows_per_strip=7 if i % 3 == 2 else None,
                        big_endian=bool(i % 2),
                    )
                ),
                (w, h, 0, "tiff"),
            )
        )
    for i in range(n_gif):
        # single-frame GIFs of the shared palette pattern (the
        # palette-PNG/GIF/TIFF twin family), interlace alternating
        from cdc_2025_spark.multimodal.gif import (  # noqa: PLC0415
            make_gif,
        )

        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac
                + n_avi + n_flac_stereo + n_jpeg12 + n_png16
                + n_png_lowdepth + n_g711 + n_tiff + i,
                "image",
                bytearray(
                    make_gif(w, h, seed=i, interlace=bool(i % 2))
                ),
                (w, h, 0, "gif"),
            )
        )
    for i in range(n_g711):
        # G.711 telephony WAVs (alternating mu-law / A-law) of the
        # SAME sines as the PCM rows — lossy segment quantization,
        # so features are tolerance-close to audio_wav, not equal
        import math as _math  # noqa: PLC0415

        dur = 500 * (1 + i % 4)
        sr, freq = 8000, 220.0 * (1 + i % 3)
        amp = 0.25 + 0.1 * (i % 5)
        xs = [
            int(amp * 32767 * _math.sin(2 * _math.pi * freq * t / sr))
            for t in range(sr * dur // 1000)
        ]
        law = "mulaw" if i % 2 == 0 else "alaw"
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac
                + n_avi + n_flac_stereo + n_jpeg12 + n_png16
                + n_png_lowdepth + i,
                "audio",
                bytearray(encode_wav_g711(xs, sr, law)),
                (0, 0, dur, f"g711_{law}"),
            )
        )
    for i in range(n_audio):
        dur = 500 * (1 + i % 4)
        wav = make_wav(
            sample_rate=8000,
            duration_ms=dur,
            freq_hz=220.0 * (1 + i % 3),
            amplitude=0.25 + 0.1 * (i % 5),
        )
        rows.append(
            (
                n_images + i,
                "audio",
                bytearray(wav),
                (0, 0, dur, "pcm_s16le"),
            )
        )
    if n_flac:
        from cdc_2025_spark.multimodal.flac import make_flac  # noqa: PLC0415

        # r16: FLAC encode (LPC + Rice, pure Python) is the corpus
        # build's dominant cost — encode the clips on a process pool
        # (_parallel_payloads; byte-identical, pure function of kwargs)
        flac_kw = [
            dict(
                sample_rate=8000,
                duration_ms=500 * (1 + i % 4),
                freq_hz=220.0 * (1 + i % 3),
                amplitude=0.25 + 0.1 * (i % 5),
                predictor="lpc" if i % 2 else "fixed",
            )
            for i in range(n_flac)
        ]
        for i, flac in enumerate(
            _parallel_payloads([(make_flac, kw) for kw in flac_kw])
        ):
            rows.append(
                (
                    n_images + n_audio + n_png + n_jpeg + i,
                    "audio",
                    bytearray(flac),
                    (0, 0, flac_kw[i]["duration_ms"], "flac"),
                )
            )
    if n_flac_stereo:
        from cdc_2025_spark.multimodal.flac import make_flac  # noqa: PLC0415

        # stereo + alternating 16/24-bit: the two capability axes the
        # r10 guards rejected, now real decode paths (left channel is
        # the mono twin's sine, right a fifth up; auto per-frame
        # channel assignment). r16: pool-encoded like the mono clips
        # (stereo/24-bit LPC is the single most expensive fixture —
        # ~7 s sequential for 8 clips).
        st_kw = [
            dict(
                sample_rate=8000,
                duration_ms=500 * (1 + i % 4),
                freq_hz=220.0 * (1 + i % 3),
                amplitude=0.25 + 0.1 * (i % 5),
                predictor="lpc" if i % 2 else "fixed",
                channels=2,
                bits=24 if i % 2 else 16,
            )
            for i in range(n_flac_stereo)
        ]
        for i, flac in enumerate(
            _parallel_payloads([(make_flac, kw) for kw in st_kw])
        ):
            rows.append(
                (
                    n_images + n_audio + n_png + n_jpeg + n_flac
                    + n_avi + i,
                    "audio",
                    bytearray(flac),
                    (0, 0, st_kw[i]["duration_ms"], "flac_stereo"),
                )
            )
    for i in range(n_avi):
        from cdc_2025_spark.multimodal.avi import (  # noqa: PLC0415
            AVI_DEFAULT_FPS,
            make_mjpeg_avi,
        )

        w, h = 32 + (i % 4) * 8, 24 + (i % 3) * 8
        n_frames = 2 + i % 4
        avi = make_mjpeg_avi(
            w,
            h,
            n_frames=n_frames,
            fps=AVI_DEFAULT_FPS,
            seed=i,
            subsampling="4:2:0" if i % 2 else "4:4:4",
        )
        rows.append(
            (
                n_images + n_audio + n_png + n_jpeg + n_flac + i,
                "video",
                bytearray(avi),
                (w, h, n_frames * 1000 // AVI_DEFAULT_FPS, "mjpeg_avi"),
            )
        )
    return _media_frame(spark, rows, n_slices)


def _decode_image_bytes(payload: bytes) -> list[float]:
    """Image decode kernel. BMP, PNG, JPEG, GIF, and TIFF payloads take REAL
    paths: header parse + pixel decode (stdlib zlib inflate +
    unfilter for PNG; Huffman entropy decode + dequant + IDCT for
    baseline AND progressive JPEG — spectral selection, successive
    approximation, and restart intervals all decode;
    multimodal/jpeg.py, jpeg_progressive.py) + channel statistics.
    Unsupported JPEG processes (hierarchical, arithmetic, 12-bit)
    raise inside the decoders — fail loud, never decode wrongly.
    Other payloads take the deterministic stub path so the
    distributed plumbing stays testable without codecs.

    Feature vector (8-dim, all paths): BMP/PNG/JPEG -> [width, height,
    mean R/G/B in [0,1], std/min/max of gray in [0,1]]
    (pixel-identical payloads yield identical features regardless of
    container format; JPEG is tolerance-close, pinned in
    test_multimodal.py); stub -> seeded words of the payload."""
    from cdc_2025_spark.multimodal.jpeg import decode_jpeg  # noqa: PLC0415

    rgb = None
    if payload[:2] == b"BM":
        rgb = decode_bmp(payload)
    elif payload[:8] == _PNG_SIG:
        rgb = decode_png(payload)
    elif payload[:3] == b"\xff\xd8\xff":
        rgb = decode_jpeg(payload)
    elif payload[:6] in (b"GIF89a", b"GIF87a"):
        from cdc_2025_spark.multimodal.gif import (  # noqa: PLC0415
            decode_gif,
        )

        # still-image view of a GIF: frame 0 (animation frames are
        # the video kernel's job)
        rgb = decode_gif(payload)["frames"][0]
    elif payload[:4] in (b"II*\x00", b"MM\x00*"):
        from cdc_2025_spark.multimodal.tiff import (  # noqa: PLC0415
            decode_tiff,
        )

        rgb = decode_tiff(payload)
    if rgb is not None:
        import numpy as np  # noqa: PLC0415

        rgb = rgb.astype(np.float64) / 255.0
        gray = rgb.mean(axis=2)
        return [
            float(rgb.shape[1]),
            float(rgb.shape[0]),
            float(rgb[:, :, 0].mean()),
            float(rgb[:, :, 1].mean()),
            float(rgb[:, :, 2].mean()),
            float(gray.std()),
            float(gray.min()),
            float(gray.max()),
        ]
    out = []
    for j in range(8):
        chunk = payload[j * 4 : j * 4 + 4] or b"\0\0\0\0"
        out.append(_struct.unpack("<I", chunk.ljust(4, b"\0"))[0] / 2**32)
    return out


def extract_image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via mapInPandas: one Arrow batch in,
    one out; constant memory per task regardless of corpus size."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            feats = [
                _decode_image_bytes(bytes(p)) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sha256": [
                        hashlib.sha256(bytes(p)).hexdigest()
                        for p in pdf["payload"]
                    ],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "features": feats,
                }
            )

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("codec", StringType()),
                ]
            ),
        ),
    ]
)


def _encode_bmp(rgb) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    bottom-up BMP — the inverse of decode_bmp (round-trip pinned in
    tests). Dependency-free (struct + numpy)."""
    import numpy as np  # noqa: PLC0415

    h, w = rgb.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = _struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + _struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    bgr = rgb[:, :, ::-1]  # RGB -> BGR
    padded = np.zeros((h, row_bytes), dtype=np.uint8)
    padded[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + padded[::-1].tobytes()  # bottom-up row order


def resize_images(
    media: DataFrame, width: int, height: int
) -> DataFrame:
    """RESIZE operator: decode each image payload (BMP, PNG, or
    baseline JPEG), scale
    to (width, height) by nearest-neighbor sampling, re-encode as BMP
    (the dependency-free container), and update meta. Deterministic:
    out[y, x] = in[floor(y*h_in/h_out), floor(x*w_in/w_out)] — the
    standard NN grid, vectorized per image with numpy index arrays.

    Same Arrow-batched mapInPandas contract as the other decode
    stages: one batch JVM->Python->JVM, constant memory per task.
    Non-decodable payloads (stub/synthetic) pass through unchanged so
    mixed corpora don't fail the whole batch."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from cdc_2025_spark.multimodal.jpeg import (  # noqa: PLC0415
            decode_jpeg,
        )

        for pdf in batches:
            payloads, metas = [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                raw = bytes(p)
                rgb = None
                if raw[:2] == b"BM":
                    rgb = decode_bmp(raw)
                elif raw[:8] == _PNG_SIG:
                    rgb = decode_png(raw)
                elif raw[:3] == b"\xff\xd8\xff":
                    rgb = decode_jpeg(raw)
                if rgb is None:
                    payloads.append(p)
                    metas.append(m)
                    continue
                h_in, w_in = rgb.shape[:2]
                ys = (np.arange(height) * h_in // height).clip(0, h_in - 1)
                xs = (np.arange(width) * w_in // width).clip(0, w_in - 1)
                out = rgb[ys][:, xs]
                payloads.append(_encode_bmp(out))
                metas.append(
                    {
                        "width": width,
                        "height": height,
                        "duration_ms": m["duration_ms"],
                        "codec": "bmp",
                    }
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    imgs = media.filter(F.col("kind") == "image").select(
        "media_id", "kind", "payload", "meta"
    )
    return imgs.mapInPandas(run, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
    ]
)


def make_wav(
    sample_rate: int = 8000,
    duration_ms: int = 1000,
    freq_hz: float = 440.0,
    amplitude: float = 0.5,
    bits: int = 16,
    float_fmt: bool = False,
    extensible: bool = False,
) -> bytes:
    """Build a REAL RIFF/WAVE file (mono sine at ``freq_hz``) — a
    genuine audio payload with no codec dependency. Default is PCM
    signed 16-bit; ``bits`` also takes 24 (packed 3-byte PCM, the
    studio-export format) and 8 (UNSIGNED PCM, the spec's 8-bit
    convention); ``float_fmt=True`` writes IEEE float32 (format 3);
    ``extensible=True`` wraps the chosen format in a
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) header with the matching
    SubFormat GUID — how every DAW actually labels 24-bit files."""
    import math  # noqa: PLC0415

    n = sample_rate * duration_ms // 1000
    samples = bytearray()
    for i in range(n):
        s = amplitude * math.sin(2 * math.pi * freq_hz * i / sample_rate)
        if float_fmt:
            samples += _struct.pack("<f", s)
        elif bits == 16:
            samples += _struct.pack("<h", int(s * 32767))
        elif bits == 24:
            v = int(s * 8388607)
            samples += v.to_bytes(3, "little", signed=True)
        elif bits == 8:
            samples += _struct.pack("<B", int(s * 127) + 128)
        else:
            raise ValueError(f"no builder for bits={bits}")
    data = bytes(samples)
    eff_bits = 32 if float_fmt else bits
    block = eff_bits // 8
    base_fmt = 3 if float_fmt else 1
    if extensible:
        guid = _struct.pack("<H", base_fmt) + (
            b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38"
            b"\x9b\x71"
        )
        fmt = (
            _struct.pack(
                "<HHIIHH",
                0xFFFE,
                1,
                sample_rate,
                sample_rate * block,
                block,
                eff_bits,
            )
            + _struct.pack("<HHI", 22, eff_bits, 0x4)  # cbSize/valid/mask
            + guid
        )
    else:
        fmt = _struct.pack(
            "<HHIIHH",
            base_fmt,
            1,
            sample_rate,
            sample_rate * block,
            block,
            eff_bits,
        )
    return (
        _struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + _struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + _struct.pack("<4sI", b"data", len(data)) + data
    )


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """RIFF/WAVE PCM-16 encode of ARBITRARY integer samples — the
    sink-side twin of ``decode_wav`` (``make_wav`` only builds
    sines). Used to produce cross-container lossless twins: the same
    samples through this and ``flac.encode_flac`` decode identically,
    so downstream perceptual fingerprints match by construction."""
    data = b"".join(
        _struct.pack("<h", int(v)) for v in samples
    )
    fmt = _struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    return (
        _struct.pack(
            "<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE"
        )
        + _struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + _struct.pack("<4sI", b"data", len(data)) + data
    )


def _mulaw_decode_np(codes):
    """G.711 mu-law code bytes -> int32 linear samples (ITU-T G.711
    segment expansion: bias 0x84, 8 exponent segments, 4 mantissa
    bits; max magnitude 32124 on the 16-bit scale)."""
    import numpy as np  # noqa: PLC0415

    u = (~codes.astype(np.int32)) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + 0x84) << exponent) - 0x84
    return np.where(sign != 0, -mag, mag)


def _mulaw_encode_np(lin):
    """int linear samples (16-bit scale) -> G.711 mu-law codes —
    the exact inverse on G.711's code points (all 256 codes
    round-trip encode(decode(c)) == c, pinned in tests)."""
    import numpy as np  # noqa: PLC0415

    x = np.asarray(lin, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # exponent = position of the highest set bit above bit 7
    exponent = np.zeros_like(mag)
    for e in range(7, 0, -1):
        exponent = np.where(
            (mag >> (e + 7)) & 1 == 1,
            np.maximum(exponent, e),
            exponent,
        )
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (
        (~(sign | (exponent << 4) | mantissa)) & 0xFF
    ).astype(np.uint8)


def _alaw_decode_np(codes):
    """G.711 A-law code bytes -> int32 linear samples (ITU-T G.711:
    XOR 0x55, 7 chord segments; max magnitude 32256 on the 16-bit
    scale)."""
    import numpy as np  # noqa: PLC0415

    a = codes.astype(np.int32) ^ 0x55
    sign = a & 0x80
    exponent = (a >> 4) & 0x07
    mantissa = a & 0x0F
    mag = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    return np.where(sign != 0, mag, -mag)


def _alaw_encode_np(lin):
    """int linear samples (16-bit scale) -> G.711 A-law codes (the
    inverse on code points; note A-law's sign convention: the 0x80
    bit marks POSITIVE, the reverse of mu-law)."""
    import numpy as np  # noqa: PLC0415

    x = np.asarray(lin, dtype=np.int32)
    sign = np.where(x >= 0, 0x80, 0)
    mag = np.minimum(np.where(x >= 0, x, -x), 32767)
    exponent = np.zeros_like(mag)
    for e in range(7, 0, -1):
        exponent = np.where(
            mag >= (0x100 << (e - 1)),
            np.maximum(exponent, e),
            exponent,
        )
    mantissa = np.where(
        exponent == 0, mag >> 4, (mag >> (exponent + 3)) & 0x0F
    )
    return ((sign | (exponent << 4) | mantissa) ^ 0x55).astype(
        "uint8"
    )


def encode_wav_g711(samples, sample_rate: int = 8000, law: str = "mulaw") -> bytes:
    """RIFF/WAVE G.711 encode of integer samples (16-bit scale):
    ``law`` in {'mulaw', 'alaw'} writes format 7 / 6 with the exact
    ITU segment compression — the telephony-corpus ingest twin of
    ``decode_wav``'s G.711 branch."""
    import numpy as np  # noqa: PLC0415

    if law == "mulaw":
        codes, fmt_code = _mulaw_encode_np(samples), 7
    elif law == "alaw":
        codes, fmt_code = _alaw_encode_np(samples), 6
    else:
        raise ValueError(f"law must be 'mulaw' or 'alaw', got {law!r}")
    data = codes.tobytes()
    fmt = _struct.pack(
        "<HHIIHH", fmt_code, 1, sample_rate, sample_rate, 1, 8
    )
    return (
        _struct.pack(
            "<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE"
        )
        + _struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + _struct.pack("<4sI", b"data", len(data)) + data
    )


_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
    449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
    1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
    22385, 24623, 27086, 29794, 32767,
)


def _ima_step(pred: int, index: int, code: int) -> tuple[int, int]:
    """One IMA ADPCM update (IMA Digital Audio Focus Group 1992 /
    the DVI reference algorithm): reconstruct the delta from the
    4-bit code with shift-adds (no multiply — the fixed-point form
    every implementation uses, so encoder and decoder stay in
    lockstep), clamp the predictor, step the index."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    if code & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[code & 7]))
    return pred, index


def _ima_encode_codes(xs, index: int):
    """Greedy IMA quantization of xs[1:] against the running
    predictor/index state; returns (nibbles, final_index)."""
    pred = xs[0]
    nibbles = []
    for x in xs[1:]:
        step = _IMA_STEP_TABLE[index]
        diff = x - pred
        code = 0
        if diff < 0:
            code = 8
            diff = -diff
        if diff >= step:
            code |= 4
            diff -= step
        if diff >= step >> 1:
            code |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            code |= 1
        pred, index = _ima_step(pred, index, code)
        nibbles.append(code)
    return nibbles, index


def _pack_nibbles(nibbles) -> bytes:
    return bytes(
        (nibbles[i] & 0xF) | ((nibbles[i + 1] & 0xF) << 4)
        for i in range(0, len(nibbles), 2)
    )


# Microsoft ADPCM (WAVE format 2) — the OTHER classic 4-bit WAV
# codec: second-order linear prediction with seven standard
# coefficient pairs and a multiplicative delta adaptation (the
# published format tables every implementation ships)
_MS_COEF1 = [256, 512, 0, 192, 240, 460, 392]
_MS_COEF2 = [0, -256, 0, 64, 0, -208, -232]
_MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]


def _ms_adpcm_encode_channel(block, pred_idx: int, delta0: int):
    """Encode one channel's block samples with coefficient set
    ``pred_idx``: returns (nibbles for samples[2:], total squared
    error). The first two samples are stored verbatim in the block
    header; the encoder mirrors the decoder's clamp/adapt state so
    the streams stay synchronized."""
    c1, c2 = _MS_COEF1[pred_idx], _MS_COEF2[pred_idx]
    s2, s1 = block[0], block[1]
    delta = delta0
    nibbles = []
    err_total = 0
    for x in block[2:]:
        pred = (s1 * c1 + s2 * c2) >> 8
        err = x - pred
        n = int(err / delta)  # C-style truncation toward zero
        n = max(-8, min(7, n))
        rec = max(-32768, min(32767, pred + n * delta))
        nibbles.append(n & 0xF)
        err_total += (x - rec) * (x - rec)
        delta = max(16, (_MS_ADAPT[n & 0xF] * delta) >> 8)
        s2, s1 = s1, rec
    return nibbles, err_total


def encode_wav_ms_adpcm(
    samples,
    sample_rate: int = 8000,
    block_samples: int = 500,
    right=None,
) -> bytes:
    """Microsoft ADPCM WAV (format 2). Per-block layout (the
    published format): one predictor-index byte per channel, then
    per channel an int16 initial delta, int16 sample1 (t-1) and
    int16 sample2 (t-2) — the block's first two output samples,
    emitted sample2 first — then 4-bit codes, HIGH nibble first
    (stereo alternates left-high/right-low per sample frame). The
    encoder tries all seven standard coefficient pairs per
    block/channel and keeps the least-squared-error one.
    ``block_samples`` must be even and >= 4; the final short block
    pads with its last sample and the REQUIRED fact chunk truncates
    on decode."""
    stereo = right is not None
    if block_samples % 2 or block_samples < 4:
        raise ValueError("block_samples must be even and >= 4")
    xs = [max(-32768, min(32767, int(v))) for v in samples]
    if len(xs) < 2:
        raise ValueError("MS ADPCM needs at least 2 samples")
    if stereo:
        if len(right) != len(samples):
            raise ValueError("stereo channels must be equal length")
        ys = [max(-32768, min(32767, int(v))) for v in right]
    n_true = len(xs)
    blocks = []
    for b0 in range(0, n_true, block_samples):
        chans = [xs[b0 : b0 + block_samples]]
        if stereo:
            chans.append(ys[b0 : b0 + block_samples])
        for c in chans:  # pad the final short block
            while len(c) < block_samples:
                c.append(c[-1])
        per = []
        for c in chans:
            # initial delta from the block's own step sizes (any
            # header-stored value round-trips; this one adapts the
            # quantizer to the content)
            d0 = max(
                16,
                sum(abs(c[i] - c[i - 1]) for i in range(1, len(c)))
                // (4 * max(1, len(c) - 1)),
            )
            best = None
            for pi in range(7):
                nib, err = _ms_adpcm_encode_channel(c, pi, d0)
                if best is None or err < best[2]:
                    best = (pi, nib, err, d0)
            per.append(best)
        hdr = bytes(b[0] for b in per)
        hdr += b"".join(_struct.pack("<h", b[3]) for b in per)
        hdr += b"".join(_struct.pack("<h", c[1]) for c in chans)
        hdr += b"".join(_struct.pack("<h", c[0]) for c in chans)
        if stereo:
            nl, nr = per[0][1], per[1][1]
            body = bytes(
                ((a & 0xF) << 4) | (b & 0xF)
                for a, b in zip(nl, nr)
            )
        else:
            nib = per[0][1]
            body = bytes(
                ((nib[i] & 0xF) << 4) | (nib[i + 1] & 0xF)
                for i in range(0, len(nib), 2)
            )
        blocks.append(hdr + body)
    data = b"".join(blocks)
    channels = 2 if stereo else 1
    block_align = 7 * channels + (block_samples - 2) * channels // 2
    fmt = _struct.pack(
        "<HHIIHHHHH",
        2,
        channels,
        sample_rate,
        sample_rate * block_align // block_samples,
        block_align,
        4,
        32,  # cbSize: spb + numcoef + 7 coef pairs
        block_samples,
        7,
    ) + b"".join(
        _struct.pack("<hh", _MS_COEF1[i], _MS_COEF2[i])
        for i in range(7)
    )
    fact = _struct.pack("<4sII", b"fact", 4, n_true)
    return (
        _struct.pack(
            "<4sI4s",
            b"RIFF",
            4 + 8 + len(fmt) + len(fact) + 8 + len(data),
            b"WAVE",
        )
        + _struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + fact
        + _struct.pack("<4sI", b"data", len(data)) + data
    )


def _ms_adpcm_decode(
    data: bytes, block_align: int, samples_per_block: int,
    channels: int, coef1, coef2,
):
    """Decode MS ADPCM blocks to per-channel int16 lists."""
    chans: list[list[int]] = [[] for _ in range(channels)]
    hdr = 7 * channels
    for b0 in range(0, len(data) - hdr + 1, block_align):
        block = data[b0 : b0 + block_align]
        preds = list(block[:channels])
        if any(p >= len(coef1) for p in preds):
            raise ValueError(
                f"MS ADPCM predictor index {max(preds)} out of "
                f"range ({len(coef1)} coefficient pairs)"
            )
        off = channels
        deltas = [
            _struct.unpack_from("<h", block, off + 2 * c)[0]
            for c in range(channels)
        ]
        off += 2 * channels
        s1 = [
            _struct.unpack_from("<h", block, off + 2 * c)[0]
            for c in range(channels)
        ]
        off += 2 * channels
        s2 = [
            _struct.unpack_from("<h", block, off + 2 * c)[0]
            for c in range(channels)
        ]
        off += 2 * channels
        for c in range(channels):
            chans[c].append(s2[c])
            chans[c].append(s1[c])
        produced = 2
        ch = 0
        for byte in block[off:]:
            for n in (byte >> 4, byte & 0xF):
                if produced >= samples_per_block and ch == 0:
                    break
                c = ch
                sn = n - 16 if n >= 8 else n  # signed 4-bit
                pred = (
                    s1[c] * coef1[preds[c]] + s2[c] * coef2[preds[c]]
                ) >> 8
                rec = max(
                    -32768, min(32767, pred + sn * deltas[c])
                )
                chans[c].append(rec)
                deltas[c] = max(
                    16, (_MS_ADAPT[n] * deltas[c]) >> 8
                )
                s2[c], s1[c] = s1[c], rec
                ch += 1
                if ch == channels:
                    ch = 0
                    produced += 1
    return chans


def encode_wav_ima_adpcm(
    samples,
    sample_rate: int = 8000,
    block_samples: int = 505,
    right=None,
    multi=None,
) -> bytes:
    """IMA/DVI ADPCM WAV (format 17) — the classic 4:1 voice
    compression. Per-block layout (the spec's): a 4-byte header per
    channel (initial predictor int16, step index u8, reserved 0)
    carrying the FIRST sample verbatim, then 4-bit codes, LOW nibble
    first — mono packs them two-per-byte; multichannel (pass
    ``right`` for stereo, or ``multi`` = the full list of N >= 2
    equal-length channel lists) cycles 4-BYTE GROUPS of 8 codes per
    channel in channel order. The step indices persist across
    blocks. ``block_samples`` must be odd for mono (even nibble
    count) and ``1 + 8k`` for multichannel (the 8-frame group
    quantum)."""
    if multi is not None:
        if right is not None:
            raise ValueError("pass right OR multi, not both")
        chans = [list(c) for c in multi]
        if len(chans) < 2:
            raise ValueError("multi needs >= 2 channel lists")
    elif right is not None:
        chans = [list(samples), list(right)]
    else:
        chans = None
    if chans is not None:
        if any(len(c) != len(chans[0]) for c in chans):
            raise ValueError("channels must be equal length")
        if (block_samples - 1) % 8 != 0 or block_samples < 9:
            raise ValueError(
                "multichannel block_samples must be 1 + 8k (k >= 1)"
            )
    elif block_samples % 2 == 0 or block_samples < 3:
        raise ValueError("block_samples must be odd and >= 3")
    xs = [max(-32768, min(32767, int(v)))
          for v in (chans[0] if chans else samples)]
    if not xs:
        raise ValueError("no samples")
    if chans:
        chans = [
            [max(-32768, min(32767, int(v))) for v in c]
            for c in chans
        ]
    idx = [0] * (len(chans) if chans else 1)
    blocks = []
    for b0 in range(0, len(xs), block_samples):
        if not chans:
            bl = xs[b0 : b0 + block_samples]
            blocks.append(_struct.pack("<hBB", bl[0], idx[0], 0))
            nibbles, idx[0] = _ima_encode_codes(bl, idx[0])
            if len(nibbles) % 2:
                nibbles.append(0)  # final short block pads
            blocks.append(_pack_nibbles(nibbles))
            continue
        codes = []
        for ci, ch in enumerate(chans):
            bl = ch[b0 : b0 + block_samples]
            blocks.append(_struct.pack("<hBB", bl[0], idx[ci], 0))
            nc, idx[ci] = _ima_encode_codes(bl, idx[ci])
            nc += [0] * ((-len(nc)) % 8)
            codes.append(nc)
        for g in range(0, len(codes[0]), 8):
            for nc in codes:
                blocks.append(_pack_nibbles(nc[g : g + 8]))
    data = b"".join(blocks)
    channels = len(chans) if chans else 1
    if chans:
        # N hdrs + k groups x (4 bytes x N channels)
        block_align = 4 * channels + (
            (block_samples - 1) // 2
        ) * channels
    else:
        block_align = 4 + (block_samples - 1) // 2
    fmt = _struct.pack(
        "<HHIIHHHH",
        17,
        channels,
        sample_rate,
        sample_rate * block_align // block_samples,
        block_align,
        4,
        2,  # cbSize
        block_samples,  # wSamplesPerBlock
    )
    # the fact chunk is REQUIRED for compressed formats (RIFF/WAVE
    # spec): it carries the true sample count, which is how a
    # decoder distinguishes the final block's pad nibble from data
    fact = _struct.pack("<4sII", b"fact", 4, len(xs))
    return (
        _struct.pack(
            "<4sI4s",
            b"RIFF",
            4 + 8 + len(fmt) + len(fact) + 8 + len(data),
            b"WAVE",
        )
        + _struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + fact
        + _struct.pack("<4sI", b"data", len(data)) + data
    )


def _ima_adpcm_decode(
    data: bytes, block_align: int, samples_per_block: int
):
    """Decode mono IMA ADPCM blocks to int16 samples."""
    out = []
    for b0 in range(0, len(data) - 3, block_align):
        block = data[b0 : b0 + block_align]
        pred, index, _ = _struct.unpack_from("<hBB", block, 0)
        if index > 88:
            raise ValueError(f"IMA ADPCM step index {index} > 88")
        out.append(pred)
        produced = 1
        for byte in block[4:]:
            for code in (byte & 0xF, byte >> 4):
                if produced >= samples_per_block:
                    break
                pred, index = _ima_step(pred, index, code)
                out.append(pred)
                produced += 1
    return out


def _ima_adpcm_decode_stereo(
    data: bytes, block_align: int, samples_per_block: int
):
    """Decode STEREO IMA ADPCM blocks to per-channel int16 lists
    (thin wrapper over the N-channel kernel)."""
    lf, rt = _ima_adpcm_decode_multi(
        data, block_align, samples_per_block, 2
    )
    return lf, rt


def _ima_adpcm_decode_multi(
    data: bytes, block_align: int, samples_per_block: int,
    channels: int,
):
    """Decode N-channel IMA ADPCM blocks to per-channel int16
    lists. The spec's interleave: N 4-byte headers (channel order),
    then 4-BYTE GROUPS of 8 nibbles cycling the channels — each
    4*N-byte stride carries 8 sample frames."""
    chans: list[list[int]] = [[] for _ in range(channels)]
    hdr = 4 * channels
    for b0 in range(0, len(data) - hdr + 1, block_align):
        block = data[b0 : b0 + block_align]
        preds, idxs, prods = [], [], []
        for ci in range(channels):
            p, ix, _ = _struct.unpack_from("<hBB", block, 4 * ci)
            if ix > 88:
                raise ValueError(f"IMA ADPCM step index {ix} > 88")
            preds.append(p)
            idxs.append(ix)
            chans[ci].append(p)
            prods.append(1)
        pos = hdr
        while pos + 4 * channels <= len(block) and any(
            n < samples_per_block for n in prods
        ):
            for ci in range(channels):
                p, ix = preds[ci], idxs[ci]
                for byte in block[pos : pos + 4]:
                    for code in (byte & 0xF, byte >> 4):
                        if prods[ci] >= samples_per_block:
                            break
                        p, ix = _ima_step(p, ix, code)
                        chans[ci].append(p)
                        prods[ci] += 1
                preds[ci], idxs[ci] = p, ix
                pos += 4
    return chans


def decode_wav(payload: bytes):
    """REAL decode kernel for RIFF/WAVE: walks the chunk list (no
    fixed offsets — extra chunks like LIST are skipped), returns
    (mono float64 samples in [-1, 1], sample_rate). Stereo is
    averaged to mono. Handles PCM s16 (the default everywhere),
    packed 24-bit PCM (the studio-export depth), UNSIGNED 8-bit PCM
    (the spec's 8-bit convention), IEEE float32 (format 3), G.711
    A-law (format 6) and mu-law (format 7) — the telephony codecs,
    decoded through the exact ITU segment expansion — Microsoft ADPCM
    (format 2: second-order prediction over the seven published
    coefficient pairs, multiplicative delta adaptation, mono/stereo
    with the high-nibble-left interleave) — 1-8-channel IMA/DVI
    ADPCM (format 17, the classic 4:1 voice codec: block headers
    carrying the first sample + low-nibble-first 4-bit codes) — and
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrappers of any of those — the
    SubFormat GUID's leading u16 is the real format code. Other
    formats/depths raise. Dependency-free (struct + numpy only)."""
    import numpy as np  # noqa: PLC0415

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, fmt_body, data, fact_n = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = _struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = _struct.unpack_from("<HHIIHH", body, 0)
            fmt_body = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            (fact_n,) = _struct.unpack_from("<I", body, 0)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
        if len(fmt_body) < 40:
            raise ValueError("EXTENSIBLE fmt chunk truncated")
        (audio_format,) = _struct.unpack_from("<H", fmt_body, 24)
    if audio_format == 3:  # IEEE float
        if bits != 32:
            raise NotImplementedError(
                f"only 32-bit IEEE float supported (bits={bits})"
            )
        raw = np.frombuffer(
            data, dtype="<f4", count=len(data) // 4
        ).astype(np.float64)
    elif audio_format == 1 and bits == 16:
        raw = np.frombuffer(
            data, dtype="<i2", count=len(data) // 2
        ).astype(np.float64) / 32768.0
    elif audio_format == 1 and bits == 24:
        n3 = len(data) // 3
        b = np.frombuffer(data, dtype=np.uint8, count=n3 * 3).reshape(
            n3, 3
        )
        v = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        raw = v.astype(np.float64) / 8388608.0
    elif audio_format == 1 and bits == 8:
        raw = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            - 128.0
        ) / 128.0
    elif audio_format == 2:  # Microsoft ADPCM
        if bits != 4:
            raise NotImplementedError(
                f"MS ADPCM is 4-bit by definition (bits={bits})"
            )
        if channels not in (1, 2):
            raise NotImplementedError(
                f"MS ADPCM supports mono/stereo (channels={channels})"
            )
        block_align = fmt[4]
        if len(fmt_body) >= 22:
            spb, ncoef = _struct.unpack_from("<HH", fmt_body, 18)
            if len(fmt_body) < 22 + 4 * ncoef or ncoef < 1:
                raise ValueError(
                    "MS ADPCM fmt chunk coefficient table truncated"
                )
            coef1, coef2 = [], []
            for i in range(ncoef):
                a, b = _struct.unpack_from(
                    "<hh", fmt_body, 22 + 4 * i
                )
                coef1.append(a)
                coef2.append(b)
        else:
            spb = (block_align - 7 * channels) * 2 // channels + 2
            coef1, coef2 = _MS_COEF1, _MS_COEF2
        chans = _ms_adpcm_decode(
            data, block_align, spb, channels, coef1, coef2
        )
        if fact_n is not None:
            chans = [c[:fact_n] for c in chans]
        raw = np.mean(
            [np.asarray(c, dtype=np.float64) for c in chans],
            axis=0,
        ) / 32768.0
        return raw, sample_rate
    elif audio_format == 17:  # IMA/DVI ADPCM
        if bits != 4:
            raise NotImplementedError(
                f"IMA ADPCM is 4-bit by definition (bits={bits})"
            )
        if not 1 <= channels <= 8:
            raise NotImplementedError(
                f"IMA ADPCM supports 1-8 channels "
                f"(channels={channels})"
            )
        block_align = fmt[4]
        if len(fmt_body) >= 20:
            (spb,) = _struct.unpack_from("<H", fmt_body, 18)
        else:
            spb = (block_align - 4 * channels) * 2 // channels + 1
        if channels >= 2:
            chans = _ima_adpcm_decode_multi(
                data, block_align, spb, channels
            )
            if fact_n is not None:
                chans = [c[:fact_n] for c in chans]
            # channel-mean downmix, the pipeline's standard
            raw = np.mean(
                [np.asarray(c, dtype=np.float64) for c in chans],
                axis=0,
            ) / 32768.0
            return raw, sample_rate
        lin = _ima_adpcm_decode(data, block_align, spb)
        if fact_n is not None:
            lin = lin[:fact_n]  # drop the final block's pad nibble
        raw = np.asarray(lin, dtype=np.float64) / 32768.0
        return raw, sample_rate  # mono decoded in place, no downmix
    elif audio_format in (6, 7):  # G.711 A-law / mu-law
        if bits != 8:
            raise NotImplementedError(
                f"G.711 is 8-bit by definition (bits={bits})"
            )
        codes = np.frombuffer(data, dtype=np.uint8)
        lin = (
            _alaw_decode_np(codes)
            if audio_format == 6
            else _mulaw_decode_np(codes)
        )
        raw = lin.astype(np.float64) / 32768.0
    else:
        raise NotImplementedError(
            f"unsupported WAV (format={audio_format}, bits={bits}); "
            "supported: PCM 8/16/24-bit, IEEE float32, G.711 "
            "A-law/mu-law, MS ADPCM, 1-8-channel IMA ADPCM, EXTENSIBLE "
            "wrappers"
        )
    if channels > 1:
        raw = raw[: len(raw) - len(raw) % channels]
        raw = raw.reshape(-1, channels).mean(axis=1)
    return raw, sample_rate


def _f80_pack(rate: int) -> bytes:
    """Integer -> 80-bit IEEE extended (the AIFF COMM sample-rate
    field): 15-bit exponent biased 16383, 64-bit mantissa with the
    explicit integer bit."""
    if rate <= 0:
        raise ValueError(f"sample rate must be positive, got {rate}")
    e = rate.bit_length() - 1
    mant = rate << (63 - e)
    return _struct.pack(">HQ", 16383 + e, mant)


def _f80_unpack(b: bytes) -> int:
    """80-bit IEEE extended -> nearest int (sample rates are
    integers in practice)."""
    se, mant = _struct.unpack(">HQ", b[:10])
    if se & 0x8000:
        raise ValueError("negative AIFF sample rate")
    e = (se & 0x7FFF) - 16383
    if not -10 <= e <= 40:
        raise ValueError(f"implausible AIFF sample-rate exponent {e}")
    shift = 63 - e
    if shift >= 0:
        return (mant + (1 << (shift - 1) if shift else 0)) >> shift
    return mant << (-shift)


def encode_au(
    samples, sample_rate: int = 8000, encoding: int = 3,
    channels: int = 1,
) -> bytes:
    """Sun/NeXT AU (.snd): big-endian header (magic, data offset,
    size, encoding, rate, channels) + big-endian data. Encodings:
    1 G.711 mu-law, 2 signed 8-bit PCM, 3 signed 16-bit PCM,
    27 G.711 A-law. ``samples`` are channel-interleaved int16
    (8-bit modes take the high byte)."""
    import numpy as np  # noqa: PLC0415

    xs = np.asarray(
        [max(-32768, min(32767, int(v))) for v in samples],
        dtype=np.int64,
    )
    if len(xs) % max(channels, 1):
        raise ValueError(
            f"{len(xs)} samples do not interleave {channels} channels"
        )
    if encoding == 1:
        data = _mulaw_encode_np(xs.astype(np.int32)).tobytes()
    elif encoding == 27:
        data = _alaw_encode_np(xs.astype(np.int32)).tobytes()
    elif encoding == 2:
        data = (xs >> 8).astype(np.int8).tobytes()
    elif encoding == 3:
        data = xs.astype(">i2").tobytes()
    else:
        raise NotImplementedError(
            f"AU encoding {encoding} not supported (1/2/3/27)"
        )
    hdr = _struct.pack(
        ">4sIIIII", b".snd", 24, len(data), encoding,
        sample_rate, channels,
    )
    return hdr + data


def decode_au(payload: bytes):
    """AU bytes -> (mono float64 samples in [-1, 1], sample_rate);
    multichannel downmixed to the channel mean. Supports encodings
    1 (mu-law), 2 (signed 8-bit), 3 (signed 16-bit BE) and
    27 (A-law); everything else refuses loudly."""
    import numpy as np  # noqa: PLC0415

    if payload[:4] != b".snd":
        raise ValueError("not an AU payload")
    _m, off, size, enc, rate, channels = _struct.unpack_from(
        ">4sIIIII", payload, 0
    )
    if off < 24 or off > len(payload):
        raise ValueError(f"AU data offset {off} out of range")
    if channels < 1 or channels > 16:
        raise ValueError(f"AU channel count {channels} out of range")
    data = payload[off:]
    if size != 0xFFFFFFFF:
        if size > len(data):
            raise ValueError(
                f"AU header promises {size} data bytes, "
                f"{len(data)} present"
            )
        data = data[:size]
    if enc == 1:
        lin = _mulaw_decode_np(np.frombuffer(data, np.uint8))
        raw = lin.astype(np.float64) / 32768.0
    elif enc == 27:
        lin = _alaw_decode_np(np.frombuffer(data, np.uint8))
        raw = lin.astype(np.float64) / 32768.0
    elif enc == 2:
        raw = np.frombuffer(data, np.int8).astype(np.float64) / 128.0
    elif enc == 3:
        n2 = len(data) // 2
        raw = np.frombuffer(
            data, dtype=">i2", count=n2
        ).astype(np.float64) / 32768.0
    else:
        raise NotImplementedError(
            f"AU encoding {enc} not supported "
            "(1 mu-law / 2 pcm8 / 3 pcm16 / 27 A-law)"
        )
    if channels > 1:
        raw = raw[: len(raw) - len(raw) % channels]
        raw = raw.reshape(-1, channels).mean(axis=1)
    return raw, rate


def encode_aiff(
    samples, sample_rate: int = 8000, bits: int = 16,
    channels: int = 1,
) -> bytes:
    """AIFF: FORM/AIFF with COMM (channels, frames, sampleSize, the
    80-bit extended sample rate) and SSND (offset/blockSize 0 +
    big-endian SIGNED samples — AIFF's 8-bit convention is signed,
    unlike WAV's unsigned). ``samples`` are channel-interleaved
    int16; 8-bit mode takes the high byte."""
    import numpy as np  # noqa: PLC0415

    if bits not in (8, 16):
        raise NotImplementedError(
            f"AIFF sample size {bits} not supported (8/16)"
        )
    xs = np.asarray(
        [max(-32768, min(32767, int(v))) for v in samples],
        dtype=np.int64,
    )
    if len(xs) % max(channels, 1):
        raise ValueError(
            f"{len(xs)} samples do not interleave {channels} channels"
        )
    data = (
        (xs >> 8).astype(np.int8).tobytes()
        if bits == 8
        else xs.astype(">i2").tobytes()
    )
    comm = _struct.pack(
        ">HIH", channels, len(xs) // channels, bits
    ) + _f80_pack(sample_rate)
    ssnd = _struct.pack(">II", 0, 0) + data
    out = b"FORM" + b"\x00\x00\x00\x00" + b"AIFF"
    for cid, body in ((b"COMM", comm), (b"SSND", ssnd)):
        out += cid + _struct.pack(">I", len(body)) + body
        if len(body) & 1:
            out += b"\x00"  # chunks are word-aligned
    return out[:4] + _struct.pack(">I", len(out) - 8) + out[8:]


def decode_aiff(payload: bytes):
    """AIFF bytes -> (mono float64 samples in [-1, 1], sample_rate);
    multichannel downmixed to the channel mean. Signed 8-bit and
    16-bit PCM; AIFC compressed variants and other depths refuse
    loudly."""
    import numpy as np  # noqa: PLC0415

    if payload[:4] != b"FORM" or payload[8:12] not in (
        b"AIFF", b"AIFC",
    ):
        raise ValueError("not an AIFF payload")
    if payload[8:12] == b"AIFC":
        raise NotImplementedError(
            "AIFC (compressed AIFF) not supported"
        )
    pos, comm, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = _struct.unpack_from(">I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            if len(body) < 8:
                raise ValueError("AIFF SSND chunk truncated")
            (off2, _blk) = _struct.unpack_from(">II", body, 0)
            data = body[8 + off2 :]
        pos += 8 + size + (size & 1)
    if comm is None or data is None:
        raise ValueError("missing AIFF COMM/SSND chunk")
    channels, frames, bits = _struct.unpack_from(">HIH", comm, 0)
    rate = _f80_unpack(comm[8:18])
    if channels < 1 or channels > 16:
        raise ValueError(f"AIFF channel count {channels} invalid")
    if bits == 16:
        want = frames * channels
        raw = np.frombuffer(
            data, dtype=">i2", count=min(want, len(data) // 2)
        ).astype(np.float64) / 32768.0
    elif bits == 8:
        want = frames * channels
        raw = np.frombuffer(
            data, dtype=np.int8, count=min(want, len(data))
        ).astype(np.float64) / 128.0
    else:
        raise NotImplementedError(
            f"AIFF sample size {bits} not supported (8/16)"
        )
    if len(raw) < frames * channels:
        raise ValueError(
            f"AIFF promises {frames} frames, data holds "
            f"{len(raw) // channels}"
        )
    if channels > 1:
        raw = raw.reshape(-1, channels).mean(axis=1)
    return raw, rate


def decode_audio_payload(raw: bytes):
    """(mono float64 samples in [-1, 1], sample_rate) for a WAV,
    AU (.snd), AIFF, or FLAC payload — the ONE audio decode dispatch both the
    chunk-feature kernel and the fingerprint kernel (multimodal/afp)
    go through: WAV via decode_wav, FLAC via decode_flac_info with
    bit-depth normalization, multichannel downmixed to the channel
    mean (the standard loudness convention, and it keeps a stereo
    encode of a mono pattern feature-identical to the mono twin)."""
    import numpy as np  # noqa: PLC0415

    if raw[:4] == b"RIFF":
        samples, rate = decode_wav(raw)
        return np.asarray(samples, dtype=np.float64), rate
    if raw[:4] == b".snd":
        return decode_au(raw)
    if raw[:4] == b"FORM":
        return decode_aiff(raw)
    from cdc_2025_spark.multimodal.flac import (  # noqa: PLC0415
        decode_flac_info,
    )

    info = decode_flac_info(raw)
    arr = np.asarray(info["samples"], dtype=np.float64) / float(
        1 << (info["bits"] - 1)
    )
    if info["channels"] > 1:
        arr = arr.reshape(-1, info["channels"]).mean(axis=1)
    return arr, info["sample_rate"]


def extract_audio_chunk_features(
    media: DataFrame, chunk_ms: int = 1000
) -> DataFrame:
    """Per-chunk audio loudness features (RMS + peak), one output row
    per ``chunk_ms`` of meta.duration_ms.

    Same two-phase shape as frame sampling: chunk cardinality is
    JVM-side explode (Catalyst sees it), the decode kernel is the
    Python stage. RIFF/WAVE PCM-16 payloads take the REAL path
    (decode_wav: chunk boundaries from the actual sample rate), and
    FLAC payloads take the REAL compressed path (decode_flac: LPC +
    Rice + CRC verification, multimodal/flac.py — lossless, so a
    FLAC twin of a WAV yields IDENTICAL features); AU (.snd) and
    AIFF containers dispatch through the same decode (r15 — their
    PCM16 twins of a WAV are feature-identical); other payloads
    take the stub path (raw unsigned 8-bit PCM cycled over chunks)
    so the plumbing stays testable without further codecs.
    """
    auds = media.filter(F.col("kind") == "audio").select(
        "media_id",
        "payload",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    (F.col("meta.duration_ms") / chunk_ms).cast("int") - 1,
                    F.lit(0),
                ),
            )
        ).alias("chunk_idx"),
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        # single-entry decode cache: the explode duplicates a payload
        # once PER CHUNK and emits a payload's chunk rows ADJACENTLY,
        # so caching only the last-decoded payload gives the same hit
        # rate as an unbounded memo with O(1) memory (an unbounded
        # memo would retain every distinct payload's float64 PCM for
        # the task lifetime). Keyed by the md5 of the FULL payload —
        # never a prefix: distinct recordings of equal length
        # routinely share their first bytes (RIFF header + leading
        # silence), and a prefix key would silently serve the wrong
        # audio. md5 over the raw bytes is trivial next to entropy
        # decode.
        import hashlib  # noqa: PLC0415

        cache_key: bytes | None = None
        cache_val = None

        def decoded(raw: bytes):
            nonlocal cache_key, cache_val
            key = hashlib.md5(raw).digest()
            if key != cache_key:
                cache_val = decode_audio_payload(raw)
                cache_key = key
            return cache_val

        for pdf in batches:
            rms, peak = [], []
            for p, i in zip(pdf["payload"], pdf["chunk_idx"]):
                raw = bytes(p)
                if raw[:4] in (b"RIFF", b"fLaC", b".snd", b"FORM"):
                    pcm, sr = decoded(raw)
                    spc = sr * chunk_ms // 1000
                    samples = pcm[int(i) * spc : (int(i) + 1) * spc]
                    if samples.size == 0:
                        samples = np.zeros(1)
                else:
                    buf = np.frombuffer(raw, dtype=np.uint8).astype(
                        np.float64
                    )
                    # stub "decode": rotate the buffer per chunk so
                    # chunks differ deterministically; center to [-1,1]
                    samples = (np.roll(buf, -int(i)) - 128.0) / 128.0
                rms.append(float(np.sqrt(np.mean(samples**2))))
                peak.append(float(np.abs(samples).max()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "chunk_idx": pdf["chunk_idx"],
                    "rms": rms,
                    "peak": peak,
                }
            )

    return auds.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame, every_ms: int = 500) -> DataFrame:
    """Frame sampling contract: one output row per sampled frame.

    The frame count derives from meta.duration_ms (declarative,
    JVM-side explode) — cheap metadata math first so Catalyst can
    estimate cardinality, expensive decode last. Per-frame decode
    dispatches on magic bytes: RIFF/AVI payloads take the REAL path
    (multimodal/avi.py container parse + baseline-JPEG frame decode —
    the container is parsed ONCE per payload within a batch and the
    sample time maps to a container frame via the stream's exact
    rate/scale timing), everything else keeps the deterministic stub
    hash (synthetic corpora). frame_sha256 for a real frame hashes
    the DECODED RGB pixels, so distinct-sha counts measure distinct
    decoded frames, not container bytes."""
    vids = media.filter(F.col("kind") == "video").select(
        "media_id",
        "payload",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    (F.col("meta.duration_ms") / every_ms).cast("int") - 1,
                    F.lit(0),
                ),
            )
        ).alias("frame_idx"),
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        from cdc_2025_spark.multimodal.avi import (  # noqa: PLC0415
            decode_avi_frame,
            frame_number_at,
            parse_avi,
        )

        # O(1) single-entry memo keyed by full-payload sha (the audio
        # chunk kernel's retention rule): exploded frame rows for one
        # payload are contiguous, so one slot serves every hit and
        # memory never grows with distinct payloads per task
        last: list = [None, None]

        def sha(p: bytes, idx: int) -> str:
            if p[:4] == b"RIFF" and p[8:12] == b"AVI ":
                key = hashlib.sha256(p).hexdigest()
                if last[0] != key:
                    last[0], last[1] = key, parse_avi(p)
                meta = last[1]
                fno = frame_number_at(meta, idx * every_ms)
                rgb = decode_avi_frame(meta, fno)
                return hashlib.sha256(rgb.tobytes()).hexdigest()
            return hashlib.sha256(
                p + idx.to_bytes(4, "little")
            ).hexdigest()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "frame_sha256": [
                        sha(bytes(p), int(i))
                        for p, i in zip(pdf["payload"], pdf["frame_idx"])
                    ],
                }
            )

    return vids.mapInPandas(run, FRAME_SAMPLE_SCHEMA)
