"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with a
metadata struct; decode / feature-extraction runs as Arrow-batched
`mapInPandas` stages. Raster decode is REAL for the four web formats —
pure-python/numpy PNG (stdlib zlib), BMP, GIF (full variable-width
LZW) and baseline JPEG (jpeg.py) — signature-dispatched through
`decode_image_array`, each with a matching synthetic encoder so
pixel-level stats carry exact SQL oracles. Only mp3/h264 (no ffmpeg in
this container) keep the deterministic md5 fallback — the Spark-side
contract (schema, batch shape, partitioning, null handling) is
identical either way.

Scale notes: binary payloads dominate byte volume; stages that don't
need the payload must never deserialize it (column pruning — see
extract.py's html handling for the same rule), and
`spark.sql.execution.arrow.maxRecordsPerBatch` bounds decode-batch
memory (payloads x batch-size is the working set per worker).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

FEATURE_DIM = 8

DECODED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("features", ArrayType(FloatType())),
    StructField("decode_error", StringType()),
])


def attach_payload(df: DataFrame) -> DataFrame:
    """Demo adapter: wrap ``text`` as an opaque binary payload with
    metadata — the shape a crawl with image/audio attachments has."""
    payload = F.col("text").cast("binary")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("image/png").alias("content_type"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


from askg_spark.jpeg import JPEG_SIG  # single source of the signature

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> samples/px


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_array(payload: bytes):
    """Pure-python/numpy PNG decode (stdlib zlib only — no PIL):
    -> (pixels uint8 ndarray of shape (h, w, channels), width, height).

    Supports the baseline raster: 8-bit depth, colortypes 0/2/4/6
    (gray / RGB / gray+alpha / RGBA), non-interlaced, all five row
    filters (None/Sub/Up/Average/Paeth). Anything else raises
    ValueError — callers surface it as decode_error (quarantine
    discipline). Filters Up/None are fully vectorized; Sub is a
    per-channel cumulative sum; Average/Paeth fall back to a per-pixel
    loop (rare in practice: encoders emit them for photographic
    content, and the synthetic corpus uses filter 0)."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    # chunk parse + inflate raise struct.error / zlib.error on
    # malformed real-world payloads — neither is a ValueError subclass,
    # so re-raise here to keep the "anything malformed raises
    # ValueError" contract the quarantine call sites rely on
    try:
        pos, ihdr, idat = len(PNG_SIG), None, []
        while pos + 8 <= len(payload):
            (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
                payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + length]
            pos += 12 + length  # length + type + data + crc
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat.append(data)
            elif ctype == b"IEND":
                break
        if ihdr is None or not idat:
            raise ValueError("truncated PNG (missing IHDR/IDAT)")
        w, h, depth, colortype, _comp, _filt, interlace = ihdr
        if depth != 8 or colortype not in _PNG_CHANNELS or interlace != 0:
            raise ValueError(
                f"unsupported PNG (depth={depth} colortype={colortype} "
                f"interlace={interlace}); baseline 8-bit only")
        ch = _PNG_CHANNELS[colortype]
        raw = zlib.decompress(b"".join(idat))
    except (struct.error, zlib.error) as exc:
        raise ValueError(f"corrupt PNG ({exc})") from exc
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("corrupt PNG (bad decompressed length)")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f, line = int(filters[r]), rows[r]
        if f == 0:                                   # None
            rec = line
        elif f == 2:                                 # Up
            rec = (line + prior) % 256
        elif f == 1:                                 # Sub
            rec = line.reshape(w, ch).cumsum(axis=0).reshape(stride) % 256
        elif f == 3:                                 # Average
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                rec[i] = (line[i] + (a + prior[i]) // 2) % 256
        elif f == 4:                                 # Paeth
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                c = prior[i - ch] if i >= ch else 0
                rec[i] = (line[i] + _paeth(int(a), int(prior[i]),
                                           int(c))) % 256
        else:
            raise ValueError(f"unsupported PNG row filter {f}")
        out[r] = rec
        prior = rec
    return out.astype(np.uint8).reshape(h, w, ch), w, h


def synth_png(doc_id: int) -> bytes:
    """Deterministic synthetic PNG for the planted-payload oracle:
    8-bit grayscale, width = 16 + doc_id % 32, height =
    16 + (doc_id * 7) % 32, pixel(r, c) = (doc_id + r + c) % 256,
    rows filter-0, one zlib IDAT — every stat downstream is a closed
    form of doc_id that SQL can recompute."""
    import struct
    import zlib

    w, h = 16 + doc_id % 32, 16 + (doc_id * 7) % 32

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    scan = b"".join(
        b"\x00" + bytes(((doc_id + r + c) % 256) for c in range(w))
        for r in range(h))
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b""))


_PNG_COLORTYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> colortype


def encode_png(px) -> bytes:
    """Encode a (h, w, ch) uint8 array as a valid baseline PNG
    (8-bit, colortype from channel count, filter-0 rows, one zlib
    IDAT) — the write half of `decode_png_array`, shared by the
    synthetic corpus and the real resize kernel."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    if ch not in _PNG_COLORTYPE:
        raise ValueError(f"unsupported channel count {ch}")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLORTYPE[ch], 0, 0, 0)
    flat = px.reshape(h, w * ch)
    scan = b"".join(b"\x00" + flat[r].tobytes() for r in range(h))
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b""))


def resize_target(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Bounded-box target dims: aspect-preserving shrink so
    max(ow, oh) <= max_side, never upscaling. Pure INTEGER math
    ((side * max_side) // longest) so an SQL oracle reproduces the
    geometry bit-for-bit — no float truncation boundary cases."""
    mx = max(w, h)
    if mx <= max_side:
        return w, h
    return max(1, (w * max_side) // mx), max(1, (h * max_side) // mx)


def box_downsample(px, ow: int, oh: int):
    """Exact integer area-average (box-filter) downsample of a
    (h, w, ch) uint8 array to (oh, ow, ch), no PIL: input row r maps
    to output row (r * oh) // h (same for columns), each output pixel
    is the INTEGER mean (floor) of its bin — every output value a
    closed form of the inputs, so stats over resized synthetic images
    carry an exact SQL oracle. Vectorized as two `np.add.reduceat`
    passes (rows then columns; integer sums commute) — no per-pixel
    python."""
    import numpy as np

    h, w, ch = px.shape
    if not (0 < ow <= w and 0 < oh <= h):
        raise ValueError(f"box_downsample only shrinks: {(w, h)} -> "
                         f"{(ow, oh)}")
    ri = (np.arange(h, dtype=np.int64) * oh) // h
    ci = (np.arange(w, dtype=np.int64) * ow) // w
    rstarts = np.searchsorted(ri, np.arange(oh))
    cstarts = np.searchsorted(ci, np.arange(ow))
    acc = np.add.reduceat(px.astype(np.int64), rstarts, axis=0)
    acc = np.add.reduceat(acc, cstarts, axis=1)
    rcnt = np.diff(np.append(rstarts, h))
    ccnt = np.diff(np.append(cstarts, w))
    cnt = (rcnt[:, None] * ccnt[None, :])[:, :, None]
    return (acc // cnt).astype(np.uint8)


BMP_SIG = b"BM"


def decode_bmp_array(payload: bytes):
    """Pure-python/numpy BMP decode (no PIL):
    -> (pixels uint8 ndarray of shape (h, w, 3) in RGB order, w, h).

    Supports the dominant uncompressed raster: BITMAPINFOHEADER
    (40-byte), 24-bit BI_RGB, bottom-up (positive height) or top-down
    (negative height) rows with 4-byte scanline padding. Anything else
    (palette/16/32-bit, RLE, V4/V5 headers with compression) raises
    ValueError — same quarantine contract as `decode_png_array`."""
    import struct

    import numpy as np

    if not payload.startswith(BMP_SIG):
        raise ValueError("not a BMP (bad signature)")
    try:
        (data_off,) = struct.unpack("<I", payload[10:14])
        (hdr_size, w, h_raw) = struct.unpack("<Iii", payload[14:26])
        planes, bpp = struct.unpack("<HH", payload[26:30])
        (compression,) = struct.unpack("<I", payload[30:34])
    except struct.error as exc:
        raise ValueError(f"truncated BMP header ({exc})") from exc
    if hdr_size < 40 or planes != 1:
        raise ValueError(f"unsupported BMP (hdr_size={hdr_size})")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP (bpp={bpp} compression={compression}); "
            "24-bit BI_RGB only")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError(f"corrupt BMP (dims {w}x{h_raw})")
    stride = ((w * 3 + 3) // 4) * 4
    body = payload[data_off:data_off + stride * h]
    if len(body) != stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)
    px = rows[:, :w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy(), w, h  # BGR file order -> RGB


def synth_bmp(doc_id: int) -> bytes:
    """Deterministic synthetic BMP for the planted-payload oracle:
    24-bit BI_RGB bottom-up, w = 12 + doc_id % 24,
    h = 12 + (doc_id * 5) % 24, channels R = (doc_id + r + c) % 256,
    G = (doc_id + 2r + c) % 256, B = (doc_id + r + 2c) % 256 — every
    downstream stat a closed form of doc_id that SQL recomputes."""
    import numpy as np

    w, h = 12 + doc_id % 24, 12 + (doc_id * 5) % 24
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    px = np.stack([(doc_id + r + c) % 256,
                   (doc_id + 2 * r + c) % 256,
                   (doc_id + r + 2 * c) % 256],
                  axis=2).astype(np.uint8)
    return encode_bmp(px)


def encode_bmp(px) -> bytes:
    """Encode a (h, w, 3) uint8 RGB array as a 24-bit BI_RGB
    bottom-up BMP — the write half of `decode_bmp_array`."""
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w, ch = px.shape
    if ch != 3:
        raise ValueError(f"encode_bmp needs RGB, got {ch} channels")
    stride = ((w * 3 + 3) // 4) * 4
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = body.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", BMP_SIG, 14 + 40 + len(data), 0, 0,
                       14 + 40)
    return head + info + data


GIF_SIGS = (b"GIF87a", b"GIF89a")


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int):
    """GIF-flavor LZW decode of a concatenated sub-block payload ->
    list of palette indices (length exactly n_pixels). Implements the
    full variable-width scheme: clear/end codes, dictionary growth to
    4096 with width bumps at 2^w, and the KwKwK self-reference case.
    Raises ValueError on malformed streams (quarantine contract)."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    # bit reader over the whole byte stream, LSB-first per GIF spec
    buf = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = []
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    data_len = len(data)
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= data_len:
                raise ValueError("truncated GIF LZW stream")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt GIF (bad first LZW code)")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):            # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF (LZW code out of range)")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended early")
    return out[:n_pixels]


def decode_gif_array(payload: bytes):
    """Pure-python GIF decode (no PIL):
    -> (pixels uint8 ndarray (h, w, 3), w, h) — the FIRST image frame,
    palette-mapped to RGB.

    Supports GIF87a/89a, global or local color table, full
    variable-width LZW (dictionary growth, clear/end codes, KwKwK),
    extension-block skipping (graphic control, comments, app blocks).
    Interlaced images and frames smaller than the logical screen
    raise ValueError — quarantine, same contract as the PNG/BMP
    decoders."""
    import struct

    import numpy as np

    if payload[:6] not in GIF_SIGS:
        raise ValueError("not a GIF (bad signature)")
    try:
        w, h, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = payload[pos:pos + 3 * n]
            pos += 3 * n
        while pos < len(payload):
            block = payload[pos]
            pos += 1
            if block == 0x21:               # extension: skip sub-blocks
                pos += 1                    # label
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif block == 0x2C:             # image descriptor
                ix, iy, iw, ih, iflags = struct.unpack(
                    "<HHHHB", payload[pos:pos + 9])
                pos += 9
                if iflags & 0x40:
                    raise ValueError("unsupported GIF (interlaced)")
                ct = gct
                if iflags & 0x80:
                    n = 2 << (iflags & 0x07)
                    ct = payload[pos:pos + 3 * n]
                    pos += 3 * n
                if ct is None:
                    raise ValueError("corrupt GIF (no color table)")
                if (ix, iy, iw, ih) != (0, 0, w, h):
                    raise ValueError(
                        "unsupported GIF (partial-frame image)")
                min_code = payload[pos]
                pos += 1
                chunks = []
                while payload[pos] != 0:
                    ln = payload[pos]
                    chunks.append(payload[pos + 1:pos + 1 + ln])
                    pos += 1 + ln
                idx = _lzw_decode(b"".join(chunks), min_code, w * h)
                pal = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3)
                arr = np.asarray(idx, dtype=np.int64)
                if arr.max() >= pal.shape[0]:
                    raise ValueError("corrupt GIF (index out of palette)")
                return pal[arr].reshape(h, w, 3), w, h
            elif block == 0x3B:             # trailer before any image
                break
            else:
                raise ValueError(f"corrupt GIF (block 0x{block:02x})")
    except (struct.error, IndexError) as exc:
        raise ValueError(f"truncated GIF ({exc})") from exc
    raise ValueError("truncated GIF (no image block)")


def encode_gif(indices, palette) -> bytes:
    """Encode a (h, w) uint8 palette-index array + (n, 3) palette as a
    single-frame GIF87a. The LZW stream uses literal codes with a
    clear code before every dictionary-size boundary — a valid
    (uncompressed-style) stream every conforming decoder accepts,
    which keeps the encoder exact and tiny; the DECODER above still
    handles fully-compressed real-world streams."""
    import struct

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, dtype=np.uint8)
    n = pal.shape[0]
    if n != 256:
        raise ValueError("encode_gif expects a 256-entry palette")
    min_code = 8
    clear = 1 << min_code                   # 256
    width = min_code + 1                    # 9 bits
    # literal codes only: emit CLEAR every 254 pixels so the implied
    # dictionary never reaches the 2^9 width bump — width stays 9
    bits = []
    flat = idx.reshape(-1)
    for start in range(0, flat.size, 254):
        bits.append(clear)
        bits.extend(int(v) for v in flat[start:start + 254])
    bits.append(clear + 1)                  # END
    # pack LSB-first
    buf = bytearray()
    acc = 0
    nbits = 0
    for code in bits:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    blocks = b"".join(
        bytes([min(255, len(buf) - i)]) + bytes(buf[i:i + 255])
        for i in range(0, len(buf), 255)) + b"\x00"
    head = (b"GIF87a" + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
            + pal.tobytes())
    imgdesc = b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    return head + imgdesc + bytes([min_code]) + blocks + b"\x3B"


def decode_image_array(payload: bytes):
    """Signature-dispatched raster decode: PNG, BMP, GIF or baseline
    JPEG -> (pixels uint8 (h, w, ch), w, h). Unknown signatures raise
    ValueError (quarantine) — the single entry point stats surfaces
    use so new codecs plug in here once."""
    if payload.startswith(PNG_SIG):
        return decode_png_array(payload)
    if payload.startswith(BMP_SIG):
        return decode_bmp_array(payload)
    if payload[:6] in GIF_SIGS:
        return decode_gif_array(payload)
    if payload.startswith(JPEG_SIG):
        from askg_spark.jpeg import decode_jpeg_array
        return decode_jpeg_array(payload)
    raise ValueError("unknown image signature")


def _is_raster(payload: bytes) -> bool:
    return (payload.startswith(PNG_SIG) or payload.startswith(BMP_SIG)
            or payload[:6] in GIF_SIGS or payload.startswith(JPEG_SIG))


def _decode_real(payload: bytes):
    """Real decoder: the built-in pure-python PNG/BMP/GIF/JPEG paths;
    other formats would need codecs this container lacks."""
    import numpy as np

    if _is_raster(payload):
        px, w, h = decode_image_array(payload)
        flat = px.astype(np.float64)
        features = [
            float(flat.mean() / 255.0),
            float(flat.std() / 255.0),
            float(flat.min() / 255.0),
            float(flat.max() / 255.0),
            float(px.shape[2] / 4.0),
            float((flat > 127).mean()),
            float(flat[0].mean() / 255.0),
            float(flat[:, 0].mean() / 255.0),
        ]
        return w, h, features
    raise NotImplementedError(
        "non-PNG/BMP/GIF decode requires PIL/ffmpeg; this environment "
        "ships none — the deterministic fallback keeps the plumbing "
        "testable")


def _decode_fallback(payload: bytes):
    """Deterministic fake decode: dimensions and features derived from
    md5(payload) — stable across runs/executors, exercises the full
    schema incl. realistic value ranges."""
    import hashlib
    d = hashlib.md5(payload).digest()
    width = 64 + d[0]
    height = 64 + d[1]
    features = [((d[i] / 255.0) * 2 - 1) for i in range(2, 2 + FEATURE_DIM)]
    return width, height, features


def decode_media(df: DataFrame) -> DataFrame:
    """(doc_id, payload, media_meta) -> DECODED_SCHEMA rows.

    Null/empty payloads produce a decode_error row (quarantine
    discipline, same VALID/REJECT split as extraction)."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, meta in zip(
                    pdf["doc_id"], pdf["payload"], pdf["media_meta"]):
                base = {
                    "doc_id": doc_id,
                    "media_type": meta["content_type"] if meta is not None else None,
                    "n_bytes": len(payload) if payload is not None else 0,
                    "width": None, "height": None, "features": None,
                    "decode_error": None,
                }
                if payload is None or len(payload) == 0:
                    base["decode_error"] = "empty_payload"
                else:
                    try:
                        w, h, feats = _decode_real(bytes(payload))
                        base.update(width=w, height=h,
                                    features=[float(x) for x in feats])
                    except NotImplementedError:
                        w, h, feats = _decode_fallback(bytes(payload))
                        base.update(width=w, height=h,
                                    features=[float(x) for x in feats])
                    except ValueError as exc:
                        # malformed/unsupported image -> quarantine row
                        base["decode_error"] = str(exc)
                rows.append(base)
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA])

    return df.select("doc_id", "payload", "media_meta").mapInPandas(
        run, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("payload", BinaryType()),
    StructField("resize_error", StringType()),
])


def _resize_real(payload: bytes, max_side: int):
    """REAL resize for raster payloads (PNG/BMP/GIF/JPEG), no PIL:
    decode via the built-in codecs, exact integer box-filter
    downsample, re-encode — a full decode->kernel->encode round trip
    whose output pixels are a closed form of the input. Video stills
    still need codecs this container lacks and fall through to the
    deterministic fallback."""
    if _is_raster(payload):
        px, w, h = decode_image_array(payload)
        ow, oh = resize_target(w, h, max_side)
        out = px if (ow, oh) == (w, h) else box_downsample(px, ow, oh)
        # format-preserving for PNG/BMP; GIF and JPEG re-encode as
        # PNG (the box filter produces true-color pixels — GIF would
        # need re-palettizing, and a JPEG re-encode would stack a
        # second lossy generation; lossless PNG is the honest
        # container for a derived thumbnail)
        enc = encode_bmp if payload.startswith(BMP_SIG) else encode_png
        return ow, oh, enc(out)
    raise NotImplementedError(
        "non-raster resize requires PIL/ffmpeg; this environment "
        "ships none — the deterministic fallback keeps the plumbing "
        "testable")


def _resize_fallback(payload: bytes, max_side: int):
    """Deterministic fake resize: source dims from the same md5-derived
    geometry as `_decode_fallback`, aspect-ratio-preserving scale to fit
    `max_side`, output payload scaled to ~scale^2 of the input bytes
    (what a real re-encode roughly does) — md5-keyed so it is stable
    across runs/executors."""
    import hashlib
    d = hashlib.md5(payload).digest()
    w, h = 64 + d[0], 64 + d[1]
    scale = min(1.0, max_side / max(w, h))
    ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
    out_len = max(1, int(len(payload) * scale * scale))
    reps = out_len // len(d) + 1
    return ow, oh, (d * reps)[:out_len]


def resize_media(df: DataFrame, max_side: int = 256) -> DataFrame:
    """(doc_id, payload, media_meta) -> RESIZED_SCHEMA rows: bounded-box
    downscale keeping aspect ratio (never upscales). PNG payloads run
    the REAL kernel (decode -> integer box-filter -> re-encode, all
    numpy); only non-PNG codecs fall back to the deterministic fake
    (no PIL/ffmpeg in this container). Malformed PNGs quarantine as
    resize_error rows, same discipline as decode_media.

    Scale note: output bytes <= input bytes by construction, so this
    stage only ever shrinks the shuffle footprint; run it BEFORE any
    repartition of media rows."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    rows.append({"doc_id": doc_id, "width": None,
                                 "height": None, "payload": None,
                                 "resize_error": "empty_payload"})
                    continue
                try:
                    w, h, out = _resize_real(bytes(payload), max_side)
                except NotImplementedError:
                    w, h, out = _resize_fallback(bytes(payload), max_side)
                except ValueError as exc:
                    rows.append({"doc_id": doc_id, "width": None,
                                 "height": None, "payload": None,
                                 "resize_error": str(exc)})
                    continue
                rows.append({"doc_id": doc_id, "width": w, "height": h,
                             "payload": out, "resize_error": None})
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA])

    return df.select("doc_id", "payload", "media_meta").mapInPandas(
        run, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", LongType()),
    StructField("frame", BinaryType()),
    StructField("sample_error", StringType()),
])

# Minimal raster-video container for the real frame-sample path:
# magic + uint32 frame count + per-frame uint32 lengths, then the
# concatenated frame payloads (each a standalone PNG). Real-world
# codecs (mp4/h264) need ffmpeg, which this container lacks — the
# seek+extract kernel below is the real logic either way: parse the
# index, slice only the sampled frames (never materialize the rest).
VID_MAGIC = b"ASKGVID1"


def encode_video(frames: list[bytes]) -> bytes:
    import struct
    head = VID_MAGIC + struct.pack(">I", len(frames)) \
        + b"".join(struct.pack(">I", len(f)) for f in frames)
    return head + b"".join(frames)


def parse_video_index(payload: bytes):
    """-> (n_frames, [(offset, length), ...]) without touching frame
    bytes; raises ValueError on malformed containers (quarantine)."""
    import struct
    if not payload.startswith(VID_MAGIC):
        raise ValueError("not an ASKGVID1 container")
    try:
        (n,) = struct.unpack(">I", payload[8:12])
        lens = struct.unpack(f">{n}I", payload[12:12 + 4 * n])
    except struct.error as exc:
        raise ValueError(f"corrupt video index ({exc})") from exc
    off, spans = 12 + 4 * n, []
    for ln in lens:
        spans.append((off, ln))
        off += ln
    if off > len(payload):
        raise ValueError("truncated video payload")
    return n, spans


def sample_indices(total: int, n_frames: int) -> list[int]:
    """Evenly-spaced sample indices over `total` frames, first and last
    always included when n_frames >= 2. INTEGER round-half-up
    ((2*i*(total-1) + (n-1)) // (2*(n-1))) so an SQL oracle reproduces
    the index set exactly — no float `round` banker's-rounding."""
    if total <= 0:
        return []
    if n_frames >= total:
        return list(range(total))
    if n_frames == 1:
        return [0]
    d = n_frames - 1
    return sorted({(2 * i * (total - 1) + d) // (2 * d)
                   for i in range(n_frames)})


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Uniform temporal frame sampling for video payloads:
    (doc_id, payload, media_meta) -> one FRAME_SCHEMA row per sampled
    frame, indices evenly spaced over the clip (first and last always
    included when n_frames >= 2), ts at a fixed 24 fps.

    ASKGVID1 containers run the REAL kernel: parse the frame index,
    slice exactly the sampled frames out of the payload (an index
    seek — untouched frames are never materialized, the same
    byte-skipping discipline a real demuxer has). Other payloads
    (real-world codecs need ffmpeg, absent here) keep the
    deterministic md5 fake so the plumbing stays testable on any
    bytes. Fan-out is n_frames rows per clip: bound Arrow batch
    memory with spark.sql.execution.arrow.maxRecordsPerBatch, and
    size n_frames so frame_bytes x n_frames stays under the
    per-worker budget (the same working-set rule as decode_media)."""
    import pandas as pd

    fps = 24

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    rows.append({"doc_id": doc_id, "frame_idx": None,
                                 "ts_ms": None, "frame": None,
                                 "sample_error": "empty_payload"})
                    continue
                payload = bytes(payload)
                if payload.startswith(VID_MAGIC):
                    try:
                        total, spans = parse_video_index(payload)
                    except ValueError as exc:
                        rows.append({"doc_id": doc_id, "frame_idx": None,
                                     "ts_ms": None, "frame": None,
                                     "sample_error": str(exc)})
                        continue
                    for fi in sample_indices(total, n_frames):
                        off, ln = spans[fi]
                        rows.append({"doc_id": doc_id, "frame_idx": fi,
                                     "ts_ms": fi * 1000 // fps,
                                     "frame": payload[off:off + ln],
                                     "sample_error": None})
                    continue
                d = hashlib.md5(payload).digest()
                total = 8 + d[2] % 120          # fake clip frame count
                for fi in sample_indices(total, n_frames):
                    fd = hashlib.md5(payload + fi.to_bytes(4, "big"))
                    rows.append({"doc_id": doc_id, "frame_idx": fi,
                                 "ts_ms": fi * 1000 // fps,
                                 "frame": fd.digest(),
                                 "sample_error": None})
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA])

    return df.select("doc_id", "payload", "media_meta").mapInPandas(
        run, schema=FRAME_SCHEMA)


def synth_png_corpus(docs: DataFrame) -> DataFrame:
    """Planted-payload media source: one real (bit-valid) synthetic PNG
    per doc_id — the shape `attach_payload` fakes, but with payloads the
    REAL decoder round-trips, so downstream stats carry an exact SQL
    oracle. Arrow-batched pandas UDF; per-row python is inherent to
    image encoding and this is a test-data synthesizer, not a hot-path
    operator."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_png(int(i)))

    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("image/png").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


def synth_video(doc_id: int) -> bytes:
    """Deterministic synthetic clip: 2 + doc_id % 7 frames, frame i a
    `synth_png(doc_id + 131*i)` — every sampled frame's geometry and
    pixel sum stays a closed form of (doc_id, frame_idx) that SQL can
    recompute. 131 is coprime to the 32/256 moduli in synth_png, so
    consecutive frames differ in both dims and content."""
    n = 2 + doc_id % 7
    return encode_video([synth_png(doc_id + 131 * i) for i in range(n)])


def synth_video_corpus(docs: DataFrame) -> DataFrame:
    """Planted-clip media source, one ASKGVID1 container per doc_id —
    the video analog of `synth_png_corpus`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_video(int(i)))

    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("video/x-askg-raster").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


PIXEL_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("sum_pixels", LongType()),
])


def png_pixel_stats(media: DataFrame) -> DataFrame:
    """Exact per-image pixel stats through the REAL decode path
    (PNG or BMP, dispatched by signature):
    (doc_id, payload, ...) -> (doc_id, width, height, n_pixels,
    sum_pixels) — every column a scalar integer, so the result is
    sort/hash-canonicalizable and, over `synth_png_corpus` /
    `synth_bmp_corpus`, a pure closed form of doc_id an SQL oracle
    recomputes cell-by-cell. `sum_pixels` sums ALL channels.
    Undecodable payloads are dropped (quarantine split belongs to
    decode_media; this is the measurement surface)."""
    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "width", "height", "n_pixels", "sum_pixels")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                try:
                    px, w, h = decode_image_array(bytes(payload))
                except ValueError:
                    continue
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(int(px.shape[0] * px.shape[1]))
                out["sum_pixels"].append(int(px.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=PIXEL_STATS_SCHEMA)


FRAME_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("sum_pixels", LongType()),
])


def frame_pixel_stats(frames: DataFrame) -> DataFrame:
    """Exact per-sampled-frame pixel stats through the REAL PNG decode:
    FRAME_SCHEMA rows -> (doc_id, frame_idx, ts_ms, width, height,
    n_pixels, sum_pixels), integers only. Undecodable frames are
    dropped (the quarantine split lives on sample_frames)."""
    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        cols = [f.name for f in FRAME_STATS_SCHEMA]
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, fi, ts, frame in zip(
                    pdf["doc_id"], pdf["frame_idx"], pdf["ts_ms"],
                    pdf["frame"]):
                if frame is None or len(frame) == 0:
                    continue
                try:
                    px, w, h = decode_png_array(bytes(frame))
                except ValueError:
                    continue
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(fi)
                out["ts_ms"].append(ts)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(int(px.shape[0] * px.shape[1]))
                out["sum_pixels"].append(int(px.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return frames.select("doc_id", "frame_idx", "ts_ms", "frame") \
        .mapInPandas(run, schema=FRAME_STATS_SCHEMA)


# png_pixel_stats dispatches on signature (PNG or BMP); the generic
# name is the forward-facing one.
image_pixel_stats = png_pixel_stats


def synth_gif(doc_id: int) -> bytes:
    """Deterministic synthetic GIF for the planted-payload oracle:
    single frame, 256-entry global palette
    pal[i] = (i, (2i) % 256, (3i) % 256),
    w = 10 + doc_id % 20, h = 10 + (doc_id * 3) % 20,
    index(r, c) = (doc_id + 3r + 5c) % 256 — every pixel-stat
    downstream a closed form of doc_id SQL recomputes."""
    import numpy as np

    w, h = 10 + doc_id % 20, 10 + (doc_id * 3) % 20
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    idx = ((doc_id + 3 * r + 5 * c) % 256).astype(np.uint8)
    i = np.arange(256, dtype=np.int64)
    pal = np.stack([i, (2 * i) % 256, (3 * i) % 256], axis=1)
    return encode_gif(idx, pal)


def synth_gif_corpus(docs: DataFrame) -> DataFrame:
    """Planted-payload media source: one bit-valid single-frame GIF
    per doc_id — exercises the LZW decoder end-to-end."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_gif(int(i)))

    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("image/gif").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


def synth_bmp_corpus(docs: DataFrame) -> DataFrame:
    """Planted-payload media source: one bit-valid 24-bit BMP per
    doc_id (see `synth_bmp` for the closed-form raster) — exercises
    the second real image codec end-to-end."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_bmp(int(i)))

    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("image/bmp").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


def synth_jpeg_corpus(docs: DataFrame) -> DataFrame:
    """Planted-payload media source: one baseline JFIF image per
    doc_id (constant gray 8x8 tiles — see jpeg.synth_jpeg) whose
    decode is integer-exact despite the lossy codec, so the fourth
    image format also carries a closed-form SQL oracle."""
    from pyspark.sql.functions import pandas_udf

    from askg_spark.jpeg import synth_jpeg

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_jpeg(int(i)))

    # the documents table is one parquet file at test SFs — without a
    # repartition the per-image python codec runs on ONE core; spread
    # it before the udf (at real scale the source is already wide)
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("image/jpeg").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


# ---------------------------------------------------------------------------
# Audio: real WAV/PCM decode (RIFF container, stdlib struct + numpy).
# ---------------------------------------------------------------------------

WAV_SIG = b"RIFF"


def decode_wav(payload: bytes):
    """Pure-python/numpy WAV decode (no audio libs):
    -> (samples int32 ndarray of shape (n, channels), sample_rate,
    bits_per_sample).

    Supports the canonical uncompressed forms: RIFF/WAVE container,
    `fmt ` chunk with PCM (format tag 1), 8-bit unsigned or 16-bit
    signed little-endian samples, any channel count. 8-bit samples are
    re-centered to signed (-128..127) so downstream stats are
    format-independent. Anything else (float/ADPCM/mu-law, truncated
    chunks) raises ValueError — same quarantine contract as the image
    decoders."""
    import struct

    import numpy as np

    if not (payload.startswith(WAV_SIG) and payload[8:12] == b"WAVE"):
        raise ValueError("not a WAV (bad RIFF/WAVE signature)")
    try:
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(payload):
            ctype = payload[pos:pos + 4]
            (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
            body = payload[pos + 8:pos + 8 + length]
            pos += 8 + length + (length & 1)  # chunks are word-aligned
            if ctype == b"fmt ":
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif ctype == b"data":
                data = body
        if fmt is None or data is None:
            raise ValueError("truncated WAV (missing fmt/data chunk)")
    except struct.error as exc:
        raise ValueError(f"corrupt WAV ({exc})") from exc
    audio_format, channels, rate, _brate, _balign, bits = fmt
    if audio_format != 1 or bits not in (8, 16) or channels < 1:
        raise ValueError(
            f"unsupported WAV (format={audio_format} bits={bits} "
            f"channels={channels}); PCM 8/16-bit only")
    if bits == 16:
        n = len(data) // (2 * channels)
        raw = np.frombuffer(data[:n * 2 * channels], dtype="<i2")
    else:
        n = len(data) // channels
        raw = np.frombuffer(data[:n * channels],
                            dtype=np.uint8).astype(np.int16) - 128
    if n == 0:
        raise ValueError("empty WAV data chunk")
    return raw.astype(np.int32).reshape(n, channels), rate, bits


def encode_wav(samples, sample_rate: int) -> bytes:
    """Encode an (n, channels) int array as 16-bit PCM WAV — the
    write half of `decode_wav`, used by the synthetic corpus."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate,
                      sample_rate * ch * 2, ch * 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def synth_wav(doc_id: int) -> bytes:
    """Deterministic synthetic clip for the planted-payload oracle:
    16-bit PCM mono, sample_rate = 8000 * (1 + doc_id % 3),
    n = 256 + (doc_id * 11) % 512,
    sample(i) = ((doc_id * 7 + i * 13) % 4096) - 2048 — every audio
    stat downstream is a closed form of doc_id SQL can recompute."""
    import numpy as np

    rate = 8000 * (1 + doc_id % 3)
    n = 256 + (doc_id * 11) % 512
    i = np.arange(n, dtype=np.int64)
    return encode_wav(((doc_id * 7 + i * 13) % 4096) - 2048, rate)


def synth_wav_corpus(docs: DataFrame) -> DataFrame:
    """Planted-clip audio source, one PCM WAV per doc_id — the audio
    analog of `synth_png_corpus`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_wav(int(i)))

    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("audio/wav").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


AUDIO_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_ms", LongType()),
    StructField("sum_abs", LongType()),
    StructField("peak_abs", LongType()),
])


def wav_sample_stats(media: DataFrame) -> DataFrame:
    """Exact per-clip sample stats through the REAL WAV decode:
    (doc_id, payload, ...) -> (doc_id, sample_rate, n_channels,
    n_samples, duration_ms, sum_abs, peak_abs) — integers only
    (duration_ms floors, sum/peak over |sample| across all channels),
    so the result is hash-canonicalizable and, over
    `synth_wav_corpus`, a closed form of doc_id. Undecodable payloads
    are dropped (quarantine belongs to a decode_media-style split;
    this is the measurement surface)."""
    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        cols = [f.name for f in AUDIO_STATS_SCHEMA]
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                try:
                    s, rate, _bits = decode_wav(bytes(payload))
                except ValueError:
                    continue
                a = np.abs(s.astype(np.int64))
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_channels"].append(int(s.shape[1]))
                out["n_samples"].append(int(s.shape[0]))
                out["duration_ms"].append(int(s.shape[0]) * 1000 // rate)
                out["sum_abs"].append(int(a.sum()))
                out["peak_abs"].append(int(a.max()))
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=AUDIO_STATS_SCHEMA)


# ------------------------------------------------------------------
# malformed-media quarantine (the error half of a crawl pipeline)

def synth_corrupt_payload(doc_id: int) -> bytes:
    """Deterministic mixed-health payload for ``doc_id``: 3 of every
    8 docs carry a valid image (PNG / BMP / GIF — each the same
    closed-form plant the per-codec stats queries use), the other 5
    carry a specific malformation class real crawl data exercises:

      k = doc_id % 8
      0 valid PNG                     4 bad magic (unknown signature)
      1 valid BMP                     5 truncated GIF LZW stream
      2 valid GIF                     6 JPEG SOI then garbage (no
      3 truncated PNG (cut mid-IHDR)    marker where one is required)
      7 empty payload

    Every malformation is engineered to raise ValueError in
    decode_image_array (the quarantine contract, multimodal.py decode
    paths), so (doc_id, quarantined) is an exact closed form of
    doc_id % 8 that a SQL oracle states directly."""
    k = doc_id % 8
    if k == 0:
        return synth_png(doc_id)
    if k == 1:
        return synth_bmp(doc_id)
    if k == 2:
        return synth_gif(doc_id)
    if k == 3:
        return synth_png(doc_id)[:16]
    if k == 4:
        return b"XXNOPE" + bytes(32)
    if k == 5:
        return synth_gif(doc_id)[:-6]
    if k == 6:
        return JPEG_SIG + bytes(24)
    return b""


def synth_corrupt_corpus(docs: DataFrame) -> DataFrame:
    """Planted mixed-health media source: one `synth_corrupt_payload`
    per doc_id — the fixture for certifying the ValueError-quarantine
    path end-to-end under the hash gate (advisor r4: the error path
    was pytest-only)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_corrupt_payload(int(i)))

    return docs.select(
        "doc_id", mk("doc_id").alias("payload")
    ).select(
        "doc_id", "payload",
        F.struct(
            F.lit("application/octet-stream").alias("content_type"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


QUARANTINE_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("quarantined", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("sum_pixels", LongType()),
])


def quarantine_stats(media: DataFrame) -> DataFrame:
    """Decode-with-quarantine measurement surface: EVERY input row
    comes back — decodable payloads with their exact pixel stats
    (quarantined=0), malformed/empty ones as a quarantine row
    (quarantined=1, zeroed stats) — unlike png_pixel_stats, which
    drops failures. This certifies the ValueError error path itself:
    a wrongly-swallowed decode error surfaces as a row whose
    quarantined flag (or stats) hash-mismatches the oracle's
    closed-form doc_id % 8 expectation.

    Plan: one Arrow-batched mapInPandas pass, no shuffle — the
    per-row python is the codec itself; at crawl scale the input is
    already partition-parallel and this is a pure map stage."""
    import pandas as pd

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        cols = [f.name for f in QUARANTINE_STATS_SCHEMA]
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                q, w, h, npx, sm = 1, 0, 0, 0, 0
                if payload is not None and len(payload) > 0:
                    try:
                        px, w, h = decode_image_array(bytes(payload))
                        q = 0
                        npx = int(px.shape[0] * px.shape[1])
                        sm = int(px.astype(np.int64).sum())
                    except ValueError:
                        q, w, h = 1, 0, 0
                out["doc_id"].append(doc_id)
                out["quarantined"].append(q)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(npx)
                out["sum_pixels"].append(sm)
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=QUARANTINE_STATS_SCHEMA)
