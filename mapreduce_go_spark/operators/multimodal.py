"""Multimodal columns (SURVEY §2.4 D20, north-star): typed nested
columns (struct/array/map from JSON), opaque binary payloads with
typed metadata, and Arrow-batched media decoding.

`decode_image` is a REAL stdlib decoder that reaches PIXELS for three
of the four formats: PNG (chunk walk -> IDAT zlib inflate -> scanline
unfilter, all five filter types — decode_png_pixels), GIF (extension
skip -> genuine LZW decompression -> palette mapping —
decode_gif_pixels), and BMP (raw pixel array, bottom-up rows, stride
padding); JPEG gets a genuine segment-walking header parse here, and
a full from-scratch BASELINE CODEC in functions/jpeg.py
(DCT + Annex K quant/Huffman tables + byte stuffing), exercised by
jpeg_pixel_roundtrip / jpeg_resize below, so all FOUR formats now
have true pixel paths. All header parsing is validated against
committed genuine image files in tests/fixtures/. mean_luma is a
TRUE pixel/sample mean for ALL FOUR formats: the synthesized
corpus's JPEG quarter is codec-real (make_media_payload encodes
through functions/jpeg.py) and decode_image runs the REAL entropy
decode for single-component baseline payloads.
MULTI-component JPEGs decode too (baseline interleaved
4:2:0/4:2:2/4:4:4 and progressive spectral selection — the committed
color fixture's shape); only coding processes outside that envelope
(successive approximation, arithmetic) keep an honest NULL luma.
`png_resize` is a TRUE nearest-neighbor
pixel resample + re-encode (encode_png). The Spark-side plumbing —
binary column in, `mapInPandas` over Arrow batches, typed feature
schema out — is real and fully value-oracled.

Scale note: media rows are wide (MBs); the decode pipeline keeps them
out of shuffles entirely — metadata extraction is a narrow map, and
any downstream agg happens on the (small) feature columns after the
binary column is dropped.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from mapreduce_go_spark import tables
from mapreduce_go_spark.operators.dedup import bucket_pairs, flag_dups


def multimodal_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20: build nested struct/array/map columns from events, then
    extract typed fields — the round-trip a multimodal row (text +
    vectors + structured props) takes through the engine."""
    ev = tables.load(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json(F.col("props"), "struct<k:int>").alias("pj"),
        F.struct(
            F.col("event_type").alias("t"), F.col("value").alias("v")
        ).alias("meta"),
        F.create_map(
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("type"), F.col("event_type"),
        ).alias("m"),
        F.array(F.col("value"), F.col("value") * 2).alias("vals"),
    )
    return parsed.select(
        "event_id",
        F.col("pj.k").alias("k"),
        F.col("meta.t").alias("meta_type"),
        F.element_at(F.col("m"), "user").alias("map_user"),
        F.element_at(F.col("vals"), 2).alias("val_x2"),
    )


def binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata: byte length, head hex, sha256 — the
    typed-metadata side of a binary media column, computed without
    ever shipping the payload through Python."""
    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.hex(F.substring(F.col("text"), 1, 8).cast("binary")).alias("head_hex"),
        F.sha2(F.col("text"), 256).alias("sha256"),
    )


# --- media decode: REAL stdlib parsing -------------------------------------
#
# The container ships no PIL/opencv, but image formats are public byte
# layouts — PNG magic + IHDR + zlib IDAT, GIF logical screen
# descriptor + LZW image data, BMP BITMAPINFOHEADER + raw pixel
# array — parseable with struct.unpack + stdlib zlib + ~70 lines of
# LZW, zero dependencies. decode_image below decodes PNG/GIF/BMP to
# actual pixels and walks JPEG's segment chain for the frame header,
# validated against committed real image files in tests/fixtures/.
# Only JPEG's huffman entropy stream would need a codec library.

import struct
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# PNG color type -> sample channels (PNG spec, table 11.1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def _stored_zlib(data: bytes) -> bytes:
    """A zlib stream of deflate STORED (uncompressed) blocks, built by
    hand so its length is a closed-form function of len(data):
    2 (zlib hdr) + 5*ceil(n/65535) (block headers) + n + 4 (adler32).
    zlib.decompress reads it like any other stream; the determinism is
    what lets the DuckDB oracle recompute container sizes exactly."""
    out = bytearray(b"\x78\x01")
    n = len(data)
    if n == 0:
        out += b"\x01\x00\x00\xff\xff"
    for off in range(0, n, 65535):
        blk = data[off:off + 65535]
        final = 1 if off + 65535 >= n else 0
        out += struct.pack("<BHH", final, len(blk), len(blk) ^ 0xFFFF)
        out += blk
    out += struct.pack(">I", zlib.adler32(data))
    return bytes(out)


def make_png(width: int, height: int, body: bytes = b"") -> bytes:
    """A REAL, fully decodable 8-bit grayscale PNG: `body` bytes are
    cycled into a width x height pixel raster, scanline y is filtered
    with type y % 3 (None/Sub/Up — so the unfilter path is genuinely
    exercised), and the filtered stream is wrapped in a stored-deflate
    IDAT (see _stored_zlib) + IEND, all CRCs correct. Total size is
    closed-form: 8 + 25 (IHDR) + 12 + zlen (IDAT) + 12 (IEND) where
    zlen = 11 + h*(w+1) for rasters under one stored block."""
    import numpy as np

    src = body if body else b"\x00"
    npix = width * height
    reps = -(-npix // len(src))
    pixels = np.frombuffer(src * reps, dtype=np.uint8)[:npix]
    raster = pixels.reshape(height, width)
    raw = bytearray()
    prev = np.zeros(width, dtype=np.uint8)
    for y in range(height):
        row = raster[y]
        ftype = y % 3
        if ftype == 0:
            filt = row
        elif ftype == 1:  # Sub: raw[i] = x[i] - x[i-1]
            filt = np.diff(row, prepend=np.uint8(0)).astype(np.uint8)
        else:             # Up: raw[i] = x[i] - prior[i]
            filt = (row - prev).astype(np.uint8)
        raw.append(ftype)
        raw += filt.tobytes()
        prev = row
    ihdr = struct.pack(">II5B", width, height, 8, 0, 0, 0, 0)
    return (PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _stored_zlib(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, "object"]:
    """Full PNG pixel decode, stdlib-only: chunk walk -> IDAT concat ->
    zlib inflate -> per-scanline unfilter (all five filter types, incl.
    Average/Paeth for real-world files) -> (width, height, channels,
    uint8 sample array). Supports the common non-interlaced 8-bit
    layouts (gray / RGB / gray+alpha / RGBA); palette, sub-byte depths
    and Adam7 raise ValueError like any decoder without that codepath.
    Sub/Up unfilters are vectorized (cumsum / running row add), so the
    per-byte Python loop only runs for Average/Paeth rows."""
    import numpy as np

    if len(payload) < 33 or payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", payload[16:29])
    if bit_depth != 8 or interlace != 0 or color_type not in (0, 2, 4, 6):
        raise ValueError("unsupported PNG pixel layout")
    channels = _PNG_CHANNELS[color_type]
    # chunk walk from after IHDR
    off, idat = 8 + 25, bytearray()
    while off + 8 <= len(payload):
        clen, ctype = struct.unpack(">I4s", payload[off:off + 8])
        data = payload[off + 8:off + 8 + clen]
        if len(data) < clen:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        off += 12 + clen
    if not idat:
        raise ValueError("PNG without IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT: {exc}") from exc
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel stream length mismatch")
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes, rows = mat[:, 0], mat[:, 1:]
    recon = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(h):
        ft, row = int(ftypes[y]), rows[y]
        prior = recon[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ft == 0:
            recon[y] = row
        elif ft == 1:    # Sub: per-channel-phase cumsum mod 256
            r = row.reshape(-1, bpp)
            recon[y] = np.cumsum(r, axis=0, dtype=np.uint64).astype(
                np.uint8).reshape(-1)
        elif ft == 2:    # Up
            recon[y] = row + prior
        elif ft == 3:    # Average
            out = recon[y]
            for i in range(stride):
                left = int(out[i - bpp]) if i >= bpp else 0
                out[i] = (int(row[i]) + (left + int(prior[i])) // 2) & 0xFF
        elif ft == 4:    # Paeth
            out = recon[y]
            for i in range(stride):
                a = int(out[i - bpp]) if i >= bpp else 0
                b = int(prior[i])
                c = int(prior[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                out[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
    return int(w), int(h), channels, recon.reshape(-1)


def _lzw_encode_flat(indices: bytes) -> bytes:
    """GIF LZW stream in the classic 'uncompressed GIF' scheme: a
    CLEAR code before every <=254-literal run keeps the dictionary
    below 512 entries, so every code is exactly 9 bits (LSB-first
    packing) and the stream length is CLOSED-FORM:
    ceil(9 * (npix + ceil(npix/254) + 1) / 8). Any conforming LZW
    decoder (including decode_gif_pixels below, which also handles
    real variable-width streams) reads it back verbatim. Fully
    numpy-vectorized (a per-code Python loop cost ~10 ms per image —
    the dominant cost of the media queries at sf0.1)."""
    import numpy as np

    clear, eoi = 256, 257
    idx = np.frombuffer(indices, dtype=np.uint8).astype(np.uint16)
    n = len(idx)
    groups = -(-n // 254) if n else 0
    codes = np.empty(n + groups + 1, dtype=np.uint16)
    pos = 0
    for g in range(groups):
        codes[pos] = clear
        chunk = idx[g * 254:(g + 1) * 254]
        codes[pos + 1:pos + 1 + len(chunk)] = chunk
        pos += 1 + len(chunk)
    codes[pos] = eoi
    bits = ((codes[:, None] >> np.arange(9, dtype=np.uint16)) & 1
            ).astype(np.uint8).reshape(-1)
    return np.packbits(bits, bitorder="little").tobytes()


def encode_gif(width: int, height: int, indices: bytes,
               palette: "object" = None) -> bytes:
    """Encode an index raster as a REAL GIF89a: 256-entry global color
    table (`palette` rows, zero-padded — grayscale identity when
    None), one non-interlaced image block, flat-LZW image data
    (_lzw_encode_flat). Total size is closed-form:
    794 + lzw + ceil(lzw/255)."""
    if len(indices) != width * height:
        raise ValueError("index buffer does not match dimensions")
    if palette is None:
        gct = bytes(v for i in range(256) for v in (i, i, i))
    else:
        raw = bytes(bytearray(palette.reshape(-1)))
        gct = raw + b"\x00" * (768 - len(raw))
    lsd = struct.pack("<HH", width, height) + b"\xf7\x00\x00"
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    lzw = _lzw_encode_flat(indices)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (b"GIF89a" + lsd + gct + desc + bytes([8]) + bytes(blocks)
            + b"\x3b")


def make_gif(width: int, height: int, body: bytes = b"") -> bytes:
    """A REAL, fully decodable GIF89a with `body` bytes cycled into
    the w*h index raster over the grayscale-identity palette (index i
    -> (i,i,i)) — see encode_gif for the closed-form size."""
    src = body if body else b"\x00"
    npix = width * height
    reps = -(-npix // len(src))
    return encode_gif(width, height, (src * reps)[:npix])


def resample_gif_half(payload: bytes) -> tuple[int, int, bytes, bytes]:
    """TRUE nearest-neighbor 2:1 downsample of a decodable GIF:
    decode to palette indices, keep every other pixel in x and y,
    re-encode with the SOURCE palette. Returns (out_w, out_h,
    resampled index bytes, GIF bytes)."""
    import numpy as np

    _w, _h, iw, ih, idx, palette = decode_gif_indices(payload)
    raster = np.asarray(idx).reshape(ih, iw)
    out = np.ascontiguousarray(raster[::2, ::2])
    oh, ow = out.shape
    buf = out.reshape(-1).tobytes()
    return ow, oh, buf, encode_gif(ow, oh, buf, palette)


def _lzw_decode_flat9(data: bytes, expected: int) -> bytes | None:
    """Vectorized decode for the all-literal fixed-9-bit LZW shape
    _lzw_encode_flat emits (initial CLEAR, <=254-literal runs between
    CLEARs — so the code width provably never leaves 9 bits). Returns
    None when the stream doesn't have that shape (real compressed
    GIFs: dictionary-reference codes, longer runs) — the general
    decoder below takes over. Same numbers either way; the fast path
    only exists because the per-code Python loop dominated media query
    time at sf0.1."""
    import numpy as np

    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8),
                         bitorder="little")
    ncodes = len(bits) // 9
    if ncodes == 0:
        return None
    codes = bits[:ncodes * 9].reshape(-1, 9).astype(np.uint16) @ (
        np.uint16(1) << np.arange(9, dtype=np.uint16))
    eoi_pos = np.nonzero(codes == 257)[0]
    if len(eoi_pos) == 0:
        return None
    codes = codes[:eoi_pos[0]]
    if len(codes) == 0 or codes[0] != 256:
        return None
    clear_idx = np.nonzero(codes == 256)[0]
    run_lens = np.append(clear_idx[1:], len(codes)) - clear_idx - 1
    if np.any(run_lens > 254):  # width could have grown past 9 bits
        return None
    lits = codes[codes != 256]
    if len(lits) != expected or np.any(lits > 255):
        return None  # dictionary references -> general decode
    return lits.astype(np.uint8).tobytes()


def _lzw_decode(data: bytes, mcs: int, expected: int) -> bytes:
    """General GIF LZW decode (variable code width, dictionary reset
    on CLEAR, KwKwK case, width growth capped at 12 bits) — handles
    both real-world compressed streams and the flat synthesis (the
    latter through the vectorized _lzw_decode_flat9 fast path)."""
    if mcs == 8:
        fast = _lzw_decode_flat9(data, expected)
        if fast is not None:
            return fast
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    width = mcs + 1
    table: list[bytes] | None = None
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width, prev = list(base), mcs + 1, None
                continue
            if code == eoi:
                return bytes(out)
            if table is None:
                raise ValueError("GIF LZW code before first clear")
            if prev is None:
                if code >= len(base) - 2:
                    raise ValueError("GIF LZW first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW code beyond dictionary")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    raise ValueError("GIF LZW stream ended early")


def decode_gif_pixels(payload: bytes) -> tuple[int, int, "object"]:
    """Full GIF pixel decode, stdlib-only: logical screen descriptor,
    global/local color table, extension-block skip, genuine LZW
    decompression of the first image block, palette mapping to RGB
    samples. Interlaced images raise ValueError (no codepath), like
    any decoder without that feature. Returns (lsd_w, lsd_h, uint8
    RGB sample array)."""
    w, h, iw, ih, idx, palette = decode_gif_indices(payload)
    return w, h, palette[idx].reshape(-1)


def decode_gif_indices(
        payload: bytes) -> tuple[int, int, int, int, "object", "object"]:
    """decode_gif_pixels' index-level form: (lsd_w, lsd_h, img_w,
    img_h, uint8 index array, (n,3) uint8 palette) — what a resample
    needs (resampling palette INDICES is the nearest-neighbor
    operation; RGB mapping is presentation)."""
    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", payload[6:10])
    flags = payload[10]
    off = 13
    palette = None
    if flags & 0x80:
        size = 2 ** ((flags & 7) + 1)
        palette = np.frombuffer(
            payload[off:off + 3 * size], dtype=np.uint8).reshape(-1, 3)
        if palette.shape[0] != size:
            raise ValueError("truncated GIF color table")
        off += 3 * size
    while off < len(payload):
        block = payload[off]
        if block == 0x21:  # extension: label + sub-blocks
            off += 2
            while off < len(payload) and payload[off] != 0:
                off += 1 + payload[off]
            off += 1
        elif block == 0x2C:  # image descriptor
            if off + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            _l, _t, iw, ih, iflags = struct.unpack(
                "<HHHHB", payload[off + 1:off + 10])
            off += 10
            if iflags & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if iflags & 0x80:  # local color table wins
                size = 2 ** ((iflags & 7) + 1)
                palette = np.frombuffer(
                    payload[off:off + 3 * size], dtype=np.uint8
                ).reshape(-1, 3)
                if palette.shape[0] != size:
                    # the global-table path guards exactly this; a
                    # short LOCAL table silently shrank the palette
                    # and could map indices to wrong RGB
                    raise ValueError("truncated GIF color table")
                off += 3 * size
            if palette is None:
                raise ValueError("GIF image without a color table")
            if off >= len(payload):
                raise ValueError("truncated GIF image data")
            mcs = payload[off]
            off += 1
            if not 2 <= mcs <= 8:
                raise ValueError("bad GIF LZW min code size")
            data = bytearray()
            while off < len(payload) and payload[off] != 0:
                ln = payload[off]
                data += payload[off + 1:off + 1 + ln]
                off += 1 + ln
            idx = np.frombuffer(
                _lzw_decode(bytes(data), mcs, iw * ih), dtype=np.uint8)
            if idx.size == 0:  # a 0-pixel image, or EOI right after CLEAR
                raise ValueError("GIF image without pixels")
            if int(idx.max(initial=0)) >= palette.shape[0]:
                raise ValueError("GIF index beyond palette")
            return int(w), int(h), int(iw), int(ih), idx, palette
        elif block == 0x3B:
            break
        else:
            raise ValueError("unknown GIF block")
    raise ValueError("GIF without image data")


def make_bmp(width: int, height: int, body: bytes = b"") -> bytes:
    """A REAL, fully decodable 24-bit uncompressed BMP:
    BITMAPFILEHEADER(14) + BITMAPINFOHEADER(40) + bottom-up pixel
    array with 4-byte row padding. `body` bytes are cycled into the
    top-down 3*w*h sample stream (the BMP stores them bottom-up, as
    the format requires). Total size is closed-form:
    54 + row_stride * height, row_stride = (3*w + 3) & ~3."""
    import numpy as np

    src = body if body else b"\x00"
    n3 = width * height * 3
    reps = -(-n3 // len(src))
    px = np.frombuffer(src * reps, dtype=np.uint8)[:n3].reshape(
        height, width * 3)
    stride = (width * 3 + 3) & ~3
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :width * 3] = px
    arr = rows[::-1].tobytes()  # bottom-up row order
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(arr), 0, 0, 0, 0)
    filehdr = b"BM" + struct.pack("<IHHI", 54 + len(arr), 0, 0, 54)
    return filehdr + info + arr


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Parse an uncompressed BMP (BITMAPINFOHEADER, 8/24/32 bpp) to
    its raw samples in TOP-DOWN row order with the 4-byte row padding
    stripped: (width, height, channels, sample bytes of length
    w*h*ch). The exact inverse of make_bmp for the 24-bit case.
    Raises ValueError on truncated or compressed/paletted layouts."""
    import numpy as np

    if len(payload) < 34 or payload[:2] != b"BM":
        raise ValueError("truncated BMP header")
    data_off = struct.unpack("<I", payload[10:14])[0]
    _hsz, w, h, _planes, bpp = struct.unpack("<IiiHH", payload[14:30])
    comp = struct.unpack("<I", payload[30:34])[0]
    # 8-bpp is PALETTED (the color table is mandatory): returning its
    # index bytes as samples reports palette-INDEX luma — silently
    # wrong metadata; the docstring promises ValueError for
    # paletted layouts
    if comp != 0 or bpp not in (24, 32) or h == 0 or w <= 0:
        raise ValueError("unsupported BMP pixel layout")
    channels = bpp // 8
    ah = abs(h)
    stride = (w * channels + 3) & ~3
    if len(payload) < data_off + stride * ah:
        raise ValueError("truncated BMP pixel array")
    mat = np.frombuffer(
        payload[data_off:data_off + stride * ah], dtype=np.uint8
    ).reshape(ah, stride)[:, :w * channels]
    if h > 0:
        mat = mat[::-1]  # stored bottom-up -> top-down
    return int(w), int(ah), int(channels), mat.tobytes()


def encode_bmp(width: int, height: int, channels: int,
               samples: bytes) -> bytes:
    """Re-encode a top-down sample buffer as a real uncompressed BMP
    (bottom-up rows, 4-byte row padding) — the inverse of
    decode_bmp_pixels; 24-bit output matches make_bmp's layout, so
    the container size stays closed-form: 54 + ((ch*w + 3) & ~3) * h."""
    import numpy as np

    stride_in = width * channels
    if len(samples) != stride_in * height:
        raise ValueError("sample buffer does not match dimensions")
    if channels not in (1, 3, 4):
        raise ValueError("BMP supports 1/3/4 channel samples")
    px = np.frombuffer(samples, dtype=np.uint8).reshape(height, stride_in)
    stride = (stride_in + 3) & ~3
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :stride_in] = px
    arr = rows[::-1].tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1,
                       8 * channels, 0, len(arr), 0, 0, 0, 0)
    filehdr = b"BM" + struct.pack("<IHHI", 54 + len(arr), 0, 0, 54)
    return filehdr + info + arr


def resample_bmp_half(payload: bytes) -> tuple[int, int, bytes, bytes]:
    """TRUE nearest-neighbor 2:1 downsample of an uncompressed BMP:
    decode to pixels, keep every other PIXEL (all its channels) in x
    and y, re-encode a real BMP. Returns (out_w, out_h, resampled
    sample bytes, BMP bytes) — same contract as resample_png_half."""
    import numpy as np

    w, h, ch, samples = decode_bmp_pixels(payload)
    raster = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, ch)
    out = np.ascontiguousarray(raster[::2, ::2, :])
    oh, ow = out.shape[0], out.shape[1]
    buf = out.reshape(-1).tobytes()
    return ow, oh, buf, encode_bmp(ow, oh, ch, buf)


# JPEG markers whose segment carries the frame header (SOF0..SOF15
# minus DHT/JPG/DAC which share the 0xC, JPEG spec table B.1)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
# markers with NO length field (standalone): TEM, RSTn, SOI, EOI
_JPEG_STANDALONE = {0x01, *range(0xD0, 0xD8), 0xD8, 0xD9}


def make_jpeg(width: int, height: int, body: bytes = b"") -> bytes:
    """SOI + APP0/JFIF + SOF0 (8-bit, 3 components) + `body` standing
    in for the entropy-coded stream. The SOF0 is NOT at a fixed offset
    in real files — decode_image finds it by walking segments."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    comps = b"".join(struct.pack("BBB", cid, 0x11, 0)
                     for cid in (1, 2, 3))
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * 3, 8,
                                    height, width, 3) + comps
    return b"\xff\xd8" + app0 + sof + body


# (JPEG has no fixed body offset — decode_image derives it from the
# segment walk. make_jpeg is a TEST HELPER only: the
# synthesized corpus's JPEG rows are real codec output — see
# make_media_payload — so no oracle depends on this layout anymore.)


def decode_image(payload: bytes) -> dict:
    """REAL image decoding, stdlib-only: sniff the magic, struct.unpack
    the dimensioned header (PNG IHDR is big-endian; GIF and BMP are
    little-endian), derive channels from the format's own fields (PNG
    color type, BMP bits-per-pixel). Raises ValueError on truncated/
    unknown payloads the way a real decoder would.

    ALL FOUR formats decode to PIXELS for mean_luma — an exact
    integer-sum / count double, identical across engines: PNG via
    IDAT inflate + unfilter, GIF via real LZW + palette mapping, BMP
    via the raw bottom-up pixel array, and JPEG via the from-scratch
    entropy decoders (functions/jpeg: decode_gray for the
    single-component corpus; decode_luma for multi-component
    baseline/progressive files, the
    committed color fixture included — luma is the decoded Y-plane
    mean). Multi-component files OUTSIDE the codec's envelope
    (successive approximation, arithmetic coding, restart intervals,
    corrupt entropy) keep header metadata with an honest NULL luma,
    never a byte-prefix summary."""
    if payload is None or len(payload) < 16:
        raise ValueError("truncated payload")
    if payload[:8] == PNG_MAGIC:
        length, ctype = struct.unpack(">I4s", payload[8:16])
        if ctype != b"IHDR" or length != 13 or len(payload) < 33:
            raise ValueError("malformed PNG: first chunk is not IHDR-13")
        w, h, channels, pixels = decode_png_pixels(payload)
        return {"format": "png", "width": int(w), "height": int(h),
                "channels": int(channels),
                "mean_luma": float(int(pixels.sum(dtype="uint64"))
                                   / len(pixels))}
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        # GIF also decodes to PIXELS: real LZW decompression + palette
        # mapping (decode_gif_pixels); luma is the true mean of the
        # mapped RGB samples.
        w, h, samples = decode_gif_pixels(payload)
        return {"format": "gif", "width": int(w), "height": int(h),
                "channels": 3,
                "mean_luma": float(int(samples.sum(dtype="uint64"))
                                   / samples.size)}
    elif payload[:2] == b"BM":
        # BMP pixel arrays are RAW (no entropy coding), so this format
        # also decodes to true PIXELS (decode_bmp_pixels: data offset,
        # bottom-up row order, 4-byte row padding all undone).
        w, ah, channels, samples = decode_bmp_pixels(payload)
        import numpy as np

        arr = np.frombuffer(samples, dtype=np.uint8)
        return {"format": "bmp", "width": int(w), "height": int(ah),
                "channels": int(channels),
                "mean_luma": float(int(arr.sum(dtype="uint64"))
                                   / arr.size)}
    elif payload[:2] == b"\xff\xd8":
        # JPEG: the frame header is not at a fixed offset — walk the
        # segment chain (marker, big-endian length) until a SOF marker,
        # skipping standalone markers, exactly as a real parser does.
        off, found = 2, False
        while off + 4 <= len(payload):
            if payload[off] != 0xFF:
                raise ValueError("malformed JPEG: lost marker sync")
            # spec B.1.1.2: any number of 0xFF fill bytes may precede
            # a marker — consume them so the byte after is the marker
            while payload[off + 1] == 0xFF and off + 4 <= len(payload):
                off += 1
            if off + 4 > len(payload):
                # fill bytes ran into the end of the buffer: too short
                # for marker + segment length (a short unpack below
                # would leak struct.error past the ValueError contract)
                raise ValueError("truncated JPEG segment")
            marker = payload[off + 1]
            if marker in _JPEG_STANDALONE:
                off += 2
                continue
            seglen = struct.unpack(">H", payload[off + 2:off + 4])[0]
            if marker in _JPEG_SOF:
                if off + 4 + 6 > len(payload):
                    raise ValueError("truncated JPEG SOF")
                _prec, h, w, nf = struct.unpack(
                    ">BHHB", payload[off + 4:off + 10])
                found = True
                break
            off += 2 + seglen
        if not found:
            raise ValueError("JPEG without SOF frame header")
        if nf == 1:
            # single-component baseline: a REAL entropy decode
            # (functions/jpeg.py Huffman + dequant + IDCT), so
            # mean_luma is the true mean of the decoded pixels (the
            # whole synthesized corpus is single-component:
            # make_media_payload encodes through the codec).
            from mapreduce_go_spark.functions import jpeg as _jpeg_codec

            dec = _jpeg_codec.decode_gray(payload)
            luma = float(int(dec.sum(dtype="uint64")) / dec.size)
        else:
            # multi-component: REAL entropy decode through the
            # color extension (baseline interleaved 4:4:4/4:2:2/4:2:0
            # and progressive spectral selection — the committed color
            # fixture's exact shape). mean_luma is the true mean of
            # the decoded Y plane. Files outside the supported
            # envelope (successive approximation, arithmetic coding,
            # restart intervals) or with a corrupt entropy stream
            # keep the honest NULL — metadata still parses.
            from mapreduce_go_spark.functions import jpeg as _jpeg_codec

            try:
                y = _jpeg_codec.decode_luma(payload)
                luma = float(int(y.sum(dtype="uint64")) / y.size)
            except ValueError:
                luma = None
        return {"format": "jpeg", "width": int(w), "height": int(h),
                "channels": int(nf), "mean_luma": luma}
    else:
        raise ValueError("unknown container format")


# parallelism guard for the Python decode stage (see tables.spread)
_spread = tables.spread


MEDIA_FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", IntegerType()),
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("mean_luma", DoubleType()),
])

# Deterministic per-doc payload synthesis (the fixtures ship no media
# files; TESTDATA is read-only): dims derive from doc_id, the doc's
# text bytes play the pixel stream, format rotates PNG/GIF/BMP/JPEG so all
# three parsers run, and every 11th doc is truncated to exercise the
# decoder's error path. The ORACLE recomputes the same fields from
# doc_id/text arithmetic — so if decode_image mis-parsed any header
# field, the differential check fails.
CORRUPT_EVERY = 11


def _media_dims(doc_id: int) -> tuple[int, int]:
    return 16 + (doc_id * 7) % 240, 16 + (doc_id * 13) % 240


def make_media_payload(doc_id: int, body: bytes) -> bytes:
    w, h = _media_dims(doc_id)
    if doc_id % CORRUPT_EVERY == 0:
        return body[:4]  # truncated junk: no parseable header
    fmt = doc_id % 4
    if fmt == 0:
        return make_png(w, h, body)
    if fmt == 1:
        return make_gif(w, h, body)
    if fmt == 2:
        return make_bmp(w, h, body)
    # fmt == 3: a REAL baseline JPEG through the from-scratch codec,
    # not the make_jpeg byte-layout stand-in. Dims follow the
    # codec-exercise formula
    # (_jpeg_gray_pixels: 8..63 px sides) so the per-doc DCT work
    # stays bounded at sf0.1; make_jpeg itself survives only as the
    # segment-walk test helper.
    from mapreduce_go_spark.functions import jpeg as _jpeg_codec

    px, _w, _h = _jpeg_gray_pixels(doc_id, body)
    return _jpeg_codec.encode_gray(px)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload) if payload is not None else b""
            try:
                feat = decode_image(b)
            except ValueError:
                feat = {"format": "corrupt", "width": None, "height": None,
                        "channels": None, "mean_luma": None}
            out.append({"doc_id": doc_id, "n_bytes": len(b), **feat})
        yield pd.DataFrame(out, columns=[f.name for f in MEDIA_FEATURE_SCHEMA])


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media feature extraction: binary column ->
    mapInPandas -> real decode (see decode_image) -> typed features
    incl. a NULL-featured 'corrupt' error path. Payloads come from the
    pre-encoded mixed-format corpus (media.media_table('img') — the
    ingest boundary: the kernel is decode-only, exactly what a
    production job pays on an ingested corpus), and every output field
    is value-checked against the DuckDB oracle — the JPEG quarter
    against a codec-twin VALUES list, the rest closed-form."""
    from mapreduce_go_spark import media

    imgs = media.media_table(spark, sf_dir, "img").select(
        "doc_id", "payload")
    return imgs.mapInPandas(_extract_features, MEDIA_FEATURE_SCHEMA)


FRAME_BYTES = 32    # fixed frame width (a real video frame is fixed-
FRAME_STRIDE = 64   # size too); stride 2x width = sample every other
                    # frame. Fixture docs are 47-558 bytes -> 1-9
                    # frames each, so the sampler path is exercised.


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 frame sampling: cut an opaque binary payload into fixed-
    size frames at a stride and emit per-frame metadata + content
    hash — the video-frame-sampling shape, entirely JVM-side (a real
    pipeline samples frame OFFSETS this way, then decodes only the
    sampled frames via the mapInPandas path). sequence+explode is a
    narrow map: no shuffle, payload never leaves the row."""
    docs = tables.load(spark, sf_dir, "documents")
    # F.length (CHARS), not octet_length: the frame content below is
    # substring (char addressing), so the count and the cuts must use
    # the same unit — mixed units disagree on any multi-byte UTF-8
    # text (the all-ASCII fixture hides it; the DuckDB oracle is
    # char-based too)
    nb = F.length("text")
    n_frames = F.when(
        nb >= FRAME_BYTES,
        ((nb - FRAME_BYTES) / FRAME_STRIDE).cast("int") + 1,
    ).otherwise(0)
    framed = (
        docs.select("doc_id", F.col("text"), n_frames.alias("nf"))
        .where(F.col("nf") > 0)
        .select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.col("nf") - 1))
            .alias("frame_no"),
        )
    )
    off = F.col("frame_no") * FRAME_STRIDE + 1
    frame = F.expr(
        f"substring(text, frame_no * {FRAME_STRIDE} + 1, {FRAME_BYTES})")
    return framed.select(
        "doc_id",
        "frame_no",
        off.alias("frame_off"),
        F.md5(frame.cast("binary")).alias("frame_md5"),
    )


# (All four synthesized formats have REAL pixel paths:
# resample_png_half, resample_gif_half, resample_bmp_half and the
# baseline-JPEG codec roundtrip/resize.)


# --- real PNG pixel resize --------------------------------------------------

# channels -> PNG color type (inverse of _PNG_CHANNELS for depth-8)
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png(width: int, height: int, channels: int,
               samples: bytes) -> bytes:
    """Re-encode a decoded sample buffer as a REAL PNG (depth 8, color
    type from the channel count, filter 0 scanlines, stored-deflate
    IDAT): the exact inverse of decode_png_pixels. Stored blocks keep
    the container size closed-form (68 + h*(w*ch+1) under one block) —
    what lets the png_resize oracle value-check output sizes."""
    stride = width * channels
    if len(samples) != stride * height:
        raise ValueError("sample buffer does not match dimensions")
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw += samples[y * stride:(y + 1) * stride]
    ihdr = struct.pack(">II5B", width, height, 8,
                       _PNG_COLOR_TYPE[channels], 0, 0, 0)
    return (PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _stored_zlib(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def resample_png_half(payload: bytes) -> tuple[int, int, bytes, bytes]:
    """TRUE nearest-neighbor 2:1 downsample of a decodable PNG: decode
    to pixels, keep every other pixel in x and y (source indices 0, 2,
    4, ...; output dims ceil(w/2) x ceil(h/2)), re-encode as a real
    PNG. Returns (out_w, out_h, resampled sample bytes, PNG bytes)."""
    import numpy as np

    w, h, ch, pixels = decode_png_pixels(payload)
    raster = np.asarray(pixels).reshape(h, w, ch)
    out = np.ascontiguousarray(raster[::2, ::2, :])
    oh, ow = out.shape[0], out.shape[1]
    buf = out.reshape(-1).tobytes()
    return ow, oh, buf, encode_png(ow, oh, ch, buf)


PNG_RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("in_w", IntegerType()),
    StructField("in_h", IntegerType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
    StructField("out_bytes", IntegerType()),
    StructField("pix_sha256", StringType()),
])


def _png_resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)  # pre-encoded (media_table('img'))
            in_w, in_h, _ch, _px = decode_png_pixels(b)
            ow, oh, buf, png = resample_png_half(b)
            out.append({
                "doc_id": doc_id, "in_w": in_w, "in_h": in_h,
                "out_w": ow, "out_h": oh, "out_bytes": len(png),
                "pix_sha256": hashlib.sha256(buf).hexdigest(),
            })
        yield pd.DataFrame(out, columns=[f.name for f in PNG_RESIZE_SCHEMA])


def png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 REAL pixel-level media resize (the PNG quarter of the
    synthesized corpus): decode the PNG to pixels, nearest-neighbor
    2:1 resample, re-encode a real PNG — all stdlib (zlib). Emits the
    resized container's true byte size and the sha256 of the resampled
    PIXEL buffer, so both the geometry and the actual resample are
    value-checked (hashing the container would need CRC32 in SQL; the
    pixel hash pins the content). bmp_resize / gif_resize and the
    baseline-JPEG codec queries cover the other three formats — the
    whole synthesized corpus resizes at true pixel level."""
    from mapreduce_go_spark import media

    # read the pre-encoded corpus (media_table('img') — the ingest
    # boundary): the kernel is decode+resample+re-encode only,
    # exactly what a production job pays, not a per-run
    # re-synthesis of the source container
    imgs = media.media_table(spark, sf_dir, "img").where(
        (F.col("doc_id") % 4 == 0)
        & (F.col("doc_id") % CORRUPT_EVERY != 0))
    binary = imgs.select("doc_id", "payload")
    return binary.mapInPandas(_png_resize_batches, PNG_RESIZE_SCHEMA)


def _gif_resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)  # pre-encoded (media_table('img'))
            _w, _h, iw, ih, _idx, _pal = decode_gif_indices(b)
            ow, oh, buf, gif = resample_gif_half(b)
            out.append({
                "doc_id": doc_id, "in_w": iw, "in_h": ih,
                "out_w": ow, "out_h": oh, "out_bytes": len(gif),
                "pix_sha256": hashlib.sha256(buf).hexdigest(),
            })
        yield pd.DataFrame(out, columns=[f.name for f in PNG_RESIZE_SCHEMA])


def _bmp_resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)  # pre-encoded (media_table('img'))
            in_w, in_h, _ch, _px = decode_bmp_pixels(b)
            ow, oh, buf, bmp = resample_bmp_half(b)
            out.append({
                "doc_id": doc_id, "in_w": in_w, "in_h": in_h,
                "out_w": ow, "out_h": oh, "out_bytes": len(bmp),
                "pix_sha256": hashlib.sha256(buf).hexdigest(),
            })
        yield pd.DataFrame(out, columns=[f.name for f in PNG_RESIZE_SCHEMA])


def bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 REAL pixel-level resize for the BMP quarter of the
    synthesized media corpus (completes pixel-real across all four
    formats): parse the uncompressed pixel array, nearest-
    neighbor 2:1 PIXEL resample (3-byte pixels move together),
    re-encode a real bottom-up padded BMP. The oracle value-checks
    geometry, the closed-form padded-row container size, and the
    sha256 of the exact resampled sample bytes."""
    from mapreduce_go_spark import media

    # read the pre-encoded corpus (media_table('img') — the ingest
    # boundary): the kernel is decode+resample+re-encode only,
    # exactly what a production job pays, not a per-run
    # re-synthesis of the source container
    imgs = media.media_table(spark, sf_dir, "img").where(
        (F.col("doc_id") % 4 == 2)
        & (F.col("doc_id") % CORRUPT_EVERY != 0))
    binary = imgs.select("doc_id", "payload")
    return binary.mapInPandas(_bmp_resize_batches, PNG_RESIZE_SCHEMA)


def gif_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 REAL pixel-level resize for the GIF quarter of the
    synthesized media corpus: genuine LZW decode to palette indices,
    nearest-neighbor 2:1 index resample, re-encode a real GIF with the
    source palette. Like png_resize, the oracle value-checks geometry,
    the closed-form flat-LZW container size, and the sha256 of the
    exact resampled index bytes."""
    from mapreduce_go_spark import media

    # read the pre-encoded corpus (media_table('img') — the ingest
    # boundary): the kernel is decode+resample+re-encode only,
    # exactly what a production job pays, not a per-run
    # re-synthesis of the source container
    imgs = media.media_table(spark, sf_dir, "img").where(
        (F.col("doc_id") % 4 == 1)
        & (F.col("doc_id") % CORRUPT_EVERY != 0))
    binary = imgs.select("doc_id", "payload")
    return binary.mapInPandas(_gif_resize_batches, PNG_RESIZE_SCHEMA)


# ---------------------------------------------------------------- #
# Baseline JPEG pixel path (functions/jpeg.py — the real codec)      #
# ---------------------------------------------------------------- #

# Roundtrip-exercise dims: 8..63 px sides (<= 64 DCT blocks/doc) so
# the per-coefficient Huffman loop stays cheap at sf0.1.
JPEG_DIM_MOD = 56
# Quantization-error ceiling for text-byte images (ASCII 32..122
# pseudo-noise — JPEG's worst case for ringing; measured corpus max
# is a single 102 at sf0.01, p99 of per-pixel error 48). The bound
# catches a broken codec (garbage output errs ~uniformly to 255);
# bit-exactness is exact_recon's job, not this one's.
JPEG_ERR_TOL = 128

JPEG_RT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("exact_recon", BooleanType()),
    StructField("quant_err_ok", BooleanType()),
])


def _jpeg_gray_pixels(doc_id: int, body: bytes):
    import numpy as np

    w = 8 + (doc_id * 7) % JPEG_DIM_MOD
    h = 8 + (doc_id * 13) % JPEG_DIM_MOD
    body = body or b"x"
    reps = (w * h + len(body) - 1) // len(body)
    return np.frombuffer((body * reps)[:w * h],
                         dtype=np.uint8).reshape(h, w).copy(), w, h


def _jpeg_rt_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from mapreduce_go_spark.functions import jpeg

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["img"]):
            px, w, h = _jpeg_gray_pixels(
                int(doc_id), bytes(payload) if payload is not None else b"")
            data, recon = jpeg.encode_gray(px, return_recon=True)
            dec = jpeg.decode_gray(data)
            err = int(np.abs(dec.astype(np.int64)
                             - px.astype(np.int64)).max())
            out.append({
                "doc_id": doc_id,
                "width": dec.shape[1], "height": dec.shape[0],
                "exact_recon": bool(np.array_equal(dec, recon)),
                "quant_err_ok": err <= JPEG_ERR_TOL,
            })
        yield pd.DataFrame(out, columns=[f.name for f in JPEG_RT_SCHEMA])


def jpeg_pixel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20: REAL baseline JPEG encode -> decode, closing the last
    pixel-real media gap. Per document a greyscale image is built from
    its text bytes (deterministic), entropy-coded through the
    from-scratch baseline codec (functions/jpeg.py: DCT, Annex K
    quant + Huffman tables, byte stuffing) and decoded back. The
    oracle predicts the geometry and the two verdicts: exact_recon
    (decoder output == encoder-side reconstruction, bit-for-bit — the
    codec's determinism contract) and quant_err_ok (lossiness bounded
    by JPEG_ERR_TOL). A codec regression flips a verdict to false and
    fails the differential."""
    docs = tables.load(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.col("text").cast("binary").alias("img"))
    return _spread(binary).mapInPandas(_jpeg_rt_batches, JPEG_RT_SCHEMA)


def _jpeg_resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from mapreduce_go_spark.functions import jpeg

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["img"]):
            px, w, h = _jpeg_gray_pixels(
                int(doc_id), bytes(payload) if payload is not None else b"")
            data = jpeg.encode_gray(px)
            dec = jpeg.decode_gray(data)          # decode the container
            small = dec[::2, ::2]                 # nearest-neighbor 2:1
            data2, recon2 = jpeg.encode_gray(small, return_recon=True)
            dec2 = jpeg.decode_gray(data2)
            out.append({
                "doc_id": doc_id, "in_w": w, "in_h": h,
                "out_w": small.shape[1], "out_h": small.shape[0],
                "out_ok": len(data2) > 0
                and bool(np.array_equal(dec2, recon2)),
            })
        yield pd.DataFrame(out, columns=[f.name for f in JPEG_RESIZE_SCHEMA])


JPEG_RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("in_w", IntegerType()),
    StructField("in_h", IntegerType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
    StructField("out_ok", BooleanType()),
])


def jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20: REAL pixel-level JPEG resize — decode the baseline
    container to pixels, nearest-neighbor 2:1 resample, re-encode a
    real baseline JPEG (the jpeg twin of png_resize/gif_resize; all
    FOUR synthesized formats now have true pixel paths). The oracle
    predicts geometry (ceil-half dims) and the re-encoded container's
    determinism verdict."""
    docs = tables.load(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.col("text").cast("binary").alias("img"))
    return _spread(binary).mapInPandas(_jpeg_resize_batches,
                                       JPEG_RESIZE_SCHEMA)


# ---------------------------------------------------------------- #
# Perceptual-hash image near-dup (D20 x D17)                        #
# ---------------------------------------------------------------- #

PHASH_W = 32              # fixed raster: oracle unnests 1024 rows/doc
PHASH_FAMILY = 3          # docs per perceptual family (doc_id // 3)
PHASH_CORRUPT_EVERY = 13  # truncated payloads exercise the error path
PHASH_BAND_CAP = 4        # degenerate band-bucket cap (LSH discipline;
                          # family buckets are <=3, two colliding
                          # families exceed the cap and drop — the
                          # drop path is exercised at sf0.01)
PHASH_HAM_MAX = 10        # max hamming distance for a near-dup pair
                          # (measured: intra-family <=4, inter >=16)

PHASH_BANDS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("band_no", IntegerType()),
    StructField("band_val", IntegerType()),
    StructField("b0", IntegerType()),
    StructField("b1", IntegerType()),
    StructField("b2", IntegerType()),
    StructField("b3", IntegerType()),
])


def _phash_pixels(doc_id: int) -> "object":
    """Deterministic 32x32 grayscale raster with CONTROLLED
    perceptual-near-dup structure (the PII-grafting discipline: the
    fixtures ship no media, so the ground truth is synthesized).
    Docs share a family (doc_id // PHASH_FAMILY) whose base texture
    is a multiplicatively-scrambled integer field — structurally
    different across families (measured pairwise hamming >= 16) —
    and members k=1,2 get a sparse clamped brightening (every
    (6+k)-th pixel, +0..8), the image analog of a re-encode/touch-up
    (measured hamming <= 4 from the clean member). All int64, every
    term reproducible in SQL."""
    import numpy as np

    base = doc_id // PHASH_FAMILY
    k = doc_id % PHASH_FAMILY
    i = np.arange(PHASH_W * PHASH_W, dtype=np.int64)
    g = i * i * 31 + i * 7919 + 12345
    p = (((2 * base + 1) * g) % 65521) % 256
    if k:
        mask = (i + doc_id) % (6 + k) == 0
        delta = (doc_id * 31 + i) % 9
        p = np.minimum(p + np.where(mask, delta, 0), 255)
    return p


def _phash_png(doc_id: int) -> bytes:
    """The doc's family raster as REAL PNG bytes (truncated for
    corrupt docs) — the fixture-manufacture step, materialized once
    per session by media.media_table('png')."""
    import numpy as np

    png = make_png(PHASH_W, PHASH_W,
                   _phash_pixels(doc_id).astype(np.uint8).tobytes())
    if doc_id % PHASH_CORRUPT_EVERY == 0:
        png = png[:20]
    return png


def _phash_bands_from_png(png: bytes) -> list[int] | None:
    """Decode ENCODED image bytes (decode_png_pixels — the image
    plumbing under test), compute the 8x8 integer average-hash over
    the DECODED raster as four 16-bit band values (band k = bit
    cells k*16..k*16+15, cell index row-major cr*8+cc, weight 2^i
    within the band). All-integer: the bit test is the
    cross-multiplied comparison cell_sum * total_count > total_sum *
    cell_count — exact in any engine, no float mean anywhere.
    Corrupt payloads return None via ValueError."""
    import numpy as np

    w = h = PHASH_W
    try:
        dw, dh, dc, arr = decode_png_pixels(png)
    except ValueError:
        return None  # corrupt image: contributes no hash
    if (dw, dh, dc) != (w, h, 1):
        # decodable but wrong shape for this fingerprint family:
        # treated like corrupt (no hash), NOT a task crash — without
        # this guard an RGB or off-size raster raised a ValueError
        # from np.add.at OUTSIDE the except above and killed the
        # whole job, and a smaller raster silently hashed garbage
        return None
    pix = np.asarray(arr, dtype=np.int64)
    cr = (np.arange(h) * 8) // h
    cc = (np.arange(w) * 8) // w
    sums = np.zeros((8, 8), dtype=np.int64)
    np.add.at(sums, (np.repeat(cr, w), np.tile(cc, h)), pix)
    cnts = (np.bincount(cr, minlength=8)[:, None]
            * np.bincount(cc, minlength=8)[None, :])
    ts, tn = int(sums.sum()), int(h * w)
    bits = (sums * tn > ts * cnts).reshape(-1)  # index cr*8+cc
    return _pack_bands(bits)


def _pack_bands(bits) -> list[int]:
    """Pack a 64-bit fingerprint bit vector into the four 16-bit band
    values banded_hamming_pairs and the SQL oracles agree on (band k
    = bits k*16..k*16+15, weight 2^i within the band). The ONE copy
    of the band-layout contract all three modalities share
    (image/audio/video)."""
    import numpy as np

    return [
        int((bits[k * 16:(k + 1) * 16] * (1 << np.arange(16))).sum())
        for k in range(4)
    ]


def _phash_rows(doc_id, vals, out) -> None:
    if vals is None:
        return
    for bno in range(4):
        out.append({"doc_id": doc_id, "band_no": bno,
                    "band_val": vals[bno],
                    "b0": vals[0], "b1": vals[1],
                    "b2": vals[2], "b3": vals[3]})


def _phash_band_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """doc_id-driven kernel (synthesize + decode) — the streaming
    twin and the plan/property tests use this; the batch operators
    read the pre-encoded corpus via _phash_band_batches_png."""
    cols = [f.name for f in PHASH_BANDS_SCHEMA]
    for pdf in batches:
        out = []
        for doc_id in pdf["doc_id"]:
            _phash_rows(doc_id,
                        _phash_bands_from_png(_phash_png(int(doc_id))),
                        out)
        yield pd.DataFrame(out, columns=cols)


def _phash_band_batches_png(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode-only kernel over the pre-encoded PNG corpus
    (media_table('png') payload column)."""
    cols = [f.name for f in PHASH_BANDS_SCHEMA]
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _phash_rows(doc_id, _phash_bands_from_png(
                bytes(payload) if payload is not None else b""), out)
        yield pd.DataFrame(out, columns=cols)


def banded_hamming_pairs(bands: DataFrame, cap: int,
                         ham_max: int) -> DataFrame:
    """Shared fingerprint-pair machinery (image pHash, audio
    fingerprint, video pHash): (doc_id, band_no, band_val, b0..b3)
    rows -> dedup.bucket_pairs on the band bucket, capped at `cap`
    (a degenerate bucket — all-black images, silence clips — never
    enters an array) -> exact hamming via bit_count over the four
    16-bit words -> (d1, d2, hamming <= ham_max)."""
    cand = (
        bucket_pairs(bands, ["band_no", "band_val"],
                     F.struct("doc_id", "b0", "b1", "b2", "b3"), cap)
        .select(F.col("d1.doc_id").alias("d1"),
                F.col("d2.doc_id").alias("d2"),
                *[F.col(f"d1.b{i}").alias(f"a{i}") for i in range(4)],
                *[F.col(f"d2.b{i}").alias(f"c{i}") for i in range(4)])
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.expr(f"a{i} ^ c{i}")) for i in range(4)
    ).alias("hamming")
    return (cand.select("d1", "d2", hamming)
            .where(F.col("hamming") <= ham_max))


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 x D17: perceptual near-duplicate IMAGE pairs — the visual
    analog of minhash text dedup, the dedup a multimodal training
    corpus needs (re-encoded/renamed images hash apart byte-wise but
    together perceptually). Pipeline: real PNG round-trip -> 8x8
    integer average-hash -> 4x16-bit LSH bands -> bucket-local pair
    expansion with the degenerate-bucket cap applied BEFORE any pair
    exists (dedup.bucket_pairs: no self-join, the hash pipeline runs
    ONCE) -> exact hamming verify via bit_count.
    At 100 TB this is the linear-shuffle shape: |docs| x 4 band rows
    exchange, pairs only materialize inside under-cap buckets.
    Reads the pre-encoded PNG corpus (media.media_table — the
    ingest boundary; the kernel is decode+hash only).
    Output: (d1, d2, hamming <= PHASH_HAM_MAX)."""
    from mapreduce_go_spark import media

    imgs = media.media_table(spark, sf_dir, "png").select(
        "doc_id", "payload")
    bands = imgs.mapInPandas(_phash_band_batches_png, PHASH_BANDS_SCHEMA)
    return banded_hamming_pairs(bands, PHASH_BAND_CAP, PHASH_HAM_MAX)


def phash_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perceptual-dup verdict with ARRIVAL-ORDER semantics —
    the batch anchor of streaming.jobs.run_streaming_phash: a doc is
    dup iff some EARLIER doc (lower doc_id) sits in a shared band
    bucket among that bucket's first PHASH_BAND_CAP holders (the
    lifetime cap — a degenerate bucket stores its first CAP holders
    then goes INERT for new holders, the run_streaming_neardup
    discipline) and the exact hamming is <= PHASH_HAM_MAX. Corrupt
    docs carry no hash and are never dup. Batch-parity +
    replay-idempotence of the streaming twin are proven in
    tests/test_streaming.py.

    Scale shape: rank band rows per bucket with a window; the first
    PHASH_BAND_CAP are the bucket's holders (the streaming twin,
    streaming.jobs._phash_epoch, keeps the same holders in its index)
    and holder_dups probes every band row against them. The band
    relation is persisted so the decode+hash kernel runs ONCE and
    both join sides read the cached rows (InMemoryTableScan x2 in the
    plan) — band rows are |docs| x 4 small fixed-width rows,
    MEMORY_AND_DISK spills cleanly at corpus scale; a petabyte run
    would write them to a temp parquet instead, same shape. Reads the
    pre-encoded PNG corpus (media.media_table ingest boundary;
    decode+hash-only kernel)."""
    from pyspark.sql import Window

    from mapreduce_go_spark import media

    imgs = media.media_table(spark, sf_dir, "png").select(
        "doc_id", "payload")
    bands = imgs.mapInPandas(_phash_band_batches_png,
                             PHASH_BANDS_SCHEMA).persist()
    w = Window.partitionBy("band_no", "band_val").orderBy("doc_id")
    holders = (bands.withColumn("rk", F.row_number().over(w))
               .where(F.col("rk") <= PHASH_BAND_CAP))
    return flag_dups(imgs, holder_dups(bands, holders))


def holder_hamming() -> Column:
    """Hamming distance between a band row's hash (b0..b3) and a
    holder's (h0..h3)."""
    return sum(F.bit_count(F.col(f"b{i}").bitwiseXOR(F.col(f"h{i}")))
               for i in range(4))


def holder_dups(bands: DataFrame, holders: DataFrame) -> DataFrame:
    """doc_id of every `bands` row whose bucket (band_no, band_val)
    holds an EARLIER doc (lower doc_id) of `holders` within
    PHASH_HAM_MAX — the bounded-holder probe of phash_dup_flags and
    the in-batch half of its streaming epoch. `holders` are band rows
    of at most PHASH_BAND_CAP docs per bucket (the bucket's first
    holders), so the holder side is O(buckets * CAP) whatever the
    skew: a bucket of N members costs N * CAP join rows, and no node
    collects a bucket into an array (tests/test_plans.py pins the
    absent collect_list). Repeats are left to dedup.flag_dups."""
    h = holders.select("band_no", "band_val",
                       F.col("doc_id").alias("h_doc"),
                       *[F.col(f"b{i}").alias(f"h{i}") for i in range(4)])
    return (
        bands.join(h, ["band_no", "band_val"])
        .where((F.col("h_doc") < F.col("doc_id"))
               & (holder_hamming() <= PHASH_HAM_MAX))
        .select("doc_id")
    )


def _phash_common_cte() -> str:
    """Shared DuckDB CTE chain: every pixel re-derived from the
    integer family formula (_phash_pixels) -> cells -> bits -> bands
    -> per-doc hash words. Consumed by both phash oracles."""
    W = PHASH_W
    base_px = (f"(((2 * (doc_id // {PHASH_FAMILY}) + 1)"
               f" * (i * i * 31 + i * 7919 + 12345)) % 65521) % 256")
    k = f"(doc_id % {PHASH_FAMILY})"
    return f"""
    WITH d AS (
        SELECT doc_id FROM documents
        WHERE doc_id % {PHASH_CORRUPT_EVERY} <> 0
    ),
    px AS (
        SELECT doc_id, (g.i - 1) AS i,
               ((g.i - 1) % {W}) AS x, ((g.i - 1) // {W}) AS y
        FROM d, unnest(generate_series(1, {W * W})) g(i)
    ),
    pv AS (
        SELECT doc_id, x, y,
               CASE WHEN {k} <> 0 AND (i + doc_id) % (6 + {k}) = 0
                    THEN least({base_px} + (doc_id * 31 + i) % 9, 255)
                    ELSE {base_px}
               END AS v
        FROM px
    ),
    cells AS (
        SELECT doc_id, (y * 8) // {W} AS cr, (x * 8) // {W} AS cc,
               sum(v) AS s, count(*) AS c
        FROM pv GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, sum(s) AS ts, sum(c) AS tn
            FROM cells GROUP BY 1),
    bits AS (
        SELECT c.doc_id, cr * 8 + cc AS idx,
               CASE WHEN c.s * t.tn > t.ts * c.c THEN 1 ELSE 0 END AS b
        FROM cells c JOIN tot t USING (doc_id)
    ),
    bands AS (
        SELECT doc_id, cast(idx // 16 AS int) AS band_no,
               cast(sum(b * (1 << (idx % 16))) AS int) AS band_val
        FROM bits GROUP BY 1, 2
    ),
    hashes AS (
        SELECT doc_id,
               max(CASE WHEN band_no = 0 THEN band_val END) AS b0,
               max(CASE WHEN band_no = 1 THEN band_val END) AS b1,
               max(CASE WHEN band_no = 2 THEN band_val END) AS b2,
               max(CASE WHEN band_no = 3 THEN band_val END) AS b3
        FROM bands GROUP BY 1
    )
    """


def _phash_oracle_sql() -> str:
    """Pairs oracle: capped buckets -> candidate pairs -> hamming."""
    return _phash_common_cte() + f"""
    , ok_buckets AS (
        SELECT band_no, band_val FROM bands
        GROUP BY 1, 2
        HAVING count(*) BETWEEN 2 AND {PHASH_BAND_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN ok_buckets USING (band_no, band_val)
        JOIN bands b USING (band_no, band_val)
        WHERE a.doc_id < b.doc_id
    )
    SELECT d1, d2,
           cast(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
              + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
              AS int) AS hamming
    FROM cand
    JOIN hashes x ON x.doc_id = d1
    JOIN hashes y ON y.doc_id = d2
    WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
        <= {PHASH_HAM_MAX}
    """


def _phash_flags_oracle_sql() -> str:
    """Flags oracle (arrival-order semantics): holder rank per bucket
    by doc_id, holders with rank <= CAP probe-able, a later doc is
    dup iff some probe-able earlier holder is within hamming."""
    return _phash_common_cte() + f"""
    , ranked AS (
        SELECT doc_id, band_no, band_val,
               row_number() OVER (PARTITION BY band_no, band_val
                                  ORDER BY doc_id) AS rk
        FROM bands
    ),
    flagged AS (
        SELECT DISTINCT l.doc_id
        FROM ranked l
        JOIN ranked h USING (band_no, band_val)
        JOIN hashes x ON x.doc_id = l.doc_id
        JOIN hashes y ON y.doc_id = h.doc_id
        WHERE h.doc_id < l.doc_id AND h.rk <= {PHASH_BAND_CAP}
          AND bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
            <= {PHASH_HAM_MAX}
    )
    SELECT doc.doc_id, (f.doc_id IS NOT NULL) AS dup
    FROM documents doc LEFT JOIN flagged f USING (doc_id)
    """


QUERIES = {
    "multimodal_pack": multimodal_pack,
    "image_phash_pairs": image_phash_pairs,
    "phash_dup_flags": phash_dup_flags,
    "binary_meta": binary_meta,
    "media_features": media_features,
    "frame_sample": frame_sample,
    "bmp_resize": bmp_resize,
    "png_resize": png_resize,
    "gif_resize": gif_resize,
    "jpeg_pixel_roundtrip": jpeg_pixel_roundtrip,
    "jpeg_resize": jpeg_resize,
}

def _cycled_mean_sql(npix_expr: str) -> str:
    """DuckDB expression: exact mean of `text` bytes cycled to
    npix_expr samples (whole cycles * total + prefix remainder — one
    integer sum, one double division; bit-identical to the Python
    decoder's sum/count). Expects CTE columns text, n, tot."""
    return (f"cast((({npix_expr}) // n) * tot"
            f" + coalesce(list_sum(list_transform(regexp_split_to_array("
            f"substring(text, 1, cast(({npix_expr}) % n AS int)), ''),"
            f" c -> ascii(c))), 0) AS double) / ({npix_expr})")


ORACLES = {
    "multimodal_pack": """
        SELECT event_id,
               cast(json_extract_string(props, '$.k') AS int) AS k,
               event_type AS meta_type,
               cast(user_id AS varchar) AS map_user,
               value * 2 AS val_x2
        FROM events
    """,
    "binary_meta": """
        SELECT doc_id,
               cast(octet_length(encode(text)) AS int) AS n_bytes,
               hex(encode(substring(text, 1, 8))) AS head_hex,
               sha256(text) AS sha256
        FROM documents
    """,
    # media_features: the mapInPandas plumbing is the point, but the
    # deterministic stub math is plain byte arithmetic — so even this
    # query gets a full value oracle (fixture text is ASCII: byte i ==
    # ascii(char i)). A real decoder would drop back to rows-only.
    "frame_sample": f"""
        WITH framed AS (
            SELECT doc_id, text,
                   unnest(generate_series(0,
                       cast(floor((length(text) - {FRAME_BYTES})
                                  / {FRAME_STRIDE}.0) AS int))) AS frame_no
            FROM documents WHERE length(text) >= {FRAME_BYTES}
        )
        SELECT doc_id, cast(frame_no AS int) AS frame_no,
               cast(frame_no * {FRAME_STRIDE} + 1 AS int) AS frame_off,
               md5(substring(text, cast(frame_no * {FRAME_STRIDE} + 1
                                        AS int), {FRAME_BYTES}))
                   AS frame_md5
        FROM framed
    """,
    # bmp_resize: sample (yo, xo, c) <- cycled text byte at
    # ((2*yo*w + 2*xo)*3 + c) mod n (make_bmp cycles body into the
    # top-down 3-sample-per-pixel stream); container size is the
    # closed-form padded-row layout over the OUTPUT dims.
    "bmp_resize": f"""
        WITH dims AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   16 + (doc_id * 7) % 240 AS w,
                   16 + (doc_id * 13) % 240 AS h,
                   (16 + (doc_id * 7) % 240 + 1) // 2 AS ow,
                   (16 + (doc_id * 13) % 240 + 1) // 2 AS oh
            FROM documents
            WHERE doc_id % 4 = 2 AND doc_id % {CORRUPT_EVERY} <> 0
        ),
        px AS (
            SELECT doc_id, text, n, w, ow,
                   unnest(generate_series(0, 3 * ow * oh - 1)) AS i
            FROM dims
        ),
        buf AS (
            SELECT doc_id,
                   string_agg(substring(text,
                       cast(((2 * (i // (3 * ow)) * w
                              + 2 * ((i % (3 * ow)) // 3)) * 3 + i % 3)
                            % n + 1 AS int), 1), '' ORDER BY i) AS pix
            FROM px GROUP BY doc_id
        )
        SELECT d.doc_id, cast(w AS int) AS in_w, cast(h AS int) AS in_h,
               cast(ow AS int) AS out_w, cast(oh AS int) AS out_h,
               cast(54 + ((3 * ow + 3) // 4) * 4 * oh AS int) AS out_bytes,
               sha256(pix) AS pix_sha256
        FROM dims d JOIN buf USING (doc_id)
    """,
    # media_features is a LAZY oracle (the JPEG quarter is
    # codec-real) — see _media_features_oracle_sql below.
    # Every output of the real PNG resample is value-checked: dims by
    # the ceil-halving formula, container size by the stored-deflate
    # closed form over the OUTPUT dims, and the resampled content by
    # sha256 over the exact source pixels the nearest-neighbor grid
    # picks (pixel (yo, xo) <- cycled text byte at (2*yo*w + 2*xo) mod
    # n; fixture text is ASCII so the SQL string's UTF-8 bytes == the
    # pixel bytes).
    "png_resize": f"""
        WITH dims AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   16 + (doc_id * 7) % 240 AS w,
                   16 + (doc_id * 13) % 240 AS h,
                   (16 + (doc_id * 7) % 240 + 1) // 2 AS ow,
                   (16 + (doc_id * 13) % 240 + 1) // 2 AS oh
            FROM documents
            WHERE doc_id % 4 = 0 AND doc_id % {CORRUPT_EVERY} <> 0
        ),
        px AS (
            SELECT doc_id, text, n, w, ow,
                   unnest(generate_series(0, ow * oh - 1)) AS i
            FROM dims
        ),
        buf AS (
            SELECT doc_id,
                   string_agg(substring(text,
                       cast((2 * (i // ow) * w + 2 * (i % ow)) % n + 1
                            AS int), 1), '' ORDER BY i) AS pix
            FROM px GROUP BY doc_id
        )
        SELECT d.doc_id, cast(w AS int) AS in_w, cast(h AS int) AS in_h,
               cast(ow AS int) AS out_w, cast(oh AS int) AS out_h,
               cast(68 + oh * (ow + 1) AS int) AS out_bytes,
               sha256(pix) AS pix_sha256
        FROM dims d JOIN buf USING (doc_id)
    """,
    # gif_resize: same pixel-grid formula as png_resize (GIF indices
    # ARE the cycled text bytes under the identity palette); the
    # container size is the closed-form flat-LZW encoding over the
    # OUTPUT dims.
    "gif_resize": f"""
        WITH dims AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   16 + (doc_id * 7) % 240 AS w,
                   16 + (doc_id * 13) % 240 AS h,
                   (16 + (doc_id * 7) % 240 + 1) // 2 AS ow,
                   (16 + (doc_id * 13) % 240 + 1) // 2 AS oh
            FROM documents
            WHERE doc_id % 4 = 1 AND doc_id % {CORRUPT_EVERY} <> 0
        ),
        sized AS (
            SELECT *,
                   (9 * (ow * oh + (ow * oh + 253) // 254 + 1) + 7) // 8
                       AS lzw
            FROM dims
        ),
        px AS (
            SELECT doc_id, text, n, w, ow,
                   unnest(generate_series(0, ow * oh - 1)) AS i
            FROM sized
        ),
        buf AS (
            SELECT doc_id,
                   string_agg(substring(text,
                       cast((2 * (i // ow) * w + 2 * (i % ow)) % n + 1
                            AS int), 1), '' ORDER BY i) AS pix
            FROM px GROUP BY doc_id
        )
        SELECT d.doc_id, cast(w AS int) AS in_w, cast(h AS int) AS in_h,
               cast(ow AS int) AS out_w, cast(oh AS int) AS out_h,
               cast(794 + lzw + (lzw + 254) // 255 AS int) AS out_bytes,
               sha256(pix) AS pix_sha256
        FROM sized d JOIN buf USING (doc_id)
    """,
}


ORACLES["image_phash_pairs"] = _phash_oracle_sql()
ORACLES["phash_dup_flags"] = _phash_flags_oracle_sql()

ORACLES["jpeg_pixel_roundtrip"] = f"""
    SELECT doc_id,
           cast(8 + (doc_id * 7) % {JPEG_DIM_MOD} AS int) AS width,
           cast(8 + (doc_id * 13) % {JPEG_DIM_MOD} AS int) AS height,
           TRUE AS exact_recon,
           TRUE AS quant_err_ok
    FROM documents
"""

ORACLES["jpeg_resize"] = f"""
    WITH dims AS (
        SELECT doc_id,
               8 + (doc_id * 7) % {JPEG_DIM_MOD} AS w,
               8 + (doc_id * 13) % {JPEG_DIM_MOD} AS h
        FROM documents
    )
    SELECT doc_id,
           cast(w AS int) AS in_w, cast(h AS int) AS in_h,
           cast((w + 1) // 2 AS int) AS out_w,
           cast((h + 1) // 2 AS int) AS out_h,
           TRUE AS out_ok
    FROM dims
"""

# media_features oracle, non-JPEG part: recomputes every field
# decode_image parses out of the container bytes via doc_id/text
# arithmetic (payload synthesis is deterministic). PNG/GIF/BMP rows
# are fully DECODED on the Spark side, so the oracle recomputes the
# TRUE pixel/sample mean from the cycled-text synthesis (closed form:
# whole cycles + prefix remainder — exact integer sum, one double
# division, identical in both engines) and the closed-form container
# sizes. Corrupt rows (doc_id % CORRUPT_EVERY = 0) have NULL
# features. The JPEG quarter is not in this SQL — it is codec-real,
# so the lazy builder below appends it as a VALUES list computed by
# the Spark-free codec twin.
_MEDIA_FEATURES_STATIC_SQL = f"""
        WITH m AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   16 + (doc_id * 7) % 240 AS w,
                   16 + (doc_id * 13) % 240 AS h,
                   (9 * ((16 + (doc_id * 7) % 240)
                         * (16 + (doc_id * 13) % 240)
                         + ((16 + (doc_id * 7) % 240)
                            * (16 + (doc_id * 13) % 240) + 253) // 254
                         + 1) + 7) // 8 AS lzw,
                   list_sum(list_transform(regexp_split_to_array(text, ''),
                                           c -> ascii(c))) AS tot
            FROM documents
            WHERE NOT (doc_id % 4 = 3 AND doc_id % {CORRUPT_EVERY} <> 0)
        )
        SELECT doc_id,
               cast(CASE WHEN doc_id % {CORRUPT_EVERY} = 0
                         THEN least(n, 4)
                    WHEN doc_id % 4 = 0 THEN 68 + h * (w + 1)
                    WHEN doc_id % 4 = 1 THEN 794 + lzw + (lzw + 254) // 255
                    ELSE 54 + ((3 * w + 3) // 4) * 4 * h END AS int)
                   AS n_bytes,
               CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN 'corrupt'
                    ELSE CASE doc_id % 4 WHEN 0 THEN 'png'
                                         WHEN 1 THEN 'gif'
                                         ELSE 'bmp' END END AS format,
               cast(CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN NULL
                    ELSE w END AS int) AS width,
               cast(CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN NULL
                    ELSE h END AS int) AS height,
               cast(CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN NULL
                    WHEN doc_id % 4 = 0 THEN 1
                    ELSE 3 END AS int) AS channels,
               cast(CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN NULL
                    WHEN doc_id % 4 = 0 THEN {_cycled_mean_sql('w * h')}
                    WHEN doc_id % 4 = 1 THEN {_cycled_mean_sql('w * h')}
                    ELSE {_cycled_mean_sql('3 * w * h')}
                    END AS double) AS mean_luma
        FROM m
"""


def _media_features_oracle_sql(sf_dir: str) -> str:
    """media_features oracle (LAZY):
    the closed-form SQL for PNG/GIF/BMP/corrupt rows UNION ALL a
    VALUES list for the codec-real JPEG quarter, computed by the
    Spark-free twin — per doc: the same _jpeg_gray_pixels raster,
    functions/jpeg.encode_gray for the container size, and the
    encoder-side reconstruction mean (decode_gray(data) == recon is
    the codec's pinned exactness contract, so this differentially
    checks the kernel's REAL entropy decode)."""
    import os

    import pyarrow.parquet as pq

    from mapreduce_go_spark.functions import jpeg as _jpeg_codec

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    rows = []
    for doc_id, text in zip(t.column("doc_id").to_pylist(),
                            t.column("text").to_pylist()):
        if doc_id % 4 != 3 or doc_id % CORRUPT_EVERY == 0:
            continue
        px, w, h = _jpeg_gray_pixels(int(doc_id),
                                     (text or "").encode())
        data, recon = _jpeg_codec.encode_gray(px, return_recon=True)
        mean = float(int(recon.sum(dtype="uint64")) / recon.size)
        # the mean rides as a QUOTED string: a bare numeric literal
        # parses as DECIMAL first and its double cast can land one
        # ULP off; a varchar->double cast is correctly rounded
        # (repr round-trips float64 exactly — the kmeans literal
        # discipline)
        rows.append(f"({doc_id}, {len(data)}, {w}, {h}, '{mean!r}')")
    if not rows:
        # a corpus with no JPEG rows still needs valid SQL
        return _MEDIA_FEATURES_STATIC_SQL
    return _MEDIA_FEATURES_STATIC_SQL + f"""
        UNION ALL
        SELECT cast(doc_id AS bigint) AS doc_id,
               cast(n_bytes AS int) AS n_bytes,
               'jpeg' AS format,
               cast(w AS int) AS width,
               cast(h AS int) AS height,
               cast(1 AS int) AS channels,
               cast(mean_luma AS double) AS mean_luma
        FROM (VALUES {", ".join(rows)})
             jt(doc_id, n_bytes, w, h, mean_luma)
"""


def _media_features_oracle_lazy() -> str | None:
    sf_dir = tables.oracle_sf_dir()
    try:
        return _media_features_oracle_sql(sf_dir)
    except Exception:
        return None


LAZY_ORACLES = {
    "media_features": _media_features_oracle_lazy,
}
