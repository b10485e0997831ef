"""From-scratch JPEG codec, numpy + stdlib only.

Closes the last pixel-real media gap (SCALE.md): PNG/GIF/BMP decode
real pixels; JPEG previously stopped at the segment-walking header
parse because its entropy stream needs an actual codec. This module
IS that codec — ITU-T T.81 built entirely from the public spec:
baseline sequential DCT greyscale (r5: Annex K.1 luminance
quantization table, Annex K.3 standard DC/AC Huffman tables, the
F.1.2 magnitude-category coding, the F.1.2.3 byte stuffing
(0xFF -> 0xFF 0x00), and the A.3.3 zig-zag order), extended in r16
to MULTI-COMPONENT color: baseline interleaved MCU scans with
integer-ratio sampling (A.2.3 — 4:4:4/4:2:2/4:2:0), progressive
spectral selection with Ah=Al=0 (G.2, EOBn run coding — the
committed color fixture's coding shape), Annex K.2 chroma
quantization + K.3.3/K.3.4 chroma Huffman tables, and the
JFIF/CCIR-601 color transform.

Determinism contract: `decode(encode(px))` equals the ENCODER's own
reconstruction (`encode_gray(..., return_recon=True)`) bit-exactly —
both paths share _reconstruct on the identical quantized
coefficients, so the only loss is quantization, never codec drift.
tests/test_multimodal.py pins that equality, a PSNR floor vs the
source, and marker-level well-formedness (the segment walker in
operators/multimodal.py parses these files like any other JPEG).

Scale shape: the codec is called from mapInPandas batches (one
Python call per image, numpy-vectorized DCT/quant across all 8x8
blocks of the image at once; only the Huffman bit stream is a
per-coefficient loop, bounded by image size). The encoder exists to
make the SYNTHESIZED corpus real — production pipelines decode
externally-encoded files with the same decoder.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# Annex K.1 — luminance quantization table (quality 50), zig-zag
# source order flattened here in natural (row-major) order.
STD_LUMA_Q = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

# A.3.3 zig-zag: ZIGZAG[k] = natural index of the k-th zig-zag coeff.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3.1 — standard DC luminance Huffman spec (BITS, HUFFVAL).
DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_VALS = tuple(range(12))
# Annex K.3.2 — standard AC luminance Huffman spec.
AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _canonical_codes(bits, vals):
    """C.2 canonical code assignment: {symbol: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)

# Orthonormal 8-point DCT-II matrix (A.3.3's FDCT up to the JPEG
# scaling, folded so D @ B @ D.T is exactly the spec's coefficient
# grid for an 8x8 block B).
_D = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(1.0 / 8) if _k == 0 else np.sqrt(2.0 / 8)
    for _n in range(8):
        _D[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:        # F.1.2.3 byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-bits padding per F.1.2.3
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """F.1.2.1 category coding: (size, appended bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _blocks_of(px: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Edge-replicate to 8-multiples, return (nb, 8, 8) raster blocks."""
    h, w = px.shape
    H = (h + 7) // 8 * 8
    W = (w + 7) // 8 * 8
    padded = np.pad(px, ((0, H - h), (0, W - w)), mode="edge")
    nby, nbx = H // 8, W // 8
    blocks = (padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
              .reshape(nby * nbx, 8, 8))
    return blocks, nby, nbx


def _quantize(blocks: np.ndarray, q: np.ndarray) -> np.ndarray:
    coef = np.einsum("km,bmn,ln->bkl", _D, blocks.astype(np.float64) - 128.0,
                     _D)
    r = coef / q
    return np.trunc(r + np.copysign(0.5, r)).astype(np.int32)


def _reconstruct(qc: np.ndarray, q: np.ndarray, nby: int, nbx: int,
                 h: int, w: int) -> np.ndarray:
    """Shared dequant + IDCT + level shift + clamp — the decoder AND
    the encoder's return_recon both call exactly this, which is what
    makes decode(encode(x)) bit-equal to the encoder's reconstruction."""
    deq = qc.astype(np.float64) * q
    # D.T @ C @ D per block: sum_{k,l} D[k,m] C[k,l] D[l,n]
    spatial = np.einsum("km,bkl,ln->bmn", _D, deq, _D)
    px = np.clip(np.floor(spatial + 128.0 + 0.5), 0, 255).astype(np.uint8)
    full = (px.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8))
    return full[:h, :w]


def _encode_block(bw: "_BitWriter", blk, prev_dc: int, dc_enc: dict,
                  ac_enc: dict) -> int:
    """F.1.2 entropy coding of one zig-zag block: DC difference in
    magnitude-category form, AC run/size symbols with ZRL and EOB.
    Returns the new DC predictor. Shared by the grayscale encoder and
    every per-component emitter in encode_color/encode_progressive."""
    diff = int(blk[0]) - prev_dc
    prev_dc = int(blk[0])
    size, bits = _magnitude(diff)
    code, length = dc_enc[size]
    bw.put(code, length)
    bw.put(bits, size)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            bw.put(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_enc[(run << 4) | size]
        bw.put(code, length)
        bw.put(bits, size)
        run = 0
    if last < 63:
        code, length = ac_enc[0x00]      # EOB
        bw.put(code, length)
    return prev_dc


# --- vectorized luma entropy coder (r17) ----------------------------
# _encode_block walks coefficients in interpreted Python: profiling
# jpeg_pixel_roundtrip's kernel put 88% of encode wall in the
# _encode_block/_BitWriter.put/_magnitude loops (6.6M put calls over
# 2000 fixture images). Unlike DECODING, Huffman ENCODING has no
# sequential data dependency — the DC predictor chain is np.diff, the
# run/ZRL/EOB structure is nonzero-position algebra, and bit packing
# is a masked bit-matrix + packbits — so the whole entropy pass
# vectorizes BIT-EXACTLY. _encode_block stays for the color and
# progressive emitters (different tables/interleaving, off the
# benched hot path). Bitwise-equality with the loop form is pinned by
# tests over the whole fixture corpus and adversarial blocks.

# bit_length LUT (F.1.2.1 category): quantized baseline coefficients
# and DC diffs fit well inside 16 bits.
_BITLEN_LUT = np.zeros(1 << 16, dtype=np.int64)
for _v in range(1, 16):
    _BITLEN_LUT[1 << (_v - 1): 1 << _v] = _v
_BITLEN_LUT[1 << 15:] = 16


def _enc_arrays(enc: dict) -> tuple[np.ndarray, np.ndarray]:
    """{symbol: (code, length)} -> (code[sym], length[sym]) arrays."""
    codes = np.zeros(256, dtype=np.int64)
    lens = np.zeros(256, dtype=np.int64)
    for sym, (code, length) in enc.items():
        codes[sym] = code
        lens[sym] = length
    return codes, lens


_DC_CODES, _DC_LENS = _enc_arrays(_DC_ENC)
_AC_CODES, _AC_LENS = _enc_arrays(_AC_ENC)


def _encode_blocks_vec(zz: np.ndarray) -> bytes:
    """F.1.2 entropy coding of ALL zig-zag blocks at once — the
    vectorized twin of the _encode_block loop over the standard luma
    tables, bit-identical by construction (same symbols, same order,
    same F.1.2.3 padding and byte stuffing)."""
    nb = zz.shape[0]
    blk_ids = np.arange(nb, dtype=np.int64)

    # DC: diff chain -> (symbol item, value-bits item) per block
    dc = zz[:, 0].astype(np.int64)
    diff = np.diff(dc, prepend=np.int64(0))
    # AC: nonzero positions; run/ZRL/EOB structure
    nz_b, nz_k = np.nonzero(zz[:, 1:])
    pos1 = nz_k.astype(np.int64) + 1          # 1-based zigzag index
    nz_b = nz_b.astype(np.int64)
    first = np.empty(len(nz_b), dtype=bool)
    if len(nz_b):
        first[0] = True
        first[1:] = nz_b[1:] != nz_b[:-1]
    prev = np.where(first, 0, np.roll(pos1, 1))
    run = pos1 - prev - 1
    zrl_n = run >> 4
    v = zz[nz_b, pos1].astype(np.int64)
    peak = max(np.abs(diff).max(initial=0), np.abs(v).max(initial=0))
    if peak >= len(_BITLEN_LUT):
        raise ValueError(
            f"JPEG coefficient or DC difference magnitude {peak} is outside"
            f" the 16-bit baseline range (< {len(_BITLEN_LUT)})")
    dsize = _BITLEN_LUT[np.abs(diff)]
    dbits = np.where(diff > 0, diff, diff + (1 << dsize) - 1)
    asize = _BITLEN_LUT[np.abs(v)]
    abits = np.where(v > 0, v, v + (1 << asize) - 1)
    asym = ((run & 15) << 4) | asize
    # EOB for blocks whose last nonzero AC index < 63
    last = np.zeros(nb, dtype=np.int64)
    if len(nz_b):
        np.maximum.at(last, nz_b, pos1)
    eob_b = blk_ids[last < 63]

    # emit items as (value, nbits) with a (block, pos, seq) sort key.
    # seq: DC symbol 0, DC bits 1 at pos 0; per AC coefficient at pos
    # k: ZRLs 0..z-1, symbol z, bits z+1; EOB at pos 64.
    zrl_rows = np.repeat(np.arange(len(nz_b)), zrl_n)
    parts_val = [
        _DC_CODES[dsize], dbits,
        np.full(len(zrl_rows), _AC_CODES[0xF0], dtype=np.int64),
        _AC_CODES[asym], abits,
        np.full(len(eob_b), _AC_CODES[0x00], dtype=np.int64),
    ]
    parts_len = [
        _DC_LENS[dsize], dsize,
        np.full(len(zrl_rows), _AC_LENS[0xF0], dtype=np.int64),
        _AC_LENS[asym], asize,
        np.full(len(eob_b), _AC_LENS[0x00], dtype=np.int64),
    ]
    zrl_seq = (np.arange(len(zrl_rows), dtype=np.int64)
               - np.repeat(np.cumsum(zrl_n) - zrl_n, zrl_n))
    parts_blk = [blk_ids, blk_ids, nz_b[zrl_rows], nz_b, nz_b, eob_b]
    parts_pos = [
        np.zeros(nb, dtype=np.int64), np.zeros(nb, dtype=np.int64),
        pos1[zrl_rows], pos1, pos1,
        np.full(len(eob_b), 64, dtype=np.int64),
    ]
    parts_seq = [
        np.zeros(nb, dtype=np.int64), np.ones(nb, dtype=np.int64),
        zrl_seq, zrl_n, zrl_n + 1,
        np.zeros(len(eob_b), dtype=np.int64),
    ]
    vals = np.concatenate(parts_val)
    lens = np.concatenate(parts_len)
    order = np.lexsort((np.concatenate(parts_seq),
                        np.concatenate(parts_pos),
                        np.concatenate(parts_blk)))
    vals = vals[order] & ((np.int64(1) << lens[order]) - 1)
    lens = lens[order]

    # bit packing: expand each item to its bits (row-major boolean
    # indexing preserves emission order), pad with 1-bits to a byte
    # boundary (F.1.2.3), pack, then stuff 0x00 after every 0xFF.
    ar16 = np.arange(16, dtype=np.int64)
    shifts = lens[:, None] - 1 - ar16[None, :]
    bits = ((vals[:, None] >> np.maximum(shifts, 0)) & 1).astype(np.uint8)
    stream = bits[shifts >= 0]
    pad = (-len(stream)) % 8
    if pad:
        stream = np.concatenate([stream, np.ones(pad, dtype=np.uint8)])
    raw = np.packbits(stream)
    ff = np.nonzero(raw == 0xFF)[0]
    if len(ff):
        raw = np.insert(raw, ff + 1, 0)
    return raw.tobytes()


def encode_gray(px: np.ndarray, return_recon: bool = False):
    """Encode a (h, w) uint8 array as a baseline greyscale JPEG.
    With return_recon=True also returns the encoder-side
    reconstruction (the exact pixels any conforming decoder of this
    file must produce under this module's arithmetic)."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 2 or px.size == 0:
        raise ValueError("encode_gray expects a non-empty 2-D array")
    h, w = px.shape
    if h > 0xFFFF or w > 0xFFFF:
        raise ValueError("image dimension exceeds JPEG's 16-bit field")
    blocks, nby, nbx = _blocks_of(px)
    qc = _quantize(blocks, STD_LUMA_Q)
    zz = qc.reshape(-1, 64)[:, ZIGZAG]

    entropy = _encode_blocks_vec(zz)

    dqt = b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
        int(STD_LUMA_Q.reshape(64)[ZIGZAG[k]]) for k in range(64))
    sof = (b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1)
           + bytes((1, 0x11, 0)))
    dht = (b"\xff\xc4"
           + struct.pack(">HB", 2 + 1 + 16 + len(DC_VALS), 0x00)
           + bytes(DC_BITS) + bytes(DC_VALS)
           + b"\xff\xc4"
           + struct.pack(">HB", 2 + 1 + 16 + len(AC_VALS), 0x10)
           + bytes(AC_BITS) + bytes(AC_VALS))
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes((1, 0x00, 0, 63, 0))
    data = (b"\xff\xd8" + dqt + sof + dht + sos + entropy + b"\xff\xd9")
    if return_recon:
        return data, _reconstruct(qc, STD_LUMA_Q, nby, nbx, h, w)
    return data


@functools.lru_cache(maxsize=32)
def _lookup_tables(bits: tuple, vals: tuple) -> tuple[list, list]:
    """16-bit-window Huffman lookup (F.2.2.3 done table-driven): for
    every uint16 window value whose leading bits form a code, the code
    length and decoded symbol; length 0 marks an invalid prefix. One
    list index replaces the old per-BIT reader loop (read_symbol →
    read → _fill was ~85% of decode time, ~4 Python calls per bit —
    the GIF-LZW per-code-loop lesson applied to Huffman). Cached:
    real corpora reuse a handful of tables (our encoder ships the
    fixed Annex K pair), so the 64 KiB fill runs once per table, not
    per frame. Plain lists, not arrays — the decode loop consumes
    one scalar at a time and list indexing returns ready Python ints."""
    enc = _canonical_codes(bits, vals)
    lens = np.zeros(65536, dtype=np.int64)
    syms = np.zeros(65536, dtype=np.int64)
    for sym, (code, length) in enc.items():
        lo = code << (16 - length)
        lens[lo:lo + (1 << (16 - length))] = length
        syms[lo:lo + (1 << (16 - length))] = sym
    return lens.tolist(), syms.tolist()


def decode_gray(data: bytes) -> np.ndarray:
    """Decode a baseline greyscale JPEG produced by any conforming
    encoder using 1 component and no restart intervals. Raises
    ValueError on anything else (progressive, multi-component,
    truncated) — the segment walker in operators/multimodal.py remains
    the metadata path for those."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    dims = None
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("lost JPEG marker sync")
        # B.1.1.2: markers may be preceded by any number of 0xFF fill
        # bytes — skip them (a conforming encoder may pad with 0xFF)
        while data[pos + 1] == 0xFF and pos + 4 <= len(data):
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:
            raise ValueError("JPEG ended before SOS")
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        # the fill-byte skip above can exit on its bounds condition
        # with marker still 0xFF and fewer than 2 length bytes left —
        # keep that inside the ValueError contract (corrupt payload),
        # not a struct.error escaping to the caller
        if marker == 0xFF or pos + 4 > len(data):
            raise ValueError("truncated JPEG (0xFF run at end of data)")
        seglen = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        seg = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(seg[i + 1:i + 65],
                                            dtype=np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = tuple(seg[i + 1:i + 17])
                nvals = sum(bits)
                # a truncated segment can declare more codes than it
                # carries values — caught here so the canonical-code
                # walk can't run off the value list (fuzz-pinned:
                # decode must be TOTAL, ValueError on any malformation)
                if len(bits) < 16 or i + 17 + nvals > len(seg):
                    raise ValueError("truncated DHT segment")
                vals = tuple(seg[i + 17:i + 17 + nvals])
                huff[(tc, th)] = _lookup_tables(bits, vals)
                i += 17 + nvals
        elif marker == 0xC0 or marker == 0xC1:
            if len(seg) < 9:
                raise ValueError("truncated SOF segment")
            _prec, h, w, nf = struct.unpack(">BHHB", seg[:6])
            if nf != 1:
                raise ValueError("only 1-component baseline supported")
            comp_tq = seg[8]
            dims = (h, w, comp_tq)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            # 0xC8 (JPG extension) included: it signals a non-baseline
            # coding process, not a skippable metadata segment
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            if dims is None:
                raise ValueError("SOS before SOF")
            if len(seg) < 3:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            if ns != 1:
                raise ValueError("only 1-component scans supported")
            td, ta = seg[2] >> 4, seg[2] & 15
            if (0, td) not in huff or (1, ta) not in huff:
                raise ValueError("SOS references missing Huffman table")
            if dims[2] not in qt:
                raise ValueError("SOS references missing quant table")
            scan_start = pos + 2 + seglen
            return _decode_scan(data, scan_start, dims, qt,
                                huff[(0, td)], huff[(1, ta)])
        pos += 2 + seglen
    raise ValueError("no SOS marker found")


def _decode_scan(data: bytes, start: int, dims, qt, dc_tab,
                 ac_tab) -> np.ndarray:
    h, w, tq = dims
    end = data.rfind(b"\xff\xd9")
    if end < start:
        raise ValueError("missing EOI")
    entropy = data[start:end].replace(b"\xff\x00", b"\xff")
    dc_len, dc_sym = dc_tab
    ac_len, ac_sym = ac_tab
    # One vectorized pass turns the whole entropy stream into 16-bit
    # lookahead windows: W[p] = the 16 bits starting at bit p, so a
    # code OR a value read at any position is one index. Built from
    # three-byte rolling words with two shifts — not an unpackbits
    # (n,16) bit matrix, whose matmul upcasts to int64 and
    # transiently costs ~128 bytes per input byte (measured 25x
    # slower at 100 KB). W stays the int64 NDARRAY: ~64 bytes per
    # input byte of steady state (8 windows/byte x 8 B). The r9
    # .tolist() form was ~4.5x that (measured ~288 B/input byte —
    # list slot + a fresh PyLong per window), which on a multi-MB
    # real JPEG transiently held hundreds of MB per image on
    # executors (ADVICE r9); each loop read below converts its one
    # scalar with int(), which benchmarks within a few percent of
    # list indexing on 512x512 photo content while the old _BitReader
    # was ~85% of decode wall. The trailing pad is 1-bits (the spec's
    # byte-align fill), so windows past the real stream decode as the
    # (invalid or truncating) padding they are — the pos > nbits
    # guard below keeps the old ValueError contract for truncated
    # streams.
    W, nbits = _bit_windows(entropy)
    nby, nbx = (h + 7) // 8, (w + 7) // 8
    nb = nby * nbx
    zz = np.zeros((nb, 64), dtype=np.int32)
    dc = 0
    pos = 0
    for b in range(nb):
        wv = int(W[pos])
        length = dc_len[wv]
        if length == 0:
            raise ValueError("invalid Huffman code in JPEG stream")
        size = dc_sym[wv]
        pos += length
        if pos > nbits:
            raise ValueError("truncated JPEG entropy stream")
        if size:
            v = int(W[pos]) >> (16 - size)
            pos += size
            if pos > nbits:
                raise ValueError("truncated JPEG entropy stream")
            # F.2.2.1 EXTEND inlined
            dc += v if v >= (1 << (size - 1)) else v - (1 << size) + 1
        zz[b, 0] = dc
        k = 1
        while k < 64:
            wv = int(W[pos])
            length = ac_len[wv]
            if length == 0:
                raise ValueError("invalid Huffman code in JPEG stream")
            sym = ac_sym[wv]
            pos += length
            if pos > nbits:
                raise ValueError("truncated JPEG entropy stream")
            if sym == 0x00:      # EOB
                break
            if sym == 0xF0:      # ZRL
                k += 16
                continue
            size = sym & 15
            if size == 0:
                # T.81 table F.1 leaves (run, size=0) undefined for
                # run not in {0 (EOB), 15 (ZRL)} — a reserved symbol
                # only a corrupt/hostile stream produces. Without
                # this guard the EXTEND below evaluates 1 << -1
                # (ValueError by accident, with a misleading
                # message); fail it as the explicit corrupt-stream
                # contract instead (ADVICE r9).
                raise ValueError("reserved AC symbol in JPEG stream")
            k += sym >> 4
            if k > 63:
                raise ValueError("AC run past block end")
            v = int(W[pos]) >> (16 - size)
            pos += size
            if pos > nbits:
                raise ValueError("truncated JPEG entropy stream")
            zz[b, k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
            k += 1
    qc = np.zeros((nb, 64), dtype=np.int32)
    qc[:, ZIGZAG] = zz
    return _reconstruct(qc.reshape(nb, 8, 8), qt[tq], nby, nbx, h, w)


# ------------------------------------------------------------------ #
# Multi-component (color) extension — r16, VERDICT r15 item 5.       #
#                                                                    #
# Same public-spec provenance as the grayscale codec: ITU-T T.81     #
# Annex K.2 chrominance quantization table, K.3.3/K.3.4 standard     #
# chroma DC/AC Huffman tables, A.2.3 interleaved MCU ordering for    #
# baseline multi-component scans, G.1.2/G.2 progressive spectral-    #
# selection coding (EOBn run-length symbols), and the JFIF/CCIR-601  #
# RGB <-> YCbCr equations. Scope, honestly bounded: baseline         #
# sequential multi-component with integer-ratio sampling (covers    #
# 4:4:4 / 4:2:2 / 4:2:0) and progressive SPECTRAL SELECTION with     #
# Ah=Al=0 (the committed color fixture's exact shape). Successive    #
# approximation (Ah/Al != 0), arithmetic coding, 12-bit precision    #
# and restart intervals raise ValueError — metadata still parses     #
# through operators/multimodal.py's segment walker as before.        #
# ------------------------------------------------------------------ #

# Annex K.2 — chrominance quantization table (quality 50), natural
# (row-major) order.
STD_CHROMA_Q = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# Annex K.3.3 — standard DC chrominance Huffman spec.
DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_CHROMA_VALS = tuple(range(12))
# Annex K.3.4 — standard AC chrominance Huffman spec.
AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_CHROMA_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)

_DC_CHROMA_ENC = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
_AC_CHROMA_ENC = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)


def _bit_windows(entropy: bytes):
    """(W, nbits): the vectorized 16-bit lookahead windows over the
    de-stuffed entropy stream (see _decode_scan's rationale — this is
    that construction factored out for the multi-component walkers)."""
    barr = np.frombuffer(entropy, dtype=np.uint8)
    nbits = barr.size * 8
    padded = np.concatenate(
        [barr, np.full(4, 0xFF, np.uint8)]).astype(np.int64)
    trip = (padded[:-2] << 16) | (padded[1:-1] << 8) | padded[2:]
    idx = np.arange(nbits + 16)
    W = (trip[idx >> 3] >> (8 - (idx & 7))) & 0xFFFF
    return W, nbits


def _extend(v: int, size: int) -> int:
    """F.2.2.1 EXTEND: map `size` magnitude bits to a signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF / CCIR-601 full-range RGB -> YCbCr, rounded to uint8 the
    same floor(x + 0.5) way the IDCT level shift rounds."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.floor(np.stack([y, cb, cr], axis=-1) + 0.5),
                   0, 255).astype(np.uint8)


def _box_subsample(plane: np.ndarray, hs: int, vs: int) -> np.ndarray:
    """hs x vs box-mean chroma subsample with edge padding, rounded
    floor(mean + 0.5) — one deterministic choice among the several
    the spec leaves to encoders (decoders never see which)."""
    if hs == 1 and vs == 1:
        return plane
    h, w = plane.shape
    H = (h + vs - 1) // vs * vs
    W_ = (w + hs - 1) // hs * hs
    p = np.pad(plane, ((0, H - h), (0, W_ - w)), mode="edge")
    win = p.reshape(H // vs, vs, W_ // hs, hs).astype(np.float64)
    return np.floor(win.mean(axis=(1, 3)) + 0.5).astype(np.uint8)


def _comp_geometry(h: int, w: int, samps: list) -> tuple:
    """Per-component geometry (A.1.1): full-frame MCU grid plus each
    component's pixel dims, interleaved (MCU-padded) block grid and
    non-interleaved block grid."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    geo = []
    for hc, vc in samps:
        if hmax % hc or vmax % vc:
            raise ValueError("non-integer-ratio sampling unsupported")
        cw = (w * hc + hmax - 1) // hmax
        ch = (h * vc + vmax - 1) // vmax
        geo.append({
            "H": hc, "V": vc, "cw": cw, "ch": ch,
            "bw": mcx * hc, "bh": mcy * vc,           # interleaved grid
            "ncw": (cw + 7) // 8, "nch": (ch + 7) // 8,  # per-comp grid
            "upx": hmax // hc, "upy": vmax // vc,
        })
    return mcx, mcy, geo


def _entropy_end(data: bytes, start: int) -> int:
    """Offset of the marker terminating the entropy stream that
    starts at `start` (skipping stuffed 0xFF 0x00 pairs). Restart
    markers raise — DRI is rejected at parse time, so one appearing
    here means a stream this decoder does not support."""
    p = start
    while True:
        p = data.find(b"\xff", p)
        if p < 0 or p + 1 >= len(data):
            raise ValueError("truncated JPEG entropy stream")
        m = data[p + 1]
        if m == 0x00:
            p += 2
            continue
        if 0xD0 <= m <= 0xD7:
            raise ValueError("restart intervals unsupported")
        return p


def _read_symbol(W, nbits, pos, lens, syms):
    """One Huffman symbol at bit `pos`; returns (symbol, new pos)."""
    wv = int(W[pos])
    length = lens[wv]
    if length == 0:
        raise ValueError("invalid Huffman code in JPEG stream")
    pos += length
    if pos > nbits:
        raise ValueError("truncated JPEG entropy stream")
    return syms[wv], pos


def _read_bits(W, nbits, pos, n):
    """n raw magnitude bits at `pos`; returns (value, new pos)."""
    v = int(W[pos]) >> (16 - n)
    pos += n
    if pos > nbits:
        raise ValueError("truncated JPEG entropy stream")
    return v, pos


def _decode_full_block(W, nbits, pos, dc_tab, ac_tab, dc, out):
    """Sequential-mode block decode (DC diff + all 63 AC) into the
    zig-zag row `out`; returns (pos, new dc predictor)."""
    dc_len, dc_sym = dc_tab
    ac_len, ac_sym = ac_tab
    size, pos = _read_symbol(W, nbits, pos, dc_len, dc_sym)
    if size:
        v, pos = _read_bits(W, nbits, pos, size)
        dc += _extend(v, size)
    out[0] = dc
    k = 1
    while k < 64:
        sym, pos = _read_symbol(W, nbits, pos, ac_len, ac_sym)
        if sym == 0x00:          # EOB
            break
        if sym == 0xF0:          # ZRL
            k += 16
            continue
        size = sym & 15
        if size == 0:
            raise ValueError("reserved AC symbol in JPEG stream")
        k += sym >> 4
        if k > 63:
            raise ValueError("AC run past block end")
        v, pos = _read_bits(W, nbits, pos, size)
        out[k] = _extend(v, size)
        k += 1
    return pos, dc


def decode_components(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline-sequential OR progressive-spectral-selection
    JPEG of any component count to (h, w, planes) where planes is an
    (h, w, nf) uint8 array of the decoded component rasters, chroma
    upsampled to full resolution by pixel replication. Raises
    ValueError on anything outside that envelope (successive
    approximation, arithmetic coding, restart intervals, 12-bit,
    truncation/corruption) — the same totality contract as
    decode_gray, fuzz-pinned in tests/test_properties.py."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}
    frame = None     # (progressive, h, w, comps[(cid, H, V, tq)])
    geo = None
    coef = None      # per-comp (bh*bw, 64) int32 zig-zag coefficients
    dcpred = None
    seen_scan = None
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("lost JPEG marker sync")
        while data[pos + 1] == 0xFF and pos + 4 <= len(data):
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:                      # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        if marker == 0xFF or pos + 4 > len(data):
            raise ValueError("truncated JPEG (0xFF run at end of data)")
        seglen = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        seg = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                pq, tq_id = seg[i] >> 4, seg[i] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if i + 65 > len(seg):
                    raise ValueError("truncated DQT segment")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(seg[i + 1:i + 65],
                                            dtype=np.uint8)
                qt[tq_id] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = tuple(seg[i + 1:i + 17])
                nvals = sum(bits)
                if len(bits) < 16 or i + 17 + nvals > len(seg):
                    raise ValueError("truncated DHT segment")
                vals = tuple(seg[i + 17:i + 17 + nvals])
                huff[(tc, th)] = _lookup_tables(bits, vals)
                i += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):
            if frame is not None:
                raise ValueError("multiple frame headers")
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            prec, h, w, nf = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nf == 0 or len(seg) < 6 + 3 * nf or h == 0 or w == 0:
                raise ValueError("malformed SOF segment")
            comps = []
            for i in range(nf):
                cid, samp, tq_id = seg[6 + 3 * i:9 + 3 * i]
                hc, vc = samp >> 4, samp & 15
                if not (1 <= hc <= 4 and 1 <= vc <= 4):
                    raise ValueError("invalid sampling factors")
                comps.append((cid, hc, vc, tq_id))
            frame = (marker == 0xC2, h, w, comps)
            _mcx, _mcy, geo = _comp_geometry(
                h, w, [(c[1], c[2]) for c in comps])
            coef = [np.zeros((g["bh"] * g["bw"], 64), dtype=np.int32)
                    for g in geo]
            dcpred = [0] * nf
            seen_scan = [False] * nf
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG coding process")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            progressive, h, w, comps = frame
            if len(seg) < 1:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3 or ns == 0:
                raise ValueError("truncated SOS segment")
            scomps = []
            for i in range(ns):
                cs, tables_ = seg[1 + 2 * i], seg[2 + 2 * i]
                ci = next((j for j, c in enumerate(comps)
                           if c[0] == cs), None)
                if ci is None:
                    raise ValueError("SOS references unknown component")
                scomps.append((ci, tables_ >> 4, tables_ & 15))
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            start = pos + 2 + seglen
            end = _entropy_end(data, start)
            entropy = data[start:end].replace(b"\xff\x00", b"\xff")
            W, nbits = _bit_windows(entropy)
            if progressive:
                if ah or al:
                    raise ValueError(
                        "successive approximation unsupported")
                if ss == 0:
                    if se != 0:
                        raise ValueError("malformed DC scan band")
                    _decode_dc_scan(W, nbits, frame, geo, coef,
                                    dcpred, scomps, huff)
                else:
                    if ns != 1 or se > 63 or se < ss:
                        raise ValueError("malformed AC scan band")
                    _decode_ac_scan(W, nbits, geo, coef,
                                    scomps[0], ss, se, huff)
            else:
                _decode_sequential_scan(W, nbits, frame, geo, coef,
                                        dcpred, scomps, huff, qt)
            for ci, _td, _ta in scomps:
                seen_scan[ci] = True
            pos = end
            continue
        pos += 2 + seglen
    if frame is None or coef is None:
        raise ValueError("no frame in JPEG")
    if not all(seen_scan):
        raise ValueError("component never scanned")
    progressive, h, w, comps = frame
    planes = []
    for ci, (cid, hc, vc, tq_id) in enumerate(comps):
        if tq_id not in qt:
            raise ValueError("frame references missing quant table")
        g = geo[ci]
        qc = np.zeros((g["bh"] * g["bw"], 64), dtype=np.int32)
        qc[:, ZIGZAG] = coef[ci]
        full = _reconstruct(qc.reshape(-1, 8, 8), qt[tq_id],
                            g["bh"], g["bw"], g["ch"], g["cw"])
        up = np.repeat(np.repeat(full, g["upy"], axis=0),
                       g["upx"], axis=1)[:h, :w]
        if up.shape != (h, w):
            # integer-ratio upsample of the ceil'd component dims
            # always covers the frame; anything else is a geometry
            # bug, not a data property
            raise ValueError("component does not cover frame")
        planes.append(up)
    return h, w, np.stack(planes, axis=-1)


def _scan_tables(huff, td, ta, need_ac):
    if (0, td) not in huff:
        raise ValueError("SOS references missing Huffman table")
    if need_ac and (1, ta) not in huff:
        raise ValueError("SOS references missing Huffman table")
    return huff[(0, td)], huff.get((1, ta))


def _decode_sequential_scan(W, nbits, frame, geo, coef, dcpred,
                            scomps, huff, qt):
    """Baseline scan: interleaved MCU order when ns > 1 (A.2.3),
    the component's own raster order when ns == 1 (A.2.2)."""
    _prog, h, w, comps = frame
    if len(scomps) == 1:
        ci, td, ta = scomps[0]
        dc_tab, ac_tab = _scan_tables(huff, td, ta, True)
        g = geo[ci]
        pos = 0
        dc = dcpred[ci]
        for by in range(g["nch"]):
            for bx in range(g["ncw"]):
                b = by * g["bw"] + bx
                pos, dc = _decode_full_block(
                    W, nbits, pos, dc_tab, ac_tab, dc, coef[ci][b])
        dcpred[ci] = dc
        return
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    tabs = [_scan_tables(huff, td, ta, True) for _ci, td, ta in scomps]
    pos = 0
    for my in range(mcy):
        for mx in range(mcx):
            for si, (ci, _td, _ta) in enumerate(scomps):
                g = geo[ci]
                dc_tab, ac_tab = tabs[si]
                for v in range(g["V"]):
                    for hh in range(g["H"]):
                        b = ((my * g["V"] + v) * g["bw"]
                             + mx * g["H"] + hh)
                        pos, dcpred[ci] = _decode_full_block(
                            W, nbits, pos, dc_tab, ac_tab,
                            dcpred[ci], coef[ci][b])


def _decode_dc_scan(W, nbits, frame, geo, coef, dcpred, scomps, huff):
    """Progressive first DC scan (G.2, Ah=Al=0): DC-only blocks, MCU-
    interleaved when ns > 1, component raster order when ns == 1."""
    _prog, h, w, comps = frame
    def dc_block(pos, ci, b, dc_tab):
        dc_len, dc_sym = dc_tab
        size, pos = _read_symbol(W, nbits, pos, dc_len, dc_sym)
        if size:
            v, pos = _read_bits(W, nbits, pos, size)
            dcpred[ci] += _extend(v, size)
        coef[ci][b, 0] = dcpred[ci]
        return pos
    if len(scomps) == 1:
        ci, td, _ta = scomps[0]
        dc_tab, _ = _scan_tables(huff, td, 0, False)
        g = geo[ci]
        pos = 0
        for by in range(g["nch"]):
            for bx in range(g["ncw"]):
                pos = dc_block(pos, ci, by * g["bw"] + bx, dc_tab)
        return
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    tabs = [_scan_tables(huff, td, 0, False)[0]
            for _ci, td, _ta in scomps]
    pos = 0
    for my in range(mcy):
        for mx in range(mcx):
            for si, (ci, _td, _ta) in enumerate(scomps):
                g = geo[ci]
                for v in range(g["V"]):
                    for hh in range(g["H"]):
                        b = ((my * g["V"] + v) * g["bw"]
                             + mx * g["H"] + hh)
                        pos = dc_block(pos, ci, b, tabs[si])


def _decode_ac_scan(W, nbits, geo, coef, scomp, ss, se, huff):
    """Progressive AC spectral-selection scan (G.2.2, Ah=Al=0):
    single component, band [ss, se], EOBn run-length coding."""
    ci, _td, ta = scomp
    if (1, ta) not in huff:
        raise ValueError("SOS references missing Huffman table")
    ac_len, ac_sym = huff[(1, ta)]
    g = geo[ci]
    pos = 0
    eobrun = 0
    for by in range(g["nch"]):
        for bx in range(g["ncw"]):
            b = by * g["bw"] + bx
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym, pos = _read_symbol(W, nbits, pos, ac_len, ac_sym)
                r, size = sym >> 4, sym & 15
                if size == 0:
                    if r == 15:          # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1  # EOBn: this block + 2^r-1
                    if r:
                        v, pos = _read_bits(W, nbits, pos, r)
                        eobrun += v
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                v, pos = _read_bits(W, nbits, pos, size)
                coef[ci][b, k] = _extend(v, size)
                k += 1


def decode_luma(data: bytes) -> np.ndarray:
    """The decoded LUMA plane (component 0, full resolution) of any
    JPEG decode_components accepts — the mean_luma path for
    multi-component files (operators/multimodal.py)."""
    _h, _w, planes = decode_components(data)
    return planes[..., 0]


def _plane_blocks_mcu(plane: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Edge-pad a component plane to its MCU-padded block grid and
    return (bh*bw, 8, 8) raster blocks in row-major block order."""
    h, w = plane.shape
    padded = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)),
                    mode="edge")
    return (padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
            .reshape(bh * bw, 8, 8))


def _color_planes_and_coefs(rgb: np.ndarray, hs: int, vs: int):
    """Shared front half of both color encoders: YCbCr conversion,
    chroma subsampling, per-component geometry and quantized zig-zag
    coefficients on the MCU-padded grids."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.size == 0:
        raise ValueError("encode_color expects a non-empty (h, w, 3)")
    if hs not in (1, 2) or vs not in (1, 2):
        raise ValueError("supported sampling factors are 1 and 2")
    h, w = rgb.shape[:2]
    if h > 0xFFFF or w > 0xFFFF:
        raise ValueError("image dimension exceeds JPEG's 16-bit field")
    ycc = _rgb_to_ycbcr(rgb)
    samps = [(hs, vs), (1, 1), (1, 1)]
    _mcx, _mcy, geo = _comp_geometry(h, w, samps)
    planes = [ycc[..., 0],
              _box_subsample(ycc[..., 1], hs, vs),
              _box_subsample(ycc[..., 2], hs, vs)]
    qtabs = [STD_LUMA_Q, STD_CHROMA_Q, STD_CHROMA_Q]
    zz = []
    for plane, g, q in zip(planes, geo, qtabs):
        blocks = _plane_blocks_mcu(plane, g["bw"], g["bh"])
        zz.append(_quantize(blocks, q).reshape(-1, 64)[:, ZIGZAG])
    return h, w, geo, zz, qtabs


def _color_headers(h: int, w: int, hs: int, vs: int,
                   sof_marker: bytes) -> bytes:
    """SOI + DQT(luma, chroma) + SOF + DHT(4 standard tables)."""
    dqt = b""
    for tq_id, q in ((0, STD_LUMA_Q), (1, STD_CHROMA_Q)):
        dqt += (b"\xff\xdb" + struct.pack(">HB", 67, tq_id)
                + bytes(int(q.reshape(64)[ZIGZAG[k]])
                        for k in range(64)))
    sof = (sof_marker + struct.pack(">HBHHB", 8 + 3 * 3, 8, h, w, 3)
           + bytes((1, (hs << 4) | vs, 0))
           + bytes((2, 0x11, 1)) + bytes((3, 0x11, 1)))
    dht = b""
    for tc_th, bits, vals in (
            (0x00, DC_BITS, DC_VALS), (0x10, AC_BITS, AC_VALS),
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)):
        dht += (b"\xff\xc4"
                + struct.pack(">HB", 2 + 1 + 16 + len(vals), tc_th)
                + bytes(bits) + bytes(vals))
    return b"\xff\xd8" + dqt + sof + dht


def _color_recon(h, w, geo, zz, qtabs) -> np.ndarray:
    """The decoder-contract reconstruction: per-component dequant +
    IDCT + crop, replication upsample, stacked (h, w, 3) YCbCr."""
    planes = []
    for g, z, q in zip(geo, zz, qtabs):
        qc = np.zeros((len(z), 64), dtype=np.int32)
        qc[:, ZIGZAG] = z
        full = _reconstruct(qc.reshape(-1, 8, 8), q,
                            g["bh"], g["bw"], g["ch"], g["cw"])
        planes.append(np.repeat(np.repeat(full, g["upy"], axis=0),
                                g["upx"], axis=1)[:h, :w])
    return np.stack(planes, axis=-1)


def encode_color(rgb: np.ndarray, hs: int = 2, vs: int = 2,
                 return_recon: bool = False):
    """Encode (h, w, 3) uint8 RGB as a baseline-sequential YCbCr JPEG
    with hs x vs luma sampling (2, 2 = 4:2:0; 1, 1 = 4:4:4), Annex K
    luma + chroma tables, one interleaved scan. With return_recon
    also returns the (h, w, 3) YCbCr reconstruction any conforming
    decoder of this file must produce under this module's arithmetic
    (decode_components pins the bit-equality)."""
    h, w, geo, zz, qtabs = _color_planes_and_coefs(rgb, hs, vs)
    bw_ = _BitWriter()
    dcpred = [0, 0, 0]
    encs = [(_DC_ENC, _AC_ENC), (_DC_CHROMA_ENC, _AC_CHROMA_ENC),
            (_DC_CHROMA_ENC, _AC_CHROMA_ENC)]
    mcy, mcx = geo[0]["bh"] // vs, geo[0]["bw"] // hs
    for my in range(mcy):
        for mx in range(mcx):
            for ci, g in enumerate(geo):
                dc_enc, ac_enc = encs[ci]
                for v in range(g["V"]):
                    for hh in range(g["H"]):
                        b = ((my * g["V"] + v) * g["bw"]
                             + mx * g["H"] + hh)
                        dcpred[ci] = _encode_block(
                            bw_, zz[ci][b], dcpred[ci], dc_enc, ac_enc)
    entropy = bw_.flush()
    sos = (b"\xff\xda" + struct.pack(">HB", 12, 3)
           + bytes((1, 0x00, 2, 0x11, 3, 0x11)) + bytes((0, 63, 0)))
    data = (_color_headers(h, w, hs, vs, b"\xff\xc0") + sos + entropy
            + b"\xff\xd9")
    if return_recon:
        return data, _color_recon(h, w, geo, zz, qtabs)
    return data


def encode_progressive_color(rgb: np.ndarray, hs: int = 2,
                             vs: int = 2) -> bytes:
    """The same quantized coefficients as encode_color, emitted as a
    PROGRESSIVE (SOF2) spectral-selection progression with Ah=Al=0 —
    one non-interleaved DC scan then one full AC scan per component,
    the committed color fixture's coding shape. Exists so the
    progressive decode path has a from-scratch differential twin:
    decode_components of this stream must equal decode_components of
    encode_color's stream bit-exactly (same coefficients, same
    reconstruction arithmetic)."""
    h, w, geo, zz, qtabs = _color_planes_and_coefs(rgb, hs, vs)
    encs = [(_DC_ENC, _AC_ENC), (_DC_CHROMA_ENC, _AC_CHROMA_ENC),
            (_DC_CHROMA_ENC, _AC_CHROMA_ENC)]
    scans = b""
    for ci, g in enumerate(geo):
        # DC scan: non-interleaved raster over the component's own
        # (ncw x nch) grid — the MCU-padding blocks are NOT coded in
        # non-interleaved scans (A.2.2), and the decoder's crop makes
        # them invisible either way
        bw_ = _BitWriter()
        dc = 0
        dc_enc, ac_enc = encs[ci]
        for by in range(g["nch"]):
            for bx in range(g["ncw"]):
                blk = zz[ci][by * g["bw"] + bx]
                diff = int(blk[0]) - dc
                dc = int(blk[0])
                size, bits = _magnitude(diff)
                code, length = dc_enc[size]
                bw_.put(code, length)
                bw_.put(bits, size)
        td = 0 if ci == 0 else 1
        scans += (b"\xff\xda" + struct.pack(">HB", 8, 1)
                  + bytes((ci + 1, td << 4)) + bytes((0, 0, 0))
                  + bw_.flush())
    for ci, g in enumerate(geo):
        # AC scan: band 1..63, plain EOB per block (EOBn with n=1 —
        # a conforming choice; the DECODER handles general EOBn)
        bw_ = _BitWriter()
        _dc_enc, ac_enc = encs[ci]
        for by in range(g["nch"]):
            for bx in range(g["ncw"]):
                blk = zz[ci][by * g["bw"] + bx]
                run = 0
                nz = np.nonzero(blk[1:])[0]
                last = nz[-1] + 1 if len(nz) else 0
                for k in range(1, last + 1):
                    v = int(blk[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_enc[0xF0]
                        bw_.put(code, length)
                        run -= 16
                    size, bits = _magnitude(v)
                    code, length = ac_enc[(run << 4) | size]
                    bw_.put(code, length)
                    bw_.put(bits, size)
                    run = 0
                if last < 63:
                    code, length = ac_enc[0x00]
                    bw_.put(code, length)
        ta = 0 if ci == 0 else 1
        scans += (b"\xff\xda" + struct.pack(">HB", 8, 1)
                  + bytes((ci + 1, ta)) + bytes((1, 63, 0))
                  + bw_.flush())
    return (_color_headers(h, w, hs, vs, b"\xff\xc2") + scans
            + b"\xff\xd9")
