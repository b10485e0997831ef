"""Video columns (SURVEY §2.4 D20, the video modality): opaque AVI
payloads containing Motion-JPEG streams, with container-walking frame
sampling and REAL pixel decode of the sampled frames through the
repo's from-scratch baseline JPEG codec (functions/jpeg.py).

`make_avi` emits a conforming RIFF 'AVI ' container — LIST hdrl
(avih main header + LIST strl with a 'vids'/'MJPG' strh and a
BITMAPINFOHEADER strf), LIST movi holding one '00dc' chunk per frame
(each a complete baseline JPEG, even-padded per RIFF), and an idx1
index — and `parse_avi` is a genuine byte-level walk: RIFF signature,
nested LIST traversal, header field extraction, per-chunk padding.
This is the production frame-sampling shape: seek the container
index, touch ONLY the sampled frames' bytes, decode just those — the
skipped frames' JPEG payloads are never entropy-decoded.

Payload synthesis follows the image/audio fixture discipline (the
corpus ships no media): frame f of doc d cycles the doc's text bytes
with a per-frame phase shift, so frames differ but are closed-form —
the ORACLE predicts the sampled frame numbers, geometry, and the
quant_err_ok verdict from doc_id arithmetic, and the UDF recomputes
the source pixels to check the decoded output against the codec's
lossiness bound (multimodal.JPEG_ERR_TOL — the jpeg_pixel_roundtrip
contract). A container mis-parse, wrong frame selection, or codec
regression each flip a checked field.

Scale: payloads stay out of shuffles (narrow Arrow-batched map over
tables.spread); per-row output is tiny typed features.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StructField, StructType)

from mapreduce_go_spark import tables
from mapreduce_go_spark.operators.multimodal import JPEG_ERR_TOL

_spread = tables.spread

VIDEO_CORRUPT_EVERY = 11   # image/audio family discipline
FRAME_SAMPLE_STRIDE = 2    # decode every 2nd frame
_DIM_MOD = 24              # frame dims in [8, 31] — 8x8-block scale


def _video_params(doc_id: int) -> tuple[int, int, int]:
    """(n_frames, width, height) for a doc's synthesized clip."""
    return (2 + doc_id % 5,
            8 + (doc_id * 3) % _DIM_MOD,
            8 + (doc_id * 5) % _DIM_MOD)


def _frame_pixels(doc_id: int, frame_no: int, body: bytes) -> np.ndarray:
    """Frame pixels: the doc's byte stream cycled with a 13-byte
    phase shift per frame (frames differ, stay closed-form)."""
    _, w, h = _video_params(doc_id)
    body = body or b"x"
    arr = np.frombuffer(body, dtype=np.uint8)
    idx = (np.arange(w * h) + frame_no * 13) % len(arr)
    return arr[idx].reshape(h, w)


def _chunk(cid: bytes, data: bytes) -> bytes:
    return cid + struct.pack("<I", len(data)) + data + (
        b"\x00" if len(data) & 1 else b"")


def _lst(kind: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", kind + data)


def make_avi(doc_id: int, body: bytes) -> bytes:
    """Per-doc MJPG AVI: every frame is a real baseline JPEG from the
    repo's own codec. Corrupt docs truncate below any header."""
    from mapreduce_go_spark.functions import jpeg

    if doc_id % VIDEO_CORRUPT_EVERY == 0:
        return b"RIFF\x04\x00"
    nf, w, h = _video_params(doc_id)
    frames = [jpeg.encode_gray(_frame_pixels(doc_id, f, body))
              for f in range(nf)]
    return build_avi(nf, w, h, frames)


def build_avi(nf: int, w: int, h: int, frames: list[bytes]) -> bytes:
    """Assemble a conforming RIFF/AVI MJPG container around
    already-encoded JPEG frames (shared by make_avi and the
    perceptual-dedup clip synthesis)."""
    # avih: usec/frame (25 fps), maxbytes, padding, flags(HASINDEX),
    # totalframes, initial, streams, bufsize, w, h, reserved[4]
    avih = struct.pack("<14I", 40000, 0, 0, 0x10, nf, 0, 1, 0, w, h,
                       0, 0, 0, 0)
    # strh: fccType 'vids', handler 'MJPG', then flags .. scale/rate
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25, 0, nf,
                          0, 0, 0, 0))
    # strf: BITMAPINFOHEADER, biCompression = 'MJPG'
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh)
                       + _chunk(b"strf", strf)))
    movi_body = b"".join(_chunk(b"00dc", f) for f in frames)
    movi = _lst(b"movi", movi_body)
    # idx1: one entry per frame — offset from 'movi' fourcc start
    entries, off = [], 4
    for f in frames:
        entries.append(struct.pack("<4sII I", b"00dc", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) & 1)
    idx1 = _chunk(b"idx1", b"".join(entries))
    payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def parse_avi(payload: bytes) -> dict:
    """Real RIFF walk -> {n_frames, width, height, frames: [bytes]}.
    Validates signatures, traverses nested LISTs, extracts avih
    geometry, collects '00dc' chunk payloads with RIFF padding."""
    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    meta: dict = {"frames": []}

    def walk(start: int, end: int) -> None:
        off = start
        while off + 8 <= end:
            cid = payload[off:off + 4]
            (size,) = struct.unpack_from("<I", payload, off + 4)
            body0 = off + 8
            if body0 + size > end:
                raise ValueError("truncated chunk")
            if cid == b"LIST":
                walk(body0 + 4, body0 + size)   # skip list kind fourcc
            elif cid == b"avih":
                if size < 40:
                    # the fields below need 40 declared bytes: an
                    # unpack past the declared chunk would either
                    # leak struct.error (NOT ValueError — escaping
                    # the corrupt-skip and killing the task) or
                    # silently parse ADJACENT chunk bytes as
                    # geometry (r14 review; decode_wav's 'short fmt
                    # chunk' guard, never mirrored here)
                    raise ValueError("short avih chunk")
                mspf, _, _, _, nf = struct.unpack_from("<5I", payload, body0)
                w, h = struct.unpack_from("<2I", payload, body0 + 32)
                meta.update(n_frames=nf, width=w, height=h,
                            usec_per_frame=mspf)
            elif cid == b"00dc":
                meta["frames"].append(payload[body0:body0 + size])
            off = body0 + size + (size & 1)

    walk(12, len(payload))
    if "n_frames" not in meta:
        raise ValueError("missing avih header")
    if len(meta["frames"]) != meta["n_frames"]:
        raise ValueError("frame count mismatch")
    return meta


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_no", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("quant_err_ok", BooleanType()),
])


def _frame_sample_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode-only kernel over the pre-encoded AVI corpus
    (media_table('avi')): container walk + selective frame decode;
    `src` carries the original document bytes for the lossiness
    check against the closed-form source pixels."""
    from mapreduce_go_spark.functions import jpeg

    cols = [f.name for f in FRAME_SAMPLE_SCHEMA]
    for pdf in batches:
        out = []
        for doc_id, src, payload in zip(pdf["doc_id"], pdf["src"],
                                        pdf["payload"]):
            body = bytes(src) if src is not None else b""
            try:
                meta = parse_avi(
                    bytes(payload) if payload is not None else b"")
                rows = []
                for fno in range(0, meta["n_frames"],
                                 FRAME_SAMPLE_STRIDE):
                    # inside the SAME try: a clip that parses but
                    # holds a truncated/garbage frame payload (or
                    # off-geometry frames — the subtraction below
                    # broadcasts-raises) must follow the documented
                    # 'corrupt clips contribute zero rows' rule, not
                    # kill the task (r14 review)
                    dec = jpeg.decode_gray(meta["frames"][fno])
                    ref = _frame_pixels(int(doc_id), fno, body)
                    if dec.shape != ref.shape:
                        raise ValueError("frame geometry mismatch")
                    err = int(np.abs(dec.astype(np.int64)
                                     - ref.astype(np.int64)).max())
                    rows.append({
                        "doc_id": doc_id, "frame_no": fno,
                        "n_frames": meta["n_frames"],
                        "width": dec.shape[1], "height": dec.shape[0],
                        "quant_err_ok": err <= JPEG_ERR_TOL,
                    })
            except ValueError:
                continue   # corrupt clip: no sampled frames
            out.extend(rows)
        yield pd.DataFrame(out, columns=cols)


def mjpeg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 video: AVI container walk -> sample every
    FRAME_SAMPLE_STRIDE-th frame -> REAL baseline-JPEG pixel decode
    of only the sampled frames (skipped frames are never
    entropy-decoded — the 100 TB posture: container index seek +
    selective decode). Reads the pre-encoded AVI corpus
    (media.media_table — fixture synthesis happens once per session
    at the ingest boundary, not in the measured kernel; SCALE.md's
    attribution showed 63% of the old kernel was fixture JPEG
    encoding). The oracle predicts sampled frame numbers, clip
    geometry, and the codec lossiness verdict per frame; corrupt
    clips contribute zero rows."""
    from mapreduce_go_spark import media

    clips = media.media_table(spark, sf_dir, "avi")
    return clips.mapInPandas(_frame_sample_batches, FRAME_SAMPLE_SCHEMA)


# ---------------------------------------------------------------- #
# Video perceptual near-dup (D20 x D17): the fourth and last        #
# modality — text (minhash/simhash/CDC), image (pHash), audio       #
# (energy fingerprint), video (this)                                #
# ---------------------------------------------------------------- #

VPH_W = 32           # frame raster (multiple of the 8x8 JPEG MCU)
VPH_NF = 4           # frames per synthesized clip (stride-2 -> 2 decode)
VPH_MOTION = 97      # per-frame texture translation (pixels)
VPH_FAMILY = 3       # docs per perceptual family (doc_id // 3)
VPH_CORRUPT_EVERY = 13
VPH_BAND_CAP = 4
VPH_HAM_MAX = 10     # measured WITH the lossy codec: intra <= 5,
                     # inter >= 16 — the codec's quantization noise
                     # is inside the margin by construction


def _vphash_frame(doc_id: int, f: int) -> np.ndarray:
    """Frame f of the doc's synthesized clip: the image_phash_pairs
    family texture (multiplicatively scrambled per family, sparse
    clamped brightening per member) TRANSLATED by f*VPH_MOTION pixels
    — frames differ (motion), families persist across frames."""
    base = doc_id // VPH_FAMILY
    k = doc_id % VPH_FAMILY
    i = np.arange(VPH_W * VPH_W, dtype=np.int64)
    j = (i + f * VPH_MOTION) % (VPH_W * VPH_W)
    g = j * j * 31 + j * 7919 + 12345
    p = (((2 * base + 1) * g) % 65521) % 256
    if k:
        mask = (i + doc_id) % (6 + k) == 0
        delta = (doc_id * 31 + i) % 9
        p = np.minimum(p + np.where(mask, delta, 0), 255)
    return p.reshape(VPH_W, VPH_W).astype(np.uint8)


def _vphash_clip(doc_id: int) -> bytes:
    """The doc's synthesized clip as a REAL AVI (JPEG-encode every
    frame, full container), truncated for corrupt docs. This is the
    FIXTURE-MANUFACTURE step: at runtime it lives in the
    media.media_table('vph') parquet, written once per session — a
    real corpus arrives with these bytes (SCALE.md's mjpeg/vph
    attribution: encoding fixture frames in-kernel dominated the
    measured time)."""
    from mapreduce_go_spark.functions import jpeg

    avi = build_avi(VPH_NF, VPH_W, VPH_W,
                    [jpeg.encode_gray(_vphash_frame(doc_id, f))
                     for f in range(VPH_NF)])
    if doc_id % VPH_CORRUPT_EVERY == 0:
        avi = avi[:6]
    return avi


def _vphash_bands_from_avi(avi: bytes) -> list[int] | None:
    """Per-clip fingerprint from ENCODED clip bytes: walk the
    container, selectively decode every FRAME_SAMPLE_STRIDE-th frame
    — the LOSSY codec is genuinely inside the measured path —
    temporal-mean the decoded frames, then the 8x8 integer
    average-hash as four 16-bit band values. None for corrupt
    clips."""
    from mapreduce_go_spark.functions import jpeg

    try:
        meta = parse_avi(avi)
        acc = np.zeros(VPH_W * VPH_W, dtype=np.int64)
        for f in range(0, meta["n_frames"], FRAME_SAMPLE_STRIDE):
            # inside the try + explicit geometry guard: a decodable
            # clip with off-size or garbage frames must be SKIPPED
            # like corrupt, not kill the task via a broadcast
            # ValueError outside the guard — the exact hazard the
            # audio twin (_afp_bands_from_wav) fixed after r10 and
            # this mirror never got (r14 review)
            dec = jpeg.decode_gray(meta["frames"][f])
            if dec.shape != (VPH_W, VPH_W):
                raise ValueError("frame geometry mismatch")
            acc += dec.astype(np.int64).reshape(-1)
    except ValueError:
        return None
    cr = (np.arange(VPH_W) * 8) // VPH_W
    sums = np.zeros((8, 8), dtype=np.int64)
    np.add.at(sums, (np.repeat(cr, VPH_W), np.tile(cr, VPH_W)), acc)
    cnts = (np.bincount(cr, minlength=8)[:, None]
            * np.bincount(cr, minlength=8)[None, :])
    bits = (sums * (VPH_W * VPH_W) > sums.sum() * cnts).reshape(-1)
    from mapreduce_go_spark.operators.multimodal import _pack_bands

    return _pack_bands(bits)


def _vphash_clip_bands(doc_id: int) -> list[int] | None:
    """Synthesize-then-fingerprint, Spark-free — the lazy-oracle twin
    and ground-truth tests use this; the distributed path runs the
    same two halves with the synthesis half pre-materialized
    (media.media_table) and only _vphash_bands_from_avi in the
    per-query kernel."""
    return _vphash_bands_from_avi(_vphash_clip(doc_id))


def _vphash_band_batches(batches):
    """Decode-only kernel: reads ENCODED clip bytes (the 'payload'
    column of media_table('vph'))."""
    from mapreduce_go_spark.operators.multimodal import (
        PHASH_BANDS_SCHEMA, _phash_rows)

    cols = [f.name for f in PHASH_BANDS_SCHEMA]
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _phash_rows(
                doc_id,
                _vphash_bands_from_avi(
                    bytes(payload) if payload is not None else b""),
                out)
        yield pd.DataFrame(out, columns=cols)


def video_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 x D17: perceptual near-duplicate VIDEO pairs — temporal-
    mean pHash over REAL lossy MJPEG round-trips (container walk +
    selective baseline-JPEG decode of sampled frames), banded into
    capped LSH buckets, exact hamming verify (shared machinery:
    multimodal.banded_hamming_pairs). Completes perceptual dedup
    across all four modalities.

    Oracle note (the BPE/PQ discipline for non-SQL-expressible
    kernels): the lossy DCT/Huffman codec cannot be re-derived in
    SQL, so the lazy oracle embeds the Spark-free twin's per-clip
    hash literals and re-checks banding, cap, pair expansion and
    hamming in SQL; the hash derivation itself is pinned by
    tests/test_audio_video.py (ground-truth family recovery +
    twin/kernel equality + codec-in-path check)."""
    from mapreduce_go_spark import media
    from mapreduce_go_spark.operators.multimodal import (
        PHASH_BANDS_SCHEMA, banded_hamming_pairs)

    clips = media.media_table(spark, sf_dir, "vph").select(
        "doc_id", "payload")
    bands = clips.mapInPandas(_vphash_band_batches, PHASH_BANDS_SCHEMA)
    return banded_hamming_pairs(bands, VPH_BAND_CAP, VPH_HAM_MAX)


def _vphash_oracle_lazy() -> str | None:
    """LAZY oracle: per-clip hash literals from the Spark-free twin
    (same function the kernel runs), banding/cap/pairs/hamming
    recomputed in SQL from those literals."""
    import os

    import pyarrow.parquet as pq

    sf_dir = tables.oracle_sf_dir()
    try:
        ids = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id"]).column("doc_id").to_pylist()
        rows = []
        for d in sorted(ids):
            vals = _vphash_clip_bands(int(d))
            if vals is not None:
                rows.append((d, *vals))
    except Exception:
        return None
    if not rows:
        return None
    lits = ", ".join(f"({d}, {b0}, {b1}, {b2}, {b3})"
                     for d, b0, b1, b2, b3 in rows)
    return f"""
    WITH hashes(doc_id, b0, b1, b2, b3) AS (VALUES {lits}),
    bands AS (
        SELECT doc_id, b.band_no,
               CASE b.band_no WHEN 0 THEN b0 WHEN 1 THEN b1
                    WHEN 2 THEN b2 ELSE b3 END AS band_val
        FROM hashes
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_no) b
    ),
    ok_buckets AS (
        SELECT band_no, band_val FROM bands
        GROUP BY 1, 2
        HAVING count(*) BETWEEN 2 AND {VPH_BAND_CAP}
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
        <= {VPH_HAM_MAX}
    """


QUERIES = {
    "mjpeg_frame_sample": mjpeg_frame_sample,
    "video_phash_pairs": video_phash_pairs,
}

LAZY_ORACLES = {"video_phash_pairs": _vphash_oracle_lazy}

ORACLES = {
    "mjpeg_frame_sample": f"""
        WITH base AS (
            SELECT doc_id,
                   cast(2 + doc_id % 5 AS int) AS nf,
                   cast(8 + (doc_id * 3) % {_DIM_MOD} AS int) AS w,
                   cast(8 + (doc_id * 5) % {_DIM_MOD} AS int) AS h
            FROM documents
            WHERE doc_id % {VIDEO_CORRUPT_EVERY} <> 0
        )
        SELECT doc_id, cast(f AS int) AS frame_no, nf AS n_frames,
               w AS width, h AS height, true AS quant_err_ok
        FROM base,
             unnest(generate_series(0, nf - 1, {FRAME_SAMPLE_STRIDE}))
             AS g(f)
    """,
}
