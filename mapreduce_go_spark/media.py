"""Pre-materialized encoded media fixtures (r8, VERDICT item 4).

The media operators' inputs are synthesized containers (AVI/WAV/PNG
built deterministically from the documents table) because the test
corpus has no real binary column. Synthesizing IN the operator kernel
made the bench measure the wrong thing: SCALE.md's mjpeg attribution
shows 63% of that kernel was JPEG-ENCODING fixture frames a real
corpus would arrive with, and video_phash_pairs' 10x curve (6.0x) was
dominated by the same synthesis.

This module is the fixture-ingest boundary: each `kind` is written
ONCE per session as a parquet binary column — (doc_id, src, payload)
— by the same distributed synthesis kernels, and every consumer
operator reads the encoded bytes from it, exactly as a production job
would read an ingested corpus. Each kind is a session artifact
(workspace.session_parquet). Operator RESULTS are unchanged —
synthesis moved, it didn't change — so every oracle stays verbatim.

At 100 TB the analog is real: the corpus arrives as parquet/WARC with
binary media columns; the decode operators consume that column. The
synthesis kernels here exist only to manufacture the fixture.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StructField,
                               StructType)

from mapreduce_go_spark import tables
from mapreduce_go_spark.workspace import session_parquet

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("src", BinaryType()),      # original document bytes
    StructField("payload", BinaryType()),  # encoded container bytes
])


def _avi_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """kind='avi': per-doc MJPG AVI from the document's own bytes
    (video.make_avi) — the mjpeg_frame_sample corpus."""
    from mapreduce_go_spark.operators.video import make_avi

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            src = text.encode() if isinstance(text, str) else (
                bytes(text) if text is not None else b"")
            out.append({"doc_id": doc_id, "src": src,
                        "payload": make_avi(int(doc_id), src)})
        yield pd.DataFrame(out, columns=[f.name for f in MEDIA_SCHEMA])


def _vph_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """kind='vph': the perceptual-dedup clip family (4 fixed-size
    frames, family texture + motion), doc_id-closed-form — the
    video_phash_pairs corpus."""
    from mapreduce_go_spark.operators.video import _vphash_clip

    for pdf in batches:
        out = []
        for doc_id in pdf["doc_id"]:
            out.append({"doc_id": doc_id, "src": b"",
                        "payload": _vphash_clip(int(doc_id))})
        yield pd.DataFrame(out, columns=[f.name for f in MEDIA_SCHEMA])


def _png_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """kind='png': the perceptual-family rasters as real PNG bytes
    (multimodal._phash_png) — the image_phash_pairs /
    phash_dup_flags corpus."""
    from mapreduce_go_spark.operators.multimodal import _phash_png

    for pdf in batches:
        out = []
        for doc_id in pdf["doc_id"]:
            out.append({"doc_id": doc_id, "src": b"",
                        "payload": _phash_png(int(doc_id))})
        yield pd.DataFrame(out, columns=[f.name for f in MEDIA_SCHEMA])


def _afp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """kind='afp': the perceptual audio clip family as real WAV bytes
    (audio._afp_wav) — the audio_fingerprint_pairs corpus."""
    from mapreduce_go_spark.operators.audio import _afp_wav

    for pdf in batches:
        out = []
        for doc_id in pdf["doc_id"]:
            out.append({"doc_id": doc_id, "src": b"",
                        "payload": _afp_wav(int(doc_id))})
        yield pd.DataFrame(out, columns=[f.name for f in MEDIA_SCHEMA])


def _img_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """kind='img': the mixed-format image corpus (PNG/GIF/BMP rotated
    with REAL baseline JPEGs since r14, plus the every-11th truncated
    corrupt row) — the media_features corpus
    (multimodal.make_media_payload)."""
    from mapreduce_go_spark.operators.multimodal import make_media_payload

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            src = text.encode() if isinstance(text, str) else (
                bytes(text) if text is not None else b"")
            out.append({"doc_id": doc_id, "src": src,
                        "payload": make_media_payload(int(doc_id), src)})
        yield pd.DataFrame(out, columns=[f.name for f in MEDIA_SCHEMA])


#: kind -> (synthesis kernel, input columns)
_KINDS = {
    "avi": (_avi_batches, ("doc_id", "text")),
    "vph": (_vph_batches, ("doc_id",)),
    "png": (_png_batches, ("doc_id",)),
    "afp": (_afp_batches, ("doc_id",)),
    "img": (_img_batches, ("doc_id", "text")),
}


def media_table(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """The encoded-media corpus for `kind` at `sf_dir`: (doc_id, src,
    payload), synthesized distributed by the first request of the
    session. Consumer operators never pay synthesis again, so bench's
    min-of-3 measures walk+decode, not fixture manufacture."""
    kernel, cols = _KINDS[kind]

    def build(path: str) -> None:
        src = tables.load(spark, sf_dir, "documents").select(*cols)
        (tables.spread(src).mapInPandas(kernel, MEDIA_SCHEMA)
         .write.mode("overwrite").parquet(path))

    return session_parquet(spark, f"media_{kind}", sf_dir, "", build)
