"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The image/audio decode libraries are not in this container, so the
decode kernel is a deterministic stand-in (hash + length + derived fake
dimensions) behind the REAL Spark plumbing that matters at 100 TB:

* binary column batched through Arrow (`mapInPandas`), schema'd output
* decode stub isolated in `_decode_features` with a clearly marked seam
  where PIL/ffmpeg would slot in
* per-batch (not per-row) Python crossing

`multimodal_features` has a full DuckDB oracle because the stub's
features (octet length, sha256) are SQL-expressible — i.e. the plumbing
is verified end-to-end even though the codec is fake.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURES_SCHEMA = ("doc_id long, byte_len int, content_sha256 string, "
                   "fake_width int, fake_height int, n_frames int")


def _decode_features(payload: bytes) -> dict:
    """STUB decode. Real implementation would be e.g.
    ``PIL.Image.open(io.BytesIO(payload))`` / ffmpeg frame sampling —
    not available in this container (NotImplementedError seam kept
    deterministic instead). Everything derived is a pure function of
    the bytes, so the DuckDB oracle can reproduce it."""
    n = len(payload)
    return {
        "byte_len": n,
        "content_sha256": hashlib.sha256(payload).hexdigest(),
        "fake_width": n % 640 + 1,
        "fake_height": (n * 7) % 480 + 1,
        "n_frames": n % 16 + 1,
    }


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, media binary): the opaque-binary column
    (UTF-8 bytes of the text stand in for an image payload)."""
    # spread an under-parallel local scan: the Arrow decode pass below
    # is the CPU-heavy stage and a single-row-group file would run it
    # on one core (no-op on a properly split layout)
    from ..sources.tables import spread_scan
    path = f"{sf_dir}/documents.parquet"
    d = spread_scan(spark, spark.read.parquet(path), path)
    return d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("media"))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_features(bytes(b)) for b in pdf["media"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return m.mapInPandas(decode, schema=FEATURES_SCHEMA)


MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       sha256(text) AS content_sha256,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS fake_width,
       CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER) AS fake_height,
       CAST(octet_length(encode(text)) % 16 + 1 AS INTEGER) AS n_frames
FROM documents
"""


def frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: one input payload -> N output frame rows
    (the 1->N batch shape video decoding needs). Frame extraction is the
    deterministic stub (sha256 of payload + frame index); the ffmpeg
    seek/decode call slots into _frame_of."""

    def _frame_of(payload: bytes, idx: int) -> str:
        return hashlib.sha256(payload + str(idx).encode()).hexdigest()

    m = media_table(spark, sf_dir)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                payload = bytes(media)
                n = len(payload) % 4 + 1  # stub frame count
                for i in range(n):
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(_frame_of(payload, i))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs,
                                "frame_sha": hashes})

    return m.mapInPandas(sample, schema="doc_id long, frame_idx int, frame_sha string")


FRAMES_SQL = """
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       sha256(text || CAST(i AS VARCHAR)) AS frame_sha
FROM (
  SELECT doc_id, text,
         unnest(range(0, octet_length(encode(text)) % 4 + 1)) AS i
  FROM documents
)
"""


RESIZE_MAX_UNITS = 256     # the stub's "downsample" budget
RESIZE_W, RESIZE_H = 64, 48


def resize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: payload -> fixed-target thumbnail payload. The
    'resize kernel' is the deterministic stub (truncate the payload to
    RESIZE_MAX_UNITS units — where ``PIL.Image.resize((64, 48))`` slots
    in); the Spark side is the real batched transformation: Arrow in,
    Arrow out, one Python crossing per batch, thumbnail digested so the
    oracle can verify the bytes end-to-end."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = [(t or "")[:RESIZE_MAX_UNITS].encode("utf-8")
                      for t in pdf["text"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "target_w": pd.array([RESIZE_W] * len(pdf), dtype="Int32"),
                "target_h": pd.array([RESIZE_H] * len(pdf), dtype="Int32"),
                "thumb_len": pd.array([len(t) for t in thumbs], dtype="Int32"),
                "thumb_sha": pd.Series(
                    [hashlib.sha256(t).hexdigest() for t in thumbs],
                    dtype="object"),
            })

    return d.select("doc_id", "text").mapInPandas(resize, schema=(
        "doc_id long, target_w int, target_h int, thumb_len int, "
        "thumb_sha string"))


RESIZE_SQL = f"""
SELECT doc_id,
       CAST({RESIZE_W} AS INTEGER) AS target_w,
       CAST({RESIZE_H} AS INTEGER) AS target_h,
       CAST(octet_length(encode(substring(text, 1, {RESIZE_MAX_UNITS}))) AS INTEGER) AS thumb_len,
       sha256(substring(text, 1, {RESIZE_MAX_UNITS})) AS thumb_sha
FROM documents
"""


QUERIES = {"multimodal_features": multimodal_features,
           "multimodal_frame_samples": frame_samples,
           "multimodal_resize": resize_media}
ORACLES = {"multimodal_features": MULTIMODAL_SQL,
           "multimodal_frame_samples": FRAMES_SQL,
           "multimodal_resize": RESIZE_SQL}
