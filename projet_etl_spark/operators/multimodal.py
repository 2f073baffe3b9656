"""Multimodal-column plumbing: opaque binary payloads + typed
metadata, processed with Arrow-batched mapInPandas.

The container has no image/audio codecs (re-probed rounds 11-13: PIL,
cv2, imageio, torchvision, av, soundfile, librosa, skimage, ffmpeg
all absent), so there is no decode step: the deterministic
byte-level feature path stands in for it. What IS real and
tested end-to-end: the binary column schema, the mapInPandas batch
plumbing (Arrow transfer, per-batch pandas processing, explicit
output schema), and partition behavior — exactly the shape a real
decoder would drop into.

Scale notes: mapInPandas streams Arrow batches (no per-row Python
overhead); binary payloads stay off the driver; a real pipeline
would set spark.sql.execution.arrow.maxRecordsPerBatch to bound
executor memory per batch of images.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.sources.tables import load_table

FEATURE_SCHEMA = "doc_id long, n_bytes long, head_hex string"


def make_byte_features():
    """Deterministic per-batch byte-level feature extraction — the
    stand-in for decode/resize/feature-extract.

    Returned as a fresh closure so cloudpickle serializes it BY VALUE:
    a module-level function would pickle by reference and executors
    would need this package importable (the external driver's workers
    don't have it on sys.path).
    """

    def byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            payloads = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "head_hex": payloads.map(lambda b: b[:8].hex().upper()),
                }
            )

    return byte_features


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-shaped as a multimodal table:
    (doc_id, payload binary, meta struct<lang,source,n_chars>)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct("lang", "source", "n_chars").alias("meta"),
    )


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through mapInPandas."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return blobs.mapInPandas(make_byte_features(), schema=FEATURE_SCHEMA)


def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup: bitwise-identical payloads collapse to one
    representative — the content-hash image/audio dedup step, which
    needs no codec at all. JVM-side md5 over the binary column (no
    Python anywhere), one hash-groupBy — the same scale shape as
    dedup-exact, but on raw bytes rather than normalized text."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return (
        blobs.select(
            "doc_id",
            F.md5("payload").alias("content_hash"),
            F.length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
    )


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_chars long, frame_fp string"
N_FRAMES = 4


def make_frame_sampler(n_frames: int = N_FRAMES):
    """Frame sampling over an opaque payload: one input row fans out
    to ``n_frames`` fixed-stride chunks — the exact plumbing shape of
    video frame extraction (no decode; chunking and per-frame
    fingerprinting are real and deterministic).

    Closure-returned for by-value pickling (see make_byte_features).
    """

    def frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_chars": [], "frame_fp": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                text = bytes(payload).decode("utf-8")
                # ceil-split into n_frames chunks; trailing short
                # chunk allowed, empty chunks skipped
                stride = -(-len(text) // n_frames) if text else 0
                for i in range(n_frames):
                    chunk = text[i * stride : (i + 1) * stride]
                    if not chunk:
                        continue
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_chars"].append(len(chunk))
                    out["frame_fp"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
            yield _pd.DataFrame(out)

    return frame_sample


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame rows from chunked payloads via mapInPandas fan-out."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return blobs.mapInPandas(make_frame_sampler(), schema=FRAME_SCHEMA)
