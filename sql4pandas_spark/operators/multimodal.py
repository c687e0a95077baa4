"""Multimodal column plumbing (SURVEY.md §2.9): opaque binary payloads with
typed metadata, decoded/feature-extracted via Arrow-batched Pandas UDFs.

The image/audio codecs aren't installed in this container, so `decode` is a
clearly-marked deterministic STUB — but everything Spark-side is real and
load-bearing at scale: the binary column survives joins/filters/shuffles, the
metadata travels as a struct, and the feature extractor is a mapInPandas
pass whose batch shape, schema, and partitioning are exactly what a real
decoder (PIL/ffmpeg behind the same signature) would use.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Schema of the decoded-feature output — fixed contract for any decoder.
FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, features array<double>"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Fake an image-bytes column from text (deterministic) + typed metadata.

    Real pipelines read payloads with `spark.read.format('binaryFile')` or
    carry them through parquet BYTE_ARRAY columns — same column type as here.
    """
    payload = F.col("text").cast("binary")
    meta = F.named_struct(
        F.lit("width"), (F.pmod(F.xxhash64("doc_id"), F.lit(640)) + 32).cast("int"),
        F.lit("height"), (F.pmod(F.xxhash64("doc_id", "text"), F.lit(480)) + 32).cast("int"),
        F.lit("format"), F.lit("fake/raw"),
    )
    return docs.select(
        "doc_id", "lang", payload.alias("payload"), meta.alias("meta")
    )


#: Output contract of `sample_frames` — what a real ffmpeg frame sampler
#: would emit per kept frame.
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes int, brightness double"


def sample_frames(
    with_payload: DataFrame, frame_size: int = 64, stride: int = 4
) -> DataFrame:
    """Video-style frame sampling over the opaque payload column.

    STUB decode: the payload is treated as a concatenation of fixed-size
    "frames" (`frame_size` bytes each) and every `stride`-th frame is kept,
    with a per-frame mean-byte "brightness" standing in for real pixel
    statistics. A real pipeline swaps the body for ffmpeg keyframe extraction
    behind the same mapInPandas signature and FRAME_SCHEMA contract; the
    Spark-side shape — one input row fanning out to a variable number of
    output rows inside an Arrow batch — is exactly the real decoder's.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            doc_ids, idxs, sizes, bright = [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                n_frames = max(1, len(arr) // frame_size)
                for fi in range(0, n_frames, stride):
                    frame = arr[fi * frame_size : (fi + 1) * frame_size]
                    doc_ids.append(doc_id)
                    idxs.append(fi)
                    sizes.append(len(frame))
                    bright.append(float(np.round(frame.mean() / 255.0, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_bytes": pd.array(sizes, dtype="int32"),
                    "brightness": bright,
                }
            )

    return with_payload.mapInPandas(run, schema=FRAME_SCHEMA)


def resize_payloads(
    with_payload: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Image-resize plumbing: payload bytes → fixed (target_w × target_h)
    "image" via nearest-neighbor index sampling over the byte buffer.

    STUB decode: a real implementation decodes to HxWxC pixels (PIL) and
    interpolates; this deterministic fake treats the byte buffer as a 1-D
    signal and samples `target_w*target_h` evenly-spaced bytes, preserving
    the exact contract that matters Spark-side — binary in, fixed-size
    binary out, metadata struct updated to the new dimensions, executed as
    an Arrow-batched mapInPandas pass.
    """
    n_out = target_w * target_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            resized = []
            for buf in pdf["payload"]:
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                idx = np.linspace(0, len(arr) - 1, n_out).astype(np.int64)
                resized.append(arr[idx].tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "width": pd.array([target_w] * len(pdf), dtype="int32"),
                    "height": pd.array([target_h] * len(pdf), dtype="int32"),
                }
            )

    return with_payload.mapInPandas(
        run, schema="doc_id long, payload binary, width int, height int"
    )


def extract_features(with_payload: DataFrame, n_features: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    STUB decode: features are byte-histogram moments of the payload —
    deterministic, so tests can assert exact values. The mapInPandas batch
    shape (pandas DataFrame in, DataFrame out, iterator-chunked) is identical
    to what a real decoder uses.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats, nbytes = [], []
            for buf in pdf["payload"]:
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.float64)
                nbytes.append(len(arr))
                # deterministic fake "embedding": first n moments of the bytes
                moments = [
                    float(np.round(np.mean(arr ** (1 + i % 3)) / (255.0 ** (1 + i % 3)), 6))
                    for i in range(n_features)
                ]
                feats.append(moments)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(nbytes, dtype="int32"),
                    "width": pdf["meta"].map(lambda m: m["width"]).astype("int32"),
                    "height": pdf["meta"].map(lambda m: m["height"]).astype("int32"),
                    "features": feats,
                }
            )

    return with_payload.mapInPandas(run, schema=FEATURE_SCHEMA)
