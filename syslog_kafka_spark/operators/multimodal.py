"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side mechanics — schema, batching, partition sizing, UDF
signatures — are real and tested; the actual media decode is stubbed
behind ``decoder=`` (no image/audio libraries exist in this container).
A deterministic fake decoder ships for tests; swapping in a real one
(PIL/ffmpeg/torchaudio) changes no Spark code.

Design notes for 100 TB:
- media bytes ride in the row (parquet binary) or as object-store URIs;
  both shapes share MEDIA_SCHEMA, with `payload` nullable for URI mode.
- mapInPandas streams Arrow batches, so peak executor memory is
  O(batch of payloads), controlled by spark.sql.execution.arrow
  .maxRecordsPerBatch — set it low (e.g. 64) for large blobs.
- feature extraction emits fixed-size vectors → downstream similarity
  operators (operators/similarity.py) apply unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("uri", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("format", StringType(), True),  # jpeg | wav | mp4 | ...
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

Decoder = Callable[[bytes, str], np.ndarray]


def real_decoder(payload: bytes, fmt: str) -> np.ndarray:
    """Decode media bytes to a pixel/sample array.

    STUB: no media libraries (PIL/ffmpeg) exist in this container. The
    Spark plumbing around it is real; replace this function to go live.
    """
    raise NotImplementedError(
        "media decode requires an image/audio library not present in this "
        "environment; inject a decoder via extract_features(decoder=...)"
    )


def fake_decoder(payload: bytes, fmt: str) -> np.ndarray:
    """Deterministic stand-in: bytes → repeatable pseudo-signal. Lets the
    full pipeline (decode → feature → similarity) run end-to-end in tests."""
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    if arr.size == 0:
        arr = np.zeros(1, dtype=np.float32)
    return arr


def extract_features(
    media: DataFrame,
    *,
    dim: int = 16,
    decoder: Decoder = real_decoder,
) -> DataFrame:
    """media rows → fixed-``dim`` feature vectors via mapInPandas.

    The feature is a bucketed byte-histogram of the decoded signal —
    deterministic, cheap, and shaped exactly like a real embedding head.

    Peak executor memory is O(one Arrow batch of payloads); for large
    blobs bound it with the session knob
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, scoped with
    ``session.scoped_conf`` around the action that runs the operator.
    The operator itself never mutates session config.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            payloads = pdf["payload"].to_numpy()
            fmts = pdf["format"].to_numpy()
            n_bytes: list[int | None] = [None] * n_rows
            feature: list[list[float] | None] = [None] * n_rows
            # Decode stays per-payload (the decoder seam is inherently
            # row-wise: one blob in, one signal out), but the histogram is
            # ONE vectorized pass over the whole Arrow batch: concatenate
            # the signals and bincount on (row_index * dim + bucket).
            sigs: list[np.ndarray] = []
            rows: list[np.ndarray] = []
            for i, payload in enumerate(payloads):
                if payload is None:
                    continue
                raw = np.asarray(decoder(bytes(payload), fmts[i]))
                if np.issubdtype(raw.dtype, np.integer):
                    # Modulo in the source dtype: int64 signals with
                    # |value| > 2^53 would lose bits in a float64 cast
                    # and could land in the wrong bucket.
                    sig = (raw % dim).astype(np.float64)
                else:
                    sig = raw.astype(np.float64) % dim
                sigs.append(sig)
                rows.append(np.full(sig.size, i, dtype=np.int64))
                n_bytes[i] = len(payload)
            if sigs:
                allsig = np.concatenate(sigs)
                row_idx = np.concatenate(rows)
                # floor-bucket == np.histogram(bins=dim, range=(0, dim)) for
                # values in [0, dim); the clip folds a float-rounded exact
                # `dim` into the closed last bin, as histogram does.
                buckets = np.clip(np.floor(allsig), 0, dim - 1).astype(np.int64)
                hists = np.bincount(
                    row_idx * dim + buckets, minlength=n_rows * dim
                ).reshape(n_rows, dim)
                totals = np.clip(hists.sum(axis=1, keepdims=True), 1, None)
                normed = (hists / totals).astype(np.float32)
                for i in range(n_rows):
                    if n_bytes[i] is not None:
                        feature[i] = normed[i].tolist()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": n_bytes,
                    "feature": feature,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int) -> DataFrame:
    """Video frame-sampling plan: one row per sampled timestamp (real
    Spark-side expansion via sequence+explode; frame decode is the stub)."""
    n = (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int")
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_no", F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))))
        .withColumn("frame_ts_ms", F.col("frame_no") * every_ms)
        .select("media_id", "frame_no", "frame_ts_ms", "format", "payload")
    )
