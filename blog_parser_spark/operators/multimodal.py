"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark side (schema, partitioning, batch shape, UDF signatures) is real
and tested. The codec is a deterministic fake: payloads carry their own
generator formula, so a real decoder would slot into the same batches.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, DoubleType, StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("payload", BinaryType(), True),      # opaque encoded bytes
    StructField("meta", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]), True),
])

PAYLOAD_CAP = 256
KINDS = ("image", "audio", "video")


def fake_payload(doc_id: int, n: int) -> bytes:
    """Deterministic stand-in for encoded media bytes."""
    return bytes((doc_id + i) % 256 for i in range(min(n, PAYLOAD_CAP)))


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media table; payload via a vectorized pandas UDF, meta
    via pure JVM expressions (everything a pure function of doc_id)."""
    from pyspark.sql.functions import pandas_udf
    from ..sources.io import read_table

    @pandas_udf(BinaryType())
    def gen_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
        return pd.Series([fake_payload(int(d), int(n))
                          for d, n in zip(doc_id, n_chars)])

    docs = read_table(spark, sf_dir, "documents")
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video"))
    meta = F.struct(
        (64 + (F.col("doc_id") % 8) * 16).cast("int").alias("width"),
        (48 + (F.col("doc_id") % 6) * 16).cast("int").alias("height"),
        (8000 + (F.col("doc_id") % 4) * 4000).cast("int").alias("sample_rate"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"))
    return docs.select(
        "doc_id", kind.alias("kind"),
        gen_payload("doc_id", "n_chars").alias("payload"),
        meta.alias("meta"))


FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_payload_bytes", IntegerType()),
    StructField("mean_byte", DoubleType()),
])


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: whole-partition Arrow batches in,
    feature rows out. Decode is the fake codec (see module docstring);
    the batching/partitioning is exactly what a real decoder would use."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n = payloads.map(lambda b: 0 if b is None else len(b))
            mean = payloads.map(
                lambda b: float("nan") if not b else sum(b) / len(b))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "kind": pdf["kind"],
                "width": pdf["meta"].map(lambda m: m["width"]),
                "height": pdf["meta"].map(lambda m: m["height"]),
                "n_payload_bytes": n.astype("int32"),
                "mean_byte": mean,
            })
    return media.mapInPandas(fn, FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("out_width", IntegerType()),
    StructField("out_height", IntegerType()),
    StructField("thumb", BinaryType()),
])


def resize_images(media: DataFrame, max_side: int = 32) -> DataFrame:
    """'Resize' images: real plumbing (filter pushdown on kind, Arrow
    batches, binary out), fake resample = stride-subsample of payload
    bytes standing in for pixel decimation."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # meta is a struct -> dict series; lift to columns once, then
            # all numeric work is numpy (no per-row python in the numerics)
            meta = pd.DataFrame(pdf["meta"].tolist())
            w = meta["width"].to_numpy(dtype=np.int64)
            h = meta["height"].to_numpy(dtype=np.int64)
            scale = np.maximum(1, -(-np.maximum(w, h) // max_side))  # ceil div
            thumbs = [bytes((p or b"")[::s])
                      for p, s in zip(pdf["payload"], scale)]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "out_width": (w // scale).astype("int32"),
                "out_height": (h // scale).astype("int32"),
                "thumb": thumbs,
            })
    return media.filter(F.col("kind") == "image").mapInPandas(fn, RESIZE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for videos: one output row per sampled frame ts —
    the row-expansion shape a real frame extractor produces."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
        F.lit(every_ms))
    return (media.filter(F.col("kind") == "video")
            .select("doc_id", F.explode(frames).alias("frame_ts_ms")))
