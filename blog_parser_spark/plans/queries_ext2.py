"""Batch-4 driver-contract query: embedding-cosine near-duplicate
detection (SURVEY.md §2.3 training-data ops).

Determinism notes follow queries.py: identical aliases both sides, doubles
rounded after identical double-precision arithmetic, unique tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources import io
from .registry import register


# ---------------------------------------------------------------------------
# dedup_embedding_cosine — embedding-space near-duplicate pairs.
#
# Corpus: embeddings ∪ planted near-copies (vec_id+100000, every component
# +0.01 — cosine vs the original ≈ 0.9999). Blocking on `label` (the
# cluster key) turns the O(n²) all-pairs into per-block pairs — the same
# blocked-join shape that scales to 10^9 vectors when the blocking key is
# an LSH bucket (see ann_lsh_bucketed). Threshold 0.99 cleanly separates:
# max natural same-label cosine in the fixture is 0.475.
#
# Both engines compute cosine in double precision over the identical
# sequential sum, then round(6): results are bit-deterministic.
# ---------------------------------------------------------------------------

_EMB_CORPUS_SQL = """
SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
FROM embeddings
UNION ALL
SELECT vec_id + 100000 AS vec_id, label,
       list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01) AS v
FROM embeddings WHERE vec_id < 25
"""


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.read_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    planted = (emb.filter("vec_id < 25").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label",
        F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("v")))
    return base.unionByName(planted)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


@register("dedup_embedding_cosine", f"""
WITH corpus AS ({_EMB_CORPUS_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99
""")
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _emb_corpus(spark, sf_dir)
    a = corpus.select(F.col("vec_id").alias("id_a"), "label",
                      F.col("v").alias("va"))
    b = corpus.select(F.col("vec_id").alias("id_b"),
                      F.col("label").alias("label_b"), F.col("v").alias("vb"))
    pairs = a.join(b, (F.col("label") == F.col("label_b"))
                   & (F.col("id_a") < F.col("id_b")))
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va")))
        * F.sqrt(_dot(F.col("vb"), F.col("vb"))))
    return (pairs.withColumn("cos", F.round(cos, 6))
            .filter(F.col("cos") >= 0.99)
            .select("id_a", "id_b", "cos"))
