"""Batch-4 driver-contract queries: batch sessionization, binned range
join, raw scan pushdown, embedding-cosine near-duplicate detection and
the bloom-prefiltered join (SURVEY.md §2.3 scans + training-data ops).

Determinism notes follow queries.py: identical aliases both sides, doubles
rounded after identical double-precision arithmetic, unique tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import joins
from ..sources import io
from .registry import register


# ---------------------------------------------------------------------------
# win_sessionize — full batch sessionization: gap>30min starts a session;
# session_id = cumulative count of session starts per user (lag + cumsum,
# one shuffle). The batch dual of F.session_window / stream_session.
# ---------------------------------------------------------------------------

@register("win_sessionize", """
SELECT event_id, user_id, ts,
       CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_start
  FROM events)
""")
def q_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fixture timestamps are NTZ; NTZ->long needs the timestamp hop (UTC session)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    is_start = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (ev.withColumn("is_start", is_start)
            .select("event_id", "user_id", "ts",
                    F.sum("is_start").over(cum).alias("session_id")))


# ---------------------------------------------------------------------------
# join_range — DEFAULT formulation of the range join, the SCALE one:
# bucketize the time axis into 7-day bins and equi-join on the bin
# (anchor rows are duplicated into the two bins their window can
# overlap), then re-apply the exact range predicate. A shuffled hash
# join on (bin) instead of the O(|A|x|B|) broadcast-nested-loop kept as
# `join_range_bnl` (queries.py) for comparison; identical oracle SQL.
# ---------------------------------------------------------------------------

@register("join_range", """
SELECT a.o_orderkey AS anchor_key, COUNT(*) AS n_following
FROM orders a JOIN orders b
  ON b.o_orderdate >= a.o_orderdate
 AND b.o_orderdate < a.o_orderdate + INTERVAL 7 DAY
WHERE a.o_orderkey % 100 = 0
GROUP BY 1
""")
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.read_table(spark, sf_dir, "orders")
    a = (o.filter("o_orderkey % 100 = 0")
         .select(F.col("o_orderkey").alias("anchor_key"),
                 F.col("o_orderdate").cast("timestamp").cast("long")
                 .alias("a_s")))
    b = o.select(F.col("o_orderdate").cast("timestamp").cast("long")
                 .alias("b_s"))
    return (joins.range_join_binned(a, b, "a_s", "b_s", 7 * 86400)
            .groupBy("anchor_key").agg(F.count(F.lit(1)).alias("n_following")))


# ---------------------------------------------------------------------------
# scan_parquet — the §2.3 raw-scan entry. The Spark plan must show the
# filter as PushedFilters and the projection as a 4-column ReadSchema
# (asserted in tests/test_plans.py); the oracle is the same relational op.
# ---------------------------------------------------------------------------

@register("scan_parquet", """
SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity < 10
""")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.read_table(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
                      & (F.col("l_quantity") < 10))
            .select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"))


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


@register("join_bloom_prefilter", """
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
       CAST(l.l_quantity AS DOUBLE) AS quantity,
       o.o_orderpriority, CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
""")
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered equi-join: urgent orders' keys collapse into one
    broadcast bloom filter that drops non-matching lineitem rows BEFORE
    the join shuffle (~80% of probe volume here). The result is exactly
    the plain join's — no false negatives, false positives removed by
    the real join — so the oracle is the unfiltered join SQL."""
    li = io.read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        F.col("l_quantity").cast("double").alias("quantity"))
    orders = (io.read_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_orderkey").alias("l_orderkey"),
                      "o_orderpriority",
                      F.col("o_totalprice").cast("double")
                      .alias("o_totalprice")))
    return joins.bloom_prefiltered_join(li, orders, "l_orderkey",
                                        num_bits=1 << 20)
