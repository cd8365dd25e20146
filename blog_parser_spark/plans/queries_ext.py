"""Driver-contract queries, batch 3: url parsing, the SQL-API flagship,
and exact distinct counts through mergeable bitmaps
(operators/aggregate.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import aggregate
from ..sources import io
from .registry import register


# ---------------------------------------------------------------------------
# scalar families: url parsing
# ---------------------------------------------------------------------------

@register("fn_url", """
WITH p AS (
  SELECT doc_id,
    'https://' || source || '.example.com/post/' || CAST(doc_id AS VARCHAR)
      || '?q=' || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents
)
SELECT doc_id,
  split_part(url, '://', 1) AS proto,
  split_part(split_part(url, '://', 2), '/', 1) AS host,
  '/' || split_part(split_part(split_part(url, '://', 2), '?', 1), '/', 2)
      || '/' || split_part(split_part(split_part(url, '://', 2), '?', 1), '/', 3) AS path,
  split_part(url, '?', 2) AS query
FROM p
""")
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), "source", F.lit(".example.com/post/"),
                   F.col("doc_id").cast("string"), F.lit("?q="),
                   (F.col("doc_id") % 7).cast("string"))
    d = docs.select("doc_id", url.alias("url"))
    return d.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"))


# ---------------------------------------------------------------------------
# SQL-API parity: the flagship aggregate written as pure spark.sql over a
# temp view of the parsed rows — same oracle as agg_sink_counts
# ---------------------------------------------------------------------------

def _register_flagship_sql():
    from .queries import FLAGSHIP_AGG_SQL
    from ..plans import pipeline as pl

    @register("flagship_sql", FLAGSHIP_AGG_SQL)
    def q_flagship_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Same plan as agg_sink_counts but declared in SQL (spark.sql) over
        a routed temp view — proves the SQL surface end-to-end."""
        routed = pl.routed_pages(spark, io.synth_pages(spark, sf_dir), dedup=True)
        routed.createOrReplaceTempView("routed_pages_v")
        return spark.sql("""
            SELECT sink, domain, lang_norm, day,
                   COUNT(*) AS docs,
                   CAST(SUM(n_sentences) AS BIGINT) AS sentences,
                   CAST(SUM(n_bytes) AS BIGINT) AS bytes
            FROM routed_pages_v
            GROUP BY sink, domain, lang_norm, day""")


_register_flagship_sql()


@register("agg_bitmap_distinct", """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
""")
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via storable/mergeable bitmaps — the
    exact-count analog of an HLL sketch-union rollup: per-(group,
    bucket) bitmaps (bitmap_construct_agg of bit positions) OR-merge
    across groups, and the global distinct is the sum of per-bucket
    bitmap_count. Each daily partition can persist its bitmaps and any
    date-range distinct is a cheap bitmap_or_agg — no raw-data rescan,
    and unlike HLL the answer is exact, so the oracle checks the value
    itself (COUNT(DISTINCT))."""
    ev = io.read_table(spark, sf_dir, "events")
    per = aggregate.bitmap_build(ev, ["event_type"], "user_id")
    merged = per.groupBy("bkt").agg(F.bitmap_or_agg("bm").alias("bm"))
    return merged.agg(F.sum(F.bitmap_count("bm")).cast("long")
                      .alias("distinct_users"))


@register("agg_bitmap_rollup", """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type
""")
def q_agg_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental exact-distinct story end-to-end: build
    per-(event_type, day) bitmaps — the granularity a daily job would
    PERSIST — then OR-merge across the day axis to answer per-event_type
    all-time distinct users exactly. The merge reads #groups x #buckets
    bitmap rows, never the raw events; oracle = grouped COUNT(DISTINCT).
    The persisted-parquet round-trip (write daily bitmaps, date-range
    merge with partition pruning) is exercised in tests/test_sinks.py."""
    ev = (io.read_table(spark, sf_dir, "events")
          .withColumn("day", F.date_format(
              F.col("ts").cast("timestamp"), "yyyy-MM-dd")))
    daily = aggregate.bitmap_build(ev, ["event_type", "day"], "user_id")
    return (aggregate.bitmap_merge_count(daily, ["event_type"])
            .select("event_type",
                    F.col("distinct_count").alias("distinct_users")))
