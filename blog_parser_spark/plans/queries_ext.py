"""Driver-contract queries, batch 3: url parsing and the SQL-API
flagship."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

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

