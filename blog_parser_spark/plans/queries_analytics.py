"""Driver-contract queries for the corpus-analytics additions: exact
corpus heavy hitters, the linear quality-classifier scoring stage and
the domain link graph.

Oracle notes:
- text_quality_classifier: features and logit are fixed-order double
  arithmetic (bit-identical, emitted raw); the sigmoid is transcendental
  so it is round(...,12) on BOTH sides; `keep` thresholds the exact
  logit (> 0), never the rounded probability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import links, textstats
from ..sources import io
from .registry import register

_WORDS = "string_split(text, ' ')"


@register("text_heavy_hitters", f"""
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest({_WORDS}) AS word FROM documents)
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 50
""")
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-50 most frequent corpus words (tie-break word asc)."""
    docs = io.read_table(spark, sf_dir, "documents").select("text")
    return textstats.heavy_hitters(docs, k=50).select(
        "word", F.col("cnt").cast("long").alias("cnt"))


@register("text_quality_classifier", f"""
WITH f AS (
  SELECT doc_id,
    len({_WORDS}) AS n_words,
    len(list_filter({_WORDS},
        x -> list_contains(['the','a','of','to','and'], x))) AS stop_hits,
    len(list_distinct({_WORDS})) AS n_distinct
  FROM documents
),
z AS (
  SELECT doc_id,
    -1.5 + 2.0 * (CAST(stop_hits AS DOUBLE) / n_words)
         + 1.25 * (CAST(n_distinct AS DOUBLE) / n_words)
         + 0.75 * (CAST(least(n_words, 400) AS DOUBLE) / 400.0) AS logit
  FROM f
)
SELECT doc_id, logit,
  round(1.0 / (1.0 + exp(-(logit))), 12) AS quality_prob,
  logit > 0 AS keep
FROM z
""")
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring stage over documents."""
    docs = io.read_table(spark, sf_dir, "documents")
    return textstats.quality_classifier(docs)


@register("parse_links_domains", """
WITH t AS (
  SELECT source, unnest([
    (doc_id * 31 + 7)  % 100000,
    (doc_id * 57 + 13) % 100000,
    (doc_id * 91 + 23) % 100000]) AS tgt
  FROM documents
)
SELECT source || '.example.com' AS src_domain,
       'site' || CAST(tgt % 17 AS VARCHAR) || '.example.com' AS dst_domain,
       CAST(count(*) AS BIGINT) AS links
FROM t
GROUP BY src_domain, dst_domain
""")
def q_parse_links_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl link graph extracted from the RAW HTML BYTES:
    render pages with the deterministic <nav> outlink block, regex-scan
    hrefs via the Arrow-batched UDF, aggregate src_domain x dst_domain.
    The oracle derives the same graph in closed form from doc_id
    (spec.link_targets), so it verifies the full byte-level render ->
    extract -> parse -> aggregate path, not just the arithmetic."""
    pages = io.synth_pages(spark, sf_dir, with_links=True)
    return links.domain_link_counts(pages)
