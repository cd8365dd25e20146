"""The driver-contract query registry (SURVEY.md §2.3 — one entry per op).

Each op has a Spark callable `(spark, sf_dir) -> DataFrame` and (when
SQL-expressible) a DuckDB oracle SQL string over the pre-registered fixture
views. Column names AND types are aligned pairwise — the driver hashes
values after sorting columns by name.

Determinism rules used throughout:
- every computed column is aliased identically on both sides;
- double aggregations go through DECIMAL(18,4) partial sums (exact) and a
  single final cast to double, so FP summation order can never differ;
- every window/top-k ordering carries a unique tie-break key;
- pages-derived ops share one CTE (PAGES_SQL) that mirrors the deterministic
  fixture synthesis arithmetically (validated against the Python oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import enrich, parse
from ..plans import pipeline
from ..sources import io

from .registry import QueryFn, register, queries, oracle_sql  # noqa: F401


# ---------------------------------------------------------------------------
# pages family — the flagship parse→enrich→route→aggregate over synthesized
# Common-Crawl-style pages. The oracle reproduces the synthesis + PARSE_SPEC
# arithmetic in SQL (validated against the pure-Python oracle, test_queries).
# ---------------------------------------------------------------------------

# routed pages, reconstructed arithmetically from `documents`:
#   n_bytes  = rendered html byte length (fixed skeleton + fragment lengths)
#   n_sentences = paragraph count (fixture text has no [.!?])
PAGES_SQL = """
WITH _pages AS (
  SELECT doc_id, text, lang, source,
    'https://' || source || '.example.com/post/' || CAST(doc_id AS VARCHAR) AS url,
    TIMESTAMP '2024-01-01' + (doc_id % 90) * INTERVAL 1 DAY
      + (doc_id % 86400) * INTERVAL 1 SECOND AS warc_ts
  FROM documents
), _feat AS (
  SELECT *, length(string_split(text,' ')) AS n, length(text) AS L,
    length(array_to_string(string_split(text,' ')[1:8],' '))  AS t8,
    length(array_to_string(string_split(text,' ')[1:12],' ')) AS t12,
    length(array_to_string(string_split(text,' ')[1:16],' ')) AS t16
  FROM _pages
), _calc AS (
  SELECT *,
    CASE WHEN n > 16 THEN CAST(ceil((n-16)/40.0) AS BIGINT) ELSE 0 END AS k,
    (CASE WHEN n > 8 THEN 1 ELSE 0 END) + (CASE WHEN n > 12 THEN 1 ELSE 0 END) AS n_h2,
    CASE WHEN n > 8  THEN t12 - t8  - 1 ELSE 0 END AS h2a_len,
    CASE WHEN n > 12 THEN t16 - t12 - 1 ELSE 0 END AS h2b_len
  FROM _feat
), routed AS (
  SELECT url, warc_ts, lang, text, doc_id, source, n, L, k,
    CAST(k AS INT) AS n_sentences,
    63 + 2*t8 + 9*n_h2 + h2a_len + h2b_len + 7*k
      + (CASE WHEN n > 16 THEN (L - t16 - 1) - (k - 1) ELSE 0 END) AS n_bytes,
    CASE lang WHEN 'en' THEN 'eng' WHEN 'fr' THEN 'fra' WHEN 'de' THEN 'deu'
              WHEN 'es' THEN 'spa' WHEN 'zh' THEN 'zho' ELSE 'und' END AS lang_norm,
    source || '.example.com' AS domain,
    CASE WHEN L >= 300 THEN 'long' ELSE 'short' END AS doc_class,
    CAST(warc_ts AS DATE) AS day
  FROM _calc
), routed_sink AS (
  SELECT *,
    CASE WHEN lang_norm = 'eng' AND doc_class = 'long' THEN 'en-long'
         WHEN lang_norm = 'eng' THEN 'en-short'
         WHEN lang_norm IN ('fra','deu','spa') AND doc_class = 'long' THEN 'eu-long'
         WHEN lang_norm IN ('fra','deu','spa') THEN 'eu-short'
         ELSE 'rest' END AS sink
  FROM routed
)
"""

FLAGSHIP_AGG_SQL = PAGES_SQL + """
SELECT sink, domain, lang_norm, day,
       COUNT(*) AS docs,
       CAST(SUM(n_sentences) AS BIGINT) AS sentences,
       CAST(SUM(n_bytes) AS BIGINT) AS bytes
FROM routed_sink GROUP BY ALL
"""


def _flagship_cols(df: DataFrame) -> DataFrame:
    return df.select("sink", "domain", "lang_norm", "day", "docs",
                     F.col("sentences").cast("long").alias("sentences"),
                     F.col("bytes").cast("long").alias("bytes"))


@register("agg_sink_counts", FLAGSHIP_AGG_SQL)
def q_agg_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = io.synth_pages(spark, sf_dir)
    return _flagship_cols(pipeline.flagship(spark, pages, dedup=True))


@register("agg_salted", FLAGSHIP_AGG_SQL)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = io.synth_pages(spark, sf_dir)
    return _flagship_cols(pipeline.flagship(spark, pages, dedup=False, salted=True))


@register("route_classify", PAGES_SQL + """
SELECT url, sink, lang_norm, domain, doc_class,
       n_sentences, CAST(n_bytes AS BIGINT) AS n_bytes
FROM routed_sink
""")
def q_route_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = pipeline.routed_pages(spark, io.synth_pages(spark, sf_dir), dedup=False)
    return routed.select("url", "sink", "lang_norm", "domain", "doc_class",
                         "n_sentences", "n_bytes")


@register("split_sentences", PAGES_SQL + """
SELECT url,
       CAST(unnest(range(k)) AS INT) AS para_idx,
       0 AS sent_idx
FROM routed_sink WHERE k > 0
""")
def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    sents = parse.sentences_from_pages(io.synth_pages(spark, sf_dir))
    return sents.select("url", "para_idx",
                        F.col("sent_idx").cast("int").alias("sent_idx"))


@register("sentences_text", PAGES_SQL + """
SELECT url, CAST(i AS INT) AS para_idx,
       array_to_string(string_split(text,' ')[17 + 40*i : 16 + 40*(i+1)], ' ') AS sentence
FROM (SELECT url, text, unnest(range(k)) AS i FROM routed_sink WHERE k > 0)
""")
def q_sentences_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    sents = parse.sentences_from_pages(io.synth_pages(spark, sf_dir))
    return sents.select("url", "para_idx", "sentence")


@register("parse_url_domain", PAGES_SQL + """
SELECT url, split_part(split_part(url, '://', 2), '/', 1) AS domain FROM routed_sink
""")
def q_parse_url_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = io.synth_pages(spark, sf_dir).select("url")
    return enrich.with_domain(pages).select("url", "domain")


@register("failure_split", PAGES_SQL + """
SELECT COUNT(*) AS ok_docs, 0 AS failed_docs FROM routed_sink
""")
def q_failure_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse.parse_pages(io.synth_pages(spark, sf_dir))
    ok, failed = parse.failure_split(parsed)
    return ok.agg(F.count(F.lit(1)).alias("ok_docs")).crossJoin(
        failed.agg(F.count(F.lit(1)).cast("int").alias("failed_docs")))


@register("join_broadcast_lang", PAGES_SQL + """
SELECT lang_norm, COUNT(*) AS docs FROM routed_sink GROUP BY 1
""")
def q_join_broadcast_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = io.synth_pages(spark, sf_dir).select("url", "lang")
    df = enrich.join_lang_norm(pages, io.lang_norm_df(spark))
    return df.groupBy("lang_norm").agg(F.count(F.lit(1)).alias("docs"))


@register("join_broadcast_domain", PAGES_SQL + """
SELECT d.site_category, d.country, COUNT(*) AS docs
FROM routed_sink r
JOIN (SELECT 'src' || CAST(i AS VARCHAR) || '.example.com' AS domain,
             'cat' || CAST(i % 4 AS VARCHAR) AS site_category,
             (['US','HR','DE','FR','JP'])[(i % 5) + 1] AS country,
             CAST(i % 3 AS INT) AS tier
      FROM (SELECT unnest(range(20)) AS i)) d USING (domain)
GROUP BY 1, 2
""")
def q_join_broadcast_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = io.synth_pages(spark, sf_dir).select("url")
    df = enrich.join_domain_meta(enrich.with_domain(pages), io.domain_meta_df(spark))
    return (df.filter(F.col("site_category").isNotNull())
            .groupBy("site_category", "country").agg(F.count(F.lit(1)).alias("docs")))
