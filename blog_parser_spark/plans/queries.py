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

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import aggregate, enrich, parse, route
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


@register("filter_predicate", """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang IN ('en','fr') AND n_chars >= 200
""")
def q_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return (docs.filter(F.col("lang").isin("en", "fr") & (F.col("n_chars") >= 200))
            .select("doc_id", "lang", "n_chars"))


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


@register("win_dedup_latest", """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""")
def q_win_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("user_id", "event_id", "event_type"))


# ---------------------------------------------------------------------------
# relational core over the star-schema fixtures
# ---------------------------------------------------------------------------

@register("join_smj", """
SELECT o.o_orderstatus AS status, COUNT(*) AS line_count,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""")
def q_join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.read_table(spark, sf_dir, "orders")
    li = io.read_table(spark, sf_dir, "lineitem")
    return (o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count(F.lit(1)).alias("line_count"),
                 F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                 .cast("double").alias("sum_qty")))


@register("join_semi", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
""")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = io.read_table(spark, sf_dir, "customer")
    o = io.read_table(spark, sf_dir, "orders").filter("o_totalprice > 100000")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name"))


@register("join_anti", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = io.read_table(spark, sf_dir, "customer")
    o = io.read_table(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


@register("join_range_bnl", """
SELECT a.o_orderkey AS anchor_key, COUNT(*) AS n_following
FROM orders a JOIN orders b
  ON b.o_orderdate >= a.o_orderdate
 AND b.o_orderdate < a.o_orderdate + INTERVAL 7 DAY
WHERE a.o_orderkey % 100 = 0
GROUP BY 1
""")
def q_join_range_bnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPARISON-ONLY broadcast-nested-loop formulation (O(|A|x|B|)).
    The default `join_range` is the bin-bucketed equi-join in
    queries_ext2.py — same oracle, hash join, scales."""
    o = io.read_table(spark, sf_dir, "orders")
    a = o.filter("o_orderkey % 100 = 0").select(
        F.col("o_orderkey").alias("anchor_key"), F.col("o_orderdate").alias("a_date"))
    b = o.select(F.col("o_orderdate").alias("b_date"))
    cond = (F.col("b_date") >= F.col("a_date")) & (
        F.col("b_date") < F.col("a_date") + F.expr("INTERVAL 7 DAY"))
    return (F.broadcast(a).join(b, cond)
            .groupBy("anchor_key").agg(F.count(F.lit(1)).alias("n_following")))


@register("join_asof", """
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup_ts
FROM events
""")
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest prior 'signup' per user) via the union-free
    window formulation — one shuffle, no nested-loop join."""
    ev = io.read_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prior = F.last(F.when(F.col("event_type") == "signup", F.col("ts")),
                   ignorenulls=True).over(w)
    return ev.select("event_id", "user_id", "ts", prior.alias("prior_signup_ts"))


@register("join_theta_cross", """
SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
WHERE r.r_regionkey <> n.n_regionkey AND r.r_regionkey < 2
""")
def q_join_theta_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = io.read_table(spark, sf_dir, "region").filter("r_regionkey < 2")
    n = io.read_table(spark, sf_dir, "nation")
    return (r.crossJoin(n)
            .filter(F.col("r_regionkey") != F.col("n_regionkey"))
            .select("r_name", "n_name"))


# ---------------------------------------------------------------------------
# aggregations
# ---------------------------------------------------------------------------

@register("agg_distinct", """
SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS events
FROM events GROUP BY 1
""")
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("events"))


@register("agg_approx_distinct")  # no oracle: approx result, rows-only check
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"))


@register("agg_rollup", """
SELECT lang, source, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid
FROM documents GROUP BY ROLLUP (lang, source)
""")
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return (docs.rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("n_chars").alias("chars"),
                 F.grouping_id().alias("gid")))


@register("agg_cube", """
SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS events,
       CAST(GROUPING(event_type) * 2 + GROUPING(CAST(ts AS DATE)) AS BIGINT) AS gid
FROM events GROUP BY CUBE (event_type, CAST(ts AS DATE))
""")
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return (ev.cube("event_type", "day")
            .agg(F.count(F.lit(1)).alias("events"), F.grouping_id().alias("gid")))


@register("agg_stats", """
SELECT lang, COUNT(*) AS docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY 1
""")
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"))


@register("agg_collect", """
SELECT lang, array_to_string(list(DISTINCT source ORDER BY source), ',') AS sources
FROM documents GROUP BY 1
""")
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias("sources"))


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------

@register("win_rank_topdomains", """
SELECT lang, source, docs, rank() OVER (PARTITION BY lang ORDER BY docs DESC, source) AS rnk
FROM (SELECT lang, source, COUNT(*) AS docs FROM documents GROUP BY 1, 2)
""")
def q_win_rank_topdomains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("docs"))
    w = Window.partitionBy("lang").orderBy(F.desc("docs"), F.asc("source"))
    return counts.withColumn("rnk", F.rank().over(w))


@register("win_lag_sessions", """
SELECT event_id, user_id, ts,
       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
       lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
FROM events
""")
def q_win_lag_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", "user_id", "ts",
                     F.lag("ts").over(w).alias("prev_ts"),
                     F.lag("event_id").over(w).alias("prev_event_id"))


@register("win_rolling", """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4)))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_value
FROM events
""")
def q_win_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, 0))
    return ev.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w)
        .cast("double").alias("rolling_value"))


@register("win_ntile_percent", """
SELECT o_orderkey,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""")
def q_win_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey",
                    F.ntile(4).over(w).alias("quartile"),
                    F.percent_rank().over(w).alias("pct"),
                    F.cume_dist().over(w).alias("cd"))


# ---------------------------------------------------------------------------
# top-k per group
# ---------------------------------------------------------------------------

@register("topk_per_group", """
SELECT p_brand, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part) WHERE rn <= 3
""")
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = io.read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (p.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
            .select("p_brand", "p_partkey", "p_retailprice"))
