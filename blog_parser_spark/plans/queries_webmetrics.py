"""Acquisition metrics + reverse-search + sketch queries —
driver-contract entries for operators/webmetrics.py (referrer channels),
operators/percolate.py (saved-query percolation) and
operators/sketches.py (count-min frequency sketch).

Fixture synthesis follows the repo convention: deterministic
expressions over the events/documents tables mirrored
expression-for-expression in the oracles; the percolate saved-query
registry is generated by ONE Python function inlined as a VALUES list
here, so the two engines share a single fixture source.

Determinism: BIGINT/VARCHAR outputs everywhere — no float partial
sums anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import percolate, sketches, webmetrics
from ..operators.sampling import row_hash
from ..sources import io
from .registry import register

# Mirrors webmetrics.synth_referrers — one shape per classifier branch.
_REF_SYNTH_SQL = """
  SELECT event_id, event_type,
    CASE WHEN event_type = 'view' THEN
       CASE WHEN event_id % 4 = 0
              THEN 'https://www.google.com/search?q=term'
                   || CAST(event_id % 50 AS VARCHAR)
            WHEN event_id % 4 = 1
              THEN 'https://www.bing.com/search?q=term'
                   || CAST(event_id % 30 AS VARCHAR)
            WHEN event_id % 4 = 2
              THEN 'https://news-site' || CAST(event_id % 20 AS VARCHAR)
                   || '.example/article/' || CAST(event_id % 500 AS VARCHAR)
            ELSE '' END
     WHEN event_type = 'click' THEN
       CASE WHEN event_id % 3 = 0
              THEN 'https://t.co/x' || CAST(event_id % 1000 AS VARCHAR)
            ELSE 'https://shop.example/page/'
                 || CAST(event_id % 100 AS VARCHAR) END
     ELSE '' END AS ref
  FROM events
"""


# ---------------------------------------------------------------------------
# referrer_classify — acquisition-channel report: classify each request's
# referrer (direct/search/social/internal/referral) and extract the
# search term. Map-only regex projection fused into the scan (one regex
# evaluation per extraction, no UDF); the per-(channel, term) count is
# map-side combined over a bounded key space.
# ---------------------------------------------------------------------------

@register("referrer_classify", f"""
WITH ref AS ({_REF_SYNTH_SQL}),
cls AS (
  SELECT CASE WHEN ref = '' THEN 'direct'
              WHEN regexp_extract(ref, '^https?://([^/]+)', 1)
                   IN ('www.google.com', 'www.bing.com') THEN 'search'
              WHEN regexp_extract(ref, '^https?://([^/]+)', 1) = 't.co'
                   THEN 'social'
              WHEN regexp_extract(ref, '^https?://([^/]+)', 1)
                   = 'shop.example' THEN 'internal'
              ELSE 'referral' END AS channel,
         NULLIF(regexp_extract(ref, '[?&]q=([^&]*)', 1), '') AS term
  FROM ref)
SELECT channel, term, CAST(COUNT(*) AS BIGINT) AS requests
FROM cls GROUP BY channel, term
""")
def q_referrer_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return webmetrics.referrer_report(ev)


# ---------------------------------------------------------------------------
# percolate_match — reverse search: the saved-query registry evaluates
# against every document via the inverted-percolator join (anchor term
# equi-join against the broadcast registry BEFORE any shuffle, residual
# terms verified with array_contains). Fixture rows are inlined below
# from the SAME Python list the Spark side builds its DataFrame from.
# ---------------------------------------------------------------------------

_PQ_VALUES = ", ".join(f"({q}, '{a}', '{b}')"
                       for q, a, b in percolate.percolate_queries())

@register("percolate_match", f"""
WITH q(qid, term_a, term_b) AS (VALUES {_PQ_VALUES}),
d AS (SELECT list_distinct(string_split(text, ' ')) AS toks FROM documents),
m AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS matches
      FROM q JOIN d ON list_contains(d.toks, q.term_a)
                   AND list_contains(d.toks, q.term_b)
      GROUP BY qid)
SELECT CAST(q.qid AS BIGINT) AS qid, q.term_a, q.term_b,
       CAST(COALESCE(m.matches, 0) AS BIGINT) AS matches
FROM q LEFT JOIN m ON q.qid = m.qid
""")
def q_percolate_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return percolate.percolate_match(docs, percolate.queries_df(spark))


# ---------------------------------------------------------------------------
# sketch_count_min — mergeable frequency sketch: the 16M-increment
# stream collapses to <= 4x1024 additive cells via one map-side-combined
# aggregate; probe estimates broadcast-join the tiny sketch. Estimates
# are >= exact by construction (collisions only add) — `overcount`
# exports the slack so the oracle checks the guarantee row by row.
# ---------------------------------------------------------------------------

_H = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

@register("sketch_count_min", f"""
WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS r),
cells AS (
  SELECT r, {_H.format(x="CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 1024 AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events, depths GROUP BY 1, 2),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY user_id),
probes AS (
  SELECT user_id, exact_n FROM exact
  WHERE {_H.format(x="CAST(user_id AS VARCHAR)")} % 7 = 0),
lookups AS (
  SELECT p.user_id, p.exact_n, d.r,
         {_H.format(x="CAST(d.r AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)")} % 1024 AS b
  FROM probes p, depths d),
est AS (
  SELECT l.user_id, MIN(COALESCE(c.n, 0)) AS est
  FROM lookups l LEFT JOIN cells c ON l.r = c.r AND l.b = c.b
  GROUP BY l.user_id)
SELECT e.user_id, CAST(e.est AS BIGINT) AS est, p.exact_n,
       CAST(e.est - p.exact_n AS BIGINT) AS overcount
FROM est e JOIN probes p ON e.user_id = p.user_id
""")
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    cells = sketches.count_min_cells(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.where(
        F.pmod(row_hash(F.col("user_id").cast("string")), F.lit(7)) == 0)
    est = sketches.count_min_estimate(cells, probes.select("user_id"),
                                      "user_id")
    return (est.join(probes, "user_id")
            .select("user_id", "est", "exact_n",
                    (F.col("est") - F.col("exact_n")).alias("overcount")))
