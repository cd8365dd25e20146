"""Batch-7 driver-contract queries: log-analytics anomaly scoring,
join-based triangle counting, mergeable partial aggregates, URL
canonicalization (the log-pipeline normalize step), cohort retention,
the fuzzy Jaccard join, and log parsing (grok, templates, multiline
stacks, IP/CIDR enrichment).

Determinism notes follow queries.py: identical aliases both sides,
double sums via DECIMAL(18,4) partials cast back to double, every
top-k ordering carries a unique tie-break, z-scores/ratios computed
from integer-exact partials with identical double expressions then
round(6). NO DECIMAL-typed output columns (CLAUDE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import enrich, graph, groklog, logmine, urlnorm
from ..sources import io
from .registry import register


# ---------------------------------------------------------------------------
# log_anomaly_zscore — per-(event_type, hour) volume anomalies: hourly
# counts, then a per-type z-score computed from integer-exact partials
# (SUM(cnt), SUM(cnt^2), COUNT — all BIGINT, so mean/variance inputs
# are bit-identical across engines; the double expression is evaluated
# identically and sqrt is IEEE-correctly-rounded). |z| > 2 flags the
# spike hours. At 100 TB this is two map-side-combined aggregations —
# the hourly rollup collapses the raw events before the tiny
# per-type-window pass.
# ---------------------------------------------------------------------------

@register("log_anomaly_zscore", """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
stats AS (
  SELECT event_type, hr, cnt,
         SUM(cnt)     OVER (PARTITION BY event_type) AS s,
         SUM(cnt*cnt) OVER (PARTITION BY event_type) AS sq,
         COUNT(*)     OVER (PARTITION BY event_type) AS n
  FROM hourly)
SELECT event_type, hr, cnt,
       round((CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE)/n)
             / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*s/n)/(n-1)), 6)
         AS zscore
FROM stats
WHERE n >= 2
  AND abs((CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE)/n)
          / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*s/n)/(n-1))) > 2.0
""")
def q_log_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("event_type")
    stats = hourly.select(
        "event_type", "hr", "cnt",
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("n"))
    mean = F.col("s").cast("double") / F.col("n")
    var = ((F.col("sq").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n"))
           / (F.col("n") - 1))
    z = (F.col("cnt").cast("double") - mean) / F.sqrt(var)
    return (stats.filter((F.col("n") >= 2) & (F.abs(z) > 2.0))
            .select("event_type", "hr", "cnt", F.round(z, 6).alias("zscore")))


# ---------------------------------------------------------------------------
# graph_triangle_count — join-based triangle counting on an undirected
# graph (edges canonicalized a<b, the standard a<b<c enumeration so
# every triangle counts exactly once). The graph derives
# deterministically from orders (mod-97 projection) so the oracle can
# rebuild it in closed form. The two self-joins are plain shuffled hash
# joins on vertex keys — the same plan GraphFrames' triangleCount
# lowers to, with the wedge side (e1⋈e2) growing as sum-of-degree² —
# at web scale you'd pre-filter to the k-core before this join.
# ---------------------------------------------------------------------------

@register("graph_triangle_count", """
WITH e0 AS (
  SELECT DISTINCT least(o_custkey % 97, o_orderkey % 97) AS a,
                  greatest(o_custkey % 97, o_orderkey % 97) AS b
  FROM orders WHERE o_custkey % 97 <> o_orderkey % 97)
SELECT COUNT(*) AS n_triangles
FROM e0 e1
JOIN e0 e2 ON e2.a = e1.b
JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
""")
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.read_table(spark, sf_dir, "orders")
    u = F.col("o_custkey") % 97
    v = F.col("o_orderkey") % 97
    e0 = (o.filter(u != v)
          .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
          .distinct())
    return graph.triangle_count(e0)


# ---------------------------------------------------------------------------
# agg_incremental_partials — the mergeable-partial-aggregate pattern
# behind incremental materialized views: per-(event_type, day) partials
# (COUNT + exact DECIMAL sum) roll up to per-type totals by SUMming the
# partials — never re-touching raw rows. The pytest in test_olap.py
# persists the daily partials to parquet and folds them in day by day
# (the incremental refresh); this registered query proves the two-level
# plan itself is exact. At 100 TB the first level is the only pass over
# raw data; refreshes merge yesterday's partial file with today's.
# ---------------------------------------------------------------------------

@register("agg_incremental_partials", """
WITH partials AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS cnt, SUM(CAST(value AS DECIMAL(18,4))) AS sval
  FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE))
SELECT event_type,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(SUM(sval) AS DOUBLE) AS total_value,
       COUNT(*) AS n_days
FROM partials GROUP BY event_type
""")
def q_agg_incremental_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    partials = daily_partials(ev)
    return merge_partials(partials)


def daily_partials(events: DataFrame) -> DataFrame:
    """Level 1: per-(event_type, day) mergeable partials — the only pass
    that touches raw rows. DECIMAL sum partials are order-independent."""
    return (events.groupBy("event_type",
                           F.date_trunc("day", "ts").cast("date").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(F.col("value").cast("decimal(18,4)")).alias("sval")))


def merge_partials(partials: DataFrame) -> DataFrame:
    """Level 2: fold partials to totals — SUM of counts, SUM of decimal
    sums. Works identically whether `partials` came from one query or
    from N incremental parquet snapshots unioned together."""
    return (partials.groupBy("event_type")
            .agg(F.sum("cnt").cast("bigint").alias("n_events"),
                 F.sum("sval").cast("double").alias("total_value"),
                 F.count(F.lit(1)).alias("n_days")))


# ---------------------------------------------------------------------------
# url_canonicalize — the normalize step every web-log pipeline runs
# before dedup/join: lowercase scheme+host, strip default ports, drop
# fragments, drop utm_* tracking params, sort surviving query params,
# trim trailing slashes. Messy inputs are synthesized deterministically
# from doc_id (4 variants) so the oracle rebuilds byte-identical inputs
# and the whole normalize path is value-checked, not just counted.
# Pure JVM expressions (regexp + array ops) — see operators/urlnorm.py.
# ---------------------------------------------------------------------------

@register("url_canonicalize", """
WITH messy AS (
  SELECT doc_id,
         'HTTPS://' || upper(source) || '.Example.COM:443/post/' ||
         CAST(doc_id AS VARCHAR) ||
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN '/?utm_source=feed&b=2&a=1'
           WHEN 1 THEN '?z=9&utm_campaign=x&a=1#frag'
           WHEN 2 THEN ''
           ELSE '#top' END AS url
  FROM documents)
SELECT doc_id, url,
       lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
       regexp_replace(
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
         ':443$', '') ||
       CASE WHEN regexp_replace(
                   regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                   '/+$', '') = ''
            THEN '/'
            ELSE regexp_replace(
                   regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                   '/+$', '') END ||
       CASE WHEN COALESCE(array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                    x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'), '') = ''
            THEN ''
            ELSE '?' || COALESCE(array_to_string(list_sort(list_filter(
                    string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                    x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'), '') END
         AS canon_url
FROM messy
""")
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    variant = (F.col("doc_id") % 4).cast("int")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://"), F.upper("source"), F.lit(".Example.COM:443/post/"),
            F.col("doc_id").cast("string"),
            F.when(variant == 0, F.lit("/?utm_source=feed&b=2&a=1"))
             .when(variant == 1, F.lit("?z=9&utm_campaign=x&a=1#frag"))
             .when(variant == 2, F.lit(""))
             .otherwise(F.lit("#top"))).alias("url"))
    return messy.select("doc_id", "url",
                        urlnorm.canonicalize(F.col("url")).alias("canon_url"))


# ---------------------------------------------------------------------------
# cohort_retention — the product-analytics retention matrix: users
# cohorted by first-seen day, then counted by (cohort_day, day_offset)
# of later activity. Two aggregations over the events table (first-seen
# per user, distinct user-days) joined on user_id — both shuffles hash
# on user_id, so AQE can reuse one exchange. DISTINCT before the join
# keeps the join input at |user×day|, not |events|.
# ---------------------------------------------------------------------------

@register("cohort_retention", """
WITH firstday AS (
  SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS act_day
  FROM events)
SELECT cohort_day,
       CAST(datediff('day', cohort_day, act_day) AS INTEGER) AS day_offset,
       COUNT(*) AS active_users
FROM activity JOIN firstday USING (user_id)
GROUP BY cohort_day, CAST(datediff('day', cohort_day, act_day) AS INTEGER)
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    firstday = (ev.groupBy("user_id")
                .agg(F.min(day).alias("cohort_day")))
    activity = ev.select("user_id", day.alias("act_day")).distinct()
    return (activity.join(firstday, "user_id")
            .groupBy("cohort_day",
                     F.datediff("act_day", "cohort_day").cast("int")
                     .alias("day_offset"))
            .agg(F.count(F.lit(1)).alias("active_users")))


# ---------------------------------------------------------------------------
# join_fuzzy_jaccard — exact fuzzy record linkage: token-set Jaccard
# >= 0.8 between documents and a perturbed copy (each right-side doc
# drops its 2 lexically-last tokens, so planted matches sit at
# (n-2)/n and docs with <10 distinct tokens fall below threshold).
# Spark runs the PREFIX-FILTERED join (operators/joins.py
# fuzzy_jaccard_join — candidates from rarest-token prefixes only);
# the oracle computes EXHAUSTIVE all-pairs Jaccard, so a green row
# proves the prefix filter is lossless, not approximate. jacc is one
# IEEE division of identical integers — no rounding needed.
# ---------------------------------------------------------------------------

_TOKS_SQL = ("list_sort(list_distinct(list_filter("
             "string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')))")

@register("join_fuzzy_jaccard", f"""
WITH lt AS (
  SELECT doc_id AS id_l, {_TOKS_SQL} AS t FROM documents),
rt AS (
  SELECT doc_id + 100000 AS id_r,
         list_slice({_TOKS_SQL}, 1, len({_TOKS_SQL}) - 2) AS t
  FROM documents),
pairs AS (
  SELECT id_l, id_r,
         len(list_filter(l.t, x -> list_contains(r.t, x))) AS inter,
         len(l.t) AS nl, len(r.t) AS nr
  FROM lt l CROSS JOIN rt r)
SELECT id_l, id_r, CAST(inter AS DOUBLE) / (nl + nr - inter) AS jacc
FROM pairs
WHERE inter > 0 AND CAST(inter AS DOUBLE) / (nl + nr - inter) >= 0.8
""")
def q_join_fuzzy_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import joins
    docs = io.read_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")))
    left = docs.select(F.col("doc_id").alias("id_l"), toks.alias("toks_l"))
    right = docs.select(
        (F.col("doc_id") + 100000).alias("id_r"),
        # clamp: Spark's slice throws on negative length for docs with
        # <2 tokens (DuckDB's list_slice degrades to empty instead)
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0)))
        .alias("toks_r"))
    return joins.fuzzy_jaccard_join(left, right, threshold=0.8)


# ---------------------------------------------------------------------------
# parse_grok_logs — the log/telemetry half of the north rule's "grok/regex
# parse": synthesize Apache-combined-style access-log lines
# deterministically from events (both engines build byte-identical
# strings), then parse them BACK with one anchored regex
# (grok's COMMONAPACHELOG shape) and aggregate per (method, status).
# The regex runs JVM-side inside whole-stage codegen (regexp_extract),
# never Python — at 100 TB this is a map-only scan feeding one
# map-side-combined aggregation, the same shape as the HTML parse
# flagship but with zero Arrow hops. All outputs are strings/BIGINTs:
# exact across engines.
# ---------------------------------------------------------------------------

@register("parse_grok_logs", """
WITH raw AS (
  SELECT '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1 - - ['
         || CAST(CAST(extract(epoch FROM ts) AS BIGINT) AS VARCHAR) || '] "'
         || CASE event_type WHEN 'view' THEN 'GET' WHEN 'click' THEN 'POST'
                 WHEN 'purchase' THEN 'PUT' WHEN 'signup' THEN 'POST'
                 ELSE 'DELETE' END
         || ' /' || event_type || '/' || CAST(event_id % 100 AS VARCHAR)
         || ' HTTP/1.1" '
         || CASE WHEN event_id % 10 < 7 THEN '200'
                 WHEN event_id % 10 < 9 THEN '404' ELSE '500' END
         || ' ' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)
           AS line
  FROM events),
parsed AS (
  SELECT regexp_extract(line, '{rx}', 1) AS ip,
         regexp_extract(line, '{rx}', 3) AS method,
         regexp_extract(line, '{rx}', 5) AS status,
         CAST(regexp_extract(line, '{rx}', 6) AS BIGINT) AS n_bytes
  FROM raw)
SELECT method, status, COUNT(*) AS requests,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes, COUNT(DISTINCT ip) AS uniq_ips
FROM parsed GROUP BY method, status
""".replace("{rx}", groklog.GROK_RX))
def q_parse_grok_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return groklog.requests_by_method_status(
        groklog.parse_lines(groklog.synth_lines(ev)))


# ---------------------------------------------------------------------------
# parse_log_templates — Drain-style template mining: digit runs collapse
# to <NUM>, lines group by (token_count, first two normalized tokens)
# (the depth-2 Drain prefix key), and a position where the group
# disagrees becomes the <*> wildcard. Two map-side-combined shuffles;
# the (key,pos) cardinality is O(templates x positions), so the plan is
# scan-bound at any corpus size. Fixture lines are synthesized
# deterministically from events in BOTH engines (logmine.synth_app_lines
# mirrored below); the click shape varies a WORD (button color) so the
# wildcard path is exercised, not just digit collapse.
# ---------------------------------------------------------------------------

@register("parse_log_templates", """
WITH raw AS (
  SELECT CASE event_type
    WHEN 'view' THEN 'INFO user ' || CAST(user_id AS VARCHAR)
        || ' opened page ' || CAST(event_id % 100 AS VARCHAR) || ' in '
        || CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR) || ' ms'
    WHEN 'click' THEN 'INFO user ' || CAST(user_id AS VARCHAR)
        || ' clicked button '
        || CASE event_id % 3 WHEN 0 THEN 'red' WHEN 1 THEN 'blue'
           ELSE 'green' END
        || ' ' || CAST(event_id % 10 AS VARCHAR)
    WHEN 'purchase' THEN 'WARN payment retry '
        || CAST(event_id % 5 AS VARCHAR)
        || ' for user ' || CAST(user_id AS VARCHAR)
    WHEN 'signup' THEN 'INFO user ' || CAST(user_id AS VARCHAR)
        || ' created account'
    ELSE 'ERROR session ' || CAST(event_id AS VARCHAR) || ' aborted'
    END AS line
  FROM events),
keyed AS (
  SELECT list_transform(string_split(line, ' '),
                        t -> regexp_replace(t, '[0-9]+', '<NUM>', 'g')) AS tk
  FROM raw),
pos AS (
  SELECT n_toks, gkey, s.pos AS pos, s.tok AS tok FROM (
    SELECT len(tk) AS n_toks, tk[1] || chr(1) || tk[2] AS gkey,
           unnest(list_transform(range(len(tk)),
               i -> struct_pack(pos := i + 1, tok := tk[i + 1]))) AS s
    FROM keyed)),
per_pos AS (
  SELECT n_toks, gkey, pos,
         COUNT(DISTINCT tok) AS n_distinct, MIN(tok) AS tok,
         COUNT(*) AS n_rows
  FROM pos GROUP BY 1, 2, 3)
SELECT string_agg(CASE WHEN n_distinct = 1 THEN tok ELSE '<*>' END,
                  ' ' ORDER BY pos) AS template,
       CAST(MAX(n_rows) AS BIGINT) AS n_lines
FROM per_pos GROUP BY n_toks, gkey
""")
def q_parse_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return logmine.mine_templates(logmine.synth_app_lines(ev))


# ---------------------------------------------------------------------------
# parse_multiline_stack — multiline record assembly: continuation lines
# (leading whitespace) fold into the nearest preceding non-continuation
# line of the same file via a running-max window PER FILE (the natural
# parallel unit of a log landing zone — no global sort), then records
# re-assemble with an in-group array sort. Fixture: events with
# value < 0.1 emit an ERROR parent + two indented frames
# (logmine.synth_stack_lines, mirrored below).
# ---------------------------------------------------------------------------

@register("parse_multiline_stack", """
WITH fanout AS (
  SELECT user_id % 8 AS file, event_id, value,
         unnest(CASE WHEN value < 0.1 THEN [0, 1, 2] ELSE [0] END) AS k
  FROM events),
raw AS (
  SELECT file, event_id * 4 + k AS line_no,
         CASE WHEN k = 0 THEN
             CASE WHEN value < 0.1
                  THEN 'ERROR boom ' || CAST(event_id AS VARCHAR)
                  ELSE 'INFO ok ' || CAST(event_id AS VARCHAR) END
         ELSE '  at frame' || CAST(k AS VARCHAR) || ' of '
              || CAST(event_id AS VARCHAR) END AS line
  FROM fanout),
tagged AS (
  SELECT file, line_no, line,
         MAX(CASE WHEN LEFT(line, 1) <> ' ' THEN line_no END)
           OVER (PARTITION BY file ORDER BY line_no
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS record_start
  FROM raw)
SELECT file, record_start,
       string_agg(line, chr(10) ORDER BY line_no) AS record,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM tagged GROUP BY file, record_start
""")
def q_parse_multiline_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return logmine.assemble_multiline(logmine.synth_stack_lines(ev))


# ---------------------------------------------------------------------------
# enrich_ip_cidr — the geo-IP/ASN "lookup enrich" step of the log
# pipeline: dotted-quad -> int64, then attach the (non-overlapping)
# range row containing each IP. The dim is config-sized so it
# BROADCASTS and the containment predicate runs map-side — zero shuffle
# of the fact stream; a multi-million-range GeoIP table would switch to
# a binned equi-join instead (documented on enrich.join_ip_ranges).
# One cuts list generates BOTH the Spark dim and the SQL VALUES, so the
# two engines cannot drift.
# ---------------------------------------------------------------------------

_IP_BASE = 10 * 16_777_216  # 10.0.0.0
_IP_CUTS = [(0, 36), (37, 80), (81, 99), (100, 170), (171, 200),
            (201, 250), (251, 255)]
_IP_DIM_SQL = ",\n  ".join(
    f"('blk{i}', {_IP_BASE + lo * 256}, {_IP_BASE + hi * 256 + 255})"
    for i, (lo, hi) in enumerate(_IP_CUTS))


@register("enrich_ip_cidr", f"""
WITH ips AS (
  SELECT '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1' AS ip,
         {_IP_BASE} + (user_id % 256) * 256 + 1 AS ip_long
  FROM events),
dim(label, start_ip, end_ip) AS (VALUES
  {_IP_DIM_SQL})
SELECT label, CAST(COUNT(*) AS BIGINT) AS requests,
       CAST(COUNT(DISTINCT ip) AS BIGINT) AS uniq_ips
FROM ips LEFT JOIN dim ON ip_long BETWEEN start_ip AND end_ip
GROUP BY label
""")
def q_enrich_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    ips = groklog.parse_lines(groklog.synth_lines(ev)).select("ip")
    dim = spark.createDataFrame(
        [(f"blk{{i}}".format(i=i), _IP_BASE + lo * 256,
          _IP_BASE + hi * 256 + 255)
         for i, (lo, hi) in enumerate(_IP_CUTS)],
        "label string, start_ip long, end_ip long")
    return (enrich.join_ip_ranges(ips, dim)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("requests"),
                 F.count_distinct("ip").alias("uniq_ips")))
