"""Web-log behavioral analytics queries — driver-contract entries for
operators/weblog.py (user-agent classification, clickpath transitions,
interval coalescing). Fixtures synthesize deterministically from the
events table in BOTH engines; oracles mirror the synthesis expression
for expression, so the pairs cannot drift.

Determinism notes (CLAUDE.md conventions): every output column is
BIGINT/VARCHAR/DOUBLE-from-exact-integer-division — no decimals, no
transcendentals; orderings inside windows carry the event_id unique
tie-break; is_bot is exported as BIGINT 0/1 (not BOOLEAN) so value
hashing is engine-neutral.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import weblog
from ..operators.textstats import ENTITY_PATTERNS as _EP
from ..sources import io
from .registry import register

# Mirrors weblog.synth_useragents — one source of truth per engine,
# asserted equal by tests/test_weblog.py round-trip.
_UA_SYNTH_SQL = """
  SELECT user_id, event_type, CASE event_type
    WHEN 'view' THEN 'Mozilla/5.0 (Windows NT 10.0) Chrome/'
        || CAST(100 + event_id % 20 AS VARCHAR) || '.0 Safari/537.36'
    WHEN 'click' THEN 'Mozilla/5.0 (Macintosh) Version/17.'
        || CAST(event_id % 10 AS VARCHAR) || ' Safari/605.1'
    WHEN 'purchase' THEN 'Mozilla/5.0 (X11; Linux x86_64) Firefox/'
        || CAST(90 + event_id % 15 AS VARCHAR) || '.0'
    WHEN 'signup' THEN CASE WHEN event_id % 3 = 0
        THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)'
        ELSE 'curl/8.' || CAST(event_id % 5 AS VARCHAR) END
    ELSE 'python-requests/2.' || CAST(event_id % 9 AS VARCHAR) END AS ua
  FROM events
"""


# ---------------------------------------------------------------------------
# parse_useragent — UA family/OS/bot classification, the router between
# "human traffic" and "automation" every web-log pipeline needs before
# any behavioral metric. Map-only CASE ladder (bot first, Chrome before
# Safari) fused into the scan; the count is map-side-combined. Both
# engines run RE2-compatible '(?i)(bot|...)' for the bot test.
# ---------------------------------------------------------------------------

@register("parse_useragent", f"""
WITH ua AS ({_UA_SYNTH_SQL}),
cls AS (
  SELECT user_id, ua,
         regexp_matches(ua, '(?i)(bot|crawl|spider|curl|python-requests)')
           AS is_bot
  FROM ua),
fam AS (
  SELECT user_id, CAST(is_bot AS BIGINT) AS is_bot,
         CASE WHEN is_bot THEN 'bot'
              WHEN contains(ua, 'Chrome/') THEN 'chrome'
              WHEN contains(ua, 'Safari/') THEN 'safari'
              WHEN contains(ua, 'Firefox/') THEN 'firefox'
              ELSE 'other' END AS family,
         CASE WHEN contains(ua, 'Windows') THEN 'windows'
              WHEN contains(ua, 'Macintosh') THEN 'macos'
              WHEN contains(ua, 'Linux') THEN 'linux'
              ELSE 'unknown' END AS os
  FROM cls)
SELECT family, os, is_bot, CAST(COUNT(*) AS BIGINT) AS requests,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users
FROM fam GROUP BY family, os, is_bot
""")
def q_parse_useragent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    cls = weblog.classify_useragent(weblog.synth_useragents(ev))
    return (cls.groupBy("family", "os",
                        F.col("is_bot").cast("long").alias("is_bot"))
            .agg(F.count(F.lit(1)).alias("requests"),
                 F.count_distinct("user_id").alias("uniq_users")))


# ---------------------------------------------------------------------------
# clickpath_transitions — the Markov transition matrix over each user's
# event sequence (lag per user ordered by ts with the event_id unique
# tie-break; first event transitions from 'START'). The per-source
# probability window runs on the aggregate's |types|^2-row output, not
# the fact stream; prob divides two exact BIGINTs (IEEE division is
# correctly rounded -> bit-identical across engines).
# ---------------------------------------------------------------------------

@register("clickpath_transitions", """
WITH seq AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                  'START') AS prev_type,
         event_type
  FROM events),
t AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq GROUP BY prev_type, event_type)
SELECT prev_type, event_type, n_trans,
       CAST(n_trans AS DOUBLE)
         / CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
FROM t
""")
def q_clickpath_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.transition_counts(ev)


# ---------------------------------------------------------------------------
# interval_coalesce — gaps-and-islands merge of overlapping per-user
# activity intervals (running-MAX-of-ends island rule, so
# fully-contained intervals merge correctly). Integer-second interval
# math on both sides; windows partition by user_id (per-key parallel,
# no global sort).
# ---------------------------------------------------------------------------

@register("interval_coalesce", """
WITH iv AS (
  -- epoch_us // 1e6 = floor, matching Spark's truncating TIMESTAMP->LONG
  -- cast on positive epochs (CAST(epoch(ts) AS BIGINT) would ROUND the
  -- fixtures' microsecond-bearing timestamps and drift by 1 s).
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS start_s,
         epoch_us(ts) // 1000000 + 60 + event_id % 240 AS end_s
  FROM events),
flagged AS (
  SELECT user_id, event_id, start_s, end_s,
         CASE WHEN MAX(end_s) OVER w IS NULL
                OR start_s > MAX(end_s) OVER w THEN 1 ELSE 0 END AS new_island
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY start_s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl AS (
  SELECT user_id, start_s, end_s,
         SUM(new_island) OVER (PARTITION BY user_id
             ORDER BY start_s, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged),
g AS (
  SELECT user_id, island, MIN(start_s) AS i_start, MAX(end_s) AS i_end
  FROM isl GROUP BY user_id, island)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(i_end - i_start) AS BIGINT) AS covered_s,
       CAST(MAX(i_end - i_start) AS BIGINT) AS longest_s
FROM g GROUP BY user_id
""")
def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.coalesce_intervals(ev)


# ---------------------------------------------------------------------------
# slo_burn_rate — multi-window error-budget burn alerting (the SRE
# shape): a tumbling 5-min error rate and a rolling 1-hour range frame
# over the TUMBLING AGGREGATE's output (~100k rows/year — the
# unpartitioned ORDER BY is a single-reducer pass over the aggregate,
# never a global sort of the fact stream). budget=0.25 is exactly
# representable, so burn = rate/budget is bit-identical across engines.
# ---------------------------------------------------------------------------

@register("slo_burn_rate", """
WITH per_win AS (
  SELECT epoch_us(ts) // 1000000 - (epoch_us(ts) // 1000000) % 300
           AS win_start,
         CAST(COUNT(*) AS BIGINT) AS requests,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errors
  FROM events GROUP BY 1),
burn AS (
  SELECT win_start, requests, errors,
         CAST(errors AS DOUBLE) / CAST(requests AS DOUBLE)
           / CAST(0.25 AS DOUBLE) AS short_burn,
         CAST(SUM(errors) OVER w AS DOUBLE)
           / CAST(SUM(requests) OVER w AS DOUBLE)
           / CAST(0.25 AS DOUBLE) AS long_burn
  FROM per_win
  WINDOW w AS (ORDER BY win_start
               RANGE BETWEEN 3300 PRECEDING AND CURRENT ROW))
SELECT win_start, requests, errors, short_burn, long_burn,
       CAST(short_burn > 1.0 AND long_burn > 1.0 AS BIGINT) AS alert
FROM burn
""")
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.slo_burn_rate(ev)


# ---------------------------------------------------------------------------
# bot_score — composite per-user automation heuristic: 0.6 * bot-UA
# share + 0.4 * error-event share. One map-side-combined groupBy over
# the fact stream; shares divide exact BIGINTs and both engines
# multiply the identical double literals, so scores match bit-for-bit.
# ---------------------------------------------------------------------------

@register("bot_score", f"""
WITH ua AS ({_UA_SYNTH_SQL}),
per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS requests,
         CAST(SUM(CASE WHEN regexp_matches(ua,
              '(?i)(bot|crawl|spider|curl|python-requests)')
              THEN 1 ELSE 0 END) AS BIGINT) AS bot_hits,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS error_hits
  FROM ua GROUP BY user_id),
sc AS (
  SELECT user_id, requests,
         CAST(bot_hits AS DOUBLE) / CAST(requests AS DOUBLE) AS bot_share,
         CAST(error_hits AS DOUBLE) / CAST(requests AS DOUBLE) AS error_share
  FROM per_user)
SELECT user_id, requests, bot_share, error_share,
       CAST(0.6 AS DOUBLE) * bot_share
         + CAST(0.4 AS DOUBLE) * error_share AS score,
       CAST(CAST(0.6 AS DOUBLE) * bot_share
            + CAST(0.4 AS DOUBLE) * error_share > 0.5 AS BIGINT)
         AS is_suspect
FROM sc
""")
def q_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.bot_score(ev)


# ---------------------------------------------------------------------------
# text_boilerplate_strip — per-site common-line boilerplate removal
# (operators/boilerplate.py): a line appearing on >= 1/2 of its
# domain's docs is boilerplate. Frequency agg + join-back both key on
# (source, 60-bit line hash) — ~24 B/line shuffles, never the text.
# Threshold by integer cross-multiplication (no FP ceil). Fixture
# injects a shared nav + footer (must drop) and a 25%-of-pages promo
# (must survive) around each doc body.
# ---------------------------------------------------------------------------

@register("text_boilerplate_strip", """
WITH pages AS (
  SELECT doc_id, source,
         concat_ws(chr(10),
           'NAV home about contact ' || source,
           CASE WHEN doc_id % 4 = 0 THEN 'SUBSCRIBE to our newsletter' END,
           text,
           '(c) 2024 ' || source || ' all rights reserved') AS page
  FROM documents),
lines AS (
  SELECT doc_id, source, s.pos AS pos, s.line AS line FROM (
    SELECT doc_id, source,
           unnest(list_transform(range(len(ls)),
               i -> struct_pack(pos := i, line := ls[i + 1]))) AS s
    FROM (SELECT doc_id, source, string_split(page, chr(10)) AS ls
          FROM pages))),
nd AS (
  SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM pages GROUP BY source),
freq AS (
  SELECT source, line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with
  FROM lines GROUP BY source, line),
tagged AS (
  SELECT l.doc_id, l.source, l.pos, l.line,
         CASE WHEN nd.n_docs >= 2 AND f.n_docs_with * 2 >= nd.n_docs * 1
              THEN 1 ELSE 0 END AS is_bp
  FROM lines l
  JOIN freq f ON l.source = f.source AND l.line = f.line
  JOIN nd ON l.source = nd.source)
SELECT doc_id, source,
       CAST(SUM(1 - is_bp) AS BIGINT) AS n_kept,
       CAST(SUM(is_bp) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN is_bp = 0 THEN line END,
                               chr(10) ORDER BY pos), '')) AS clean_md5
FROM tagged GROUP BY doc_id, source
""")
def q_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import boilerplate
    docs = io.read_table(spark, sf_dir, "documents")
    out = boilerplate.strip_boilerplate(boilerplate.synth_pages(docs))
    return out.select("doc_id", "source", "n_kept", "n_dropped",
                      F.md5(F.col("clean_text")).alias("clean_md5"))


# ---------------------------------------------------------------------------
# experiment_ab_lift — deterministic A/B readout: md5-hash variant
# assignment (never rand()), per-user any-purchase conversion, one
# global conditional aggregate -> per-variant rates, absolute lift, and
# the pooled two-proportion z (sqrt is IEEE-exact; z rounds to 12 on
# both sides per convention).
# ---------------------------------------------------------------------------

@register("experiment_ab_lift", """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 150
             THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
assign AS (
  SELECT conv,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS variant
  FROM per_user),
agg AS (
  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM assign),
rates AS (
  SELECT n_a, n_b, conv_a, conv_b,
         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
         (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pooled
  FROM agg),
withse AS (
  SELECT *, sqrt(pooled * (CAST(1.0 AS DOUBLE) - pooled)
                 * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                    + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS se
  FROM rates)
SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
       rate_b - rate_a AS lift_abs,
       CASE WHEN se > 0 THEN round((rate_b - rate_a) / se, 12) END AS z_score
FROM withse
""")
def q_experiment_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.ab_experiment(ev)


# ---------------------------------------------------------------------------
# rolling_distinct_users — trailing-7-day distinct users per day, the
# metric SQL spells COUNT(DISTINCT) OVER (RANGE 7 DAYS) — which Spark
# does not support over windows at all. Distributed formulation: dedup
# to (user, day) pairs FIRST, fan each pair out to the 7 target days it
# contributes to, one distinct-agg per day. Shuffle volume =
# |distinct pairs| x 7 sixteen-byte rows, independent of event count.
# ---------------------------------------------------------------------------

@register("rolling_distinct_users", """
WITH pairs AS (
  SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS day_num, user_id
  FROM events),
expanded AS (
  SELECT day_num + k AS day_t, day_num, user_id
  FROM pairs, (SELECT unnest(range(7)) AS k)),
m AS (SELECT MAX(day_num) AS max_day FROM pairs)
SELECT day_t AS day_num,
       CAST(COUNT(DISTINCT CASE WHEN day_t = day_num THEN user_id END)
            AS BIGINT) AS users_1d,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
FROM expanded, m WHERE day_t <= max_day GROUP BY day_t
""")
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.rolling_distinct_users(ev)


# ---------------------------------------------------------------------------
# dq_expectations — declarative data-quality audit (operators/dq.py):
# four row-level rules over orders evaluate in ONE conditional
# aggregate (adding a rule adds a codegen expression, never a scan),
# plus the inherently-second-aggregate key-uniqueness rule, unioned.
# Only per-rule counters leave the executors. NULL rule results count
# as violations.
# ---------------------------------------------------------------------------

@register("dq_expectations", """
WITH row_rules AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(CASE WHEN COALESCE(o_custkey IS NOT NULL, FALSE)
                  THEN 0 ELSE 1 END) AS BIGINT) AS v0,
         CAST(SUM(CASE WHEN COALESCE(o_totalprice BETWEEN 0 AND 1000000,
                                     FALSE) THEN 0 ELSE 1 END)
              AS BIGINT) AS v1,
         CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O', 'F', 'P'),
                                     FALSE) THEN 0 ELSE 1 END)
              AS BIGINT) AS v2,
         CAST(SUM(CASE WHEN COALESCE(regexp_matches(o_orderpriority,
                  '^[1-5]-[A-Z ]+$'), FALSE) THEN 0 ELSE 1 END)
              AS BIGINT) AS v3
  FROM orders),
uniq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
           AS n_violations
  FROM orders),
report AS (
  SELECT 'custkey_not_null' AS rule, n_checked, v0 AS n_violations
    FROM row_rules
  UNION ALL SELECT 'totalprice_in_range', n_checked, v1 FROM row_rules
  UNION ALL SELECT 'status_in_set', n_checked, v2 FROM row_rules
  UNION ALL SELECT 'priority_format', n_checked, v3 FROM row_rules
  UNION ALL SELECT 'unique_o_orderkey', n_checked, n_violations FROM uniq)
SELECT rule, n_checked, n_violations,
       CAST(n_violations = 0 AS BIGINT) AS passed
FROM report
""")
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dq
    orders = io.read_table(spark, sf_dir, "orders")
    rules = [
        ("custkey_not_null", F.col("o_custkey").isNotNull()),
        ("totalprice_in_range", F.col("o_totalprice").between(0, 1000000)),
        ("status_in_set", F.col("o_orderstatus").isin("O", "F", "P")),
        ("priority_format", F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")),
    ]
    return (dq.run_expectations(orders, rules)
            .unionByName(dq.expect_unique(orders, "o_orderkey")))


# ---------------------------------------------------------------------------
# entity_extract_census — entity-mention census (emails, IPv4s,
# hashtags) via regexp_extract_all: one scan (the per-type extracts are
# parallel expressions on the same row), double explode, map-side-
# combined count. Patterns are interpolated from ONE Python constant
# into both engines, and avoid \\b / lookaround where RE2 and Java
# regex diverge. Fixture appends deterministic entities to each doc.
# ---------------------------------------------------------------------------

_ENTITY_SYNTH_SQL = """
  SELECT doc_id,
         text || ' contact admin' || CAST(doc_id % 20 AS VARCHAR)
              || '@' || source || '.example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST(doc_id % 100 AS VARCHAR)
              || ' tag #topic' || CAST(doc_id % 8 AS VARCHAR) AS t
  FROM documents
"""

@register("entity_extract_census", ("""
WITH docs2 AS ({synth}),
ents AS (
  SELECT 'email' AS entity_type,
         unnest(regexp_extract_all(t, '{email}')) AS entity FROM docs2
  UNION ALL
  SELECT 'ipv4', unnest(regexp_extract_all(t, '{ipv4}')) FROM docs2
  UNION ALL
  SELECT 'hashtag', unnest(regexp_extract_all(t, '{hashtag}')) FROM docs2)
SELECT entity_type, CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT entity) AS BIGINT) AS n_distinct
FROM ents GROUP BY entity_type
""").replace("{synth}", _ENTITY_SYNTH_SQL)
          .replace("{email}", _EP["email"])
          .replace("{ipv4}", _EP["ipv4"])
          .replace("{hashtag}", _EP["hashtag"]))
def q_entity_extract_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textstats
    docs = io.read_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit(" contact admin"),
        (F.col("doc_id") % 20).cast("string"), F.lit("@"),
        F.col("source"), F.lit(".example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit("."),
        (F.col("doc_id") % 100).cast("string"), F.lit(" tag #topic"),
        (F.col("doc_id") % 8).cast("string"))
    return textstats.entity_census(docs.select("doc_id", t.alias("t")), "t")


# ---------------------------------------------------------------------------
# attribution_last_touch — marketing attribution: each purchase credits
# the user's most recent preceding non-purchase event within a 7-day
# lookback, else 'direct'. One per-user window (ts + event_id unique
# tie-break) carries a (ts, type) struct via last(... ignore nulls);
# integer-second time comparison; map-side-combined channel counts.
# ---------------------------------------------------------------------------

@register("attribution_last_touch", """
WITH seq AS (
  SELECT user_id, event_type,
         epoch_us(ts) // 1000000 AS ts_s,
         last_value(CASE WHEN event_type <> 'purchase'
             THEN struct_pack(ts_s := epoch_us(ts) // 1000000,
                              et := event_type) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM events)
SELECT CASE WHEN prev IS NULL OR prev.ts_s < ts_s - 604800
            THEN 'direct' ELSE prev.et END AS channel,
       CAST(COUNT(*) AS BIGINT) AS purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_buyers
FROM seq WHERE event_type = 'purchase' GROUP BY 1
""")
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return weblog.attribution_last_touch(ev)
