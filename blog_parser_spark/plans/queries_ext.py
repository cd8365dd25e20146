"""Driver-contract queries, batch 3: skew-salted join, batch window
aggregates (tumbling + session via gaps-and-islands oracle), pivot,
percentiles, min_by/max_by, grouping sets, url parsing, window frames,
the SQL-API flagship, histogram binning, gap-fill, and bitmap distincts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import aggregate, joins
from ..sources import io
from .registry import register


# ---------------------------------------------------------------------------
# skew: salted join (result == unsalted; skew fixture exercised in tests)
# ---------------------------------------------------------------------------

@register("join_salted", """
SELECT o.o_orderstatus AS status, n.n_name, COUNT(*) AS orders
FROM orders o JOIN nation n ON o.o_custkey % 25 = n.n_nationkey
GROUP BY 1, 2
""")
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join (custkey%25 concentrates keys) through the explicit
    salted construction — semantics must equal the plain join."""
    o = (io.read_table(spark, sf_dir, "orders")
         .withColumn("n_nationkey", (F.col("o_custkey") % 25).cast("int")))
    n = io.read_table(spark, sf_dir, "nation")
    joined = joins.salted_join_on(o, n, key="n_nationkey",
                                  unique_col="o_orderkey", salt_buckets=8)
    return (joined.groupBy(F.col("o_orderstatus").alias("status"), "n_name")
            .agg(F.count(F.lit(1)).alias("orders")))


# ---------------------------------------------------------------------------
# batch window aggregates (streaming parity shapes, SQL-checkable)
# ---------------------------------------------------------------------------

@register("agg_tumbling_window", """
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS win_start,
       event_type, COUNT(*) AS events
FROM events GROUP BY 1, 2
""")
def q_agg_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("events"))
            .select(F.col("win.start").alias("win_start"), "event_type", "events"))


@register("agg_session_window", """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS events
FROM sess GROUP BY user_id, session_id
""")
def q_agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window in batch mode vs a gaps-and-islands SQL oracle —
    proves Spark's native session semantics against first principles."""
    ev = io.read_table(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("events"))
            .select("user_id", F.col("win.start").alias("session_start"), "events"))


# ---------------------------------------------------------------------------
# aggregation breadth
# ---------------------------------------------------------------------------
@register("agg_sliding_window", """
WITH hops AS (SELECT unnest([0,1,2,3]) AS k)
SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts) AS TIMESTAMP)
         - INTERVAL 15 MINUTE * k AS win_start,
       event_type, COUNT(*) AS events
FROM events CROSS JOIN hops
GROUP BY 1, 2
""")
def q_agg_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window, 1h every 15m — the batch dual of
    stream_sliding. Spark's F.window with a slide explodes each event
    into its 4 containing windows natively; the oracle rebuilds the same
    set from first principles (aligned bucket minus k hops). One
    map-side-combined aggregation; window explosion is a narrow map."""
    ev = io.read_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("events"))
            .select(F.col("win.start").alias("win_start"), "event_type",
                    "events"))


@register("agg_pivot", """
SELECT lang,
  COUNT(*) FILTER (WHERE source = 'src0') AS src0,
  COUNT(*) FILTER (WHERE source = 'src1') AS src1,
  COUNT(*) FILTER (WHERE source = 'src2') AS src2,
  COUNT(*) FILTER (WHERE source = 'src3') AS src3
FROM documents GROUP BY 1
""")
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
            .pivot("source", [f"src{i}" for i in range(4)])
            .agg(F.count(F.lit(1)))
            .select("lang", *[F.coalesce(F.col(f"src{i}"), F.lit(0)).alias(f"src{i}")
                              for i in range(4)]))


@register("agg_percentile", """
SELECT o_orderstatus AS status,
  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
  round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY 1
""")
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = io.read_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"))


@register("agg_approx_percentile")  # no oracle: sketch result, rows-only check
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metrics-at-scale quantile path: percentile_approx is Spark's
    mergeable Greenwald-Khanna-style sketch — map-side partial sketches
    merge associatively, so the shuffle carries one sketch per group per
    partition instead of every value (exact `agg_percentile` must see all
    values). Rank error <= 1/accuracy; bounded-error vs exact is asserted
    in tests/test_sinks.py."""
    o = io.read_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("ap50"),
        F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000)).alias("ap90"))


@register("agg_hll_union")  # no oracle: sketch result, rows-only check
def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-and-merged distinct sketches — the pattern behind
    incremental distinct-count rollups at corpus scale: per-group
    Datasketches HLL sketches (hll_sketch_agg) are UNIONED across groups
    (hll_union_agg) instead of rescanning raw data. approx_count_distinct
    cannot do this (its HLL++ binary is not exposed); these sketches are
    storable columns, so daily partitions can each keep a sketch and any
    date-range distinct-count is a cheap union. Bounded error asserted in
    tests/test_sinks.py."""
    ev = io.read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"))
    return per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .alias("approx_total_users"))


@register("agg_minmax_by", """
SELECT event_type,
  arg_min(event_id, ts) AS first_event_id,
  arg_max(event_id, ts) AS last_event_id,
  min(ts) AS first_ts, max(ts) AS last_ts
FROM events GROUP BY 1
""")
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    # fixture ts is globally unique (verified) -> min_by/max_by deterministic
    return ev.groupBy("event_type").agg(
        F.min_by("event_id", "ts").alias("first_event_id"),
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))


@register("agg_grouping_sets", """
SELECT lang, source, COUNT(*) AS docs
FROM documents GROUP BY GROUPING SETS ((lang), (source), (lang, source))
""")
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_gs")
    return spark.sql("""
        SELECT lang, source, COUNT(*) AS docs FROM documents_gs
        GROUP BY GROUPING SETS ((lang), (source), (lang, source))""")


# ---------------------------------------------------------------------------
# scalar families: url parsing
# ---------------------------------------------------------------------------

@register("fn_url", PAGES_SQL_REF := """
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
# windows breadth
# ---------------------------------------------------------------------------

@register("win_first_last_nth", """
SELECT event_id, user_id,
  first_value(event_id) OVER w AS first_id,
  last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id,
  nth_value(event_id, 2) OVER w AS second_id,
  lead(event_id) OVER w AS next_id
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id", "user_id",
        F.first("event_id").over(w).alias("first_id"),
        F.last("event_id").over(wfull).alias("last_id"),
        F.nth_value("event_id", 2).over(w).alias("second_id"),
        F.lead("event_id").over(w).alias("next_id"))


@register("win_range_frame", """
SELECT event_id, user_id,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
    PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
FROM events
""")
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = io.read_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ in the fixture parquet: cast via LTZ (session=UTC)
    # to epoch seconds for the range frame — identical to DuckDB epoch(ts)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").cast("timestamp").cast("long"))
         .rangeBetween(-3600, 0))
    return ev.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w)
        .cast("double").alias("hour_sum"))


# ---------------------------------------------------------------------------
# SQL-API parity: the flagship aggregate written as pure spark.sql over a
# temp view of the parsed rows — same oracle as agg_sink_counts
# ---------------------------------------------------------------------------

def _register_flagship_sql():
    from .queries import FLAGSHIP_AGG_SQL
    from ..operators import parse
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


@register("agg_histogram", """
SELECT CAST(least(floor(o_totalprice / 60000.0), 9) AS INT) AS bucket,
       COUNT(*) AS n
FROM orders GROUP BY 1
""")
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning — one map-side-combined shuffle of
    (bucket, partial count); bucket edges at k*60000 divide the 2-decimal
    prices exactly, so floor is engine-independent."""
    o = io.read_table(spark, sf_dir, "orders")
    b = F.least(F.floor(F.col("o_totalprice") / 60000.0), F.lit(9)).cast("int")
    return (o.groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


@register("win_gapfill", """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          FROM b),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                  COUNT(*) AS n
           FROM events GROUP BY 1, 2)
SELECT s.hour, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS events
FROM spine s CROSS JOIN types t
LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
""")
def q_win_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry gap-fill: a complete hourly spine per series, zero-filled
    where no events landed — downstream rate/alerting math needs dense
    series. The spine is generated (F.sequence + explode, no data
    shuffle), the grid is spine x distinct-types (both tiny), and the
    only corpus-sized op is the hourly pre-aggregate the left join
    receives — grid joins aggregated counts, never raw events."""
    ev = io.read_table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("HOUR", F.min("ts")).alias("lo"),
                    F.date_trunc("HOUR", F.max("ts")).alias("hi"))
    spine = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    types = ev.select("event_type").distinct()
    counts = (ev.groupBy(F.date_trunc("HOUR", "ts").alias("hour"),
                         "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    # every frame here is bounded by time-span x series count, never by
    # corpus size — broadcast explicitly so the planner never falls back
    # to a partitioned CartesianProduct for the tiny grid
    return (spine.crossJoin(F.broadcast(types))
            .join(F.broadcast(counts), ["hour", "event_type"], "left")
            .select("hour", "event_type",
                    F.coalesce("n", F.lit(0)).cast("long").alias("events")))


@register("agg_bitmap_distinct", """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
""")
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via storable/mergeable bitmaps — the
    exact-count analog of agg_hll_union's sketch rollup: per-(group,
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
