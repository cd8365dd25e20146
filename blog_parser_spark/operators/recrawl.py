"""Recrawl scheduling — per-url change-frequency estimation over crawl
history, the other half of crawl scheduling (the frontier op answers
"what order do we fetch NEW urls"; this answers "when is each KNOWN url
due again"). The estimator is the classic uniform-change-rate shape
(Cho & Garcia-Molina, "Estimating Frequency of Change": changes observed
/ time observed), kept in EXACT integer arithmetic so the DuckDB oracle
is bit-identical: est interval = floor(observed span / (changes + 1)),
clamped to [min,max] bounds, next due = last crawl + est interval.

Scale shape: ONE shuffle total. The lag window partitions by url; the
aggregate groups by the same key, so Catalyst reuses the exchange
(asserted in the plan test). State per url is O(1) — at 10^12 urls the
job is a single well-partitioned pass over the crawl log, and the url
key is near-uniform (no hot-key salting needed; a url recrawled
pathologically often is bounded by crawl policy itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Clamp bounds for the estimated recrawl interval (seconds).
MIN_INTERVAL_S = 3600            # never more than hourly
MAX_INTERVAL_S = 30 * 86400      # never less than monthly


def recrawl_schedule(crawls: DataFrame,
                     min_interval_s: int = MIN_INTERVAL_S,
                     max_interval_s: int = MAX_INTERVAL_S) -> DataFrame:
    """crawls(url, crawl_ts, content_fp) -> per-url schedule row:
    (url, n_crawls, n_changes, est_interval_s, next_due_ts).

    A "change" is crawl i whose fingerprint differs from crawl i-1 (by
    crawl_ts order; ties broken by content_fp for determinism). Single-
    crawl urls observe no span: they get max_interval_s/2 (the standard
    cold-start prior: half the max so they retry sooner than dead pages
    but don't flood the schedule).
    """
    w = Window.partitionBy("url").orderBy("crawl_ts", "content_fp")
    flagged = crawls.select(
        "url", "crawl_ts", "content_fp",
        (F.lag("content_fp").over(w) != F.col("content_fp"))
        .cast("int").alias("_changed"))
    per_url = flagged.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_crawls"),
        F.coalesce(F.sum("_changed"), F.lit(0)).cast("long").alias("n_changes"),
        F.min("crawl_ts").alias("_first"),
        F.max("crawl_ts").alias("_last"))
    span_s = (F.col("_last").cast("long") - F.col("_first").cast("long"))
    est = F.when(
        F.col("n_crawls") <= 1, F.lit(max_interval_s // 2)
    ).otherwise(
        F.greatest(F.lit(min_interval_s),
                   F.least(F.lit(max_interval_s),
                           # floor, not cast: double->long CAST truncates in
                           # Spark but ROUNDS in DuckDB — floor() agrees
                           F.floor(span_s / (F.col("n_changes") + 1)))))
    return per_url.select(
        "url", "n_crawls", "n_changes",
        est.cast("long").alias("est_interval_s"),
        (F.col("_last") + F.make_interval(secs=est)).alias("next_due_ts"))


def allocate_budget(hosts: DataFrame, budget: int,
                    host_col: str = "host",
                    weight_col: str = "weight") -> DataFrame:
    """(host, weight) -> (host, weight, quota): split a global per-cycle
    fetch budget across hosts proportionally to priority weight, in EXACT
    integer arithmetic (Hamilton / largest-remainder apportionment):
    base_i = (B * w_i) div W, the leftover R = B - sum(base) goes +1 each
    to the R largest remainders (ties broken by host ascending — fully
    deterministic, no floats anywhere, so retries and the DuckDB oracle
    agree bit-for-bit). Guarantees sum(quota) == B and every quota within
    1 of its exact proportional share.

    Scale shape: this runs on the HOST aggregate (orders of magnitude
    smaller than the fetch log — same pattern as weblog.transition_counts,
    whose window also runs on the tiny rollup, never the stream).
    W, the leftover, and the remainder rank are all GLOBAL WINDOWS over
    that rollup — deliberately: a first formulation attached W and the
    leftover as crossJoined one-row aggregates, and because each
    aggregate is a separate plan branch, Spark re-executed the entire
    upstream (fetch-log scan -> rollup) once per branch — 4x the
    expensive work and 8+ exchanges in the composite's plan. The window
    form is ONE pass over the rollup (a single all-rows partition — the
    same bounded-rollup pattern the ordering rank already required).
    Integer division via SQL `div`: B*w on BIGINT would lose precision
    past 2^53 if done in doubles.
    """
    glob = Window.partitionBy()
    rank_w = Window.orderBy(F.desc("rem"), F.asc("host"))
    scaled = (hosts
              .select(F.col(host_col).alias("host"),
                      F.col(weight_col).cast("long").alias("weight"))
              .withColumn("_wt", F.sum("weight").over(glob))
              .select("host", "weight",
                      F.expr(f"({budget} * weight) div _wt").alias("base"),
                      F.expr(f"({budget} * weight) % _wt").alias("rem")))
    return (scaled
            .withColumn("_left", F.lit(budget) - F.sum("base").over(glob))
            .select("host", "weight",
                    (F.col("base")
                     + F.when(F.row_number().over(rank_w) <= F.col("_left"), 1)
                     .otherwise(0)).cast("long").alias("quota")))
