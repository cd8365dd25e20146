"""Web-log behavioral analytics — the operators that sit downstream of
the grok parse in a telemetry pipeline: user-agent classification,
clickpath (Markov) transition mining, and per-user interval coalescing
(gaps-and-islands session merge).

All three are pure JVM plans (no Python stage):

- classify_useragent: a CASE/contains ladder over the UA string —
  bot detection FIRST (a bot UA often also says "Mozilla"), then
  browser family with Chrome-before-Safari precedence (every Chrome UA
  also contains "Safari"), then OS. Map-only; at 100 TB it fuses into
  the scan's whole-stage codegen and the downstream count is
  map-side-combined.
- transition_counts: lag(event) per user ordered by (ts, event_id) —
  the unique tie-break keeps the sequence deterministic when a user
  fires two events in the same microsecond — then a (prev, next)
  count with the per-prev probability attached via a window SUM on the
  aggregate's own (tiny) output, not a re-shuffle of the fact stream.
- coalesce_intervals: classic gaps-and-islands — an interval starts a
  new island when its start exceeds the running MAX of all previous
  ends (handles fully-contained intervals, which a lag(end) formulation
  gets wrong), island id by a running SUM of the new-island flag, then
  two map-side-combined aggregations. Windows partition by user_id —
  per-key parallel, no global sort; skewed power users are bounded by
  their own event count, never the corpus.

Fixture synthesis (`synth_useragents`) derives deterministic UA strings
from the events table in BOTH engines (the DuckDB oracles in
plans/queries_weblog.py mirror it), so round-trips are oracle-checkable
without external data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Case-insensitive; `curl` and `python-requests` are the classic
# script/SDK signatures, the rest the crawler ones.
BOT_RX = "(?i)(bot|crawl|spider|curl|python-requests)"


def synth_useragents(events: DataFrame) -> DataFrame:
    """Deterministic UA strings from events rows -> one `ua` column.

    Five shapes spanning the classifier's whole decision ladder:
    Chrome/Windows, Safari/macOS, Firefox/Linux, a crawler + a CLI
    client (signup split 1:2), and an SDK (error)."""
    eid = F.col("event_id")
    et = F.col("event_type")
    ua = (F.when(et == "view",
                 F.concat(F.lit("Mozilla/5.0 (Windows NT 10.0) Chrome/"),
                          (100 + eid % 20).cast("string"),
                          F.lit(".0 Safari/537.36")))
          .when(et == "click",
                F.concat(F.lit("Mozilla/5.0 (Macintosh) Version/17."),
                         (eid % 10).cast("string"), F.lit(" Safari/605.1")))
          .when(et == "purchase",
                F.concat(F.lit("Mozilla/5.0 (X11; Linux x86_64) Firefox/"),
                         (90 + eid % 15).cast("string"), F.lit(".0")))
          .when(et == "signup",
                F.when(eid % 3 == 0,
                       F.lit("Googlebot/2.1 (+http://www.google.com/bot.html)"))
                .otherwise(F.concat(F.lit("curl/8."),
                                    (eid % 5).cast("string"))))
          .otherwise(F.concat(F.lit("python-requests/2."),
                              (eid % 9).cast("string"))))
    # Keep the source columns — downstream consumers (bot_score) need
    # event_type; Catalyst prunes what a given plan doesn't use.
    return events.withColumn("ua", ua)


def slo_burn_rate(events: DataFrame, window_s: int = 300,
                  long_windows: int = 12, budget: float = 0.25) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google-SRE shape): the
    error budget burns at rate (error_rate / budget); an alert fires
    when BOTH the short window (one tumbling window_s bucket) and the
    long window (a rolling `long_windows`-bucket range frame) burn
    faster than 1x.

    Windows bucket by pure integer math (epoch - epoch % window_s) so
    both engines agree exactly; the rolling frame runs on the tumbling
    aggregate's output — O(corpus_span / window_s) rows, ~100k/year —
    never the fact stream, so the unpartitioned ORDER BY is a
    single-reducer pass over thousands of rows, not a global sort of
    the corpus. `budget` defaults to 0.25 (exactly representable in
    binary) so burn = rate/budget is bit-identical across engines."""
    epoch = F.col("ts").cast("timestamp").cast("long")
    win = (epoch - epoch % window_s).alias("win_start")
    per_win = (events
               .select(win, F.when(F.col("event_type") == "error", 1)
                       .otherwise(0).alias("is_err"))
               .groupBy("win_start")
               .agg(F.count(F.lit(1)).alias("requests"),
                    F.sum("is_err").alias("errors")))
    frame = (Window.orderBy("win_start")
             .rangeBetween(-(window_s * (long_windows - 1)), 0))
    short_burn = (F.col("errors").cast("double")
                  / F.col("requests").cast("double") / F.lit(budget))
    long_burn = (F.sum("errors").over(frame).cast("double")
                 / F.sum("requests").over(frame).cast("double")
                 / F.lit(budget))
    return (per_win
            .withColumn("short_burn", short_burn)
            .withColumn("long_burn", long_burn)
            .withColumn("alert",
                        ((F.col("short_burn") > 1.0)
                         & (F.col("long_burn") > 1.0)).cast("long")))


def bot_score(events: DataFrame) -> DataFrame:
    """Composite per-user automation score: share of bot UAs (0.6
    weight) + share of error events (0.4). One groupBy over the fact
    stream with map-side combine; the shares divide exact BIGINTs and
    the weights are identical double literals in both engines, so the
    weighted sum is bit-identical. Suspects = score > 0.5."""
    cls = classify_useragent(synth_useragents(events))
    per_user = (cls.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("requests"),
                     F.sum(F.col("is_bot").cast("long")).alias("bot_hits"),
                     F.sum(F.when(F.col("event_type") == "error", 1)
                           .otherwise(0)).alias("error_hits")))
    bot_share = (F.col("bot_hits").cast("double")
                 / F.col("requests").cast("double"))
    err_share = (F.col("error_hits").cast("double")
                 / F.col("requests").cast("double"))
    score = F.lit(0.6) * bot_share + F.lit(0.4) * err_share
    return (per_user
            .withColumn("bot_share", bot_share)
            .withColumn("error_share", err_share)
            .withColumn("score", score)
            .withColumn("is_suspect", (F.col("score") > 0.5).cast("long"))
            .drop("bot_hits", "error_hits"))


def attribution_last_touch(events: DataFrame,
                           lookback_s: int = 604800) -> DataFrame:
    """Last-touch purchase attribution: each purchase credits the most
    recent PRECEDING non-purchase event of the same user within the
    lookback window; purchases with no touch in-window credit 'direct'.

    One window per user (ordered by ts with the event_id unique
    tie-break) carries a (ts, type) struct through last(...,
    ignorenulls) — per-key parallel, no global sort — then a
    map-side-combined count per channel. Timestamps compare as integer
    epoch seconds."""
    epoch = F.col("ts").cast("timestamp").cast("long")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(
        F.when(F.col("event_type") != "purchase",
               F.struct(epoch.alias("ts_s"),
                        F.col("event_type").alias("et"))),
        ignorenulls=True).over(w)
    seq = events.select(epoch.alias("ts_s"), "event_type",
                        "user_id", "event_id", touch.alias("prev"))
    channel = (F.when(F.col("prev").isNull()
                      | (F.col("prev.ts_s")
                         < F.col("ts_s") - lookback_s), "direct")
               .otherwise(F.col("prev.et")))
    # Two-stage plain aggregation instead of count + COUNT(DISTINCT):
    # the mixed distinct-agg plans an Expand (2x the purchase rows
    # through the shuffle) and funnels the dedup merge into ~5 channel
    # groups. Pre-aggregating per (channel, user) keeps the heavy phase
    # on a high-cardinality composite key (map-side combined, fully
    # parallel); the final per-channel rollup is then trivial.
    per_user = (seq.where(F.col("event_type") == "purchase")
                .groupBy(channel.alias("channel"), "user_id")
                .agg(F.count(F.lit(1)).alias("n")))
    return (per_user.groupBy("channel")
            .agg(F.sum("n").alias("purchases"),
                 F.count(F.lit(1)).alias("uniq_buyers")))


def ab_experiment(events: DataFrame) -> DataFrame:
    """Two-variant experiment readout: deterministic assignment by
    60-bit md5 user hash (% 2), per-user conversion = any purchase
    event, then ONE global conditional aggregate -> a single row with
    per-variant sizes, conversion rates, absolute lift, and the pooled
    two-proportion z statistic.

    Determinism: counts are exact BIGINTs; rates/lift are IEEE double
    divisions of exact ints; sqrt is correctly rounded per IEEE-754
    (not a transcendental), and z still rounds to 12 decimals on both
    engines per the repo convention. Assignment hashes the user id
    (never rand()), so re-runs and engines agree."""
    from .sampling import row_hash
    converted = (F.col("event_type") == "purchase") & (F.col("value") >= 150)
    per_user = (events.groupBy("user_id")
                .agg(F.max(F.when(converted, 1).otherwise(0)).alias("conv")))
    assign = per_user.withColumn(
        "variant", F.pmod(row_hash(F.col("user_id").cast("string")),
                          F.lit(2)))
    in_a = F.col("variant") == 0
    agg = assign.agg(
        F.sum(F.when(in_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~in_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(in_a, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(~in_a, F.col("conv")).otherwise(0)).alias("conv_b"))
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    c_a, c_b = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    rate_a, rate_b = c_a / n_a, c_b / n_b
    pooled = (c_a + c_b) / (n_a + n_b)
    se = F.sqrt(pooled * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / n_a + F.lit(1.0) / n_b))
    # Degenerate experiments (0% or 100% pooled conversion) have se=0;
    # z is undefined there — NULL on both engines, not a crash (ANSI
    # mode) or an inf (DuckDB).
    z = F.when(se > 0, F.round((rate_b - rate_a) / se, 12))
    return agg.select(
        "n_a", "n_b", "conv_a", "conv_b",
        rate_a.alias("rate_a"), rate_b.alias("rate_b"),
        (rate_b - rate_a).alias("lift_abs"),
        z.alias("z_score"))


def classify_useragent(df: DataFrame, ua_col: str = "ua") -> DataFrame:
    """Attach (family, os, is_bot) columns from a raw UA string.

    Precedence matters and is documented: bots first (crawler UAs
    embed browser tokens), Chrome before Safari (every Chrome UA also
    advertises Safari). Map-only — the whole ladder is one codegen
    projection."""
    ua = F.col(ua_col)
    is_bot = ua.rlike(BOT_RX)
    family = (F.when(is_bot, "bot")
              .when(ua.contains("Chrome/"), "chrome")
              .when(ua.contains("Safari/"), "safari")
              .when(ua.contains("Firefox/"), "firefox")
              .otherwise("other"))
    os = (F.when(ua.contains("Windows"), "windows")
          .when(ua.contains("Macintosh"), "macos")
          .when(ua.contains("Linux"), "linux")
          .otherwise("unknown"))
    return df.withColumn("family", family).withColumn("os", os) \
             .withColumn("is_bot", is_bot)


def transition_counts(events: DataFrame) -> DataFrame:
    """Per-user clickpath transition matrix with per-source probability.

    lag(event_type) over (user, ts, event_id) — the event_id tie-break
    keeps same-timestamp sequences deterministic across engines. The
    first event of each user transitions from the synthetic 'START'
    state. The probability divides two exact BIGINT counts; IEEE double
    division is correctly rounded, so the result is bit-identical
    across engines (no rounding needed)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.coalesce(F.lag("event_type").over(w), F.lit("START"))
    trans = (events
             .select(prev.alias("prev_type"), F.col("event_type"))
             .groupBy("prev_type", "event_type")
             .agg(F.count(F.lit(1)).alias("n_trans")))
    # The window runs on the aggregate's own tiny output (|event_types|^2
    # rows), never on the fact stream.
    per_src = Window.partitionBy("prev_type")
    return trans.withColumn(
        "prob",
        (F.col("n_trans").cast("double")
         / F.sum("n_trans").over(per_src).cast("double")))


def _day_num(ts_col: str = "ts"):
    """Integer epoch-day (floor), exact in both engines: the numerator
    is made exactly divisible before the division."""
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    return ((epoch - epoch % 86400) / 86400).cast("long")


def rolling_distinct_users(events: DataFrame,
                           window_days: int = 7) -> DataFrame:
    """Trailing-N-day distinct users per day — the metric SQL spells
    COUNT(DISTINCT user) OVER (RANGE N DAYS), which Spark does not
    support over windows at all. The distributed-native formulation:
    dedup to (user, day) pairs FIRST (the corpus never explodes), then
    each pair fans out to the `window_days` target days it contributes
    to, and one map-side-combinable distinct-agg per target day does
    the rest. Shuffle volume is |distinct (user,day)| x window_days of
    16-byte rows — independent of event count; days with no traffic of
    their own still get correct trailing rows. The single-row max-day
    aggregate attaches via broadcast to trim phantom days past the
    corpus edge.

    The fan-out factor IS window_days: for 90-day windows prefer
    per-day mergeable exact bitmaps (bitmap_construct_agg +
    bitmap_or_agg) or an approximate HLL sketch union (hll_sketch_agg +
    hll_union_agg) instead."""
    pairs = (events.select(_day_num().alias("day_num"), "user_id")
             .distinct())
    expanded = pairs.select(
        F.explode(F.sequence(
            F.col("day_num"),
            F.col("day_num") + (window_days - 1))).alias("day_t"),
        "day_num", "user_id")
    max_day = pairs.agg(F.max("day_num").alias("max_day"))
    # Two-stage plain aggregation instead of two COUNT(DISTINCT)s: a
    # double distinct-agg plans an Expand (2x the exploded rows) and
    # funnels the dedup merge into |days| final groups — measured 0.37
    # scaling efficiency at 2->8 cores on 16M events. Deduping to
    # (day_t, user) first keeps the heavy phase keyed on a
    # high-cardinality composite (fully parallel, map-side combined);
    # the final per-day count is a trivial rollup of pre-deduped rows.
    per_user_day = (expanded.groupBy("day_t", "user_id")
                    .agg(F.max((F.col("day_t") == F.col("day_num"))
                               .cast("long")).alias("on_day")))
    return (per_user_day.groupBy("day_t")
            .agg(F.sum("on_day").alias("users_1d"),
                 F.count(F.lit(1)).alias("users_7d"))
            .crossJoin(F.broadcast(max_day))
            .where(F.col("day_t") <= F.col("max_day"))
            .select(F.col("day_t").alias("day_num"),
                    "users_1d", "users_7d"))


def coalesce_intervals(events: DataFrame) -> DataFrame:
    """Merge overlapping per-user activity intervals (gaps-and-islands).

    Interval = [epoch(ts), epoch(ts) + 60 + event_id % 240] seconds —
    a deterministic integer-math duration so both engines agree
    bit-for-bit. A new island starts when start_s exceeds the running
    MAX of every previous end (running max, not lag(end): a long
    interval can fully contain its successors). Output: per user the
    island count, total covered seconds, and the longest island."""
    start_s = F.col("ts").cast("timestamp").cast("long")
    iv = events.select(
        "user_id", "event_id",
        start_s.alias("start_s"),
        (start_s + 60 + F.col("event_id") % 240).alias("end_s"))
    order = Window.partitionBy("user_id").orderBy("start_s", "event_id")
    prev_max_end = (F.max("end_s")
                    .over(order.rowsBetween(Window.unboundedPreceding, -1)))
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_end.isNull()
               | (F.col("start_s") > prev_max_end), 1).otherwise(0))
    island = F.sum("new_island").over(
        order.rowsBetween(Window.unboundedPreceding, 0))
    islands = (flagged.withColumn("island", island)
               .groupBy("user_id", "island")
               .agg(F.min("start_s").alias("i_start"),
                    F.max("end_s").alias("i_end")))
    return (islands.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(F.col("i_end") - F.col("i_start")).alias("covered_s"),
                 F.max(F.col("i_end") - F.col("i_start")).alias("longest_s")))
