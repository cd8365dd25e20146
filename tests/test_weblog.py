"""Web-log analytics hand cases: UA classifier precedence, clickpath
transition math, and the interval-coalesce containment edge that a
lag(end)-based formulation gets wrong."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from blog_parser_spark.operators import weblog


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_useragent_precedence(spark):
    uas = spark.createDataFrame(
        [
            # A crawler that ALSO advertises Mozilla/Chrome -> bot wins.
            ("Mozilla/5.0 (compatible; SearchBot/1.0) Chrome/99 Safari/537",),
            # Every Chrome UA also says Safari -> chrome wins.
            ("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36",),
            ("Mozilla/5.0 (Macintosh) Version/17.2 Safari/605.1",),
            ("Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0",),
            ("python-requests/2.31",),
            ("SomethingElse/1.0",),
        ],
        "ua string")
    got = {r.ua: (r.family, r.os, r.is_bot)
           for r in weblog.classify_useragent(uas).collect()}
    assert got["Mozilla/5.0 (compatible; SearchBot/1.0) Chrome/99 Safari/537"][0] == "bot"
    assert got["Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36"] == (
        "chrome", "windows", False)
    assert got["Mozilla/5.0 (Macintosh) Version/17.2 Safari/605.1"] == (
        "safari", "macos", False)
    assert got["Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0"] == (
        "firefox", "linux", False)
    assert got["python-requests/2.31"] == ("bot", "unknown", True)
    assert got["SomethingElse/1.0"] == ("other", "unknown", False)


def test_transition_counts_hand_case(spark):
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [  # user 1: view -> click -> view ; user 2: view -> purchase
            (1, t0, 1, "view"), (2, t0, 1, "click"), (3, t0, 1, "view"),
            (4, t0, 2, "view"), (5, t0, 2, "purchase"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string")
    got = {(r.prev_type, r.event_type): (r.n_trans, r.prob)
           for r in weblog.transition_counts(ev).collect()}
    # Same-timestamp rows order by the event_id tie-break.
    assert got[("START", "view")] == (2, 1.0)
    assert got[("view", "click")] == (1, 0.5)
    assert got[("view", "purchase")] == (1, 0.5)
    assert got[("click", "view")] == (1, 1.0)
    assert sum(n for n, _ in got.values()) == 5


def test_interval_coalesce_containment(spark):
    # User 1: [0,1000] contains [100,200] and [300,400]; [500,600] is also
    # inside; a later [2000,2100] starts a second island. lag(end) would
    # wrongly split after the contained [100,200].
    def ts(s):
        return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=s)

    # coalesce_intervals derives end = start + 60 + event_id % 240; pick
    # event_ids so durations reproduce the containment shape:
    # eid 180 -> dur 240+... careful: dur = 60 + eid % 240.
    rows = [
        (180, ts(0), 1),     # dur 60+180=240 -> [0, 240]
        (10, ts(50), 1),     # dur 70 -> [50, 120] contained
        (20, ts(100), 1),    # dur 80 -> [100, 180] contained
        (30, ts(1000), 1),   # dur 90 -> [1000, 1090] new island
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    got = weblog.coalesce_intervals(ev).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_sessions, r.covered_s, r.longest_s) == (2, 240 + 90, 240)


def test_synth_useragents_cover_all_families(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    fams = {r.family for r in weblog.classify_useragent(
        weblog.synth_useragents(ev)).select("family").distinct().collect()}
    assert fams == {"bot", "chrome", "safari", "firefox"}


def test_slo_burn_rate_hand_case(spark):
    # One 5-min window all errors (burn 4.0), one all views (burn 0);
    # the long frame spanning both burns at 0.5/0.25 = 2.0.
    rows = [(i, dt.datetime(2024, 1, 1, 0, 0, i), 1,
             "error" if i < 4 else "view") for i in range(4)]
    rows += [(10 + i, dt.datetime(2024, 1, 1, 0, 5, i), 1, "view")
             for i in range(4)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.win_start: r for r in weblog.slo_burn_rate(ev).collect()}
    w0 = dt.datetime(2024, 1, 1).timestamp()
    first, second = got[int(w0)], got[int(w0) + 300]
    assert (first.requests, first.errors, first.short_burn) == (4, 4, 4.0)
    assert second.short_burn == 0.0
    assert second.long_burn == (4 / 8) / 0.25  # rolling frame spans both
    assert first.alert == 1 and second.alert == 0


def test_strip_boilerplate_hand_case(spark):
    from blog_parser_spark.operators import boilerplate
    # Domain d: nav on all 3 docs (drop), promo on 1 of 3 (keep), unique
    # bodies (keep). Doc 1 repeats the nav twice — must count once.
    pages = spark.createDataFrame(
        [(1, "d", "NAV\nbody one\nNAV"),
         (2, "d", "NAV\npromo\nbody two"),
         (3, "d", "NAV\nbody three"),
         (9, "solo", "NAV\nonly doc")],  # min_docs=2 -> nothing dropped
        "doc_id long, source string, page string")
    got = {r.doc_id: r for r in
           boilerplate.strip_boilerplate(pages).collect()}
    assert (got[1].n_kept, got[1].n_dropped) == (1, 2)
    assert got[1].clean_text == "body one"
    assert got[2].clean_text == "promo\nbody two"
    assert got[3].clean_text == "body three"
    # single-doc domain: its NAV appears on 100% of docs but min_docs
    # gates it out
    assert (got[9].n_kept, got[9].n_dropped) == (2, 0)


def test_ab_experiment_closed_form(spark):
    import math
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    r = weblog.ab_experiment(ev).collect()[0]
    assert r.n_a + r.n_b == ev.select("user_id").distinct().count()
    p = (r.conv_a + r.conv_b) / (r.n_a + r.n_b)
    assert 0 < p < 1, "fixture must be non-degenerate for this check"
    se = math.sqrt(p * (1 - p) * (1 / r.n_a + 1 / r.n_b))
    want = round((r.conv_b / r.n_b - r.conv_a / r.n_a) / se, 12)
    assert r.z_score == want


def test_ab_experiment_degenerate_z_is_null(spark):
    # Every user converts -> pooled rate 1 -> se 0 -> z NULL, no crash.
    ev = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1), i, "purchase", 480.0) for i in range(6)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double")
    r = weblog.ab_experiment(ev).collect()[0]
    assert r.z_score is None and r.rate_a == 1.0 and r.rate_b == 1.0


def test_rolling_distinct_users_hand_case(spark):
    def d(n, u):
        return (n * 10 + u, dt.datetime(1970, 1, 1) + dt.timedelta(days=n), u)
    # day 0: users 1,2; day 3: user 2; day 8: user 3.
    ev = spark.createDataFrame(
        [d(0, 1), d(0, 2), d(0, 2), d(3, 2), d(8, 3)],
        "event_id long, ts timestamp, user_id long")
    got = {r.day_num: (r.users_1d, r.users_7d)
           for r in weblog.rolling_distinct_users(ev).collect()}
    assert got[0] == (2, 2)
    assert got[3] == (1, 2)          # trailing: {1,2} from day 0 + {2}
    assert got[6] == (0, 2)          # no events that day, trailing holds
    assert got[7] == (0, 1)          # day 0 expired, day 3's user 2 remains
    assert got[8] == (1, 2)          # day 3 (user 2) still in [2, 8]
    assert max(got) == 8             # phantom days past max trimmed
    assert 1 not in got or got[1] == (0, 2)


def test_dq_expectations_null_counts_as_violation(spark):
    from blog_parser_spark.operators import dq
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 2000000.0)], "k long, price double")
    got = {r.rule: (r.n_checked, r.n_violations, r.passed)
           for r in dq.run_expectations(
               df, [("price_in_range",
                     F.col("price").between(0, 1000000))]).collect()}
    # NULL predicate result (row 2) AND the out-of-range row both violate.
    assert got["price_in_range"] == (3, 2, 0)


def test_dq_expect_unique_counts_extras(spark):
    from blog_parser_spark.operators import dq
    df = spark.createDataFrame([(1,), (1,), (1,), (2,)], "k long")
    r = dq.expect_unique(df, "k").collect()[0]
    # three 1s = two extra rows beyond the first
    assert (r.n_checked, r.n_violations, r.passed) == (4, 2, 0)


def test_entity_census_hand_case(spark):
    from blog_parser_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "mail a@b.com and a@b.com from 1.2.3.4 tag #x"),
         (2, "no entities here")],
        "doc_id long, text string")
    got = {r.entity_type: (r.n_mentions, r.n_distinct)
           for r in textstats.entity_census(docs).collect()}
    assert got["email"] == (2, 1)
    assert got["ipv4"] == (1, 1)
    assert got["hashtag"] == (1, 1)


def test_attribution_last_touch_hand_case(spark):
    t0 = dt.datetime(2024, 1, 10)

    def at(**kw):
        return t0 + dt.timedelta(**kw)

    ev = spark.createDataFrame(
        [
            # user 1: view then purchase 1h later -> credit view
            (1, at(hours=0), 1, "view"),
            (2, at(hours=1), 1, "purchase"),
            # user 1: second purchase 10 days after the view -> direct
            (3, at(days=10), 1, "purchase"),
            # user 2: purchase with no preceding touch -> direct
            (4, at(hours=0), 2, "purchase"),
            # user 2: click then purchase same microsecond, later
            # event_id -> tie-break orders click first -> credit click
            (5, at(hours=2), 2, "click"),
            (6, at(hours=2), 2, "purchase"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.channel: (r.purchases, r.uniq_buyers)
           for r in weblog.attribution_last_touch(ev).collect()}
    assert got["view"] == (1, 1)
    assert got["direct"] == (2, 2)
    assert got["click"] == (1, 1)


def test_interval_coalesce_matches_bruteforce(spark):
    """Randomized (seeded) intervals vs a brute-force Python merge."""
    import random
    rng = random.Random(42)
    rows = []
    eid = 0
    for user in range(1, 6):
        for _ in range(40):
            start = rng.randrange(0, 5000)
            rows.append((eid, dt.datetime(1970, 1, 1)
                         + dt.timedelta(seconds=start), user))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    got = {r.user_id: (r.n_sessions, r.covered_s, r.longest_s)
           for r in weblog.coalesce_intervals(ev).collect()}

    # brute force: same derived intervals, classic merge
    per_user = {}
    for eid_, ts, user in rows:
        s = int(ts.timestamp())
        per_user.setdefault(user, []).append((s, s + 60 + eid_ % 240))
    for user, ivs in per_user.items():
        merged = []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        want = (len(merged), sum(e - s for s, e in merged),
                max(e - s for s, e in merged))
        assert got[user] == want, f"user {user}"


def test_recrawl_schedule_hand_computed(spark):
    """Cho-style change-rate estimation: exact integer arithmetic,
    cold-start prior, clamping, and the one-shuffle plan property."""
    import datetime as dt

    from pyspark.sql import Row
    from blog_parser_spark.operators import recrawl

    t0 = dt.datetime(2024, 1, 1)

    def c(url, day, fp):
        return Row(url=url, crawl_ts=t0 + dt.timedelta(days=day), content_fp=fp)

    rows = [
        # u1: 3 crawls over 10 days, 1 change -> floor(10d / 2) = 5d
        c("u1", 0, "a"), c("u1", 4, "a"), c("u1", 10, "b"),
        # u2: 2 crawls 1h apart, changes every time -> clamped to MIN (1h)
        Row(url="u2", crawl_ts=t0, content_fp="x"),
        Row(url="u2", crawl_ts=t0 + dt.timedelta(minutes=30), content_fp="y"),
        # u3: single crawl -> cold-start prior = MAX/2
        c("u3", 0, "z"),
        # u4: 2 crawls 90 days apart, never changes -> clamped to MAX (30d)
        c("u4", 0, "w"), c("u4", 90, "w"),
    ]
    out = recrawl.recrawl_schedule(spark.createDataFrame(rows))
    got = {r.url: r for r in out.collect()}
    assert (got["u1"].n_crawls, got["u1"].n_changes) == (3, 1)
    assert got["u1"].est_interval_s == 5 * 86400
    assert got["u1"].next_due_ts == t0 + dt.timedelta(days=15)
    assert got["u2"].est_interval_s == recrawl.MIN_INTERVAL_S
    assert got["u3"].n_crawls == 1
    assert got["u3"].est_interval_s == recrawl.MAX_INTERVAL_S // 2
    assert got["u4"].n_changes == 0
    assert got["u4"].est_interval_s == recrawl.MAX_INTERVAL_S

    # one shuffle total: the window and the groupBy share the url key
    # (count only the AQE final plan, not the echoed initial plan)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1
