"""Hand cases + properties for the referrer-channel classifier, the
inverted percolator, and the count-min sketch: channel-ladder
precedence, brute-force percolation parity, and the CMS overestimate +
mergeability guarantees."""

from __future__ import annotations

from pyspark.sql import functions as F

from blog_parser_spark.operators import percolate, sketches, webmetrics

from .conftest import SF_DIR


def test_referrer_channel_ladder(spark):
    refs = spark.createDataFrame(
        [("https://www.google.com/search?q=term7&hl=en",),
         ("https://www.bing.com/search?q=term2",),
         ("https://t.co/xabc",),
         ("https://shop.example/page/3",),
         ("https://news-site4.example/article/10",),
         ("",)],
        "ref string")
    got = {r.ref: (r.channel, r.term)
           for r in webmetrics.classify_referrer(refs).collect()}
    assert got["https://www.google.com/search?q=term7&hl=en"] == (
        "search", "term7")  # term stops at the next & parameter
    assert got["https://www.bing.com/search?q=term2"] == ("search", "term2")
    assert got["https://t.co/xabc"] == ("social", None)
    assert got["https://shop.example/page/3"] == ("internal", None)
    assert got["https://news-site4.example/article/10"] == ("referral", None)
    assert got[""] == ("direct", None)


def test_percolate_matches_brute_force(spark):
    docs = spark.createDataFrame(
        [("join hash join fast",), ("slow merge sort",),
         ("fast join",), ("key value store",)],
        "text string")
    saved = spark.createDataFrame(
        [(0, "join", "fast"), (1, "merge", "slow"), (2, "join", "zebra")],
        "qid long, term_a string, term_b string")
    got = {r.qid: r.matches
           for r in percolate.percolate_match(docs, saved).collect()}
    assert got == {0: 2, 1: 1, 2: 0}  # qid 2 reports 0, not absent


def test_percolate_fixture_stable(spark):
    qs = percolate.percolate_queries()
    assert len(qs) == 40
    assert all(a != b for _, a, b in qs)
    assert len({q for q, _, _ in qs}) == 40


def test_count_min_overestimates_and_merges(spark):
    from blog_parser_spark.sources import io
    ev = io.read_table(spark, SF_DIR, "events")
    cells = sketches.count_min_cells(ev, "user_id")
    assert cells.count() <= sketches.DEPTH * sketches.WIDTH
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = sketches.count_min_estimate(cells, exact.select("user_id"),
                                      "user_id")
    joined = est.join(exact, "user_id").collect()
    assert joined and all(r.est >= r.exact_n for r in joined)  # CMS law
    # Mergeability: cell-wise sum of two disjoint halves == whole.
    lo = ev.where(F.col("event_id") % 2 == 0)
    hi = ev.where(F.col("event_id") % 2 == 1)
    merged = (sketches.count_min_cells(lo, "user_id")
              .unionAll(sketches.count_min_cells(hi, "user_id"))
              .groupBy("r", "b").agg(F.sum("n").alias("n")))
    diff = (merged.join(cells.withColumnRenamed("n", "n_full"),
                        ["r", "b"], "full")
            .where((F.coalesce(F.col("n"), F.lit(0))
                    != F.coalesce(F.col("n_full"), F.lit(0)))))
    assert diff.count() == 0
