"""Pages schema-drift check and the approximate and exact distinct
sketches (SURVEY.md §2.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blog_parser_spark.sources import io
from tests.conftest import SF_DIR


def test_read_pages_schema_drift_fails_loudly(spark, tmp_path):
    good = str(tmp_path / "good")
    io.synth_pages(spark, SF_DIR).coalesce(1).write.parquet(good)
    assert io.read_pages(spark, good).count() > 0

    drifted = str(tmp_path / "drifted")
    (io.synth_pages(spark, SF_DIR)
     .withColumn("lang", F.lit(1))  # type drift: string -> int
     .coalesce(1).write.parquet(drifted))
    with pytest.raises(io.SchemaDriftError):
        io.read_pages(spark, drifted)

    renamed = str(tmp_path / "renamed")
    (io.synth_pages(spark, SF_DIR).withColumnRenamed("html", "body")
     .coalesce(1).write.parquet(renamed))
    with pytest.raises(io.SchemaDriftError):
        io.read_pages(spark, renamed)


def test_approx_distinct_within_error_bound(spark):
    docs = io.read_table(spark, SF_DIR, "documents")
    exact = docs.select(F.countDistinct("doc_id")).collect()[0][0]
    approx = docs.select(F.approx_count_distinct("doc_id", rsd=0.05)).collect()[0][0]
    assert abs(approx - exact) <= 0.15 * exact


def test_approx_percentile_within_rank_error_bound(spark):
    """percentile_approx(accuracy=A) guarantees rank error <= n/A. Assert
    the sketch's p50 lands within that RANK window of the sorted data —
    valid at any fixture scale, not just when A >= n."""
    import math
    A = 10000
    o = io.read_table(spark, SF_DIR, "orders")
    ap = o.agg(F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(A))
               .alias("ap")).collect()[0]["ap"]
    vals = sorted(r[0] for r in o.select("o_totalprice").collect())
    n = len(vals)
    k = (n - 1) // 2                      # median rank (lower)
    w = math.ceil(n / A) + 1              # guaranteed rank error + slack
    lo, hi = vals[max(0, k - w)], vals[min(n - 1, k + 1 + w)]
    assert lo <= ap <= hi


def test_hll_union_estimate_within_error_bound(spark):
    """Union of per-group HLL sketches must estimate the GLOBAL distinct
    count (not the sum of per-group counts) within HLL error (~2% at
    lgK=12; allow 5%)."""
    ev = io.read_table(spark, SF_DIR, "events")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    est = (ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
           .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
           .collect()[0]["n"])
    assert abs(est - exact) <= 0.05 * exact


def test_bitmap_rollup_persisted_daily_merge(spark, tmp_path):
    """Incremental exact-distinct end-to-end: persist per-(event_type,
    day) bitmaps ONCE, then answer an arbitrary date-range distinct by
    OR-merging only the stored bitmaps for that range — partition-pruned
    read, no raw-event rescan — matching COUNT(DISTINCT) exactly."""
    from blog_parser_spark.operators import aggregate

    ev = (io.read_table(spark, SF_DIR, "events")
          .withColumn("day", F.date_format(
              F.col("ts").cast("timestamp"), "yyyy-MM-dd")))
    store = str(tmp_path / "daily_bitmaps")
    (aggregate.bitmap_build(ev, ["event_type", "day"], "user_id")
     .write.partitionBy("day").parquet(store))

    days = sorted(r.day for r in ev.select("day").distinct().collect())
    assert len(days) >= 4
    lo, hi = days[1], days[len(days) // 2]

    whole = spark.read.parquet(store)
    ranged = whole.filter((F.col("day") >= lo) & (F.col("day") <= hi))
    # partition pruning: the ranged scan physically touches only the
    # in-range day directories (inputFiles() ignores filters; count the
    # files the executed scan actually reads)
    touched = (ranged.select(F.input_file_name().alias("f"))
               .distinct().count())
    assert 0 < touched < len(whole.inputFiles())

    got = {r.event_type: r.distinct_count for r in
           aggregate.bitmap_merge_count(ranged, ["event_type"]).collect()}
    want = {r.event_type: r.n for r in
            ev.filter((F.col("day") >= lo) & (F.col("day") <= hi))
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want and len(got) > 0
