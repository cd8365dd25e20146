"""Pages schema-drift check and the approximate distinct sketches
(SURVEY.md §2.3)."""

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
