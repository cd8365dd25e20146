"""Heavy hitters, quality classifier, canonical dedup and compression
signal."""

from __future__ import annotations

import math

from pyspark.sql import Row

from blog_parser_spark.operators import textstats


def test_heavy_hitters_topk_plan_and_values(spark):
    docs = spark.createDataFrame(
        [Row(text="a a a b b c"), Row(text="b a d")])
    out = textstats.heavy_hitters(docs, k=3).collect()
    assert [(r["word"], r["cnt"]) for r in out] == [("a", 4), ("b", 3), ("c", 1)]
    # top-k must be TakeOrderedAndProject (per-partition heaps), never a
    # global Sort + Limit
    plan = textstats.heavy_hitters(docs, k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_quality_classifier_threshold_consistency(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the a of to and the a"),   # stop-heavy -> high
         Row(doc_id=2, text="x x x x x x x x x x")])    # repetitive -> low
    rows = {r["doc_id"]: r for r in
            textstats.quality_classifier(docs).collect()}
    for r in rows.values():
        sig = 1.0 / (1.0 + math.exp(-r["logit"]))
        assert abs(sig - r["quality_prob"]) < 1e-9
        assert r["keep"] == (r["logit"] > 0)
    assert rows[1]["quality_prob"] > rows[2]["quality_prob"]


def test_dedup_canonical_plan_is_pure_jvm(spark, tmp_path):
    """Canonical extraction must never pay an Arrow round trip — it is a
    single JVM regexp fused into the scan (operators/urlnorm.py)."""
    from blog_parser_spark.operators import urlnorm
    from blog_parser_spark.sources import io
    from tests.conftest import SF_DIR

    # parquet round trip drops the fixture-render UDF from the measured
    # plan: what remains is scan -> JVM regexp extract -> one hash agg
    pages = io.synth_pages(spark, SF_DIR, with_canonical=True)
    pages.write.mode("overwrite").parquet(str(tmp_path / "p"))
    out = urlnorm.canonical_groups(spark.read.parquet(str(tmp_path / "p")))
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_compression_signal_exact_and_structural(spark):
    """Spark output == direct python zlib for every fixture doc (the
    no-SQL-oracle op's exactness gate), plus the structural property the
    signal exists for: repetitive boilerplate compresses far below
    natural prose."""
    import zlib

    from blog_parser_spark.operators import textstats
    from blog_parser_spark.sources import io
    from tests.conftest import SF_DIR

    docs = io.read_table(spark, SF_DIR, "documents")
    got = {r.doc_id: (r.raw_bytes, r.compressed_bytes)
           for r in textstats.compression_signal(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        raw = row.text.encode("utf-8")
        assert got[row.doc_id] == (
            len(raw), len(zlib.compress(raw, textstats.ZLIB_LEVEL)))

    from pyspark.sql import Row
    pair = spark.createDataFrame([
        Row(doc_id=1, text="click here click here click here " * 60),
        Row(doc_id=2, text=" ".join(f"w{i * 7919 % 5077}" for i in range(360))),
    ])
    r = {x.doc_id: x.compressed_bytes / x.raw_bytes
         for x in textstats.compression_signal(pair).collect()}
    assert r[1] < 0.1 < r[2]  # boilerplate << varied text
