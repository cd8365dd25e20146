"""Skew handling (FIXTURES.md pages_skewed; SURVEY.md §2.3 agg_salted):
with one domain holding 50% of rows, the salted plan must produce EXACTLY
the unsalted results, and the LSH hot-bucket cap must bound candidates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blog_parser_spark.operators import aggregate
from blog_parser_spark.plans import pipeline
from blog_parser_spark.sources import io
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def pages_skewed(spark):
    """pages with `source` remapped so src0 holds ~50% of rows (pure
    function of doc_id — deterministic)."""
    docs = io.read_table(spark, SF_DIR, "documents")
    skewed = docs.withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, F.lit("src0"))
        .otherwise(F.col("source")))
    skewed.createOrReplaceTempView("documents_skewed")
    # synth_pages reads the documents table; rebuild pages from the skewed df
    from blog_parser_spark import spec
    from blog_parser_spark.sources.io import _render_html_udf
    render = _render_html_udf()
    return skewed.select(
        F.concat(F.lit("https://"), "source", F.lit(".example.com/post/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.expr(f"timestamp'{spec.WARC_TS_BASE}' + make_interval(0,0,0, "
               f"cast(doc_id % {spec.WARC_TS_DAY_MOD} as int), 0, 0, "
               f"cast(doc_id % {spec.WARC_TS_SEC_MOD} as int))").alias("warc_ts"),
        render("text").alias("html"), F.col("text"), F.col("lang"))


def test_skew_distribution(spark, pages_skewed):
    top = (pages_skewed.groupBy(F.parse_url("url", F.lit("HOST")).alias("d"))
           .count().orderBy(F.desc("count")).first())
    assert top["d"] == "src0.example.com"
    assert top["count"] >= 0.45 * pages_skewed.count()


def test_salted_agg_exact_on_skew(spark, pages_skewed):
    plain = pipeline.flagship(spark, pages_skewed, dedup=False, salted=False)
    salted = pipeline.flagship(spark, pages_skewed, dedup=False, salted=True)
    assert aggregate.multiset_equal(plain, salted)


def test_lsh_hot_bucket_cap_bounds_candidate_volume(spark):
    """The 100 TB skew guard: one boilerplate text x 300 copies turns the
    LSH band self-join quadratic (identical docs share every band ->
    every bucket holds all 300 -> C(300,2) candidate pairs per band).
    With max_bucket_size=64 the hot buckets are dropped BEFORE the join,
    so candidate volume stays bounded; the distinct docs are unaffected."""
    from blog_parser_spark.operators import dedup

    boiler = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog "
              "again and again and again").alias("text"))
    # fully disjoint vocabularies so the only possible collisions are
    # genuine hash accidents, not shared template words
    distinct = spark.range(20).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"tok{k}x"), (F.col("id") * 97 + k).cast("string"))
            for k in range(8)]).alias("text"))
    sig = dedup.minhash_signature(boiler.unionByName(distinct))

    uncapped = dedup.lsh_candidate_pairs(sig).count()
    assert uncapped >= 300 * 299 // 2  # quadratic blow-up is real

    capped = dedup.lsh_candidate_pairs(sig, max_bucket_size=64)
    # every boilerplate bucket has 300 members -> all dropped; no pair may
    # join two boilerplate docs, and total volume collapses
    assert capped.filter("id_a < 300 AND id_b < 300").count() == 0
    assert capped.count() <= 20
