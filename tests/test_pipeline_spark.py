"""Spark pipeline vs pure-Python oracle: byte-identity, routed-row equality,
exact aggregate match (SURVEY.md §5.2 items 1-5)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from blog_parser_spark import manifest, oracle
from blog_parser_spark.operators import aggregate, parse
from blog_parser_spark.plans import pipeline
from blog_parser_spark.sources import io
from tests.conftest import SF_DIR


def _oracle_rows(sf_dir: str = SF_DIR, adversarial: bool = False):
    docs = [dict(zip(("doc_id", "text", "lang", "source"), r)) for r in duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()]
    pages = [oracle.document_to_page(d) for d in docs]
    if adversarial:
        from blog_parser_spark.sources.fixtures import adversarial_pages
        pages += adversarial_pages()
    return oracle.run_pipeline(pages)


@pytest.fixture(scope="module")
def pages_df(spark):
    return io.synth_pages(spark, SF_DIR).unionByName(io.adversarial_pages_df(spark))


@pytest.fixture(scope="module")
def oracle_result():
    return _oracle_rows(adversarial=True)


def test_byte_identity_per_url(spark, pages_df):
    """Flagship per-row invariant: extracted_text == ground-truth text,
    byte-identical, for every parse-ok row (BASELINE.json input_hint)."""
    parsed = parse.dedup_latest_parsed(
        parse.parse_pages(pages_df, keep_text=True, with_html_md5=True))
    bad = parsed.filter(
        F.col("parse_ok") & F.col("text").isNotNull()
        & (F.col("extracted_text") != F.col("text")))
    assert bad.isEmpty(), bad.limit(5).collect()
    n_ok = parsed.filter("parse_ok and text is not null").count()
    assert n_ok >= 500


def test_parse_failures_counted_not_dropped(spark, pages_df):
    parsed = parse.parse_pages(pages_df)
    ok, failed = parse.failure_split(parsed)
    assert failed.count() == 3  # two invalid-utf8 rows + one null html
    assert ok.count() + failed.count() == parsed.count()


def test_routed_rows_equal_oracle(spark, pages_df, oracle_result):
    """Multiset routed-row equality vs the single-process oracle."""
    routed_o, _ = oracle_result
    cols = ["url", "sink", "lang_norm", "domain", "n_sentences", "n_bytes"]
    got = pipeline.routed_pages(spark, pages_df).select(*cols)
    exp = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in routed_o],
        "url string, sink string, lang_norm string, domain string, "
        "n_sentences int, n_bytes long")
    assert aggregate.multiset_equal(got, exp)


def test_flagship_agg_exact_match(spark, pages_df, oracle_result):
    """Exact per-sink aggregate equality (docs, sentences, bytes per
    sink x domain x lang x day) — the north-rule acceptance gate."""
    _, agg_o = oracle_result
    got = sorted(
        tuple(r) for r in pipeline.flagship(spark, pages_df)
        .select("sink", "domain", "lang_norm",
                F.col("day").cast("string"), "docs", "sentences", "bytes")
        .collect())
    exp = sorted(
        (a["sink"], a["domain"], a["lang_norm"], str(a["day"]),
         a["docs"], a["sentences"], a["bytes"]) for a in agg_o)
    assert got == exp


def test_salted_agg_equals_plain(spark, pages_df):
    plain = pipeline.flagship(spark, pages_df, salted=False)
    salted = pipeline.flagship(spark, pages_df, salted=True)
    assert aggregate.multiset_equal(plain, salted)


def test_driver_local_tables_are_local_table_scans(spark, tmp_path):
    """The broadcast dims and the no-manifest-yet frame plan as
    LocalTableScan, never Scan ExistingRDD: building them runs no
    PythonRDD job, so a pass forks no second Python worker pool. This
    also catches a silent fall back to the RDD path. Schemas are exact."""
    cases = [(io.lang_norm_df(spark), io.LANG_NORM_SCHEMA),
             (io.domain_meta_df(spark), io.DOMAIN_META_SCHEMA),
             (manifest.completed_buckets(spark, str(tmp_path / "none")),
              StructType([StructField("bucket", IntegerType())]))]
    for df, schema in cases:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert df.select("*").schema == schema
    assert cases[2][0].collect() == []
    assert sorted(tuple(r) for r in cases[0][0].collect()) == sorted(
        (r["lang_raw"], r["lang_norm"]) for r in oracle.lang_norm_rows())


def test_dedup_latest_keeps_newest_and_breaks_ties(spark):
    from datetime import datetime
    rows = [
        ("https://a/dup", datetime(2024, 1, 1), b"<p>old</p>", None, "en"),
        ("https://a/dup", datetime(2024, 1, 2), b"<p>new</p>", None, "en"),
        ("https://a/tie", datetime(2024, 1, 1), b"<p>A</p>", None, "en"),
        ("https://a/tie", datetime(2024, 1, 1), b"<p>B</p>", None, "en"),
    ]
    df = spark.createDataFrame(rows, io.PAGES_SCHEMA)
    kept = {r["url"]: r["extracted_text"] for r in parse.dedup_latest_parsed(
        parse.parse_pages(df, with_html_md5=True)).collect()}
    assert kept["https://a/dup"] == "new"
    # tie-break = md5 desc; must match the oracle's pick exactly
    import hashlib
    exp = max("AB", key=lambda t: hashlib.md5(f"<p>{t}</p>".encode()).hexdigest())
    assert kept["https://a/tie"] == exp


def test_sentences_explode_order(spark):
    html = b"<html><body><h1>T</h1><p>One. Two! Three?</p><p>Solo</p></body></html>"
    df = spark.createDataFrame(
        [("https://x/1", __import__("datetime").datetime(2024, 1, 1), html, None, "en")],
        io.PAGES_SCHEMA)
    sents = parse.explode_sentences_unfused_reference(parse.parse_pages(df)).collect()
    got = [(r["para_idx"], r["sent_idx"], r["sentence"]) for r in sents]
    assert got == [(0, 0, "One."), (0, 1, "Two!"), (0, 2, "Three?"), (1, 0, "Solo")]
