"""Parse operators: the reference parser's entire per-document work as ONE
vectorized Arrow UDF (SURVEY.md §2.3 `parse_html`, `split_sentences`,
newest-capture dedup, `failure_split`).

Everything per-document runs inside `spec.parse_document` (the same code
the pure-Python oracle runs); Spark supplies batching (Arrow), scheduling,
and parallelism. One UDF returning a struct — never five UDFs — so each row
crosses the JVM<->Python boundary exactly once.

The UDFs are `arrow_udf`s in the scalar-iterator form (pa.Array batches
in and out): each reads its input with `to_pylist` and builds its output
with arrow_columns.column, from Arrow buffers, as exactly the Arrow type
Spark maps its return type to, so the worker's serializer never casts.
No pandas enters a parse worker: not through the UDF wrapper, not
through `pa.array`, and not through the modules the worker loads for the
UDF body (spec, arrow_columns, and this one, which imports no pandas
either). pandas was ~40 MB of a ~140 MB parse worker, paid once per
executor core.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField, StructType,
)

from .. import arrow_columns, spec

PARSED_STRUCT = StructType([
    StructField("title", StringType()),
    StructField("headings", ArrayType(StringType())),
    StructField("paragraphs", ArrayType(StringType())),
    StructField("extracted_text", StringType()),
    StructField("n_sentences", IntegerType()),
    StructField("parse_ok", BooleanType()),
    StructField("parse_err", StringType()),
])
SENTENCES = ArrayType(StringType())
PARSE_METRICS_STRUCT = StructType([
    StructField("extracted_len", IntegerType()),
    StructField("n_sentences", IntegerType()),
    StructField("parse_ok", BooleanType()),
    StructField("parse_err", StringType()),
])
SENTS_BY_PARA = ArrayType(ArrayType(StringType()))
_PARSED_ARROW, _SENTENCES_ARROW, _METRICS_ARROW, _SENTS_BY_PARA_ARROW = map(
    to_arrow_type, (PARSED_STRUCT, SENTENCES, PARSE_METRICS_STRUCT,
                    SENTS_BY_PARA))


@arrow_udf(PARSED_STRUCT)
def parse_html_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    """PARSE_SPEC v1 over html bytes, scalar-iterator form: per-worker setup
    (regexes are module-level, compiled once at import) is amortized across
    all Arrow batches of a task."""
    for html in batches:
        yield arrow_columns.column(
            [spec.parse_document(h) for h in html.to_pylist()], _PARSED_ARROW)


@arrow_udf(SENTENCES)
def split_sentences_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    for paragraphs in batches:
        yield arrow_columns.column(
            [[] if p is None else spec.split_sentences(p)
             for p in paragraphs.to_pylist()], _SENTENCES_ARROW)


@arrow_udf(PARSE_METRICS_STRUCT)
def parse_metrics_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    """Same parse, metrics-only return (~20B/row instead of ~1.2KB/row of
    Arrow traffic). Spark cannot column-prune inside a UDF, so the pruning
    is done by choosing this variant when downstream needs no text — the
    aggregate path's JVM-side Arrow decode cost drops ~50x."""
    for html in batches:
        rows = []
        for h in html.to_pylist():
            p = spec.parse_document(h)
            rows.append((len(p.extracted_text), p.n_sentences, p.parse_ok,
                         p.parse_err))
        yield arrow_columns.column(rows, _METRICS_ARROW)


def _dedup_max_by(df: DataFrame, order_cols: list) -> DataFrame:
    """Keep the row with the max (lexicographic) order-struct per url.

    row_number window, NOT groupBy+max_by: Spark 4 rewrites the
    `row_number()<=1` filter into WindowGroupLimit, which drops duplicate
    crawls per partition BEFORE the shuffle (same map-side collapse a
    partial aggregate gives), while max_by's struct buffer forces the
    slower SortAggregate path — window is ~30% faster at 1M rows/32 cores,
    measured (BENCH/BASELINE.md). Tie-break keys are pure functions of the
    data (warc_ts, md5(html)), so the winner is deterministic under
    retries (oracle._dedup_key)."""
    w = Window.partitionBy("url").orderBy(*[c.desc() for c in order_cols])
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def parse_pages(pages: DataFrame, keep_text: bool = False,
                with_html_md5: bool = False) -> DataFrame:
    """pages -> parsed (SURVEY.md §1.2). Filter/prune BEFORE calling this so
    pushdown happens on raw columns and skipped rows never cross into
    Python. with_html_md5 adds the dedup tie-break key (computed JVM-side
    while html is still in hand)."""
    cols = [
        F.col("url"), F.col("warc_ts"), F.col("lang"),
        F.col("_p.title").alias("title"),
        F.col("_p.headings").alias("headings"),
        F.col("_p.paragraphs").alias("paragraphs"),
        F.col("_p.extracted_text").alias("extracted_text"),
        F.length("_p.extracted_text").alias("extracted_len"),
        F.col("_p.n_sentences").alias("n_sentences"),
        F.coalesce(F.length("html").cast("long"), F.lit(0)).alias("n_bytes"),
        F.col("_p.parse_ok").alias("parse_ok"),
        F.col("_p.parse_err").alias("parse_err"),
    ]
    if with_html_md5:
        cols.append(F.coalesce(F.md5("html"), F.lit("")).alias("html_md5"))
    if keep_text:
        cols.append(F.col("text"))
    return pages.withColumn("_p", parse_html_udf("html")).select(*cols)


def parse_pages_metrics(pages: DataFrame, with_html_md5: bool = False) -> DataFrame:
    """pages -> parsed metrics only (no text columns cross the Arrow
    boundary) — the aggregate path's plan of record."""
    cols = [
        F.col("url"), F.col("warc_ts"), F.col("lang"),
        F.col("_p.extracted_len").alias("extracted_len"),
        F.col("_p.n_sentences").alias("n_sentences"),
        F.coalesce(F.length("html").cast("long"), F.lit(0)).alias("n_bytes"),
        F.col("_p.parse_ok").alias("parse_ok"),
        F.col("_p.parse_err").alias("parse_err"),
    ]
    if with_html_md5:
        cols.append(F.coalesce(F.md5("html"), F.lit("")).alias("html_md5"))
    return pages.withColumn("_p", parse_metrics_udf("html")).select(*cols)


def dedup_latest_parsed(parsed: DataFrame) -> DataFrame:
    """Newest crawl per url, md5(html) tie-break, run AFTER parse: it
    shuffles parsed rows (small, or at least html-free) instead of raw
    html — at corpus scale, re-parsing the few duplicate crawls costs far
    less than shuffling every html payload. Requires the html_md5 column
    (with_html_md5=True upstream); the winner is the oracle's
    (warc_ts, md5) max (oracle._dedup_key)."""
    return (_dedup_max_by(parsed, [F.col("warc_ts"), F.col("html_md5")])
            .drop("html_md5"))


def explode_sentences_unfused_reference(parsed: DataFrame) -> DataFrame:
    """COMPARISON-ONLY two-stage sentence path — do not use in pipelines.
    The default is `sentences_from_pages` (fused parse+split, one
    ArrowEvalPython stage): this unfused variant ships every paragraph
    across Arrow twice and measured ~7x slower at sf0.1 (BENCH_r01
    14.2s vs 2.05s). It is kept only as the independent formulation the
    fused path is byte-identity-tested against.

    parsed -> sentences(url, para_idx, sent_idx, sentence), order-exact.

    posexplode_outer (not posexplode) on the UDF output: the non-outer
    variant makes Catalyst inject a `size(..)>0` pre-filter that references
    the UDF column and DUPLICATES the ArrowEvalPython stage (2x the Python
    work — observed 2x wall on sf0.1). Outer explode needs no pre-filter;
    the null rows (empty arrays) are dropped JVM-side afterwards."""
    paras = (parsed.select(
        "url", F.posexplode_outer("paragraphs").alias("para_idx", "paragraph"))
        .filter(F.col("paragraph").isNotNull()))
    return (paras
            .withColumn("_s", split_sentences_udf("paragraph"))
            .select("url", "para_idx",
                    F.posexplode_outer("_s").alias("sent_idx", "sentence"))
            .filter(F.col("sentence").isNotNull()))


@arrow_udf(SENTS_BY_PARA)
def parse_sentences_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    """Fused parse + sentence-split: html in, sentences-per-paragraph out,
    in ONE Python stage. The two-stage path (parse_pages →
    split_sentences_udf) ships every paragraph across Arrow twice and pays
    two Python stages — fused measured ~30% faster at 1M docs / 32 cores
    (3.7s -> 2.7s steady-state). Same spec functions, so the output is
    byte-identical to the two-stage path."""
    for html in batches:
        out = []
        for h in html.to_pylist():
            p = spec.parse_document(h)
            out.append([spec.split_sentences(x) for x in p.paragraphs])
        yield arrow_columns.column(out, _SENTS_BY_PARA_ARROW)


def sentences_from_pages(pages: DataFrame) -> DataFrame:
    """pages -> sentences(url, para_idx, sent_idx, sentence), order-exact,
    single ArrowEvalPython stage; the double posexplode runs JVM-side.
    Outer explodes (see explode_sentences) keep Catalyst from duplicating
    the UDF stage behind a size()>0 pre-filter."""
    paras = (pages
             .withColumn("_sp", parse_sentences_udf("html"))
             .select("url", F.posexplode_outer("_sp").alias("para_idx", "_s"))
             .filter(F.col("_s").isNotNull()))
    return (paras
            .select("url", "para_idx",
                    F.posexplode_outer("_s").alias("sent_idx", "sentence"))
            .filter(F.col("sentence").isNotNull()))


def failure_split(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok, failed) — failures are routed to quarantine and counted in the
    manifest, never silently dropped."""
    return parsed.filter(F.col("parse_ok")), parsed.filter(~F.col("parse_ok"))
