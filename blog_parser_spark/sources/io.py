"""Source/sink abstraction (SURVEY.md §2.3 scans + FIXTURES.md §B synthesis).

What lives here: the fixture-table reader (`read_table`), the pages reader
that fails on schema drift (`read_pages`), deterministic pages synthesis,
the driver-local broadcast dims, and one sink layout, the bucketed table
for exchange-free url joins (`write_bucketed_table`). The fan-out sinks
themselves are written by `manifest.run_resumable`.

Production target is Iceberg (`spark.read.format("iceberg")`, bucketed
writes); this sandbox has no Iceberg jar, so everything funnels through
this module: swap `TABLE_FORMAT` and every caller gets Iceberg without
code changes. All fixture synthesis is pure-function-of-data (no RNG, no
clock) so it is byte-reproducible and resumable.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType, TimestampType,
)

from .. import oracle, spec

TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")

TABLES = ("orders", "events", "documents")

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Iceberg in prod, parquet here."""
    if TABLE_FORMAT == "iceberg":
        return spark.read.format("iceberg").load(f"{sf_dir}/{name}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


class SchemaDriftError(TypeError):
    """Input table shape does not match the declared pipeline schema."""


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a pages table and validate its shape against PAGES_SCHEMA,
    failing LOUDLY on drift (input_hint: schema is declared, never
    inferred — at 10^12 rows a silently-widened or renamed column burns a
    cluster-day before anyone notices). Nullability is not compared
    (parquet writers vary); names and types are exact."""
    df = (spark.read.format("iceberg").load(path) if TABLE_FORMAT == "iceberg"
          else spark.read.parquet(path))
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in PAGES_SCHEMA.fields]
    if got != want:
        raise SchemaDriftError(
            f"pages schema drift at {path}: got {got}, want {want}")
    return df


# --- pages synthesis (FIXTURES.md §B) ---------------------------------------

def _render_html_udf():
    """Vectorized html renderer — fixture-build only, not a pipeline op."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def render(text: pd.Series) -> pd.Series:
        return text.map(lambda t: None if t is None else spec.render_html(t))

    return render


def _render_html_linked_udf(rich_anchors: bool = False,
                            with_canonical: bool = False,
                            with_alternates: bool = False):
    """Renderer variant that also emits the deterministic <nav> outlink
    block (spec.link_targets) — byte-identical to _render_html_udf
    everywhere outside the nav block. rich_anchors swaps the constant
    'ref' anchor text for spec.anchor_text(target) (closed-form for the
    oracle side); the default byte stream is unchanged."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def render(text: pd.Series, doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [None if t is None
             else spec.render_html(t, doc_id=int(d), rich_anchors=rich_anchors,
                                   with_canonical=with_canonical,
                                   with_alternates=with_alternates)
             for t, d in zip(text, doc_id)])

    return render


def synth_pages(spark: SparkSession, sf_dir: str, replicate: int = 1,
                with_links: bool = False, rich_anchors: bool = False,
                with_canonical: bool = False,
                with_alternates: bool = False) -> DataFrame:
    """documents -> pages(url, warc_ts, html, text, lang), deterministic.

    replicate=k deterministically tiles the corpus k-fold (distinct urls via
    a replica index) for bench runs where the raw fixture is too small; k=1
    reproduces FIXTURES.md §B exactly.
    """
    docs = read_table(spark, sf_dir, "documents")
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(reps).withColumn(
            "doc_id", F.col("doc_id") + F.col("rep") * 10_000_000).drop("rep")
    rendered = (_render_html_linked_udf(rich_anchors, with_canonical,
                                        with_alternates)("text", "doc_id")
                if with_links or rich_anchors or with_canonical or with_alternates
                else _render_html_udf()("text"))
    return docs.select(
        F.concat(F.lit("https://"), "source", F.lit(".example.com/post/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.expr(
            f"timestamp'{spec.WARC_TS_BASE}' "
            f"+ make_interval(0, 0, 0, cast(doc_id % {spec.WARC_TS_DAY_MOD} as int), 0, 0, "
            f"cast(doc_id % {spec.WARC_TS_SEC_MOD} as int))"
        ).alias("warc_ts"),
        rendered.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def adversarial_pages_df(spark: SparkSession) -> DataFrame:
    from .fixtures import adversarial_pages
    rows = [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
            for r in adversarial_pages()]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


# --- broadcast dims ----------------------------------------------------------

LANG_NORM_SCHEMA = StructType([
    StructField("lang_raw", StringType(), False),
    StructField("lang_norm", StringType(), False),
])
DOMAIN_META_SCHEMA = StructType([
    StructField("domain", StringType(), False),
    StructField("site_category", StringType(), False),
    StructField("country", StringType(), False),
    StructField("tier", IntegerType(), False),
])


def local_table(spark: SparkSession, rows: list[tuple],
                schema: StructType) -> DataFrame:
    """A driver-local table (dims, fetch plans, empty manifests) planned as
    a LocalTableScan: it runs no Spark job and starts no Python worker.

    `createDataFrame(list_of_rows)` plans Scan ExistingRDD instead, and its
    PythonRDD job forks a second Python worker pool before the first real
    stage; a pandas frame avoids that only when non-empty. An Arrow table
    takes the LocalTableScan path at any size, with the schema exact."""
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.table({f.name: list(c) for f, c in zip(schema.fields, cols)})
    return spark.createDataFrame(table, schema)


def lang_norm_df(spark: SparkSession) -> DataFrame:
    rows = [(r["lang_raw"], r["lang_norm"]) for r in oracle.lang_norm_rows()]
    return local_table(spark, rows, LANG_NORM_SCHEMA)


def domain_meta_df(spark: SparkSession, n_sources: int = 20) -> DataFrame:
    rows = [(r["domain"], r["site_category"], r["country"], r["tier"])
            for r in oracle.domain_meta_rows(n_sources)]
    return local_table(spark, rows, DOMAIN_META_SCHEMA)


# --- sinks -------------------------------------------------------------------

def write_bucketed_table(df: DataFrame, table: str, buckets: int = 16,
                         key: str = "url") -> None:
    """Catalog-registered bucketed+sorted table (Spark bucketBy): two tables
    bucketed the same way join with ZERO shuffle exchanges — each task reads
    matching bucket files from both sides (verified in tests/test_plans.py).

    This is the co-located-join layout for url-keyed tables that are joined
    repeatedly (e.g. parsed pages vs a per-url quality-score table): the
    shuffle is paid once at write time, then every downstream join is
    exchange-free. On Iceberg the equivalent is
    `partitionedBy(bucket(N, key))` + storage-partitioned joins."""
    (df.write.mode("overwrite").format("parquet")
       .bucketBy(buckets, key).sortBy(key).saveAsTable(table))
