"""Source/sink abstraction (SURVEY.md §2.3 scans + FIXTURES.md §B synthesis).

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

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

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

def compact_partition_dir(spark: SparkSession, root: str, partition_col: str,
                          target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Small-files compaction for a partitionBy() sink directory: rewrite
    each partition into ceil(bytes/target) files.

    At 100 TB, fan-out sinks accumulate a-few-MB files (one per task per
    partition per run); a reader then pays an open/seek per file and the
    NameNode/objectstore pays per-object metadata. Compaction is a pure
    rewrite — content equality is asserted in tests. Returns
    {partition_value: n_files_written}.

    Crash safety (OFFLINE maintenance tool — do not run readers
    concurrently): scratch dirs live under dot-prefixed names
    (".compact_tmp_<part>" / ".compact_old_<part>"), which Spark's
    partition discovery ignores, so a reader never sees scratch files or
    a partition's old and new files together. But between the two
    renames of the swap a partition is briefly ABSENT — a concurrent
    reader would silently miss its rows; crash recovery is what the
    rename protocol guarantees, not concurrent-reader isolation. (On
    Iceberg, compaction is a snapshot commit and readers are isolated
    for free.) A recovery
    pass finishes or rolls back whatever a previous crash left behind:
    tmp-only -> delete tmp (rewrite never committed); old present with the
    partition missing -> restore old (crash between the two renames); old
    present alongside the partition -> delete old (crash before cleanup)."""
    import math
    import os
    import shutil

    def _tmp(entry: str) -> str:
        return os.path.join(root, f".compact_tmp_{entry}")

    def _old(entry: str) -> str:
        return os.path.join(root, f".compact_old_{entry}")

    # recovery pass (idempotent)
    for d in sorted(os.listdir(root)):
        if d.startswith(".compact_old_"):
            entry = d[len(".compact_old_"):]
            part_dir = os.path.join(root, entry)
            if os.path.exists(part_dir):
                shutil.rmtree(os.path.join(root, d))   # swap completed
            else:
                os.rename(os.path.join(root, d), part_dir)  # roll back
        elif d.startswith(".compact_tmp_"):
            shutil.rmtree(os.path.join(root, d))       # uncommitted rewrite

    out: dict[str, int] = {}
    for entry in sorted(os.listdir(root)):
        if not entry.startswith(f"{partition_col}="):
            continue
        part_dir = os.path.join(root, entry)
        size = sum(os.path.getsize(os.path.join(part_dir, f))
                   for f in os.listdir(part_dir) if f.endswith(".parquet"))
        n_files = max(1, math.ceil(size / target_bytes))
        tmp, old = _tmp(entry), _old(entry)
        (spark.read.parquet(part_dir).repartition(n_files)
         .write.mode("overwrite").parquet(tmp))
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        out[entry.split("=", 1)[1]] = n_files
    return out


def write_sorted_layout(df: DataFrame, out_dir: str, sort_cols: list[str],
                        rowgroup_bytes: int = 128 * 1024 * 1024,
                        mode: str = "overwrite") -> None:
    """Data-skipping layout: cluster rows so parquet row-group min/max
    statistics become selective. Readers filtering on a sort column skip
    whole row groups from the footer alone — at 100 TB this is the
    difference between scanning a day and scanning the table, and it
    costs one sort at write time. (Iceberg's sort-order/z-order table
    property is the managed equivalent; this is the plain-parquet form.)

    sortWithinPartitions (not orderBy): a global sort adds a range
    shuffle whose only extra benefit is cross-FILE ordering; per-file
    row-group stats — what the reader skips on — need only within-file
    clustering. `parquet.block.size` bounds row-group bytes so a file
    holds many groups (finer skip granularity).
    """
    (df.sortWithinPartitions(*sort_cols)
     .write.mode(mode).option("parquet.block.size", rowgroup_bytes)
     .parquet(out_dir))


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


def write_bucketed_by_url(df: DataFrame, out_dir: str, buckets: int = 256,
                          mode: str = "overwrite") -> None:
    """sink_bucketed: bucket-by-url-hash layout (Iceberg bucket(256,url) in
    prod). Parquet fallback: hash-repartition + bucket column partition so
    downstream url-keyed reads prune to one bucket."""
    b = F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int").alias("url_bucket")
    (df.withColumn("url_bucket", b)
       .repartition(buckets, "url_bucket")
       .write.mode(mode).partitionBy("url_bucket").parquet(out_dir))


def write_zorder_layout(df: DataFrame, out_dir: str, zcols: list[str],
                        bits: int = 8,
                        rowgroup_bytes: int = 128 * 1024 * 1024,
                        mode: str = "overwrite") -> None:
    """Multi-column data-skipping layout: cluster on a Morton (Z-order)
    curve over `zcols` so row-group min/max stats are selective on EVERY
    z-column at once — a single-column sort skips perfectly on one column
    and not at all on the others. This is the plain-parquet form of
    Iceberg/Delta `ZORDER BY`; use it for fact tables probed by more than
    one dimension (url-hash × day, domain × ts, ...).

    Mechanics (all JVM row-path expressions; one sampling pass + one
    range shuffle):
      1. per-column RANK quantization: 2^bits-1 approxQuantile cut
         points (sample-based sketch, driver array bounded by 2^bits,
         never by the data) — equal-POPULATION codes, so heavy-tailed
         columns spread across the full code range instead of collapsing
         into the dense end the way min-max scaling does (Delta's
         OPTIMIZE ZORDER uses per-column range-partition ids, the same
         idea). The code = #boundaries <= x via an F.aggregate fold over
         the literal boundary array (codegen loop, no Python);
      2. interleave the code bits round-robin into one BIGINT z-value
         (bits·|zcols| <= 63);
      3. repartitionByRange(z) + sortWithinPartitions(z): cross-file
         ranges from the range exchange, within-file row-group locality
         from the sort; `parquet.block.size` keeps groups small enough
         to skip at fine grain.

    The z column is dropped before writing — layout, not schema.
    Quantile precision only shapes the LAYOUT; reads stay exact, so the
    approx sketch is free correctness-wise.
    """
    n = len(zcols)
    if n * bits > 63:
        raise ValueError(f"bits*|zcols| = {n * bits} exceeds BIGINT range")
    num = [F.col(c).cast("timestamp").cast("long").cast("double")
           if dict(df.dtypes)[c].startswith("timestamp")
           else F.col(c).cast("double") for c in zcols]
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    proj = df.select(*[e.alias(f"x{i}") for i, e in enumerate(num)])
    # ONE sketch pass for every z column (approxQuantile takes a column
    # list) — the sampling scan is the only full-data read before the
    # range shuffle, so don't pay it per column
    all_bnds = proj.stat.approxQuantile([f"x{i}" for i in range(n)],
                                        probs, 1.0 / (4 << bits))
    quant = []
    for i in range(n):
        uniq = sorted(set(b for b in all_bnds[i] if b is not None))
        if not uniq:  # all-null column: constant z contribution
            quant.append(F.lit(0).cast("bigint"))
            continue
        code = F.aggregate(
            F.lit(uniq), F.lit(0).cast("bigint"),
            lambda acc, b: acc + F.when(num[i] >= b, 1).otherwise(0))
        # NULLs sort first (code 0) instead of poisoning the curve
        quant.append(F.coalesce(code, F.lit(0).cast("bigint")))
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, q in enumerate(quant):
            z = z + F.shiftleft(F.shiftright(q, bit).bitwiseAND(F.lit(1)),
                                bit * n + j)
    (df.withColumn("_z", z)
       .repartitionByRange("_z")
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode(mode).option("parquet.block.size", rowgroup_bytes)
       .parquet(out_dir))


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Landing-zone JSONL reader (the shape crawl dumps and API exports
    arrive in). Schema is REQUIRED and declared, never inferred — at
    10^12 rows schema inference is a full extra pass AND a drift
    hazard. PERMISSIVE mode with a retained `_corrupt` column: a
    malformed line becomes a row whose data columns are null and whose
    `_corrupt` holds the raw text, so bad records route to a quarantine
    sink (failure_split pattern) instead of silently vanishing or
    killing the job. Split `.filter(c.isNull())` / `.filter(c.isNotNull())`
    downstream."""
    full = StructType(schema.fields + [StructField("_corrupt", StringType(), True)])
    return (spark.read.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(path))


def read_csv_strict(spark: SparkSession, path: str,
                    schema: StructType, header: bool = True,
                    multiline: bool = False) -> DataFrame:
    """Landing-zone CSV reader with the same declared-schema + quarantine
    contract as read_jsonl: PERMISSIVE, corrupt rows retained in
    `_corrupt` (never DROPMALFORMED — silent row loss is the one
    unrecoverable failure mode at scale).

    Embedded newlines inside quoted fields (default, multiline=False):
    the physical-line split wins — the head fragment parses with the
    quoted field TRUNCATED at the newline and the tail fragment lands
    in quarantine, so the damage is detectable via `_corrupt` but the
    head row is not itself flagged (fuzz-pinned in
    tests/test_fuzz_readers.py). This is deliberate: newline-split
    files stay byte-range-splittable, which is what lets a 100 TB
    landing zone fan out across executors. Pass multiline=True to
    parse quoted newlines correctly for SMALL landing zones — it
    forces whole-file parsing (one split per file), which is the right
    trade only when files are many and modest."""
    full = StructType(schema.fields + [StructField("_corrupt", StringType(), True)])
    return (spark.read.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .option("header", "true" if header else "false")
            .option("multiLine", "true" if multiline else "false")
            .csv(path))
