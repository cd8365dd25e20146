"""Lineage manifests + resumable batch runs (SURVEY.md §2.3 sink_manifest,
§4 resume-from-checkpoint).

Unit of lineage = BUCKET: pmod(xxhash64(url), n_buckets) — a pure function
of the data, stable across retries, repartitioning, and cluster sizes
(a partition id is none of those). Per bucket the manifest records rows
parsed, parse failures, bytes, sentences, and the wall-clock of the pass
that produced it.

Resume protocol (exactly-once per bucket):
  1. read manifest -> completed bucket set
  2. filter input to buckets NOT IN the completed set (a literal
     IN-filter on the bucket partition column — partition-prunable,
     unlike an anti-join)
  3. write sinks with partitionBy(sink, bucket) under dynamic partition
     overwrite -> a re-run of a half-written bucket overwrites its own
     partitions and nobody else's
  4. append manifest rows LAST -> a bucket is durable iff its manifest row
     committed; crash between (3) and (4) just re-runs that bucket
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .limits import check_driver_list_bound
from .plans import pipeline
from .sources import io

DEFAULT_BUCKETS = 64

ROUTED_SINK_COLS = ["url", "warc_ts", "lang_norm", "domain", "doc_class",
                    "title", "extracted_text", "n_sentences", "n_bytes",
                    "parse_ok", "parse_err", "day", "sink"]


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def manifest_rows(written: DataFrame, run_id: str) -> DataFrame:
    """Per-(sink, bucket) lineage + metrics, derived from the WRITTEN sink
    rows (not from a recomputation of the pipeline — the manifest
    certifies exactly the bytes that are durable, and deriving it from
    the files costs a pruned columnar re-read instead of a second parse
    of the corpus).

    Granularity is (sink, bucket) because that is the write's repartition
    key: one shuffle partition — hence ONE writer task — holds all rows
    of a (sink, bucket) group, so max(task_wall_sec) is that single
    task's wall and first(partition_id) is the group's one well-defined
    partition id (pmod of the key hash — stable across runs). Grouping
    by bucket alone would mix clocks of the different per-sink tasks."""
    return (written.groupBy("sink", "bucket")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("parse_failures"),
                 F.sum("n_bytes").alias("bytes"),
                 F.sum("n_sentences").alias("sentences"),
                 F.max("task_wall_sec").alias("wall_sec"),
                 F.first("partition_id").alias("partition_id"))
            .withColumn("run_id", F.lit(run_id)))


def _with_task_metrics(df: DataFrame) -> DataFrame:
    """Pass-through mapInPandas stamping every row with its physical
    output partition id and the task's running wall-clock — measured where
    the work happens, on the executor, not inferred on the driver. Cost:
    one extra Arrow crossing on the write path; the per-partition wall
    the north rule asks for cannot be captured JVM-side from PySpark."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    schema = StructType(df.schema.fields + [
        StructField("partition_id", IntegerType()),
        StructField("task_wall_sec", DoubleType())])

    def fn(batches):
        import time as _t

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        t0 = _t.time()
        for pdf in batches:
            pdf = pdf.copy()
            pdf["partition_id"] = pid
            pdf["task_wall_sec"] = _t.time() - t0
            yield pdf

    return df.mapInPandas(fn, schema)


def completed_buckets(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Buckets already durable; empty frame when no manifest exists yet.

    An explicit existence probe, NOT try/except around the read: an
    unreadable or corrupt manifest must raise, never be taken for "no
    bucket done yet" (which would silently re-run every bucket)."""
    has_manifest = os.path.isdir(manifest_dir) and any(
        e.endswith(".parquet") for e in os.listdir(manifest_dir))
    if not has_manifest:
        return io.local_table(
            spark, [], StructType([StructField("bucket", IntegerType())]))
    return spark.read.parquet(manifest_dir).select("bucket").distinct()


def run_resumable(spark: SparkSession, pages: DataFrame, out_dir: str,
                  n_buckets: int = DEFAULT_BUCKETS) -> dict:
    """One resumable pass of the full pipeline into fan-out sinks.

    Returns run metrics. Call again after a failure with the same out_dir:
    completed buckets are skipped via a partition-prunable NOT-IN filter
    against the manifest's completed-bucket set."""
    sink_dir = f"{out_dir}/sinks"
    manifest_dir = f"{out_dir}/manifest"

    src = with_bucket(pages, n_buckets)
    # completed buckets as a driver-side list: bounded by n_buckets (a
    # config constant, not data volume), so collecting it is O(config);
    # it buys literal IN-filters below that Spark can push into partition
    # pruning — a join never prunes a parquet scan
    check_driver_list_bound(n_buckets, "n_buckets")
    done_ids = [r["bucket"]
                for r in completed_buckets(spark, manifest_dir).collect()]
    todo = src.filter(~F.col("bucket").isin(done_ids)) if done_ids else src

    t0 = time.time()
    routed = with_bucket(
        pipeline.routed_pages(spark, todo.drop("bucket"), dedup=True, full=True),
        n_buckets)

    # one pass, one writer per (sink,bucket) partition; dynamic overwrite
    # makes a bucket re-run idempotent; task-metrics stamping rides the
    # same pass (no second computation of the pipeline)
    stamped = _with_task_metrics(
        routed.select(*ROUTED_SINK_COLS, "bucket")
        .repartition("sink", "bucket"))
    (stamped
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("sink", "bucket")
     .parquet(sink_dir))
    wall = time.time() - t0

    # manifest from the WRITTEN files: the NOT-IN literal on the bucket
    # partition column partition-PRUNES the scan to only the buckets this
    # run wrote (an anti-join cannot prune — a resume would re-read the
    # whole corpus of previously written buckets). The explicit read
    # schema (taken from what we just wrote) makes the read robust to
    # sinks written by older layouts: missing columns come back null
    # instead of failing schema inference.
    run_id = f"run-{int(t0)}"
    mcols = ["sink", "bucket", "parse_ok", "n_bytes", "n_sentences",
             "partition_id", "task_wall_sec"]
    by_name = {f.name: f for f in stamped.schema.fields}
    read_schema = StructType([by_name[c] for c in mcols])
    written_new = (spark.read.schema(read_schema)
                   .option("basePath", sink_dir).parquet(sink_dir))
    if done_ids:
        written_new = written_new.filter(~F.col("bucket").isin(done_ids))
    mrows = manifest_rows(written_new, run_id)
    mrows.coalesce(1).write.mode("append").parquet(manifest_dir)

    stats = (spark.read.parquet(manifest_dir)
             .agg(F.countDistinct("bucket").alias("buckets"),
                  F.sum("rows").alias("rows"),
                  F.sum("parse_failures").alias("parse_failures"),
                  F.sum("bytes").alias("bytes")).collect()[0])
    return {"run_id": run_id, "wall_sec": round(wall, 2),
            "buckets_done": stats["buckets"], "rows": stats["rows"],
            "parse_failures": stats["parse_failures"], "bytes": stats["bytes"]}
