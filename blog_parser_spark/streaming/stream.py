"""Structured Streaming variant (SURVEY.md §2.3 streaming ops, §3.4).

Sources: pages parquet, landed WARC archives, and the crawl-delta
classifier. Sinks: the routed fan-out, the CDC snapshot, the count-min
sketch and the inverted index, each folded in foreachBatch. The batch
transforms are reused verbatim inside foreachBatch — one code path, two
execution modes. Checkpoints give resumability; the availableNow trigger
gives batch-like runs with streaming checkpoints (the kill-and-resume
acceptance path). No operator here keeps streaming state or a
watermark: each micro-batch is stateless, and sink state lives in the
written tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..limits import check_driver_list_bound
from ..plans import pipeline
from ..sources import io


# --- sources ----------------------------------------------------------------

def stream_pages(spark: SparkSession, src_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """Incremental pages arrival from a parquet directory (the sandbox
    stand-in for an Iceberg/Kafka incremental source). Schema is declared,
    never inferred — drift fails loudly."""
    r = spark.readStream.schema(io.PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def stream_warc_archives(spark: SparkSession, src_dir: str,
                         max_files_per_trigger: int | None = None,
                         rec_type: str = "response") -> DataFrame:
    """Streaming WARC ingest — the production arrival unit is the FILE
    (a crawler drops finished .warc/.warc.gz archives into a landing
    prefix), so the source is Spark's binaryFile stream: one row per
    newly-landed archive, fed into the SAME stateless read_warc
    transform the batch path uses. Parallelism stays per-archive with
    zero shuffle; the checkpoint records which files are done, so a
    restart resumes exactly-once with no bookkeeping of ours. Plain and
    per-record-gzip archives mix freely (read_warc sniffs the magic per
    file, never the name)."""
    from ..sources import warc as warc_src
    # binaryFile's schema is fixed by the format, but streaming sources
    # demand it declared (schema inference is batch-only)
    r = (spark.readStream.format("binaryFile")
         .schema("path string, modificationTime timestamp, "
                 "length long, content binary")
         .option("pathGlobFilter", "*.warc*"))
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    files = r.load(src_dir).select(
        F.col("path").alias("warc_file"), "content")
    return warc_src.read_warc(files, rec_type=rec_type)


def stream_pages_from_warc(spark: SparkSession, src_dir: str,
                           sidecar: DataFrame,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """Continuous-crawl bridge: landed .warc/.warc.gz archives → the
    flagship's pages schema (url, warc_ts, html, text, lang), ready for
    `start_pipeline`. Archives carry only (url, warc_ts, html); the
    (text, lang) columns of the input-table contract ride in via a
    stream-static equi-join on url against the provided sidecar (at
    production scale a bucketed lookup table — the join is re-planned
    per micro-batch, so sidecar updates between batches are picked up).
    One stateless Arrow stage plus the per-batch join: no streaming
    state, exactly-once resume from the file-source checkpoint."""
    recs = stream_warc_archives(
        spark, src_dir, max_files_per_trigger).select(
        "url", "warc_ts", "html")
    return recs.join(sidecar, "url")


def stream_crawl_delta(spark: SparkSession, src_dir: str,
                       prior_index: DataFrame,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming dual of warc.index_delta for the ARRIVAL direction: as
    the new crawl's archives land, classify every capture against the
    PRIOR crawl's CDX index — 'added' (url never seen), 'changed'
    (payload digest differs: refresh it), 'same' (digest equal: the set
    a dedup-vs-prior-crawl policy skips). 'gone' is undecidable
    mid-crawl (absence is only observable once the crawl closes) — run
    the batch index_delta at crawl close for that; this stream makes
    the per-arrival refresh/skip decision that gates downstream work.

    Scale shape: the stream side is the stateless archive parse plus a
    JVM md5 (same digest spec.payload_digest/cdx_index use — no new
    Python stage); the prior index is a sidecar joined stream-static
    per micro-batch (broadcast when small; re-planned each batch, so a
    refreshed sidecar is picked up between batches). No streaming
    state; exactly-once resume from the file-source checkpoint.
    Quarantine rows (url NULL) are excluded here like in the batch
    index_delta — consume stream_warc_archives directly to count them.
    """
    recs = stream_warc_archives(spark, src_dir, max_files_per_trigger)
    live = (recs.where(F.col("url").isNotNull())
            .select("url", "warc_file",
                    F.concat(F.lit("md5:"), F.md5("html")).alias("_dig_b")))
    prior = (prior_index.where(F.col("url").isNotNull())
             .select("url", F.col("digest").alias("_dig_a")))
    return (live.join(prior, "url", "left_outer")
            .select("url", "warc_file",
                    F.when(F.col("_dig_a").isNull(), "added")
                     .when(F.col("_dig_a") != F.col("_dig_b"), "changed")
                     .otherwise("same").alias("status")))


# --- sinks -------------------------------------------------------------------

def start_pipeline(spark: SparkSession, pages_stream: DataFrame, out_dir: str,
                   checkpoint: str, available_now: bool = True) -> StreamingQuery:
    """stream_fanout: per-microbatch reuse of the BATCH fan-out.

    foreachBatch runs the same routed_pages spine on each micro-batch and
    writes the routed rows to `{out_dir}/sinks`, partitioned by
    (batch_id, sink); idempotent on replay (dynamic partition overwrite
    of that batch_id). Only the routed sinks are written: no aggregate
    is maintained. The url dedup runs within each micro-batch only, so a
    url recaptured in a later batch is written again.
    Checkpoint dir = the resume token (BASELINE.json north_rule)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = pipeline.routed_pages(spark, batch_df, dedup=True, full=True)
        (routed.withColumn("batch_id", F.lit(batch_id))
         .repartition("sink")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id", "sink")
         .parquet(f"{out_dir}/sinks"))

    w = (pages_stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_cdc_snapshot(changes: DataFrame, snapshot_dir: str,
                       checkpoint: str, key_col: str,
                       seq_col: str = "seq", op_col: str = "op",
                       n_buckets: int = 16,
                       available_now: bool = True) -> StreamingQuery:
    """Streaming CDC snapshot maintenance — the incremental MERGE a
    lakehouse runs, over plain parquet: each micro-batch of changes is
    folded into a persisted change-log table (tombstones included, so
    out-of-order batches cannot resurrect deletes; `cdc.live_rows` is the
    queryable view).

    Partition-pruned rewrite, not a full-table rewrite: the snapshot is
    hash-bucketed on the key (`_bucket = pmod(xxhash64(key), n_buckets)`);
    a batch touches only the buckets its keys hash to, the old state is
    read WITH a bucket IN-list filter (partition pruning at the scan) and
    only those partitions are replaced via dynamic partition overwrite.
    Per-batch cost is O(touched buckets), not O(snapshot) — at 100 TB
    with thousands of buckets, a small CDC delta rewrites a few
    partitions. The touched-bucket `collect()` is bounded by n_buckets.

    Plain-parquet caveat (documented, not hidden): the overwrite commit
    is not atomic — a kill MID-WRITE can leave a partition mixed. The
    checkpoint replays the batch on resume and the merge is idempotent,
    which heals kill-BETWEEN-batches; a table format (Iceberg/Delta)
    supplies the atomic commit this needs in production. The old state is
    localCheckpoint-materialized before the overwrite so the plan never
    reads the files it is replacing."""
    check_driver_list_bound(n_buckets, "n_buckets")
    from ..operators import cdc

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        b = batch_df.withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col(key_col).cast("string")),
                   F.lit(n_buckets)).cast("int"))
        touched = sorted(r[0] for r in b.select("_bucket")
                         .distinct().collect())
        if not touched:
            return
        # explicit existence probe, NOT try/except around the read: a
        # genuine read failure on later batches must raise, never be
        # silently treated as "no snapshot yet" (which would drop state)
        has_state = os.path.isdir(snapshot_dir) and any(
            e.startswith("_bucket=") for e in os.listdir(snapshot_dir))
        state = None
        if has_state:
            state = (sp.read.parquet(snapshot_dir)
                     .filter(F.col("_bucket").isin(touched))
                     .localCheckpoint(eager=True))
        merged = cdc.merge_change_log(state, b, key_col, seq_col, op_col)
        (merged.repartition("_bucket")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_bucket")
         .parquet(snapshot_dir))

    w = (changes.writeStream
         .foreachBatch(apply_batch)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_count_min(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Merged sketch over every folded micro-batch: cell-wise sum of
    the per-batch partial sketches (count-min cells are additive — the
    property that makes the sketch maintainable incrementally). Scan
    cost is |batches| x depth x width bounded rows, never the stream."""
    return (spark.read.parquet(sketch_dir)
            .groupBy("r", "b").agg(F.sum("n").cast("bigint").alias("n")))


def _fold_count_min(batch_df: DataFrame, batch_id: int, sketch_dir: str,
                    key_col: str) -> None:
    """One micro-batch fold: write this batch's partial sketch into its
    OWN _batch=<id> partition (dynamic overwrite). Idempotent under the
    Structured Streaming recovery contract — a crash-replayed batch
    arrives with the SAME batch_id and same rows, so the rewrite lands
    on the same partition instead of double-adding."""
    from ..operators.sketches import count_min_cells
    cells = (count_min_cells(batch_df, key_col)
             .withColumn("_batch", F.lit(batch_id)))
    (cells.coalesce(1)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch")
     .parquet(sketch_dir))


def start_count_min(events: DataFrame, sketch_dir: str, checkpoint: str,
                    key_col: str = "user_id",
                    available_now: bool = True) -> StreamingQuery:
    """Streaming count-min sketch maintenance — the always-on frequency
    monitor a log pipeline keeps per key (user, url, ip) without per-key
    state: each micro-batch collapses to <= depth x width additive
    cells (one map-side-combined aggregate) persisted as that batch's
    partial sketch; read_count_min merges partials by cell-wise sum.

    Contract boundary (same honesty rule as start_cdc_snapshot): the
    idempotency unit is the BATCH ID — checkpoint recovery re-delivers
    the same id and overwrites the same partition, but starting a FRESH
    checkpoint over already-folded files is a new stream and APPENDS.
    Per-batch partials are never compacted here; at |batches| x 4096
    rows a year of hourly batches reads in milliseconds, and partials
    double as a time-sliced sketch (estimate any batch range by summing
    its partitions)."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _fold_count_min(batch_df, batch_id, sketch_dir, key_col)

    w = (events.writeStream
         .foreachBatch(apply_batch)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_inverted_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Queryable view of the maintained index: per-term df/total_tf are
    REBUILT from the postings structs (the idempotent source of truth),
    postings surfaced as sorted doc_id arrays."""
    idx = spark.read.parquet(index_dir)
    return idx.select(
        "term",
        F.size("postings").alias("df"),
        F.aggregate("postings", F.lit(0).cast("bigint"),
                    lambda acc, p: acc + p["tf"]).alias("total_tf"),
        F.transform(F.sort_array("postings"),
                    lambda p: p["doc_id"]).alias("postings"))


def start_inverted_index(docs: DataFrame, index_dir: str, checkpoint: str,
                         n_buckets: int = 16,
                         available_now: bool = True) -> StreamingQuery:
    """Streaming inverted-index maintenance — the incremental build a
    search/retrieval corpus runs as new crawl batches land: each
    micro-batch of (doc_id, text) folds its postings into a persisted
    index partitioned by term hash bucket.

    Replay-idempotent AND update-correct by representation: the
    persisted value per term is a postings MAP keyed by doc_id (stored
    as an array of (doc_id, tf) structs, collapsed per doc_id on merge
    with the incoming batch winning), and df/total_tf are derived from
    it at read time (read_inverted_index). A checkpoint-replayed
    micro-batch re-merges equal structs to the same result — additive
    counters would double-count on replay — and a re-crawled document
    whose text (hence tf) changed REPLACES its posting instead of
    leaving both structs behind, which a plain struct-set dedup would
    silently let inflate df/total_tf.

    Contract boundary: replacement is last-write-wins per (term,
    doc_id). A re-crawled document that DROPPED a term entirely leaves
    the old (term, doc_id) posting behind — removing it would need a
    doc→terms reverse index or a full-doc tombstone pass, which this
    incremental merge deliberately does not do.

    Partition-pruned rewrite, same protocol as start_cdc_snapshot: a
    batch touches only the term-hash buckets its vocabulary lands in;
    old state is read WITH the bucket IN-list (partition pruning at the
    scan) and only those partitions are dynamically overwritten. The
    touched-bucket collect() is bounded by n_buckets. The plain-parquet
    mid-write-kill caveat from start_cdc_snapshot applies unchanged."""
    check_driver_list_bound(n_buckets, "n_buckets")
    from ..operators.search import _words

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        delta = (batch_df
                 .select("doc_id", F.explode(_words()).alias("term"))
                 .groupBy("term", "doc_id")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
                 .withColumn("_bucket",
                             F.pmod(F.xxhash64(F.col("term")),
                                    F.lit(n_buckets)).cast("int"))
                 .withColumn("_src", F.lit(1)))
        delta = delta.localCheckpoint(eager=True)
        touched = sorted(r[0] for r in
                         delta.select("_bucket").distinct().collect())
        if not touched:
            return
        has_state = os.path.isdir(index_dir) and any(
            e.startswith("_bucket=") for e in os.listdir(index_dir))
        parts = [delta]
        if has_state:
            parts.append(sp.read.parquet(index_dir)
                         .filter(F.col("_bucket").isin(touched))
                         .select("term", F.explode("postings").alias("_p"),
                                 "_bucket")
                         .select("term", F.col("_p.doc_id").alias("doc_id"),
                                 F.col("_p.tf").alias("tf"), "_bucket")
                         .withColumn("_src", F.lit(0))
                         .localCheckpoint(eager=True))
        merged = (parts[0] if len(parts) == 1
                  else parts[0].unionByName(parts[1]))
        # one row per (term, doc_id), batch (_src=1) beating state
        # (_src=0): replay of an identical batch is a no-op, a changed
        # document replaces its tf rather than accumulating structs
        merged = (merged
                  .groupBy("term", "_bucket", "doc_id")
                  .agg(F.max(F.struct("_src", "tf")).alias("_m"))
                  .groupBy("term", "_bucket")
                  .agg(F.collect_list(
                      F.struct("doc_id", F.col("_m.tf").alias("tf")))
                      .alias("postings")))
        (merged.repartition("_bucket")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_bucket")
         .parquet(index_dir))

    w = (docs.writeStream
         .foreachBatch(apply_batch)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
