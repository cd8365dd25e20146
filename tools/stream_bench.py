"""Streaming-layer throughput bench — the missing performance story for
the streaming operators (their existing evidence is correctness parity).

Six legs, each availableNow with maxFilesPerTrigger forcing multiple
micro-batches, pinned protocol (run under taskset), fresh checkpoints:

- grok_stream:   stateless parse→aggregate over N log lines (the
                 log-pipeline tier's headline shape as a stream);
- cdc_stream:    stateful CDC snapshot maintenance (hash-bucketed
                 partition-pruned MERGE per batch) over upsert batches;
- index_stream:  streaming inverted-index maintenance over doc batches;
- cms_stream:    additive count-min sketch fold per batch;
- warc_gz_stream: stateless .warc.gz archive ingest from a binaryFile
                 landing prefix (the continuous-crawl arrival shape);
- crawl_delta_stream: the per-arrival refresh/skip decision — the same
                 landing prefix classified added/changed/same against a
                 prior crawl's CDX index (stream-static join per batch).

Per leg: rows/s end-to-end, micro-batch count, and sec/batch — the
per-batch overhead a production trigger interval must amortize.

Run:  python tools/stream_bench.py [--batches 8]
(local[cores] of the affinity mask; pin it with taskset to run smaller).
Emits one JSON line; paste into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import box  # noqa: E402

WORK = "/tmp/stream_bench"


def _await_done(q) -> int:
    q.awaitTermination()
    return (q.lastProgress["batchId"] + 1) if q.lastProgress else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--grok-lines", type=int, default=4_000_000)
    ap.add_argument("--cdc-rows", type=int, default=1_000_000)
    ap.add_argument("--index-docs", type=int, default=200_000)
    ap.add_argument("--warc-docs", type=int, default=200_000)
    ap.add_argument("--batches", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from blog_parser_spark.operators import groklog
    from blog_parser_spark.session import get_spark
    from blog_parser_spark.sources import io
    from blog_parser_spark.streaming import stream

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark("stream-bench", master=f"local[{box.cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {"leg": "stream_bench", "cpus": box.cores(),
                              "batches": args.batches}
    user0, steal0 = box.steal_ticks()

    def land(df, name: str, n_files: int) -> str:
        """Materialize a source dir with exactly n_files part files so
        maxFilesPerTrigger=n_files/batches forces the batch count."""
        d = os.path.join(WORK, name)
        df.repartition(n_files).write.mode("overwrite").parquet(d)
        return d

    # --- grok stream (stateless) -------------------------------------------
    ev = io.read_table(spark, args.sf_dir, "events")
    rep = max(1, -(-args.grok_lines // ev.count()))
    lines = groklog.synth_lines(
        ev.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .withColumn("event_id", F.col("event_id") + F.col("i") * F.lit(10_000_000)))
    src = land(lines, "grok_src", args.batches * 4)
    n_lines = spark.read.parquet(src).count()

    def run_grok() -> tuple[float, int]:
        ck = os.path.join(WORK, f"grok_ck_{time.monotonic_ns()}")
        sdf = (spark.readStream.schema("line string")
               .option("maxFilesPerTrigger", 4).parquet(src))
        # streaming-legal twin of requests_by_method_status: exact
        # distinct is not allowed on streams, so uniq_ips becomes the
        # HLL approx — same shuffle shape, same state keying
        agg = (groklog.parse_lines(sdf)
               .groupBy("method", "status")
               .agg(F.count(F.lit(1)).alias("requests"),
                    F.sum("n_bytes").alias("total_bytes"),
                    F.approx_count_distinct("ip").alias("uniq_ips")))
        q = (agg.writeStream.outputMode("complete").format("noop")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        t0 = time.time()
        b = _await_done(q)
        return time.time() - t0, b

    run_grok()  # warmup
    wall, b = min((run_grok() for _ in range(3)), key=lambda t: t[0])
    out["grok_stream"] = {"rows": n_lines, "sec": round(wall, 2),
                          "micro_batches": b,
                          "rows_per_sec": round(n_lines / wall, 1),
                          "sec_per_batch": round(wall / max(b, 1), 3)}

    # --- CDC snapshot stream (stateful MERGE) ------------------------------
    n = args.cdc_rows
    changes = spark.range(n).select(
        F.pmod(F.col("id") * 7919, F.lit(n // 4)).alias("k"),
        F.col("id").alias("seq"),
        F.when(F.pmod("id", F.lit(20)) == 0, "D").otherwise("U").alias("op"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"))
    csrc = land(changes, "cdc_src", args.batches)
    snap = os.path.join(WORK, "cdc_snap")
    ck = os.path.join(WORK, "cdc_ck")
    sdf = (spark.readStream
           .schema("k bigint, seq bigint, op string, val string")
           .option("maxFilesPerTrigger", 1).parquet(csrc))
    t0 = time.time()
    q = stream.start_cdc_snapshot(sdf, snap, ck, key_col="k",
                                  n_buckets=64)
    b = _await_done(q)
    wall = time.time() - t0
    out["cdc_stream"] = {"rows": n, "sec": round(wall, 2),
                         "micro_batches": b,
                         "rows_per_sec": round(n / wall, 1),
                         "sec_per_batch": round(wall / max(b, 1), 3)}

    # --- inverted-index stream (stateful fold) -----------------------------
    docs = (io.read_table(spark, args.sf_dir, "documents")
            .select("doc_id", "text"))
    repd = max(1, -(-args.index_docs // docs.count()))
    big = (docs.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(repd - 1))))
           .select((F.col("doc_id") + F.col("i") * F.lit(10_000_000))
                   .alias("doc_id"),
                   F.concat_ws(" ", "text",
                               F.concat(F.lit("v"), F.col("i").cast("string")))
                   .alias("text")))
    dsrc = land(big, "idx_src", args.batches)
    n_docs = spark.read.parquet(dsrc).count()
    idx = os.path.join(WORK, "idx")
    ick = os.path.join(WORK, "idx_ck")
    sdocs = (spark.readStream.schema("doc_id bigint, text string")
             .option("maxFilesPerTrigger", 1).parquet(dsrc))
    t0 = time.time()
    q = stream.start_inverted_index(sdocs, idx, ick, n_buckets=64)
    b = _await_done(q)
    wall = time.time() - t0
    out["index_stream"] = {"rows": n_docs, "sec": round(wall, 2),
                           "micro_batches": b,
                           "rows_per_sec": round(n_docs / wall, 1),
                           "sec_per_batch": round(wall / max(b, 1), 3)}

    # --- count-min sketch stream (additive per-batch fold) -----------------
    n = args.cdc_rows
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.col("id") * 6007, F.lit(n // 8)).alias("user_id"))
    esrc = land(ev, "cms_src", args.batches)
    sk = os.path.join(WORK, "cms_sketch")
    sck = os.path.join(WORK, "cms_ck")
    shutil.rmtree(sk, ignore_errors=True)
    sev = (spark.readStream.schema("event_id bigint, user_id bigint")
           .option("maxFilesPerTrigger", 1).parquet(esrc))
    t0 = time.time()
    q = stream.start_count_min(sev, sk, sck, key_col="user_id")
    b = _await_done(q)
    wall = time.time() - t0
    out["cms_stream"] = {"rows": n, "sec": round(wall, 2),
                         "micro_batches": b,
                         "rows_per_sec": round(n / wall, 1),
                         "sec_per_batch": round(wall / max(b, 1), 3)}

    # --- WARC archive stream (stateless binaryFile ingest, gz layout) ------
    # archives land as real .warc.gz FILES (the production arrival
    # unit); the checkpointed binaryFile source feeds the same stateless
    # read_warc the batch path uses
    from blog_parser_spark.sources import warc as warc_src
    n_base = io.read_table(spark, args.sf_dir, "documents").count()
    # tile the fixture corpus up to the requested doc count (distinct
    # urls per replica) — sf0.1 alone is only ~5k docs, which would
    # measure micro-batch overhead, not archive-ingest throughput
    pages = io.synth_pages(
        spark, args.sf_dir, replicate=max(1, args.warc_docs // n_base))
    wsrc = os.path.join(WORK, "warc_landing")
    os.makedirs(wsrc)
    n_warc_docs = 0
    n_files = 0
    for r in (warc_src.pack_warc_gz_files(pages, docs_per_file=1000)
              .toLocalIterator()):
        with open(os.path.join(wsrc, r.warc_file), "wb") as f:
            f.write(bytes(r.content))
        n_files += 1
    n_warc_docs = pages.count()

    def run_warc() -> tuple[float, int]:
        ck = os.path.join(WORK, f"warc_ck_{time.monotonic_ns()}")
        sdf = stream.stream_warc_archives(
            spark, wsrc,
            max_files_per_trigger=max(1, n_files // args.batches))
        q = (sdf.writeStream.format("noop")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        t0 = time.time()
        b = _await_done(q)
        return time.time() - t0, b

    run_warc()  # warmup
    wall, b = min((run_warc() for _ in range(3)), key=lambda t: t[0])
    out["warc_gz_stream"] = {"rows": n_warc_docs, "files": n_files,
                             "sec": round(wall, 2), "micro_batches": b,
                             "rows_per_sec": round(n_warc_docs / wall, 1),
                             "sec_per_batch": round(wall / max(b, 1), 3)}

    # --- streaming crawl delta (same landing prefix vs a prior CDX index) ---
    # The prior crawl: drop every 13th doc (those land as 'added') and
    # mutate every 7th (those land as 'changed'); rest classify 'same'.
    # The index is a materialized sidecar (read back from parquet) so the
    # timed leg pays the realistic per-batch stream-static join, not the
    # prior crawl's synthesis.
    doc_id = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    prior_pages = (pages.filter(doc_id % 13 != 0)
                   .withColumn("html", F.when(
                       doc_id % 7 == 0,
                       F.concat(F.col("html"), F.lit(b"x")))
                       .otherwise(F.col("html"))))
    prior_path = os.path.join(WORK, "prior_cdx.parquet")
    (warc_src.cdx_index(warc_src.pack_warc_gz_files(prior_pages, 1000))
     .write.mode("overwrite").parquet(prior_path))
    prior_idx = spark.read.parquet(prior_path)

    def run_delta() -> tuple[float, int]:
        ck = os.path.join(WORK, f"delta_ck_{time.monotonic_ns()}")
        sdf = stream.stream_crawl_delta(
            spark, wsrc, prior_idx,
            max_files_per_trigger=max(1, n_files // args.batches))
        q = (sdf.writeStream.format("noop")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        t0 = time.time()
        b = _await_done(q)
        return time.time() - t0, b

    run_delta()  # warmup
    wall, b = min((run_delta() for _ in range(3)), key=lambda t: t[0])
    out["crawl_delta_stream"] = {"rows": n_warc_docs, "files": n_files,
                                 "sec": round(wall, 2), "micro_batches": b,
                                 "rows_per_sec": round(n_warc_docs / wall, 1),
                                 "sec_per_batch": round(wall / max(b, 1), 3)}

    user1, steal1 = box.steal_ticks()
    out["vm_user_ticks"] = user1 - user0
    out["vm_steal_ticks"] = steal1 - steal0
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
