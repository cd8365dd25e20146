"""Benchmark harness (driver-run per round; BASELINE.md protocol).

Materializes the deterministic pages corpus to local parquet ONCE (outside
timing), then times the headline queries on local[$SPARK_GRAFT_CPUS] at
$SPARK_GRAFT_SF_DIR. Prints ONE JSON line:
  {"metric": ..., "value": <flagship sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "docs": N, "docs_per_sec": ...}

The flagship number is wall-clock of parse→enrich→route→aggregate over the
materialized pages (scan included, SparkSession startup and input build
excluded), executed to a noop sink so sink I/O doesn't mask engine time.

Steal-window hygiene (round 5): the whole measurement pass re-runs ONCE
when its /proc/stat steal/user bookend exceeds STEAL_RETRY_THRESHOLD —
this VM has noisy-neighbor windows where steal rivals user time and a
single retry usually lands in a quiet window. The reported JSON is the
attempt with the LOWER steal ratio; if both windows are noisy the number
ships anyway, flagged by comparable_to_prior_rounds=false.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Large enough that the flagship number measures steady-state per-doc cost,
# not scheduler/codegen constants (~2s floor): 1M docs ≈ 3-5s at measured
# ~300-400k docs/s on local[32]. Overridable for quick local iteration.
MIN_BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))

# retry the measurement pass once when the steal/user bookend exceeds this
STEAL_RETRY_THRESHOLD = float(
    os.environ.get("SPARK_GRAFT_STEAL_RETRY", "0.10"))

# registry queries timed by name each round: the flagship, then the
# training-data ops layer (bucketed near-dup, CC clustering, text
# quality) — the 100 TB-shaped formulations, so regressions in the
# dedup plans show up next to the flagship — and the round-3 layers
# (link graph, export, CDC merge)
REGISTRY_LEGS = (
    "agg_sink_counts", "dedup_minhash_lsh",
    "dedup_components", "text_quality",
    "graph_pagerank", "export_pack_sequences",
    "export_chunk_overlap", "cdc_apply_changes",
)


def _cpu_ticks() -> tuple[int, int]:
    """(user, steal) ticks from /proc/stat — recorded around the run so
    the JSON line carries its own noisy-neighbor evidence (this shared
    VM has sessions where steal exceeds user time; absolute numbers from
    such sessions are not comparable across rounds)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[1]), int(parts[8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def _run(df) -> float:
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    return time.time() - t0


def _run_warm(df) -> float:
    """Second-of-two runs: first pays per-plan codegen/JIT/worker warmup
    (a one-time constant that vanishes over a 100 TB run), second is the
    steady-state per-byte cost we are actually sizing."""
    _run(df)
    return _run(df)


def _build_corpora(spark, io, F, groklog, sf_dir: str, sf: str,
                   cpus: int) -> tuple[str, str, str]:
    """Deterministic inputs, cached in /tmp, excluded from timing."""
    n_docs_raw = io.read_table(spark, sf_dir, "documents").count()
    replicate = max(1, -(-MIN_BENCH_DOCS // n_docs_raw))
    pages_path = f"/tmp/bench_pages_sf{sf}_x{replicate}.parquet"
    if not os.path.exists(pages_path):
        tmp = pages_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (io.synth_pages(spark, sf_dir, replicate=replicate)
         .repartition(4 * cpus)
         .write.mode("overwrite").parquet(tmp))
        os.rename(tmp, pages_path)

    # near-dup corpus: 100k docs (20x replicated, distinct ids, token
    # perturbation)
    nd_path = f"/tmp/bench_neardup_sf{sf}_x20.parquet"
    if not os.path.exists(nd_path):
        docs = io.read_table(spark, sf_dir, "documents")
        tmp = nd_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (docs.select("doc_id", "text")
         .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(19))))
         .select((F.col("doc_id") + F.col("i") * F.lit(10_000_000)).alias("doc_id"),
                 F.concat_ws(" ", "text",
                             F.concat(F.lit("v"), F.col("i").cast("string")))
                 .alias("text"))
         .repartition(cpus).write.mode("overwrite").parquet(tmp))
        os.rename(tmp, nd_path)

    ev = io.read_table(spark, sf_dir, "events")
    n_ev = ev.count()
    grok_rep = max(1, -(-MIN_BENCH_DOCS // n_ev))
    grok_path = f"/tmp/bench_groklines_sf{sf}_x{grok_rep}.parquet"
    if not os.path.exists(grok_path):
        tmp = grok_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (groklog.synth_lines(
            ev.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(grok_rep - 1))))
            .withColumn("event_id",
                        F.col("event_id") + F.col("i") * F.lit(10_000_000)))
         .repartition(4 * cpus).write.mode("overwrite").parquet(tmp))
        os.rename(tmp, grok_path)
    return pages_path, nd_path, grok_path


def _measure(spark, qreg, sf_dir: str, sf: str, cpus: int,
             pages_path: str, nd_path: str, grok_path: str) -> dict:
    """One full measurement pass; returns the result JSON dict including
    its own /proc/stat steal bookend."""
    from pyspark.sql import functions as F

    from blog_parser_spark.operators import (dedup as dedup_ops, groklog,
                                             parse as parse_ops, sampling,
                                             search as search_ops, textstats)
    from blog_parser_spark.plans import pipeline
    from blog_parser_spark.sources import warc as warc_ops

    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    nd = spark.read.parquet(nd_path)
    lines = spark.read.parquet(grok_path)
    n_lines = lines.count()

    # ---- warmup (python worker pool + codegen; full-size so all 4*cpus
    # workers spawn — a limit() warmup leaves most workers cold) ------------
    user0, steal0 = _cpu_ticks()
    cold = _run(pipeline.flagship(spark, pages, dedup=True))

    timings: dict[str, float] = {}

    # headline: full pipeline, dedup window included (2 shuffles end-to-end);
    # median of 5 warm runs — the steady state a long-running job sees
    runs = sorted(_run(pipeline.flagship(spark, pages, dedup=True))
                  for _ in range(5))
    timings["flagship_e2e"] = runs[len(runs) // 2]
    # variants that isolate stages
    timings["parse_route_agg_nodedup"] = _run_warm(
        pipeline.flagship(spark, pages, dedup=False))
    timings["flagship_salted"] = _run_warm(
        pipeline.flagship(spark, pages, dedup=False, salted=True))
    timings["parse_only"] = _run_warm(parse_ops.parse_pages(pages))
    timings["sentences_default"] = _run_warm(
        parse_ops.sentences_from_pages(pages))
    timings["sentences_unfused_reference"] = _run_warm(
        parse_ops.explode_sentences_unfused_reference(parse_ops.parse_pages(pages)))

    # registry queries are timed INCLUDING construction: iterative ops
    # (dedup_components) do their joins/checkpoints eagerly while the
    # query callable builds the frame — timing only the final write would
    # report ~0 for them. Build+run twice, keep the second.
    qs = qreg.queries()

    def _run_built(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    for name in REGISTRY_LEGS:
        _run_built(name)
        timings[name] = _run_built(name)

    # scaled near-dup leg: 100k docs through the FULL shingle->minhash->
    # band->verify pipeline with the hot-bucket cap on — the configuration
    # a web corpus runs, at a size where per-doc cost dominates overhead
    t0 = time.time()
    (dedup_ops.near_dup_pairs_minhash(nd, threshold=0.6, max_bucket_size=64)
     .write.mode("overwrite").format("noop").save())
    timings["dedup_minhash_100k"] = time.time() - t0

    # curation throughput at 100k docs: single-pass feature enrich ->
    # quality/lang filter -> exact dedup -> deterministic sample
    t0 = time.time()
    feat = textstats.with_features(nd)
    keep = feat.filter((F.col("quality_score") >= 0.5)
                       & (F.col("lang_pred") == "en"))
    (sampling.sample_fraction(dedup_ops.exact_dedup(keep), "doc_id", 500_000)
     .write.mode("overwrite").format("noop").save())
    timings["curation_100k"] = time.time() - t0

    # ranked retrieval at 100k docs: BM25 end-to-end (tf explode filtered
    # to query terms pre-shuffle, broadcast corpus stats, fold-sum top-k)
    t0 = time.time()
    (search_ops.bm25_topk(nd, ["spark", "query", "hash", "scan"], k=10)
     .write.mode("overwrite").format("noop").save())
    timings["bm25_topk_100k"] = time.time() - t0

    # grok log-parse throughput at >=1M lines: the log-pipeline tier's own
    # headline shape — anchored regexp_extract in codegen over materialized
    # raw lines (synthesis excluded), one map-side-combined aggregation
    timings["grok_parse_agg_1m"] = _run_warm(
        groklog.requests_by_method_status(groklog.parse_lines(lines)))

    # streaming throughput leg: the same grok parse as a Structured
    # Streaming job — availableNow over the materialized line corpus,
    # maxFilesPerTrigger forcing ~8 micro-batches, noop streaming sink.
    # Reported next to the batch leg so the per-micro-batch overhead of
    # the streaming runtime is a published number, not a guess.
    n_files = len([f for f in os.listdir(grok_path)
                   if f.endswith(".parquet")])
    per_trigger = max(1, n_files // 8)
    ckpt = "/tmp/bench_grok_stream_ck"

    def _run_grok_stream() -> tuple[float, int]:
        shutil.rmtree(ckpt, ignore_errors=True)
        sdf = (spark.readStream.schema("line string")
               .option("maxFilesPerTrigger", per_trigger)
               .parquet(grok_path))
        # exact distinct is not streaming-legal; approx_count_distinct
        # keeps the same shuffle/state shape for the throughput number
        agg = (groklog.parse_lines(sdf)
               .groupBy("method", "status")
               .agg(F.count(F.lit(1)).alias("requests"),
                    F.sum("n_bytes").alias("total_bytes"),
                    F.approx_count_distinct("ip").alias("uniq_ips")))
        q = (agg.writeStream.outputMode("complete").format("noop")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        t0 = time.time()
        q.awaitTermination()
        wall = time.time() - t0
        batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
        return wall, batches

    _run_grok_stream()  # warmup (stream codegen + state init)
    stream_wall, stream_batches = _run_grok_stream()
    timings["grok_stream_availablenow"] = stream_wall

    # WARC archive round trip at ~100k pages: pack into WARC/1.0 files
    # (25 docs/archive) and parse the raw bytes back — the source-layer
    # cost of ingesting Common Crawl's native container (round 4). Both
    # directions are single Arrow stages; parallelism = archive files.
    # Round 5 adds the same loop through the per-record-gzip layout
    # (Common Crawl's actual on-disk format).
    warc_pages = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
    n_warc = warc_pages.count()

    def _warc_roundtrip(gz: bool) -> float:
        packer = (warc_ops.pack_warc_gz_files if gz
                  else warc_ops.pack_warc_files)
        t0 = time.time()
        (warc_ops.read_warc(packer(warc_pages, 25))
         .write.mode("overwrite").format("noop").save())
        return time.time() - t0

    _warc_roundtrip(False)
    timings["warc_roundtrip_100k"] = _warc_roundtrip(False)
    _warc_roundtrip(True)
    timings["warc_gz_roundtrip_100k"] = _warc_roundtrip(True)

    # Index-driven random access (round 5): CDX-index the gz archives,
    # then recover a ~1k-url wanted subset via fetch_by_index — the
    # "re-fetch these pages from the crawl" path (scan-pruned archives,
    # one gunzipped member per hit). Includes building the index in the
    # timing's setup, not the fetch leg.
    warc_archives = warc_ops.pack_warc_gz_files(warc_pages, 25)
    arch_path = "/tmp/bench_warc_archives.parquet"
    warc_archives.write.mode("overwrite").parquet(arch_path)
    archives_t = spark.read.parquet(arch_path)
    idx_path = "/tmp/bench_warc_cdx.parquet"
    warc_ops.cdx_index(archives_t).write.mode("overwrite").parquet(idx_path)
    index_t = spark.read.parquet(idx_path)
    # salt the wanted-set hash: warc_pages itself was chosen by
    # xxhash64(url)%10, so an unsalted %100 would correlate (1-in-10 of
    # the subset, not 1-in-100)
    wanted = (index_t.where(F.col("url").isNotNull())
              .where(F.pmod(F.xxhash64(F.concat(F.col("url"),
                                                F.lit("#wanted"))),
                            F.lit(100)) == 0)
              .select("url"))
    n_wanted = wanted.count()

    def _warc_fetch() -> float:
        t0 = time.time()
        (warc_ops.fetch_by_index(archives_t, index_t, wanted)
         .write.mode("overwrite").format("noop").save())
        return time.time() - t0

    _warc_fetch()
    timings["warc_fetch_by_index_1pct"] = _warc_fetch()

    # VM-speed reference leg: a FIXED pure-JVM workload that no repo code
    # touches (range -> xxhash64 -> sum; no IO, no Python, no shuffle), so
    # cross-round readers can separate engine changes from host-speed
    # drift: engine ratio = leg_sec / vm_reference_sec is comparable
    # across rounds even when absolute times are not (this VM documents
    # sessions where steal exceeds user time). Best-of-3 after warmup.
    def _reference_leg() -> float:
        df = (spark.range(0, 400_000_000, 1, 4 * cpus)
              .select(F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h"))
              .agg(F.sum("h")))  # pmod keeps the ANSI sum from overflowing
        _run(df)
        return min(_run(df) for _ in range(3))

    vm_ref = _reference_leg()

    user1, steal1 = _cpu_ticks()
    steal_ratio = round((steal1 - steal0) / max(user1 - user0, 1), 4)
    flagship = timings["flagship_e2e"]
    return {
        "metric": "flagship parse→enrich→route→aggregate wall-clock",
        "value": round(flagship, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "docs": n_docs,
        "grok_lines": n_lines,
        "grok_lines_per_sec": round(n_lines / timings["grok_parse_agg_1m"], 1),
        "grok_stream_batches": stream_batches,
        "grok_stream_lines_per_sec": round(n_lines / stream_wall, 1),
        "grok_stream_sec_per_batch": round(
            stream_wall / max(stream_batches, 1), 3),
        "docs_per_sec": round(n_docs / flagship, 1),
        "warc_docs": n_warc,
        "warc_roundtrip_docs_per_sec": round(
            n_warc / timings["warc_roundtrip_100k"], 1),
        "warc_gz_roundtrip_docs_per_sec": round(
            n_warc / timings["warc_gz_roundtrip_100k"], 1),
        "warc_fetch_wanted_urls": n_wanted,
        "cold_first_run_sec": round(cold, 3),
        "cpus": cpus,
        "vm_user_ticks": user1 - user0,
        "vm_steal_ticks": steal1 - steal0,
        "vm_steal_user_ratio": steal_ratio,
        "vm_reference_hash_sec": round(vm_ref, 3),
        "comparable_to_prior_rounds": steal_ratio < 0.15,
        "normalization_note": (
            "absolute times are session-relative on this shared VM; "
            "compare rounds via leg_sec / vm_reference_hash_sec (a fixed "
            "pure-JVM workload no repo code touches), and distrust "
            "absolutes entirely when comparable_to_prior_rounds is false"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F

    from blog_parser_spark.operators import groklog
    from blog_parser_spark.session import get_spark
    from blog_parser_spark.sources import io
    # the registry fills as query modules import; __spark_entry__ imports
    # them ALL (queries, ext, ml, ...) — importing only plans.queries here
    # would leave the dedup entries unregistered (KeyError)
    import __spark_entry__ as qreg

    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=4 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    pages_path, nd_path, grok_path = _build_corpora(
        spark, io, F, groklog, sf_dir, sf, cpus)

    result = _measure(spark, qreg, sf_dir, sf, cpus,
                      pages_path, nd_path, grok_path)
    result["bench_attempts"] = 1
    if result["vm_steal_user_ratio"] > STEAL_RETRY_THRESHOLD:
        # noisy window: one bounded retry, keep the quieter attempt —
        # if both windows are noisy the worse-but-quieter one still
        # ships, flagged by comparable_to_prior_rounds
        retry = _measure(spark, qreg, sf_dir, sf, cpus,
                         pages_path, nd_path, grok_path)
        retry["bench_attempts"] = 2
        retry["first_attempt_steal_user_ratio"] = \
            result["vm_steal_user_ratio"]
        if retry["vm_steal_user_ratio"] < result["vm_steal_user_ratio"]:
            result = retry
        else:
            result["bench_attempts"] = 2
            result["retry_steal_user_ratio"] = retry["vm_steal_user_ratio"]
    print(json.dumps(result))


if __name__ == "__main__":
    main()
