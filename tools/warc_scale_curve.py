"""Archive-ingest scale curve: read_warc over .warc.gz corpora at 1M and
10M docs — does per-doc ingest cost stay flat as the corpus grows 10x?

The ingest direction is the 100 TB question for this layer (a crawl is
read many times but packed once), and read_warc is one stateless Arrow
stage whose parallelism is the archive-file count — so the only ways it
can bend super-linear are (a) a plan defect or (b) the shared virtio
device once the working set exceeds page cache (the proven cause of the
dedup curve's 10M bend; tools/disk_control.py).

Protocol: materialize each corpus as a parquet archive table ONCE
(excluded from timing), then one warmup + best-of-N timed full parses
(count() over read_warc). Pinned taskset, steal bookends recorded.

Run:  python tools/warc_scale_curve.py [--runs 3]
(local[cores] of the affinity mask; pin it with taskset to run smaller).
Emits one JSON line per corpus plus a summary line; paste into
BENCH/BASELINE.md.
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

WORK = "/tmp/warc_scale_curve"


def _du(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--sizes", type=int, nargs="+",
                    default=[1_000_000, 10_000_000])
    ap.add_argument("--docs-per-file", type=int, default=1000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--keep", action="store_true",
                    help="keep the materialized corpora for a rerun")
    ap.add_argument("--max-partition-mb", type=int, default=128,
                    help="scan split size for the archive table")
    args = ap.parse_args()

    from blog_parser_spark.session import get_spark
    from blog_parser_spark.sources import io
    from blog_parser_spark.sources import warc as warc_src

    os.makedirs(WORK, exist_ok=True)
    # Archive rows are ~360 KB gzip members, so a 128 MB scan split holds
    # ~350 rows and each in-flight task pins ~3 copies of its split
    # (columnar batch, Arrow IPC buffer, result). The local JVM hosts all
    # N executor threads, so heap must be N x split x 3 + headroom —
    # the 8g pages-workload default OOMs at 32 cores with 128 MB splits.
    # (On a real cluster this is per-executor memory x cores-per-executor.)
    cores = box.cores()
    heap_gb = max(8, cores * args.max_partition_mb * 3 // 1024 + 8)
    spark = get_spark("warc-curve", master=f"local[{cores}]",
                      extra={"spark.driver.memory": f"{heap_gb}g",
                             "spark.sql.files.maxPartitionBytes":
                                 str(args.max_partition_mb * 1024 * 1024)})
    spark.sparkContext.setLogLevel("ERROR")

    n_base = io.read_table(spark, args.sf_dir, "documents").count()
    results = []
    for target in args.sizes:
        # keyed on every input that shapes the corpus, so --keep never
        # reuses archives packed for another size, file sizing or source
        arch_dir = os.path.join(
            WORK, f"archives_{os.path.basename(os.path.normpath(args.sf_dir))}"
                  f"_{target}_{args.docs_per_file}.parquet")
        if not os.path.exists(arch_dir):
            pages = io.synth_pages(spark, args.sf_dir,
                                   replicate=max(1, target // n_base))
            (warc_src.pack_warc_gz_files(
                pages, docs_per_file=args.docs_per_file)
             .write.mode("overwrite").parquet(arch_dir))
        archives = spark.read.parquet(arch_dir)
        n_files = archives.count()
        corpus_bytes = _du(arch_dir)

        user0, steal0 = box.steal_ticks()
        times, rows = [], None
        for i in range(args.runs + 1):  # first run = warmup
            t0 = time.time()
            rows = warc_src.read_warc(archives).count()
            dt = time.time() - t0
            if i:
                times.append(round(dt, 2))
        user1, steal1 = box.steal_ticks()
        best = min(times)
        rec = {"leg": "warc_gz_read", "docs": rows, "files": n_files,
               "max_partition_mb": args.max_partition_mb,
               "corpus_bytes": corpus_bytes, "runs_sec": times,
               "best_sec": best, "docs_per_sec": round(rows / best, 1),
               "bytes_per_sec": round(corpus_bytes / best, 1),
               "vm_user_ticks": user1 - user0,
               "vm_steal_ticks": steal1 - steal0}
        print(json.dumps(rec), flush=True)
        results.append(rec)

    if len(results) >= 2:
        a, b = results[0], results[-1]
        scale = b["docs"] / a["docs"]
        print(json.dumps({
            "leg": "warc_gz_read_curve",
            "scale_factor": round(scale, 2),
            "bytes_ratio": round(b["corpus_bytes"] / a["corpus_bytes"], 2),
            "time_ratio": round(b["best_sec"] / a["best_sec"], 2),
            "per_doc_cost_ratio": round(
                (b["best_sec"] / b["docs"]) / (a["best_sec"] / a["docs"]), 3),
        }), flush=True)
    if not args.keep:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
