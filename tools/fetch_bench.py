"""Random-access scale evidence for warc.fetch_by_index: recovering a
small wanted-url set from a large .warc.gz corpus must cost the touched
archives, not the corpus.

Protocol: build an N-doc corpus packed as .warc.gz archives of
`--docs-per-file` records on local disk, CDX-index it ONCE to parquet
(the sidecar a real crawl already has), then time three things:

- full_scan:        read_warc over every archive (the no-index baseline);
- fetch_clustered:  fetch K urls that live in ~K/docs_per_file archives
                    (the typical "re-fetch this crawl segment" shape) —
                    should cost ~(touched/total) of the scan;
- fetch_scattered:  fetch K urls spread one-per-archive (worst case:
                    every archive is touched, but only ONE gzip member
                    per archive is gunzipped) — isolates the
                    member-seek saving from the archive-pruning saving.

Run:  python tools/fetch_bench.py [--docs 1000000]
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

WORK = "/tmp/fetch_bench"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--docs-per-file", type=int, default=1000)
    ap.add_argument("--wanted", type=int, default=1000)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from blog_parser_spark.session import get_spark
    from blog_parser_spark.sources import io
    from blog_parser_spark.sources import warc as warc_src

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark("fetch-bench", master=f"local[{box.cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    user0, steal0 = box.steal_ticks()

    n_base = io.read_table(spark, args.sf_dir, "documents").count()
    pages = io.synth_pages(spark, args.sf_dir,
                           replicate=max(1, args.docs // n_base))
    n_docs = pages.count()

    # materialize archives as a parquet table of (warc_file, content) —
    # the stand-in for an archive prefix on object storage
    arch_dir = os.path.join(WORK, "archives.parquet")
    (warc_src.pack_warc_gz_files(pages, docs_per_file=args.docs_per_file)
     .write.mode("overwrite").parquet(arch_dir))
    archives = spark.read.parquet(arch_dir)
    n_files = archives.count()

    # the CDX sidecar, built once (a real crawl ships it with the data)
    idx_dir = os.path.join(WORK, "cdx.parquet")
    warc_src.cdx_index(archives).write.mode("overwrite").parquet(idx_dir)
    index = spark.read.parquet(idx_dir)

    did = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    urls = index.where(F.col("url").isNotNull())
    # clustered: the first `wanted` docs by packer order -> they share
    # ~wanted/docs_per_file archives
    clustered = (urls.orderBy("warc_file", "rec_idx")
                 .limit(args.wanted).select("url"))
    # scattered: rec_idx==0 of each archive, capped at `wanted`
    scattered = (urls.where(F.col("rec_idx") == 0)
                 .orderBy("warc_file").limit(args.wanted).select("url"))

    def timed(fn):
        best = None
        for _ in range(args.runs):
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 2), n

    full_sec, full_rows = timed(
        lambda: warc_src.read_warc(archives).count())
    clu_sec, clu_rows = timed(
        lambda: warc_src.fetch_by_index(archives, index, clustered).count())
    sca_sec, sca_rows = timed(
        lambda: warc_src.fetch_by_index(archives, index, scattered).count())

    user1, steal1 = box.steal_ticks()
    touched = max(1, args.wanted // args.docs_per_file)
    print(json.dumps({
        "leg": "fetch_bench", "docs": n_docs, "files": n_files,
        "docs_per_file": args.docs_per_file, "wanted": args.wanted,
        "full_scan_sec": full_sec, "full_scan_rows": full_rows,
        "fetch_clustered_sec": clu_sec, "fetch_clustered_rows": clu_rows,
        "fetch_clustered_files_touched": touched,
        "fetch_scattered_sec": sca_sec, "fetch_scattered_rows": sca_rows,
        "fetch_scattered_files_touched": min(args.wanted, n_files),
        "speedup_clustered": round(full_sec / max(clu_sec, 1e-9), 1),
        "speedup_scattered": round(full_sec / max(sca_sec, 1e-9), 1),
        "vm_user_ticks": user1 - user0,
        "vm_steal_ticks": steal1 - steal0,
    }), flush=True)


if __name__ == "__main__":
    main()
