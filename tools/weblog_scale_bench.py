"""N-vs-4N scaling evidence for the round-4 web-log operators
(boilerplate strip, rolling distinct users, last-touch attribution) —
the same protocol as tools/scaling_bench.py: identical pre-materialized
input, fresh taskset-pinned JVM per parallelism level, one warmup then
best-of-N, steal-tick bookends so a polluted session is self-evident.

    taskset is applied INSIDE (the orchestrator itself is unpinned).
    python tools/weblog_scale_bench.py [--docs 1000000] [--events 4000000]

Writes BENCH/weblog_scaling_latest.md and prints the summary JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from datetime import date

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[1]), int(parts[8])


def build_corpora(target_docs: int,
                  target_events: int) -> tuple[str, str, str, str, str]:
    from pyspark.sql import functions as F

    from blog_parser_spark.session import get_spark
    from blog_parser_spark.sources import io

    spark = get_spark("weblog-build", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    docs = io.read_table(spark, SF_DIR, "documents")
    n = docs.count()
    rep = max(1, -(-target_docs // n))
    docs_path = f"/tmp/weblog_docs_{n}x{rep}.parquet"
    if not os.path.exists(docs_path):
        tmp = docs_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # doc_id offset keeps ids unique; source UNCHANGED so per-site
        # frequencies stay realistic (each site just has rep x more docs)
        (docs.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
         .withColumn("doc_id", F.col("doc_id")
                     + F.col("i").cast("long") * F.lit(10**9))
         .drop("i").repartition(128).write.mode("overwrite").parquet(tmp))
        os.rename(tmp, docs_path)

    ev = io.read_table(spark, SF_DIR, "events")
    n_ev = ev.count()
    rep_e = max(1, -(-target_events // n_ev))
    ev_path = f"/tmp/weblog_events_{n_ev}x{rep_e}.parquet"
    if not os.path.exists(ev_path):
        tmp = ev_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # user offset grows the user population with the corpus (the
        # realistic axis: more traffic = more users, not 4x-duplicated
        # single-user histories, which would skew the per-user windows)
        (ev.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(rep_e - 1))))
         .withColumn("event_id", F.col("event_id")
                     + F.col("i").cast("long") * F.lit(10**9))
         .withColumn("user_id", F.col("user_id")
                     + F.col("i").cast("long") * F.lit(10**6))
         .drop("i").repartition(128).write.mode("overwrite").parquet(tmp))
        os.rename(tmp, ev_path)

    # rendered pages for the WARC pack leg — same cache path scheme as
    # bench.py so the corpus is shared across harnesses
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    pages_path = f"/tmp/bench_pages_sf{sf}_x{rep}.parquet"
    if not os.path.exists(pages_path):
        tmp = pages_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (io.synth_pages(spark, SF_DIR, replicate=rep)
         .repartition(128).write.mode("overwrite").parquet(tmp))
        os.rename(tmp, pages_path)

    # pre-packed archives for the WARC read leg (pack timed separately;
    # production only ever runs one direction at a time)
    from blog_parser_spark.sources import warc
    packed_path = f"/tmp/bench_warc_sf{sf}_x{rep}.parquet"
    if not os.path.exists(packed_path):
        tmp = packed_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (warc.pack_warc_files(spark.read.parquet(pages_path), 1000)
         .write.mode("overwrite").parquet(tmp))
        os.rename(tmp, packed_path)

    # per-record-gzip archives for the gz ingest leg (Common Crawl's
    # production layout)
    packed_gz_path = f"/tmp/bench_warc_gz_sf{sf}_x{rep}.parquet"
    if not os.path.exists(packed_gz_path):
        tmp = packed_gz_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (warc.pack_warc_gz_files(spark.read.parquet(pages_path), 1000)
         .write.mode("overwrite").parquet(tmp))
        os.rename(tmp, packed_gz_path)
    spark.stop()
    return docs_path, ev_path, pages_path, packed_path, packed_gz_path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--events", type=int, default=4_000_000)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    docs_path, ev_path, pages_path, packed_path, packed_gz_path = \
        build_corpora(args.docs, args.events)
    u0, s0 = _cpu_ticks()
    results = {}
    for cores in (args.n, 4 * args.n):
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable,
             "tools/leg_run.py", "weblog", str(cores), str(args.runs),
             docs_path, ev_path, pages_path, packed_path, packed_gz_path],
            capture_output=True, text=True, check=True)
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        print(out.stdout.strip().splitlines()[-1])
    u1, s1 = _cpu_ticks()

    lo, hi = results[args.n], results[4 * args.n]
    legs = ["boilerplate_strip", "rolling_distinct_users",
            "attribution_last_touch", "heavy_hitters_exact",
            "robots_politeness", "url_path_templates",
            "warc_pack", "warc_read", "warc_read_gz", "warc_pack_bucketed"]
    summary: dict[str, object] = {
        "docs": lo["docs"], "events": lo["events"],
        "steal_user_ratio": round((s1 - s0) / max(1, u1 - u0), 3),
    }
    for leg in legs:
        eff = lo[leg]["best_sec"] / (4 * hi[leg]["best_sec"])
        summary[leg] = {
            f"sec_{args.n}": lo[leg]["best_sec"],
            f"sec_{4 * args.n}": hi[leg]["best_sec"],
            "scaling_efficiency": round(eff, 3),
        }
    print(json.dumps(summary))

    os.makedirs("BENCH", exist_ok=True)
    rows = "\n".join(
        f"| {leg} | {lo[leg]['best_sec']} | {hi[leg]['best_sec']} | "
        f"{summary[leg]['scaling_efficiency']} |"  # type: ignore[index]
        for leg in legs)
    with open("BENCH/weblog_scaling_latest.md", "w") as f:
        f.write(f"""# BENCH weblog scaling run ({date.today().isoformat()})

Same protocol as tools/scaling_bench.py (fresh pinned JVM per level,
one warmup, best of {args.runs}); input {lo['docs']} docs /
{lo['events']} events; session steal/user ratio
{summary['steal_user_ratio']} (same-session ratios only).

| leg | local[{args.n}] best s | local[{4 * args.n}] best s | efficiency |
| --- | --- | --- | --- |
{rows}

efficiency = sec_{args.n} / (4 x sec_{4 * args.n}); raw runs in the JSON
lines above (stdout).
""")


if __name__ == "__main__":
    main()
