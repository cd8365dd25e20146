"""North-rule scaling evidence (BASELINE.md protocol): run one leg set of
tools/leg_run.py over identical pre-materialized input at local[N] and
local[4N] (the one-box substitute for N vs 4N executors), N = a quarter
of this box's cores, each level in a FRESH taskset-pinned JVM, with the
host's steal ticks taken around both levels, and report per-leg best
seconds and scaling efficiency.

    python tools/scaling_bench.py flagship [--docs 1000000] [--runs 3]
    python tools/scaling_bench.py weblog [--docs 1000000] [--events 4000000]

flagship is parse->dedup->enrich->route->aggregate; weblog is the web-log
operators plus the WARC pack and read legs. Writes
BENCH/<leg_set>_scaling_latest.md and prints the summary JSON last.

Data-scale curve mode (the other axis: docs x10 at all of the box's
cores — does per-doc flagship cost stay flat as the corpus grows?):

    python tools/scaling_bench.py flagship --curve-docs 1000000 10000000
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import box  # noqa: E402
from tools.leg_run import LEG_SETS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _build_session(app: str):
    from blog_parser_spark.session import get_spark

    spark = get_spark(app, master=f"local[{box.cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _parts() -> int:
    # 8 input partitions per core, so the 4N level still runs 8 waves
    return 8 * box.cores()


def build_corpus(target_docs: int) -> str:
    from blog_parser_spark.sources import io

    spark = _build_session("scaling-build")
    n_raw = io.read_table(spark, SF_DIR, "documents").count()
    replicate = max(1, -(-target_docs // n_raw))
    path = box.cached_parquet(
        f"/tmp/scaling_pages_{n_raw}x{replicate}.parquet",
        lambda: io.synth_pages(spark, SF_DIR, replicate=replicate)
        .repartition(_parts()))
    spark.stop()
    return path


def build_weblog_corpora(target_docs: int, target_events: int) -> list[str]:
    """docs, events, rendered pages, packed plain and packed .warc.gz
    archives: the five inputs of leg_run's weblog set."""
    from pyspark.sql import functions as F

    from blog_parser_spark.sources import io, warc

    spark = _build_session("weblog-build")

    def tile(df, k: int, **step: int):
        # k copies; copy i adds i * step to each named id column
        df = df.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        for col, s in step.items():
            df = df.withColumn(col, F.col(col)
                               + F.col("i").cast("long") * F.lit(s))
        return df.drop("i").repartition(_parts())

    docs = io.read_table(spark, SF_DIR, "documents")
    n = docs.count()
    rep = max(1, -(-target_docs // n))
    # doc_id offset keeps ids unique; source UNCHANGED so per-site
    # frequencies stay realistic (each site just has rep x more docs)
    docs_path = box.cached_parquet(f"/tmp/weblog_docs_{n}x{rep}.parquet",
                                   lambda: tile(docs, rep, doc_id=10**9))
    ev = io.read_table(spark, SF_DIR, "events")
    n_ev = ev.count()
    rep_e = max(1, -(-target_events // n_ev))
    # user offset grows the user population with the corpus (the
    # realistic axis: more traffic = more users, not 4x-duplicated
    # single-user histories, which would skew the per-user windows)
    ev_path = box.cached_parquet(
        f"/tmp/weblog_events_{n_ev}x{rep_e}.parquet",
        lambda: tile(ev, rep_e, event_id=10**9, user_id=10**6))
    # rendered pages for the WARC pack leg — same cache path scheme as
    # bench.py so the corpus is shared across harnesses
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    pages_path = box.cached_parquet(
        f"/tmp/bench_pages_sf{sf}_x{rep}.parquet",
        lambda: io.synth_pages(spark, SF_DIR, replicate=rep)
        .repartition(_parts()))
    # pre-packed archives for the WARC read legs, plain and per-record
    # gzip (Common Crawl's production layout); packing is timed as its
    # own leg, production only ever runs one direction at a time
    packed = [box.cached_parquet(
        f"/tmp/bench_warc{kind}_sf{sf}_x{rep}.parquet",
        lambda: pack(spark.read.parquet(pages_path), 1000))
        for kind, pack in (("", warc.pack_warc_files),
                           ("_gz", warc.pack_warc_gz_files))]
    spark.stop()
    return [docs_path, ev_path, pages_path, *packed]


def run_legs(leg_set: str, paths: list[str], cores: int, runs: int) -> dict:
    # taskset pins the whole Spark process tree (JVM + python workers)
    # to exactly `cores` CPUs — the faithful emulation of an N-executor
    # cluster where JVM and python workers share the executor's cores.
    # Without pinning, the small run's JVM free-rides on idle cores and
    # inflates the baseline, understating true cluster scaling.
    out = subprocess.run(
        box.taskset(cores) + [sys.executable, "tools/leg_run.py", leg_set,
                              str(runs), *paths],
        capture_output=True, text=True, check=True)
    line = out.stdout.strip().splitlines()[-1]
    print(line, flush=True)
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("leg_set", choices=sorted(LEG_SETS))
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--events", type=int, default=4_000_000,
                    help="weblog only")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--curve-docs", type=int, nargs="+", default=None,
                    help="flagship only: doc counts at all of the box's cores")
    args = ap.parse_args()

    if args.curve_docs:
        if args.leg_set != "flagship":
            ap.error("--curve-docs runs the flagship leg set only")
        recs = [run_legs("flagship", [build_corpus(docs)], box.cores(),
                         args.runs) for docs in args.curve_docs]
        a, b = recs[0], recs[-1]
        ta, tb = a["flagship"]["best_sec"], b["flagship"]["best_sec"]
        print(json.dumps({
            "leg": "flagship_data_curve", "cores": box.cores(),
            "scale_factor": round(b["docs"] / a["docs"], 2),
            "time_ratio": round(tb / ta, 2),
            "per_doc_cost_ratio": round((tb / b["docs"]) / (ta / a["docs"]), 3),
        }))
        return

    n = box.cores() // 4
    if n == 0:
        raise SystemExit(f"N vs 4N needs >= 4 cores, this box has {box.cores()}")
    paths = ([build_corpus(args.docs)] if args.leg_set == "flagship"
             else build_weblog_corpora(args.docs, args.events))
    u0, s0 = box.steal_ticks()
    lo, hi = (run_legs(args.leg_set, paths, c, args.runs) for c in (n, 4 * n))
    u1, s1 = box.steal_ticks()

    legs = [k for k, v in lo.items() if isinstance(v, dict)]
    counts = {k: v for k, v in lo.items()
              if k != "cores" and not isinstance(v, dict)}
    summary: dict[str, object] = {
        "leg_set": args.leg_set, "n": n, **counts,
        "steal_user_ratio": round((s1 - s0) / max(1, u1 - u0), 3)}
    for leg in legs:
        a, b = lo[leg]["best_sec"], hi[leg]["best_sec"]
        summary[leg] = {f"sec_{n}": a, f"sec_{4 * n}": b,
                        "scaling_efficiency": round(a / (4 * b), 3)}

    # raw per-run report; BENCH/BASELINE.md is the curated writeup (with
    # the control experiments) and is updated by hand from this file
    rows = "\n".join(
        f"| {leg} | {lo[leg]['runs_sec']} | {hi[leg]['runs_sec']} | "
        f"{summary[leg]['scaling_efficiency']} |"  # type: ignore[index]
        for leg in legs)
    inputs = ", ".join(f"{v} {k}" for k, v in counts.items())
    os.makedirs("BENCH", exist_ok=True)
    with open(f"BENCH/{args.leg_set}_scaling_latest.md", "w") as f:
        f.write(f"""# BENCH {args.leg_set} scaling run ({date.today().isoformat()})

North-rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors. One-box substitute (BASELINE.md protocol): identical
pre-materialized input ({inputs}), a fresh JVM per level pinned to N or
4N of this box's {box.cores()} cores, one warmup then {args.runs} timed
runs per leg. Host steal/user ratio across both levels:
{summary['steal_user_ratio']} (same-session ratios only).

| leg | local[{n}] runs (s) | local[{4 * n}] runs (s) | efficiency |
| --- | --- | --- | --- |
{rows}

efficiency = best sec at local[{n}] / (4 x best sec at local[{4 * n}]).
Input: {', '.join(paths)}. Cold-start (worker spawn + codegen) is
excluded via the warmup run — a per-executor constant, not a per-byte
cost.
""")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
