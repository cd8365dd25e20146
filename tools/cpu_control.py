"""Hardware-ceiling control for the scaling protocol (no Spark involved):
P pinned worker processes each parse a DISTINCT stream of rendered docs
with the same spec.parse_document the engine runs, giving the box's raw
parse capacity at P active cores. The ratio control(4N)/4*control(N) is the
pure-CPU/memory ceiling against which the engine's measured Spark scaling
is judged (BENCH/BASELINE.md). P runs over 1, N and 4N (N = a quarter
of this box's cores), each worker pinned to its own CPU of the mask.

    python tools/cpu_control.py [--docs-per-proc 600000]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import box  # noqa: E402


def _worker(args) -> float:
    wid, n_docs, cpu = args
    os.sched_setaffinity(0, {cpu})
    import duckdb
    from blog_parser_spark import spec
    rows = duckdb.sql(
        "select text from '/root/testdata/sf0.01/documents.parquet'").fetchall()
    # EVERY parsed doc is a distinct pre-rendered string (worker id + rep +
    # index baked in): nothing is cache-resident across parses, so the
    # measured ceiling carries the same memory-traffic profile as the Spark
    # runs it is compared against (~550 B/doc -> ~33 MB per worker).
    base = [r[0] for r in rows]
    reps = -(-n_docs // len(base))
    htmls = [spec.render_html(f"{t} w{wid} r{rep} i{i}")
             for rep in range(reps) for i, t in enumerate(base)][:n_docs]
    t0 = time.time()
    for h in htmls:
        spec.parse_document(h)
    return time.time() - t0


def measure(procs: int, docs_per_proc: int) -> float:
    with mp.get_context("spawn").Pool(procs) as pool:
        walls = pool.map(_worker,
                         [(i, docs_per_proc, cpu) for i, cpu
                          in enumerate(box.cpu_ids()[:procs])])
    total_docs = procs * docs_per_proc
    return total_docs / max(walls)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs-per-proc", type=int, default=600000)
    args = ap.parse_args()
    out = {}
    for p in box.widths():
        qps = measure(p, args.docs_per_proc)
        out[p] = round(qps, 1)
        print(json.dumps({"procs": p, "docs_per_sec": out[p],
                          "per_core": round(qps / p, 1)}), flush=True)
    ps = sorted(out)
    for a, b in zip(ps, ps[1:]):
        ratio = out[b] / (out[a] * (b / a))
        print(json.dumps({"pair": f"{a}->{b}",
                          "hw_ceiling_efficiency": round(ratio, 3)}))


if __name__ == "__main__":
    main()
