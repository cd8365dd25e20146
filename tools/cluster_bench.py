"""North-rule scaling on a REAL multi-executor standalone cluster — the
literal protocol: `spark-submit --py-files` against a Spark standalone
master, at cluster sizes N and 4N EXECUTORS (separate worker JVMs, 8
cores each, every worker process-tree pinned to its own disjoint CPU
set), same pre-materialized input, fresh driver per leg.

    python tools/cluster_bench.py [--docs 4000000] [--runs 3]
       [--executor-cores 8] [--small 1] [--big 4]

local[N] emulates executor threads inside one JVM; this tool runs the
actual distributed topology — per-executor JVMs, real shuffle service
paths, py-files shipping — on one box. The shared-VM hardware ceiling
(BENCH/BASELINE.md) applies identically.

Writes BENCH/cluster_scaling.md and prints the efficiency JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from datetime import date

sys.path.insert(0, ".")

PYSPARK_BIN = os.path.join(
    os.path.dirname(os.path.abspath(__import__("pyspark").__file__)), "bin")
MASTER_URL = "spark://127.0.0.1:7077"


def _spawn(cmd: list[str], log: str, env: dict | None = None) -> subprocess.Popen:
    e = dict(os.environ)
    e.setdefault("SPARK_NO_DAEMONIZE", "1")
    if env:
        e.update(env)
    return subprocess.Popen(
        cmd, stdout=open(log, "w"), stderr=subprocess.STDOUT, env=e,
        preexec_fn=os.setsid)


def _wait_for(log: str, needle: str, timeout: int = 60) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if os.path.exists(log) and needle in open(log, errors="ignore").read():
            return
        time.sleep(0.5)
    raise RuntimeError(f"'{needle}' not seen in {log} within {timeout}s")


def _kill(p: subprocess.Popen) -> None:
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGTERM)
    except ProcessLookupError:
        pass


def run_leg(corpus: str, n_workers: int, executor_cores: int,
            n_runs: int) -> dict:
    """Start master + n_workers pinned workers, submit the job, tear down."""
    procs: list[subprocess.Popen] = []
    try:
        m = _spawn([f"{PYSPARK_BIN}/spark-class",
                    "org.apache.spark.deploy.master.Master",
                    "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8091"],
                   "/tmp/cluster_master.log")
        procs.append(m)
        _wait_for("/tmp/cluster_master.log", "I have been elected leader")
        for w in range(n_workers):
            lo, hi = w * executor_cores, (w + 1) * executor_cores - 1
            # taskset pins the WORKER's whole process tree — its executor
            # JVM and that executor's python workers — to a disjoint CPU
            # set, the faithful one-box emulation of separate hosts
            wp = _spawn(["taskset", "-c", f"{lo}-{hi}",
                         f"{PYSPARK_BIN}/spark-class",
                         "org.apache.spark.deploy.worker.Worker",
                         MASTER_URL, "-c", str(executor_cores), "-m", "14g",
                         "-h", "127.0.0.1", "--webui-port", str(8191 + w),
                         "-d", f"/tmp/cluster_worker_{w}"],
                        f"/tmp/cluster_worker_{w}.log")
            procs.append(wp)
        for w in range(n_workers):
            _wait_for(f"/tmp/cluster_worker_{w}.log",
                      "Successfully registered with master")
        total = n_workers * executor_cores
        out = subprocess.run(
            [f"{PYSPARK_BIN}/spark-submit", "--master", MASTER_URL,
             "--py-files", "dist/blog_parser_spark.zip",
             "--conf", f"spark.executor.cores={executor_cores}",
             "--conf", "spark.executor.memory=12g",
             "--conf", f"spark.cores.max={total}",
             "--conf", f"spark.sql.shuffle.partitions={4 * total}",
             "--conf", "spark.sql.adaptive.enabled=true",
             "--conf", "spark.sql.session.timeZone=UTC",
             "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
             "--conf", "spark.local.dir=/dev/shm/spark_graft_local",
             "--conf", "spark.executor.extraJavaOptions="
                       "-XX:+UseParallelGC -XX:ParallelGCThreads=8",
             "tools/cluster_run.py", corpus, str(n_runs)],
            capture_output=True, text=True, timeout=1200)
        json_lines = [ln for ln in out.stdout.strip().splitlines()
                      if ln.startswith("{")]
        if out.returncode != 0 or not json_lines:
            raise RuntimeError(
                f"spark-submit leg failed (rc={out.returncode}); "
                f"stderr tail:\n{out.stderr[-3000:]}")
        leg = json.loads(json_lines[-1])
        leg["workers"] = n_workers
        return leg
    finally:
        for p in reversed(procs):
            _kill(p)
        time.sleep(2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=4_000_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--executor-cores", type=int, default=8)
    ap.add_argument("--small", type=int, default=1, help="N workers")
    ap.add_argument("--big", type=int, default=4, help="4N workers")
    args = ap.parse_args()

    from tools.scaling_bench import build_corpus
    corpus = build_corpus(args.docs)
    # ship the working tree's package, never a stale prebuilt archive
    subprocess.run(["make", "dist"], check=True)

    lo = run_leg(corpus, args.small, args.executor_cores, args.runs)
    print(json.dumps(lo))
    hi = run_leg(corpus, args.big, args.executor_cores, args.runs)
    print(json.dumps(hi))

    factor = args.big / args.small
    eff = hi["docs_per_sec"] / (factor * lo["docs_per_sec"])
    summary = {"docs": lo["docs"],
               f"qps_{args.small}x{args.executor_cores}": lo["docs_per_sec"],
               f"qps_{args.big}x{args.executor_cores}": hi["docs_per_sec"],
               "scaling_efficiency": round(eff, 3),
               "required": 0.8, "pass": eff >= 0.8}
    print(json.dumps(summary))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cluster_scaling.md", "w") as f:
        f.write(f"""# Standalone-cluster N vs 4N executors ({date.today().isoformat()})

The north rule's literal execution shape: `spark-submit --py-files
dist/blog_parser_spark.zip` against a Spark standalone master with
SEPARATE worker JVMs (one executor each, {args.executor_cores} cores,
process-tree pinned to disjoint CPU sets), fresh driver per leg, same
pre-materialized {lo['docs']}-doc corpus, one warmup then best of
{args.runs} runs.

| cluster | docs/s (best) | raw runs (s) |
| --- | --- | --- |
| {args.small} executor x {args.executor_cores} cores | {lo['docs_per_sec']} | {lo['runs_sec']} |
| {args.big} executors x {args.executor_cores} cores | {hi['docs_per_sec']} | {hi['runs_sec']} |

**scaling efficiency = {eff:.3f}** (criterion >= 0.8:
{"PASS" if eff >= 0.8 else "FAIL"}). The same shared-VM hardware ceiling
measured in BENCH/BASELINE.md applies — all {args.big} executors share
one memory system and frequency budget, unlike a real 4N-host cluster.
""")


if __name__ == "__main__":
    main()
