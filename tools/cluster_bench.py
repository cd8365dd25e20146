"""North-rule scaling on a REAL multi-executor standalone cluster — the
literal protocol: `spark-submit --py-files` against a Spark standalone
master, at 1 and 4 EXECUTORS (separate worker JVMs of a quarter of this
box's cores each, every worker process-tree pinned to its own disjoint
CPU set, executor memory an eighth of the box's), same pre-materialized
input, fresh driver per leg. The driver is not pinned: it shares the
box's cores with the executors.

    python tools/cluster_bench.py [--docs 4000000] [--runs 3]

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import box  # noqa: E402
from tools.scaling_bench import build_corpus  # noqa: E402

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


def run_leg(corpus: str, n_workers: int, n_runs: int) -> dict:
    """Start master + n_workers pinned workers, submit the job, tear down."""
    executor_cores = box.cores() // 4
    # the 4-executor leg's heaps take at most half the box's memory
    executor_mem = f"{max(1, box.mem_gb() // 8)}g"
    procs: list[subprocess.Popen] = []
    try:
        m = _spawn([f"{PYSPARK_BIN}/spark-class",
                    "org.apache.spark.deploy.master.Master",
                    "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8091"],
                   "/tmp/cluster_master.log")
        procs.append(m)
        _wait_for("/tmp/cluster_master.log", "I have been elected leader")
        for w in range(n_workers):
            # taskset pins the WORKER's whole process tree — its executor
            # JVM and that executor's python workers — to a disjoint CPU
            # set, the faithful one-box emulation of separate hosts
            wp = _spawn(box.taskset(executor_cores, w * executor_cores) + [
                         f"{PYSPARK_BIN}/spark-class",
                         "org.apache.spark.deploy.worker.Worker",
                         MASTER_URL, "-c", str(executor_cores),
                         "-m", executor_mem,
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
             "--conf", f"spark.executor.memory={executor_mem}",
             "--conf", f"spark.cores.max={total}",
             "--conf", f"spark.sql.shuffle.partitions={4 * total}",
             "--conf", "spark.sql.adaptive.enabled=true",
             "--conf", "spark.sql.session.timeZone=UTC",
             "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
             "--conf", "spark.local.dir=/dev/shm/spark_graft_local",
             # GC threads default to the pinned executor's cores
             "--conf", "spark.executor.extraJavaOptions=-XX:+UseParallelGC",
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
    args = ap.parse_args()
    if box.cores() < 4:
        raise SystemExit(f"1 vs 4 executors needs >= 4 cores, this box has "
                         f"{box.cores()}")

    corpus = build_corpus(args.docs)
    # ship the working tree's package, never a stale prebuilt archive
    subprocess.run(["make", "dist"], check=True)

    k = box.cores() // 4
    u0, s0 = box.steal_ticks()
    lo = run_leg(corpus, 1, args.runs)
    print(json.dumps(lo))
    hi = run_leg(corpus, 4, args.runs)
    print(json.dumps(hi))
    u1, s1 = box.steal_ticks()

    eff = hi["docs_per_sec"] / (4 * lo["docs_per_sec"])
    summary = {"docs": lo["docs"],
               f"qps_1x{k}": lo["docs_per_sec"],
               f"qps_4x{k}": hi["docs_per_sec"],
               "scaling_efficiency": round(eff, 3),
               "required": 0.8, "pass": eff >= 0.8,
               "steal_user_ratio": round((s1 - s0) / max(1, u1 - u0), 3)}

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cluster_scaling.md", "w") as f:
        f.write(f"""# Standalone-cluster N vs 4N executors ({date.today().isoformat()})

The north rule's literal execution shape: `spark-submit --py-files
dist/blog_parser_spark.zip` against a Spark standalone master with
SEPARATE worker JVMs (one executor each, {k} of this box's {box.cores()}
cores, process-tree pinned to disjoint CPU sets; the unpinned driver
shares those cores), fresh driver per leg, same pre-materialized
{lo['docs']}-doc corpus, one warmup then best of {args.runs} runs. Host
steal/user ratio across both legs: {summary['steal_user_ratio']}.

| cluster | docs/s (best) | raw runs (s) |
| --- | --- | --- |
| 1 executor x {k} cores | {lo['docs_per_sec']} | {lo['runs_sec']} |
| 4 executors x {k} cores | {hi['docs_per_sec']} | {hi['runs_sec']} |

**scaling efficiency = {eff:.3f}** (criterion >= 0.8:
{"PASS" if eff >= 0.8 else "FAIL"}). The same shared-VM hardware ceiling
measured in BENCH/BASELINE.md applies — all 4 executors share one
memory system and frequency budget, unlike a real 4N-host cluster.
""")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
