#!/usr/bin/env python3
"""Seeded benchmark of the webtext pipeline; BENCHMARK.json describes it.

    python3 webbench/run.py --workload crawl_aggregate --seed 7 --seconds 25 --trace 0

Runs from the repository root. Generates (or reuses) the workload's input
for the seed, measures set-up, then runs timed passes for `--seconds`,
checking the output of every pass. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are
BENCHMARK.json's end-to-end ones with `--trace 0` and its per-layer ones
with `--trace 1`. The line before it records host noise. Everything the run
writes stays in `.webbench_work/` under the repository root; traced runs
leave their spans in `.webbench_work/traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".webbench_work")
CPUS = len(os.sched_getaffinity(0))
MIN_PASSES = 3     # timed passes even when --seconds runs out sooner
MIN_ROUNDS = 2     # traced rounds, so each layer has a spread


def _isolate() -> None:
    """Point every file Spark, the JVM and Python write into the work dir,
    and make the repository importable here and in Spark's Python workers.
    The engine otherwise runs `session.ENGINE_CONFS` as shipped: knobs a
    caller's environment could use to change them are cleared. Shuffle and
    spill go through the program's own SPARK_GRAFT_LOCAL_DIR knob to the
    work dir, not to its /dev/shm default, which is outside the repository.
    Must run before pyspark or blog_parser_spark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + ([os.environ["PYTHONPATH"]]
                     if os.environ.get("PYTHONPATH") else [])
    for knob in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        os.environ.pop(knob, None)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(path),
    })
    sys.path.insert(0, ROOT)


def _start_spark():
    from blog_parser_spark.session import get_spark
    spark = get_spark("webbench", master=f"local[{CPUS}]",
                      extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def _stop_spark() -> None:
    """Stop the session and the JVM, if started, and wait for the JVM to
    exit; reap_children then waits for the Python workers it forked."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _session(args, W, tracer, traced: bool = False):
    """Load the input, start Spark, warm up -> (workload, set-up seconds,
    status store and the warm-up's executions when traced)."""
    from webbench import engine, inputs
    inp, meta = inputs.load(WORK, W.kind, args.seed, W.size)
    out = os.path.join(WORK, "out", str(os.getpid()))
    t0 = time.perf_counter()
    spark = _start_spark()
    store = engine.StatusStore(spark) if traced else None
    wl = W(spark, tracer, inp, meta, out)
    wl.warm()
    setup = time.perf_counter() - t0
    return wl, setup, store, store.drain() if traced else []


def _rss_mb() -> tuple[float, float]:
    """Peak RSS of (the JVM, the Python workers it forked). The JVM's share
    follows the GC's adaptive heap sizing under the shipped 8g heap
    (2.3-4.8 GB over 40 runs, IQR/median up to 0.25); the workers' share
    stays within 2%."""
    from webbench import engine
    total = engine.peak_rss_mb(_jvm_pid())
    jvm = engine.peak_rss_mb(_jvm_pid(), with_children=False)
    return jvm, total - jvm


def _host(spark, ticks0) -> dict:
    from webbench import engine
    ref = engine.reference_leg(spark, CPUS)
    ticks1 = engine.cpu_ticks()
    return {"cpus": CPUS, "steal_user": engine.steal_ratio(ticks0, ticks1),
            "user_ticks": ticks1["user"] - ticks0["user"],
            "steal_ticks": ticks1["steal"] - ticks0["steal"],
            "reference_s": ref}


def _timed_passes(wl, seconds: float, min_passes: int, on_pass=None):
    """Passes until `seconds` ran out (at least min_passes) ->
    (pass walls, attempted, failed). A pass that raises or fails its check
    counts as failed; its wall is kept only when it completed."""
    walls, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while attempted < min_passes or time.perf_counter() < deadline:
        attempted += 1
        try:
            w, problems = wl.run_pass() if on_pass is None else on_pass()
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        walls.append(w)
        if problems:
            failed += 1
            print(json.dumps({"check_failed": problems}), file=sys.stderr)
    return walls, attempted, failed


def _result(attempted: int, failed: int, values: dict, units: dict) -> dict:
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}


def run_untraced(args, W, units: dict) -> dict:
    from webbench import engine, trace
    wl, setup, _, _ = _session(args, W, trace.Tracer(False))
    ticks0 = engine.cpu_ticks()
    walls, attempted, failed = _timed_passes(wl, args.seconds, MIN_PASSES)
    jvm_rss, python_rss = _rss_mb()
    host = _host(wl.spark, ticks0)
    if not walls:
        raise SystemExit("no pass completed")
    passes = [w["pass"] for w in walls]
    print(json.dumps({"host": host, "pass_s": passes,
                      "fail_ratio": failed / attempted,
                      "jvm_peak_rss_mb": jvm_rss}))
    return _result(attempted, failed, {
        "docs_per_s": wl.docs / statistics.median(passes),
        "setup_s": setup, "python_peak_rss_mb": python_rss}, units)


def run_traced(args, W, units: dict) -> dict:
    from webbench import engine, trace, workloads
    tracer = trace.Tracer(True)
    wl, _, store, warm_execs = _session(args, W, tracer, traced=True)
    # the first passes after the cold one run 10-30% slow while the JIT
    # settles; the paired passes of a round must not straddle that
    wl.run_pass(check=False)
    ticks0 = engine.cpu_ticks()
    rounds, untraced = [], []

    def one_round():
        tracer.new_trace()
        tracer.enabled = False
        w, problems = wl.run_pass()
        tracer.enabled = True
        untraced.append(w["pass"])
        store.skip()
        with tracer.span("round"):
            walls, counters, more = wl.trace_round(store)
        rounds.append((walls, counters))
        return walls, problems + more

    _, attempted, failed = _timed_passes(wl, args.seconds, MIN_ROUNDS,
                                          one_round)
    once, problems = wl.trace_once(store)
    attempted += 1
    if problems:
        failed += 1
        print(json.dumps({"check_failed": problems}), file=sys.stderr)
    jvm_rss, python_rss = _rss_mb()
    host = _host(wl.spark, ticks0)
    if not rounds:
        raise SystemExit("no traced round completed")

    layer_walls = {k: [w[k] for w, _ in rounds]
                   for k in rounds[0][0] if k != "pass"}
    if W.cumulative:
        selfs = trace.prefix_self_times(layer_walls)
    else:
        selfs = {k: statistics.median(v) for k, v in layer_walls.items()}
    metrics = dict.fromkeys(units, 0.0)
    for layer, v in selfs.items():
        name = "io.scan_s" if layer == "io" else f"{layer}.self_s"
        if name in metrics:
            metrics[name] = v
    for k in rounds[0][1]:
        metrics[k] = statistics.median(c[k] for _, c in rounds)
    metrics.update(once)
    metrics["parse.python_init_s"] = workloads.python_init_s(warm_execs)
    metrics["memory.jvm_peak_rss_mb"] = jvm_rss
    metrics["memory.peak_rss_mb"] = jvm_rss + python_rss
    metrics["trace.overhead_ratio"] = (
        statistics.median(w["pass"] for w, _ in rounds)
        / statistics.median(untraced))
    # a layer whose self time is inside the prefixes' run-to-run spread
    # cannot be told apart from noise
    spread = max((max(v) - min(v) for v in layer_walls.values()), default=0.0)
    unresolved = sorted(k for k, v in selfs.items()
                        if len(rounds) < 2 or abs(v) < spread)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces",
                        f"{args.workload}-s{args.seed}-{int(time.time())}.json")
    tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                       "host": host, "metrics": metrics,
                       "layer_walls": layer_walls, "untraced_pass_s": untraced,
                       "unresolved": unresolved})
    print(json.dumps({"host": host, "trace": os.path.relpath(path, ROOT),
                      "unresolved": unresolved, "rounds": len(rounds)}))
    return _result(attempted, failed, metrics, units)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _isolate()
    from webbench import engine
    engine.become_subreaper()
    # a terminated run still stops Spark and reaps its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = _main(ap, args)
    finally:
        engine.reap_children(timeout=30)
    print(json.dumps(result))


def _main(ap, args) -> dict:
    from webbench import inputs, workloads
    W = workloads.WORKLOADS.get(args.workload)
    if W is None:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    inputs.check_renderers()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    try:
        return (run_traced if args.trace else run_untraced)(args, W, units)
    finally:
        _stop_spark()
        shutil.rmtree(os.path.join(WORK, "out", str(os.getpid())),
                      ignore_errors=True)


if __name__ == "__main__":
    main()
