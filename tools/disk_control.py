"""Disk-bandwidth ceiling control (no Spark involved) — the missing
control for the 10M-doc training legs' super-linear growth.

BENCH/BASELINE.md attributes the 1M→10M legs' 12.6x/15.6x wall growth
per 10x docs to all 32 threads sharing ONE virtio disk for shuffle
spill. This harness measures that disk's actual capacity with zero
Spark, the same way tools/cpu_control.py measures the CPU ceiling:

- sequential fsync'd WRITE bandwidth at 1, N and 4N pinned writer
  processes, N a quarter of this box's cores (distinct files, 4 MiB
  chunks, fsync included in the timed window so the page cache cannot
  hide the device);
- sequential READ bandwidth at the same widths after a global
  drop_caches (so reads hit the device, not the 125 GiB page cache);
- a MIXED leg (half writers, half readers, concurrent) — the closest
  zero-Spark analogue of simultaneous shuffle spill + fetch.

Run:  python tools/disk_control.py [--gb-per-proc 1.0] [--dir /tmp/diskctl]
Emits one JSON line (MB/s per leg + /proc/stat steal bookends); paste
into BENCH/BASELINE.md and divide Spark-leg disk traffic by these
numbers to get the floor the device imposes.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import box  # noqa: E402

CHUNK = 4 * 1024 * 1024


def _drop_caches() -> bool:
    try:
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
        return True
    except OSError:
        return False


def _write_worker(args) -> float:
    wid, path, n_bytes, cpu = args
    os.sched_setaffinity(0, {cpu})
    # incompressible-ish payload; generated once, reused (content cost ~0)
    buf = os.urandom(CHUNK)
    t0 = time.time()
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    left = n_bytes
    while left > 0:
        os.write(fd, buf if left >= CHUNK else buf[:left])
        left -= CHUNK
    os.fsync(fd)
    os.close(fd)
    return time.time() - t0


def _read_worker(args) -> float:
    wid, path, n_bytes, cpu = args
    os.sched_setaffinity(0, {cpu})
    t0 = time.time()
    fd = os.open(path, os.O_RDONLY)
    while os.read(fd, CHUNK):
        pass
    os.close(fd)
    return time.time() - t0


def _run_pool(worker, tasks) -> float:
    """Aggregate MB/s: total bytes / slowest worker wall."""
    with mp.get_context("spawn").Pool(len(tasks)) as pool:
        walls = pool.map(worker, tasks)
    total = sum(t[2] for t in tasks)
    return total / max(walls) / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gb-per-proc", type=float, default=1.0)
    ap.add_argument("--dir", default="/tmp/diskctl")
    args = ap.parse_args()

    os.makedirs(args.dir, exist_ok=True)
    n_bytes = int(args.gb_per_proc * (1 << 30))
    cpus = box.cpu_ids()
    out: dict[str, object] = {"leg": "disk_control",
                              "gb_per_proc": args.gb_per_proc,
                              "chunk_mb": CHUNK // (1 << 20)}
    user0, steal0 = box.steal_ticks()

    for p in box.widths():
        paths = [os.path.join(args.dir, f"w{p}_{i}.bin") for i in range(p)]
        tasks = [(i, paths[i], n_bytes, cpus[i]) for i in range(p)]
        out[f"write_{p}p_mbps"] = round(_run_pool(_write_worker, tasks), 1)
        dropped = _drop_caches()
        out[f"read_{p}p_mbps"] = round(_run_pool(_read_worker, tasks), 1)
        out[f"read_{p}p_cache_dropped"] = dropped
        for f in paths:
            os.remove(f)

    # mixed leg at the widest width: half write fresh files while half
    # read just-written-then-dropped ones — concurrent spill + fetch
    p = max(box.widths())
    half = p // 2
    rpaths = [os.path.join(args.dir, f"m_r{i}.bin") for i in range(half)]
    rtasks = [(i, rpaths[i], n_bytes, cpus[i]) for i in range(half)]
    for t in rtasks:
        _write_worker(t)
    dropped = _drop_caches()
    wpaths = [os.path.join(args.dir, f"m_w{i}.bin") for i in range(half)]
    wtasks = [(i, wpaths[i], n_bytes, cpus[half + i])
              for i in range(half)]
    with mp.get_context("spawn").Pool(p) as pool:
        t0 = time.time()
        rw = pool.map_async(_read_worker, rtasks)
        ww = pool.map_async(_write_worker, wtasks)
        walls = rw.get() + ww.get()
        wall = time.time() - t0
    out["mixed_total_mbps"] = round(p * n_bytes / wall / 1e6, 1)
    out["mixed_cache_dropped"] = dropped
    out["mixed_worker_walls_sec"] = [round(w, 2) for w in sorted(walls)]
    shutil.rmtree(args.dir, ignore_errors=True)

    user1, steal1 = box.steal_ticks()
    out["vm_user_ticks"] = user1 - user0
    out["vm_steal_ticks"] = steal1 - steal0
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
