"""The box a measurement tool runs on, read once per call: cores from the
affinity mask (so `taskset` is the only core count), memory from
/proc/meminfo, the host's user/steal ticks, and the one cached-corpus
writer the benches share. Every tool sizes itself from these, so none
takes a core or memory option."""

from __future__ import annotations

import os
import shutil
from typing import Callable


def cores() -> int:
    """CPUs this process may run on (its affinity mask, not the host)."""
    return len(os.sched_getaffinity(0))


def cpu_ids() -> list[int]:
    """The ids of those CPUs, ascending — what `taskset -c` takes."""
    return sorted(os.sched_getaffinity(0))


def widths() -> list[int]:
    """1, N and 4N without repeats, N a quarter of the cores: the process
    counts of the zero-Spark controls."""
    n = cores() // 4
    return sorted({1, n, 4 * n} - {0})


def taskset(n: int, first: int = 0) -> list[str]:
    """Command prefix pinning a child to `n` of this process's CPUs,
    starting at the `first`-th one."""
    ids = cpu_ids()[first:first + n]
    if len(ids) < n:
        raise SystemExit(f"needs {first + n} cores, this box has {cores()}")
    return ["taskset", "-c", ",".join(map(str, ids))]


def mem_gb(meminfo: str | None = None) -> int:
    """MemTotal in whole GiB, from /proc/meminfo (or the text given)."""
    if meminfo is None:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // (1 << 20)
    raise ValueError("no MemTotal line in meminfo")


def steal_ticks() -> tuple[int, int]:
    """(user, steal) ticks of the whole host so far, from /proc/stat.
    Taken before and after a leg: steal/user is how much of the session
    the hypervisor took, so only same-session ratios carry signal."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[1]), int(parts[8])


def cached_parquet(path: str, build: Callable[[], object]) -> str:
    """`path`, writing `build()`'s DataFrame there first if it is absent.
    The write goes to a temporary sibling renamed into place, so a killed
    build never leaves a partial corpus that a later run would reuse."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build().write.parquet(tmp)
        os.rename(tmp, path)
    return path
