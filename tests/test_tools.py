"""The measurement tools size themselves from `tools/box.py`: cores from
the affinity mask, memory from MemTotal, one cached-corpus writer. These
tests hold that helper to its word and check that every tool still
imports as a module (cluster_bench imports `build_corpus` from
scaling_bench) without running its main."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tools import box

ROOT = Path(__file__).resolve().parent.parent


def test_cores_is_the_affinity_mask():
    assert box.cores() == len(os.sched_getaffinity(0))
    assert box.cpu_ids() == sorted(os.sched_getaffinity(0))
    # a pinned child sees only its mask, whatever the host has
    out = subprocess.run(
        box.taskset(1) + [sys.executable, "-c",
                          "from tools import box; print(box.cores())"],
        cwd=ROOT, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "1"


def test_taskset_and_widths_follow_the_mask(monkeypatch):
    first = box.cpu_ids()[0]
    assert box.taskset(1) == ["taskset", "-c", str(first)]
    with pytest.raises(SystemExit):
        box.taskset(box.cores() + 1)
    for n_cores, widths in ((2, [1]), (4, [1, 4]), (32, [1, 8, 32])):
        monkeypatch.setattr(box, "cores", lambda n=n_cores: n)
        assert box.widths() == widths


def test_mem_gb_parses_meminfo():
    text = ("MemTotal:       16479424 kB\n"
            "MemFree:         1048576 kB\n")
    assert box.mem_gb(text) == 15
    assert box.mem_gb() >= 1
    with pytest.raises(ValueError):
        box.mem_gb("MemFree: 1 kB\n")


def test_cached_parquet_builds_once(spark, tmp_path):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    path = str(tmp_path / "corpus.parquet")
    os.makedirs(path + ".tmp")  # the leftover of a killed build
    assert box.cached_parquet(path, build) == path
    assert box.cached_parquet(path, build) == path
    assert calls == [1]
    assert spark.read.parquet(path).count() == 3
    assert not os.path.exists(path + ".tmp")


@pytest.mark.parametrize(
    "name", sorted(p.stem for p in (ROOT / "tools").glob("*.py")))
def test_tool_imports_without_running_main(name, monkeypatch):
    # a main run at import would choke on this argv
    monkeypatch.setattr(sys, "argv", [name, "--no-such-option"])
    mod = importlib.import_module(f"tools.{name}")
    if name != "box":
        assert callable(mod.main)
