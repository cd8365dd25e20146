"""Resumable fan-out sinks with lineage manifests: kill-and-resume must
produce exactly the rows of a single-shot run (SURVEY.md §5.2 item 6,
batch flavor)."""

from __future__ import annotations

import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from blog_parser_spark import manifest
from blog_parser_spark.operators import aggregate
from blog_parser_spark.sources import io
from tests.conftest import SF_DIR


@pytest.fixture()
def pages(spark):
    return io.synth_pages(spark, SF_DIR).unionByName(io.adversarial_pages_df(spark))


def test_resume_equals_single_shot(spark, pages, tmp_path):
    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    r1 = manifest.run_resumable(spark, pages, single, n_buckets=16)
    assert r1["buckets_done"] == 16
    assert r1["parse_failures"] == 3

    # simulate a mid-run crash: first pass only saw half the input
    # (buckets of the missing half are absent from the manifest)
    half = manifest.with_bucket(pages, 16).filter("bucket < 8").drop("bucket")
    manifest.run_resumable(spark, half, resumed, n_buckets=16)
    # resume over the FULL input: completed buckets skipped, rest processed
    r2 = manifest.run_resumable(spark, pages, resumed, n_buckets=16)
    assert r2["buckets_done"] == 16

    a = spark.read.parquet(f"{single}/sinks")
    b = spark.read.parquet(f"{resumed}/sinks")
    cols = ["url", "sink", "extracted_text", "n_sentences", "n_bytes", "parse_ok"]
    assert aggregate.multiset_equal(a.select(*cols), b.select(*cols))
    # totals match the input exactly (dedup removes 1 duplicate url)
    assert a.count() == pages.select("url").distinct().count()

    # north-rule metrics: per-bucket rows/failures/bytes + the writer
    # task's wall and partition id, measured on the executor
    m = spark.read.parquet(f"{single}/manifest")
    assert m.select("bucket").distinct().count() == 16
    assert m.filter("wall_sec <= 0 OR partition_id IS NULL").count() == 0


def test_rerun_is_noop(spark, pages, tmp_path):
    out = str(tmp_path / "once")
    manifest.run_resumable(spark, pages, out, n_buckets=8)
    before = spark.read.parquet(f"{out}/sinks").count()
    r = manifest.run_resumable(spark, pages, out, n_buckets=8)  # all done
    after = spark.read.parquet(f"{out}/sinks").count()
    assert before == after
    assert r["buckets_done"] == 8


def test_quarantine_sink_holds_failures(spark, pages, tmp_path):
    out = str(tmp_path / "q")
    manifest.run_resumable(spark, pages, out, n_buckets=8)
    q = spark.read.parquet(f"{out}/sinks").filter("sink = 'quarantine'")
    assert q.count() == 3
    assert q.filter(F.col("parse_err").isNull()).count() == 0


def test_corrupt_manifest_raises_instead_of_rerunning(spark, pages, tmp_path):
    """A manifest that exists but cannot be read must fail the resume, not
    be taken for "no bucket done yet": that would silently rewrite every
    bucket of the sinks."""
    out = str(tmp_path / "corrupt")
    manifest.run_resumable(spark, pages, out, n_buckets=8)

    def sink_files():
        return {os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
                for d, _, names in os.walk(f"{out}/sinks") for n in names}

    before = sink_files()
    parts = [n for n in os.listdir(f"{out}/manifest") if n.endswith(".parquet")]
    assert parts
    for n in parts:
        with open(f"{out}/manifest/{n}", "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        manifest.run_resumable(spark, pages, out, n_buckets=8)
    assert sink_files() == before


def test_resume_scan_partition_prunes_completed_buckets(spark, pages, tmp_path):
    """The manifest-derivation re-read on resume must PRUNE completed
    buckets at the scan (PartitionFilters on the bucket partition column),
    not filter them after a full-corpus read."""
    out = str(tmp_path / "pruned")
    manifest.run_resumable(spark, pages, out, n_buckets=8)
    done = [r["bucket"] for r in
            manifest.completed_buckets(spark, f"{out}/manifest").collect()]
    scan = (spark.read.option("basePath", f"{out}/sinks")
            .parquet(f"{out}/sinks")
            .filter(~F.col("bucket").isin(done[:4])))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter must appear inside PartitionFilters, not only as a
    # post-scan Filter node
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf


def test_job_entrypoint_streaming_mode(spark, tmp_path):
    """job.py --mode streaming end-to-end in a fresh spark-submit-shaped
    process: availableNow run terminates, sinks land, exit code 0. (The
    batch mode is covered by tools/submit_smoke.py.)"""
    import json, os, subprocess, sys
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    io.synth_pages(spark, SF_DIR).coalesce(2).write.mode("overwrite").parquet(src)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, "job.py", "--pages", src, "--out", out,
         "--mode", "streaming"],
        capture_output=True, text=True, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))), env=env, timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["mode"] == "streaming"
    sinks = spark.read.option("basePath", f"{out}/sinks").parquet(f"{out}/sinks")
    assert sinks.count() == io.synth_pages(spark, SF_DIR).select("url").distinct().count()
    assert os.path.isdir(f"{out}/checkpoint")
