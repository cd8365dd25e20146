"""The workloads: one timed pass each, its output check, and the traced
round that splits a pass into layers.

A traced round runs cumulative prefixes of the pass's plan, each to a noop
sink, then the full pass; a layer's self time is the difference between
consecutive prefix walls (medians over rounds, see trace.prefix_self_times).
Counters come from the status-store executions of the full pass.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from blog_parser_spark import manifest
from blog_parser_spark.operators import aggregate, enrich, parse, route
from blog_parser_spark.plans import pipeline
from blog_parser_spark.sources import io, warc

from . import checks, engine

N_BUCKETS = 64  # run_resumable's (sink, bucket) fan-out, as job.py runs it


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    """One workload bound to a session and its generated input."""

    kind = ""          # input kind (inputs.BUILDERS)
    size = 0           # input size: distinct urls or WARC records
    cumulative = True  # traced walls are cumulative plan prefixes

    def __init__(self, spark, tracer, inp: str, meta: dict, out: str):
        self.spark, self.tracer, self.inp, self.meta = spark, tracer, inp, meta
        self.expected = meta["expected"]
        self.out = out
        self._n = 0

    def _fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.out, f"{tag}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def warm(self) -> None:
        """The set-up pass: one full pass, cold and unchecked. Timed passes
        after it start with every Python worker up and every stage
        compiled."""
        self.run_pass(check=False)

    def run_pass(self, check: bool = True
                 ) -> tuple[dict[str, float], list[str]]:
        """One timed pass -> (walls of its timed parts, check problems)."""
        raise NotImplementedError

    def trace_round(self, store: engine.StatusStore
                    ) -> tuple[dict[str, float], dict[str, float], list[str]]:
        """-> (walls by layer plus "pass", the traced full pass; layer
        counters; check problems)."""
        raise NotImplementedError

    def trace_once(self, store: engine.StatusStore
                   ) -> tuple[dict[str, float], list[str]]:
        """Layer counters measured once per traced run, outside the rounds
        -> (counters, check problems)."""
        return {}, []


def _parse_counters(execs: list[engine.Execution]) -> dict[str, float]:
    m = engine.metric
    return {
        "io.scan_bytes": m(execs, "Scan parquet", "size of files read"),
        "parse.python_run_s": m(execs, "ArrowEvalPython",
                                "time to run Python workers"),
        "parse.bytes_to_python": m(execs, "ArrowEvalPython",
                                   "data sent to Python workers"),
        "parse.bytes_from_python": m(execs, "ArrowEvalPython",
                                     "data returned from Python workers"),
        "dedup.rows_in": m(execs, "ArrowEvalPython", "number of output rows"),
        "dedup.rows_out": m(execs, "Filter", "number of output rows", "_rn"),
        "dedup.shuffle_write_bytes": m(execs, "Exchange",
                                       "shuffle bytes written",
                                       "hashpartitioning(url"),
    }


def python_init_s(execs: list[engine.Execution]) -> float:
    """Python worker start + initialisation paid by the parse UDF."""
    return sum(engine.metric(execs, "ArrowEvalPython", m)
               for m in ("time to start Python workers",
                         "time to initialize Python workers"))


class CrawlAggregate(Workload):
    """The flagship plan over a pages corpus, collected and checked against
    the oracle's aggregate. Its traced run also runs `run_resumable` over
    the same corpus once, so the sink-write layer (manifest.*) is measured
    too; that write is not part of any timed pass."""

    kind = "pages"
    size = 200_000

    @property
    def docs(self) -> int:
        return self.meta["distinct_urls"]

    def _read(self):
        with self.tracer.span("io.read_pages"):
            return io.read_pages(self.spark, os.path.join(self.inp, "pages"))

    def _check(self, rows) -> list[str]:
        return checks.check_aggregate(rows, self.expected["aggregate"])

    def run_pass(self, check=True):
        def go():
            with self.tracer.span("pipeline.flagship"):
                df = pipeline.flagship(self.spark, self._read(), dedup=True)
            return df.collect()
        rows, wall = _timed(go)
        return {"pass": wall}, self._check(rows) if check else []

    def trace_round(self, store):
        sp = self.tracer.span
        pages = self._read()
        with sp("parse.parse_pages_metrics"):
            parsed = parse.parse_pages_metrics(pages, with_html_md5=True)
        with sp("parse.dedup_latest_parsed"):
            deduped = parse.dedup_latest_parsed(parsed)
        with sp("enrich.enrich"):
            enriched = enrich.enrich(deduped, io.lang_norm_df(self.spark))
        with sp("route.route"):
            routed = route.route(enriched)
        with sp("aggregate.agg_sink_counts"):
            agg = aggregate.agg_sink_counts(routed)
        walls = {}
        # the columns every parse variant reads
        scan = pages.select("url", "warc_ts", "html", "lang")
        for layer, df in [("io", scan), ("parse", parsed), ("dedup", deduped),
                          ("enrich_route", routed)]:
            with sp(f"prefix.{layer}"):
                _, walls[layer] = _timed(lambda: _noop(df))
            store.skip()
        with sp("prefix.aggregate"):
            rows, walls["aggregate"] = _timed(agg.collect)
        walls["pass"] = walls["aggregate"]
        execs = store.drain()
        counters = {
            **_parse_counters(execs),
            "aggregate.build_s": engine.metric(
                execs, "HashAggregate", "time in aggregation build"),
            "aggregate.shuffle_write_bytes": engine.metric(
                execs, "Exchange", "shuffle bytes written",
                "hashpartitioning(sink"),
            "aggregate.rows_out": float(len(rows)),
            **engine.engine_totals(execs),
        }
        return walls, counters, self._check(rows)

    def trace_once(self, store):
        """run_resumable into a fresh dir (a reused one would resume past
        every bucket) -> manifest.* counters and its output check."""
        out = self._fresh_dir("sinks")
        pages = self._read()
        with self.tracer.span("manifest.run_resumable"):
            result, run_s = _timed(lambda: manifest.run_resumable(
                self.spark, pages, out, N_BUCKETS))
        execs = store.drain()
        # the sink write is the execution that runs the task-metrics stamp
        write = [e for e in execs if e.find("MapInPandas")]
        write_s = sum(e.wall_s for e in write)
        m = engine.metric
        sink_write = "Execute InsertIntoHadoopFsRelationCommand"
        counters = {
            "manifest.run_s": run_s,
            "manifest.write_pass_s": write_s,
            "manifest.derive_s": run_s - write_s,
            "manifest.stamp_bytes_to_python": m(
                write, "MapInPandas", "data sent to Python workers"),
            "manifest.shuffle_write_bytes": m(
                write, "Exchange", "shuffle bytes written",
                "hashpartitioning(sink"),
            "manifest.files_written": m(write, sink_write,
                                        "number of written files"),
            "manifest.bytes_written": m(write, sink_write, "written output"),
        }
        per_sink = (self.spark.read.parquet(os.path.join(out, "manifest"))
                    .groupBy("sink").agg(F.sum("rows").alias("n")).collect())
        problems = checks.check_fanout(
            result, {r["sink"]: r["n"] for r in per_sink}, self.expected,
            N_BUCKETS)
        shutil.rmtree(out, ignore_errors=True)
        store.skip()
        return counters, problems


class WarcArchive(Workload):
    kind = "archives"
    size = 80_000
    cumulative = False

    @property
    def docs(self) -> int:
        return self.meta["records"]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._wanted = set(pq.read_table(
            os.path.join(self.inp, "wanted.parquet")).column("url").to_pylist())

    def _archives(self):
        return self.spark.read.parquet(os.path.join(self.inp, "archives"))

    def _read_counts(self, files):
        with self.tracer.span("warc.read_warc"):
            recs = warc.read_warc(files)
        return recs.agg(
            F.count("url").alias("good"),
            F.collect_list(F.when(F.col("url").isNull(), F.col("warc_file")))
            .alias("quarantined")).collect()[0]

    def _index(self, files, out: str) -> None:
        with self.tracer.span("warc.cdx_index"):
            idx = warc.cdx_index(files)
        idx.write.parquet(out)

    def _fetch(self, files, index):
        wanted = self.spark.read.parquet(os.path.join(self.inp, "wanted.parquet"))
        with self.tracer.span("warc.fetch_by_index"):
            got = warc.fetch_by_index(files, index, wanted)
        return got.select("url", "html", "warc_err").collect()

    def _pass(self, on_step=lambda step: None, check=True):
        """read -> index -> fetch back to back, each timed; on_step runs
        after each (the trace's counters). The outputs are checked after
        the fetch, so no check runs between two timed steps."""
        files = self._archives()
        walls = {}
        with self.tracer.span("prefix.read"):
            r, walls["read"] = _timed(lambda: self._read_counts(files))
        on_step("read")
        out = self._fresh_dir("index")
        with self.tracer.span("prefix.cdx"):
            _, walls["cdx"] = _timed(lambda: self._index(files, out))
        on_step("cdx")
        index = self.spark.read.parquet(out)
        with self.tracer.span("prefix.fetch"):
            fetched, walls["fetch"] = _timed(lambda: self._fetch(files, index))
        on_step("fetch")
        problems = []
        if check:
            digests = {r["url"]: r["digest"] for r in index.join(
                self.spark.read.parquet(
                    os.path.join(self.inp, "wanted.parquet")),
                "url").select("url", "digest").collect()}
            problems = (checks.check_read(r["good"], r["quarantined"],
                                          self.expected)
                        + self._check_index(index)
                        + checks.check_fetch(fetched, self._wanted, digests))
        shutil.rmtree(out, ignore_errors=True)
        return walls, problems, r, fetched

    def _check_index(self, index) -> list[str]:
        stats = index.agg(
            F.count("url").alias("good"),
            F.sum((F.col("seek_ok") == "ok").cast("int")).alias("ok"),
            F.collect_list(F.when(F.col("url").isNull(), F.col("warc_file")))
            .alias("quarantined")).collect()[0]
        return checks.check_index(stats["good"], stats["ok"],
                                  stats["quarantined"], self.expected)

    def run_pass(self, check=True):
        walls, problems, _, _ = self._pass(check=check)
        walls["pass"] = walls["read"] + walls["cdx"] + walls["fetch"]
        return walls, problems

    def trace_round(self, store):
        files = self._archives()
        with self.tracer.span("prefix.io"):
            _, scan_wall = _timed(lambda: _noop(files))
        store.skip()
        execs = {}

        def on_step(step):
            execs[step] = store.drain()

        walls, problems, r, fetched = self._pass(on_step)
        store.skip()
        m, read = engine.metric, execs["read"]
        counters = {
            "io.scan_bytes": m(read, "Scan parquet", "size of files read"),
            "warc.read_s": walls["read"],
            "warc.read_bytes_to_python": m(read, "MapInPandas",
                                           "data sent to Python workers"),
            "warc.cdx_s": walls["cdx"],
            "warc.fetch_s": walls["fetch"],
            # the archive scan is the one reading the content column
            "warc.fetch_archives_scanned": m(
                execs["fetch"], "Scan parquet", "number of output rows",
                "content"),
            "warc.fetch_hits": float(len(fetched)),
            "warc.quarantine_rows": float(len(r["quarantined"])),
            **engine.engine_totals([e for v in execs.values() for e in v]),
        }
        walls["pass"] = walls["read"] + walls["cdx"] + walls["fetch"]
        return {"io": scan_wall, **walls}, counters, problems


WORKLOADS = {"crawl_aggregate": CrawlAggregate, "warc_archive": WarcArchive}
