"""Seeded benchmark inputs: page corpora and WARC archive sets.

Everything the benchmark feeds the pipeline is built here from `--seed`
alone, with pyarrow and the program's own renderers (`spec.render_html`,
`spec.render_warc_gz_file`); Spark is not involved, so generation never
lands inside `setup_s`.

An input is written once per (kind, seed, size, renderer fingerprint) under
the work directory together with `meta.json`: the blake2b digest of every
file and the expected outputs (computed from the generator's own arrays and
the pure-Python oracle). `load` refuses an input whose files no longer
match their digests, and `check_renderers` refuses to run at all when the
renderers no longer produce the bytes this benchmark was defined against,
because the workload would then change silently.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass
from datetime import date, timedelta
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from blog_parser_spark import oracle, spec

# Word salad with the shape of the `documents` fixture table: a
# 31-word vocabulary, 10..100 words per document, en-heavy languages,
# 20 sources.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch dup").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
BASE_DOCS = 5000
BAD_UTF8_SHARE = 0.01   # html with an invalid byte: parse fails, quarantine sink
RECAPTURE_SHARE = 0.10  # urls crawled twice; the later capture must win dedup
RECORDS_PER_ARCHIVE = 2000
TRUNCATED_SHARE = 0.01  # archives cut mid-record: exercises the quarantine row
WANTED_SHARE = 0.01     # share of good records fetch_by_index must recover
FILES_PER_CORPUS = 16   # parquet files per input: 4 scan tasks per core
GEN_PROCESSES = 4       # processes rendering WARC archives

TS_BASE = np.datetime64(spec.WARC_TS_BASE, "s")
EPOCH_DAY = date(1970, 1, 1)

# blake2b over the renderers' output for fixed inputs (see renderer_probe).
RENDERER_FINGERPRINT = "4d16e2279ea123d4304ec01893ad1433"


class InputMismatch(RuntimeError):
    """A cached input or the program's renderers no longer match what the
    benchmark was defined against."""


def renderer_probe() -> str:
    """Digest of the program's renderers on fixed inputs. A change to
    `spec.render_html` or the WARC renderer changes the generated workload,
    so it must show up here and be re-pinned in a benchmark-only change."""
    h = hashlib.blake2b(digest_size=16)
    texts = ["a", " ".join(VOCAB), " ".join(VOCAB * 4)]
    for t in texts:
        h.update(spec.render_html(t))
    h.update(spec.render_warc_gz_file(
        [(f"https://src{i}.example.com/post/{i}", "2024-01-02T03:04:05Z",
          spec.render_html(t)) for i, t in enumerate(texts)]))
    return h.hexdigest()


def check_renderers() -> None:
    got = renderer_probe()
    if got != RENDERER_FINGERPRINT:
        raise InputMismatch(
            f"renderer fingerprint {got} != pinned {RENDERER_FINGERPRINT}: "
            "spec.render_html or the WARC renderer changed, so every "
            "generated workload would change too")


# --- base documents ----------------------------------------------------------

@dataclass(frozen=True)
class Contents:
    """The distinct page bodies a corpus is tiled from. Content id c < BASE_DOCS
    is a first capture; BASE_DOCS + c is the recapture of the same document."""
    html: list[bytes]
    lang: list[str]
    text: list[str]
    source: list[int]   # source index per base document


@lru_cache(maxsize=4)
def base_contents(seed: int) -> Contents:
    rng = random.Random(f"webbench-docs-{seed}")
    html, lang, text, source = [], [], [], []
    recap_html, recap_text = [], []
    for i in range(BASE_DOCS):
        words = rng.choices(VOCAB, k=rng.randint(10, 100))
        t = " ".join(words)
        bad = rng.random() < BAD_UTF8_SHARE
        page = spec.render_html(t)
        if bad:
            page = page.replace(b"</h1>", b"\xff</h1>", 1)
        html.append(page)
        text.append(None if bad else t)
        lang.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
        source.append(i % N_SOURCES)
        # the recapture changes the body, so a wrong dedup winner shows
        # in the sentence and byte sums, not only in the counts
        t2 = t + " " + " ".join(rng.choices(VOCAB, k=rng.randint(1, 30)))
        recap_html.append(spec.render_html(t2))
        recap_text.append(t2)
    return Contents(html + recap_html, lang + lang, text + recap_text,
                    source)


def url_of(source: int, doc_id: int) -> str:
    return oracle.page_url(f"src{source}", doc_id)


def first_ts(doc_ids: np.ndarray) -> np.ndarray:
    """The fixture `pages.warc_ts` formula (FIXTURES.md)."""
    return (TS_BASE + (doc_ids % spec.WARC_TS_DAY_MOD).astype("timedelta64[D]")
            + (doc_ids % spec.WARC_TS_SEC_MOD).astype("timedelta64[s]"))


def doc_id_offset(seed: int) -> int:
    return random.Random(f"webbench-offset-{seed}").randrange(10**6, 10**9)


# --- pages corpus (crawl_aggregate, sink_fanout) ------------------------------

@dataclass(frozen=True)
class PagesLayout:
    """Row-aligned arrays of a generated pages corpus."""
    doc_id: np.ndarray    # int64
    content: np.ndarray   # int32 index into Contents
    ts: np.ndarray        # datetime64[s]
    n_distinct: int       # distinct urls (first captures)


def pages_layout(seed: int, n_docs: int) -> PagesLayout:
    i = np.arange(n_docs, dtype=np.int64)
    doc_id = doc_id_offset(seed) + i
    content = (i % BASE_DOCS).astype(np.int32)
    rng = np.random.default_rng(
        random.Random(f"webbench-recapture-{seed}").getrandbits(64))
    n_re = int(round(n_docs * RECAPTURE_SHARE))
    re_idx = np.sort(rng.choice(n_docs, size=n_re, replace=False))
    ts1 = first_ts(doc_id)
    ts2 = ts1[re_idx] + (1 + doc_id[re_idx] % 5).astype("timedelta64[D]")
    return PagesLayout(
        doc_id=np.concatenate([doc_id, doc_id[re_idx]]),
        content=np.concatenate([content, content[re_idx] + BASE_DOCS]),
        ts=np.concatenate([ts1, ts2]),
        n_distinct=n_docs)


def pages_table(c: Contents, lay: PagesLayout, lo: int, hi: int) -> pa.Table:
    """Rows [lo, hi) of the corpus with the `io.PAGES_SCHEMA` columns."""
    ids, cont = lay.doc_id[lo:hi], lay.content[lo:hi]
    src = pa.array([f"src{s}" for s in c.source]).take(cont % BASE_DOCS)
    url = pc.binary_join_element_wise(
        "https://", src, ".example.com/post/",
        pa.array(ids).cast(pa.string()), "")
    return pa.table({
        "url": url,
        "warc_ts": pa.array(lay.ts[lo:hi].astype("datetime64[us]"),
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array(c.html, pa.binary()).take(cont),
        "text": pa.array(c.text, pa.string()).take(cont),
        "lang": pa.array(c.lang, pa.string()).take(cont),
    })


def expected_pages(c: Contents, lay: PagesLayout) -> dict:
    """Oracle outputs for a pages corpus: the flagship aggregate and the
    routed totals `run_resumable` reports.

    Every row of a tiled corpus shares its parse with the other rows of the
    same content, so the oracle's parse/enrich/route runs once per distinct
    content; rows then differ only in domain and day. The newest capture of
    a url wins dedup; recaptures are strictly later by construction. The
    benchmark's tests compare this against `oracle.run_pipeline` over the
    materialized rows."""
    winners = np.ones(len(lay.doc_id), dtype=bool)
    n = lay.n_distinct
    recaptured = np.searchsorted(lay.doc_id[:n], lay.doc_id[n:])
    winners[recaptured] = False
    routed = []
    for k in range(len(c.html)):
        page = {"url": url_of(c.source[k % BASE_DOCS], 0),
                "warc_ts": oracle.page_warc_ts(0), "html": c.html[k],
                "text": c.text[k], "lang": c.lang[k]}
        routed.append(oracle.enrich_route(oracle.parse_page(page)))
    domains = [oracle.url_domain(url_of(s, 0)) for s in range(N_SOURCES)]

    cont = lay.content[winners]
    src = np.array(c.source, dtype=np.int32)[cont % BASE_DOCS]
    day = lay.ts[winners].astype("datetime64[D]").astype(np.int64)
    keys, counts = np.unique(np.stack([cont, src, day]), axis=1,
                             return_counts=True)
    agg: dict[tuple, list[int]] = {}
    sinks: Counter = Counter()
    failures = total_bytes = 0
    for (k, s, d), m in zip(keys.T.tolist(), counts.tolist()):
        r = routed[k]
        key = (r["sink"], domains[s], r["lang_norm"],
               (EPOCH_DAY + timedelta(days=d)).isoformat())
        a = agg.setdefault(key, [0, 0, 0])
        a[0] += m
        a[1] += m * r["n_sentences"]
        a[2] += m * r["n_bytes"]
        sinks[r["sink"]] += m
        failures += m * (not r["parse_ok"])
        total_bytes += m * r["n_bytes"]
    return {
        "aggregate": sorted([*k, *v] for k, v in agg.items()),
        "rows": int(winners.sum()),
        "parse_failures": failures,
        "bytes": total_bytes,
        "sink_rows": dict(sorted(sinks.items())),
    }


# --- WARC archives (warc_archive) ---------------------------------------------

def _archive_records(seed: int, c: Contents, a: int, n_records: int
                     ) -> list[tuple[str, str, bytes]]:
    off = doc_id_offset(seed)
    lo, hi = a * RECORDS_PER_ARCHIVE, min((a + 1) * RECORDS_PER_ARCHIVE,
                                          n_records)
    ids = np.arange(lo, hi, dtype=np.int64) + off
    dates = first_ts(ids).astype(object)
    return [(url_of(c.source[j % BASE_DOCS], int(d)),
             t.strftime(spec.WARC_DATE_FMT), c.html[j % BASE_DOCS])
            for j, d, t in zip(range(lo, hi), ids, dates)]


def truncation_plan(seed: int, n_archives: int) -> dict[int, float]:
    """archive index -> position (0..1) of the record it is cut inside."""
    rng = random.Random(f"webbench-truncate-{seed}")
    k = max(1, round(n_archives * TRUNCATED_SHARE))
    return {a: rng.uniform(0.1, 0.9)
            for a in sorted(rng.sample(range(n_archives), k))}


def render_archive(seed: int, a: int, n_records: int, cut: float | None
                   ) -> tuple[str, bytes, list[str], bool]:
    """One archive -> (name, bytes, urls of its readable records,
    truncated)."""
    c = base_contents(seed)
    recs = _archive_records(seed, c, a, n_records)
    raw = spec.render_warc_gz_file(recs)
    urls = [u for u, _, _ in recs]
    if cut is not None:
        parsed, err = spec.parse_warc_gz_file(raw)
        if err is not None or len(parsed) != len(recs):
            raise InputMismatch(f"archive {a} does not re-parse: {err}")
        k = min(int(cut * len(parsed)), len(parsed) - 2)
        mid = (parsed[k].offset + parsed[k + 1].offset) // 2
        raw, urls = raw[:mid], urls[:k]
    return f"crawl-{a:06d}.warc.gz", raw, urls, cut is not None


def _render_many(args: list[tuple]) -> list[tuple]:
    return [render_archive(*a) for a in args]


def archive_set(seed: int, n_records: int
                ) -> list[tuple[str, bytes, list[str], bool]]:
    """Every archive of the set, rendered by GEN_PROCESSES processes."""
    n_archives = math.ceil(n_records / RECORDS_PER_ARCHIVE)
    cuts = truncation_plan(seed, n_archives)
    jobs = [(seed, a, n_records, cuts.get(a)) for a in range(n_archives)]
    if n_archives < 2 * GEN_PROCESSES:
        return _render_many(jobs)
    import multiprocessing as mp
    chunks = [jobs[w::GEN_PROCESSES] for w in range(GEN_PROCESSES)]
    with mp.get_context("spawn").Pool(GEN_PROCESSES) as pool:
        parts = pool.map(_render_many, chunks)
        pool.close()
        pool.join()
    # the spawn pool started multiprocessing's resource tracker, which
    # would run until this process exits; stop it and wait for it now
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    out = [None] * n_archives
    for w, part in enumerate(parts):
        out[w::GEN_PROCESSES] = part
    return out


def wanted_urls(seed: int, good_urls: list[str]) -> list[str]:
    rng = random.Random(f"webbench-wanted-{seed}")
    k = max(1, round(len(good_urls) * WANTED_SHARE))
    return sorted(rng.sample(good_urls, k))


# --- cache --------------------------------------------------------------------

def _digest(path: str) -> str:
    h = hashlib.blake2b(digest_size=16)
    with open(path, "rb") as f:
        while chunk := f.read(1 << 22):
            h.update(chunk)
    return h.hexdigest()


def _write_split(table_of, n_rows: int, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    step = math.ceil(n_rows / n_files)
    for f, lo in enumerate(range(0, n_rows, step)):
        pq.write_table(table_of(lo, min(lo + step, n_rows)),
                       os.path.join(out_dir, f"part-{f:03d}.parquet"),
                       compression="snappy")


def _build_pages(seed: int, size: int, d: str) -> dict:
    c = base_contents(seed)
    lay = pages_layout(seed, size)
    _write_split(lambda lo, hi: pages_table(c, lay, lo, hi), len(lay.doc_id),
                 os.path.join(d, "pages"), FILES_PER_CORPUS)
    return {"distinct_urls": lay.n_distinct, "rows": len(lay.doc_id),
            "expected": expected_pages(c, lay)}


def _build_archives(seed: int, size: int, d: str) -> dict:
    arcs = archive_set(seed, size)
    good = [u for _, _, urls, _ in arcs for u in urls]
    wanted = wanted_urls(seed, good)

    def table(lo, hi):
        return pa.table({
            "warc_file": pa.array([a[0] for a in arcs[lo:hi]], pa.string()),
            "content": pa.array([a[1] for a in arcs[lo:hi]], pa.binary())})

    _write_split(table, len(arcs), os.path.join(d, "archives"),
                 FILES_PER_CORPUS)
    pq.write_table(pa.table({"url": pa.array(wanted, pa.string())}),
                   os.path.join(d, "wanted.parquet"))
    return {"records": size, "archives": len(arcs),
            "expected": {
                "good_records": len(good),
                "truncated": sorted(a[0] for a in arcs if a[3]),
                "wanted": len(wanted)}}


BUILDERS = {"pages": _build_pages, "archives": _build_archives}
KEEP_INPUTS = 4  # cached inputs kept per work dir; older ones are evicted


def load(work: str, kind: str, seed: int, size: int) -> tuple[str, dict]:
    """(input dir, meta) for (kind, seed, size); generated on first use.
    Raises InputMismatch when a cached file no longer matches its digest."""
    root = os.path.join(work, "inputs")
    d = os.path.join(root, f"{kind}-s{seed}-n{size}-{RENDERER_FINGERPRINT[:8]}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        meta = BUILDERS[kind](seed, size, d)
        meta["files"] = {os.path.relpath(os.path.join(p, f), d):
                         _digest(os.path.join(p, f))
                         for p, _, fs in os.walk(d) for f in sorted(fs)}
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.rename(meta_path + ".tmp", meta_path)
        _evict(root, keep=d)
    with open(meta_path) as f:
        meta = json.load(f)
    for rel, want in meta["files"].items():
        got = _digest(os.path.join(d, rel))
        if got != want:
            raise InputMismatch(f"{d}/{rel}: digest {got} != {want}")
    os.utime(meta_path)
    return d, meta


def _evict(root: str, keep: str) -> None:
    dirs = sorted((os.path.join(root, e) for e in os.listdir(root)),
                  key=lambda p: os.path.getmtime(os.path.join(p, "meta.json"))
                  if os.path.exists(os.path.join(p, "meta.json")) else 0)
    for p in dirs[:-KEEP_INPUTS]:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)
