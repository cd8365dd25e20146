"""The seeded generator at tiny sizes: deterministic per seed, different
across seeds, guarded by digests, and its shortcut oracle equal to
oracle.run_pipeline over the materialized rows."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from blog_parser_spark import oracle, spec
from webbench import inputs

N_PAGES = 3000
N_RECORDS = 2 * inputs.RECORDS_PER_ARCHIVE + 500


def test_renderer_fingerprint_is_pinned():
    assert inputs.renderer_probe() == inputs.RENDERER_FINGERPRINT


@pytest.mark.parametrize("kind,size", [("pages", N_PAGES),
                                       ("archives", N_RECORDS)])
def test_same_seed_same_input_other_seed_other_input(tmp_path, kind, size):
    _, a = inputs.load(str(tmp_path / "a"), kind, 3, size)
    _, b = inputs.load(str(tmp_path / "b"), kind, 3, size)
    _, c = inputs.load(str(tmp_path / "c"), kind, 4, size)
    assert a["files"] == b["files"] and a["expected"] == b["expected"]
    assert set(a["files"].values()).isdisjoint(c["files"].values())


def test_corrupted_cache_is_refused(tmp_path):
    d, meta = inputs.load(str(tmp_path), "pages", 5, N_PAGES)
    victim = os.path.join(d, sorted(meta["files"])[0])
    with open(victim, "r+b") as f:
        f.seek(100)
        f.write(b"\0")
    with pytest.raises(inputs.InputMismatch):
        inputs.load(str(tmp_path), "pages", 5, N_PAGES)


@pytest.fixture
def few_contents(monkeypatch):
    """Tile the corpus from 180 contents. 180 is a multiple of the fixture
    day modulus (90), so rows of one content repeat in the same (domain,
    day) group and the oracle multiplies one parse by more than 1."""
    monkeypatch.setattr(inputs, "BASE_DOCS", 180)
    inputs.base_contents.cache_clear()
    yield
    inputs.base_contents.cache_clear()


def test_pages_oracle_matches_run_pipeline(tmp_path, few_contents):
    d, meta = inputs.load(str(tmp_path), "pages", 6, N_PAGES)
    rows = pq.read_table(os.path.join(d, "pages")).to_pylist()
    for r in rows:
        r["warc_ts"] = r["warc_ts"].replace(tzinfo=None)
    assert len({r["url"] for r in rows}) == meta["distinct_urls"] < len(rows)
    groups = Counter((r["html"], r["url"].split("/")[2], r["warc_ts"].date())
                     for r in rows)
    assert max(groups.values()) > 1
    routed, agg = oracle.run_pipeline(rows)
    want = sorted([a["sink"], a["domain"], a["lang_norm"], a["day"].isoformat(),
                   a["docs"], a["sentences"], a["bytes"]] for a in agg)
    exp = meta["expected"]
    assert exp["aggregate"] == want
    assert exp["rows"] == len(routed)
    assert exp["parse_failures"] == sum(not r["parse_ok"] for r in routed) > 0
    assert exp["bytes"] == sum(r["n_bytes"] for r in routed)
    sinks = {}
    for r in routed:
        sinks[r["sink"]] = sinks.get(r["sink"], 0) + 1
    assert exp["sink_rows"] == dict(sorted(sinks.items()))


def test_archives_truncated_and_wanted(tmp_path):
    d, meta = inputs.load(str(tmp_path), "archives", 7, N_RECORDS)
    arcs = pq.read_table(os.path.join(d, "archives")).to_pylist()
    good, broken = 0, []
    for a in arcs:
        recs, err = spec.parse_warc_gz_file(a["content"])
        good += len(recs)
        if err is not None:
            broken.append(a["warc_file"])
    exp = meta["expected"]
    assert meta["archives"] == len(arcs) == 3
    assert broken == exp["truncated"] and len(broken) == 1
    assert good == exp["good_records"] < N_RECORDS
    wanted = pq.read_table(os.path.join(d, "wanted.parquet")).column("url")
    assert len(wanted) == exp["wanted"] >= 1
