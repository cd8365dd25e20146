"""Each output check accepts the right result and rejects a deliberately
corrupted one."""

from blog_parser_spark import spec
from webbench import checks

AGG = [["en-long", "src1.example.com", "eng", "2024-01-02", 3, 9, 1200],
       ["rest", "src2.example.com", "zho", "2024-01-03", 1, 2, 400]]
FANOUT = {"rows": 4, "parse_failures": 1, "bytes": 1600,
          "sink_rows": {"en-long": 3, "quarantine": 1}}
WARC = {"good_records": 10, "truncated": ["crawl-000001.warc.gz"],
        "wanted": 2}


def test_aggregate():
    assert checks.check_aggregate([tuple(r) for r in AGG], AGG) == []
    off = [list(r) for r in AGG]
    off[0][4] += 1
    assert checks.check_aggregate([tuple(r) for r in off], AGG)
    assert checks.check_aggregate([tuple(AGG[0])], AGG)


def test_fanout():
    result = {"buckets_done": 64, "rows": 4, "parse_failures": 1,
              "bytes": 1600}
    sinks = {"quarantine": 1, "en-long": 3}
    assert checks.check_fanout(result, sinks, FANOUT, 64) == []
    assert checks.check_fanout({**result, "rows": 5}, sinks, FANOUT, 64)
    assert checks.check_fanout(result, {**sinks, "rest": 1}, FANOUT, 64)


def test_read_and_index():
    q = ["crawl-000001.warc.gz"]
    assert checks.check_read(10, q, WARC) == []
    assert checks.check_read(10, q + q, WARC)   # one extra quarantine row
    assert checks.check_read(9, q, WARC)
    assert checks.check_index(10, 10, q, WARC) == []
    assert checks.check_index(10, 9, q, WARC)   # one record not seekable


def test_fetch():
    pages = {"u1": b"<p>a</p>", "u2": b"<p>b</p>"}
    digests = {u: spec.payload_digest(p) for u, p in pages.items()}
    fetched = [(u, p, None) for u, p in pages.items()]
    assert checks.check_fetch(fetched, set(pages), digests) == []
    assert checks.check_fetch(fetched[:1], set(pages), digests)  # one missing
    wrong = [("u1", b"<p>x</p>", None), fetched[1]]
    assert checks.check_fetch(wrong, set(pages), digests)
    stale = fetched + [(None, None, "seek")]  # an index entry gone stale
    assert any("without a url" in p
               for p in checks.check_fetch(stale, set(pages), digests))
