"""WARC archive layer (sources/warc.py + spec WARC grammar): pure-Python
framing edge cases, Spark pack->parse round trip, and loud quarantine of
malformed archives (no silent byte loss: a malformed archive yields its
good prefix plus one position-stamped quarantine row)."""

from __future__ import annotations

import subprocess
import sys
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import Row, functions as F

from blog_parser_spark import spec
from blog_parser_spark.sources import io, warc
from tests.conftest import SF_DIR

_D = "2024-01-05T06:07:08Z"


def _one(url: str = "https://a.example.com/post/1",
         payload: bytes = b"<html>x</html>") -> bytes:
    return spec.render_warc_record("response", url, _D, payload)


# --- pure-Python grammar ----------------------------------------------------

def test_round_trip_single_record():
    recs, err = spec.parse_warc_file(_one())
    assert err is None
    assert len(recs) == 1
    assert recs[0].url == "https://a.example.com/post/1"
    assert recs[0].warc_date == _D
    assert recs[0].payload == b"<html>x</html>"
    assert recs[0].offset == 0


def test_payload_containing_warc_magic_is_binary_safe():
    # Content-Length framing must not resync on payload bytes.
    evil = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n trap"
    data = spec.render_warc_file([("u1", _D, evil), ("u2", _D, b"ok")])
    recs, err = spec.parse_warc_file(data)
    assert err is None
    assert [r.payload for r in recs] == [evil, b"ok"]


def test_warcinfo_and_request_records_skipped():
    data = (spec.render_warc_record("warcinfo", None, _D, spec.WARC_INFO_PAYLOAD)
            + spec.render_warc_record("request", "u", _D, b"GET / HTTP/1.1")
            + _one())
    recs, err = spec.parse_warc_file(data)
    assert err is None
    assert len(recs) == 1 and recs[0].payload == b"<html>x</html>"


def test_single_trailing_crlf_at_eof_tolerated():
    data = _one()
    assert data.endswith(b"\r\n\r\n")
    recs, err = spec.parse_warc_file(data[:-2])  # exactly one CRLF at EOF
    assert err is None and len(recs) == 1


def test_malformed_cases_stop_with_positioned_error():
    good = _one()
    cases = {
        b"GZIP" + good: "bad version line at byte 0",
        good[:-10]: "truncated payload",            # payload cut short
        good[:-2] + b"XX": "missing record trailer",  # trailer bytes wrong
    }
    for data, expected in cases.items():
        recs, err = spec.parse_warc_file(data)
        assert err is not None and expected.split(" at ")[0] in err
    # missing Content-Length
    bad = b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: " + _D.encode() + b"\r\n\r\nxx\r\n\r\n"
    recs, err = spec.parse_warc_file(bad)
    assert recs == [] and "Content-Length" in err
    # good prefix is preserved before the error
    recs, err = spec.parse_warc_file(good + b"junk")
    assert len(recs) == 1 and "bad version line" in err


# --- Spark layer -------------------------------------------------------------

def test_pack_read_round_trip_spark(spark):
    pages = io.synth_pages(spark, SF_DIR)
    files = warc.pack_warc_files(pages, docs_per_file=25)
    n_docs = pages.count()
    assert files.count() == (
        pages.select(F.ceil(F.count_distinct("url") / 25)).collect()[0][0]
        or (n_docs + 24) // 25)

    records = warc.read_warc(files)
    assert records.filter(F.col("warc_err").isNotNull()).count() == 0
    # byte-identical html and timestamp per url, nothing lost or invented
    src = pages.select("url", F.col("warc_ts").alias("src_ts"),
                       F.col("html").alias("src_html"))
    joined = records.join(src, "url", "inner")
    assert joined.count() == n_docs == records.count()
    assert joined.filter(
        (F.col("html") != F.col("src_html"))
        | (F.col("warc_ts") != F.col("src_ts"))).count() == 0


def test_read_warc_quarantines_corrupt_file_loudly(spark):
    good_file = spec.render_warc_file([("u1", _D, b"a"), ("u2", _D, b"b")])
    corrupt = spec.render_warc_file([("u3", _D, b"c")]) + b"garbage tail"
    files = spark.createDataFrame(
        [Row(warc_file="good.warc", content=bytearray(good_file)),
         Row(warc_file="bad.warc", content=bytearray(corrupt))],
        schema=warc.WARC_FILE_SCHEMA)
    out = warc.read_warc(files)
    rows = {(r.warc_file, r.url): r for r in out.collect()}
    # good prefix of the corrupt file still lands
    assert rows[("bad.warc", "u3")].html == bytearray(b"c")
    # the tail is a loud, position-stamped quarantine row
    q = rows[("bad.warc", None)]
    assert q.warc_err is not None and "bad version line" in q.warc_err
    assert len(rows) == 4  # 2 good + 1 recovered + 1 quarantine


def test_warc_date_round_trips_session_utc(spark):
    ts = datetime(2024, 3, 4, 5, 6, 7)
    s = warc._fmt_warc_date(ts)
    assert s == "2024-03-04T05:06:07Z"
    assert warc._parse_warc_date(s) == ts


def test_wet_conversion_records_type_filtered():
    wet = spec.render_warc_file([("u1", _D, "hello world".encode())],
                                rec_type="conversion")
    as_response, err1 = spec.parse_warc_file(wet)                     # default
    as_wet, err2 = spec.parse_warc_file(wet, rec_type="conversion")
    assert err1 is None and err2 is None
    assert as_response == []            # response reader skips conversion recs
    assert len(as_wet) == 1 and as_wet[0].payload == b"hello world"


def test_wet_export_round_trip_spark(spark):
    from blog_parser_spark.operators import parse

    pages = io.synth_pages(spark, SF_DIR)
    parsed = parse.parse_pages(pages, keep_text=True)
    wet = warc.pack_wet_files(
        parsed.select("url", "warc_ts", "extracted_text"), docs_per_file=10)
    back = warc.read_warc(wet, rec_type="conversion").select(
        "url", F.col("html").cast("string").alias("recovered"))
    truth = parsed.select("url", "text")
    j = back.join(truth, "url", "inner")
    n = pages.count()
    assert back.count() == n == j.count()
    assert j.filter(F.col("recovered") != F.col("text")).count() == 0


def test_warc_ingest_stream_matches_batch_and_resumes(spark, tmp_path):
    """WARC archives ARE a stream (crawlers land them continuously):
    read_warc is a stateless mapInArrow transform, so it runs unchanged
    inside a streaming query — availableNow ingest must equal the batch
    parse, and a restart must process ONLY newly-landed archives from
    the checkpoint."""
    import os
    import shutil

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ck"))
    pages = io.synth_pages(spark, SF_DIR)
    files = warc.pack_warc_files(pages, docs_per_file=50)
    first = files.filter(F.crc32("warc_file") % 2 == 0)
    rest = files.filter(F.crc32("warc_file") % 2 == 1)
    os.makedirs(src)

    def land(df, i):
        part_dir = str(tmp_path / f"p{i}")
        df.coalesce(1).write.mode("overwrite").parquet(part_dir)
        f = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice{i}.parquet")
        shutil.move(os.path.join(part_dir, f), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # pin arrival order

    def run():
        sdf = (spark.readStream
               .schema("warc_file string, content binary").parquet(src))
        return (warc.read_warc(sdf).writeStream
                .format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    land(first, 0)
    run().awaitTermination()
    # strictly some-but-not-all: proves the restart below adds the rest
    # from the checkpoint rather than reprocessing everything
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < pages.count()

    land(rest, 1)
    run().awaitTermination()

    got = spark.read.parquet(out).select("url", "warc_ts", "html")
    exp = warc.read_warc(files).select("url", "warc_ts", "html")
    assert got.count() == pages.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_charset_flags_hand_cases(spark):
    """Encode-round-trip UTF-8 validity + BOM detection on hand-crafted
    bytes — pure JVM (no Python stage)."""
    from blog_parser_spark.operators import enrich

    cases = [
        ("valid", "héllo <p>ok</p>".encode()),
        ("bom", enrich.UTF8_BOM + b"text"),
        ("invalid", b"ab\xff\xfecd"),
        ("truncated_mb", "é".encode()[:1]),   # dangling continuation lead
        ("empty", b""),
        ("null", None),
    ]
    df = spark.createDataFrame(cases, "name string, html binary")
    v, b = enrich.charset_flags(F.col("html"))
    got = {r.name: (r.v, r.b) for r in
           df.select("name", v.alias("v"), b.alias("b")).collect()}
    assert got["valid"] == (True, False)
    assert got["bom"] == (True, True)
    assert got["invalid"] == (False, False)
    assert got["truncated_mb"] == (False, False)
    assert got["empty"] == (True, False)
    assert got["null"] == (None, None)

    out = enrich.charset_census(
        df.withColumnRenamed("name", "lang"), group_col="lang")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pack_rejects_null_payload_loudly(spark):
    import pytest
    from pyspark.sql.utils import PythonException

    bad = spark.createDataFrame(
        [("https://a.example.com/post/1", datetime(2024, 1, 1), None)],
        "url string, warc_ts timestamp, extracted_text string")
    with pytest.raises(PythonException, match="NULL payload"):
        warc.pack_wet_files(bad).collect()


def test_payload_digest_catches_in_record_corruption():
    """Content-Length framing can't see a bit flip inside a well-framed
    payload — the per-record WARC-Payload-Digest can."""
    good = spec.render_warc_record("response", "u1", _D, b"hello world")
    recs, err = spec.parse_warc_file(good)
    assert err is None and recs[0].digest_err is None

    # flip one payload byte without touching the framing
    idx = good.index(b"hello world")
    corrupt = good[:idx] + b"hellO" + good[idx + 5:]
    recs, err = spec.parse_warc_file(corrupt)
    assert err is None                      # framing still sound
    assert "digest mismatch" in recs[0].digest_err

    # absent digest (older writer) = accepted, not flagged
    nodigest = spec.render_warc_record("response", "u1", _D, b"x",
                                       with_digest=False)
    recs, err = spec.parse_warc_file(nodigest)
    assert err is None and recs[0].digest_err is None


def test_pack_rejects_unparseable_url_loudly(spark):
    import pytest
    from pyspark.sql.utils import PythonException

    bad = spark.createDataFrame(
        [("https://a.example.com/page?id=1", datetime(2024, 1, 1),
          bytearray(b"<html></html>"))],
        "url string, warc_ts timestamp, html binary")
    with pytest.raises(PythonException, match="doc-id layout"):
        warc.pack_warc_files(bad).collect()


# --- .warc.gz layer ----------------------------------------------------------

def test_gz_round_trip_and_member_offsets():
    """Per-record-gzip render -> parse is byte-exact, and each record's
    offset is its gzip member's COMPRESSED byte offset (the number a
    CC-style index stores): re-parsing the slice at that offset must
    yield exactly that record."""
    recs_in = [("u1", _D, b"<html>a</html>"), ("u2", _D, b"x" * 5000)]
    data = spec.render_warc_gz_file(recs_in)
    recs, err = spec.parse_warc_gz_file(data)
    assert err is None
    assert [(r.url, r.warc_date, r.payload) for r in recs] == recs_in
    assert recs[0].offset > 0  # warcinfo member leads
    for r in recs:
        alone, err2 = spec.parse_warc_gz_file(data[r.offset:])
        assert err2 is None and alone[0].payload == r.payload


def test_gz_max_records_counts_records_inside_a_member():
    """max_records caps the records returned even when one gzip member
    holds several: the gz walk returns what the plain walk of the same
    bytes returns."""
    two = _one("u1", b"a") + _one("u2", b"b")
    for data, walk in ((two, spec.parse_warc_file),
                       (spec.gzip_member(two), spec.parse_warc_gz_file)):
        for k in (1, 2, 3):
            recs, err = walk(data, max_records=k)
            assert err is None
            assert [r.url for r in recs] == ["u1", "u2"][:k]


def test_gz_render_is_deterministic_and_magic_detectable():
    recs = [("u1", _D, b"payload")]
    a, b = spec.render_warc_gz_file(recs), spec.render_warc_gz_file(recs)
    assert a == b
    assert a[:2] == spec.GZIP_MAGIC
    # plain render of the same records differs and starts with WARC/
    assert spec.render_warc_file(recs)[:4] == b"WARC"


def test_gz_binary_safety_payload_with_gzip_magic_and_warc_magic():
    # neither the gzip magic nor the WARC version string inside a
    # payload may desync the member walk
    evil = spec.GZIP_MAGIC + b"WARC/1.0\r\n" + bytes(range(256))
    data = spec.render_warc_gz_file([("u1", _D, evil), ("u2", _D, b"ok")])
    recs, err = spec.parse_warc_gz_file(data)
    assert err is None
    assert [r.payload for r in recs] == [evil, b"ok"]


def test_gz_malformed_members_stop_with_positioned_error():
    good = spec.render_warc_gz_file([("u1", _D, b"a")])
    one = spec.gzip_member(spec.render_warc_record("response", "u2", _D, b"b"))

    # truncated trailing member: good prefix recovered, loud tail
    recs, err = spec.parse_warc_gz_file(good + one[:-5])
    assert len(recs) == 1 and recs[0].payload == b"a"
    assert err is not None and f"at byte {len(good)}" in err

    # garbage between members
    recs, err = spec.parse_warc_gz_file(good + b"junk" + one)
    assert len(recs) == 1 and "bad gzip magic" in err

    # flipped byte inside the deflate stream
    corrupt = bytearray(good + one)
    corrupt[len(good) + 20] ^= 0xFF
    recs, err = spec.parse_warc_gz_file(bytes(corrupt))
    assert len(recs) == 1
    assert err is not None and "gzip member" in err

    # well-formed member whose CONTENT fails the WARC grammar
    recs, err = spec.parse_warc_gz_file(
        good + spec.gzip_member(b"not a warc record"))
    assert len(recs) == 1
    assert err is not None and "bad version line" in err


def test_gz_pack_read_round_trip_spark(spark):
    pages = io.synth_pages(spark, SF_DIR)
    files = warc.pack_warc_gz_files(pages, docs_per_file=25)
    names = [r.warc_file for r in files.select("warc_file").collect()]
    assert names and all(n.endswith(".warc.gz") for n in names)

    records = warc.read_warc(files)
    assert records.filter(F.col("warc_err").isNotNull()).count() == 0
    src = pages.select("url", F.col("warc_ts").alias("src_ts"),
                       F.col("html").alias("src_html"))
    joined = records.join(src, "url", "inner")
    n_docs = pages.count()
    assert joined.count() == n_docs == records.count()
    assert joined.filter(
        (F.col("html") != F.col("src_html"))
        | (F.col("warc_ts") != F.col("src_ts"))).count() == 0


def test_read_warc_handles_mixed_plain_and_gz_archives(spark):
    """One ingest directory, both layouts — read_warc sniffs the magic
    per file, never the name."""
    plain = spec.render_warc_file([("u1", _D, b"a")])
    gz = spec.render_warc_gz_file([("u2", _D, b"b")])
    misnamed = spec.render_warc_gz_file([("u3", _D, b"c")])  # .warc name
    files = spark.createDataFrame(
        [Row(warc_file="p.warc", content=bytearray(plain)),
         Row(warc_file="g.warc.gz", content=bytearray(gz)),
         Row(warc_file="lies.warc", content=bytearray(misnamed))],
        schema=warc.WARC_FILE_SCHEMA)
    out = {r.url: bytes(r.html) for r in warc.read_warc(files).collect()}
    assert out == {"u1": b"a", "u2": b"b", "u3": b"c"}


def test_pack_rejects_subsecond_timestamp_loudly(spark):
    import pytest
    from pyspark.sql.utils import PythonException

    bad = spark.createDataFrame(
        [("https://a.example.com/post/1",
          datetime(2024, 1, 1, 0, 0, 0, 250_000),
          bytearray(b"<html></html>"))],
        "url string, warc_ts timestamp, html binary")
    with pytest.raises(PythonException, match="sub-second"):
        warc.pack_warc_files(bad).collect()


def test_presorted_pack_is_exchange_free_and_byte_identical(spark, tmp_path):
    """The co-partitioned pack (pages table bucketed by archive id) must
    plan with ZERO Exchange nodes — the pack's byte volume never touches
    the shuffle system — and must emit byte-identical archives to the
    shuffled pack. autoBucketedScan must be OFF for a scan->mapInPandas
    plan (no join/agg above the scan exploits the bucketing, so Spark
    would otherwise rewrite it into a splittable file scan and break the
    archive-within-one-partition guarantee)."""
    from blog_parser_spark.plans.explain import plan_formatted, plan_nodes

    pages = io.synth_pages(spark, SF_DIR)
    keyed = pages.withColumn(
        "_fid_mat",
        (F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long") / 25)
        .cast("long"))
    # explicit per-test location: a bare saveAsTable would collide with a
    # leftover warehouse dir from a previous JVM (fresh in-memory catalog,
    # existing path -> LOCATION_ALREADY_EXISTS)
    spark.sql("DROP TABLE IF EXISTS pages_by_fid")
    (keyed.write.mode("overwrite").format("parquet")
     .bucketBy(4, "_fid_mat").sortBy("_fid_mat")
     .option("path", str(tmp_path / "pages_by_fid"))
     .saveAsTable("pages_by_fid"))

    prev = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        src = spark.table("pages_by_fid").select("url", "warc_ts", "html")
        out = warc.pack_warc_files_presorted(src, docs_per_file=25)
        nodes = plan_nodes(plan_formatted(out))
        assert not [n for n in nodes if "Exchange" in n], nodes
        got = {(r.warc_file, bytes(r.content)) for r in out.collect()}
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)

    exp = {(r.warc_file, bytes(r.content))
           for r in warc.pack_warc_files(pages, docs_per_file=25).collect()}
    assert got == exp and len(got) > 1


def test_warc_binaryfile_stream_matches_batch_and_resumes(spark, tmp_path):
    """The production streaming shape: archives land as FILES in a
    prefix (mixed plain/.warc.gz), the binaryFile source picks up only
    new ones (checkpoint resume), and the stateless read_warc transform
    yields exactly the batch parse."""
    import os

    from blog_parser_spark.streaming import stream

    pages = io.synth_pages(spark, SF_DIR)
    doc_id = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    plain = warc.pack_warc_files(pages.filter(doc_id % 2 == 0), 50)
    gz = warc.pack_warc_gz_files(pages.filter(doc_id % 2 == 1), 50)
    src = str(tmp_path / "landing")
    os.makedirs(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def land(files_df, t):
        for r in files_df.collect():
            p = os.path.join(src, r.warc_file)
            with open(p, "wb") as f:
                f.write(bytes(r.content))
            os.utime(p, (t, t))

    def run():
        (stream.stream_warc_archives(spark, src, max_files_per_trigger=4)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination())

    land(plain, 1_000_000)
    run()
    n_total = pages.count()
    n_first = spark.read.parquet(out).count()
    # strictly some-but-not-all: the restart below must ADD from the
    # checkpoint, not reprocess
    assert 0 < n_first < n_total

    land(gz, 1_000_001)
    run()
    got = spark.read.parquet(out)
    assert got.filter(F.col("warc_err").isNotNull()).count() == 0
    got = got.select("url", "warc_ts", "html")
    exp = (warc.read_warc(plain).unionByName(warc.read_warc(gz))
           .select("url", "warc_ts", "html"))
    assert got.count() == n_total
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_cdx_index_offsets_digests_and_quarantine(spark):
    """The CDX capture index: positions/offsets/digests per record for
    plain AND gz archives, seek check green on well-formed input, and a
    truncated archive yields its good-prefix index rows plus one
    quarantine row."""
    import hashlib

    plain = spec.render_warc_file([("u1", _D, b"aaa"), ("u2", _D, b"bb")])
    gz = spec.render_warc_gz_file([("u3", _D, b"cc")])
    cut = spec.render_warc_file([("u4", _D, b"dd")]) + b"garbage"
    # one record declares a wrong digest, the next declares none
    wrong = spec.render_warc_record("response", "u5", _D, b"ee").replace(
        spec.payload_digest(b"ee").encode(),
        spec.payload_digest(b"ff").encode())
    dig = wrong + spec.render_warc_record("response", "u6", _D, b"gg",
                                          with_digest=False)
    files = spark.createDataFrame(
        [Row(warc_file="p.warc", content=bytearray(plain)),
         Row(warc_file="g.warc.gz", content=bytearray(gz)),
         Row(warc_file="cut.warc", content=bytearray(cut)),
         Row(warc_file="dig.warc", content=bytearray(dig))],
        schema=warc.WARC_FILE_SCHEMA)
    rows = {(r.warc_file, r.url): r for r in warc.cdx_index(files).collect()}

    assert rows[("p.warc", "u1")].rec_idx == 0
    assert rows[("p.warc", "u2")].rec_idx == 1
    # offset really is the record's byte position in the plain layout
    off = rows[("p.warc", "u2")].rec_offset
    assert plain[off:off + len(spec.WARC_VERSION)] == spec.WARC_VERSION
    # digest matches the payload
    assert rows[("p.warc", "u1")].digest == \
        "md5:" + hashlib.md5(b"aaa").hexdigest()
    # gz offset is the gzip member offset (magic bytes there)
    goff = rows[("g.warc.gz", "u3")].rec_offset
    assert gz[goff:goff + 2] == spec.GZIP_MAGIC
    # every well-formed record seek-verifies
    assert all(r.seek_ok == "ok" for k, r in rows.items() if k[1] is not None)
    # the truncated file indexes its good prefix and quarantines loudly
    assert rows[("cut.warc", "u4")].seek_ok == "ok"
    q = rows[("cut.warc", None)]
    assert q.rec_idx is None and q.seek_ok is None
    # the digest column is the payload's own digest, never the declared
    # one, whether the declared one is wrong or absent
    assert rows[("dig.warc", "u5")].digest == spec.payload_digest(b"ee")
    assert rows[("dig.warc", "u6")].digest == spec.payload_digest(b"gg")
    recs, err = spec.walk_warc(dig)
    assert err is None
    assert "digest mismatch" in recs[0].digest_err
    assert recs[1].digest_err is None
    assert len(rows) == 7


def test_fetch_by_index_recovers_wanted_urls_only(spark):
    """Random access: fetch a wanted subset via the CDX index over a
    MIXED plain/.warc.gz corpus — exactly the wanted urls come back,
    byte-identical, and the hit list attaches to the archive table via
    a broadcast join (archive bytes never shuffle)."""
    pages = io.synth_pages(spark, SF_DIR)
    doc_id = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    plain = warc.pack_warc_files(pages.filter(doc_id % 2 == 0), 25)
    gz = warc.pack_warc_gz_files(pages.filter(doc_id % 2 == 1), 25)
    archives = plain.unionByName(gz)
    index = warc.cdx_index(archives)
    wanted = pages.filter(doc_id % 7 == 3).select("url")

    fetched = warc.fetch_by_index(archives, index, wanted)
    assert "BroadcastHashJoin" in fetched._jdf.queryExecution().executedPlan().toString()

    got = {r.url: r for r in fetched.collect()}
    exp = {r.url: r for r in
           pages.filter(doc_id % 7 == 3)
           .select("url", "warc_ts", "html").collect()}
    assert set(got) == set(exp)
    for u, e in exp.items():
        assert bytes(got[u].html) == bytes(e.html)
        assert got[u].warc_ts == e.warc_ts
        assert got[u].warc_err is None


def test_fetch_by_index_quarantines_stale_offsets(spark):
    """A stale/corrupt index entry (offset out of range, offset into the
    middle of a payload) yields a position-stamped quarantine row — one
    output row per hit ALWAYS, never a silent miss."""
    recs = [("https://a.com/1", "2024-01-01T00:00:00Z", b"aaa"),
            ("https://a.com/2", "2024-01-01T00:00:01Z", b"bbb")]
    raw = spec.render_warc_file(recs)
    files = spark.createDataFrame(
        [Row(warc_file="p.warc", content=bytearray(raw))])
    good = {r.url: r.rec_offset for r in warc.cdx_index(files).collect()}
    bad_index = spark.createDataFrame(
        [Row(url="https://a.com/1", warc_file="p.warc",
             rec_offset=int(good["https://a.com/1"])),   # valid
         Row(url="https://a.com/2", warc_file="p.warc",
             rec_offset=int(good["https://a.com/2"]) + 7),  # mid-record
         Row(url="https://a.com/3", warc_file="p.warc",
             rec_offset=10_000_000)])                    # out of range
    wanted = spark.createDataFrame(
        [Row(url=f"https://a.com/{i}") for i in (1, 2, 3)])

    rows = warc.fetch_by_index(files, bad_index, wanted).collect()
    assert len(rows) == 3
    ok = [r for r in rows if r.url is not None]
    assert [r.url for r in ok] == ["https://a.com/1"]
    assert bytes(ok[0].html) == b"aaa"
    errs = sorted((r for r in rows if r.url is None),
                  key=lambda r: r.rec_offset)
    assert "no response record at offset" in errs[0].warc_err
    # the seek walks the whole archive from the offset, so the framing
    # error names the absolute file byte, not a slice-relative 0
    stale = int(good["https://a.com/2"]) + 7
    assert errs[0].rec_offset == stale
    assert f"at byte {stale}" in errs[0].warc_err
    assert "outside archive" in errs[1].warc_err


def _subtree(plan: str, marker: str) -> str:
    """The plan-tree lines under the first node whose line holds marker."""
    lines = plan.splitlines()
    top = next(i for i, line in enumerate(lines) if marker in line)

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    sub = []
    for line in lines[top + 1:]:
        if depth(line) <= depth(lines[top]):
            break
        sub.append(line)
    return "\n".join(sub)


def test_fetch_plan_broadcasts_a_local_table_scan(spark):
    """The driver's fetch plan goes back to the executors as a
    LocalTableScan under the broadcast, never Scan ExistingRDD, so no
    PythonRDD job runs per fetch. An empty plan prunes the whole fetch."""
    raw = spec.render_warc_file(
        [("https://a.com/1", "2024-01-01T00:00:00Z", b"aaa")])
    files = spark.createDataFrame(
        [Row(warc_file="p.warc", content=bytearray(raw))])
    index = warc.cdx_index(files)

    def fetch(url):
        df = warc.fetch_by_index(files, index, spark.createDataFrame([Row(url=url)]))
        return df, df._jdf.queryExecution().executedPlan().toString()

    fetched, plan = fetch("https://a.com/1")
    side = _subtree(plan, "BroadcastExchange")
    assert "LocalTableScan" in side and "ExistingRDD" not in side, plan
    assert [bytes(r.html) for r in fetched.collect()] == [b"aaa"]

    fetched, plan = fetch("https://a.com/none")
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert fetched.collect() == []


def _mixed_corpus(spark):
    """Plain and gz archives, a truncated archive, one payload whose
    declared digest is wrong, and a warcinfo-only archive (no rows)."""
    plain = spec.render_warc_file([("https://m.com/1", _D, b"aaa"),
                                   ("https://m.com/2", "2024-01-01T00:00:00Z",
                                    b"bb")])
    gz = spec.render_warc_gz_file([("https://m.com/3", _D, b"c"),
                                   ("https://m.com/4", _D, b"")])
    cut = spec.render_warc_file([("https://m.com/5", _D, b"dd"),
                                 ("https://m.com/6", _D, b"ee")])[:-30]
    wrong = spec.render_warc_file([("https://m.com/7", _D, b"ff")]).replace(
        spec.payload_digest(b"ff").encode(), spec.payload_digest(b"gg").encode())
    raw = {"p.warc": plain, "g.warc.gz": gz, "cut.warc": cut,
           "dig.warc": wrong, "info.warc": spec.render_warc_file([])}
    files = spark.createDataFrame(
        [Row(warc_file=k, content=bytearray(v)) for k, v in raw.items()],
        schema=warc.WARC_FILE_SCHEMA)
    return raw, files


def _epoch(warc_date: str) -> int:
    return int(datetime.strptime(warc_date, spec.WARC_DATE_FMT)
               .replace(tzinfo=timezone.utc).timestamp())


def _rows(df) -> list[tuple]:
    """Rows with warc_ts as epoch seconds and bytes as bytes, sorted."""
    if "warc_ts" in df.columns:
        df = df.withColumn("warc_ts", F.col("warc_ts").cast("long"))
    rows = [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in df.collect()]
    return sorted(rows, key=repr)


def test_warc_stages_plan_map_in_arrow(spark):
    """read_warc, cdx_index and fetch_by_index each run one MapInArrow
    stage and no MapInPandas one."""
    from blog_parser_spark.plans.explain import plan_formatted, plan_nodes

    _, files = _mixed_corpus(spark)
    index = warc.cdx_index(files)
    wanted = spark.createDataFrame([Row(url="https://m.com/1")])
    for df in (warc.read_warc(files), index,
               warc.fetch_by_index(files, index, wanted)):
        nodes = plan_nodes(plan_formatted(df))
        assert nodes.count("MapInArrow") == 1, nodes
        assert "MapInPandas" not in nodes, nodes


def test_warc_stages_equal_spec_walk_on_mixed_corpus(spark):
    """Every stage's rows equal the spec walk of each archive, row for
    row and warc_ts included; quarantine rows follow the stage contract."""
    raw, files = _mixed_corpus(spark)
    read, cdx, fetch = [], [], []
    for name, data in raw.items():
        recs, err = spec.walk_warc(data)
        for i, r in enumerate(recs):
            row = (r.url, _epoch(r.warc_date), r.payload, name, r.offset,
                   r.digest_err)
            read.append(row)
            fetch.append(row)
            cdx.append((r.url, name, i, r.offset, r.digest, "ok"))
        if err is not None:
            read.append((None, None, None, name, None, err))
            cdx.append((None, name, None, None, None, None))
    assert {r[3] for r in read} == set(raw) - {"info.warc"}
    assert any(r[5] and "digest mismatch" in r[5] for r in read)

    index = warc.cdx_index(files)
    wanted = index.where(F.col("url").isNotNull()).select("url")
    assert _rows(warc.read_warc(files)) == sorted(read, key=repr)
    assert _rows(index) == sorted(cdx, key=repr)
    assert _rows(warc.fetch_by_index(files, index, wanted)) == \
        sorted(fetch, key=repr)


def test_warc_ts_is_utc_instant_under_non_utc_session(spark):
    """WARC-Date is Zulu: 2024-01-01T00:00:00Z reads as epoch 1704067200
    whatever the session time zone."""
    raw = spec.render_warc_gz_file(
        [("https://z.com/1", "2024-01-01T00:00:00Z", b"z")])
    files = spark.createDataFrame(
        [Row(warc_file="z.warc.gz", content=bytearray(raw))],
        schema=warc.WARC_FILE_SCHEMA)
    wanted = spark.createDataFrame([Row(url="https://z.com/1")])
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        index = warc.cdx_index(files)
        for df in (warc.read_warc(files),
                   warc.fetch_by_index(files, index, wanted)):
            got = [r[0] for r in
                   df.select(F.col("warc_ts").cast("long")).collect()]
            assert got == [1704067200]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_walk_without_digest_keeps_records():
    """_digest=False walks the same records with digest and digest_err
    left None, for both layouts."""
    wrong = _one(payload=b"xy").replace(spec.payload_digest(b"xy").encode(),
                                        spec.payload_digest(b"yx").encode())
    for data in (wrong + _one(), spec.gzip_member(wrong) + spec.gzip_member(_one())):
        full, err = spec.walk_warc(data)
        bare, berr = spec.walk_warc(data, _digest=False)
        assert err is None and berr is None
        assert full[0].digest_err is not None
        assert [(r.url, r.warc_date, r.payload, r.offset) for r in bare] == \
            [(r.url, r.warc_date, r.payload, r.offset) for r in full]
        assert all(r.digest is None and r.digest_err is None for r in bare)


def test_index_delta_statuses_and_quarantine_exclusion(spark):
    """Hand archives: one url gone, one added, one changed (different
    payload bytes), one identical — and a quarantine row (url NULL) in
    either index never produces a delta row."""
    a_raw = spec.render_warc_file(
        [("https://d.com/gone", "2024-01-01T00:00:00Z", b"g"),
         ("https://d.com/chg", "2024-01-01T00:00:01Z", b"v1"),
         ("https://d.com/same", "2024-01-01T00:00:02Z", b"s")])
    b_raw = spec.render_warc_file(
        [("https://d.com/chg", "2024-02-01T00:00:00Z", b"v2"),
         ("https://d.com/same", "2024-02-01T00:00:01Z", b"s"),
         ("https://d.com/new", "2024-02-01T00:00:02Z", b"n")])
    # truncated file -> its index gets a quarantine row (url NULL)
    cut = spec.render_warc_file(
        [("https://d.com/x", "2024-02-01T00:00:03Z", b"xxxx")])[:-30]
    idx_a = warc.cdx_index(spark.createDataFrame(
        [Row(warc_file="a.warc", content=bytearray(a_raw))]))
    idx_b = warc.cdx_index(spark.createDataFrame(
        [Row(warc_file="b.warc", content=bytearray(b_raw)),
         Row(warc_file="cut.warc", content=bytearray(cut))]))
    assert idx_b.filter("url IS NULL").count() == 1

    got = {r.url: r.status for r in warc.index_delta(idx_a, idx_b).collect()}
    assert got == {"https://d.com/gone": "gone",
                   "https://d.com/chg": "changed",
                   "https://d.com/same": "same",
                   "https://d.com/new": "added"}


def test_incremental_refresh_fetches_exactly_added_and_changed(spark):
    """The monthly-update loop on hand archives: delta the two indexes,
    fetch ONLY the 'added'+'changed' members from the new crawl, and get
    the NEW payload bytes back — the 'same' and 'gone' urls never touch
    the archive reader (plans/queries_crawl.py crawl_incremental_refresh
    runs the same loop under its closed-form oracle)."""
    a_raw = spec.render_warc_file(
        [("https://d.com/gone", "2024-01-01T00:00:00Z", b"g"),
         ("https://d.com/chg", "2024-01-01T00:00:01Z", b"v1"),
         ("https://d.com/same", "2024-01-01T00:00:02Z", b"s")])
    b_raw = spec.render_warc_gz_file(
        [("https://d.com/chg", "2024-02-01T00:00:00Z", b"v2"),
         ("https://d.com/same", "2024-02-01T00:00:01Z", b"s"),
         ("https://d.com/new", "2024-02-01T00:00:02Z", b"n")])
    idx_a = warc.cdx_index(spark.createDataFrame(
        [Row(warc_file="a.warc", content=bytearray(a_raw))]))
    files_b = spark.createDataFrame(
        [Row(warc_file="b.warc.gz", content=bytearray(b_raw))])
    idx_b = warc.cdx_index(files_b)

    refresh = (warc.index_delta(idx_a, idx_b)
               .filter(F.col("status").isin("added", "changed")))
    fetched = warc.fetch_by_index(files_b, idx_b, refresh.select("url"))

    got = {r.url: bytes(r.html) for r in fetched.collect()}
    assert got == {"https://d.com/chg": b"v2", "https://d.com/new": b"n"}


def test_stream_crawl_delta_matches_batch_and_resumes(spark, tmp_path):
    """Streaming dual of index_delta: as the new crawl's archives land,
    every capture is classified against the prior crawl's CDX index —
    availableNow over two landings must equal the batch delta minus
    'gone' (undecidable mid-crawl), and the restart must classify ONLY
    newly-landed archives from the checkpoint."""
    import os

    from blog_parser_spark.streaming import stream

    pages = io.synth_pages(spark, SF_DIR)
    doc_id = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    crawl_a = pages.filter(doc_id % 13 != 0)
    crawl_b = (pages.filter(doc_id % 11 != 0)
               .withColumn("html", F.when(
                   doc_id % 7 == 0,
                   F.concat(F.col("html"), F.lit(b" ")))
                   .otherwise(F.col("html"))))
    prior = warc.cdx_index(warc.pack_warc_files(crawl_a, 50))
    archives_b = warc.pack_warc_gz_files(crawl_b, 50)

    src = str(tmp_path / "landing")
    os.makedirs(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    rows = archives_b.collect()
    half = len(rows) // 2
    assert 0 < half < len(rows)

    def land(batch, t):
        for r in batch:
            p = os.path.join(src, r.warc_file)
            with open(p, "wb") as f:
                f.write(bytes(r.content))
            os.utime(p, (t, t))

    def run():
        (stream.stream_crawl_delta(spark, src, prior,
                                   max_files_per_trigger=3)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination())

    land(rows[:half], 1_000_000)
    run()
    n_b = crawl_b.count()
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < n_b  # resume must ADD, not reprocess

    land(rows[half:], 1_000_001)
    run()
    got = {(r.url, r.status)
           for r in spark.read.parquet(out).select("url", "status").collect()}
    exp = {(r.url, r.status)
           for r in warc.index_delta(prior, warc.cdx_index(archives_b))
           .filter(F.col("status") != "gone").collect()}
    assert len(got) == n_b
    assert got == exp
    # every class is actually exercised by the fixture split
    assert {s for _, s in got} == {"added", "changed", "same"}


# --- record batches built from Arrow buffers ---------------------------------

def _nullable(values: st.SearchStrategy) -> st.SearchStrategy:
    return st.lists(st.one_of(st.none(), values), max_size=30)


# every column type WARC_RECORD_ARROW and CDX_ARROW use; text and bytes
# include empty and non-ASCII values, and datetimes the whole naive range
_BUILDER_CASES = st.one_of(
    st.tuples(st.just(pa.string()), _nullable(st.text(max_size=6))),
    st.tuples(st.just(pa.string()), _nullable(st.sampled_from(
        ["", "a", "https://m.com/1", "\u00e9t\u00e9", "\u4e2d", "\U0001f600"]))),
    st.tuples(st.just(pa.binary()), _nullable(st.binary(max_size=6))),
    st.tuples(st.just(pa.int64()), _nullable(
        st.integers(-(1 << 63), (1 << 63) - 1))),
    st.tuples(st.just(pa.timestamp("us", tz="UTC")), _nullable(
        st.datetimes())),
)


def test_builder_covers_exactly_the_stage_column_types():
    types = {f.type for f in (*warc.WARC_RECORD_ARROW, *warc.CDX_ARROW)}
    assert types == {pa.string(), pa.binary(), pa.int64(),
                     pa.timestamp("us", tz="UTC")}
    for t in (pa.int32(), pa.large_string(), pa.timestamp("ns", tz="UTC")):
        with pytest.raises(TypeError):
            warc._column((1,), t)


@settings(max_examples=400, deadline=None)
@given(_BUILDER_CASES)
@example((pa.string(), []))
@example((pa.binary(), [None, None, None]))
@example((pa.int64(), [None]))
@example((pa.timestamp("us", tz="UTC"), []))
@example((pa.string(), [None, "", "\u00e9", None, "a"] * 3))
def test_column_builder_equals_pa_array(case):
    t, values = case
    got = warc._column(tuple(values), t)
    got.validate(full=True)
    assert got.equals(pa.array(values, type=t))


def test_warc_worker_modules_do_not_load_pandas():
    """A fresh interpreter with the Python worker's imports builds a
    record batch and a CDX batch without importing pandas."""
    code = (
        "import sys, datetime\n"
        "import pyspark.worker\n"
        "from blog_parser_spark.sources import warc\n"
        "rec = warc._record_batch([('https://m.com/1', "
        "datetime.datetime(2024, 1, 1), b'x', 'a.warc', 0, None), "
        "(None, None, None, 'a.warc', None, 'cut')], warc.WARC_RECORD_ARROW)\n"
        "cdx = warc._record_batch([('https://m.com/1', 'a.warc', 0, 0, "
        "'md5:x', 'ok')], warc.CDX_ARROW)\n"
        "print(rec.num_rows, cdx.num_rows, 'pandas' in sys.modules)\n")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=Path(__file__).resolve().parent.parent,
                       timeout=120)
    assert r.returncode == 0, r.stderr
    assert r.stdout.split() == ["2", "1", "False"]


def _walk_rows(raw: dict[str, bytes]) -> tuple[list, list, list]:
    """Expected read, cdx and fetch rows of a corpus, from the spec walk
    of each archive."""
    read, cdx, fetch = [], [], []
    for name, data in raw.items():
        recs, err = spec.walk_warc(data)
        for i, r in enumerate(recs):
            row = (r.url, _epoch(r.warc_date), r.payload, name, r.offset,
                   r.digest_err)
            read.append(row)
            fetch.append(row)
            cdx.append((r.url, name, i, r.offset, r.digest, "ok"))
        if err is not None:
            read.append((None, None, None, name, None, err))
            cdx.append((None, name, None, None, None, None))
    return read, cdx, fetch


def test_warc_stages_split_archives_by_byte_budget(spark, monkeypatch):
    """With a budget of a few hundred bytes every stage's rows still
    equal the spec walk, and a multi-record archive leaves as several
    batches whose rows are the archive's, in order."""
    monkeypatch.setattr(warc, "BATCH_BYTES", 300)
    raw, files = _mixed_corpus(spark)
    read, cdx, fetch = _walk_rows(raw)
    index = warc.cdx_index(files)
    wanted = index.where(F.col("url").isNotNull()).select("url")
    assert _rows(warc.read_warc(files)) == sorted(read, key=repr)
    assert _rows(index) == sorted(cdx, key=repr)
    assert _rows(warc.fetch_by_index(files, index, wanted)) == \
        sorted(fetch, key=repr)

    payloads = [bytes([65 + i]) * 100 for i in range(7)]
    rows = [(f"https://b.com/{i}", datetime(2024, 1, 1), p, "b.warc", i, None)
            for i, p in enumerate(payloads)]
    batches = list(warc._batches(rows, warc.WARC_RECORD_ARROW, 2, 300))
    assert [b.num_rows for b in batches] == [3, 3, 1]
    assert pa.Table.from_batches(batches).column("html").to_pylist() == \
        payloads
