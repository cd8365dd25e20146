"""WARC archive source/sink — ingest for Common-Crawl-style page archives.

The north star's corpus is "Common-Crawl-style web pages"; Common Crawl
ships as WARC files (many ~1 GB archives, each a concatenation of
warcinfo/request/response records). This module is the Spark plumbing
around the grammar pinned in spec.py (render_warc_file/walk_warc —
one source of truth for both directions):

- pack_warc_files: pages -> (warc_file, content) archive rows. Fixture
  synthesis and export packer; grouping is a pure function of the url's
  doc id, so the layout is byte-reproducible and the DuckDB oracle can
  derive it in closed form.
- read_warc: (warc_file, content) -> page rows + loud quarantine. The
  production ingest is `spark.read.format("binaryFile").load(".../*.warc")`
  feeding this same transform — parallelism is per-file (the natural WARC
  unit: ~1 GB each, so 100 TB = ~10^5 well-sized tasks with no shuffle at
  all). `.warc.gz` archives (Common Crawl's actual layout: one gzip
  member per record, members concatenated) gunzip inside the same map
  stage — spec.walk_warc sniffs the gzip magic per file, so plain and gz
  archives mix freely in one load.
- cdx_index / fetch_by_index: the capture index and the random access it
  drives. Every stage here walks through spec.walk_warc; a seek is
  start=<offset>, max_records=1 on the whole archive, never a slice.

Scale shape: both directions are ONE Arrow-batched Python stage and zero
shuffles beyond pack's repartition on file id. Payload bytes cross Arrow
once. The three reading stages run on mapInArrow, one archive at a time:
each archive's bytes are copied out of the input batch alone, and its
rows go back as Arrow batches of at most BATCH_BYTES each (_batches)
before the next archive is walked, so a Python worker holds one
archive's records, never a whole split's in a pandas frame. The packers
stay on mapInPandas: they already emit per finished archive.

Worker footprint: a reading stage's worker never imports pandas (~40 MB
of a ~100 MB worker). This module imports it only inside the packers,
and arrow_columns builds each output column from Arrow buffers, because
in pyarrow 16 `pa.array` on a Python sequence imports pandas. The parse
UDFs (operators/parse.py) build their output the same way, so a job
that reads WARC and parses pages keeps pandas out of its reused workers
too; in a `job.py` run the one stage left that loads it is the sink
write's per-partition stamp (manifest._with_task_metrics, ROADMAP
item 1).

Quarantine contract: a malformed file never throws — it yields every
record before its first framing error plus one quarantine row (url
NULL, the position-stamped reason in warc_err), so corrupt archives are
counted, never silently dropped.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from datetime import datetime

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from .. import arrow_columns, spec

WARC_FILE_SCHEMA = StructType([
    StructField("warc_file", StringType(), False),
    StructField("content", BinaryType(), False),
])

WARC_RECORD_SCHEMA = StructType([
    StructField("url", StringType(), True),        # NULL on quarantine rows
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("warc_file", StringType(), False),
    StructField("rec_offset", LongType(), True),
    StructField("warc_err", StringType(), True),   # set only on quarantine rows
])
WARC_RECORD_ARROW = to_arrow_schema(WARC_RECORD_SCHEMA)

_DOC_ID_RE = r"/post/(\d+)$"


def _fmt_warc_date(ts) -> str:
    # Pack contract: WARC_DATE_FMT is second-precision, so a sub-second
    # timestamp cannot round-trip — rejecting it here is a loud contract
    # (like NULL payloads), not a silent truncation that surfaces later
    # as a byte_identical/ts-equality failure. pandas is imported here,
    # not at module level: only the packers' mapInPandas workers call this.
    import pandas as pd
    t = pd.Timestamp(ts)
    if t.microsecond or t.nanosecond:
        raise ValueError(f"warc_ts {ts!r} has sub-second precision; the "
                         "WARC date format is second-precision — floor "
                         "timestamps before packing")
    return t.strftime(spec.WARC_DATE_FMT)


# The exact layout _fmt_warc_date writes, ASCII digits only.
_WARC_DATE_CANON = re.compile(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", re.ASCII)


def _parse_warc_date(s: str) -> datetime:
    # Naive UTC: record_batch's timestamp[us, UTC] column reads it as
    # that instant whatever the session zone. The canonical layout takes
    # fromisoformat, an order of magnitude cheaper than strptime.
    # Everything else, and any value that fromisoformat rejects, goes to
    # strptime, so accepted values and error messages are strptime's: it
    # also takes lower-case t/z, unpadded fields and non-ASCII digits.
    if _WARC_DATE_CANON.fullmatch(s):
        try:
            return datetime.fromisoformat(s[:19])
        except ValueError:
            pass
    return datetime.strptime(s, spec.WARC_DATE_FMT)


def _archives(batches: Iterator[pa.RecordBatch], *cols: str) -> Iterator[tuple]:
    """The named columns of each input row as Python values, one archive
    at a time: only the current archive's bytes are copied out of the
    Arrow batch, never the whole scan split."""
    for b in batches:
        arrays = [b.column(c) for c in cols]
        for i in range(b.num_rows):
            yield tuple(a[i].as_py() for a in arrays)


# Bytes of a batch's widest column that one output batch may hold. Arrow
# binary and string columns carry int32 offsets, so one batch stops at
# 2 GiB; a ~1 GB .warc.gz archive holds several times that once gunzipped.
BATCH_BYTES = 64 << 20


def _batches(rows: list[tuple], schema: pa.Schema, col: int,
             budget: int) -> Iterator[pa.RecordBatch]:
    """One archive's rows -> Arrow batches holding at most `budget` bytes
    of column `col` each (a row larger than that goes alone). An archive
    within budget, every benchmark archive among them, leaves as one
    batch, and an archive with no rows as one empty batch. Stages pass
    BATCH_BYTES from their own body, so the value at planning time is
    the one every worker uses."""
    batch, size = [], 0
    for row in rows:
        n = len(row[col] or b"")
        if batch and size + n > budget:
            yield arrow_columns.record_batch(batch, schema)
            batch, size = [], 0
        batch.append(row)
        size += n
    yield arrow_columns.record_batch(batch, schema)


def _pack_records(prefix: str, rec_type: str, gz: bool = False):
    """mapInPandas assembler shared by the WARC and WET packers: rows
    arrive repartitioned by _fid and sorted (_fid, _doc_id) within each
    partition, so every archive's records are contiguous — the assembler
    buffers the current _fid across Arrow batch boundaries and emits one
    (warc_file, content) row per completed archive. Per-archive cost is
    a list append, NOT a pandas-group dispatch: the groupBy.applyInPandas
    formulation paid ~6 ms of per-group overhead, which at 25-doc
    archives dominated the whole job (measured 3.8k docs/s packing; this
    shape measures ~10x that at the same archive size)."""
    import pandas as pd

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_fid = None
        cur: list[tuple[str, str, bytes]] = []

        render = spec.render_warc_gz_file if gz else spec.render_warc_file
        suffix = ".warc.gz" if gz else ".warc"

        def emit():
            name = f"{prefix}-{int(cur_fid):06d}{suffix}"
            return (name, render(cur, rec_type=rec_type))

        for pdf in batches:
            out = []
            for fid, url, ts, payload in zip(
                    pdf["_fid"], pdf["url"], pdf["_ts"], pdf["_payload"]):
                if pd.isna(fid):
                    # url didn't match the /post/<id> layout, so it has
                    # no archive assignment — fail with the url, not an
                    # int(NaN) traceback three frames deep
                    raise ValueError(f"url {url!r} does not match the "
                                     "packer's doc-id layout (_DOC_ID_RE)")
                if payload is None:
                    # loud contract: export parse_ok rows only — a NULL
                    # payload silently becoming b"" would fabricate an
                    # empty record for a failed parse
                    raise ValueError(f"NULL payload for {url!r}; filter "
                                     "failed/NULL rows before packing")
                if fid != cur_fid:
                    if cur_fid is not None:
                        out.append(emit())
                    cur_fid, cur = fid, []
                cur.append((url, _fmt_warc_date(ts), bytes(payload)))
            if out:
                yield pd.DataFrame(out, columns=["warc_file", "content"])
        if cur_fid is not None:
            yield pd.DataFrame([emit()], columns=["warc_file", "content"])

    return render


def _pack(pages: DataFrame, docs_per_file: int, payload: Column,
          prefix: str, rec_type: str, gz: bool = False) -> DataFrame:
    keyed = pages.select(
        "url", F.col("warc_ts").alias("_ts"), payload.alias("_payload"),
        # try_cast, not cast: a layout-violating url should surface as
        # the assembler's url-naming ValueError, not an anonymous ANSI
        # CAST_INVALID_INPUT from codegen
        F.regexp_extract("url", _DOC_ID_RE, 1).try_cast("long").alias("_doc_id")
    ).withColumn("_fid", (F.col("_doc_id") / docs_per_file).cast("long"))
    part = (keyed.repartition(F.col("_fid"))
            .sortWithinPartitions("_fid", "_doc_id"))
    return part.mapInPandas(_pack_records(prefix, rec_type, gz=gz),
                            WARC_FILE_SCHEMA)


def pack_warc_files(pages: DataFrame, docs_per_file: int = 25) -> DataFrame:
    """pages(url, warc_ts, html) -> (warc_file, content) WARC archives.

    File assignment = doc_id // docs_per_file (closed form — the oracle
    side can reproduce it); records are laid out in doc_id order within a
    file and each file opens with a warcinfo record, so readers must
    demonstrably skip non-response records. One shuffle (repartition on
    file id); archives are assembled by a sorted-partition mapInPandas
    pass whose per-archive cost is O(records), not a per-group pandas
    dispatch (see _pack_records). Real Common Crawl archives hold tens of
    thousands of pages; docs_per_file is small in fixtures only so tests
    exercise many files.
    """
    return _pack(pages, docs_per_file, F.col("html"), "crawl", "response")


def pack_warc_gz_files(pages: DataFrame, docs_per_file: int = 25) -> DataFrame:
    """pages -> .warc.gz archives in Common Crawl's production layout:
    each record its own gzip member, members concatenated (so a
    CC-style index can seek to a member offset and gunzip one record).
    Identical closed-form file layout and assembler as pack_warc_files;
    the only difference is the per-record gzip_member wrap in the spec
    renderer, so compression rides the SAME one-shuffle plan."""
    return _pack(pages, docs_per_file, F.col("html"), "crawl", "response",
                 gz=True)


def pack_warc_files_presorted(pages: DataFrame, docs_per_file: int = 25,
                              gz: bool = False) -> DataFrame:
    """Zero-shuffle pack for co-partitioned inputs — the scale-safe
    alternative to pack_warc_files' repartition when the pages table is
    already bucketed by archive id (write_bucketed_table on a
    materialized `_fid = doc_id // docs_per_file` column; Iceberg
    `bucket(N, _fid)` at production).

    The assembler (_pack_records) only needs every archive's rows to be
    (a) within one partition and (b) contiguous in (_fid, _doc_id)
    order. A bucketed scan guarantees (a) by layout — hash(_fid) fixes
    the bucket, one bucket = one task — so the only work left is the
    in-partition sort for (b): the plan is scan → Sort(local) →
    mapInPandas with ZERO Exchange nodes (asserted in
    tests/test_warc.py). At 100 TB this removes the full byte volume of
    the corpus from the shuffle system; the one-socket-box bench showed
    the shuffled pack bandwidth-bound at 0.632 N→4N efficiency, which
    this layout sidesteps entirely.

    CONTRACT: the caller owns the co-partitioning guarantee. If an
    archive's rows straddle partitions, each fragment would emit its own
    (identically named) partial archive — use pack_warc_files when the
    input layout is unknown. With Spark bucketBy tables, set
    spark.sql.sources.bucketing.autoBucketedScan.enabled=false for this
    plan: no join/agg above the scan exploits the bucketing, so Spark
    would otherwise rewrite the bucketed scan into a splittable file
    scan and silently break the guarantee (Iceberg storage-partitioned
    scans don't have this trap)."""
    keyed = pages.select(
        "url", F.col("warc_ts").alias("_ts"), F.col("html").alias("_payload"),
        F.regexp_extract("url", _DOC_ID_RE, 1).try_cast("long").alias("_doc_id")
    ).withColumn("_fid", (F.col("_doc_id") / docs_per_file).cast("long"))
    part = keyed.sortWithinPartitions("_fid", "_doc_id")
    return part.mapInPandas(_pack_records("crawl", "response", gz=gz),
                            WARC_FILE_SCHEMA)


def pack_wet_files(extracted: DataFrame, docs_per_file: int = 25) -> DataFrame:
    """(url, warc_ts, extracted_text) -> WET files: the extracted-text
    sibling of the page archive (Common Crawl's WARC/WAT/WET triple —
    WET IS the WARC container holding conversion records whose payload
    is the extracted UTF-8 text). Same closed-form file layout and
    sorted-partition assembler as pack_warc_files."""
    return _pack(extracted, docs_per_file,
                 F.encode("extracted_text", "UTF-8"), "extract", "conversion")


def read_warc(files: DataFrame, rec_type: str = "response") -> DataFrame:
    """(warc_file, content) -> one row per rec_type record (+ quarantine).
    rec_type="response" reads page archives (payload -> html column);
    "conversion" reads WET text files (payload = the UTF-8 extracted
    text, still returned in the binary html slot — decode at the caller,
    which knows the type it asked for).

    Each archive is walked binary-safely via Content-Length framing by
    spec.walk_warc, which detects gzipped archives per file by the gzip
    magic (never by name) and walks those member-by-member in the same
    Arrow stage — plain and .warc.gz files mix freely in one ingest. A
    framing error emits the file's good prefix AND one quarantine row
    (url, warc_ts, html and rec_offset NULL; warc_err the
    position-stamped reason), so a failure is counted, never a silent
    drop of bytes. A payload whose declared digest mismatches is not a
    framing error: its row keeps url and payload and carries warc_err.

    Sizing note: a task's Python worker holds its input Arrow batch
    (the split's archive bytes, up to maxRecordsPerBatch archives) plus
    ONE archive's bytes and decoded records; each archive's rows leave
    as Arrow batches of at most BATCH_BYTES of payload (64 MiB; the
    benchmark's ~2.4 MB archives leave as one batch each) before the
    next archive is walked. So worker memory grows with split size plus
    the largest archive, not with the records of the whole split, and
    no batch nears the 2 GiB int32-offset limit of a binary column. The
    worker loads no pandas: on the 4-core benchmark each reading worker
    peaks near 100 MB (136-143 MB with pandas). Records are still
    materialized one whole archive at a time (ROADMAP item 3): for a
    ~1 GB Common Crawl archive one worker holds its bytes and its
    decoded records at once, plus one budget's worth of Arrow batch.
    Archive rows are 100s-of-KB blobs, so the pages-tuned scan split
    (maxPartitionBytes=128m) yields FEW heavyweight tasks — at 10M docs
    one 32-task wave, GC-bound, a 1.66x per-doc bend
    (tools/warc_scale_curve.py). Right-size so each core gets >=3-4
    waves (32m splits flattened the curve to 0.93); at cluster scale
    the knob is the .warc.gz object size itself — gzip members don't
    split mid-record, so ~100 MB-1 GB objects x one task each balance
    automatically.
    """
    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for name, content in _archives(batches, "warc_file", "content"):
            recs, err = spec.walk_warc(content, rec_type=rec_type)
            # digest_err rides on the record row itself (url/payload
            # present): framing is sound, the payload is suspect — the
            # caller decides whether to quarantine or refetch
            rows = [(r.url, _parse_warc_date(r.warc_date), r.payload, name,
                     r.offset, r.digest_err) for r in recs]
            if err is not None:
                rows.append((None, None, None, name, None, err))
            yield from _batches(rows, WARC_RECORD_ARROW, 2, BATCH_BYTES)

    return files.mapInArrow(parse, WARC_RECORD_SCHEMA)


CDX_SCHEMA = StructType([
    StructField("url", StringType(), True),        # NULL on quarantine rows
    StructField("warc_file", StringType(), False),
    StructField("rec_idx", LongType(), True),      # position among responses
    StructField("rec_offset", LongType(), True),   # (compressed) byte offset
    StructField("digest", StringType(), True),     # payload digest (md5:…)
    StructField("seek_ok", StringType(), True),    # 'ok' | reason | NULL(err)
])
CDX_ARROW = to_arrow_schema(CDX_SCHEMA)


def cdx_index(files: DataFrame, rec_type: str = "response") -> DataFrame:
    """CDX-style capture index — the sidecar real Common Crawl ships next
    to its archives: one row per record with (url, archive file, record
    position, byte offset, payload digest). The offset is the number a
    consumer SEEKS to (for .warc.gz: the record's gzip member offset),
    so the index is only as good as its seekability — this builder
    seeks every recorded offset inside the same Arrow stage (one record
    walked from start=offset) and stamps seek_ok='ok' only when the
    record recovered there is byte-identical to the record indexed.
    One stateless map stage, parallelism = archive files, zero shuffle —
    the same 100 TB shape as read_warc. A malformed archive yields its
    good prefix plus a position-stamped quarantine row (url NULL,
    seek_ok NULL), the read_warc contract."""
    def walk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for name, raw in _archives(batches, "warc_file", "content"):
            recs, err = spec.walk_warc(raw, rec_type=rec_type)
            rows = []
            for i, r in enumerate(recs):
                # the verify compares url and payload bytes only, so the
                # seek skips the payload digest the full walk just took
                sub, serr = spec.walk_warc(raw, rec_type=rec_type,
                                           start=r.offset, max_records=1,
                                           _digest=False)
                if not sub:
                    ok = f"seek recovered no record ({serr})"
                elif sub[0].url != r.url or sub[0].payload != r.payload:
                    ok = "seek recovered a different record"
                else:
                    ok = "ok"
                rows.append((r.url, name, i, r.offset, r.digest, ok))
            if err is not None:
                rows.append((None, name, None, None, None, None))
            yield from _batches(rows, CDX_ARROW, 0, BATCH_BYTES)

    return files.mapInArrow(walk, CDX_SCHEMA)


def fetch_by_index(files: DataFrame, index: DataFrame, wanted: DataFrame,
                   rec_type: str = "response") -> DataFrame:
    """Random access into an archive corpus: recover the records for a
    (small) wanted-url set using the CDX index, touching as little of
    the corpus as possible. The 100 TB shape in three moves:

    1. wanted urls ⋈ index → (warc_file, rec_offset) hit list — both
       sides tiny next to the corpus;
    2. the hit list, grouped per archive, BROADCASTS onto the archive
       table (inner join) — archives holding no wanted record are
       pruned without their bytes ever entering a shuffle;
    3. one Arrow stage seeks each surviving archive at the recorded
       offsets only — `max_records=1` per seek, so cost is
       O(wanted records), not O(archive bytes walked) (for .warc.gz
       the offset is the record's own gzip member: exactly one member
       is gunzipped per hit).

    On object storage the same hit list drives byte-range GETs; here the
    archive row carries the full content and the seek is
    spec.walk_warc(start=offset). The hit list is materialized to the
    driver WHEN CALLED (it IS the driver's fetch plan — the names of the
    objects to GET); past limits.MAX_DRIVER_LIST archives it raises
    ValueError (limits.check_driver_list_bound): a literal IN-filter on
    warc_file pushes into the archive scan and skips untouched row
    groups, which no join-side pruning can do (the limits.py
    convention). Every hit yields a row: a stale/corrupt index entry
    (offset out of range, no record at the offset) produces a
    quarantine row (url NULL, position-stamped warc_err) rather than a
    silent miss, so fetched-row count == hit count always holds.
    """
    from .. import limits
    from . import io
    hits = (index.join(wanted.select("url"), "url", "left_semi")
            .where(F.col("rec_offset").isNotNull()))
    per_file = (hits.groupBy("warc_file")
                .agg(F.sort_array(F.collect_set("rec_offset"))
                     .alias("_offsets")))
    plan = per_file.collect()
    limits.check_driver_list_bound(len(plan), "fetch_by_index archives")
    spark = files.sparkSession
    plan_schema = StructType([
        StructField("warc_file", StringType(), False),
        StructField("_offsets", ArrayType(LongType()), False)])
    per_file_local = io.local_table(
        spark, [(r.warc_file, [int(o) for o in r._offsets]) for r in plan],
        plan_schema)
    tagged = (files
              .where(F.col("warc_file").isin([r.warc_file for r in plan]))
              .join(F.broadcast(per_file_local), "warc_file"))

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for name, raw, offsets in _archives(batches, "warc_file", "content",
                                            "_offsets"):
            rows = []
            for off in offsets:
                if not 0 <= off < len(raw):
                    rows.append((None, None, None, name, off,
                                 f"index offset {off} outside archive "
                                 f"(len {len(raw)})"))
                    continue
                recs, err = spec.walk_warc(raw, rec_type=rec_type,
                                           start=off, max_records=1)
                if recs:
                    r = recs[0]
                    rows.append((r.url, _parse_warc_date(r.warc_date),
                                 r.payload, name, off, r.digest_err))
                else:
                    rows.append((None, None, None, name, off,
                                 f"no {rec_type} record at offset "
                                 f"{off}: {err}"))
            yield from _batches(rows, WARC_RECORD_ARROW, 2, BATCH_BYTES)

    return tagged.mapInArrow(fetch, WARC_RECORD_SCHEMA)


def index_delta(prior: DataFrame, current: DataFrame) -> DataFrame:
    """Cross-crawl delta from two CDX indexes: per url, did the capture
    appear ('added'), disappear ('gone'), change content ('changed' —
    url present in both, payload digest differs), or stay identical
    ('same')? This is the comparison real Common Crawl consumers run
    between monthly crawls — 'same' rows are exactly the records a
    digest-based dedup-vs-prior-crawl policy skips re-storing, and
    'changed'/'added' are the refresh set to fetch (fetch_by_index).

    Scale shape: the join is INDEX ⋈ INDEX on url — two sidecar tables,
    each orders of magnitude smaller than the archives they describe;
    hash-partitioned full outer join, archive bytes never involved.
    Quarantine rows (url NULL) are excluded: a delta between indexes is
    only meaningful over successfully indexed captures."""
    a = (prior.where(F.col("url").isNotNull())
         .select("url", F.col("digest").alias("_dig_a")))
    b = (current.where(F.col("url").isNotNull())
         .select("url", F.col("digest").alias("_dig_b")))
    return (a.join(b, "url", "full_outer")
            .select(
                "url",
                F.when(F.col("_dig_a").isNull(), F.lit("added"))
                 .when(F.col("_dig_b").isNull(), F.lit("gone"))
                 .when(F.col("_dig_a") != F.col("_dig_b"), F.lit("changed"))
                 .otherwise(F.lit("same")).alias("status")))


def pack_wat_files(meta: DataFrame, payload: Column,
                   docs_per_file: int = 25) -> DataFrame:
    """(url, warc_ts, <payload expr>) -> WAT files: the metadata sibling
    of the page archive (WARC metadata records whose payload is a JSON
    document — here built JVM-side with to_json, so the packer's Python
    stage only assembles bytes it never constructs). The payload
    expression may be string-typed (to_json output) — encoded to UTF-8
    here. Same closed-form layout as the WARC/WET packers."""
    return _pack(meta, docs_per_file,
                 F.encode(payload.cast("string"), "UTF-8"), "wat", "metadata")
