"""Streaming parity + kill/resume (SURVEY.md §5.2 item 6).

availableNow streaming over the same input must equal the batch run; a
second incremental run from the same checkpoint must process only new
files and converge to the batch result over the union."""

from __future__ import annotations

from pyspark.sql import functions as F

from blog_parser_spark.operators import aggregate
from blog_parser_spark.plans import pipeline
from blog_parser_spark.sources import io
from blog_parser_spark.streaming import stream
from tests.conftest import SF_DIR


def _await(q):
    q.awaitTermination(300)


def test_streaming_flagship_parity_and_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = io.synth_pages(spark, SF_DIR)
    first = pages.filter("lang in ('en','fr')")
    rest = pages.filter("lang not in ('en','fr')")

    # batch 1: only part of the corpus exists
    first.coalesce(2).write.mode("overwrite").parquet(src)
    q = stream.start_pipeline(spark, stream.stream_pages(spark, src), out, ckpt)
    _await(q)

    # more data arrives; resume from the SAME checkpoint — only new files run
    rest.coalesce(2).write.mode("append").parquet(src)
    q = stream.start_pipeline(spark, stream.stream_pages(spark, src), out, ckpt)
    _await(q)

    got = spark.read.parquet(f"{out}/sinks")
    batch = pipeline.routed_pages(spark, pages, dedup=True, full=True)
    cols = ["url", "sink", "extracted_text", "n_sentences", "n_bytes"]
    assert aggregate.multiset_equal(got.select(*cols), batch.select(*cols))


def test_streaming_flagship_from_warc_resume(spark, tmp_path):
    """The full continuous-crawl shape end-to-end: .warc/.warc.gz
    archives LAND in a prefix → binaryFile stream → stateless read_warc
    → stream-static sidecar join → the SAME routed fan-out the batch
    flagship runs — and a restart from the checkpoint processes only
    newly-landed archives, converging to the batch result exactly."""
    import os

    from blog_parser_spark.sources import warc

    pages = io.synth_pages(spark, SF_DIR)
    doc_id = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    plain = warc.pack_warc_files(pages.filter(doc_id % 2 == 0), 50)
    gz = warc.pack_warc_gz_files(pages.filter(doc_id % 2 == 1), 50)
    src = str(tmp_path / "landing")
    os.makedirs(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    sidecar = pages.select("url", "text", "lang")

    def land(files_df, t):
        for r in files_df.collect():
            p = os.path.join(src, r.warc_file)
            with open(p, "wb") as f:
                f.write(bytes(r.content))
            os.utime(p, (t, t))

    def run():
        q = stream.start_pipeline(
            spark, stream.stream_pages_from_warc(spark, src, sidecar),
            out, ckpt)
        _await(q)

    # crawl batch 1: the even-doc plain archives land
    land(plain, 1_000_000)
    run()
    n_first = spark.read.parquet(f"{out}/sinks").count()

    # crawl batch 2: the odd-doc .warc.gz archives land; the SAME
    # checkpoint resumes and must only add the new archives' rows
    land(gz, 1_000_001)
    run()

    got = spark.read.parquet(f"{out}/sinks")
    batch = pipeline.routed_pages(spark, pages, dedup=True, full=True)
    assert 0 < n_first < batch.count()
    cols = ["url", "sink", "extracted_text", "n_sentences", "n_bytes"]
    assert aggregate.multiset_equal(got.select(*cols), batch.select(*cols))


def test_cdc_snapshot_stream_matches_batch_and_survives_late_batches(
        spark, tmp_path):
    """Streaming CDC snapshot maintenance: micro-batches fold into a
    bucket-partitioned change-log snapshot; the final live view equals
    the global latest-change-wins replay, a late LOWER-seq batch cannot
    override newer versions or resurrect deletes (tombstones persist),
    and a second run resumes from the checkpoint processing only new
    files."""
    from blog_parser_spark.operators import cdc

    src = str(tmp_path / "changes")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, op string, seq int"
    b1 = [(d, f"v1-{d}", "u", 1) for d in range(100)]
    b2 = ([(d, f"v2-{d}", "u", 2) for d in range(0, 100, 2)]
          + [(d, None, "d", 3) for d in range(0, 100, 5)])
    # late batch with STALE seq=1: its keys all carry a newer change
    # (delete for %10, v2 for %10+2), so nothing here may win
    b3 = ([(d, "late", "u", 1) for d in range(0, 100, 10)]
          + [(d, "late", "u", 1) for d in range(2, 100, 10)])

    def reader():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    _await(stream.start_cdc_snapshot(reader(), snap, ckpt, "doc_id"))
    live1 = {r.doc_id: r.text
             for r in cdc.live_rows(spark.read.parquet(snap)).collect()}
    assert live1 == {d: f"v1-{d}" for d in range(100)}

    # kill/restart: two more files arrive, same checkpoint
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(b3, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    _await(stream.start_cdc_snapshot(reader(), snap, ckpt, "doc_id"))

    state = spark.read.parquet(snap)
    live = {r.doc_id: r.text for r in cdc.live_rows(state).collect()}
    allc = spark.createDataFrame(b1 + b2 + b3, schema)
    expect = {r.doc_id: r.text
              for r in cdc.latest_changes(allc, "doc_id", "seq", "op")
              .filter("op = 'u'").collect()}
    assert live == expect
    assert 0 not in live and 10 not in live        # deletes stick
    assert live[2] == "v2-2"                        # late seq lost
    assert state.filter("op = 'd'").count() == 20   # tombstones persist


def test_inverted_index_maintenance_matches_batch_and_is_replay_safe(
        spark, tmp_path):
    """Incremental index over 3 micro-batches must equal the one-shot
    batch inverted_index; and a FULL replay (same files, fresh
    checkpoint, same index dir) must leave the index unchanged — the
    postings-set representation makes the merge idempotent."""
    import os
    import shutil
    from blog_parser_spark.operators import search

    docs = (io.read_table(spark, SF_DIR, "documents")
            .select("doc_id", "text"))
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for i in range(3):
        part_dir = str(tmp_path / f"p{i}")
        (docs.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1)
         .write.mode("overwrite").parquet(part_dir))
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(part_dir, part),
                    os.path.join(src, f"slice{i}.parquet"))

    index_dir = str(tmp_path / "index")

    def run(ckpt):
        sdocs = (spark.readStream.schema("doc_id bigint, text string")
                 .option("maxFilesPerTrigger", 1).parquet(src))
        _await(stream.start_inverted_index(
            sdocs, index_dir, str(tmp_path / ckpt)))

    run("ck1")

    def snapshot():
        return {r["term"]: (r["df"], r["total_tf"], r["postings"])
                for r in stream.read_inverted_index(
                    spark, index_dir).collect()}

    got = snapshot()
    exp = {r["term"]: (r["df"], r["total_tf"], r["postings"])
           for r in search.inverted_index(docs, min_df=1).collect()}
    assert got == exp and len(got) > 20

    # full replay with a fresh checkpoint re-merges every batch into the
    # EXISTING index — the set representation must absorb it
    run("ck2")
    assert snapshot() == exp


def test_inverted_index_recrawl_replaces_tf_instead_of_inflating(
        spark, tmp_path):
    """A re-crawled document whose text changed must REPLACE its
    (term, doc_id) posting — last-write-wins — not leave both the old
    and new tf structs behind inflating df/total_tf. Re-crawl keeps the
    same term set (text doubled, so every tf doubles) because dropped
    terms are outside the merge's documented contract."""
    import os
    import shutil
    from blog_parser_spark.operators import search

    docs = (io.read_table(spark, SF_DIR, "documents")
            .select("doc_id", "text").filter(F.col("doc_id") < 50))
    recrawl = (docs.filter(F.col("doc_id") < 10)
               .select("doc_id",
                       F.concat("text", F.lit(" "), "text").alias("text")))

    src = str(tmp_path / "docs")
    os.makedirs(src)
    for i, part in enumerate([docs, recrawl]):
        part_dir = str(tmp_path / f"p{i}")
        part.coalesce(1).write.mode("overwrite").parquet(part_dir)
        f = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice{i}.parquet")
        shutil.move(os.path.join(part_dir, f), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # pin arrival order

    index_dir = str(tmp_path / "index")
    sdocs = (spark.readStream.schema("doc_id bigint, text string")
             .option("maxFilesPerTrigger", 1).parquet(src))
    _await(stream.start_inverted_index(
        sdocs, index_dir, str(tmp_path / "ck")))

    got = {r["term"]: (r["df"], r["total_tf"], r["postings"])
           for r in stream.read_inverted_index(spark, index_dir).collect()}
    final_docs = (docs.filter(F.col("doc_id") >= 10)
                  .unionByName(recrawl))
    exp = {r["term"]: (r["df"], r["total_tf"], r["postings"])
           for r in search.inverted_index(final_docs, min_df=1).collect()}
    assert got == exp and len(got) > 20


def test_grok_parse_stream_matches_batch_and_resumes(spark, tmp_path):
    """Log lines ARE a stream: the grok parse must run unchanged as a
    stateless streaming transform (append mode, no state), produce the
    same parsed rows as the batch path, and resume from checkpoint
    processing only newly-arrived files."""
    from blog_parser_spark.operators import groklog

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ck"))
    ev = io.read_table(spark, SF_DIR, "events")
    lines = groklog.synth_lines(ev)
    first = lines.filter(F.crc32("line") % 2 == 0)
    rest = lines.filter(F.crc32("line") % 2 == 1)
    first.coalesce(2).write.mode("overwrite").parquet(src)

    def run():
        raw = (spark.readStream.schema("line string").parquet(src))
        return (groklog.parse_lines(raw).writeStream
                .format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    _await(run())
    rest.coalesce(2).write.mode("append").parquet(src)
    _await(run())

    got = groklog.requests_by_method_status(spark.read.parquet(out))
    exp = groklog.requests_by_method_status(
        groklog.parse_lines(spark.read.parquet(src)))
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()


def test_count_min_stream_matches_batch_and_recovery_is_idempotent(
        spark, tmp_path):
    """Per-batch partial sketches merged by cell-wise sum must equal the
    one-shot batch sketch; re-delivering a batch with the SAME batch_id
    (the Structured Streaming crash-recovery contract) must leave the
    merged sketch unchanged."""
    import os
    import shutil
    from blog_parser_spark.operators import sketches

    ev = io.read_table(spark, SF_DIR, "events").select("event_id", "user_id")
    src = str(tmp_path / "ev")
    os.makedirs(src)
    for i in range(3):
        part_dir = str(tmp_path / f"p{i}")
        (ev.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1)
         .write.mode("overwrite").parquet(part_dir))
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice{i}.parquet")
        shutil.move(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    sketch_dir = str(tmp_path / "sketch")
    sev = (spark.readStream.schema("event_id bigint, user_id bigint")
           .option("maxFilesPerTrigger", 1).parquet(src))
    _await(stream.start_count_min(sev, sketch_dir, str(tmp_path / "ck")))

    def merged():
        return {(r["r"], r["b"]): r["n"] for r in
                stream.read_count_min(spark, sketch_dir).collect()}

    exp = {(r["r"], r["b"]): r["n"] for r in
           sketches.count_min_cells(ev, "user_id").collect()}
    got = merged()
    assert got == exp and len(got) > 20

    # crash recovery: same batch_id, same rows, folded again -> no-op
    replay = ev.filter(F.pmod("event_id", F.lit(3)) == 1)
    stream._fold_count_min(replay, 1, sketch_dir, "user_id")
    assert merged() == exp

    # merged partials answer point estimates exactly like the batch
    # sketch (same cells -> same min over depth rows)
    probes = ev.select("user_id").distinct().limit(20)
    est_stream = {r["user_id"]: r["est"] for r in sketches.count_min_estimate(
        stream.read_count_min(spark, sketch_dir), probes, "user_id").collect()}
    est_batch = {r["user_id"]: r["est"] for r in sketches.count_min_estimate(
        sketches.count_min_cells(ev, "user_id"), probes, "user_id").collect()}
    assert est_stream == est_batch
