"""Physical-plan assertions: the scale properties SURVEY.md §4 promises are
checked mechanically, not by eyeball — pushdown reaches the parquet scan,
small dims broadcast, the parse stage is exactly one ArrowEvalPython, and
the flagship has no more wide boundaries than designed.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from blog_parser_spark.plans import pipeline
from blog_parser_spark.sources import io
from tests.conftest import SF_DIR


from blog_parser_spark.plans.explain import (  # noqa: E402
    plan_formatted as _plan, plan_nodes as _nodes)


def test_filter_before_parse_pushes_to_scan(spark, tmp_path):
    """Filtering on raw columns BEFORE parse_pages must reach the parquet
    scan — rows of other langs are never decoded, never cross into Python."""
    p = str(tmp_path / "pages.parquet")
    io.synth_pages(spark, SF_DIR).write.parquet(p)
    pages = spark.read.parquet(p).filter(F.col("lang") == "en")
    from blog_parser_spark.operators import parse
    plan = _plan(parse.parse_pages_metrics(pages))
    assert re.search(r"PushedFilters:.*lang", plan)


def test_enrich_joins_are_broadcast(spark):
    pages = io.synth_pages(spark, SF_DIR)
    routed = pipeline.routed_pages(spark, pages, with_meta=True)
    nodes = _nodes(_plan(routed))
    assert nodes.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in nodes


def test_flagship_single_parse_stage_two_shuffles(spark, tmp_path):
    # pages from parquet: the synthesis render-UDF must not pollute the count
    p = str(tmp_path / "pages.parquet")
    io.synth_pages(spark, SF_DIR).write.parquet(p)
    pages = spark.read.parquet(p)
    nodes = _nodes(_plan(pipeline.flagship(spark, pages, dedup=True)))
    # the parse UDF is evaluated exactly once (no duplicated Python stage)
    assert nodes.count("ArrowEvalPython") == 1
    # wide boundaries: dedup window + final agg; broadcast joins add only
    # BroadcastExchange, never a shuffle Exchange
    assert nodes.count("Exchange") == 2
    # dedup's row_number()<=1 is rewritten to WindowGroupLimit, partial
    # (pre-shuffle, collapses duplicates map-side) + final
    assert nodes.count("WindowGroupLimit") == 2
    # final agg does map-side partial aggregation (partial + final)
    assert nodes.count("HashAggregate") == 2


def test_sentences_fused_matches_two_stage_and_is_one_python_stage(spark):
    pages = io.synth_pages(spark, SF_DIR)
    from blog_parser_spark.operators import parse
    fused = parse.sentences_from_pages(pages)
    two_stage = (parse.explode_sentences_unfused_reference(parse.parse_pages(pages))
                 .select(*fused.columns))
    assert fused.exceptAll(two_stage).count() == 0
    assert two_stage.exceptAll(fused).count() == 0
    # exactly the synthesis UDF + the fused parse UDF — no third stage
    assert _nodes(_plan(fused)).count("ArrowEvalPython") == 2


def test_bucketed_tables_join_without_shuffle(spark):
    """Co-located join: two tables bucketed+sorted on the same key join as
    SortMergeJoin with ZERO shuffle exchanges — the scale layout for
    repeatedly-joined url-keyed tables."""
    pages = io.synth_pages(spark, SF_DIR).select("url", "lang", "warc_ts")
    scores = pages.select("url", F.length("url").alias("score"))
    io.write_bucketed_table(pages, "t_pages_b", buckets=4)
    io.write_bucketed_table(scores, "t_scores_b", buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_pages_b").join(spark.table("t_scores_b"), "url")
        nodes = _nodes(_plan(joined))
        assert "SortMergeJoin" in nodes
        assert nodes.count("Exchange") == 0
        assert joined.count() == pages.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_pages_b")
        spark.sql("DROP TABLE IF EXISTS t_scores_b")


def test_training_pipeline_plan_shape(spark):
    """The composite curation pipeline must stay a tight plan: feature
    enrich is a pure projection (NO python stages, no self-join of the
    corpus for features), dedup adds exactly one aggregate side (2 scans
    total), and nothing plans as a nested loop or cartesian product."""
    from blog_parser_spark.plans import queries_ml
    df = queries_ml.q_training_data_pipeline(spark, SF_DIR)
    plan = _plan(df)
    # formatted plans list each scan twice (tree line + detail block)
    scan_ids = set(__import__("re").findall(r"\(\d+\) Scan parquet", plan))
    assert len(scan_ids) <= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_decontam_broadcasts_eval_grams(spark):
    """The contamination check must broadcast the (small) benchmark gram
    set: the corpus side joins with zero pre-join shuffle, and nothing
    plans as a nested loop — at 100 TB the corpus never moves for this."""
    from blog_parser_spark.plans.queries_export import q_decontam_ngram_overlap
    plan = _plan(q_decontam_ngram_overlap(spark, SF_DIR))
    nodes = _nodes(plan)
    assert nodes.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in nodes
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_export_pack_single_shard_shuffle(spark):
    """Sequence packing rides ONE hash shuffle (the shard exchange) plus
    the per-shard window sorts — no extra wide boundary beyond what the
    export itself requires."""
    from blog_parser_spark.plans.queries_export import q_export_pack_sequences
    plan = _plan(q_export_pack_sequences(spark, SF_DIR))
    nodes = _nodes(plan)
    # one hashpartitioning exchange on shard; windows reuse it
    assert nodes.count("Exchange") == 1, nodes
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bm25_term_filter_precedes_first_shuffle(spark):
    """BM25's query-term IN-list must run between the explode and the
    partial aggregate — i.e. BEFORE the first Exchange — so the tf
    shuffle carries only query-matching rows, never the vocabulary."""
    from blog_parser_spark.operators import search
    docs = io.read_table(spark, SF_DIR, "documents")
    plan = _plan(search.bm25_topk(docs, ["spark", "query"], k=5))
    # in the formatted plan, operators print leaf-last: the matched-tf
    # branch must show Exchange above a Filter mentioning the terms,
    # with the Generate (explode) below that Filter
    m = re.search(
        r"Exchange[^\n]*\n(?:[^\n]*\n)*?[^\n]*Filter[^\n]*\n"
        r"(?:[^\n]*\n)*?[^\n]*Generate", plan)
    assert m is not None
    # and no cartesian/BNL other than the two one-row stat broadcasts
    assert _nodes(plan).count("CartesianProduct") == 0


def test_blocklist_filter_no_like_cross_join(spark):
    """The suffix-chain formulation must plan as hash joins (semi+anti),
    never a nested-loop LIKE scan."""
    from pyspark.sql import Row
    from blog_parser_spark.operators import search
    pages = io.synth_pages(spark, SF_DIR).select("url").withColumn(
        "domain", F.split("url", "/")[2])
    block = spark.createDataFrame([Row(blocked="src3.example.com")])
    nodes = _nodes(_plan(search.blocklist_filter(pages, block)))
    assert "BroadcastNestedLoopJoin" not in nodes
    assert "CartesianProduct" not in nodes


def test_grok_parse_stays_jvm_side(spark):
    """parse_grok_logs runs the regex in whole-stage codegen: no Python
    stage, no nested-loop join, and the scan reads only the 4 source
    columns the line synthesis needs."""
    from blog_parser_spark.plans import queries_olap

    plan = _plan(queries_olap.q_parse_grok_logs(spark, SF_DIR))
    nodes = _nodes(plan)
    assert not any(n in nodes for n in
                   ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"))
    assert "BroadcastNestedLoopJoin" not in nodes
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"event_id", "ts", "user_id", "event_type", "value"}
