"""Closed-form checks for the retrieval ops: inverted-index postings,
BM25 ranking behavior, TF-IDF selectivity, and — the part the oracle's
flat srcN.example.com domains can't exercise — subdomain semantics of
the suffix-chain blocklist."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from blog_parser_spark.operators import search


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])


def test_inverted_index_postings_exact(spark):
    docs = _docs(spark, ["a b a", "b c", "a c c "])
    idx = {r["term"]: r for r in
           search.inverted_index(docs, min_df=1).collect()}
    assert idx["a"]["postings"] == [0, 2]
    assert idx["a"]["df"] == 2 and idx["a"]["total_tf"] == 3
    assert idx["b"]["postings"] == [0, 1]
    # trailing-space token must not appear
    assert idx["c"]["total_tf"] == 3 and "" not in idx


def test_bm25_ranks_matching_docs(spark):
    # doc 0 is saturated with the query term, doc 1 mentions it once in
    # a long document, doc 2 never -> order 0 > 1, and 2 is absent
    docs = _docs(spark, [
        "x x x y",
        "x " + "z " * 40,
        "y z y z",
    ])
    rows = search.bm25_topk(docs, ["x"], k=10).collect()
    assert [r["doc_id"] for r in rows] == [0, 1]
    assert rows[0]["score"] > rows[1]["score"] > 0
    # hand-check doc 0: tf=3, dl=4, df=2, N=3, avgdl = (4+41+4)/3
    avgdl = 49 / 3
    idf = round(math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0), 12)
    w = round(idf * 3.0 * 2.2 / (3.0 + 1.2 * (0.25 + 0.75 * 4 / avgdl)), 12)
    assert abs(rows[0]["score"] - w) < 1e-12


def test_tfidf_prefers_rare_terms(spark):
    # 'rare' appears once in doc 0 only; 'common' is everywhere (idf=0)
    docs = _docs(spark, ["common rare", "common", "common"])
    top = [r for r in search.tfidf_top_terms(docs, k=1).collect()
           if r["doc_id"] == 0]
    assert len(top) == 1 and top[0]["term"] == "rare"


def test_blocklist_blocks_subdomains_not_siblings(spark):
    pages = spark.createDataFrame([
        Row(url="u1", domain="ads.tracker.net"),
        Row(url="u2", domain="deep.sub.ads.tracker.net"),   # subdomain
        Row(url="u3", domain="tracker.net"),                # parent survives
        Row(url="u4", domain="notads.tracker.net"),         # sibling survives
        Row(url="u5", domain="clean.org"),
    ])
    block = spark.createDataFrame([Row(blocked="ads.tracker.net")])
    kept = {r["url"] for r in
            search.blocklist_filter(pages, block).collect()}
    assert kept == {"u3", "u4", "u5"}


def test_blocklist_multiple_entries_any_match(spark):
    pages = spark.createDataFrame([
        Row(url="u1", domain="a.example.com"),
        Row(url="u2", domain="b.example.org"),
        Row(url="u3", domain="c.example.net"),
    ])
    block = spark.createDataFrame(
        [Row(blocked="example.com"), Row(blocked="b.example.org")])
    kept = {r["url"] for r in
            search.blocklist_filter(pages, block).collect()}
    assert kept == {"u3"}


def test_phrase_match_counts_and_overlaps(spark):
    docs = _docs(spark, [
        "x table hash y table hash",   # 2 occurrences
        "table y hash",                # terms present, never adjacent
        "hash table",                  # reversed order only
        "table hash",                  # exact doc == phrase
        "no match here"])              # missing terms entirely
    got = {r["doc_id"]: r["occurrences"] for r in
           search.phrase_match(docs, ["table", "hash"]).collect()}
    assert got == {0: 2, 3: 1}
    with pytest.raises(ValueError, match="non-empty"):
        search.phrase_match(docs, [])


def test_phrase_match_repeated_term_and_self_overlap(spark):
    # "a a a" contains "a a" at starts 0 and 1 (overlapping occurrences
    # both count); the 3-term repeated phrase needs the SAME positions
    # list consulted at two offsets.
    docs = _docs(spark, ["a a a", "b a b a b"])
    two = {r["doc_id"]: r["occurrences"] for r in
           search.phrase_match(docs, ["a", "a"]).collect()}
    assert two == {0: 2}
    three = {r["doc_id"]: r["occurrences"] for r in
             search.phrase_match(docs, ["b", "a", "b"]).collect()}
    assert three == {1: 2}


def test_phrase_match_partition_invariant(spark):
    docs = _docs(spark, ["p q r p q", "q p", "p q"] * 7)
    a = sorted(tuple(r) for r in
               search.phrase_match(docs, ["p", "q"]).collect())
    b = sorted(tuple(r) for r in
               search.phrase_match(docs.repartition(9), ["p", "q"]).collect())
    assert a == b and len(a) == 14
