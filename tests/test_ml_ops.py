"""Training-data operator tests: dedup family recall/exactness,
clustering, sampling and splits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blog_parser_spark.operators import dedup, textstats
from blog_parser_spark.plans.queries_ml import _exact_corpus, _near_corpus
from tests.conftest import SF_DIR


def test_exact_dedup(spark):
    corpus = _exact_corpus(spark, SF_DIR)
    groups = dedup.exact_dedup_groups(corpus)
    assert groups.count() == 500  # 25 planted copies collapse
    assert groups.filter("n_copies = 2").count() == 25
    kept = dedup.exact_dedup(corpus)
    assert kept.count() == 500
    assert kept.filter("doc_id >= 500000").count() == 0  # keeper = min id


def test_minhash_lsh_finds_all_planted_pairs(spark):
    corpus = _near_corpus(spark, SF_DIR)
    found = dedup.near_dup_pairs_minhash(corpus, threshold=0.6)
    rows = {(r["id_a"], r["id_b"]) for r in found.collect()}
    # ground truth: exhaustive exact jaccard over the same corpus
    sh = corpus.select("doc_id", dedup.shingles_col().alias("s"))
    a = sh.selectExpr("doc_id as id_a", "s as sa")
    b = sh.selectExpr("doc_id as id_b", "s as sb")
    allp = (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    (F.size(F.array_intersect("sa", "sb")).cast("double")
                     / F.size(F.array_union("sa", "sb"))).alias("j"))
            .filter("j >= 0.6"))
    expected = {(r["id_a"], r["id_b"]) for r in allp.collect()}
    assert expected, "fixture should contain planted near-dup pairs"
    assert rows == expected  # total recall at threshold + exact verify


def test_simhash_banding_pigeonhole_exact(spark):
    """With 4 bands over 32 bits, ANY pair at hamming <= 3 shares a band
    (pigeonhole) — the banding join must find exactly the <=3 pair set.
    (Precision on this corpus is inherently poor: word-salad docs share a
    tiny vocabulary, so unrelated docs collide in simhash space — that is
    a property of the fixture, not the operator.)"""
    corpus = _near_corpus(spark, SF_DIR)
    found = {(r["id_a"], r["id_b"])
             for r in dedup.near_dup_pairs_simhash(corpus, max_hamming=3).collect()}
    fp = corpus.select("doc_id", dedup.simhash_col().alias("fp"))
    a = fp.selectExpr("doc_id id_a", "fp fa")
    b = fp.selectExpr("doc_id id_b", "fp fb")
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    exact = {(r["id_a"], r["id_b"]) for r in
             (a.join(b, F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", ham.alias("h")).filter("h <= 3").collect())}
    assert found == exact
    # and the planted near-dups are overwhelmingly within hamming 3
    planted = {(i, i + 1000000) for i in range(50)}
    assert len(exact & planted) >= 40


def test_connected_components_clusters_and_converges(spark):
    """CC over a synthetic 3-component graph: chain, triangle, singleton —
    labels converge to the min id of each component, including across
    multi-hop chains (the case a single-join 'min of neighbors' gets
    wrong)."""
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    #  chain 0-1-2-3 (diameter 3), triangle 4-5-6, singleton 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6)],
        "id_a long, id_b long")
    got = {r.doc_id: r.component
           for r in dedup.connected_components(nodes, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7}


def test_connected_components_uses_reliable_checkpoint_when_configured(
        spark, tmp_path):
    """With sc.setCheckpointDir configured, CC must cut lineage via
    RELIABLE checkpoints (files under the dir) so an executor loss
    mid-iteration is recoverable — localCheckpoint blocks are not."""
    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
        pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
        got = {r.doc_id: r.component
               for r in dedup.connected_components(nodes, pairs).collect()}
        assert got == {0: 0, 1: 0, 2: 2, 3: 2}
        import os
        written = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs]
        assert written, "no reliable checkpoint files written under the dir"
    finally:
        sc._jsc.sc().setCheckpointDir(None)


def test_connected_components_rejects_bad_max_iter(spark):
    nodes = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iter"):
        dedup.connected_components(nodes, pairs, max_iter=0)


def test_connected_components_raises_on_non_convergence(spark):
    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(nodes, chain, max_iter=2)


def test_hash_sampling_nests_and_is_deterministic(spark):
    """The ppm=10k sample must be a SUBSET of the ppm=100k sample (hash
    sampling nests — you can widen a sample without resampling), and
    re-running yields the identical row set."""
    from blog_parser_spark.operators import sampling
    from blog_parser_spark.sources import io
    docs = io.read_table(spark, SF_DIR, "documents")
    small = {r.doc_id for r in
             sampling.sample_fraction(docs, "doc_id", 10_000).select("doc_id").collect()}
    big = {r.doc_id for r in
           sampling.sample_fraction(docs, "doc_id", 100_000).select("doc_id").collect()}
    again = {r.doc_id for r in
             sampling.sample_fraction(docs, "doc_id", 100_000).select("doc_id").collect()}
    assert small <= big and big == again
    with pytest.raises(ValueError):
        sampling.sample_fraction(docs, "doc_id", -1)


def test_stratified_sample_plan_uses_window_group_limit(spark):
    """The stratified sampler must plan as WindowGroupLimit (map-side
    collapse of non-winning rows before the shuffle), and return exactly
    min(n, group size) rows per group."""
    from blog_parser_spark.operators import sampling
    from blog_parser_spark.sources import io
    docs = io.read_table(spark, SF_DIR, "documents")
    s = sampling.sample_stratified_topn(docs, "lang", "doc_id", 10)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    per = {r.lang: r.n for r in
           s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r.lang: r.n for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {k: min(10, v) for k, v in sizes.items()}


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """With a planted degenerate bucket (many docs sharing a band), the
    bucket-size cap must drop that bucket's pairs while keeping pairs
    that collide in normal-sized buckets; uncapped == cap-off baseline."""
    corpus = _near_corpus(spark, SF_DIR)
    uncapped = dedup.near_dup_pairs_minhash(corpus, threshold=0.6)
    cap_off = dedup.near_dup_pairs_minhash(corpus, threshold=0.6,
                                           max_bucket_size=None)
    assert uncapped.exceptAll(cap_off).count() == 0
    assert cap_off.exceptAll(uncapped).count() == 0
    # a cap of 1 drops EVERY bucket with a collision -> no candidates
    none = dedup.near_dup_pairs_minhash(corpus, threshold=0.6,
                                        max_bucket_size=1)
    assert none.count() == 0
    # a generous cap keeps the full planted pair set on this corpus
    roomy = dedup.near_dup_pairs_minhash(corpus, threshold=0.6,
                                         max_bucket_size=64)
    assert roomy.exceptAll(uncapped).count() == 0
    assert uncapped.exceptAll(roomy).count() == 0


def test_segment_dedup_drops_boilerplate(spark):
    """A segment shared by many docs (docfreq > max_docs) is removed
    from every doc; unique segments survive; a doc whose segments all
    drop keeps its row with kept_md5 = md5('')."""
    import hashlib
    rows = ([(i, f"subscribe newsletter now uniq{i} word{i} tail{i}")
             for i in range(10)]
            + [(99, "subscribe newsletter now")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           textstats.segment_dedup(docs, seg_len=3, max_docs=4).collect()}
    assert len(out) == 11
    for i in range(10):
        r = out[i]
        assert (r.n_segs, r.n_kept) == (2, 1)
        want = hashlib.md5(f"uniq{i} word{i} tail{i}".encode()).hexdigest()
        assert r.kept_md5 == want
    r = out[99]
    assert (r.n_segs, r.n_kept) == (1, 0)
    assert r.kept_md5 == hashlib.md5(b"").hexdigest()


def test_unigram_logprob_matches_reference_and_is_deterministic(spark):
    """neg_mean_logprob matches a pure-Python unigram LM (tolerance only
    for the engine's 12-digit rounding) and is bit-identical under
    repartitioning (decimal partials are order-independent)."""
    import math
    from collections import Counter
    texts = {1: "a a b c", 2: "b c d", 3: "a d d d e"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    out = {r.doc_id: r for r in
           textstats.unigram_logprob(docs).collect()}
    corpus = Counter(w for t in texts.values() for w in t.split(" "))
    total = sum(corpus.values())
    for did, t in texts.items():
        words = t.split(" ")
        want = -sum(round(math.log(corpus[w] / total), 12)
                    for w in words) / len(words)
        assert out[did].n_words == len(words)
        assert abs(out[did].neg_mean_logprob - want) < 1e-11
    again = {r.doc_id: r.neg_mean_logprob for r in
             textstats.unigram_logprob(docs.repartition(7)).collect()}
    assert again == {d: out[d].neg_mean_logprob for d in out}


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup cluster must land wholly in ONE split: the planted
    perturbed docs (doc_id < 50 vs doc_id + 1_000_000) are near-dups of
    their originals, so each pair must share a split; and the split
    column must be a pure function of the component."""
    from blog_parser_spark.operators import sampling
    corpus = _near_corpus(spark, SF_DIR)
    pairs = dedup.near_dup_pairs_minhash(corpus, threshold=0.6)
    comp = dedup.connected_components(corpus, pairs)
    out = sampling.split_assign(
        comp, "component", [("train", 800_000), ("val", 900_000)], "test")
    rows = out.collect()
    by_comp = {}
    by_doc = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["split"])
        by_doc[r["doc_id"]] = r["split"]
    assert all(len(s) == 1 for s in by_comp.values())
    comp_of = {r["doc_id"]: r["component"] for r in rows}
    # short docs can fall under the 0.6 threshold when every 10th word is
    # dropped — those are legitimately separate clusters. The leakage
    # property is over pairs that DID cluster: they must share a split.
    clustered = [(d, d + 1_000_000) for d in range(50)
                 if comp_of.get(d) == comp_of.get(d + 1_000_000)
                 and d + 1_000_000 in comp_of]
    assert len(clustered) > 30  # the perturbation actually clustered
    assert all(by_doc[a] == by_doc[b] for a, b in clustered)
    # all three splits are populated and the ratio is plausible
    from collections import Counter
    c = Counter(by_doc.values())
    assert set(c) == {"train", "val", "test"} and c["train"] > c["val"]


def test_leakage_safe_split_no_cross_split_near_twin(spark):
    """The guarantee a user actually buys: NO (train, test) or any other
    cross-split pair is a near-twin. Exhaustive ground-truth check — true
    shingle-set Jaccard computed for EVERY cross-split pair of the sf0.01
    near-dup corpus (not just the pairs LSH happened to surface), so an
    LSH banding miss that leaked a near-dup across splits would fail
    here. Complements the cluster-cohesion test above."""
    import itertools

    from blog_parser_spark.operators import sampling
    corpus = _near_corpus(spark, SF_DIR)
    pairs = dedup.near_dup_pairs_minhash(corpus, threshold=0.6)
    comp = dedup.connected_components(corpus, pairs)
    out = sampling.split_assign(
        comp, "component", [("train", 800_000), ("val", 900_000)], "test")
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    sh = {r["doc_id"]: set(r["s"]) for r in
          corpus.select("doc_id",
                        dedup.shingles_col().alias("s")).collect()}
    leaks = []
    for a, b in itertools.combinations(sorted(split_of), 2):
        if split_of[a] == split_of[b]:
            continue
        sa, sb = sh.get(a, set()), sh.get(b, set())
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.6:
            leaks.append((a, b))
    assert leaks == [], f"near-twins split across train/test: {leaks[:5]}"


def test_split_assign_validates_and_nests(spark):
    from blog_parser_spark.operators import sampling
    import pytest as _pytest
    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    with _pytest.raises(ValueError):
        sampling.split_assign(df, "k", [("a", 900_000), ("b", 100_000)], "c")
    s1 = {r["k"]: r["split"] for r in sampling.split_assign(
        df, "k", [("train", 500_000)], "rest").collect()}
    s2 = {r["k"]: r["split"] for r in sampling.split_assign(
        df, "k", [("train", 700_000)], "rest").collect()}
    # widening the train cut only PROMOTES rows into train (nesting)
    assert all(s2[k] == "train" for k, v in s1.items() if v == "train")


def test_sample_exact_k_mergeable_and_heap_planned(spark):
    from blog_parser_spark.operators import sampling
    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    full = [r["doc_id"] for r in
            sampling.sample_exact_k(docs, "doc_id", 25).collect()]
    assert len(full) == 25
    # bottom-k of the union == merge of per-shard bottom-k
    a = sampling.sample_exact_k(docs.where("doc_id % 2 = 0"), "doc_id", 25)
    b = sampling.sample_exact_k(docs.where("doc_id % 2 = 1"), "doc_id", 25)
    merged = [r["doc_id"] for r in
              sampling.sample_exact_k(a.unionAll(b), "doc_id", 25).collect()]
    assert merged == full
    # same set at any parallelism, and never a global sort
    again = [r["doc_id"] for r in
             sampling.sample_exact_k(
                 docs.repartition(17), "doc_id", 25).collect()]
    assert again == full
    plan = sampling.sample_exact_k(docs, "doc_id", 25)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_containment_catches_quotes_jaccard_misses(spark):
    from pyspark.sql import Row
    long_words = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(12))   # prefix of the long doc
    docs = spark.createDataFrame([
        Row(doc_id=1, text=long_words),
        Row(doc_id=2, text=quote),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(30)))])
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in
           dedup.containment_pairs(docs, threshold=0.9).collect()}
    # the quote is fully contained in its source; nothing else pairs
    assert got == {(2, 1): 1.0}
    # symmetric Jaccard on the same pair is tiny: 10 shared shingles of
    # the 58-shingle union
    pairs = spark.createDataFrame([Row(id_a=2, id_b=1)])
    j = dedup.exact_jaccard(pairs, docs).collect()[0]["jaccard"]
    assert j < 0.2


def test_containment_max_df_guard_only_lowers(spark):
    from pyspark.sql import Row
    common = " ".join(f"c{i}" for i in range(10))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=common + f" tail{i} tail{i}b") for i in range(6)])
    full = {(r["id_a"], r["id_b"]): r["containment"] for r in
            dedup.containment_pairs(docs, threshold=0.0).collect()}
    capped = {(r["id_a"], r["id_b"]): r["containment"] for r in
              dedup.containment_pairs(docs, threshold=0.0,
                                      max_df=3).collect()}
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v <= full[k] + 1e-12
    # partition invariance of the exact (uncapped) result
    again = {(r["id_a"], r["id_b"]): r["containment"] for r in
             dedup.containment_pairs(docs.repartition(7),
                                     threshold=0.0).collect()}
    assert again == full
