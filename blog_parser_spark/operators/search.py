"""Full-text retrieval over the documents corpus: inverted-index build,
BM25 ranked search, per-document TF-IDF top terms, and suffix-chain
domain blocklist filtering.

Spark-first shapes:
- the inverted index is ONE explode + ONE hash aggregate (postings
  assembled with sort_array(collect_list) so the list order is a pure
  function of the data, never of partitioning);
- BM25 scores only the documents that contain at least one query term:
  the term IN-list filters the exploded stream BEFORE any shuffle, so
  the per-term aggregate sees query-matching postings only, never the
  whole corpus vocabulary. Corpus stats (N, avgdl) and per-term df are
  one-row / per-term aggregates broadcast back into the scoring join —
  no driver-side collect;
- the blocklist filter generalizes "domain ends with a blocked suffix"
  to an equi-join: each url's domain explodes into its suffix chain
  (a.b.c → [a.b.c, b.c, c]) and a broadcast LEFT ANTI join against the
  blocklist keeps clean pages. That replaces the non-pushable
  LIKE-%suffix cross-join with a hash join whose build side is the
  (tiny) blocklist — the pattern that survives a 100 TB corpus and a
  million-row blocklist alike.

Determinism (oracle bit-exactness): BM25/TF-IDF idf uses ln → round 12
both engines (libm ln can differ by 1 ulp); per-document score sums fold
LEFT over term-sorted contribution arrays (DuckDB list_reduce folds left
from the first element; Spark F.aggregate folds left from 0.0, and
0.0 + x == x exactly); every top-k ordering carries a unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

K1 = 1.2
B = 0.75


def _words(text_col: str = "text") -> Column:
    # documents text is space-joined; drop empty tokens from boundary
    # whitespace so doc length is the true word count
    return F.filter(F.split(F.col(text_col), " "), lambda w: w != "")


def doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — one explode, tf via hash aggregate."""
    return (docs
            .select("doc_id", F.explode(_words()).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def inverted_index(docs: DataFrame, min_df: int = 50) -> DataFrame:
    """term → (df, total_tf, postings). Postings are doc_ids sorted
    ascending — a pure function of the data, not of partition order.
    min_df keeps the emitted index to frequent terms; at corpus scale
    the same plan writes the full index partitioned by term bucket."""
    return (doc_terms(docs)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("tf").alias("total_tf"),
                 F.sort_array(F.collect_list("doc_id")).alias("postings"))
            .filter(F.col("df") >= min_df))


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """Okapi BM25 top-k documents for a bag-of-words query.

    idf(t)  = round(ln(1 + (N - df + 0.5)/(df + 0.5)), 12)
    w(t, d) = round(idf * tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)), 12)
    score   = left-fold sum of w over terms sorted ascending
    """
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # integer-exact corpus stats: sum(dl) and N are BIGINT, the division
    # happens once on identical operands in both engines
    dl = docs.select("doc_id", F.size(_words()).alias("dl"))
    avgdl = dl.agg((F.sum("dl").cast("double")
                    / F.count(F.lit(1))).alias("avgdl"))

    matched = doc_terms(docs).filter(F.col("term").isin(terms))
    df_t = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + F.lit(0.5))
              / (F.col("df") + F.lit(0.5)) + F.lit(1.0)), 12).alias("idf")
    term_idf = df_t.join(F.broadcast(n_docs)).select("term", idf)

    tf = F.col("tf").cast("double")
    w = F.round(
        F.col("idf") * tf * (K1 + 1)
        / (tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))), 12)
    contrib = (matched
               .join(F.broadcast(term_idf), "term")
               .join(dl, "doc_id")
               .join(F.broadcast(avgdl))
               .select("doc_id", "term", w.alias("w")))
    score = F.aggregate(
        F.sort_array(F.collect_list(F.struct("term", "w"))),
        F.lit(0.0).cast("double"), lambda acc, s: acc + s["w"])
    return (contrib.groupBy("doc_id")
            .agg(score.alias("score"), F.count(F.lit(1)).alias("n_terms"))
            .orderBy(F.desc("score"), "doc_id")
            .limit(k))


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k characteristic terms by tf·idf,
    idf = round(ln(N/df), 12); ties broken by term ascending."""
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = doc_terms(docs)
    df_t = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (df_t.join(F.broadcast(n_docs))
           .select("term", F.round(
               F.log(F.col("n_docs") / F.col("df")), 12).alias("idf")))
    scored = (terms.join(idf, "term")
              .select("doc_id", "term",
                      (F.col("tf") * F.col("idf")).alias("tfidf")))
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term"))
    return (scored.withColumn("rank", rank)
            .filter(F.col("rank") <= k)
            .select("doc_id", "term", "tfidf", "rank"))


def positional_index(docs: DataFrame,
                     terms: list[str] | None = None) -> DataFrame:
    """(doc_id, term, positions) — the phrase-query index: one
    posexplode + one hash aggregate; positions sorted ascending so the
    list is a pure function of the data. When `terms` is given, the
    exploded stream filters to those terms BEFORE the shuffle (the
    BM25 convention) — at corpus scale the per-term postings never
    materialize for terms the query doesn't mention."""
    posed = docs.select(
        "doc_id", F.posexplode(_words()).alias("pos", "term"))
    if terms is not None:
        posed = posed.filter(F.col("term").isin(terms))
    return (posed.groupBy("doc_id", "term")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions")))


def phrase_match(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact consecutive-phrase search via the positional index:
    (doc_id, occurrences) for documents containing the phrase.

    Each document's candidate rows collapse to one term→positions map
    (tiny: only the phrase's distinct terms survive the pre-shuffle
    filter); an occurrence is a start position p of the first term
    with term_i at p+i for every i — evaluated with pure higher-order
    functions, no token re-scan. A document missing ANY phrase term
    drops at the map-completeness check, so repeated-term phrases
    ("a b a") and single-term phrases both stay correct.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    distinct_terms = sorted(set(phrase))
    tp = (positional_index(docs, distinct_terms)
          .groupBy("doc_id")
          .agg(F.map_from_entries(
              F.sort_array(F.collect_list(F.struct("term", "positions"))))
              .alias("tp"))
          .filter(F.size("tp") == len(distinct_terms)))

    def is_occurrence(p: Column) -> Column:
        cond = F.lit(True)
        for i, w in enumerate(phrase[1:], start=1):
            cond = cond & F.array_contains(
                F.col("tp")[F.lit(w)], p + F.lit(i))
        return cond

    occ = F.size(F.filter(F.col("tp")[F.lit(phrase[0])], is_occurrence))
    return (tp.select("doc_id", occ.cast("long").alias("occurrences"))
            .filter(F.col("occurrences") > 0))


def domain_suffixes(domain: Column) -> Column:
    """a.b.c → [a.b.c, b.c, c] — every suffix at a label boundary."""
    labels = F.split(domain, "\\.")
    return F.transform(
        F.sequence(F.lit(0), F.size(labels) - 1),
        lambda i: F.array_join(F.slice(labels, i + 1,
                                       F.size(labels) - i), "."))


def blocklist_filter(pages: DataFrame, blocklist: DataFrame,
                     key_col: str = "url",
                     domain_col: str = "domain") -> DataFrame:
    """Keep pages whose domain matches NO blocklist entry, where an
    entry blocks the exact domain and every subdomain of it. The
    suffix chain turns "ends-with a blocked suffix" into an equi-join
    key: a LEFT SEMI against the broadcast blocklist finds the blocked
    page keys (a page is blocked if ANY suffix matches — semi, never a
    multiplying inner join), then a LEFT ANTI on the page key keeps
    the survivors. That replaces the non-pushable LIKE-%suffix
    cross-join with two hash joins; the anti's build side is only the
    blocked keys, which AQE broadcasts when small."""
    blocked_keys = (pages
                    .select(key_col, F.explode(
                        domain_suffixes(F.col(domain_col))).alias("_sfx"))
                    .join(F.broadcast(blocklist),
                          F.col("_sfx") == blocklist["blocked"], "left_semi")
                    .select(key_col))
    return pages.join(blocked_keys, key_col, "left_anti")
