"""Driver-contract queries for the training-data-pipeline operators:
dedup family, text analysis, deterministic sampling.

Oracle-compat notes:
- word_hash is identical across engines (md5-hex prefix -> bigint).
- lambda indexes: Spark 0-based, DuckDB 1-based — SQL uses (i-1).
- double ratios: exact-int numerators/denominators, ONE final division,
  round(.,6) both sides (no k/d with d<=99 ties at the 7th decimal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup, sampling, textstats
from ..sources import io
from .registry import register

WORDS = "string_split(text, ' ')"
WORD_HASH = "CAST(('0x' || substr(md5({w}), 1, 15)) AS BIGINT)"


def _markers_sql(lg: str) -> str:
    ms = ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lg])
    return (f"len(list_filter({WORDS}, x -> list_contains([{ms}], x)))")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_LANGID_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
    {", ".join(f"{_markers_sql(lg)} AS s_{lg}" for lg in textstats.LANG_ORDER)}
  FROM documents
)
SELECT doc_id, lang, {", ".join(f"s_{lg}" for lg in textstats.LANG_ORDER)},
  CASE {" ".join(f"WHEN s_{lg} = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN '{lg}'"
                 for lg in textstats.LANG_ORDER)} END AS lang_pred
FROM s
"""


@register("text_langid", _LANGID_SQL)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textstats.lang_id(io.read_table(spark, sf_dir, "documents"))
    return df.select("doc_id", "lang",
                     *[F.col(f"s_{lg}").cast("long").alias(f"s_{lg}")
                       for lg in textstats.LANG_ORDER], "lang_pred")


@register("text_quality", f"""
WITH f AS (
  SELECT doc_id,
    len({WORDS}) AS n_words,
    length(text) AS n_chars2,
    len(list_filter({WORDS}, x -> list_contains(['the','a','of','to','and'], x))) AS stop_hits,
    len(list_distinct({WORDS})) AS n_distinct
  FROM documents
)
SELECT doc_id, n_words, n_chars2, stop_hits,
  round(CAST(n_chars2 - (n_words - 1) AS DOUBLE) / n_words, 6) AS mean_word_len,
  round(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
  round(CAST(stop_hits AS DOUBLE) / n_words, 6) AS stop_ratio,
  round(CAST(n_distinct AS DOUBLE) / n_words * 0.5
        + CAST(stop_hits AS DOUBLE) / n_words * 0.3
        + CAST(least(n_words, 100) AS DOUBLE) / 200, 6) AS quality_score
FROM f
""")
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textstats.quality(io.read_table(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("n_words").cast("long").alias("n_words"),
                     F.col("n_chars2").cast("long").alias("n_chars2"),
                     F.col("stop_hits").cast("long").alias("stop_hits"),
                     "mean_word_len", "distinct_ratio", "stop_ratio",
                     "quality_score")


@register("text_tokens", f"""
SELECT doc_id,
  CAST(len({WORDS}) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
  CAST(strlen(text) AS INT) AS text_bytes
FROM documents
""")
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textstats.token_counts(io.read_table(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("ws_tokens").cast("long").alias("ws_tokens"),
                     F.col("re_tokens").cast("long").alias("re_tokens"),
                     F.col("text_bytes").cast("int").alias("text_bytes"))


@register("text_fingerprint", f"""
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct({WORDS})), ' ')) AS canon_md5,
  list_aggregate(list_transform({WORDS}, w -> {WORD_HASH.format(w='w')}), 'min') AS min_word_hash
FROM documents
""")
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(io.read_table(spark, sf_dir, "documents"))


@register("text_segment_dedup", f"""
WITH segs AS (
  SELECT doc_id, g AS seg_idx,
    array_to_string(list_slice({WORDS}, g*3+1, g*3+3), ' ') AS seg
  FROM documents,
  LATERAL (SELECT unnest(range(0,
    CAST(ceil(len({WORDS}) / 3.0) AS BIGINT))) AS g)
), df AS (
  SELECT seg, count(DISTINCT doc_id) AS docfreq FROM segs GROUP BY seg
)
SELECT s.doc_id,
  CAST(count(*) AS BIGINT) AS n_segs,
  CAST(sum(CASE WHEN d.docfreq <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  md5(coalesce(string_agg(CASE WHEN d.docfreq <= 4 THEN s.seg END,
                          ' ' ORDER BY s.seg_idx), '')) AS kept_md5
FROM segs s JOIN df d USING (seg)
GROUP BY s.doc_id
""")
def q_text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-segment removal (docfreq > 4 segments drop;
    seg_len=3 chosen so the rule bites on the fixture: 22 distinct
    segments exceed the threshold at sf0.01)."""
    return textstats.segment_dedup(
        io.read_table(spark, sf_dir, "documents"), seg_len=3, max_docs=4)


@register("text_unigram_logprob", f"""
WITH tok AS (
  SELECT doc_id, unnest({WORDS}) AS word FROM documents
), dw AS (
  SELECT doc_id, word, count(*) AS cnt_dw FROM tok GROUP BY doc_id, word
), wc AS (
  SELECT word, count(*) AS cnt FROM tok GROUP BY word
), tot AS (
  SELECT sum(cnt) AS total FROM wc
), lp AS (
  SELECT word,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 12)
         AS DECIMAL(18,12)) AS lp
  FROM wc, tot
)
SELECT d.doc_id,
  CAST(sum(d.cnt_dw) AS BIGINT) AS n_words,
  round(-(CAST(sum(d.cnt_dw * l.lp) AS DOUBLE)) / sum(d.cnt_dw), 12)
    AS neg_mean_logprob
FROM dw d JOIN lp l USING (word)
GROUP BY d.doc_id
""")
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram surprisal per doc (perplexity-proxy quality score)."""
    return textstats.unigram_logprob(io.read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup family — corpora with planted duplicates, both engines build the
# identical dataset as a pure function of `documents`
# ---------------------------------------------------------------------------

# planted exact copies: docs 0..24 duplicated with id+500000
_EXACT_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id < 25
"""


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (docs.filter("doc_id < 25")
              .select((F.col("doc_id") + 500000).alias("doc_id"), "text"))
    return docs.unionByName(copies)


@register("dedup_exact", f"""
WITH corpus AS ({_EXACT_CORPUS_SQL})
SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM corpus GROUP BY 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_exact_corpus(spark, sf_dir))


# planted near-dups: docs 0..49 with every 10th word dropped, id+1000000
_NEAR_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       array_to_string(list_filter(string_split(text,' '), (x,i) -> (i-1) % 10 != 9), ' ') AS text
FROM documents WHERE doc_id < 50
"""


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    perturbed = (docs.filter("doc_id < 50").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.filter(w, lambda x, i: i % 10 != 9)).alias("text")))
    return docs.unionByName(perturbed)


_SHINGLES_SQL = """list_distinct(CASE WHEN len(string_split(text,' ')) >= 3 THEN
  list_transform(range(len(string_split(text,' ')) - 2),
                 i -> array_to_string(string_split(text,' ')[i+1 : i+3], ' '))
  ELSE [] END)"""

_NEAR_PAIRS_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM corpus)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
"""


@register("dedup_minhash_lsh", _NEAR_PAIRS_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact verification; oracle = exhaustive exact
    Jaccard. Equality holds iff LSH recall at the threshold is total on
    this (deterministic) corpus — asserted also in pytest."""
    return dedup.near_dup_pairs_minhash(_near_corpus(spark, sf_dir), threshold=0.6)


@register("dedup_ngram_jaccard", f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM corpus)
SELECT a.doc_id AS pair_id,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
WHERE a.doc_id < 50
""")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _near_corpus(spark, sf_dir)
    a = corpus.filter("doc_id < 50").withColumnRenamed("doc_id", "pair_id")
    b = (corpus.filter("doc_id >= 1000000")
         .select((F.col("doc_id") - 1000000).alias("pair_id"), "text"))
    return dedup.pairwise_ngram_jaccard(a, b)


# Containment corpus: 12-word prefix "quotes" planted alongside their
# source documents — high containment (quote in source), low Jaccard.
_CONT_CORPUS_SQL = """
SELECT doc_id, text FROM documents WHERE doc_id < 40
UNION ALL
SELECT doc_id + 2000000 AS doc_id,
       array_to_string(string_split(text, ' ')[1:12], ' ') AS text
FROM documents WHERE doc_id < 40
"""


def _cont_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (io.read_table(spark, sf_dir, "documents")
            .select("doc_id", "text").filter("doc_id < 40"))
    quotes = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 12)).alias("text"))
    return docs.unionByName(quotes)


@register("dedup_containment", f"""
WITH corpus AS ({_CONT_CORPUS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM corpus),
nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0)
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(a.s), 6) AS containment
  FROM nz a JOIN nz b ON a.doc_id <> b.doc_id)
WHERE containment >= 0.9
""")
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: planted 12-word quotes must
    surface against their source docs even though symmetric Jaccard
    stays far below any dedup threshold."""
    return dedup.containment_pairs(_cont_corpus(spark, sf_dir),
                                   threshold=0.9)


@register("dedup_components", f"""
WITH RECURSIVE corpus AS ({_NEAR_CORPUS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM corpus),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
FROM reach GROUP BY node
""")
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: LSH candidate pairs -> exact-Jaccard edges ->
    distributed min-label connected components; oracle = DuckDB recursive
    CTE transitive closure over the exhaustive-Jaccard edge set."""
    corpus = _near_corpus(spark, sf_dir)
    pairs = dedup.near_dup_pairs_minhash(corpus, threshold=0.6)
    return dedup.connected_components(corpus, pairs)


# SimHash is a pure integer function of the text (word hashes -> per-bit
# majority votes -> 32-bit fingerprint), and the banding join is exact set
# logic — so the WHOLE mechanism, pigeonhole pruning included, reproduces
# in SQL. bit j's vote sum and the band bucketing are generated per-bit /
# per-band below (32 + 4 mechanical terms).
_SIMHASH_FP_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {j}) & 1 = 1"
    f" THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(32))

_SIMHASH_ORACLE = f"""
WITH corpus AS ({_NEAR_CORPUS_SQL}),
hw AS (
  SELECT doc_id,
    list_transform(string_split(text, ' '), w -> {WORD_HASH.format(w='w')}) AS hs
  FROM corpus
),
fp AS (SELECT doc_id, CAST({_SIMHASH_FP_SQL} AS BIGINT) AS fp FROM hw),
ex AS (
  SELECT doc_id, fp, b.band, (fp >> (b.band * 8)) & 255 AS band_key
  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.fp AS fp_a, b.fp AS fp_b
  FROM ex a JOIN ex b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 6
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs; the oracle reproduces the exact
    mechanism (fingerprint, 4x8-bit band buckets, hamming verify), so
    equality is bit-for-bit, not recall-modulo-banding."""
    return dedup.near_dup_pairs_simhash(_near_corpus(spark, sf_dir), max_hamming=6)


# ---------------------------------------------------------------------------
# deterministic sampling — training pipelines sample corpora constantly;
# hash sampling is reproducible across engines/retries/cluster sizes and
# nests (1% subset of 10%), which random sampling cannot do.
# ---------------------------------------------------------------------------

@register("sample_deterministic", """
SELECT doc_id, lang, n_chars FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 1000000 < 100000
""")
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return (sampling.sample_fraction(docs, "doc_id", ppm=100_000)
            .select("doc_id", "lang", "n_chars"))


@register("sample_stratified", """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY lang
    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 1000000 ASC, doc_id ASC) AS rn
  FROM documents) WHERE rn <= 10
""")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents")
    return (sampling.sample_stratified_topn(docs, "lang", "doc_id", 10)
            .select("doc_id", "lang"))


@register("sample_exact_k", """
SELECT doc_id, lang FROM documents
ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % 1000000 ASC, doc_id ASC
LIMIT 50
""")
def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50 global bottom-k (consistent) sample — mergeable
    across shards, reproducible at any parallelism; plans as
    TakeOrderedAndProject, never a global sort."""
    docs = io.read_table(spark, sf_dir, "documents")
    return sampling.sample_exact_k(docs, "doc_id", 50).select(
        "doc_id", "lang")


# ---------------------------------------------------------------------------
# the composite training-data pipeline — quality filter -> lang filter ->
# exact dedup -> deterministic sample, chained end-to-end as ONE plan.
# This is the shape a real corpus-curation job runs at 100 TB: a single
# projection computes all per-doc features (no self-joins), the dedup is
# one hash-shuffle, the sample is a pushable filter. Oracle reproduces
# every stage in SQL.
# ---------------------------------------------------------------------------

_FEAT_SQL = f"""
SELECT doc_id, text,
  round(CAST(len(list_distinct({WORDS})) AS DOUBLE) / len({WORDS}) * 0.5
      + CAST(len(list_filter({WORDS}, x -> list_contains(['the','a','of','to','and'], x))) AS DOUBLE)
        / len({WORDS}) * 0.3
      + CAST(least(len({WORDS}), 100) AS DOUBLE) / 200, 6) AS quality_score,
  {", ".join(f"{_markers_sql(lg)} AS s_{lg}" for lg in textstats.LANG_ORDER)}
FROM documents
"""

_PRED_CASE = " ".join(
    f"WHEN s_{lg} = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN '{lg}'"
    for lg in textstats.LANG_ORDER)


@register("training_data_pipeline", f"""
WITH feat AS ({_FEAT_SQL}),
lp AS (
  SELECT doc_id, text, quality_score, CASE {_PRED_CASE} END AS lang_pred
  FROM feat
),
keep AS (
  SELECT * FROM lp WHERE quality_score >= 0.5 AND lang_pred = 'en'
),
dedup AS (
  SELECT * FROM keep
  WHERE doc_id IN (SELECT min(doc_id) FROM keep GROUP BY md5(text))
)
SELECT doc_id, lang_pred, quality_score FROM dedup
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 1000000 < 500000
""")
def q_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    feat = textstats.with_features(docs)
    keep = feat.filter((F.col("quality_score") >= 0.5)
                       & (F.col("lang_pred") == "en"))
    kept = dedup.exact_dedup(keep)
    samp = sampling.sample_fraction(kept, "doc_id", 500_000)
    return samp.select("doc_id", "lang_pred", "quality_score")


# Removal-query corpus: the near-dup corpus PLUS a planted boilerplate
# cluster (80 template-page variants of doc 0 — same body, one distinct
# trailing token each). The variants are near-identical, so they flood
# the LSH band buckets past the hot-bucket cap; both engines must
# reproduce the cap's recall trade identically for the oracle to match.
_REMOVAL_CORPUS_SQL = _NEAR_CORPUS_SQL + """
UNION ALL
SELECT 2000000 + i AS doc_id,
       (SELECT text FROM documents WHERE doc_id = 0) || ' qq' || CAST(i AS VARCHAR) AS text
FROM (SELECT unnest(range(80)) AS i)
"""

_NEARDUP_CAP = 64
_P = dedup.MINHASH_P


def _removal_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    doc0 = docs.filter("doc_id = 0").select(F.col("text").alias("_t0"))
    boiler = (spark.range(80).crossJoin(F.broadcast(doc0))
              .select((F.col("id") + 2000000).alias("doc_id"),
                      F.concat("_t0", F.lit(" qq"),
                               F.col("id").cast("string")).alias("text")))
    return _near_corpus(spark, sf_dir).unionByName(boiler)


@register("training_data_neardup_removal", f"""
WITH RECURSIVE corpus AS ({_REMOVAL_CORPUS_SQL}),
kept0 AS (
  SELECT * FROM corpus
  WHERE doc_id IN (SELECT min(doc_id) FROM corpus GROUP BY md5(text))
),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM kept0),
h0 AS (SELECT doc_id,
              list_transform(s, w -> {WORD_HASH.format(w='w')} % {_P}) AS hs
       FROM sh),
perms AS (SELECT unnest(range(1, {dedup.N_PERM + 1})) AS j),
sigrows AS (
  SELECT h0.doc_id, p.j,
    list_aggregate(list_transform(hs,
      h -> (((p.j * 2654435761 + 1) % {_P}) * h
            + ((p.j * 40503 + 12345) % {_P})) % {_P}), 'min') AS sig
  FROM h0, perms p
),
banded AS (
  SELECT doc_id, j - 1 AS band, md5(CAST(sig AS VARCHAR)) AS band_key
  FROM sigrows WHERE sig IS NOT NULL
),
counted AS (
  SELECT doc_id, band, band_key,
         count(*) OVER (PARTITION BY band, band_key) AS bsz
  FROM banded
),
kept AS (SELECT doc_id, band, band_key FROM counted WHERE bsz <= {_NEARDUP_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.6
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM kept0
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS component
         FROM reach GROUP BY node)
SELECT doc_id FROM comp
WHERE component = doc_id
  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 1000000 < 800000
""")
def q_training_data_neardup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL (not just detection), in the skew-safe production
    shape: exact dedup FIRST (so identical docs never flood a bucket) ->
    MinHash-LSH with the hot-bucket cap LIVE (max_bucket_size=64) ->
    connected components -> keep each cluster's min-id representative
    (singletons keep themselves) -> deterministic 80% sample. The corpus
    plants an 80-variant boilerplate cluster so the cap actually bites;
    the oracle reproduces the ENTIRE capped-LSH mechanism in SQL
    (minhash signatures -> band keys -> windowed bucket counts -> cap
    filter -> candidate join -> exact-Jaccard verify -> recursive-CTE
    components), so the cap's recall trade is cross-engine checked, not
    assumed away."""
    corpus = _removal_corpus(spark, sf_dir)
    kept = dedup.exact_dedup(corpus)
    pairs = dedup.near_dup_pairs_minhash(kept, threshold=0.6,
                                         max_bucket_size=_NEARDUP_CAP)
    comp = dedup.connected_components(kept, pairs)
    reps = comp.filter(F.col("component") == F.col("doc_id")).select("doc_id")
    return sampling.sample_fraction(reps, "doc_id", 800_000)


@register("training_data_leakage_safe_split", f"""
WITH RECURSIVE corpus AS ({_NEAR_CORPUS_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM corpus),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
         FROM reach GROUP BY node)
SELECT doc_id, component,
       CASE WHEN h < 800000 THEN 'train'
            WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, component,
        CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))
             AS BIGINT) % 1000000 AS h
      FROM comp)
""")
def q_training_data_leakage_safe_split(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup clusters (MinHash-LSH
    -> exact-Jaccard -> connected components) are hashed by COMPONENT id,
    so every member of a cluster lands in the same split — a test doc can
    never have a training-set near-twin. 80/10/10 by deterministic hash;
    splits nest/stay stable as the corpus grows because the hash is a
    pure function of the cluster label (min doc_id)."""
    corpus = _near_corpus(spark, sf_dir)
    pairs = dedup.near_dup_pairs_minhash(corpus, threshold=0.6)
    comp = dedup.connected_components(corpus, pairs)
    return sampling.split_assign(
        comp, "component", [("train", 800_000), ("val", 900_000)], "test"
    ).select("doc_id", "component", "split")
