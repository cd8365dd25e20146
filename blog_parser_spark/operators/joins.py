"""Join operators that need explicit scale engineering (SURVEY.md §2.3):
the prefix-filtered fuzzy Jaccard join and the bloom-routed anti join of
the crawl frontier. Broadcast joins are plain DataFrame calls and live
inline in the plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def fuzzy_jaccard_join(left: DataFrame, right: DataFrame,
                       threshold: float,
                       id_l: str = "id_l", toks_l: str = "toks_l",
                       id_r: str = "id_r", toks_r: str = "toks_r") -> DataFrame:
    """Exact set-similarity join (token-set Jaccard >= threshold) with
    PREFIX FILTERING — the standard scalable shape for fuzzy record
    linkage (AllPairs/PPJoin family; public algorithm). Returns
    (id_l, id_r, jacc).

    Why it scales where the naive form doesn't: candidates come from an
    equi-join on single PREFIX tokens, never a cross join. For Jaccard t,
    any pair with jacc >= t has overlap o >= t·max(|x|,|y|), so by
    pigeonhole the two prefixes of length |x| - ceil(t·|x|) + 1 — taken
    in a GLOBAL rarest-first token order — must share a token. Rare
    tokens front-load the prefixes, so hot tokens (stopwords) almost
    never become join keys: candidate volume tracks the rare end of the
    frequency spectrum. The exhaustive-Jaccard oracle in the registered
    query proves the filter is LOSSLESS, not approximate.

    Plan shape: one docfreq aggregate over both sides, one shuffled join
    of exploded tokens onto the rank table (vocab never broadcast — it
    won't fit at web scale), per-doc array rebuild, prefix explode,
    candidate equi-join + distinct, verify via array_intersect on the
    full token arrays. jacc = inter/(|x|+|y|-inter) — one IEEE
    division of identical integers, bit-reproducible, no rounding.

    Subplan sharing is explicit: the rebuilt-array table feeds BOTH
    prefix sides, and Spark re-executes a referenced subtree per branch
    (column pruning makes the exchange subtrees non-identical, so
    ReuseExchange never fires) — an earlier formulation re-ran the whole
    docfreq pipeline four times (19 exchanges). The rank table is
    localCheckpointed (the dedup_components/redirect lineage pattern),
    and the verify arrays re-attach from the RAW inputs (scan-only
    subtree — recompute is free, and array_intersect/sizes don't care
    about token order), so the expensive pipeline runs once.

    Inputs carry DISTINCT token arrays (dedupe upstream); ids must be
    unique per side.
    """
    lt = left.select(F.col(id_l).alias("_id"),
                     F.col(toks_l).alias("_toks"), F.lit(0).alias("_side"))
    rt = right.select(F.col(id_r).alias("_id"),
                      F.col(toks_r).alias("_toks"), F.lit(1).alias("_side"))
    both = lt.unionByName(rt)
    tok = both.select("_id", "_side", F.explode("_toks").alias("_tok"))
    # global rarest-first order; (df, token) is a total order -> every
    # executor derives the identical prefix for the same document
    rank = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (tok.join(rank, "_tok")
              .groupBy("_id", "_side")
              .agg(F.array_sort(F.collect_list(F.struct("_df", "_tok")))
                   .alias("_ord"))
              .localCheckpoint(eager=False))
    n = F.size("_ord")
    # epsilon guards the lossless bound: when threshold*n is an exact
    # integer in real arithmetic, FP rounding can land just ABOVE it and
    # ceil would overshoot, shortening the prefix by one token (missed
    # pairs). Erring toward a longer prefix only adds candidates.
    plen = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    # prefix rows carry ONLY (id, token): the token arrays would otherwise
    # be replicated once per prefix token through the explode AND the
    # candidate shuffle — at web scale that multiplies shuffle bytes by
    # the prefix length. Arrays re-attach per candidate PAIR (post-dedup,
    # the smallest possible fan-in) via two id-keyed joins.
    pref = ranked.select("_id", "_side",
                         F.explode(F.slice(F.col("_ord._tok"), 1, plen))
                         .alias("_ptok"))
    cand = (pref.filter(F.col("_side") == 0)
            .select(F.col("_id").alias("_lid"), "_ptok")
            .join(pref.filter(F.col("_side") == 1)
                  .select(F.col("_id").alias("_rid"), "_ptok"), "_ptok")
            .select("_lid", "_rid")
            .dropDuplicates(["_lid", "_rid"]))
    toks_of = both.select("_id", "_side", F.col("_toks").alias("_t"))
    cand = (cand
            .join(toks_of.filter(F.col("_side") == 0)
                  .select(F.col("_id").alias("_lid"), F.col("_t").alias("_ltoks")),
                  "_lid")
            .join(toks_of.filter(F.col("_side") == 1)
                  .select(F.col("_id").alias("_rid"), F.col("_t").alias("_rtoks")),
                  "_rid"))
    inter = F.size(F.array_intersect("_ltoks", "_rtoks"))
    union = F.size("_ltoks") + F.size("_rtoks") - inter
    jacc = inter.cast("double") / union
    return (cand.select(F.col("_lid").alias(id_l), F.col("_rid").alias(id_r),
                        jacc.alias("jacc"))
            .filter(F.col("jacc") >= threshold))


_BLOOM_SEED = 0x9E3779B9  # second hash = xxhash64(key, seed); any fixed odd constant


def bloom_routed_anti_join(probe: DataFrame, build: DataFrame, key: str,
                           num_bits: int = 1_048_576) -> DataFrame:
    """Anti join (probe rows whose key is NOT in build) with bloom
    ROUTING — the crawl-frontier seen-set shape: at 10^12 discovered
    urls, "drop everything we've already crawled" is an anti join whose
    probe side is overwhelmingly NOT-seen, and those rows shouldn't pay
    a shuffle at all.

    A bloom PREFILTER (drop probe rows that miss, as for inner/semi
    joins) cannot be applied to an anti join: a false positive would
    silently DROP an unseen url — wrong answers. Routing keeps it
    exact: rows that MISS the bloom are definitely absent from build and
    bypass the join entirely (map-only path); only the bloom HITS (truly
    seen + false positives) go through the real left_anti join, which
    removes the false positives. union == plain anti join EXACTLY, and
    the shuffled fraction is |seen| + fp_rate x |unseen| instead of
    |probe|.

    The output column set is probe's; row identity (not just key
    membership) is preserved on both paths."""
    h1 = F.pmod(F.xxhash64(F.col(key)), F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(F.col(key), F.lit(_BLOOM_SEED)), F.lit(num_bits))
    bloom = (build
             .select(F.explode(F.array(h1, h2)).alias("_pos"))
             .select(F.expr("_pos div 64").cast("int").alias("_w"),
                     F.expr("shiftleft(1L, cast(pmod(_pos, 64) as int))")
                     .alias("_bv"))
             .groupBy("_w").agg(F.bit_or("_bv").alias("_mask"))
             .agg(F.map_from_arrays(F.collect_list("_w"),
                                    F.collect_list("_mask")).alias("_bf")))
    hit1 = (F.element_at("_bf", F.expr("_p1 div 64").cast("int"))
            .bitwiseAND(F.expr("shiftleft(1L, cast(pmod(_p1, 64) as int))"))
            != 0)
    hit2 = (F.element_at("_bf", F.expr("_p2 div 64").cast("int"))
            .bitwiseAND(F.expr("shiftleft(1L, cast(pmod(_p2, 64) as int))"))
            != 0)
    flagged = (probe.join(F.broadcast(bloom))
               .withColumn("_p1", h1).withColumn("_p2", h2)
               .withColumn("_maybe", F.coalesce(hit1 & hit2, F.lit(False)))
               .drop("_bf", "_p1", "_p2"))
    definite_miss = flagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = (flagged.filter(F.col("_maybe")).drop("_maybe")
             .join(build.select(key), key, "left_anti"))
    return definite_miss.unionByName(maybe)
