"""Aggregate operators (SURVEY.md §2.3): the flagship per-sink counts, the
salted two-phase variant for hot-domain skew, and exactness helpers.

Salting policy: salts are pure functions of data (pmod(xxhash64(url), K)),
NEVER rand() — task retries must reproduce identical partial aggregates or
exact-match acceptance breaks (SURVEY.md §7 hard part b)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

AGG_KEYS = ("sink", "domain", "lang_norm", "day")

def _metrics():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_sentences").alias("sentences"),
        F.sum("n_bytes").alias("bytes"),
    ]


def agg_sink_counts(routed: DataFrame) -> DataFrame:
    """Per (sink, domain, lang_norm, day): docs, sentences, bytes.

    One shuffle; Spark's hash aggregate already does map-side partial
    aggregation, so this is the plan of record for uniform keys."""
    return routed.groupBy(*AGG_KEYS).agg(*_metrics())


def agg_sink_counts_salted(routed: DataFrame, buckets: int = 32) -> DataFrame:
    """Same result, two-phase with an explicit url-hash salt.

    For hot domains (one domain = 50% of rows) the single-shuffle plan
    lands the hot group on one reducer; phase 1 spreads it over `buckets`
    reducers, phase 2 merges `buckets` partials per group. Result is
    EXACTLY equal to agg_sink_counts (tests assert this)."""
    salt = F.pmod(F.xxhash64("url"), F.lit(buckets)).alias("_salt")
    partial = (routed
               .groupBy(*AGG_KEYS, salt)
               .agg(F.count(F.lit(1)).alias("_docs"),
                    F.sum("n_sentences").alias("_sentences"),
                    F.sum("n_bytes").alias("_bytes")))
    return (partial.groupBy(*AGG_KEYS)
            .agg(F.sum("_docs").alias("docs"),
                 F.sum("_sentences").alias("sentences"),
                 F.sum("_bytes").alias("bytes")))


def multiset_equal(a: DataFrame, b: DataFrame) -> bool:
    """Routed-row equality gate: exceptAll empty both directions."""
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
