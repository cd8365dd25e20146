"""Acquisition web metrics: referrer-channel classification.

Companion to operators/weblog.py (UA classification, last-touch
attribution, sessionized intervals). Fixture synthesis follows the
repo's convention: deterministic expressions over the events table
mirrored expression-for-expression in the DuckDB oracles
(plans/queries_webmetrics.py), asserted equal by tests/test_webmetrics.py.

Determinism: all outputs are BIGINT/VARCHAR, so they are identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Spark regexp_extract and DuckDB regexp_extract are both RE2-compatible
# for these patterns; '' (no match) maps to NULL via nullif on both sides.
HOST_RE = r"^https?://([^/]+)"
QTERM_RE = r"[?&]q=([^&]*)"

SEARCH_HOSTS = ("www.google.com", "www.bing.com")
SOCIAL_HOSTS = ("t.co",)
INTERNAL_HOSTS = ("shop.example",)


def synth_referrers(events: DataFrame) -> DataFrame:
    """Deterministic referrer URLs from events rows -> one `ref` column.

    Shapes span the classifier's whole ladder: two search engines with
    q= terms (view, 2/4), an external news site (view, 1/4), a social
    shortener and an internal page (click 1:2), and direct '' for the
    rest. Mirrored by _REF_SYNTH_SQL in plans/queries_webmetrics.py."""
    eid = F.col("event_id")
    et = F.col("event_type")
    ref = (F.when(et == "view",
                  F.when(eid % 4 == 0,
                         F.concat(F.lit("https://www.google.com/search?q=term"),
                                  (eid % 50).cast("string")))
                  .when(eid % 4 == 1,
                        F.concat(F.lit("https://www.bing.com/search?q=term"),
                                 (eid % 30).cast("string")))
                  .when(eid % 4 == 2,
                        F.concat(F.lit("https://news-site"),
                                 (eid % 20).cast("string"),
                                 F.lit(".example/article/"),
                                 (eid % 500).cast("string")))
                  .otherwise(F.lit("")))
           .when(et == "click",
                 F.when(eid % 3 == 0,
                        F.concat(F.lit("https://t.co/x"),
                                 (eid % 1000).cast("string")))
                 .otherwise(F.concat(F.lit("https://shop.example/page/"),
                                     (eid % 100).cast("string"))))
           .otherwise(F.lit("")))
    return events.withColumn("ref", ref)


def classify_referrer(df: DataFrame, ref_col: str = "ref") -> DataFrame:
    """Channel classification + search-term extraction, fully map-only.

    channel in {direct, search, social, internal, referral}; term is the
    q= parameter for search referrers, NULL otherwise. Host and term are
    regex extractions fused into the scan (no UDF, no shuffle); the
    downstream per-(channel, term) count is map-side combined. At the
    100 TB tier this is a pure codegen projection — the regex evaluates
    once per row and the aggregate's key space is tiny (channels x
    bounded term vocabulary)."""
    ref = F.col(ref_col)
    host = F.regexp_extract(ref, HOST_RE, 1)
    channel = (F.when(ref == "", "direct")
               .when(host.isin(*SEARCH_HOSTS), "search")
               .when(host.isin(*SOCIAL_HOSTS), "social")
               .when(host.isin(*INTERNAL_HOSTS), "internal")
               .otherwise("referral"))
    term = F.nullif(F.regexp_extract(ref, QTERM_RE, 1), F.lit(""))
    return df.withColumn("channel", channel).withColumn("term", term)


def referrer_report(events: DataFrame) -> DataFrame:
    """Per (channel, term) request counts over synthesized referrers."""
    cls = classify_referrer(synth_referrers(events))
    return (cls.groupBy("channel", "term")
            .agg(F.count(F.lit(1)).alias("requests")))

