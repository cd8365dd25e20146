"""Enrich operators: broadcast-joined lookups + url/domain/day derivation
(SURVEY.md §2.3 `parse_url_domain`, `join_broadcast_lang`,
`join_broadcast_domain`). All JVM-side expressions — zero Python here."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import oracle


def with_domain(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Host part of url via JVM parse_url (null on malformed — degrade,
    never crash; mirrors oracle.url_domain)."""
    return df.withColumn("domain", F.parse_url(F.col(url_col), F.lit("HOST")))


def with_day(df: DataFrame, ts_col: str = "warc_ts") -> DataFrame:
    return df.withColumn("day", F.to_date(ts_col))


def join_lang_norm(df: DataFrame, lang_norm: DataFrame) -> DataFrame:
    """Broadcast left join + coalesce to 'und' for unmapped langs."""
    dim = lang_norm.withColumnRenamed("lang_raw", "lang")
    return (df.join(F.broadcast(dim), "lang", "left")
            .withColumn("lang_norm",
                        F.coalesce("lang_norm", F.lit(oracle.LANG_NORM_DEFAULT))))


def join_domain_meta(df: DataFrame, domain_meta: DataFrame) -> DataFrame:
    """Broadcast left join of site/domain metadata on domain."""
    return df.join(F.broadcast(domain_meta), "domain", "left")


def enrich(parsed: DataFrame, lang_norm: DataFrame,
           domain_meta: DataFrame | None = None) -> DataFrame:
    df = with_day(with_domain(parsed))
    df = join_lang_norm(df, lang_norm)
    if domain_meta is not None:
        df = join_domain_meta(df, domain_meta)
    return df


def ip_to_long(col: Column | str) -> Column:
    """Dotted-quad IPv4 -> int64 (the sortable/joinable form every
    CIDR/geo lookup runs on). Malformed quads cast to NULL per octet and
    the whole value degrades to NULL — never a crash."""
    o = F.split(F.col(col) if isinstance(col, str) else col, r"\.")
    # F.get, not element_at: out-of-bounds yields NULL instead of an
    # ANSI ArrayIndexOutOfBounds on short quads like "999"
    oct_ = lambda i: F.get(o, i - 1).try_cast("long")
    return (oct_(1) * F.lit(16_777_216) + oct_(2) * F.lit(65_536)
            + oct_(3) * F.lit(256) + oct_(4))


def join_ip_ranges(df: DataFrame, ranges: DataFrame,
                   ip_col: str = "ip") -> DataFrame:
    """CIDR/geo-IP enrich: attach the range row whose
    [start_ip, end_ip] interval contains the row's IP.

    The dim here is broadcast and the containment predicate runs
    map-side (BroadcastNestedLoopJoin) — the right plan when the range
    table is config-sized (a few thousand ASN/geo blocks): cost is
    N x |ranges| comparisons with zero shuffle of the fact side. A
    full GeoIP table (~4M ranges) outgrows that; at that size switch
    to a binned equi-join (bucketize ip_long by range width, join on
    the bin, re-apply the containment predicate as a residual).
    Intervals must be non-overlapping so each IP matches at most one
    row; unmatched IPs keep NULL labels (left join — rows are
    never dropped by enrichment)."""
    fact = df.withColumn("_ip_long", ip_to_long(ip_col))
    cond = (F.col("_ip_long") >= F.col("start_ip")) & \
           (F.col("_ip_long") <= F.col("end_ip"))
    return (fact.join(F.broadcast(ranges), cond, "left")
            .drop("_ip_long"))


# --- charset sniffing ---------------------------------------------------------

UTF8_BOM = bytes([0xEF, 0xBB, 0xBF])


def charset_flags(html: Column) -> tuple[Column, Column]:
    """(is_valid_utf8, has_bom) for a binary html column — pure JVM, no
    Python stage. Validity via the encode-round-trip trick: CAST(binary
    AS STRING) decodes as UTF-8 replacing invalid sequences, so the
    bytes survive a decode->re-encode round trip unchanged IFF they were
    valid UTF-8. NULL html -> NULL flags (unknown, not false)."""
    round_trip = F.encode(html.cast("string"), "UTF-8")
    is_valid = F.when(html.isNull(), F.lit(None).cast("boolean")) \
        .otherwise(html == round_trip)
    has_bom = F.when(html.isNull(), F.lit(None).cast("boolean")) \
        .otherwise(F.startswith(html, F.lit(UTF8_BOM)))
    return is_valid, has_bom


def charset_census(pages: DataFrame, group_col: str = "lang") -> DataFrame:
    """Encoding hygiene rollup the ingest edge of a crawl pipeline runs
    before parsing (mojibake upstream poisons every stage downstream):
    per group — pages, n_utf8 (clean), n_bom (byte-order-marked: valid
    but needs stripping before byte-exact dedup), n_invalid (will take
    the parse-failure path). Map-only flag projection fused into the
    scan + ONE map-combined aggregate."""
    is_valid, has_bom = charset_flags(F.col("html"))
    return (pages
            .select(F.col(group_col).alias("grp"),
                    is_valid.alias("_v"), has_bom.alias("_b"))
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("pages"),
                 F.sum(F.when(F.col("_v"), 1).otherwise(0))
                 .cast("long").alias("n_utf8"),
                 F.sum(F.when(F.col("_b"), 1).otherwise(0))
                 .cast("long").alias("n_bom"),
                 F.sum(F.when(~F.col("_v"), 1).otherwise(0))
                 .cast("long").alias("n_invalid")))
