"""The flagship batch plan: parse -> enrich -> route -> aggregate
(BASELINE.json north_star; SURVEY.md §3.2).

Plan shape (verified via .explain): parquet scan -> [optional pushed
filters] -> url-window dedup (shuffle 1) -> ArrowEvalPython parse ->
broadcast joins (no shuffle) -> when-chain routing -> hash aggregate
(shuffle 2). Exactly two wide boundaries end-to-end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import aggregate, enrich, parse, route
from ..sources import io


def routed_pages(spark: SparkSession, pages: DataFrame, *, dedup: bool = True,
                 with_meta: bool = False, full: bool = False) -> DataFrame:
    """pages -> routed (enriched rows + sink), the shared spine.

    full=False (default) runs the metrics-only parse — the right plan when
    downstream is the aggregate (nothing textual crosses Arrow, the dedup
    window shuffles ~50B/row). full=True carries title/headings/paragraphs/
    extracted_text for sink fan-out and byte-identity checks. Dedup runs
    AFTER parse in both: re-parsing rare duplicate crawls is cheaper than
    shuffling every html payload at corpus scale."""
    if full:
        parsed = parse.parse_pages(pages, with_html_md5=dedup)
    else:
        parsed = parse.parse_pages_metrics(pages, with_html_md5=dedup)
    if dedup:
        parsed = parse.dedup_latest_parsed(parsed)
    enriched = enrich.enrich(
        parsed, io.lang_norm_df(spark),
        io.domain_meta_df(spark) if with_meta else None)
    return route.route(enriched)


def flagship(spark: SparkSession, pages: DataFrame, *, dedup: bool = True,
             salted: bool = False) -> DataFrame:
    """pages -> per-sink aggregate counts (the acceptance aggregate)."""
    routed = routed_pages(spark, pages, dedup=dedup)
    agg = (aggregate.agg_sink_counts_salted if salted
           else aggregate.agg_sink_counts)
    return agg(routed)
