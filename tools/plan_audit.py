"""Dump the formatted physical plans of the headline queries to PLANS.md,
with the scale-relevant properties called out per plan (pushed filters,
pruned schemas, join strategies, Python stages, shuffle count).

The same properties are asserted mechanically in tests/test_plans.py; this
artifact exists so a reviewer can read the actual plans without running
Spark.

    python tools/plan_audit.py
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.001"


from blog_parser_spark.plans.explain import plan_formatted as fmt, plan_nodes


def props(plan: str) -> list[str]:
    nodes = plan_nodes(plan)
    out = [f"- physical nodes: {', '.join(sorted(set(nodes)))}"]
    out.append(f"- shuffle exchanges: {nodes.count('Exchange')}; "
               f"broadcast exchanges: {nodes.count('BroadcastExchange')}")
    py = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
    out.append(f"- Python stages ({'/'.join(py)}): "
               f"{sum(nodes.count(n) for n in py)}")
    pf = re.findall(r"PushedFilters: (\[.*?\])", plan)
    if pf:
        out.append(f"- pushed filters: {pf[0]}")
    rs = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if rs:
        out.append(f"- read schema (pruned): {len(rs[0].split(','))} columns")
    return out


def main() -> None:
    from blog_parser_spark.session import get_spark
    from blog_parser_spark.plans import pipeline
    from blog_parser_spark.operators import parse
    from blog_parser_spark.sources import io
    import __spark_entry__ as e

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # materialize pages so the synthesis UDF doesn't pollute the plans
    pages_path = "/tmp/plan_audit_pages.parquet"
    io.synth_pages(spark, SF_DIR).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    qs = e.queries()
    targets = {
        "flagship (parse→dedup→enrich→route→aggregate)":
            pipeline.flagship(spark, pages, dedup=True),
        "flagship salted (two-phase aggregate)":
            pipeline.flagship(spark, pages, dedup=False, salted=True),
        "sentences_fused (one Python stage, JVM-side double explode)":
            parse.sentences_from_pages(pages),
        "dedup_minhash_lsh (band-bucket join — no cartesian, no BNL)":
            qs["dedup_minhash_lsh"](spark, SF_DIR),
        "training_data_pipeline (single-pass enrich, no python stages)":
            qs["training_data_pipeline"](spark, SF_DIR),
        "decontam_ngram_overlap (eval grams broadcast — corpus side never shuffles pre-join)":
            qs["decontam_ngram_overlap"](spark, SF_DIR),
        "export_pack_sequences (single shard shuffle + per-shard window cumsum)":
            qs["export_pack_sequences"](spark, SF_DIR),
        "text_repetition (explode + map-side-combined gram counts)":
            qs["text_repetition"](spark, SF_DIR),
        "cdc_apply_changes (latest-change WindowGroupLimit + broadcast anti-join)":
            qs["cdc_apply_changes"](spark, SF_DIR),
        "export_chunk_overlap (map-only narrow plan — no shuffle)":
            qs["export_chunk_overlap"](spark, SF_DIR),
        "text_segment_dedup (segment docfreq shuffle + doc reassembly shuffle)":
            qs["text_segment_dedup"](spark, SF_DIR),
        "text_unigram_logprob (per-(doc,word) counts join broadcast vocab)":
            qs["text_unigram_logprob"](spark, SF_DIR),
        "graph_triangle_count (two hash joins on vertex keys)":
            qs["graph_triangle_count"](spark, SF_DIR),
        "url_canonicalize (map-only narrow plan — no shuffle)":
            qs["url_canonicalize"](spark, SF_DIR),
        "join_fuzzy_jaccard (prefix-token candidates carry ids only; "
        "verify arrays re-attach from the raw inputs; the docfreq "
        "pipeline is localCheckpointed so it runs ONCE — it executes as "
        "its own job and is therefore NOT visible in this dump, which "
        "shows only the post-checkpoint plan)":
            qs["join_fuzzy_jaccard"](spark, SF_DIR),
        "search_bm25_topk (query-term filter BEFORE any shuffle; corpus "
        "stats broadcast one-row)":
            qs["search_bm25_topk"](spark, SF_DIR),
        "filter_domain_blocklist (suffix-chain explode -> broadcast semi "
        "-> anti on page key; no LIKE cross join)":
            qs["filter_domain_blocklist"](spark, SF_DIR),
        "parse_grok_logs (regexp_extract in codegen — zero Python stages)":
            qs["parse_grok_logs"](spark, SF_DIR),
        "enrich_ip_cidr (broadcast range dim — zero fact-side shuffle)":
            qs["enrich_ip_cidr"](spark, SF_DIR),
        "slo_burn_rate (rolling frame over the tumbling aggregate, "
        "never the fact stream)":
            qs["slo_burn_rate"](spark, SF_DIR),
        "interval_coalesce (per-user windows — per-key parallel, "
        "no global sort)":
            qs["interval_coalesce"](spark, SF_DIR),
        "text_boilerplate_strip (freq agg + join-back keyed on "
        "(source, line_hash) — line text never shuffles as a key)":
            qs["text_boilerplate_strip"](spark, SF_DIR),
        "rolling_distinct_users (two-stage plain aggs — NO Expand node; "
        "a double COUNT DISTINCT would plan one)":
            qs["rolling_distinct_users"](spark, SF_DIR),
        "percolate_match (inverted percolator — anchor equi-join against "
        "the broadcast registry before any shuffle)":
            qs["percolate_match"](spark, SF_DIR),
        "sketch_count_min (stream collapses to <=4096 additive cells; "
        "probes broadcast-join the sketch)":
            qs["sketch_count_min"](spark, SF_DIR),
        "heavy_hitters_exact (MG candidate pass + broadcast-semi recount — "
        "shuffle bounded by candidates, never key cardinality)":
            qs["heavy_hitters_exact"](spark, SF_DIR),
        "robots_politeness (broadcast rule arrays; fetch stream map-only "
        "until the per-host rollup)":
            qs["robots_politeness"](spark, SF_DIR),
        "url_redirect_resolve (pointer doubling — log-round joins, "
        "checkpointed lineage)":
            qs["url_redirect_resolve"](spark, SF_DIR),
        "dedup_containment (shingle equi-join emits co-occurring pairs "
        "only; intersection map-side combined)":
            qs["dedup_containment"](spark, SF_DIR),
        "url_path_templates (higher-order transform, two-stage census — "
        "no Expand)":
            qs["url_path_templates"](spark, SF_DIR),
        "scan_warc_pages (pack + binary-safe parse: two bounded Python "
        "stages, parallelism = archive files)":
            qs["scan_warc_pages"](spark, SF_DIR),
        "anchor_text_census (one Arrow regex stage; shuffle carries "
        "(domain, term) pairs, never page bytes)":
            qs["anchor_text_census"](spark, SF_DIR),
        "dedup_canonical (the one Python stage below is the FIXTURE "
        "renderer; extraction itself is a JVM regexp — the parquet-fed "
        "plan in test_dedup_canonical_plan_is_pure_jvm has zero)":
            qs["dedup_canonical"](spark, SF_DIR),
        "recrawl_schedule (lag window + per-url agg share ONE url "
        "shuffle)":
            qs["recrawl_schedule"](spark, SF_DIR),
        "sitemap_coverage (one full-outer url join + host rollup — "
        "pure JVM)":
            qs["sitemap_coverage"](spark, SF_DIR),
        "crawl_budget_allocate (ONE pass over the host rollup: W, "
        "leftover, and remainder rank are global windows — the crossJoin "
        "form re-executed the upstream 4x)":
            qs["crawl_budget_allocate"](spark, SF_DIR),
        "charset_census (encode-round-trip UTF-8 validity — map-only "
        "flags + one map-combined agg, zero Python)":
            qs["charset_census"](spark, SF_DIR),
        "crawl_cycle_schedule (composite: schedule's url shuffle; "
        "weights/quota/order all share the host key, quota broadcast)":
            qs["crawl_cycle_schedule"](spark, SF_DIR),
        "flagship_from_warc (archive bytes -> record parse -> sidecar "
        "join -> the unchanged flagship)":
            qs["flagship_from_warc"](spark, SF_DIR),
        "scan_warc_gz_pages (per-record-gzip layout: gunzip inside the "
        "same Arrow stage, zero extra plan nodes vs plain)":
            qs["scan_warc_gz_pages"](spark, SF_DIR),
        "export_cdx_index (capture index with in-plan seek check — the "
        "index itself is ONE stateless map stage with no shuffle; the "
        "exchange visible below belongs to the fixture PACK that builds "
        "the archives being indexed)":
            qs["export_cdx_index"](spark, SF_DIR),
        "warc_fetch_by_index (driver-bounded IN-filter prunes the "
        "archive scan; broadcast offsets; one Arrow seek stage with "
        "max_records=1 per hit — archive bytes never shuffle)":
            qs["warc_fetch_by_index"](spark, SF_DIR),
        "crawl_digest_delta (index ⋈ index full-outer on url — two "
        "sidecar-sized inputs, archive bytes never join)":
            qs["crawl_digest_delta"](spark, SF_DIR),
        "crawl_incremental_refresh (monthly-update composite: index "
        "delta -> fetch ONLY added+changed members -> per-status byte "
        "accounting; full archives never scanned)":
            qs["crawl_incremental_refresh"](spark, SF_DIR),
    }

    # co-located bucketed join (zero-shuffle): needs catalog tables;
    # drop leftovers from a previous audit in the same warehouse dir
    # (DROP TABLE alone doesn't clear an orphaned location dir)
    import shutil
    for t in ("audit_pages_b", "audit_scores_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)
    io.write_bucketed_table(pages.select("url", "lang", "warc_ts"),
                            "audit_pages_b", buckets=4)
    io.write_bucketed_table(
        pages.selectExpr("url", "length(url) AS score"),
        "audit_scores_b", buckets=4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    targets["bucketed co-located join (zero shuffle exchanges)"] = (
        spark.table("audit_pages_b").join(spark.table("audit_scores_b"), "url"))

    # zero-exchange co-partitioned WARC pack (round 5): pages bucketed by
    # archive id; autoBucketedScan off because no join/agg above the scan
    # exploits the bucketing (the rewrite would re-split the files)
    from pyspark.sql import functions as F

    from blog_parser_spark.sources import warc as warc_src
    t = "audit_pages_by_fid"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{t}", ignore_errors=True)
    (pages.withColumn(
        "_fid_mat",
        (F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long") / 25)
        .cast("long"))
     .write.mode("overwrite").format("parquet")
     .bucketBy(4, "_fid_mat").sortBy("_fid_mat").saveAsTable(t))
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    targets["warc pack from co-partitioned pages (ZERO exchanges — "
            "corpus bytes never enter the shuffle system)"] = (
        warc_src.pack_warc_files_presorted(
            spark.table(t).select("url", "warc_ts", "html"), 25))

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — formatted physical plans of the headline queries\n\n"
                "Generated by `python tools/plan_audit.py` (Spark "
                f"{spark.version}, local mode, sf0.001 fixtures; plan SHAPE is "
                "scale-independent — AQE may re-plan stage counts at runtime "
                "on real data volumes).\n")
        for title, df in targets.items():
            # Plans can embed non-printable literals (separator or
            # sentinel characters in string constants) — escape them so
            # PLANS.md stays a text file for grep/diff tooling.
            plan = "".join(
                c if c.isprintable() or c in "\n\t" else repr(c)[1:-1]
                for c in fmt(df))
            f.write(f"\n## {title}\n\n")
            f.write("\n".join(props(plan)))
            f.write("\n\n```\n")
            f.write(plan.strip()[:6000])
            f.write("\n```\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
