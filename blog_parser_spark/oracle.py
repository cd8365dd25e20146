"""Pure-Python single-process oracle for the parse→enrich→route→aggregate
pipeline (SURVEY.md §5.2 item 2).

This is the "reference-equivalent" baseline: what `nathan-chappell/
blog_parser` would compute, run one row at a time in one process over the
same PARSE_SPEC v1 module the Spark path uses. Tests compare the Spark
pipeline's full row-sets against this, so any mismatch is a Spark-plumbing
bug, never spec drift. It is also the single-thread throughput baseline
the engine must beat by ~#cores (BASELINE.md).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from datetime import datetime, timedelta
from typing import Any, Iterable

from . import spec

# --- deterministic dims (FIXTURES.md §B lookup tables) ---------------------

LANG_NORM = {"en": "eng", "fr": "fra", "de": "deu", "es": "spa", "zh": "zho"}
LANG_NORM_DEFAULT = "und"
COUNTRIES = ["US", "HR", "DE", "FR", "JP"]


def lang_norm_rows() -> list[dict[str, str]]:
    return [{"lang_raw": k, "lang_norm": v} for k, v in sorted(LANG_NORM.items())]


def domain_meta_rows(n_sources: int = 20) -> list[dict[str, Any]]:
    return [
        {
            "domain": f"src{i}.example.com",
            "site_category": f"cat{i % 4}",
            "country": COUNTRIES[i % 5],
            "tier": i % 3,
        }
        for i in range(n_sources)
    ]


# --- page synthesis (FIXTURES.md §B `pages`) --------------------------------

def page_url(source: str, doc_id: int) -> str:
    return spec.URL_TEMPLATE.format(source=source, doc_id=doc_id)


def page_warc_ts(doc_id: int) -> datetime:
    base = datetime.fromisoformat(spec.WARC_TS_BASE)
    return base + timedelta(
        days=doc_id % spec.WARC_TS_DAY_MOD, seconds=doc_id % spec.WARC_TS_SEC_MOD
    )


def document_to_page(doc: dict[str, Any]) -> dict[str, Any]:
    """documents row -> pages row (url, warc_ts, html, text, lang)."""
    return {
        "url": page_url(doc["source"], doc["doc_id"]),
        "warc_ts": page_warc_ts(doc["doc_id"]),
        "html": spec.render_html(doc["text"]),
        "text": doc["text"],
        "lang": doc["lang"],
    }


# --- routing (must mirror operators/route.py's when-chain exactly) ---------

DOC_CLASS_LONG_CHARS = 300
EU_LANGS = ("fra", "deu", "spa")
SINKS = ("quarantine", "en-long", "en-short", "eu-long", "eu-short", "rest")


def doc_class(extracted_text: str) -> str:
    return "long" if len(extracted_text) >= DOC_CLASS_LONG_CHARS else "short"


def route_sink(parse_ok: bool, lang_norm: str, dclass: str) -> str:
    if not parse_ok:
        return "quarantine"
    if lang_norm == "eng":
        return "en-long" if dclass == "long" else "en-short"
    if lang_norm in EU_LANGS:
        return "eu-long" if dclass == "long" else "eu-short"
    return "rest"


# --- dedup-latest tie-break --------------------------------------------------
# Ties on warc_ts are broken by md5(html) (descending, NULL html lowest) so
# the kept row is a pure function of the data — identical in this oracle and
# in the Spark window (F.md5 over binary), never dependent on arrival order.

def _dedup_key(pg: dict[str, Any]) -> tuple:
    h = pg["html"]
    return (pg["warc_ts"], "" if h is None else hashlib.md5(h).hexdigest())


# --- full single-process pipeline -------------------------------------------

def parse_page(page: dict[str, Any]) -> dict[str, Any]:
    """pages row -> parsed row (schema = SURVEY.md §1.2 `parsed`)."""
    p = spec.parse_document(page["html"])
    return {
        "url": page["url"],
        "warc_ts": page["warc_ts"],
        "lang": page["lang"],
        "title": p.title,
        "headings": p.headings,
        "paragraphs": p.paragraphs,
        "extracted_text": p.extracted_text,
        "n_sentences": p.n_sentences,
        "n_bytes": len(page["html"]) if page["html"] is not None else 0,
        "parse_ok": p.parse_ok,
        "parse_err": p.parse_err,
    }


def url_domain(url: str) -> str | None:
    """Host part of a url; None when there is none (malformed input must
    degrade, never crash — at 10^12 rows malformed urls are certain)."""
    rest = url.split("://", 1)
    if len(rest) != 2 or not rest[1]:
        return None
    host = rest[1].split("/", 1)[0]
    return host or None


def enrich_route(parsed: dict[str, Any]) -> dict[str, Any]:
    domain = url_domain(parsed["url"])
    lang_norm = LANG_NORM.get(parsed["lang"], LANG_NORM_DEFAULT)
    dclass = doc_class(parsed["extracted_text"])
    row = dict(parsed)
    row.update(
        domain=domain,
        lang_norm=lang_norm,
        doc_class=dclass,
        day=parsed["warc_ts"].date(),
        sink=route_sink(parsed["parse_ok"], lang_norm, dclass),
    )
    return row


def run_pipeline(pages: Iterable[dict[str, Any]], dedup_latest: bool = True
                 ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """pages rows -> (routed rows, flagship aggregate rows).

    Aggregate = per (sink, domain, lang_norm, day): docs, sentences, bytes —
    the exact-match acceptance target (BASELINE.json north_rule).
    """
    if dedup_latest:
        best: dict[str, dict[str, Any]] = {}
        for pg in pages:
            cur = best.get(pg["url"])
            if cur is None or _dedup_key(pg) > _dedup_key(cur):
                best[pg["url"]] = pg
        pages = list(best.values())

    routed = [enrich_route(parse_page(pg)) for pg in pages]

    agg: dict[tuple, list[int]] = defaultdict(lambda: [0, 0, 0])
    for r in routed:
        k = (r["sink"], r["domain"], r["lang_norm"], r["day"])
        a = agg[k]
        a[0] += 1
        a[1] += r["n_sentences"]
        a[2] += r["n_bytes"]
    agg_rows = [
        {"sink": k[0], "domain": k[1], "lang_norm": k[2], "day": k[3],
         "docs": v[0], "sentences": v[1], "bytes": v[2]}
        for k, v in sorted(agg.items())
    ]
    return routed, agg_rows
