"""Output checks. Each returns a list of problems; an empty list passes.

They take plain Python values so the benchmark's tests can feed them
deliberately corrupted results.
"""

from __future__ import annotations

from blog_parser_spark import spec


def _diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got!r}, want {want!r}"]


def check_aggregate(rows: list[tuple], expected: list[list]) -> list[str]:
    """Collected flagship rows (sink, domain, lang_norm, day, docs,
    sentences, bytes) against the oracle's aggregate."""
    got = sorted([r[0], r[1], r[2], str(r[3]), int(r[4]), int(r[5]),
                  int(r[6])] for r in rows)
    if got == expected:
        return []
    g, w = {tuple(r) for r in got}, {tuple(r) for r in expected}
    return [f"aggregate: {len(g - w)} unexpected rows, {len(w - g)} missing, "
            f"e.g. {sorted(g - w)[:2]} vs {sorted(w - g)[:2]}"]


def check_fanout(result: dict, sink_rows: dict[str, int], expected: dict,
                 n_buckets: int) -> list[str]:
    """`run_resumable`'s returned totals and the per-sink routed counts of
    its manifest against the oracle."""
    return (_diff("buckets_done", result["buckets_done"], n_buckets)
            + _diff("rows", result["rows"], expected["rows"])
            + _diff("parse_failures", result["parse_failures"],
                    expected["parse_failures"])
            + _diff("bytes", result["bytes"], expected["bytes"])
            + _diff("sink_rows", dict(sorted(sink_rows.items())),
                    expected["sink_rows"]))


def check_read(good: int, quarantined: list[str], expected: dict) -> list[str]:
    """`read_warc`: good records and quarantine rows (one per truncated
    archive) are exact."""
    return (_diff("read good records", good, expected["good_records"])
            + _diff("read quarantine", sorted(quarantined),
                    expected["truncated"]))


def check_index(good: int, seek_ok: int, quarantined: list[str],
                expected: dict) -> list[str]:
    """`cdx_index`: one entry per good record, each seekable, and one
    quarantine row per truncated archive."""
    return (_diff("index entries", good, expected["good_records"])
            + _diff("index seek_ok", seek_ok, expected["good_records"])
            + _diff("index quarantine", sorted(quarantined),
                    expected["truncated"]))


def check_fetch(fetched: list[tuple], wanted: set[str],
                index_digest: dict[str, str]) -> list[str]:
    """`fetch_by_index` rows (url, payload, warc_err) recover exactly the
    wanted set, each payload matching the digest the index holds."""
    urls = [u for u, _, _ in fetched if u is not None]
    problems = _diff("fetched urls", sorted(urls), sorted(wanted))
    if len(urls) < len(fetched):
        problems.append(f"fetch: {len(fetched) - len(urls)} rows without a "
                        "url (stale or corrupt index entries)")
    bad = [u for u, payload, err in fetched if u is not None and (
           err is not None or payload is None
           or spec.payload_digest(bytes(payload)) != index_digest.get(u))]
    if bad:
        problems.append(f"fetch: {len(bad)} payloads differ from the index, "
                        f"e.g. {bad[:2]}")
    return problems
