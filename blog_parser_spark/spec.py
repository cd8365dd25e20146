"""PARSE_SPEC v1 — the single source of truth for parse semantics.

This module pins the HTML-to-text grammar and sentence-boundary splitter
that the whole engine (Spark pandas-UDF path, pure-Python oracle, fixture
generator, DuckDB oracle arithmetic) shares. Byte-identity between any two
of those paths can therefore only fail on plumbing bugs, never spec drift.

Provenance: /root/reference was empty at survey time (SURVEY.md §0), so the
reference parser's exact regexes are unavailable; SURVEY.md §2.2 pins this
deterministic, locale-free spec instead. If the reference materializes,
regenerate goldens from it and bump PARSE_SPEC_VERSION.

Pure Python + the standard library (`re`, `hashlib`, `zlib`) — importable
on executors without Spark.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from typing import NamedTuple

PARSE_SPEC_VERSION = 1

# --- tag grammar (SURVEY.md §2.2 items 2-4) -------------------------------
# A tag's body runs from its opener to the first closer after it, matched
# case-insensitively: `<p[^>]*>(.*?)</p>` under re.S | re.I. Each body is
# compiled as a possessive unrolled loop: a run of non-'<', then any '<'
# that does not start the closer, then another run. The loop halts at
# exactly the first '<' where the closer matches, and `re` matches that
# closer under re.I in both the lookahead and the final literal, so case
# folds (U+0130, U+0131, U+212A, U+017F) act as in the lazy form. Nothing
# a possessive quantifier keeps could be given back for a match: `[^>]*+`
# never holds a '>', and the loop holds no '<' that starts the closer. So
# each body is scanned once, with no backtracking on an unclosed opener.
H1_RE = re.compile(
    r"<h1[^>]*+>([^<]*+(?:<(?!/h1>)[^<]*+)*+)</h1>", re.S | re.I)
TITLE_RE = re.compile(
    r"<title[^>]*+>([^<]*+(?:<(?!/title>)[^<]*+)*+)</title>", re.S | re.I)
# H2 and H3 are one alternation with one body group per level and no
# backreference; findall yields (h2 body, h3 body) with the other "".
H23_RE = re.compile(
    r"<h(?:2[^>]*+>([^<]*+(?:<(?!/h2>)[^<]*+)*+)</h2>"
    r"|3[^>]*+>([^<]*+(?:<(?!/h3>)[^<]*+)*+)</h3>)", re.S | re.I)
P_RE = re.compile(
    r"<p[^>]*+>([^<]*+(?:<(?!/p>)[^<]*+)*+)</p>", re.S | re.I)
TAG_STRIP_RE = re.compile(r"<[^>]+>")

# Decoded in this order; &amp; LAST so "&amp;lt;" -> "&lt;" not "<".
ENTITY_DECODE = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# --- sentence boundary (SURVEY.md §2.2 item 6) ----------------------------
SENTENCE_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
# A split is suppressed when the text before the boundary ends with one of
# these abbreviations (case-sensitive, matched against the raw tail).
ABBREVIATIONS = ("e.g.", "i.e.", "Mr.", "Mrs.", "Ms.", "Dr.", "vs.", "etc.")

# --- assembly (SURVEY.md §2.2 item 5) --------------------------------------
# extracted_text = EXTRACT_JOINER.join(non-empty [title] + headings + paragraphs)
# A single space: the fixture ground-truth `documents.text` is single-space
# separated, so this joiner closes the render->parse round trip byte-exactly.
EXTRACT_JOINER = " "

# --- fixture-generator layout (FIXTURES.md §B) -----------------------------
TITLE_WORDS = 8          # words 0..8  -> <h1> (and <title>)
HEADING_WORDS = 4        # words 8..12 -> first <h2>, 12..16 -> second <h2>
N_HEADINGS = 2
BODY_START = TITLE_WORDS + N_HEADINGS * HEADING_WORDS  # 16
PARA_WORDS = 40          # words 16.. chunked into <p> of <=40 words

URL_TEMPLATE = "https://{source}.example.com/post/{doc_id}"
WARC_TS_BASE = "2024-01-01"  # + (doc_id % 90) days + (doc_id % 86400) seconds
WARC_TS_DAY_MOD = 90
WARC_TS_SEC_MOD = 86400


def normalize_fragment(raw: str) -> str:
    r"""Strip inner tags, decode entities, collapse whitespace, strip ends.

    Byte-identical to the unguarded TAG_STRIP_RE / ENTITY_DECODE /
    re.sub(r"\s+", " ").strip() form; the guards only skip no-op passes.
    `re`'s str `\s` and str.split()/strip() share one whitespace test
    (str.isspace, checked over every code point in tests/test_property.py),
    so the join-of-split is that collapse exactly. On printable ASCII with
    no double space a lone ' ' is the only whitespace and the collapse is
    the identity."""
    s = TAG_STRIP_RE.sub("", raw) if "<" in raw else raw
    if "&" in s:
        for ent, ch in ENTITY_DECODE:
            s = s.replace(ent, ch)
    if s.isascii() and s.isprintable() and "  " not in s:
        return s.strip()
    return " ".join(s.split())


def split_sentences(paragraph: str) -> list[str]:
    """Deterministic, locale-free sentence split with abbreviation guard.

    Segments produced by SENTENCE_SPLIT_RE are re-merged (joined with a
    single space) when the accumulated text ends with a guarded
    abbreviation. Empty segments are dropped.
    """
    # no boundary char -> the split is the identity; skip the regex + loop
    if "." not in paragraph and "!" not in paragraph and "?" not in paragraph:
        return [paragraph] if paragraph else []
    out: list[str] = []
    for seg in SENTENCE_SPLIT_RE.split(paragraph):
        if not seg:
            continue
        if out and out[-1].endswith(ABBREVIATIONS):
            out[-1] = out[-1] + " " + seg
        else:
            out.append(seg)
    return out


class Parsed(NamedTuple):
    title: str
    headings: list[str]
    paragraphs: list[str]
    extracted_text: str
    n_sentences: int
    parse_ok: bool
    parse_err: str | None


def parse_document(html: bytes | None) -> Parsed:
    """PARSE_SPEC v1 over one document's html bytes.

    Decode failures (or NULL html) yield parse_ok=False with empty fields —
    the row is counted in parse-failure metrics, never silently dropped.
    """
    if html is None:
        return Parsed("", [], [], "", 0, False, "null html")
    try:
        doc = html.decode("utf-8", errors="strict")
    except UnicodeDecodeError as e:
        return Parsed("", [], [], "", 0, False, f"utf-8 decode: {e.reason} at byte {e.start}")

    m = H1_RE.search(doc) or TITLE_RE.search(doc)
    title = normalize_fragment(m.group(1)) if m else ""
    headings = [normalize_fragment(h2 or h3) for h2, h3 in H23_RE.findall(doc)]
    headings = [h for h in headings if h]
    paragraphs = [normalize_fragment(g) for g in P_RE.findall(doc)]
    paragraphs = [p for p in paragraphs if p]

    parts = [x for x in [title, *headings, *paragraphs] if x]
    extracted = EXTRACT_JOINER.join(parts)
    n_sentences = sum(len(split_sentences(p)) for p in paragraphs)
    return Parsed(title, headings, paragraphs, extracted, n_sentences, True, None)


# --- link grammar (WAT-style outlink extraction; additive to v1) -----------
# Only double-quoted lowercase `<a href="...">` anchors count — the fixture
# renderer emits exactly this shape, and the pinned grammar keeps the Spark
# UDF, the pure-Python layer, and adversarial fixtures in lockstep.
HREF_RE = re.compile(r'<a href="([^"]*)"')

N_LINKS = 3                # outlinks per rendered page
LINK_ID_MOD = 100_000      # target-id space (dangling links are expected)
LINK_DOMAIN_MOD = 17       # target ids map onto 17 synthetic sites


def link_targets(doc_id: int) -> list[int]:
    """Deterministic outlink target ids for one page (pure function of
    doc_id — both engines derive the identical link graph with no extra
    fixture; collisions/dangling targets are allowed, like a real crawl)."""
    return [(doc_id * 31 + 7) % LINK_ID_MOD,
            (doc_id * 57 + 13) % LINK_ID_MOD,
            (doc_id * 91 + 23) % LINK_ID_MOD]


def link_url(target_id: int) -> str:
    return f"https://site{target_id % LINK_DOMAIN_MOD}.example.com/post/{target_id}"


# Canonical-link grammar (additive): the <link rel="canonical"> head tag
# every CC-style dedup pipeline folds on before content hashing. The raw
# pattern string is shared verbatim by the Spark side (regexp_extract —
# pure JVM, no Python stage: canonical extraction is a single-pattern
# scan, far too cheap to pay an Arrow round trip for) and this module.
CANONICAL_RE_STR = r'<link rel="canonical" href="([^"]*)">'
CANONICAL_RE = re.compile(CANONICAL_RE_STR)

CANON_GROUP = 3       # fixture: every aligned group of 3 doc_ids shares one
CANON_DOMAIN_MOD = 7  # canonical target, on 7 synthetic canonical hosts


def canonical_url(canon_id: int) -> str:
    """Closed-form canonical target — dangling targets allowed (real
    canonicals routinely point outside the current crawl slice)."""
    return (f"https://canon{canon_id % CANON_DOMAIN_MOD}.example.com"
            f"/page/{canon_id}")


def canonical_target(doc_id: int) -> str | None:
    """Group roots (doc_id % 3 == 0) declare no canonical; the rest point
    at their group root's canonical url."""
    if doc_id % CANON_GROUP == 0:
        return None
    return canonical_url(doc_id - doc_id % CANON_GROUP)


def extract_canonical(html: bytes | None) -> str | None:
    """First canonical href, or None (absent tag / NULL / decode failure)."""
    if html is None:
        return None
    try:
        doc = html.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return None
    m = CANONICAL_RE.search(doc)
    return m.group(1) if m else None


# hreflang-alternate grammar (additive): the <link rel="alternate"
# hreflang=...> head tags that declare a page's translations — the seed
# signal for mining aligned multilingual training pairs. Raw pattern
# shared verbatim with the Spark side (regexp_extract_all, pure JVM).
ALTERNATE_RE_STR = r'<link rel="alternate" hreflang="([a-z-]+)" href="([^"]*)">'
ALTERNATE_RE = re.compile(ALTERNATE_RE_STR)

ALT_LANGS = ("de", "en", "fr")  # fixture: every page declares these three


def alternate_url(lang: str, doc_id: int) -> str:
    return f"https://alt-{lang}.example.com/post/{doc_id}"


def extract_alternates(html: bytes | None) -> list[tuple[str, str]]:
    """(hreflang, href) per alternate tag, document order; NULL/decode
    failures yield [] (extract_links contract)."""
    if html is None:
        return []
    try:
        doc = html.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return []
    return ALTERNATE_RE.findall(doc)


# Anchor grammar (additive): href AND inner text. Inner text runs through
# normalize_fragment (tags stripped, entities decoded, whitespace collapsed)
# — anchor text in the wild routinely wraps <b>/<span>.
ANCHOR_RE = re.compile(r'<a href="([^"]*)"[^>]*>(.*?)</a>', re.S)

# Deterministic rich-anchor fixture text: two words derived from the target
# id, so the DuckDB oracle reproduces the census in closed form. Kept OFF by
# default — render_html(doc_id=...) byte streams are pinned by older tests.
ANCHOR_WORD_MODS = (13, 5)


def anchor_text(target_id: int) -> str:
    return " ".join(f"w{target_id % m}" for m in ANCHOR_WORD_MODS)


def extract_anchors(html: bytes | None) -> list[tuple[str, str]]:
    """(href, normalized inner text) per anchor, document order; decode
    failures and NULL html yield [] (same contract as extract_links)."""
    if html is None:
        return []
    try:
        doc = html.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return []
    return [(href, normalize_fragment(txt)) for href, txt in ANCHOR_RE.findall(doc)]


def extract_links(html: bytes | None) -> list[str]:
    """All double-quoted href targets, document order. Decode failures and
    NULL html yield [] (the page still parses/fails through parse_document;
    link extraction never raises)."""
    if html is None:
        return []
    try:
        doc = html.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return []
    return HREF_RE.findall(doc)


def escape_html(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# --- WARC/1.0 container grammar (additive; Common Crawl's archive format) ---
# One source of truth for BOTH directions: the fixture/export packer
# (render_warc_file) and the ingest parser (parse_warc_file) share these
# constants, so the pack -> parse round trip is byte-exact by construction
# and the Spark plumbing is the only thing the end-to-end query can catch.
#
# Subset pinned here (enough for response-record archives):
#   record  = "WARC/1.0" CRLF *(name ": " value CRLF) CRLF payload CRLF CRLF
#   required headers: WARC-Type, WARC-Date, Content-Length
#   WARC-Target-URI required on response records
# Content-Length drives the payload slice, so payloads are binary-safe —
# a payload containing the bytes "WARC/1.0" cannot desync the walk.

WARC_VERSION = b"WARC/1.0"
WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"  # ISO-8601 Zulu, second precision
WARC_INFO_PAYLOAD = b"software: blog-parser-spark\r\nformat: WARC file version 1.0\r\n"


class WarcRecord(NamedTuple):
    url: str
    warc_date: str      # ISO-8601 Zulu string, parsed verbatim from the header
    payload: bytes
    offset: int         # byte offset of the record's version line in the file
    digest: str | None  # payload_digest(payload); None if the walk skipped it
    digest_err: str | None = None  # set when WARC-Payload-Digest mismatches


def payload_digest(payload: bytes) -> str:
    """WARC-Payload-Digest value (md5 here: the hash the rest of the repo
    standardizes on for value fingerprints; real CC uses sha1 — swap the
    algorithm label and fn together if interop ever matters)."""
    return "md5:" + hashlib.md5(payload).hexdigest()


def render_warc_record(rec_type: str, url: str | None, warc_date: str,
                       payload: bytes, with_digest: bool = True) -> bytes:
    headers = [WARC_VERSION.decode("ascii"), f"WARC-Type: {rec_type}"]
    if url is not None:
        headers.append(f"WARC-Target-URI: {url}")
    headers += [f"WARC-Date: {warc_date}", f"Content-Length: {len(payload)}"]
    if with_digest:
        headers.append(f"WARC-Payload-Digest: {payload_digest(payload)}")
    return ("\r\n".join(headers) + "\r\n\r\n").encode("ascii") + payload + b"\r\n\r\n"


def render_warc_file(records: list[tuple[str, str, bytes]],
                     info_date: str | None = None,
                     rec_type: str = "response") -> bytes:
    """(url, warc_date, payload) records -> one WARC file's bytes, led by
    a warcinfo record (like real crawler output — the parser must skip
    non-matching record types, and every fixture file exercises that).
    rec_type="response" renders page archives, "conversion" renders WET
    extracted-text files."""
    first_date = info_date or (records[0][1] if records else "2024-01-01T00:00:00Z")
    buf = [render_warc_record("warcinfo", None, first_date, WARC_INFO_PAYLOAD)]
    buf.extend(render_warc_record(rec_type, u, d, p) for u, d, p in records)
    return b"".join(buf)


# The header block render_warc_record writes, as one bytes pattern: the
# version line, then "Name: value" lines for WARC-Type, an optional
# WARC-Target-URI, WARC-Date, Content-Length and an optional
# WARC-Payload-Digest, in this order, then the blank line. On a match
# the groups are exactly the fields _header_general returns, and
# m.end() is its body start, because:
# - the block is ASCII and every line has a colon, so none of the
#   general grammar's errors can arise;
# - a value is [!-~]+, so it holds no whitespace and the general
#   grammar's strip() is the identity on it;
# - a value holds no CR, so the match ends at the first CRLFCRLF after
#   pos, which is where the general grammar ends the block;
# - each name appears once, so the general grammar's last-wins on a
#   duplicate name never applies;
# - int() reads the digits of Content-Length alike in both; past 18
#   digits the block takes the general grammar, which owns int()'s
#   too-many-digits error.
# Any other block, including another case, spacing or field order,
# misses and takes the general grammar.
_WARC_HDR_CANON = re.compile(
    re.escape(WARC_VERSION) + rb"\r\n"
    rb"WARC-Type: ([!-~]+)\r\n"
    rb"(?:WARC-Target-URI: ([!-~]+)\r\n)?"
    rb"WARC-Date: ([!-~]+)\r\n"
    rb"Content-Length: ([0-9]{1,18})\r\n"
    rb"(?:WARC-Payload-Digest: ([!-~]+)\r\n)?"
    rb"\r\n")


def _header_general(data: bytes, pos: int) -> tuple | str:
    """The WARC header grammar at data[pos:] -> (warc_type, uri, date,
    content_length, declared_digest, body_start), or a position-stamped
    error string. Names match case-insensitively, values are stripped,
    and the last of duplicate names wins."""
    if not data.startswith(WARC_VERSION + b"\r\n", pos):
        return f"bad version line at byte {pos}"
    hdr_end = data.find(b"\r\n\r\n", pos)
    if hdr_end < 0:
        return f"unterminated header block at byte {pos}"
    fields: dict[str, str] = {}
    try:
        hdr_lines = data[pos + len(WARC_VERSION) + 2: hdr_end].decode("ascii")
    except UnicodeDecodeError:
        return f"non-ascii header block at byte {pos}"
    for line in hdr_lines.split("\r\n"):
        name, sep, value = line.partition(":")
        if not sep:
            return f"malformed header line at byte {pos}: {line!r}"
        fields[name.strip().lower()] = value.strip()
    try:
        length = int(fields["content-length"])
    except (KeyError, ValueError):
        return f"missing/bad Content-Length at byte {pos}"
    return (fields.get("warc-type"), fields.get("warc-target-uri"),
            fields.get("warc-date"), length,
            fields.get("warc-payload-digest"), hdr_end + 4)


def _header(data: bytes, pos: int) -> tuple | str:
    """_header_general's result, read by one match when the block has
    the canonical layout (_WARC_HDR_CANON)."""
    m = _WARC_HDR_CANON.match(data, pos)
    if m is None:
        return _header_general(data, pos)
    wtype, uri, date, length, declared = m.groups()
    return (wtype.decode("ascii"), uri and uri.decode("ascii"),
            date.decode("ascii"), int(length),
            declared and declared.decode("ascii"), m.end())


def _walk_records(data: bytes, pos: int, rec_type: str,
                  max_records: int | None, out: list[WarcRecord],
                  offset: int | None = None, digest: bool = True) -> str | None:
    """Walk plain WARC records from data[pos:], appending the rec_type
    ones to out until out holds max_records. Each record is stamped
    with `offset` when given, else its own byte position. digest=False
    leaves each record's digest and digest_err None. Returns the first
    framing error, or None."""
    n = len(data)
    while pos < n:
        h = _header(data, pos)
        if type(h) is str:
            return h
        wtype, url, date, length, declared, body_start = h
        body_end = body_start + length
        if body_end + 2 > n or data[body_end:body_end + 2] != b"\r\n":
            return f"truncated payload at byte {pos}"
        # two CRLFs end a record, but tolerate exactly one at EOF
        tail = data[body_end:body_end + 4]
        step = 4 if tail == b"\r\n\r\n" else 2
        if step == 2 and body_end + 2 != n:
            return f"missing record trailer at byte {pos}"
        if wtype == rec_type:
            if url is None or date is None:
                return f"{rec_type} record missing URI/Date at byte {pos}"
            body = data[body_start:body_end]
            # Per-record integrity: Content-Length framing catches
            # truncation/desync, but a bit flip INSIDE a well-framed
            # payload only the digest can catch. Absent digest = older
            # writer, accepted; present-and-wrong = flagged on the
            # record (the walk continues — framing is still sound).
            dig = derr = None
            if digest:
                dig = payload_digest(body)
                if declared is not None and declared != dig:
                    derr = (f"payload digest mismatch at byte {pos}: "
                            f"declared {declared}")
            out.append(WarcRecord(url, date, body,
                                  pos if offset is None else offset,
                                  dig, derr))
            if max_records is not None and len(out) >= max_records:
                return None
        pos = body_end + step
    return None


def parse_warc_file(data: bytes,
                    rec_type: str = "response",
                    max_records: int | None = None,
                    start: int = 0, *,
                    _digest: bool = True) -> tuple[list[WarcRecord], str | None]:
    """Binary-safe WARC walk. Returns (rec_type records in file order, err).

    rec_type="response" reads WARC page archives; "conversion" reads WET
    extracted-text files (same container grammar — WET IS WARC with
    conversion records). Other record types are skipped (expected:
    warcinfo/request/metadata). The first malformed structure stops the
    walk — after a framing error the remaining offsets are untrustworthy,
    so the caller quarantines the file tail loudly (err is a
    position-stamped reason) instead of resyncing heuristically and
    risking silent drops.

    max_records stops the walk as soon as that many rec_type records
    have been collected (err None — the unvisited tail is not
    validated). start begins the walk at that byte of data, so offsets
    and error positions stay absolute. Together they are the seek
    primitive: start=<CDX offset>, max_records=1 costs O(record) and
    copies nothing of the archive suffix. _digest=False skips the
    payload digest (digest and digest_err None), for an internal re-walk
    that already holds it.
    """
    out: list[WarcRecord] = []
    if max_records is not None and max_records <= 0:
        return out, None
    return out, _walk_records(data, start, rec_type, max_records, out,
                              digest=_digest)


# .warc.gz framing — Common Crawl's actual on-disk layout: every record is
# compressed as its OWN gzip member and the members are concatenated, so an
# index can point at a member's compressed byte offset and a reader can
# gunzip exactly one record without touching the rest of the archive.
# Determinism: members use zlib's default gzip header (MTIME=0, no name,
# OS=255 "unknown"), so render -> bytes stays a pure function of the
# records and the pack -> parse round trip is byte-exact like the plain
# path. A reader distinguishes the two layouts by the first two bytes.

GZIP_MAGIC = b"\x1f\x8b"
# Decompress feed, in bytes per slice. When a member ends, zlib copies
# the rest of its last slice into unused_data, so each member costs its
# own bytes plus under _GZ_CHUNK of copy: the walk is O(bytes + members
# x _GZ_CHUNK), and a small feed keeps that second term small.
_GZ_CHUNK = 1 << 14


def gzip_member(record: bytes) -> bytes:
    """One record -> one deterministic gzip member."""
    c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(record) + c.flush()


def render_warc_gz_file(records: list[tuple[str, str, bytes]],
                        info_date: str | None = None,
                        rec_type: str = "response") -> bytes:
    """Per-record-gzip sibling of render_warc_file: same records, same
    warcinfo lead, each record its own concatenated gzip member."""
    first_date = info_date or (records[0][1] if records else "2024-01-01T00:00:00Z")
    buf = [gzip_member(render_warc_record("warcinfo", None, first_date,
                                          WARC_INFO_PAYLOAD))]
    buf.extend(gzip_member(render_warc_record(rec_type, u, d, p))
               for u, d, p in records)
    return b"".join(buf)


def parse_warc_gz_file(data: bytes,
                       rec_type: str = "response",
                       max_records: int | None = None,
                       start: int = 0, *,
                       _digest: bool = True) -> tuple[list[WarcRecord], str | None]:
    """Binary-safe .warc.gz walk: gunzip one concatenated member at a
    time, fed in _GZ_CHUNK slices, and run the plain-WARC grammar on
    each member's bytes. A record's offset is its gzip member's
    COMPRESSED byte offset — the number a CC-style index stores. Error
    contract matches parse_warc_file: the first corrupt/truncated
    member stops the walk with a position-stamped reason; everything
    before it is returned. max_records, start and _digest are
    parse_warc_file's."""
    out: list[WarcRecord] = []
    if max_records is not None and max_records <= 0:
        return out, None
    pos, n = start, len(data)
    view = memoryview(data)
    while pos < n:
        member_at = pos
        if data[pos:pos + 2] != GZIP_MAGIC:
            return out, f"bad gzip magic at byte {pos}"
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        parts: list[bytes] = []
        try:
            while not d.eof:
                if pos >= n:
                    return out, f"truncated gzip member at byte {member_at}"
                chunk = view[pos:pos + _GZ_CHUNK]
                parts.append(d.decompress(chunk))
                pos += len(chunk)
        except zlib.error as e:
            return out, f"corrupt gzip member at byte {member_at}: {e}"
        pos -= len(d.unused_data)
        member = parts[0] if len(parts) == 1 else b"".join(parts)
        err = _walk_records(member, 0, rec_type, max_records, out, member_at,
                            _digest)
        if err is not None:
            return out, f"in gzip member at byte {member_at}: {err}"
        if max_records is not None and len(out) >= max_records:
            return out, None
    return out, None


def walk_warc(data: bytes, rec_type: str = "response", start: int = 0,
              max_records: int | None = None, *,
              _digest: bool = True) -> tuple[list[WarcRecord], str | None]:
    """Walk a WARC archive of either layout from byte `start`: the
    file's own first two bytes (never its name) pick parse_warc_gz_file
    or parse_warc_file, so plain and .warc.gz archives mix freely."""
    walker = parse_warc_gz_file if data[:2] == GZIP_MAGIC else parse_warc_file
    return walker(data, rec_type=rec_type, max_records=max_records,
                  start=start, _digest=_digest)


def render_html(text: str, doc_id: int | None = None,
                rich_anchors: bool = False,
                with_canonical: bool = False,
                with_alternates: bool = False) -> bytes:
    """Deterministic inverse fixture generator (FIXTURES.md §B `pages.html`).

    Splits `text` into title (first 8 words), two <h2> headings (4 words
    each), and <p> paragraphs of <=40 words, wrapped in a fixed skeleton.
    Round-trip invariant: parse_document(render_html(t)).extracted_text == t
    for any single-space-separated t (the fixture ground truth shape).

    With doc_id set, a <nav> block of link_targets() anchors is appended
    before </body>. parse_document extracts only title/h1/h2/h3/p, so the
    nav block is invisible to text extraction — the round-trip invariant
    holds bit-for-bit with or without links (asserted in tests/test_spec.py);
    doc_id=None reproduces the pre-link byte stream exactly.
    """
    words = text.split(" ") if text else []
    title = " ".join(words[:TITLE_WORDS])
    h2s = [
        " ".join(words[TITLE_WORDS + i * HEADING_WORDS: TITLE_WORDS + (i + 1) * HEADING_WORDS])
        for i in range(N_HEADINGS)
    ]
    paras = [
        " ".join(words[i: i + PARA_WORDS])
        for i in range(BODY_START, len(words), PARA_WORDS)
    ]
    canon = canonical_target(doc_id) if (with_canonical and doc_id is not None) else None
    head = f"<title>{escape_html(title)}</title>"
    if canon is not None:
        head += f'<link rel="canonical" href="{canon}">'
    if with_alternates and doc_id is not None:
        head += "".join(
            f'<link rel="alternate" hreflang="{lang}" '
            f'href="{alternate_url(lang, doc_id)}">'
            for lang in ALT_LANGS)
    buf = [f"<html><head>{head}</head><body>"]
    buf.append(f"<h1>{escape_html(title)}</h1>")
    buf.extend(f"<h2>{escape_html(h)}</h2>" for h in h2s if h)
    buf.extend(f"<p>{escape_html(p)}</p>" for p in paras if p)
    if doc_id is not None:
        buf.append("<nav>")
        buf.extend(
            f'<a href="{link_url(t)}">'
            f'{escape_html(anchor_text(t)) if rich_anchors else "ref"}</a>'
            for t in link_targets(doc_id))
        buf.append("</nav>")
    buf.append("</body></html>")
    return "".join(buf).encode("utf-8")
