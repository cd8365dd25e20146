"""Property-based hardening of PARSE_SPEC (pure Python — no Spark).

Three invariant families, fuzzed with hypothesis:
1. The guarded fast paths in spec.normalize_fragment / split_sentences are
   byte-equal to the unguarded reference forms on ARBITRARY text, and the
   compiled tag scans to the lazy `(.*?)` forms on adversarial tag soup.
2. The fixture round trip (text -> render_html -> parse_document) recovers
   extracted_text byte-identically for any single-space-separated word text
   (the documents.text shape).
3. parse_document never raises: any bytes input yields a Parsed row
   (parse_ok=False for undecodable input) — at 10^12 docs "never crashes
   the executor" is a correctness property, not a nicety.
"""

from __future__ import annotations

import random
import re
import sys
from datetime import datetime
from unittest import mock

from hypothesis import given, settings, strategies as st

from blog_parser_spark import spec


# --- reference (unguarded) forms --------------------------------------------

WS_RE = re.compile(r"\s+")


def _normalize_unguarded(raw: str) -> str:
    s = spec.TAG_STRIP_RE.sub("", raw)
    for ent, ch in spec.ENTITY_DECODE:
        s = s.replace(ent, ch)
    return WS_RE.sub(" ", s).strip()


def _split_unguarded(paragraph: str) -> list[str]:
    out: list[str] = []
    for seg in spec.SENTENCE_SPLIT_RE.split(paragraph):
        if not seg:
            continue
        if out and out[-1].endswith(spec.ABBREVIATIONS):
            out[-1] = out[-1] + " " + seg
        else:
            out.append(seg)
    return out


# fragments biased toward the constructs the guards dispatch on: ASCII
# whitespace, the non-printable ASCII separators \x1c-\x1f, non-ASCII
# whitespace (NEL, NBSP, line separator, ideographic space), controls,
# a non-ASCII letter, and runs of spaces
_fragment = st.lists(
    st.sampled_from(
        list("abcXYZ09 .!?\t\n\r\f\v\x1c\x1d\x1e\x1f\x85\xa0\u2028\u3000\x7f\x00\xe9")
        + ["<", ">", "&", "/", "  ", "   "]),
    max_size=80).map("".join)
_freeform = st.text(max_size=120)


def test_re_whitespace_is_str_isspace_on_every_code_point():
    """normalize_fragment's join-of-split equals the `\\s+` collapse only
    because `re`'s str `\\s` and str.split()/strip() share one whitespace
    test; pin that for every code point of this interpreter."""
    ws = re.compile(r"\s")
    mismatched = [cp for cp in range(sys.maxunicode + 1)
                  if bool(ws.fullmatch(chr(cp))) != chr(cp).isspace()]
    assert mismatched == []


@settings(max_examples=300, deadline=None)
@given(st.one_of(_fragment, _freeform))
def test_normalize_guarded_equals_unguarded(raw):
    assert spec.normalize_fragment(raw) == _normalize_unguarded(raw)


@settings(max_examples=300, deadline=None)
@given(st.one_of(_fragment, _freeform))
def test_split_guarded_equals_unguarded(p):
    assert spec.split_sentences(p) == _split_unguarded(p)


# words like the fixture generator produces: no whitespace, no angle
# brackets pre-escape is handled by render_html, so allow & < > too
_word = st.text(
    alphabet=st.characters(blacklist_categories=("Zs", "Zl", "Zp", "Cc", "Cs")),
    min_size=1, max_size=12)


@settings(max_examples=200, deadline=None)
@given(st.lists(_word, min_size=1, max_size=60))
def test_render_parse_round_trip_byte_identity(words):
    text = " ".join(words)
    parsed = spec.parse_document(spec.render_html(text))
    assert parsed.parse_ok
    assert parsed.extracted_text == text


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200))
def test_parse_document_total_on_arbitrary_bytes(data):
    parsed = spec.parse_document(data)
    assert isinstance(parsed.parse_ok, bool)
    if not parsed.parse_ok:
        assert parsed.parse_err


# --- tag grammar: compiled scans == lazy reference forms ----------------------

LAZY_TAG_RES = {
    "H1_RE": re.compile(r"<h1[^>]*>(.*?)</h1>", re.S | re.I),
    "TITLE_RE": re.compile(r"<title[^>]*>(.*?)</title>", re.S | re.I),
    "H23_RE": re.compile(r"<(h[23])[^>]*>(.*?)</\1>", re.S | re.I),
    "P_RE": re.compile(r"<p[^>]*>(.*?)</p>", re.S | re.I),
}

# openers and closers in both cases, `<p>` nested in `<h2>`, tags that
# `<p[^>]*>` also opens (`<pre>`, `<param>`), closers that do not close
# (`</h2 >`, `</h3>` after `<h2>`), stray brackets, and the non-ASCII
# letters re.I folds onto ASCII: U+0130 and U+0131 onto 'i' (so
# `</t\u0130tle>` closes a title), U+212A onto 'k', U+017F onto 's'
_TAG_ATOMS = [
    "<p>", "</p>", "<P>", "</P>", "<p class='a'>", "</p >", "</pp>",
    "<pre>", "</pre>", "<param x>", "<PARAM>",
    "<h1>", "</h1>", "<H1 id=t>", "</H1>",
    "<h2>", "</h2>", "<H2>", "</H2>", "</h2 >", "<h3>", "</h3>", "</H3>",
    "<h2><p>in</p></h2>", "<title>", "</title>", "</TITLE>", "<Title x>",
    "</t\u0130tle>", "</t\u0131tle>", "<t\u0130tle>", "\u0130", "\u0131",
    "\u212a", "\u017f", "<", ">", "/", "</", "<b>", "</b>",
    "&amp;", "a", "Mr. B", " ", "\n", ".",
]
_tag_soup = st.lists(st.sampled_from(_TAG_ATOMS), max_size=40).map("".join)


@settings(max_examples=500, deadline=None)
@given(_tag_soup)
def test_tag_scans_equal_lazy_forms(doc):
    for name, lazy in LAZY_TAG_RES.items():
        compiled = getattr(spec, name)
        assert compiled.findall(doc) == lazy.findall(doc), name
        m, ref = compiled.search(doc), lazy.search(doc)
        assert (m is None) == (ref is None), name
        if m is not None:
            assert (m.span(), m.groups()) == (ref.span(), ref.groups()), name


@settings(max_examples=300, deadline=None)
@given(_tag_soup)
def test_parse_document_equals_lazy_reference_parse(doc):
    html = doc.encode("utf-8")
    got = spec.parse_document(html)
    with mock.patch.multiple(spec, **LAZY_TAG_RES):
        want = spec.parse_document(html)
    assert got == want


# --- WARC container grammar (round 4) ----------------------------------------

_warc_url = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126,
                           exclude_characters="\r\n"),
    min_size=1, max_size=60)
# arbitrary payload bytes — explicitly including CRLFs and the WARC magic,
# which the Content-Length framing must tunnel through unharmed
_warc_payload = st.one_of(
    st.binary(max_size=200),
    st.just(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"),
    st.binary(max_size=40).map(lambda b: b + b"\r\n\r\n" + b))


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_warc_url, _warc_payload), max_size=8))
def test_warc_render_parse_round_trip(recs):
    """parse(render(records)) == records for ARBITRARY payload bytes —
    the framing is length-delimited, so no payload content (CRLFs, the
    version magic, partial headers) can desync the walk or corrupt a
    neighbor record."""
    date = "2024-05-06T07:08:09Z"
    data = spec.render_warc_file([(u, date, p) for u, p in recs])
    parsed, err = spec.parse_warc_file(data)
    assert err is None
    assert [(r.url, r.payload) for r in parsed] == [(u, p) for u, p in recs]
    # offsets are strictly increasing and in-bounds
    offs = [r.offset for r in parsed]
    assert offs == sorted(set(offs)) and all(0 <= o < len(data) for o in offs)


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_warc_parse_never_crashes_on_corruption(data):
    """Arbitrary single-site corruption of a valid archive (byte flip,
    truncation, insertion) must never raise, always terminate, and —
    when it reports an error — report a position no later than the
    corruption site's record."""
    date = "2024-05-06T07:08:09Z"
    recs = [(f"u{i}", date, bytes([65 + i]) * (i + 1)) for i in range(4)]
    base = spec.render_warc_file(recs)
    mode = data.draw(st.sampled_from(["flip", "truncate", "insert"]))
    pos = data.draw(st.integers(min_value=0, max_value=len(base) - 1))
    if mode == "flip":
        b = data.draw(st.integers(min_value=0, max_value=255))
        corrupted = base[:pos] + bytes([b]) + base[pos + 1:]
    elif mode == "truncate":
        corrupted = base[:pos]
    else:
        chunk = data.draw(st.binary(min_size=1, max_size=8))
        corrupted = base[:pos] + chunk + base[pos:]

    parsed, err = spec.parse_warc_file(corrupted)   # must not raise
    # every record returned is framed from within the data
    for r in parsed:
        assert 0 <= r.offset < len(corrupted)
    # a clean parse of a FLIPPED archive may legitimately succeed (the
    # flip landed in a payload/header value) — but then any payload
    # damage must be caught by the per-record digest
    if mode == "flip" and err is None and corrupted != base:
        texts_ok = [r.payload for r in parsed] == [p for _, _, p in recs]
        digests_flag = any(r.digest_err for r in parsed)
        headers_changed = len(parsed) != len(recs) or any(
            r.url != u or r.warc_date != d
            for r, (u, d, _) in zip(parsed, recs))
        assert texts_ok or digests_flag or headers_changed


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_warc_url, _warc_payload), max_size=8))
def test_warc_gz_render_parse_round_trip(recs):
    """The per-record-gzip layout tunnels the same arbitrary payloads:
    parse(render(records)) == records, member offsets strictly
    increasing, and every offset is independently seekable (parsing the
    suffix at an offset yields that record first — the property a
    CC-style index relies on)."""
    date = "2024-05-06T07:08:09Z"
    data = spec.render_warc_gz_file([(u, date, p) for u, p in recs])
    parsed, err = spec.parse_warc_gz_file(data)
    assert err is None
    assert [(r.url, r.payload) for r in parsed] == [(u, p) for u, p in recs]
    offs = [r.offset for r in parsed]
    assert offs == sorted(set(offs)) and all(0 < o < len(data) for o in offs)
    if parsed:
        tail, terr = spec.parse_warc_gz_file(data[parsed[-1].offset:])
        assert terr is None and tail[0].payload == parsed[-1].payload


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_warc_gz_parse_never_crashes_on_corruption(data):
    """Arbitrary single-site corruption of a valid .warc.gz (byte flip,
    truncation, insertion) must never raise and must terminate; damage
    that survives gzip's CRC AND the WARC framing must still be caught
    by the per-record payload digest."""
    date = "2024-05-06T07:08:09Z"
    recs = [(f"u{i}", date, bytes([65 + i]) * (i + 1)) for i in range(4)]
    base = spec.render_warc_gz_file(recs)
    mode = data.draw(st.sampled_from(["flip", "truncate", "insert"]))
    pos = data.draw(st.integers(min_value=0, max_value=len(base) - 1))
    if mode == "flip":
        b = data.draw(st.integers(min_value=0, max_value=255))
        corrupted = base[:pos] + bytes([b]) + base[pos + 1:]
    elif mode == "truncate":
        corrupted = base[:pos]
    else:
        chunk = data.draw(st.binary(min_size=1, max_size=8))
        corrupted = base[:pos] + chunk + base[pos:]

    parsed, err = spec.parse_warc_gz_file(corrupted)   # must not raise
    for r in parsed:
        assert 0 <= r.offset < len(corrupted)
    if mode == "flip" and err is None and corrupted != base:
        texts_ok = [r.payload for r in parsed] == [p for _, _, p in recs]
        digests_flag = any(r.digest_err for r in parsed)
        headers_changed = len(parsed) != len(recs) or any(
            r.url != u or r.warc_date != d
            for r, (u, d, _) in zip(parsed, recs))
        assert texts_ok or digests_flag or headers_changed


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_warc_url, _warc_payload), max_size=8),
       st.integers(min_value=0, max_value=10))
def test_warc_max_records_is_exact_prefix(recs, k):
    """The seek primitive's contract: parsing with max_records=k returns
    EXACTLY the first k records of the full parse (url, payload, offset
    all equal) with err None once k records were found — for both the
    plain and the per-record-gzip layout. walk_warc picks that layout
    itself, and its start=o seek returns what the sliced form
    parse(data[o:]) returns, with the offset made absolute."""
    date = "2024-05-06T07:08:09Z"
    triples = [(u, date, p) for u, p in recs]
    for render, parse in ((spec.render_warc_file, spec.parse_warc_file),
                          (spec.render_warc_gz_file,
                           spec.parse_warc_gz_file)):
        data = render(triples)
        full, err_full = parse(data)
        assert err_full is None
        assert spec.walk_warc(data) == (full, None)
        got, err = parse(data, max_records=k)
        key = [(r.url, r.payload, r.offset) for r in got]
        want = [(r.url, r.payload, r.offset) for r in full[:k]]
        assert key == want
        assert err is None
        for r in full:
            o = r.offset
            sliced, serr = parse(data[o:], max_records=1)
            seek, err = spec.walk_warc(data, start=o, max_records=1)
            assert serr is None and err is None
            assert seek == [s._replace(offset=s.offset + o) for s in sliced]
            assert (seek[0].url, seek[0].payload, seek[0].offset) == (
                r.url, r.payload, o)


# --- .warc.gz feed size and WARC-Date parsing --------------------------------

# parse_warc_gz_file feed sizes: 1 byte runs the multi-slice loop on
# every member; 256 KiB takes every member here in one slice.
_GZ_FEEDS = (1, 1 << 18)


def _walk_with_feed(feed, *args, **kw):
    with mock.patch.object(spec, "_GZ_CHUNK", feed):
        return spec.walk_warc(*args, **kw)


def _incompressible(seed: int) -> bytes:
    return random.Random(seed).randbytes(20_000)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_warc_url, st.one_of(
           _warc_payload, st.integers(0, 2**32).map(_incompressible))),
           min_size=1, max_size=5),
       st.data())
def test_warc_gz_walk_does_not_depend_on_feed_size(recs, data):
    """walk_warc over a .warc.gz returns the same records, offsets and
    error string whatever the decompress feed size is, on valid,
    truncated, corrupted and bad-magic archives, from any start and
    with any max_records. Some payloads are 20 KB of random bytes, so
    the default feed also runs more than one slice per member."""
    date = "2024-05-06T07:08:09Z"
    base = spec.render_warc_gz_file([(u, date, p) for u, p in recs])
    offs = [r.offset for r in spec.walk_warc(base)[0]]
    mode = data.draw(st.sampled_from(
        ["valid", "truncate", "flip", "bad_magic"]))
    pos = data.draw(st.integers(min_value=0, max_value=len(base) - 1))
    if mode == "valid":
        arc = base
    elif mode == "truncate":
        arc = base[:pos]
    elif mode == "flip":
        b = data.draw(st.integers(min_value=0, max_value=255))
        arc = base[:pos] + bytes([b]) + base[pos + 1:]
    else:
        # before a later member or at the end, so the archive still
        # opens with gzip magic and walk_warc takes the gz walker
        at = data.draw(st.sampled_from([*offs, len(base)]))
        arc = base[:at] + b"\x1f\x8c junk" + base[at:]
    start = data.draw(st.one_of(
        st.sampled_from([0, *offs]),
        st.integers(min_value=0, max_value=len(arc))))
    max_records = data.draw(st.one_of(st.none(), st.integers(0, 6)))
    want = spec.walk_warc(arc, start=start, max_records=max_records)
    for feed in _GZ_FEEDS:
        got = _walk_with_feed(feed, arc, start=start,
                              max_records=max_records)
        assert got == want, feed


_FULLWIDTH = str.maketrans("0123456789", "".join(map(chr, range(0xFF10, 0xFF1A))))
_ARABIC_INDIC = str.maketrans("0123456789", "".join(map(chr, range(0x0660, 0x066A))))


def _date_mutant(s: str, dt: datetime, kind: str) -> str:
    return {
        "canonical": s,
        "lower_t": s.replace("T", "t"),
        "lower_z": s[:-1] + "z",
        "lower": s.lower(),
        "unpadded": (f"{dt.year}-{dt.month}-{dt.day}T{dt.hour}:"
                     f"{dt.minute}:{dt.second}Z"),
        "fullwidth": s.translate(_FULLWIDTH),
        "arabic_indic": s.translate(_ARABIC_INDIC),
        "one_fullwidth": s[:9] + s[9].translate(_FULLWIDTH) + s[10:],
        "month_13": s[:5] + "13" + s[7:],
        "feb_30": s[:5] + "02-30" + s[10:],
        "hour_24": s[:11] + "24" + s[13:],
        "hour_24_midnight": s[:11] + "24:00:00Z",
        "second_60": s[:17] + "60Z",
        "year_0": "0000" + s[4:],
        "trailing_space": s + " ",
        "short": s[:-2] + "Z",
        "long": s[:-1] + "0Z",
        "no_zone": s[:-1],
        "space_sep": s[:10] + " " + s[11:],
    }[kind]


def _parse_or_error(fn, s):
    try:
        return fn(s)
    except ValueError as e:
        return ("ValueError", str(e))


@settings(max_examples=400, deadline=None)
@given(st.one_of(
    st.tuples(st.datetimes(min_value=datetime(1678, 1, 1),
                           max_value=datetime(2261, 12, 31)),
              st.sampled_from(["canonical", "lower_t", "lower_z", "lower",
                               "unpadded", "fullwidth", "arabic_indic",
                               "one_fullwidth", "month_13", "feb_30",
                               "hour_24", "hour_24_midnight", "second_60",
                               "year_0", "trailing_space", "short", "long",
                               "no_zone", "space_sep"])),
    st.tuples(st.none(), st.text(max_size=24))))
def test_warc_date_fast_path_equals_strptime(case):
    """_parse_warc_date accepts exactly what strptime(WARC_DATE_FMT)
    accepts, with the same value, and rejects everything else with
    strptime's own ValueError message."""
    from blog_parser_spark.sources import warc
    dt, kind = case
    if dt is None:
        s = kind
    else:
        dt = dt.replace(microsecond=0)
        s = _date_mutant(warc._fmt_warc_date(dt), dt, kind)
    want = _parse_or_error(
        lambda v: datetime.strptime(v, spec.WARC_DATE_FMT), s)
    assert _parse_or_error(warc._parse_warc_date, s) == want
    if dt is not None and kind == "canonical":
        assert want == dt


# --- WARC header fast path ---------------------------------------------------

def _hdr_mutant(lines: list[bytes], kind: str, i: int, b: int) -> list[bytes]:
    """One edit to a header block's lines (lines[0] is the version line);
    i picks the field line and b a byte value where the edit needs one."""
    f = 1 + i % (len(lines) - 1) if len(lines) > 1 else 0
    name, sep, value = lines[f].partition(b": ")
    out = list(lines)
    if kind == "name_case":
        out[f] = name.swapcase() + sep + value
    elif kind in ("tab", "double_space", "trailing_space", "inner_space",
                  "no_space"):
        out[f] = {"tab": name + b":\t" + value,
                  "double_space": name + b":  " + value,
                  "trailing_space": lines[f] + b" ",
                  "inner_space": lines[f][:-1] + b" " + lines[f][-1:],
                  "no_space": name + b":" + value}[kind]
    elif kind == "swap":
        g = 1 + (i + 1) % (len(lines) - 1) if len(lines) > 1 else 0
        out[f], out[g] = out[g], out[f]
    elif kind == "duplicate":
        out.insert(f + 1 + b % 2, name + sep + value + b"x" * (b % 3))
    elif kind == "drop":
        del out[f]
    elif kind == "leading_zero":
        zeros = b"0" * (1 + b % 20)
        out = [ln.replace(b"Content-Length: ", b"Content-Length: " + zeros)
               for ln in out]
    elif kind == "non_ascii":
        out[f] = lines[f] + bytes([128 + b % 128])
    elif kind == "no_colon":
        out[f] = name + b" " + value
    elif kind == "stray_cr":
        out[f] = lines[f] + b"\r\n\r" + bytes([b])
    elif kind == "no_version":
        del out[0]
    elif kind == "byte":
        j = b % (len(lines[f]) + 1)
        out[f] = lines[f][:j] + bytes([b]) + lines[f][j + 1:]
    return out


_HDR_EDITS = ("name_case", "tab", "double_space", "trailing_space",
              "inner_space", "no_space", "swap", "duplicate", "drop",
              "leading_zero", "non_ascii", "no_colon", "stray_cr",
              "no_version", "byte")


@settings(max_examples=600, deadline=None)
@given(st.sampled_from(["response", "warcinfo", "conversion"]),
       st.one_of(st.none(), _warc_url), _warc_url, _warc_payload,
       st.booleans(), st.binary(max_size=3),
       st.lists(st.tuples(st.sampled_from(_HDR_EDITS),
                          st.integers(0, 7), st.integers(0, 255)),
                max_size=3))
def test_warc_header_fast_path_equals_general_grammar(
        wtype, url, date, payload, with_digest, lead, edits):
    """spec._header (one canonical-layout match, else the general
    grammar) returns exactly what spec._header_general returns — the
    same fields, body start and error string — on canonical header
    blocks with up to three edits: name case, tab or extra spaces
    around values, field order, duplicate and missing fields, a
    leading-zero Content-Length, non-ASCII bytes, a line with no colon,
    a stray CR line, a missing version line and arbitrary byte flips. An unedited
    block takes the fast path."""
    rec = spec.render_warc_record(wtype, url, date, payload, with_digest)
    block, _, body = rec.partition(b"\r\n\r\n")
    lines = block.split(b"\r\n")
    for kind, i, b in edits:
        lines = _hdr_mutant(lines, kind, i, b)
    data = lead + b"\r\n".join(lines) + b"\r\n\r\n" + body
    pos = len(lead)
    assert spec._header(data, pos) == spec._header_general(data, pos)
    if not edits:
        assert spec._WARC_HDR_CANON.match(data, pos) is not None


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_warc_url, _warc_payload), min_size=1, max_size=4),
       st.sampled_from(["response", "conversion"]), st.data())
def test_warc_walk_equals_general_grammar_walk_on_flipped_bytes(
        recs, rec_type, data):
    """A full walk with the header fast path returns the same records,
    digests, offsets and error as a walk that runs only the general
    header grammar, on archives with byte flips anywhere (most of them
    in header blocks, where the fast path decides)."""
    date = "2024-05-06T07:08:09Z"
    arc = bytearray(spec.render_warc_file([(u, date, p) for u, p in recs],
                                          rec_type=rec_type))
    heads = [m.start() for m in re.finditer(rb"WARC/1\.0\r\n", arc)]
    for _ in range(data.draw(st.integers(1, 3))):
        at = data.draw(st.one_of(
            st.sampled_from(heads).flatmap(
                lambda h: st.integers(h, min(h + 180, len(arc) - 1))),
            st.integers(0, len(arc) - 1)))
        arc[at] = data.draw(st.integers(0, 255))
    arc = bytes(arc)
    for rt in (rec_type, "warcinfo"):
        got = spec.parse_warc_file(arc, rec_type=rt)
        with mock.patch.object(spec, "_header", spec._header_general):
            want = spec.parse_warc_file(arc, rec_type=rt)
        assert got == want
