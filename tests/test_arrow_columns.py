"""Arrow columns built from buffers (blog_parser_spark/arrow_columns.py):
the builder equals `pa.array` on every column type the WARC reading
stages and the parse UDFs emit, each parse UDF's output equals
`pa.array` of its rows under Spark's Arrow mapping of its return type,
and a Python worker that runs those stages never imports pandas."""

from __future__ import annotations

import subprocess
import sys
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from blog_parser_spark import arrow_columns, spec
from blog_parser_spark.operators import parse
from blog_parser_spark.sources import fixtures, warc

_LIST = pa.list_(pa.field("element", pa.string()))
_LIST_LIST = pa.list_(pa.field("element", _LIST))
_TEXT = st.one_of(st.text(max_size=6), st.sampled_from(
    ["", "a", "https://m.com/1", "\u00e9t\u00e9", "\u4e2d", "\U0001f600"]))


def _nullable(values: st.SearchStrategy) -> st.SearchStrategy:
    return st.lists(st.one_of(st.none(), values), max_size=30)


# every column type of the WARC stages and the parse UDFs; text and bytes
# include empty and non-ASCII values, lists empty and null lists and null
# elements, and datetimes the whole naive range
_BUILDER_CASES = st.one_of(
    st.tuples(st.just(pa.string()), _nullable(_TEXT)),
    st.tuples(st.just(pa.binary()), _nullable(st.binary(max_size=6))),
    st.tuples(st.just(pa.int32()), _nullable(
        st.integers(-(1 << 31), (1 << 31) - 1))),
    st.tuples(st.just(pa.int64()), _nullable(
        st.integers(-(1 << 63), (1 << 63) - 1))),
    st.tuples(st.just(pa.bool_()), _nullable(st.booleans())),
    st.tuples(st.just(pa.timestamp("us", tz="UTC")), _nullable(
        st.datetimes())),
    st.tuples(st.just(_LIST), _nullable(_nullable(_TEXT))),
    st.tuples(st.just(_LIST_LIST), _nullable(_nullable(_nullable(_TEXT)))),
)


def _leaf_types(t: pa.DataType) -> set[pa.DataType]:
    if pa.types.is_struct(t):
        return set().union(*(_leaf_types(f.type) for f in t))
    return {t}


_UDFS = (parse.parse_html_udf, parse.parse_metrics_udf,
         parse.parse_sentences_udf, parse.split_sentences_udf)


def test_builder_covers_exactly_the_stage_column_types():
    stage = {f.type for f in (*warc.WARC_RECORD_ARROW, *warc.CDX_ARROW)}
    stage |= set().union(*(_leaf_types(to_arrow_type(u.returnType))
                           for u in _UDFS))
    assert stage == {pa.string(), pa.binary(), pa.int32(), pa.int64(),
                     pa.bool_(), pa.timestamp("us", tz="UTC"), _LIST,
                     _LIST_LIST}
    for t in (pa.large_string(), pa.int16(), pa.timestamp("ns", tz="UTC"),
              pa.list_(pa.large_string()), pa.large_list(pa.string()),
              pa.struct([("a", pa.float64())])):
        with pytest.raises(TypeError):
            arrow_columns.column((None,), t)


@settings(max_examples=400, deadline=None)
@given(_BUILDER_CASES)
@example((pa.string(), []))
@example((pa.binary(), [None, None, None]))
@example((pa.int64(), [None]))
@example((pa.timestamp("us", tz="UTC"), []))
@example((pa.timestamp("us", tz="UTC"), [
    datetime(1, 1, 1), datetime(1969, 12, 31, 23, 59, 59, 999_999), None,
    datetime(9999, 12, 31, 23, 59, 59, 999_999),
    datetime(2024, 11, 3, 1, 30, fold=1)]))
@example((pa.string(), [None, "", "\u00e9", None, "a"] * 3))
@example((_LIST, [[], None, ["a", None, "\u00e9"], [None]]))
@example((_LIST_LIST, [[], None, [[], None, ["\u4e2d", None]], [None]]))
def test_column_builder_equals_pa_array(case):
    t, values = case
    got = arrow_columns.column(tuple(values), t)
    got.validate(full=True)
    assert got.equals(pa.array(values, type=t))


# pages that parse, fail to decode, are empty or NULL, and carry
# non-ASCII text in titles, headings and paragraphs
_PAGES = [r["html"] for r in fixtures.adversarial_pages()] + [
    None, b"", b"\xff\xfe<p>x</p>",
    "<h1>\u00e9t\u00e9</h1><h2>\u4e2d</h2><p>Un. Deux! \U0001f600</p>"
    .encode()]
_HTML = st.lists(st.one_of(st.sampled_from(_PAGES), st.binary(max_size=40)),
                 max_size=12)


def _udf_rows(udf, p: spec.Parsed):
    if udf is parse.parse_html_udf:
        return tuple(p)
    if udf is parse.parse_metrics_udf:
        return (len(p.extracted_text), p.n_sentences, p.parse_ok, p.parse_err)
    return [spec.split_sentences(x) for x in p.paragraphs]


@settings(max_examples=100, deadline=None)
@given(_HTML, _HTML)
@example(_PAGES, [])
def test_parse_udfs_build_exactly_their_arrow_type(a, b):
    """Each parse UDF body over two input batches yields, per batch, the
    array `pa.array` builds from the same spec.Parsed rows under Spark's
    Arrow type of the UDF's return type."""
    batches = [arrow_columns.column(tuple(h), pa.binary()) for h in (a, b)]
    for udf in (parse.parse_html_udf, parse.parse_metrics_udf,
                parse.parse_sentences_udf):
        t = to_arrow_type(udf.returnType)
        got = list(udf.func(iter(batches)))
        for arr, html in zip(got, (a, b), strict=True):
            arr.validate(full=True)
            assert arr.type == t
            exp = [_udf_rows(udf, spec.parse_document(h)) for h in html]
            assert arr.equals(pa.array(exp, type=t))
    paragraphs = [p for h in a for p in spec.parse_document(h).paragraphs]
    paragraphs += [None, ""]
    (got,) = parse.split_sentences_udf.func(
        iter([arrow_columns.column(paragraphs, pa.string())]))
    assert got.equals(pa.array(
        [[] if p is None else spec.split_sentences(p) for p in paragraphs],
        type=to_arrow_type(parse.SENTENCES)))


def test_worker_modules_do_not_load_pandas():
    """A fresh interpreter with the Python worker's imports builds a WARC
    record batch and a CDX batch, and runs every parse UDF body over a
    batch holding a NULL, a non-ASCII page and a page that fails to
    decode, without importing pandas."""
    code = (
        "import sys, datetime\n"
        "import pyspark.worker\n"
        "import pyarrow as pa\n"
        "from blog_parser_spark import arrow_columns\n"
        "from blog_parser_spark.operators import parse\n"
        "from blog_parser_spark.sources import warc\n"
        "rec = arrow_columns.record_batch([('https://m.com/1', "
        "datetime.datetime(2024, 1, 1), b'x', 'a.warc', 0, None), "
        "(None, None, None, 'a.warc', None, 'cut')], warc.WARC_RECORD_ARROW)\n"
        "cdx = arrow_columns.record_batch([('https://m.com/1', 'a.warc', 0, "
        "0, 'md5:x', 'ok')], warc.CDX_ARROW)\n"
        "html = arrow_columns.column(["
        "'<h1>\\u00e9t\\u00e9</h1><p>Un. Deux!</p>'.encode(), None, "
        "b'\\xff<p>x</p>'], pa.binary())\n"
        "paras = arrow_columns.column(['Un. Deux!', None, '\\u4e2d'], "
        "pa.string())\n"
        "out = [list(u.func(iter([html]))) for u in (parse.parse_html_udf, "
        "parse.parse_metrics_udf, parse.parse_sentences_udf)]\n"
        "out.append(list(parse.split_sentences_udf.func(iter([paras]))))\n"
        "print(rec.num_rows, cdx.num_rows, *(len(a) for (a,) in out), "
        "out[1][0].field('parse_ok').to_pylist(), "
        "'pandas' in sys.modules)\n")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=Path(__file__).resolve().parent.parent,
                       timeout=120)
    assert r.returncode == 0, r.stderr
    assert r.stdout.split() == ["2", "1", "3", "3", "3", "3",
                                "[True,", "False,", "False]", "False"]
