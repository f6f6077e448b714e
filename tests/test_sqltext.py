"""sqltext: the one spelling of Python values and column names in Spark
SQL text, checked against ``F.lit`` / ``F.col``, plus the guard that keeps
every ``F.expr``/``selectExpr`` f-string in the engine routed through it."""

from __future__ import annotations

import ast
import datetime as dt
import math
import struct
from pathlib import Path

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext

_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
_INT64 = (-(2**63), 2**63 - 1)
_TRICKY = "'\\`\n\t\"%_$\x00\u00e9\U0001F600"


def _canon(v):
    """Comparable form: doubles by bit pattern (±0.0 differ), one NaN."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _assert_spelled_like_lit(spark, values):
    """Every ``F.expr(sqltext.literal(v))`` equals ``F.lit(v)`` in value
    and type — one query for the whole batch."""
    cols = [F.expr(sqltext.literal(v)).alias(f"e{i}") for i, v in enumerate(values)]
    cols += [F.lit(v).alias(f"l{i}") for i, v in enumerate(values)]
    df = spark.range(1).select(*cols)
    row = df.collect()[0]
    types = {f.name: f.dataType for f in df.schema.fields}
    for i, v in enumerate(values):
        assert types[f"e{i}"] == types[f"l{i}"], v
        assert _canon(row[f"e{i}"]) == _canon(row[f"l{i}"]), v
        assert _canon(row[f"e{i}"]) == _canon(v), v


@_SETTINGS
@given(st.lists(
    st.text(alphabet=st.one_of(st.sampled_from(_TRICKY), st.characters())),
    min_size=1, max_size=12,
))
@example(["it's", "a\\sb", "a\\'b", "``", "\\", "'", "\\u0041", "\\n"])
def test_string_literals_match_lit(spark, texts):
    _assert_spelled_like_lit(spark, texts)


@_SETTINGS
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True),
                min_size=1, max_size=16))
@example([0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
          1.7976931348623157e308, math.nan, math.inf, -math.inf, 0.1, 1e16])
def test_double_literals_match_lit(spark, xs):
    _assert_spelled_like_lit(spark, xs)


@_SETTINGS
@given(st.lists(st.integers(*_INT64), min_size=1, max_size=16))
@example([_INT64[0], _INT64[1], -(2**31), 2**31 - 1, -(2**31) - 1, 2**31, 0])
def test_integer_literals_match_lit(spark, ns):
    _assert_spelled_like_lit(spark, ns)


def test_integer_outside_bigint_raises():
    with pytest.raises(ValueError):
        sqltext.literal(2**63)
    with pytest.raises(TypeError):
        sqltext.literal(True)


@_SETTINGS
@given(st.one_of(
    st.lists(st.lists(st.floats(), max_size=4), max_size=4),
    st.lists(st.lists(st.text(alphabet=_TRICKY, max_size=4), max_size=3),
             max_size=3),
    st.lists(st.lists(st.integers(*_INT64), min_size=1, max_size=3),
             min_size=1, max_size=3),
))
def test_nested_array_literals_match_lit(spark, value):
    _assert_spelled_like_lit(spark, [value])


@_SETTINGS
@given(st.lists(
    st.text(
        alphabet=st.one_of(
            st.sampled_from(" `.'\"-\u00e9\U0001F600"),
            st.characters(min_codepoint=32, max_codepoint=126),
        ),
        min_size=1, max_size=8,
    ),
    min_size=1, max_size=6, unique_by=str.lower,
))
@example(["n tok", "we`ird", "a.b", "`", "``x``", "SELECT"])
def test_identifiers_resolve_to_their_column(spark, names):
    df = spark.range(1).select(
        *[F.lit(i).alias(n) for i, n in enumerate(names)]
    )
    row = df.select(
        *[F.expr(sqltext.ident(n)).alias(f"c{i}") for i, n in enumerate(names)]
    ).collect()[0]
    assert list(row) == list(range(len(names)))


@pytest.mark.parametrize("text", [
    "1 hour) OR (true", "", "1.5 hours", "-1 hour", "1 fortnight", "1 HOUR",
    "1 hour 30 minutes", "1 hour; SELECT 1", "1 'hour'", "1\nhour)",
])
def test_interval_outside_grammar_raises(text):
    with pytest.raises(ValueError):
        sqltext.interval(text)
    with pytest.raises(ValueError):
        sqltext.interval_us(text)


def test_interval_spelling_and_width(spark):
    base = dt.datetime(2024, 1, 31, 12, 0)
    cases = {
        "7 microseconds": dt.timedelta(microseconds=7),
        "3 milliseconds": dt.timedelta(milliseconds=3),
        "1 second": dt.timedelta(seconds=1),
        "15 minutes": dt.timedelta(minutes=15),
        "2 hours": dt.timedelta(hours=2),
        "1 day": dt.timedelta(days=1),
        "2 weeks": dt.timedelta(weeks=2),
    }
    row = spark.range(1).select(
        *[
            (F.lit(base) + F.expr(sqltext.interval(t))).alias(f"c{i}")
            for i, t in enumerate([*cases, "1 month", "1 year"])
        ]
    ).collect()[0]
    assert list(row) == [base + d for d in cases.values()] + [
        dt.datetime(2024, 2, 29, 12, 0), dt.datetime(2025, 1, 31, 12, 0)
    ]
    for text, delta in cases.items():
        assert sqltext.interval_us(text) == delta // dt.timedelta(microseconds=1)
    assert sqltext.interval("1 hour") == "INTERVAL 1 hour"
    assert sqltext.interval("hour") == "INTERVAL 1 hour"
    assert sqltext.interval("15 minutes") == "INTERVAL 15 minute"
    with pytest.raises(ValueError):
        sqltext.interval_us("1 month")


# ---------------------------------------------------------------------------
# Regressions: caller values that broke the per-module spellings
# ---------------------------------------------------------------------------

def test_funnel_step_with_apostrophe(spark):
    from questdb_etl_jobs_spark.operators.funnel import funnel_counts

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, t0, "view"),
            (1, t0 + dt.timedelta(minutes=1), "add to cart's"),
            (2, t0, "view"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    rows = funnel_counts(df, ["view", "add to cart's"]).collect()
    assert [tuple(r) for r in rows] == [(1, "view", 2), (2, "add to cart's", 1)]


def test_pack_sequences_spaced_column(spark):
    from questdb_etl_jobs_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 6), (2, 7), (3, 3)], "doc_id long, `n tok` long"
    )
    rows = pack_sequences(df, "doc_id", "n tok", budget=10).orderBy("doc_id")
    got = [(r.bin, r.bin_offset, r.n_spans) for r in rows.collect()]
    assert got == [(0, 0, 0), (0, 6, 1), (1, 3, 0)]


def test_interval_join_spaced_columns(spark):
    from questdb_etl_jobs_spark.operators.interval import interval_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(hours=2))], "lid long, `l ts` timestamp"
    )
    right = spark.createDataFrame(
        [(10, t0 + dt.timedelta(minutes=5))], "rid long, `r ts` timestamp"
    )
    pairs = interval_join(left, right, "l ts", "r ts", "10 minutes")
    assert [(r.lid, r.rid) for r in pairs.collect()] == [(1, 10)]


def test_lexicon_word_with_apostrophe(spark, monkeypatch):
    from questdb_etl_jobs_spark.functions import text

    monkeypatch.setitem(text.LANG_MARKERS, "fr", ["c'est", "l'eau", "le"])
    df = spark.createDataFrame(
        [(1, "c'est l'eau"), (2, "the cat")], "doc_id long, text string"
    )
    guessed = df.select("doc_id", text.lang_guess("text").alias("g"))
    assert {r.doc_id: r.g for r in guessed.collect()} == {1: "fr", 2: "en"}
    profiled = text.text_profile(df, "text").orderBy("doc_id").collect()
    assert [r.lang_guess for r in profiled] == ["fr", "en"]
    ratio = df.select(text.stopword_ratio("text", ["c'est"]).alias("r"))
    assert [r.r for r in ratio.orderBy("r").collect()] == [0.0, 0.5]


# ---------------------------------------------------------------------------
# Guard: every interpolation into F.expr / selectExpr text goes via sqltext
# ---------------------------------------------------------------------------

_PKG = Path(__file__).resolve().parents[1] / "questdb_etl_jobs_spark"
_GUARDED = ("operators", "functions", "streaming", "plans")


def _module_constants(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return names


def _is_sql_text_call(node: ast.Call) -> bool:
    f = node.func
    return isinstance(f, ast.Attribute) and (
        f.attr == "selectExpr"
        or (f.attr == "expr" and isinstance(f.value, ast.Name)
            and f.value.id == "F")
    )


def _interpolated(arg: ast.expr) -> list[ast.expr]:
    if isinstance(arg, ast.JoinedStr):
        return [v.value for v in arg.values if isinstance(v, ast.FormattedValue)]
    if (isinstance(arg, ast.Call) and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "format"):
        return [*arg.args, *(k.value for k in arg.keywords)]
    return []


def _spelled_by_sqltext(v: ast.expr, constants: set[str]) -> bool:
    if isinstance(v, ast.Name):
        return v.id in constants
    return (
        isinstance(v, ast.Call) and isinstance(v.func, ast.Attribute)
        and isinstance(v.func.value, ast.Name) and v.func.value.id == "sqltext"
    )


def _unspelled_interpolations(source: str) -> list[str]:
    tree = ast.parse(source)
    constants = _module_constants(tree)
    return [
        f"{v.lineno}: {ast.unparse(v)}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and _is_sql_text_call(node)
        for arg in node.args
        for v in _interpolated(arg)
        if not _spelled_by_sqltext(v, constants)
    ]


def test_guard_flags_unspelled_interpolation():
    bad = (
        "K = 3\n"
        "def f(df, col, n):\n"
        "    F.expr(f'split({col}, \" \")')\n"
        "    df.selectExpr('{} AS x'.format(n), f'{K} AS k')\n"
        "    F.expr(f'{sqltext.ident(col)} + {K}')\n"
    )
    assert sorted(_unspelled_interpolations(bad)) == ["3: col", "4: n"]


def test_sql_text_interpolations_go_through_sqltext():
    found = [
        f"{path.relative_to(_PKG)}:{hit}"
        for sub in _GUARDED
        for path in sorted((_PKG / sub).glob("*.py"))
        for hit in _unspelled_interpolations(path.read_text())
    ]
    assert found == []
