"""Round-6 r13-wave checks: the ES|QL translator (parser units, plan
shape, GROK null semantics, translation equivalence), the
background_filter significance scope, and the curriculum pacing
census.
"""

from __future__ import annotations

import collections
import math
import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------ ES|QL parser

def test_esql_tokenizer_and_grok_compile():
    from unified_vector_database_spark.operators.esql import (
        _grok_compile, _split_pipes, _tokenize,
    )

    assert _tokenize('a >= 5.0 AND b != "x y"') == \
        ["a", ">=", "5.0", "AND", "b", "!=", '"x y"']
    assert _split_pipes('FROM t | WHERE a == "p|q" | LIMIT 3') == \
        ["FROM t", 'WHERE a == "p|q"', "LIMIT 3"]
    rx, fields = _grok_compile("%{WORD:w} v=%{NUMBER:v:double}")
    m = re.fullmatch(rx, "hello v=3.25")
    assert m and m.group(1) == "hello" and m.group(2) == "3.25"
    assert fields == [("w", "string"), ("v", "double")]


def test_esql_expression_precedence_and_functions(spark):
    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize,
    )

    one = spark.range(1)
    val = one.select(_parse_expr(_tokenize("2 + 3 * 4")).alias("v")) \
             .first().v
    assert val == 14
    val = one.select(_parse_expr(_tokenize("(2 + 3) * 4")).alias("v")) \
             .first().v
    assert val == 20
    val = one.select(
        _parse_expr(_tokenize('CONCAT("a", TO_STRING(7))')).alias("v")) \
        .first().v
    assert val == "a7"
    val = one.select(
        _parse_expr(_tokenize("ROUND(2.347, 2)")).alias("v")).first().v
    assert val == pytest.approx(2.35)


def test_esql_translation_equals_handwritten_plan(spark, sf_dir):
    """The translated pipeline must return exactly what the same
    logic written directly in DataFrame ops returns."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.esql import esql

    got = esql(spark, sf_dir, """
        FROM orders
        | WHERE o_orderstatus == "F"
        | EVAL month = DATE_TRUNC("month", o_orderdate)
        | STATS n = COUNT(*) BY month
        | SORT month
    """).collect()
    want = (tables.load(spark, sf_dir, "orders")
            .where(F.col("o_orderstatus") == "F")
            .withColumn("month", F.date_trunc("month", "o_orderdate"))
            .groupBy("month").agg(F.count("*").alias("n"))
            .orderBy("month").collect())
    assert [(r.month, r.n) for r in got] == \
        [(r.month, r.n) for r in want]
    assert len(got) > 0


def test_esql_where_pushes_to_scan_and_enrich_broadcasts(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import (
        ESQL_ENRICH, ESQL_STATS, esql,
    )

    plan = _plan(esql(spark, sf_dir, ESQL_STATS))
    assert "PushedFilters" in plan and "o_orderstatus" in plan, plan
    eplan = _plan(esql(spark, sf_dir, ESQL_ENRICH))
    assert "BroadcastHashJoin" in eplan, eplan


def test_esql_grok_null_on_no_match(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql

    df = spark.createDataFrame(
        [("click uid=42",), ("garbage",)], "line string")
    df.createOrReplaceTempView("__esql_t")
    # drive the GROK command machinery directly on a tiny frame
    from unified_vector_database_spark.operators.esql import (
        _CASTS, _grok_compile,
    )
    regex, fields = _grok_compile("%{WORD:etype} uid=%{NUMBER:uid:long}")
    out = df
    for idx, (name, cast) in enumerate(fields, start=1):
        raw = F.regexp_extract(F.col("line"), regex, idx)
        out = out.withColumn(
            name, F.when(raw == "", None).otherwise(raw)
                   .cast(_CASTS[cast]))
    rows = {r.line: (r.etype, r.uid) for r in out.collect()}
    assert rows["click uid=42"] == ("click", 42)
    assert rows["garbage"] == (None, None)


def test_esql_rejects_garbage():
    from unified_vector_database_spark.operators.esql import (
        _split_pipes, _tokenize,
    )
    with pytest.raises(ValueError):
        _tokenize("a ; b")
    assert _split_pipes("") == []


def test_esql_output_has_no_decimals(spark, sf_dir):
    from pyspark.sql.types import DecimalType

    from unified_vector_database_spark.operators.esql import (
        ESQL_ENRICH, esql,
    )

    df = esql(spark, sf_dir, ESQL_ENRICH)
    assert not any(isinstance(f.dataType, DecimalType)
                   for f in df.schema.fields)


# ---------------------------------------- sigterms_background_filter

def test_background_filter_scopes_the_comparison(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        SBF_LANG, SBF_MIN_CHARS, SBF_TOP, sigterms_background_filter,
    )

    rows = duck.execute(
        "SELECT doc_id, lang, n_chars, text FROM documents").fetchall()
    nfg = sum(1 for r in rows if r[1] == SBF_LANG)
    nbg = sum(1 for r in rows if r[2] >= SBF_MIN_CHARS)
    fg = collections.Counter()
    bg = collections.Counter()
    for _id, lang, n_chars, text in rows:
        toks = {t for t in text.strip().split() if t}
        for t in toks:
            if lang == SBF_LANG:
                fg[t] += 1
            if n_chars >= SBF_MIN_CHARS:
                bg[t] += 1
    scored = []
    for t, f_ in fg.items():
        b = bg.get(t, 0)
        if f_ >= 2 and b > 0:
            fr, br = f_ / nfg, b / nbg
            scored.append((round((fr - br) * fr / br, 6), t, f_, b))
    want = [(t, f_, b, s) for s, t, f_, b in
            sorted(scored, key=lambda x: (-x[0], x[1]))[:SBF_TOP]]
    got = [(r.token, r.fg_docs, r.bg_docs, r.jlh_score)
           for r in sigterms_background_filter(spark, sf_dir).collect()]
    assert [(t, f_, b) for t, f_, b, _ in want] == \
        [(t, f_, b) for t, f_, b, _ in got]
    for w, g in zip(want, got):
        assert w[3] == pytest.approx(g[3], abs=2e-6)


# -------------------------------------------------- curriculum_schedule

def test_curriculum_stages_partition_and_bound(spark, duck, sf_dir):
    import numpy as np

    from unified_vector_database_spark.operators.sampling import (
        CURR_STAGES, curriculum_schedule,
    )

    chars = np.array([r[0] for r in duck.execute(
        "SELECT n_chars FROM documents").fetchall()])
    q1, q2, q3 = np.percentile(chars, [25, 50, 75])  # linear interp
    got = curriculum_schedule(spark, sf_dir).collect()
    assert [r.stage for r in got] == list(range(CURR_STAGES))
    assert sum(r.n_docs for r in got) == len(chars)
    # stage ranges must not overlap and must respect the quartile cuts
    for a, b in zip(got, got[1:]):
        assert a.max_chars <= b.min_chars
    assert got[0].max_chars <= q1 < got[1].max_chars
    want0 = int((chars <= q1).sum())
    assert got[0].n_docs == want0
    assert got[0].total_chars == int(chars[chars <= q1].sum())
    assert math.isclose(got[-1].mean_chars,
                        chars[chars > q3].mean(), rel_tol=1e-6)


def test_esql_in_and_post_stats_where(spark, sf_dir):
    """IN pushes to the scan; WHERE after STATS filters the
    aggregated frame (the HAVING shape); SUM folds as DECIMAL
    internally and surfaces DOUBLE."""
    from pyspark.sql.types import DecimalType

    from unified_vector_database_spark.operators.esql import (
        ESQL_HAVING, esql,
    )

    df = esql(spark, sf_dir, ESQL_HAVING)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_returnflag" in plan, plan
    assert not any(isinstance(f.dataType, DecimalType)
                   for f in df.schema.fields)
    rows = df.collect()
    assert len(rows) > 0
    assert {r.l_returnflag for r in rows} <= {"A", "R"}
    assert all(r.revenue > 1_000_000.0 for r in rows)


# ------------------------------------- parser property (hypothesis)

def test_esql_arith_parser_matches_python_eval(spark):
    """Property: for randomly generated integer arithmetic
    expressions, the translated Column evaluates to exactly what
    python eval computes — precedence, parentheses, unary minus."""
    from hypothesis import given, settings, strategies as st

    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize,
    )

    one = spark.range(1)

    @st.composite
    def exprs(draw, depth=0):
        if depth > 2 or draw(st.booleans()):
            return str(draw(st.integers(min_value=0, max_value=99)))
        op = draw(st.sampled_from(["+", "-", "*"]))
        a = draw(exprs(depth=depth + 1))
        b = draw(exprs(depth=depth + 1))
        s = f"{a} {op} {b}"
        return f"({s})" if draw(st.booleans()) else s

    @given(exprs())
    @settings(max_examples=200, deadline=None)
    def check(e):
        got = one.select(_parse_expr(_tokenize(e)).alias("v")).first().v
        assert got == eval(e)  # noqa: S307 - generated arithmetic only

    check()


def test_esql_case_and_coalesce(spark):
    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize,
    )

    one = spark.range(1)
    v = one.select(_parse_expr(_tokenize(
        'CASE(1 > 2, "a", 2 > 1, "b", "z")')).alias("v")).first().v
    assert v == "b"
    v = one.select(_parse_expr(_tokenize(
        'CASE(1 > 2, "a")')).alias("v")).first().v
    assert v is None
    v = one.select(_parse_expr(_tokenize(
        'COALESCE(CASE(1 > 2, "a"), "fallback")')).alias("v")).first().v
    assert v == "fallback"
