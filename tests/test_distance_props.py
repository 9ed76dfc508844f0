"""Property tests for the distance kernels: bounds, symmetry, and
metric identities on arbitrary vectors."""

from __future__ import annotations

import math
import struct

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import Row, functions as F

from unified_vector_database_spark.functions import distance as D

FINITE = st.floats(min_value=-100, max_value=100,
                   allow_nan=False, allow_infinity=False)
VEC = st.lists(FINITE, min_size=2, max_size=8)


@settings(max_examples=15, deadline=None)
@given(st.tuples(VEC, VEC).filter(
    lambda t: len(t[0]) == len(t[1])
    and sum(x * x for x in t[0]) > 1e-6
    and sum(x * x for x in t[1]) > 1e-6))
def test_cosine_bounds_and_symmetry(spark, vecs):
    a, b = vecs
    df = spark.createDataFrame([Row(a=a, b=b)])
    r = df.select(D.cosine("a", "b").alias("ab"),
                  D.cosine("b", "a").alias("ba"),
                  D.cosine("a", "a").alias("aa"),
                  D.l2("a", "b").alias("l2ab"),
                  D.l2("b", "a").alias("l2ba"),
                  D.dot("a", "b").alias("dot")).first()
    assert -1.0 - 1e-9 <= r.ab <= 1.0 + 1e-9
    assert r.ab == r.ba                      # symmetric
    assert abs(r.aa - 1.0) < 1e-9            # self-similarity
    assert r.l2ab == r.l2ba and r.l2ab >= 0
    # dot identity: |a-b|^2 = |a|^2 + |b|^2 - 2<a,b>
    na2 = sum(x * x for x in a)
    nb2 = sum(x * x for x in b)
    assert abs(r.l2ab ** 2 - (na2 + nb2 - 2 * r.dot)) < 1e-6


@settings(max_examples=10, deadline=None)
@given(VEC.filter(lambda v: sum(x * x for x in v) > 1e-6))
def test_normalize_unit_norm(spark, v):
    df = spark.createDataFrame([Row(a=v)])
    r = df.select(D.norm(D.normalize("a")).alias("n")).first()
    assert abs(r.n - 1.0) < 1e-9


EDGES = st.sampled_from([
    0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e308,
    -1.7976931348623157e308, 1.3407807929942596e154, 1e-200,
    math.nan, math.inf, -math.inf])


def _bits(x: float):
    return "nan" if math.isnan(x) else struct.pack("<d", x)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(
    st.lists(st.one_of(EDGES, st.floats()), min_size=1, max_size=16),
    st.lists(FINITE, min_size=1, max_size=64)), min_size=1, max_size=12))
@example([[0.1 * i for i in range(1, 30)]])  # a reordered sum differs
def test_norm_value_is_spark_norm_bit_for_bit(spark, vecs):
    """The driver-side query norm api.search uses equals the Spark fold
    over the same literal, and the literal keeps every value's bits
    (NaN payloads aside), -0.0, subnormals and infinities included."""
    r = spark.range(1).select(
        *[D.norm(D.vector_sql(v)).alias(f"n{i}") for i, v in enumerate(vecs)],
        *[F.expr(D.vector_sql(v)).alias(f"v{i}")
          for i, v in enumerate(vecs)]).first()
    for i, v in enumerate(vecs):
        assert _bits(r[f"n{i}"]) == _bits(D.norm_value(v)), v
        assert [_bits(x) for x in r[f"v{i}"]] == [_bits(x) for x in v]


# The transform-first fold forms the builders had before the cast moved
# into the lambda: widen each array with transform, then fold.
def _widened(a: str) -> str:
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def _dot_tf(a: str, b: str) -> str:
    return (f"aggregate(zip_with({_widened(a)}, {_widened(b)}, "
            "(x, y) -> x * y), 0D, (acc, x) -> acc + x)")


TRANSFORM_FIRST = {
    "dot": _dot_tf,
    "norm": lambda a, b: f"sqrt({_dot_tf(a, a)})",
    "l2": lambda a, b: (
        f"sqrt(aggregate(zip_with({_widened(a)}, {_widened(b)}, "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x))"),
    "cosine": lambda a, b: (
        f"try_divide({_dot_tf(a, b)}, sqrt({_dot_tf(a, a)}) "
        f"* sqrt({_dot_tf(b, b)}))"),
}
BUILDERS = {"dot": D.dot, "norm": lambda a, b: D.norm(a), "l2": D.l2,
            "cosine": D.cosine}

ELEMENT = st.one_of(EDGES, st.floats(), FINITE, st.none())
PAIR = st.integers(0, 6).flatmap(lambda n: st.tuples(
    st.lists(ELEMENT, min_size=n, max_size=n),
    st.one_of(st.lists(ELEMENT, min_size=n, max_size=n),
              st.lists(ELEMENT, max_size=7))))


def _bits_or_none(x):
    return None if x is None else _bits(x)


@settings(max_examples=25, deadline=None)
@given(st.lists(PAIR, min_size=1, max_size=8))
@example([([-0.0, 5e-324, 1e308], [1e308, -0.0, 2.2250738585072014e-308]),
          ([math.nan, 1.0], [math.inf, -math.inf]),
          ([1.0, None, 2.0], [3.0, 4.0, 5.0]),
          ([1.0, 2.0], [1.0, 2.0, 3.0])])
def test_cast_in_lambda_folds_equal_transform_first(spark, pairs):
    """dot, norm, l2 and cosine over raw array<float> and array<double>
    columns equal the transform-first forms bit for bit: NaN, the
    infinities, -0.0, subnormals, values near 1e308 and NULL elements
    included, and NULL for arrays of different lengths."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, StructField, StructType,
    )

    schema = StructType([StructField(n, ArrayType(t)) for n, t in (
        ("af", FloatType()), ("bf", FloatType()),
        ("ad", DoubleType()), ("bd", DoubleType()))])
    df = spark.createDataFrame([(a, b, a, b) for a, b in pairs], schema)
    exprs = [(f"{k}_{c}", BUILDERS[k](a, b),
              F.expr(TRANSFORM_FIRST[k](a, b)))
             for k in BUILDERS for c, (a, b) in (("f", ("af", "bf")),
                                                  ("d", ("ad", "bd")))]
    rows = df.select(*[e.alias(f"new_{n}") for n, e, _ in exprs],
                     *[e.alias(f"old_{n}") for n, _, e in exprs]).collect()
    for (a, b), r in zip(pairs, rows):
        for n, _, _ in exprs:
            assert _bits_or_none(r[f"new_{n}"]) == \
                _bits_or_none(r[f"old_{n}"]), (n, a, b)
            if len(a) != len(b) and not n.startswith("norm"):
                assert r[f"new_{n}"] is None, (n, a, b)
