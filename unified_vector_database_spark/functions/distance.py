"""Vector distance/similarity as JVM-side Column expressions.

These mirror the metrics every reference backend exposes (cosine /
dot / L2 — e.g. Milvus metric_type IP|L2|COSINE, Qdrant Distance,
Weaviate distance; reference README.md:3-9 backends). All math runs
in double precision, accumulated in array-index order, which makes
the results bit-identical to DuckDB's list_dot_product /
list_cosine_similarity / list_distance — the correctness oracle.

No Python UDFs: `aggregate` / `zip_with` evaluate inside the JVM, so a
knn scan stays a single map stage with no serialization wall.

Each builder is ONE SQL template handed to `F.expr`. Its arguments are
column names or SQL text (`"a.emb"`, `"slice(vec, 1, 16)"`,
`vector_sql(q)`), or the result of another builder here, which carries
its SQL text so builders nest. Building the same tree through the
Column DSL costs a Py4J round trip per node: measured per `api.search`
request over a 64-dim query, 38 ms for the 64-literal `F.array` and
39 ms for the `F.aggregate`/`F.zip_with` lambda builders, against
0.6 ms for the whole score as one `F.expr` string. The parsed tree is
the same expression, so the values are bit for bit unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

_FOLD = "aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0D, (acc, x) -> acc + x)"


def _sql(a: Column | str) -> str:
    if isinstance(a, str):
        return a
    text = getattr(a, "_distance_sql", None)
    if text is None:
        raise TypeError("distance builders take a column name, SQL text "
                        "or another builder's result, not an arbitrary "
                        f"Column: {a!r}")
    return text


def _expr(text: str) -> Column:
    col = F.expr(text)
    col._distance_sql = text
    return col


def _dot(a: str, b: str) -> str:
    return _FOLD.format(a=a, b=b, term="x * y")


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def vec_double(col: Column | str) -> Column:
    """Cast array<float> -> array<double> (oracle-exact arithmetic)."""
    return _expr(f"transform({_sql(col)}, x -> CAST(x AS DOUBLE))")


def dot(a: Column | str, b: Column | str) -> Column:
    return _expr(_dot(_sql(a), _sql(b)))


def norm(a: Column | str) -> Column:
    return _expr(_norm(_sql(a)))


def safe_div(num: Column, den: Column) -> Column:
    """Division that yields NULL on a zero divisor — Spark ANSI mode
    would otherwise THROW on degenerate (zero-norm) vectors, while
    DuckDB yields NULL; try_divide is the exact DuckDB twin and is
    bit-identical to plain division for every nonzero divisor."""
    return F.try_divide(num, den)


def cosine(a: Column | str, b: Column | str) -> Column:
    # Divide form dot/(sqrt(na)*sqrt(nb)). Oracles must spell this out
    # with list_dot_product rather than call list_cosine_similarity:
    # DuckDB's builtin uses a fused accumulation that drifts by 1 ulp
    # on some pairs (verified exhaustively on 25k pairs — the explicit
    # form is bit-identical between engines, the builtin is not).
    # try_divide is safe_div's SQL name.
    a, b = _sql(a), _sql(b)
    return _expr(f"try_divide({_dot(a, b)}, {_norm(a)} * {_norm(b)})")


def l2(a: Column | str, b: Column | str) -> Column:
    fold = _FOLD.format(a=_sql(a), b=_sql(b), term="(x - y) * (x - y)")
    return _expr(f"sqrt({fold})")


def normalize(a: Column | str) -> Column:
    """Unit-normalize a vector (pre-normalized corpora turn cosine knn
    into a pure dot product — one multiply-add per dim)."""
    a = _sql(a)
    # the element variable is named apart from the fold's `x`, so the
    # norm's argument text, evaluated inside this lambda, cannot be
    # captured by it unless a column is itself named `e_`
    return _expr(f"transform({a}, e_ -> e_ / {_norm(a)})")


METRICS = {"cosine": cosine, "dot": dot, "l2": l2}
# Higher-is-closer for cosine/dot; lower-is-closer for l2.
ASCENDING = {"cosine": False, "dot": False, "l2": True}


def l1(a: Column | str, b: Column | str) -> Column:
    """Manhattan/taxicab distance (pgvector `<+>`, Milvus L1): the
    same left fold as dot/l2. The oracle twin is
    list_dot_product(absdiffs, ones) — each |d_i|·1.0 term is exact,
    so the sequential dot IS the fold, bit-for-bit."""
    return _expr(_FOLD.format(a=_sql(a), b=_sql(b), term="abs(x - y)"))


def _double_sql(v: float) -> str:
    if math.isnan(v):
        return "double('NaN')"
    if math.isinf(v):
        return "double('Infinity')" if v > 0 else "double('-Infinity')"
    return repr(v) + "D"  # shortest repr round-trips bit for bit


def vector_sql(values) -> str:
    """SQL text of an array<double> literal holding `values` exactly:
    each finite value as its shortest repr, so -0.0 and subnormals keep
    their bits; NaN and the infinities through double('...')."""
    return "array(" + ", ".join(_double_sql(float(v)) for v in values) + ")"


def norm_value(values) -> float:
    """`norm` of a literal vector on the driver: the same left fold in
    doubles, then a correctly rounded sqrt, so the value equals the
    Spark expression's bit for bit."""
    acc = 0.0
    for v in values:
        v = float(v)
        acc += v * v
    return math.sqrt(acc)
