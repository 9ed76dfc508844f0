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

The widening to double sits inside the fold's lambda
(`CAST(x AS DOUBLE) * CAST(y AS DOUBLE)`), so a builder takes the raw
array<float> column and walks each array once. Casting first with
`vec_double` materializes a second array per row before the fold
reads it. The float-to-double cast is exact, so the values are the
same bits either way; on an array<double> column Catalyst drops the
cast. Measured as a top-10 over a 20k x 64 float32 collection on
local[3] (4-core host, median of 7 interleaved warm runs): dot
239 -> 215 ms, `norm` (one `aggregate` over the array, no self-
`zip_with`) 248 -> 197 ms, and 217 ms when it folds a `vec_double`
array instead. `l2` casts once per element: its `zip_with` lambda
returns the difference and the fold squares it (`acc + d * d`),
293 -> 246 ms; repeating the casts inside the product,
`(CAST(x) - CAST(y)) * (CAST(x) - CAST(y))`, measured 260 ms.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

_D = "CAST({} AS DOUBLE)"
_X, _Y = _D.format("x"), _D.format("y")
_SUM = "aggregate({arr}, 0D, (acc, x) -> acc + {term})"


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


def _zip_sum(a: str, b: str, term: str, fold: str = "x") -> str:
    """Left fold of `fold` over the pairwise `term`s, in index order;
    NULL when the lengths differ (zip_with pads with NULL)."""
    return _SUM.format(arr=f"zip_with({a}, {b}, (x, y) -> {term})",
                       term=fold)


def _dot(a: str, b: str) -> str:
    return _zip_sum(a, b, f"{_X} * {_Y}")


def _norm(a: str) -> str:
    return f"sqrt({_SUM.format(arr=a, term=f'{_X} * {_X}')})"


def vec_double(col: Column | str) -> Column:
    """Cast array<float> -> array<double> (oracle-exact arithmetic)."""
    return _expr(f"transform({_sql(col)}, x -> {_X})")


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
    # one cast per element: the lambda returns the difference, the fold
    # squares it
    diff = _zip_sum(_sql(a), _sql(b), f"{_X} - {_Y}", fold="x * x")
    return _expr(f"sqrt({diff})")


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
    return _expr(_zip_sum(_sql(a), _sql(b), f"abs({_X} - {_Y})"))


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
