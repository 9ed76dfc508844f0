"""Unified search facade — the "one request API over every backend"
that IS the reference's product (reference README.md:88-91: the app
selects a backend via `VECTOR_DB=chroma|elastic|milvus|qdrant|
weaviate|faiss` behind a single client surface). Here the one backend
is Spark, and a request spec compiles to ONE declarative DataFrame
plan that Catalyst optimizes end to end.

Spec shape (the common denominator of the Qdrant/Milvus/Weaviate
query DSLs — every key optional except `limit` defaults):

    {
      "vector": [..float..],          # dense query vector
      "metric": "cosine"|"dot"|"l2",  # default cosine
      "limit": 10, "offset": 0,
      "score_threshold": 0.25,        # radius / min_score knob
      "filter": {
        "must":     [{"key": "label", "match": 3},
                     {"key": "vec_id", "range": {"gte": 0, "lt": 400}},
                     {"key": "label", "any": [1, 2, 3]}],
        "must_not": [ ...same condition forms... ],
      },
      "group_by": {"key": "label", "group_size": 2},
      "with_payload": ["label"],      # extra columns to return
    }

Compilation rules (scale posture):
- filter conditions become `where` clauses BELOW the scorer, so
  Catalyst pushes them into the parquet scan (plan-asserted in
  tests/test_api.py);
- a malformed spec raises a ValueError naming the bad part before any
  call into Spark;
- the query vector is one array literal; scoring is map-side JVM
  arithmetic over the raw vector column (functions/distance.py) —
  never a UDF. Cosine divides by the frame's stored `_norm_<vec>`
  column when it has one (a `Collection.read()` frame does), else by
  the inline norm, and by the query norm folded on the driver: one
  fold per row, not three;
- plain top-k compiles to TakeOrderedAndProject; `offset` pages with
  Spark's own OFFSET, so a page is one TakeOrderedAndProject(limit =
  offset + limit, offset), and the no-vector scroll pages the same
  way in id order;
- `group_by` scans and scores once: hits are ranked inside a window
  PARTITIONED by the group key (bounded partitions), an aggregate on
  the same partitioning folds each group's top `group_size` hits into
  one row, and `limit` then counts GROUPS ranked by best hit
  (Qdrant/Milvus group search) in one TakeOrdered. Rows whose group
  key is NULL form no group and are left out, as Qdrant leaves out
  points without the `group_by` field. `offset` is rejected under
  `group_by`, matching the backends' group-search APIs;
- no compiled shape holds an unpartitioned window (plan-asserted in
  tests/test_api.py).
"""

from __future__ import annotations

import datetime
import decimal
import numbers

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .functions import distance as D
from .registry import register
from .sources.catalog import NORM_PREFIX

_ASC_METRICS = {m for m, asc in D.ASCENDING.items() if asc}


_RANGE = {"gte": Column.__ge__, "gt": Column.__gt__,
          "lte": Column.__le__, "lt": Column.__lt__}
_SCALARS = (str, numbers.Real, decimal.Decimal, datetime.date)


def _check_condition(c) -> None:
    """Raise a ValueError naming what is wrong with condition `c`; pure
    Python, so a malformed spec never reaches the JVM."""
    if not isinstance(c, dict) or not isinstance(c.get("key"), str):
        raise ValueError(f"condition needs a string 'key': {c!r}")
    forms = [f for f in ("match", "any", "range") if f in c]
    if len(forms) != 1 or len(c) != 2:
        raise ValueError(f"unknown condition {c!r}: use exactly one of "
                         "'match', 'any', 'range' beside 'key'")
    v = c[forms[0]]
    if forms[0] == "match":
        if not isinstance(v, _SCALARS):
            raise ValueError(f"'match' takes a scalar: {c!r}")
    elif forms[0] == "any":
        if (not isinstance(v, (list, tuple))
                or not all(isinstance(x, _SCALARS) for x in v)):
            raise ValueError(f"'any' takes a list of scalars: {c!r}")
    elif (not isinstance(v, dict) or not v
          or set(v) - set(_RANGE)
          or not all(isinstance(x, _SCALARS) for x in v.values())):
        raise ValueError(f"'range' takes scalar bounds under "
                         f"{tuple(_RANGE)}: {c!r}")


def _check_filter(spec: dict) -> None:
    if not isinstance(spec, dict) or set(spec) - {"must", "must_not"}:
        raise ValueError(f"filter takes 'must' and 'must_not': {spec!r}")
    for part in spec.values():
        if not isinstance(part, (list, tuple)):
            raise ValueError(f"filter clauses are lists: {spec!r}")
        for c in part:
            _check_condition(c)


def _condition(c: dict) -> Column:
    col = F.col(c["key"])
    if "match" in c:
        return col == F.lit(c["match"])
    if "any" in c:
        return col.isin(*c["any"])
    out = None
    for name, op in _RANGE.items():
        if name in c["range"]:
            part = op(col, F.lit(c["range"][name]))
            out = part if out is None else out & part
    return out


def compile_filter(spec: dict | None) -> Column | None:
    if not spec:
        return None
    _check_filter(spec)
    out = None
    for c in spec.get("must", ()):
        cond = _condition(c)
        out = cond if out is None else out & cond
    for c in spec.get("must_not", ()):
        cond = ~_condition(c)
        out = cond if out is None else out & cond
    return out


def _query_vector(values) -> list[float]:
    if (not isinstance(values, (list, tuple)) or not values
            or not all(isinstance(x, numbers.Real)
                       and not isinstance(x, bool) for x in values)):
        raise ValueError("'vector' takes a non-empty list of numbers")
    return [float(x) for x in values]


def search(corpus: DataFrame, spec: dict,
           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Compile a unified request spec against a corpus DataFrame (a
    `Collection.read()` result or any frame with an id + vector
    column) into a single declarative plan."""
    metric = spec.get("metric", "cosine")
    limit = int(spec.get("limit", 10))
    offset = int(spec.get("offset", 0))
    payload = tuple(spec.get("with_payload", ()))
    group = spec.get("group_by")
    q = None
    if "vector" in spec:
        if metric not in D.METRICS:
            raise ValueError(f"unknown metric {metric!r}")
        q = _query_vector(spec["vector"])
        if group and offset:
            raise ValueError("offset is not supported with group_by "
                             "(matches Qdrant/Milvus group search)")

    df = corpus
    pred = compile_filter(spec.get("filter"))
    if pred is not None:
        df = df.where(pred)

    if group and group["key"] not in payload:
        payload = (*payload, group["key"])
    cols = [F.col(id_col), *[F.col(p) for p in payload]]
    if q is None:
        # no vector: a filtered scroll page in id order
        return df.select(*cols).orderBy(id_col).limit(offset + limit) \
                 .offset(offset)
    if metric == "cosine":
        # knn.cosine_score's form: one fold per row when the frame
        # carries the catalog's stored norm (sources/catalog.py), and
        # the query norm is a literal folded on the driver
        nv = NORM_PREFIX + vec_col
        nv = F.col(nv) if nv in corpus.columns else D.norm(vec_col)
        score = D.safe_div(D.dot(vec_col, D.vector_sql(q)),
                           nv * F.lit(D.norm_value(q)))
    else:
        score = D.METRICS[metric](vec_col, D.vector_sql(q))
    df = df.select(*cols, score.alias("score"))
    asc = metric in _ASC_METRICS
    if "score_threshold" in spec:
        thr = float(spec["score_threshold"])
        df = df.where(F.col("score") <= thr if asc
                      else F.col("score") >= thr)
    order = F.col("score").asc() if asc else F.col("score").desc()
    if group:
        return _group_search(df, order, asc, id_col, payload, group, limit)
    return df.orderBy(order, F.col(id_col)).limit(offset + limit) \
             .offset(offset)


def _group_search(df: DataFrame, order: Column, asc: bool, id_col: str,
                  payload: tuple, group: dict, limit: int) -> DataFrame:
    """Qdrant/Milvus group search over the scored frame `df`: `limit`
    counts GROUPS, not points.

    One pass: hits are ranked inside a window partitioned by the group
    key (bounded partitions, group-key cardinality; `rank <=
    group_size` becomes a WindowGroupLimit that also cuts each input
    partition before the shuffle). The aggregate that follows needs no
    second shuffle; it folds each group into one row holding its hits
    in rank order, so the group's best hit is the array's head. The
    top `limit` group rows, by (best score, best id), are a
    TakeOrdered, and the output is their hits in (group rank, rank)
    order. Rows whose group key is NULL form no group: like Qdrant,
    which leaves out points that lack the `group_by` field, they are
    dropped before the window."""
    gkey = group["key"]
    w = W.partitionBy(gkey).orderBy(order, F.col(id_col))
    hits = F.sort_array(F.collect_list(F.struct(
        "rank", id_col, *payload, "score")))
    best = F.col("_hits")[0]
    groups = (df.where(F.col(gkey).isNotNull())
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= int(group.get("group_size", 1)))
                .groupBy(gkey).agg(hits.alias("_hits"))
                .select("_hits", best["score"].alias("_gbest"),
                        best[id_col].alias("_gid")))
    gorder = F.col("_gbest").asc() if asc else F.col("_gbest").desc()
    top = groups.orderBy(gorder, "_gid").limit(limit)
    return (top.select(F.inline("_hits"))
               .select(id_col, *payload, "score", "rank"))


def count(corpus: DataFrame, spec: dict | None = None) -> DataFrame:
    """Qdrant/Milvus count API: number of records matching the spec's
    filter — one partial-agg'd aggregate, filter pushed to the scan."""
    pred = compile_filter((spec or {}).get("filter"))
    df = corpus if pred is None else corpus.where(pred)
    return df.agg(F.count("*").alias("n"))


def search_batch(corpus: DataFrame, specs: list[dict],
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Qdrant search_batch / Milvus multi-request search: each spec
    compiles independently (its own filters/metric/limit) and the
    results union with a `query_idx` discriminator. Per-spec plans
    stay bounded (TakeOrdered cuts), so the union is ≤ Σ limits rows;
    Spark schedules the per-spec scans concurrently."""
    parts = [
        search(corpus, spec, id_col=id_col, vec_col=vec_col)
        .withColumn("query_idx", F.lit(i))
        for i, spec in enumerate(specs)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# ---- driver-checked facade query: the full spec surface in one run ----

_COS = ("list_dot_product(embedding::DOUBLE[], qvec)"
        "/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
        "*sqrt(list_dot_product(qvec, qvec)))")


@register("unified_search", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, {_COS} AS score
FROM embeddings, q
WHERE label IN (1, 2, 3) AND label <> 2
  AND vec_id >= 10 AND vec_id < 400
  AND {_COS} >= 0.1
ORDER BY score DESC, vec_id
LIMIT 10
""")
def unified_search(spark, sf_dir: str):
    """The facade exercised end to end: must/must_not/range filter +
    cosine knn + score threshold + payload, compiled from one request
    spec. The query vector is fetched as the API's caller would pass
    it (a 64-float literal — its values are the float32 bits both
    engines widen identically)."""
    from . import tables
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    [qrow] = emb.where(F.col("vec_id") == 0).collect()
    spec = {
        "vector": [float(x) for x in qrow.embedding],
        "metric": "cosine",
        "limit": 10,
        "score_threshold": 0.1,
        "with_payload": ["label"],
        "filter": {
            "must": [{"key": "label", "any": [1, 2, 3]},
                     {"key": "vec_id", "range": {"gte": 10, "lt": 400}}],
            "must_not": [{"key": "label", "match": 2}],
        },
    }
    return search(emb, spec)
