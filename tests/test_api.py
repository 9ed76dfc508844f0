"""Unified search facade: spec compilation matches the direct
operator plans (same results), filters reach the parquet scan, and
no unpartitioned window appears in any compiled shape."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from unified_vector_database_spark import api, tables
from unified_vector_database_spark.api import (
    compile_filter, count, search, search_batch,
)
from unified_vector_database_spark.functions import distance as D
from unified_vector_database_spark.plans.asserts import plan_text


def _corpus(spark, sf_dir):
    return tables.load(spark, sf_dir, "embeddings")


def _qvec(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    [row] = emb.where(F.col("vec_id") == 0).collect()
    return [float(x) for x in row.embedding]


def test_plain_knn_matches_direct(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    got = search(corpus, {"vector": v, "metric": "cosine", "limit": 10,
                          "with_payload": ["label"]})
    direct = (corpus.select(
        "vec_id", "label",
        D.cosine(D.vec_double("embedding"), D.vector_sql(v)).alias("score"))
        .orderBy(F.desc("score"), "vec_id").limit(10))
    assert [r.vec_id for r in got.collect()] == \
        [r.vec_id for r in direct.collect()]


def test_filter_forms_and_pushdown(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    spec = {"vector": v, "limit": 10, "with_payload": ["label"],
            "filter": {"must": [{"key": "label", "any": [1, 2, 3]},
                                {"key": "vec_id",
                                 "range": {"gte": 10, "lt": 400}}],
                       "must_not": [{"key": "label", "match": 2}]}}
    got = search(corpus, spec)
    rows = got.collect()
    assert rows
    for r in rows:
        assert r.label in (1, 3) and 10 <= r.vec_id < 400
    text = plan_text(got)
    assert "PushedFilters" in text and "GreaterThanOrEqual(vec_id,10" in text


def test_l2_threshold_and_offset_paging(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    base = {"vector": v, "metric": "l2", "limit": 5}
    page1 = search(corpus, base).collect()
    page2 = search(corpus, {**base, "offset": 5}).collect()
    full = search(corpus, {**base, "limit": 10}).collect()
    assert [r.vec_id for r in page1] + [r.vec_id for r in page2] == \
        [r.vec_id for r in full]
    # scores ascend for l2 and threshold keeps them under the cap
    thr = page2[-1].score
    capped = search(corpus, {**base, "limit": 10 ** 6,
                             "score_threshold": thr}).collect()
    assert all(r.score <= thr for r in capped)
    assert {r.vec_id for r in page1} <= {r.vec_id for r in capped}


def test_group_by_matches_grouped_topk(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    got = search(corpus, {"vector": v, "limit": 10,
                          "with_payload": ["label"],
                          "group_by": {"key": "label", "group_size": 2}})
    rows = got.collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r.label, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 2
               for v in per_group.values())
    n_labels = corpus.select("label").distinct().count()
    assert len(per_group) == min(n_labels, 10)


def test_group_by_limit_counts_groups(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    rows = search(corpus, {"vector": v, "limit": 3,
                           "group_by": {"key": "label",
                                        "group_size": 2}}).collect()
    labels = [r.label for r in rows]
    assert len(set(labels)) == 3
    # deterministic order: groups by best (rank-1) score desc, then
    # rank inside each group; the best group leads
    full = search(corpus, {"vector": v, "limit": 100,
                           "group_by": {"key": "label",
                                        "group_size": 1}}).collect()
    best_three = [r.label for r in full[:3]]
    assert list(dict.fromkeys(labels)) == best_three
    assert [r.rank for r in rows if r.label == labels[0]] == [1, 2]
    try:
        search(corpus, {"vector": v, "limit": 3, "offset": 2,
                        "group_by": {"key": "label", "group_size": 2}})
        raise AssertionError("offset+group_by should be rejected")
    except ValueError:
        pass


def test_no_vector_scroll_page(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    got = search(corpus, {"limit": 7, "with_payload": ["label"],
                          "filter": {"must": [{"key": "label", "match": 4}]}})
    rows = got.collect()
    assert len(rows) == 7
    assert all(r.label == 4 for r in rows)
    assert [r.vec_id for r in rows] == sorted(r.vec_id for r in rows)
    # offset pages the scroll without overlap, in the same id order
    page2 = search(corpus, {"limit": 7, "offset": 7,
                            "with_payload": ["label"],
                            "filter": {"must": [{"key": "label",
                                                 "match": 4}]}}).collect()
    both = search(corpus, {"limit": 14, "with_payload": ["label"],
                           "filter": {"must": [{"key": "label",
                                                "match": 4}]}}).collect()
    assert [r.vec_id for r in rows] + [r.vec_id for r in page2] == \
        [r.vec_id for r in both]
    assert all(r.label == 4 for r in page2)


def test_compiled_windows_are_partitioned(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    for spec in ({"vector": v, "limit": 5, "offset": 10},
                 {"vector": v, "limit": 5,
                  "group_by": {"key": "label", "group_size": 1}}):
        plan = search(corpus, spec)._jdf.queryExecution() \
                                        .optimizedPlan().toString()
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0]
            assert " ASC" not in first and " DESC" not in first, spec


def test_compile_filter_none():
    assert compile_filter(None) is None
    assert compile_filter({}) is None


def test_count_with_filter(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    [r] = count(corpus, {"filter": {"must": [{"key": "label",
                                              "match": 4}]}}).collect()
    assert r.n == corpus.where(F.col("label") == 4).count()
    [r2] = count(corpus).collect()
    assert r2.n == corpus.count()


def test_search_batch_unions_specs(spark, sf_dir):
    corpus, v = _corpus(spark, sf_dir), _qvec(spark, sf_dir)
    specs = [
        {"vector": v, "limit": 3, "with_payload": ["label"]},
        {"vector": v, "limit": 2, "metric": "l2",
         "filter": {"must": [{"key": "label", "match": 4}]}},
    ]
    rows = search_batch(corpus, specs).collect()
    by_idx = {}
    for r in rows:
        by_idx.setdefault(r.query_idx, []).append(r)
    assert len(by_idx[0]) == 3 and len(by_idx[1]) == 2
    single0 = search(corpus, specs[0]).collect()
    assert [r.vec_id for r in by_idx[0]] == [r.vec_id for r in single0]


@pytest.mark.parametrize("spec, message", [
    ({"filter": {"must": [{"key": "vec_id", "match": {"any": [1, 2]}}]}},
     "'match' takes a scalar"),
    ({"filter": {"must": [{"key": "label", "match": None}]}},
     "'match' takes a scalar"),
    ({"filter": {"must": [{"key": "label", "any": [[1], 2]}]}},
     "'any' takes a list of scalars"),
    ({"filter": {"must_not": [{"key": "label", "any": 3}]}},
     "'any' takes a list of scalars"),
    ({"filter": {"must": [{"key": "vec_id", "range": {"gtee": 3}}]}},
     "'range' takes scalar bounds"),
    ({"filter": {"must": [{"key": "vec_id", "range": {}}]}},
     "'range' takes scalar bounds"),
    ({"filter": {"must": [{"key": "label", "near": 3}]}},
     "unknown condition"),
    ({"filter": {"must": [{"key": "label", "match": 3, "any": [3]}]}},
     "unknown condition"),
    ({"filter": {"must": ["label = 3"]}}, "needs a string 'key'"),
    ({"filter": {"should": [{"key": "label", "match": 3}]}},
     "filter takes 'must' and 'must_not'"),
    ({"filter": {"must": {"key": "label", "match": 3}}},
     "filter clauses are lists"),
    ({"vector": []}, "'vector' takes a non-empty list of numbers"),
    ({"vector": [0.5, "1"]}, "'vector' takes a non-empty list of numbers"),
    ({"vector": [0.5, None]}, "'vector' takes a non-empty list of numbers"),
    ({"vector": "0.5"}, "'vector' takes a non-empty list of numbers"),
])
def test_malformed_spec_raises_named_error(monkeypatch, spec, message):
    """A malformed spec is refused in Python: with no corpus and no
    pyspark `functions` to call, only the named ValueError can come
    out."""
    monkeypatch.setattr(api, "F", None)
    with pytest.raises(ValueError, match=re.escape(message)):
        search(None, spec)
    if "filter" in spec:
        with pytest.raises(ValueError, match=re.escape(message)):
            compile_filter(spec["filter"])


DIM = 16


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """(collection frame, raw parquet frame, query, zero-vector id): the
    same seeded rows read through a Collection, which stores norms, and
    as the plain parquet file it was loaded from."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_vector_database_spark.sources.catalog import Collection

    rng = np.random.default_rng(7)
    x = rng.standard_normal((300, DIM)).astype(np.float32)
    x[17] = 0.0
    d = tmp_path_factory.mktemp("stored")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(x)), pa.int64()),
        "label": pa.array([i % 7 for i in range(len(x))], pa.int32()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
    }), str(d / "in.parquet"))
    raw = spark.read.parquet(str(d / "in.parquet"))
    col = Collection.create(spark, str(d), "c", id_col="vec_id", dim=DIM)
    col.upsert(raw)
    q = [float(v) for v in rng.standard_normal(DIM).astype(np.float32)]
    return col.read(), raw, q, 17


def _bits(rows):
    return [tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in rows]


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_stored_norms_give_identical_answers(stored, metric):
    frame, raw, q, _ = stored
    assert "_norm_embedding" in frame.columns
    assert "_norm_embedding" not in raw.columns
    base = {"vector": q, "metric": metric}
    [*_, eighth] = search(raw, {**base, "limit": 8}).collect()
    specs = [
        {**base, "limit": 10, "with_payload": ["label"]},
        {**base, "limit": 3, "group_by": {"key": "label",
                                          "group_size": 2}},
        {**base, "limit": 5, "offset": 7, "with_payload": ["label"]},
        {**base, "limit": 50, "score_threshold": eighth.score},
        {**base, "limit": 10, "vector": [0.0] * DIM},
    ]
    for spec in specs:
        got = search(frame, spec).collect()
        assert got and _bits(got) == _bits(search(raw, spec).collect()), spec


def test_zero_vectors_score_null_cosine(stored):
    frame, raw, q, zero = stored
    for corpus in (frame, raw):
        [r] = search(corpus, {"vector": q, "limit": 1, "filter": {
            "must": [{"key": "vec_id", "match": zero}]}}).collect()
        assert r.score is None
        rows = search(corpus, {"vector": [0.0] * DIM, "limit": 5}).collect()
        assert [r.score for r in rows] == [None] * 5


def test_stored_norm_cosine_folds_once(stored):
    frame, raw, q, _ = stored

    def folds(corpus):
        plan = search(corpus, {"vector": q, "limit": 5})._jdf \
            .queryExecution().optimizedPlan().toString()
        return plan.count("aggregate(")
    assert folds(frame) == 1
    assert folds(raw) == 2  # the query norm is a literal either way


# ---- one-scan group search and OFFSET paging against the earlier
# shapes: a two-scan group join and array-sorted pages ----

def _head_group(df, asc, gkey, size, limit, id_col="vec_id"):
    """Group search as a window plus a broadcast join of the top groups
    (two scans of the corpus), over the rows whose group key is not
    NULL."""
    from pyspark.sql import Window as W

    order = F.col("score").asc() if asc else F.col("score").desc()
    w = W.partitionBy(gkey).orderBy(order, F.col(id_col))
    ranked = (df.where(F.col(gkey).isNotNull())
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= size))
    gorder = F.col("_gbest").asc() if asc else F.col("_gbest").desc()
    top = (ranked.where(F.col("rank") == 1)
                 .select(F.col(gkey).alias("_gk"),
                         F.col("score").alias("_gbest"),
                         F.col(id_col).alias("_gid"))
                 .orderBy(gorder, "_gid").limit(limit))
    return (ranked.join(F.broadcast(top), F.col(gkey) == F.col("_gk"))
                  .orderBy(gorder, "_gid", "rank")
                  .drop("_gk", "_gbest", "_gid"))


def _head_page(df, asc, payload, offset, limit, id_col="vec_id"):
    """An offset page cut to offset+limit rows, then array-sorted and
    exploded."""
    order = F.col("score").asc() if asc else F.col("score").desc()
    top = df.orderBy(order, F.col(id_col)).limit(offset + limit)
    arr = top.agg(F.array_sort(F.collect_list(F.struct(
        (F.col("score") * (1.0 if asc else -1.0)).alias("_ns"),
        F.col(id_col).alias("_id"),
        F.struct("score", *payload).alias("_row")))).alias("a"))
    return (arr.select(F.posexplode("a").alias("_pos", "_s"))
               .where(F.col("_pos") >= offset)
               .select(F.col("_s._id").alias(id_col),
                       *[F.col(f"_s._row.{p}").alias(p) for p in payload],
                       F.col("_s._row.score").alias("score")))


def _head_scroll(df, payload, offset, limit, id_col="vec_id"):
    page = df.select(id_col, *payload).orderBy(id_col).limit(offset + limit)
    arr = page.agg(F.array_sort(F.collect_list(F.struct(
        F.col(id_col).alias("_id"),
        F.struct(*payload).alias("_row") if payload
        else F.lit(0).alias("_row")))).alias("a"))
    return (arr.select(F.posexplode("a").alias("_pos", "_s"))
               .where(F.col("_pos") >= offset)
               .select(F.col("_s._id").alias(id_col),
                       *[F.col(f"_s._row.{p}").alias(p) for p in payload]))


@pytest.fixture(scope="module")
def shaped(spark, tmp_path_factory):
    """(frame, query): 40 rows of dim 4 in groups of 1 to 6 rows, with
    duplicated vectors (tied scores), a group of zero vectors (NULL
    cosine) and a row with no group."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    x = rng.standard_normal((40, 4)).astype(np.float32)
    x[20:24] = x[3]                # ties across and inside groups
    x[30:33] = 0.0                 # group 9: NULL cosine only
    label = [min(i // 4, 8) if i < 30 else 9 for i in range(40)]
    label[0], label[1], label[2] = 10, 11, 12   # groups of one row
    label[39] = None
    d = tmp_path_factory.mktemp("shaped")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(40), pa.int64()),
        "label": pa.array(label, pa.int32()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
    }), str(d / "in.parquet"))
    frame = spark.read.parquet(str(d / "in.parquet"))
    return frame, [float(v) for v in x[5]]


def _scored(frame, q, metric, payload=("label",)):
    return frame.select("vec_id", *payload, D.METRICS[metric](
        "embedding", D.vector_sql(q)).alias("score"))


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
@pytest.mark.parametrize("zero_query", [False, True])
@pytest.mark.parametrize("size, limit", [(1, 3), (3, 4), (5, 20)])
def test_one_scan_group_matches_two_scan_shape(shaped, metric, zero_query,
                                               size, limit):
    frame, q = shaped
    q = [0.0] * len(q) if zero_query else q
    got = search(frame, {"vector": q, "metric": metric, "limit": limit,
                         "group_by": {"key": "label", "group_size": size}})
    want = _head_group(_scored(frame, q, metric), D.ASCENDING[metric],
                       "label", size, limit)
    assert got.columns == want.columns
    rows = got.collect()
    assert rows and _bits(rows) == _bits(want.collect())


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
@pytest.mark.parametrize("zero_query", [False, True])
@pytest.mark.parametrize("offset, limit", [(3, 5), (20, 7), (38, 5),
                                           (40, 3), (60, 2)])
def test_offset_pages_match_array_sorted_shape(shaped, metric, zero_query,
                                               offset, limit):
    """A page is the slice of the unpaged order. The array-sorted shape
    sorted a NULL score first, against the top-k's NULLS LAST, so its
    pages differed where a slice held NULL and non-NULL scores."""
    frame, q = shaped
    q = [0.0] * len(q) if zero_query else q
    spec = {"vector": q, "metric": metric, "with_payload": ["label"]}
    got = search(frame, {**spec, "limit": limit, "offset": offset})
    want = _head_page(_scored(frame, q, metric), D.ASCENDING[metric],
                      ("label",), offset, limit)
    assert got.columns == want.columns
    page = _bits(got.collect())
    top = search(frame, {**spec, "limit": offset + limit}).collect()
    assert page == _bits(top[offset:])
    assert len(page) == max(0, min(limit, 40 - offset))
    mixed = len({r.score is None for r in top}) == 2
    assert page == _bits(want.collect()) or mixed


@pytest.mark.parametrize("payload", [(), ("label",)])
@pytest.mark.parametrize("offset, limit", [(0, 5), (4, 7), (38, 5),
                                           (45, 5)])
def test_scroll_pages_match_array_sorted_shape(shaped, payload, offset,
                                               limit):
    frame, _ = shaped
    filt = {"must_not": [{"key": "label", "match": 2}]}
    got = search(frame, {"limit": limit, "offset": offset,
                         "with_payload": list(payload), "filter": filt})
    want = _head_scroll(frame.where(compile_filter(filt)), payload,
                        offset, limit)
    assert got.columns == want.columns
    assert _bits(got.collect()) == _bits(want.collect())


def _executed(df) -> str:
    """The final physical plan after a run (AQE's, not its initial)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def test_null_group_key_forms_no_group(spark):
    """A row whose group key is NULL takes no group place: with the
    NULL-key row scoring best, `limit: 2` still returns groups 1 and
    2."""
    frame = spark.createDataFrame(
        [(0, None, [1.0, 0.0, 0.0, 0.0]), (1, 1, [1.0, 1.0, 0.0, 0.0]),
         (2, 2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id bigint, label int, embedding array<float>")
    got = search(frame, {"vector": [1.0, 0.0, 0.0, 0.0], "limit": 2,
                         "group_by": {"key": "label", "group_size": 1}})
    assert [(r.vec_id, r.label) for r in got.collect()] == [(1, 1), (2, 2)]


def test_group_search_scans_once(shaped):
    frame, q = shaped
    plan = _executed(search(frame, {"vector": q, "limit": 3, "group_by": {
        "key": "label", "group_size": 2}}))
    assert plan.count("FileScan") == 1, plan


def test_offset_and_scroll_pages_run_no_generate(shaped):
    frame, q = shaped
    for spec in ({"vector": q, "limit": 5, "offset": 7},
                 {"limit": 5, "offset": 7, "with_payload": ["label"]}):
        plan = _executed(search(frame, spec))
        assert "Generate" not in plan and "TakeOrderedAndProject" in plan, \
            plan
