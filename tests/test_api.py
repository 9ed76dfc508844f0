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
