"""Degenerate-corpus gate for the r6 session-2 ops (ES|QL v2 +
commands, pipeline trio, composition pair): empty, single-row, and
whitespace corpora must degrade gracefully — ANSI mode turns sloppy
sequence/fold/division edges into runtime errors, and collect_list
reduces over empty frames must emit zero rows, not crash.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row


def _mk(spark, tmp_path, name, table, schema, rows):
    sf = str(tmp_path / name)
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(rows, schema).write.mode("overwrite") \
         .parquet(f"{sf}/{table}.parquet")
    return sf


_DOCS = ("doc_id long, text string, lang string, "
         "source string, n_chars long")
_EVENTS = ("event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string")
_EMB = "vec_id long, embedding array<float>, label int"
_ORDERS = ("o_orderkey long, o_custkey long, o_orderstatus string, "
           "o_totalprice double, o_orderdate timestamp, "
           "o_orderpriority string")


def test_esql2_doc_ops_survive_degenerate_corpora(spark, tmp_path):
    from unified_vector_database_spark.operators import esql as ESQL
    from unified_vector_database_spark.operators import lm as LM
    from unified_vector_database_spark.operators import quality as Q

    empty = _mk(spark, tmp_path, "d_empty", "documents", _DOCS, [])
    single = _mk(spark, tmp_path, "d_single", "documents", _DOCS,
                 [Row(doc_id=0, text="a b", lang="en",
                      source="s", n_chars=3)])
    ws = _mk(spark, tmp_path, "d_ws", "documents", _DOCS,
             [Row(doc_id=0, text="   ", lang="en",
                  source="s", n_chars=3)])
    ops = [ESQL.esql_mv_funcs, ESQL.esql_rerank, LM.ngram_entropy,
           Q.quality_pr_curve]
    for sf in (empty, single, ws):
        for op in ops:
            op(spark, sf).collect()  # must not raise
    # a whitespace-only doc has zero tokens: it is outside the Gopher
    # universe, so every PR-curve row has an empty confusion matrix
    rows = Q.quality_pr_curve(spark, ws).collect()
    assert all(r.tp == 0 and r.fp == 0 and r.fn == 0 for r in rows)
    # single 2-token doc: one bigram, one bucket, entropy 0
    [e] = LM.ngram_entropy(spark, single).collect()
    assert (e.n_bigrams, e.n_buckets, e.entropy) == (1, 1, 0.0)
    assert LM.ngram_entropy(spark, empty).collect() == []


def test_esql2_order_event_ops_survive_degenerate_corpora(
        spark, tmp_path):
    from unified_vector_database_spark.operators import esql as ESQL

    e_empty = _mk(spark, tmp_path, "e_empty", "events", _EVENTS, [])
    o_empty = _mk(spark, tmp_path, "o_empty", "orders", _ORDERS, [])
    o_one = _mk(spark, tmp_path, "o_one", "orders", _ORDERS,
                [Row(o_orderkey=1, o_custkey=1, o_orderstatus="F",
                     o_totalprice=10.0, o_orderdate=None,
                     o_orderpriority="1-URGENT")])
    # CHANGE_POINT over an empty/1-bucket series: the n >= 2 guard
    # emits ZERO rows rather than dividing by an empty split
    assert ESQL.esql_change_point(spark, e_empty).collect() == []
    for sf in (o_empty, o_one):
        ESQL.esql_bucket(spark, sf).collect()
        ESQL.esql_sample(spark, sf).collect()
        ESQL.esql_fork(spark, sf).collect()
    forked = ESQL.esql_fork(spark, o_one).collect()
    # one order: fork1 page has it, fork2 census counts it
    assert {r._fork for r in forked} == {"fork1", "fork2"}


def test_session2_vector_ops_survive_degenerate_corpora(spark, tmp_path):
    from unified_vector_database_spark.operators import cleanup as CL
    from unified_vector_database_spark.operators import knn as K

    empty = _mk(spark, tmp_path, "v_empty", "embeddings", _EMB, [])
    # a lone benchmark vector (id 0 = bench under %25) and a lone
    # train vector
    pair = _mk(spark, tmp_path, "v_pair", "embeddings", _EMB,
               [Row(vec_id=0, embedding=[1.0] * 64, label=1),
                Row(vec_id=1, embedding=[1.0] * 64, label=1)])
    zero = _mk(spark, tmp_path, "v_zero", "embeddings", _EMB,
               [Row(vec_id=0, embedding=[0.0] * 64, label=1),
                Row(vec_id=1, embedding=[0.0] * 64, label=1)])
    for sf in (empty, pair, zero):
        CL.embedding_decontaminate(spark, sf).collect()
        K.near_vector_aggregate(spark, sf).collect()
    [r] = CL.embedding_decontaminate(spark, pair).collect()
    assert r.vec_id == 1 and r.contaminated and r.max_sim == 1.0
    # zero-norm vectors: cosine is NULL (try_divide), never a crash,
    # and NULL similarities are not "contaminated"
    [z] = CL.embedding_decontaminate(spark, zero).collect()
    assert z.max_sim is None and z.n_hits == 0


def test_near_video_self_match_and_degenerate(spark, tmp_path):
    from unified_vector_database_spark.operators import multimodal as MM

    empty = _mk(spark, tmp_path, "nv_empty", "documents", _DOCS, [])
    two = _mk(spark, tmp_path, "nv_two", "documents", _DOCS,
              [Row(doc_id=0, text="a b c", lang="en", source="s",
                   n_chars=5),
               Row(doc_id=7, text="x y z", lang="en", source="s",
                   n_chars=5)])
    assert MM.near_video_search(spark, empty).collect() == []
    rows = MM.near_video_search(spark, two).collect()
    # the query video matches itself at distance zero, first
    assert rows[0].media_id == 0 and rows[0].dist == 0.0
    assert len(rows) == 2 and rows[1].dist > 0.0


def test_bool_query_clause_semantics(spark, sf_dir):
    """Every hit satisfies all four clause kinds; scores agree with
    the component BM25 on the shared terms; filter clause contributes
    no score (an en/de pair with identical text scores identically)."""
    from unified_vector_database_spark.operators.query_dsl import (
        BOOL_FILTER_LANG, BOOL_MSM, BOOL_MUST, BOOL_NOT, BOOL_SHOULD,
        bool_query_search,
    )
    rows = bool_query_search(spark, sf_dir).collect()
    assert rows
    docs = {r.doc_id: r for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    for r in rows:
        toks = set(t for t in docs[r.doc_id].text.strip().split(" ") if t)
        assert BOOL_MUST in toks
        assert BOOL_NOT not in toks
        assert docs[r.doc_id].lang == BOOL_FILTER_LANG
        n_should = sum(1 for t in BOOL_SHOULD if t in toks)
        assert n_should >= BOOL_MSM and r.n_should == n_should
    # scores strictly ordered page (md5-free BM25 can tie; doc_id
    # breaks it deterministically)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_minhash_estimate_error_bounds(spark, sf_dir, tmp_path):
    from unified_vector_database_spark.operators.dedup import (
        minhash_estimate_error,
    )
    rows = minhash_estimate_error(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est <= 1.0
        assert 0.0 <= r.mean_jaccard <= 1.0
        assert 0.0 <= r.mean_abs_err <= 1.0
        assert r.n_pairs > 0
    # ests are k=8 quantized (multiples of 1/8)
    assert all(abs(r.est * 8 - round(r.est * 8)) < 1e-9 for r in rows)
    # empty corpus: no candidates, zero rows, no crash
    empty = _mk(spark, tmp_path, "mee_empty", "documents", _DOCS, [])
    assert minhash_estimate_error(spark, empty).collect() == []
