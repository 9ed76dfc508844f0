"""Degenerate-corpus gate for the r11-r16 session ops: empty,
single-row, and whitespace corpora must degrade gracefully (ANSI mode
turns sloppy sequence/fold/division edge cases into runtime errors).
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row, functions as F


def _mk_docs(spark, tmp_path, name, rows):
    sf = str(tmp_path / name)
    os.makedirs(sf, exist_ok=True)
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, "
              "source string, n_chars long")
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def _mk_events(spark, tmp_path, name, rows):
    sf = str(tmp_path / name)
    os.makedirs(sf, exist_ok=True)
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    return sf


def _mk_emb(spark, tmp_path, name, rows):
    sf = str(tmp_path / name)
    os.makedirs(sf, exist_ok=True)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    return sf


def test_r16_doc_ops_survive_degenerate_corpora(spark, tmp_path):
    from unified_vector_database_spark.operators import (
        aggregations as AGG, cleanup as CL, graph as G, sampling as SA,
    )

    empty = _mk_docs(spark, tmp_path, "d_empty", [])
    single = _mk_docs(spark, tmp_path, "d_single",
                      [Row(doc_id=0, text="a", lang="en",
                           source="s", n_chars=1)])
    ws = _mk_docs(spark, tmp_path, "d_ws",
                  [Row(doc_id=0, text="   ", lang="en",
                       source="s", n_chars=3)])
    ops = [G.graph_explore, AGG.sigterms_background_filter,
           AGG.mode_agg, AGG.terms_shard_error,
           CL.span_corruption_census, SA.curriculum_schedule]
    for sf in (empty, single, ws):
        for op in ops:
            op(spark, sf).collect()  # must not raise
    # semantics spot checks
    assert G.graph_explore(spark, empty).collect() == []
    rows = CL.span_corruption_census(spark, ws).collect()
    assert len(rows) == 1 and rows[0].total_tokens == 0
    cur = SA.curriculum_schedule(spark, single).collect()
    assert sum(r.n_docs for r in cur) == 1


def test_r16_event_ops_survive_degenerate_corpora(spark, tmp_path):
    from unified_vector_database_spark.operators import (
        esql as Q, timeseries as TS,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    empty = _mk_events(spark, tmp_path, "e_empty", [])
    single = _mk_events(spark, tmp_path, "e_single",
                        [Row(event_id=0, ts=t0, user_id=1,
                             event_type="purchase", value=5.0,
                             props='{"k": 1}')])
    ops = [TS.eql_sequence, TS.counter_rate_resets, Q.esql_grok]
    for sf in (empty, single):
        for op in ops:
            op(spark, sf).collect()
    assert TS.eql_sequence(spark, single).collect() == []
    # one event -> no deltas, no series with n >= 2
    assert TS.counter_rate_resets(spark, single).collect() == []


def test_r16_vector_ops_survive_degenerate_corpora(spark, tmp_path):
    from unified_vector_database_spark.operators import (
        evaluation as EV, index as IX, knn as KN,
    )

    dim = 64
    empty = _mk_emb(spark, tmp_path, "v_empty", [])
    single = _mk_emb(spark, tmp_path, "v_single",
                     [Row(vec_id=0, embedding=[1.0] * dim, label=1)])
    # formula_rescore joins documents payload — give both corpora one
    for sf, docs in ((empty, []),
                     (single, [Row(doc_id=0, text="a", lang="en",
                                   source="s", n_chars=1)])):
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, "
                  "source string, n_chars long") \
            .write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    ops = [IX.substructure_knn, EV.err_rank_eval, EV.batch_rank_eval,
           KN.prefetch_maxsim_rerank, KN.formula_rescore,
           EV.kmeans_inertia_curve, IX.pq_reconstruct_error]
    for sf in (empty, single):
        for op in ops:
            op(spark, sf).collect()
    # the single corpus: vec 0 is the query; self-match only
    got = IX.substructure_knn(spark, single).collect()
    assert len(got) == 1 and got[0].sub_dist == 0.0
    assert EV.err_rank_eval(spark, single).collect()[0].err_at_k == 0.0


# ------------------------------------- cross-modal / audio retrieval

def test_text_image_alignment_is_exact_for_own_text(spark, tmp_path):
    """Dual-encoder alignment contract: a document whose text IS the
    query must decode to exactly the query's features (dist 0) —
    with the stub codec, images are deterministic functions of text,
    so the text tower and the image tower must land on the same
    point."""
    from unified_vector_database_spark.operators.multimodal import (
        TXT_IMG_QUERY, text_image_search,
    )

    sf = str(tmp_path / "xmodal")
    os.makedirs(sf, exist_ok=True)
    rows = [Row(doc_id=0, text=TXT_IMG_QUERY, lang="en",
                source="s", n_chars=len(TXT_IMG_QUERY)),
            Row(doc_id=1, text="something entirely different here",
                lang="en", source="s", n_chars=33)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, "
              "source string, n_chars long") \
        .write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = text_image_search(spark, sf).collect()
    assert got[0].media_id == 0 and got[0].dist == 0.0
    assert got[1].dist > 0.0


def test_near_audio_self_match_and_bounds(spark, sf_dir):
    from unified_vector_database_spark.operators.multimodal import (
        near_audio_search,
    )

    got = near_audio_search(spark, sf_dir).collect()
    assert got[0].media_id == 0 and got[0].dist == 0.0
    dists = [r.dist for r in got]
    assert dists == sorted(dists)
    # normalized axes: every distance is within sqrt(3) of the origin
    assert all(0.0 <= d <= 1.7320508 + 1e-9 for d in dists)


# --------------------------------------- training-planning pair (r18)

def test_epoch_plan_arithmetic_and_scarcity_flag(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.sampling import (
        EPOCH_BUDGET_TOKENS, EPOCH_MAX_REPEAT, LANG_MIX, epoch_plan,
    )

    toks = dict(duck.execute("""
        SELECT lang, sum(len(list_filter(string_split(trim(text), ' '),
                                         t -> t <> '')))
        FROM documents GROUP BY lang""").fetchall())
    got = {r.lang: r for r in epoch_plan(spark, sf_dir).collect()}
    assert set(got) == {l for l, _ in LANG_MIX}
    for lang, wt in LANG_MIX:
        r = got[lang]
        assert r.corpus_tokens == toks[lang]
        alloc = round(EPOCH_BUDGET_TOKENS * wt)
        assert r.allocated_tokens == alloc
        assert r.epochs == pytest.approx(alloc / toks[lang], abs=2e-6)
        assert r.scarce == (alloc / toks[lang] > EPOCH_MAX_REPEAT)
    # mixture weights cover the budget
    assert sum(w for _, w in LANG_MIX) == pytest.approx(1.0)


def test_dataset_card_metrics_consistent(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.quality import (
        dataset_card,
    )

    got = {r.metric: r.value for r in dataset_card(spark, sf_dir).collect()}
    n = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert got["n_docs"] == n
    assert 0.0 <= got["exact_dup_rate"] < 1.0
    assert 0.0 <= got["short_doc_rate"] <= 1.0
    assert got["total_tokens"] > 0 and got["vocab_size"] > 0
    assert got["mean_doc_tokens"] == pytest.approx(
        got["total_tokens"] / got["n_docs"], abs=1e-5)


# ------------------------------------------ pre-training capstone

def test_pipeline_census_stage_invariants(spark, duck, sf_dir):
    """Each stage's invariant: census totals == kept-and-deduped doc
    set; contexts cover tokens with < CTX padding per shard."""
    from unified_vector_database_spark.operators.quality import (
        PIPE_CTX_TOKENS, PIPE_SHARDS, gopher_keep,
        pretrain_pipeline_census,
    )
    from unified_vector_database_spark import tables

    rows = pretrain_pipeline_census(spark, sf_dir).collect()
    docs = tables.load(spark, sf_dir, "documents")
    kept = gopher_keep(docs).where("keep") \
        .join(docs.select("doc_id", F.md5("text").alias("h")), "doc_id")
    n_kept_unique = kept.groupBy("h").count().count()
    assert sum(r.n_docs for r in rows) == n_kept_unique
    for r in rows:
        assert 0 <= r.pad_tokens < PIPE_CTX_TOKENS
        assert r.n_contexts * PIPE_CTX_TOKENS == \
            r.total_tokens + r.pad_tokens
        assert 0 < r.pack_efficiency <= 1.0
        assert 0 <= r.shard < PIPE_SHARDS


def test_snapshot_restore_rewinds_and_continues(spark, sf_dir, tmp_path):
    """Restore must rewind mutations exactly, and the restored head
    must accept new commits (version monotonicity preserved)."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.sources.catalog import Collection

    emb = tables.load(spark, sf_dir, "embeddings") \
        .select("vec_id", "label").where(F.col("vec_id") < 50)
    base = str(tmp_path / "sr")
    c = Collection.create(spark, base, "t", id_col="vec_id")
    c.upsert(emb)
    clean = sorted(tuple(r) for r in c.read().collect())
    v_clean = c.describe().version
    c.snapshot("pin")
    c.update(F.col("label") >= 0, label=F.col("label") + 7)
    c.delete(F.col("vec_id") % 2 == 0)
    assert sorted(tuple(r) for r in c.read().collect()) != clean
    c.restore("pin")
    assert sorted(tuple(r) for r in c.read().collect()) == clean
    assert c.describe().version == v_clean
    c.upsert(emb.limit(5))
    assert c.read().count() == len(clean)
