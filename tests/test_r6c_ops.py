"""Round-6 late-wave checks: independent-model and plan/semantics
tests for the r7-wave(2/2) operators (keyset pagination, multi-target
knn, lookup_from recommend, parent agg, span_or, n-gram novelty,
runtime fields, script_score) — the defect class the hash oracle
cannot see when both engines share a bug.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_search_after_cursor_reaches_the_scan(spark, sf_dir):
    # The op's whole at-scale claim: the keyset cursor is a pushed
    # range predicate, not a post-scan filter over everything.
    from unified_vector_database_spark.operators.query_dsl import (
        search_after_page,
    )

    plan = search_after_page(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_search_after_is_the_next_offset_page(spark, sf_dir):
    # Keyset semantics == offset semantics at the same cursor: the
    # page equals the full (date, key) order restarted strictly after
    # the cursor tuple.
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.query_dsl import (
        SA_CURSOR_DATE, SA_CURSOR_KEY, SA_PAGE, search_after_page,
    )

    got = [(r.o_orderkey, r.o_orderdate)
           for r in search_after_page(spark, sf_dir).collect()]
    full = sorted(
        (r.o_orderdate, r.o_orderkey)
        for r in tables.load(spark, sf_dir, "orders")
        .select("o_orderdate", "o_orderkey").collect())
    import datetime
    cur = (datetime.datetime.fromisoformat(SA_CURSOR_DATE), SA_CURSOR_KEY)
    want = [(k, d) for (d, k) in full if (d, k) > cur][:SA_PAGE]
    assert got == want


def test_multi_target_fuses_by_sum_and_excludes_targets(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        MT_TARGETS, multi_target_knn,
    )

    rows = multi_target_knn(spark, sf_dir).collect()
    assert rows and all(r.vec_id not in MT_TARGETS for r in rows)
    for r in rows:
        # fused = a + b up to the independent rounding of each term
        assert abs(r.score - (r.score_a + r.score_b)) <= 2e-6


def test_multi_target_top1_matches_numpy(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    from unified_vector_database_spark.operators.query_dsl import (
        MT_TARGETS, multi_target_knn,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    x = np.array([list(v) for v in t["embedding"]], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    qa = xn[list(ids).index(MT_TARGETS[0])]
    qb = xn[list(ids).index(MT_TARGETS[1])]
    s = xn @ qa + xn @ qb
    mask = ~np.isin(ids, MT_TARGETS)
    best = ids[mask][np.argmax(s[mask])]
    top = multi_target_knn(spark, sf_dir).collect()[0]
    assert top.vec_id == best


def test_lookup_from_queries_a_with_vectors_from_b(spark, sf_dir):
    # Collections are label-disjoint: every hit must be in A
    # (label < min), and the positives' own ids can never appear.
    from unified_vector_database_spark.operators.query_dsl import (
        LOOKUP_LABEL_MIN, recommend_lookup_from,
    )

    rows = recommend_lookup_from(spark, sf_dir).collect()
    assert rows and all(r.label < LOOKUP_LABEL_MIN for r in rows)


def test_parent_agg_dedups_parents_per_bucket(spark, sf_dir):
    # n_parents counts each order once per bucket (ES parent-scope
    # doc_count), so it must equal the distinct-parent census — and
    # stay <= n_children, which counts every child.
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import parent_agg

    got = {r.l_linestatus: r for r in parent_agg(spark, sf_dir).collect()}
    li = tables.load(spark, sf_dir, "lineitem")
    want = {r.l_linestatus: r.n
            for r in li.groupBy("l_linestatus")
            .agg(F.countDistinct("l_orderkey").alias("n")).collect()}
    assert set(got) == set(want)
    for k, r in got.items():
        assert r.n_parents == want[k]
        assert r.n_parents <= r.n_children


def test_span_or_is_the_clause_union(spark, sf_dir):
    # A span_or match set is exactly the union of its clauses' match
    # sets, scored additively.
    from unified_vector_database_spark.operators.query_dsl import (
        _span_frames, span_or_search,
    )

    f = _span_frames(spark, sf_dir).select(
        "doc_id", F.size("pl").alias("nl"), F.size("big").alias("nb"))
    clause = {r.doc_id: (r.nl, r.nb) for r in f.collect()
              if r.nl + r.nb > 0}
    got = {r.doc_id: (r.n_little, r.n_big, r.n_spans)
           for r in span_or_search(spark, sf_dir).collect()}
    assert got  # non-trivial corpus hit
    for d, (nl, nb, ns) in got.items():
        assert (nl, nb) == clause[d] and ns == nl + nb


def test_ngram_novelty_matches_python_model(spark, sf_dir):
    # Independent pure-Python re-derivation of the keep-first
    # ownership rule over the raw parquet.
    import pyarrow.parquet as pq

    from unified_vector_database_spark.operators.dedup import (
        _SHINGLE_N, ngram_novelty,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    first: dict[str, int] = {}
    per_doc: dict[int, set] = {}
    for doc_id, text in sorted(zip(t["doc_id"], t["text"])):
        toks = [w for w in text.strip().split(" ") if w]
        gs = {" ".join(toks[i:i + _SHINGLE_N])
              for i in range(max(len(toks) - _SHINGLE_N + 1, 0))}
        per_doc[doc_id] = gs
        for g in gs:
            first.setdefault(g, doc_id)
    model = {}
    for doc_id, gs in per_doc.items():
        if gs:
            novel = sum(1 for g in gs if first[g] == doc_id)
            model[doc_id] = (len(gs), novel)
    rows = ngram_novelty(spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        n, novel = model[r.doc_id]
        assert (r.n_grams, r.n_novel) == (n, novel)
        assert r.novelty == pytest.approx(novel / n, abs=1e-6)
    # the page really is the 25 least novel docs
    want = sorted(((novel / n), d) for d, (n, novel) in model.items())[:25]
    assert [d for _, d in want] == [r.doc_id for r in rows]


def test_runtime_field_filter_collapses_into_scan(spark, sf_dir):
    # Schema-on-read promise: the derived-field filter must not
    # materialize an extra exchange — the plan stays scan -> project/
    # filter -> partial agg -> exchange -> final agg (one shuffle).
    from unified_vector_database_spark.operators.aggregations import (
        runtime_field_agg,
    )

    df = runtime_field_agg(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # agg + final orderBy only


def test_script_score_monotone_in_label_boost(spark, sf_dir):
    # With the cosine term held fixed (self-similarity of the query
    # row is 1.0 for any metric), the boost must be ln-monotone.
    import math

    from unified_vector_database_spark.operators.query_dsl import (
        SCRIPT_SCORE_WEIGHT, script_score_search,
    )

    rows = script_score_search(spark, sf_dir).collect()
    assert rows
    for r in rows:
        cos = r.score - SCRIPT_SCORE_WEIGHT * math.log(1 + r.label)
        assert -1.0 - 1e-4 <= cos <= 1.0 + 1e-4


# ----------------------------------------- highlighting and suggesters


def test_sliced_scroll_is_disjoint_and_complete(spark, sf_dir):
    # The census must partition the corpus: slice ids 0..N-1, counts
    # summing to |documents| (disjointness + completeness — the
    # property parallel export relies on).
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.query_dsl import (
        SCROLL_SLICES, sliced_scroll,
    )

    rows = sliced_scroll(spark, sf_dir).collect()
    assert [r.slice_id for r in rows] == list(range(SCROLL_SLICES))
    total = tables.load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total


def test_suggest_term_finds_the_obvious_corrections(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        SUGGEST_MAX_EDITS, suggest_term,
    )

    rows = suggest_term(spark, sf_dir).collect()
    top = {r.qterm: r.suggestion for r in rows if r.rank == 1}
    assert top["merg"] == "merge" and top["scann"] == "scan"
    for r in rows:
        assert r.suggestion[0] == r.qterm[0]        # prefix_length=1
        assert 1 <= r.dist <= SUGGEST_MAX_EDITS


def test_highlight_wraps_first_occurrence_in_window(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        HL_TERM, HL_WINDOW, highlight_search,
    )

    rows = highlight_search(spark, sf_dir).collect()
    assert rows
    for r in rows:
        toks = r.fragment.split(" ")
        assert f"<em>{HL_TERM}</em>" in toks
        assert len(toks) <= 2 * HL_WINDOW + 1


def test_knn_cutoff_is_a_filtered_topk(spark, sf_dir):
    from unified_vector_database_spark.operators.knn import (
        corpus_with_query, cosine_score, knn,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        KNN_CUT_K, KNN_CUT_SIM, knn_similarity_cutoff,
    )
    import pyspark.sql.functions as F

    got = knn_similarity_cutoff(spark, sf_dir).collect()
    assert all(r.score >= KNN_CUT_SIM for r in got)
    corpus, q = corpus_with_query(spark, sf_dir)
    full = {r.vec_id for r in knn(corpus, q, k=KNN_CUT_K,
                                  payload=("label",),
                                  score=cosine_score()).collect()}
    assert {r.vec_id for r in got} <= full


def test_term_vectors_matches_python_recount(spark, sf_dir):
    import pyarrow.parquet as pq
    from collections import Counter

    from unified_vector_database_spark.operators.query_dsl import (
        TV_DOC_ID, term_vectors,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))[TV_DOC_ID]
    toks = [w for w in text.strip().split(" ") if w]
    tf = Counter(toks)
    first = {}
    for i, w in enumerate(toks):
        first.setdefault(w, i + 1)
    for r in term_vectors(spark, sf_dir).collect():
        assert r.term_freq == tf[r.term]
        assert r.first_pos == first[r.term]


def test_query_string_field_clause_reaches_the_scan(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        query_string_search,
    )

    df = query_string_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "lang" in pushed


# ----------------------------- r7 wave 4 checks


def test_stream_quality_gate_equals_batch_census(spark, sf_dir):
    # The streaming fixpoint must reproduce the batch Gopher census
    # exactly (same imported rule expressions, order-free state).
    from unified_vector_database_spark.operators.quality import (
        gopher_quality_rules,
    )
    from unified_vector_database_spark.streaming.ingest import (
        stream_quality_gate,
    )

    batch = {(r.lang, r.keep): (r.n_docs, r.total_words)
             for r in gopher_quality_rules(spark, sf_dir).collect()}
    stream = {(r.lang, r.keep): (r.n_docs, r.total_words)
              for r in stream_quality_gate(spark, sf_dir).collect()}
    assert stream == batch and batch


def test_sampled_significant_terms_fg_is_sample_bounded(spark, sf_dir):
    # Foreground doc counts can never exceed the sampled foreground
    # size, and every term's fg_docs <= bg_docs (fg ⊆ corpus).
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.sampling import (
        SAMPLER_SHARD_SIZE, SST_LANG, sampled_significant_terms,
    )

    rows = sampled_significant_terms(spark, sf_dir).collect()
    assert rows
    n_shards = tables.load(spark, sf_dir, "documents") \
        .select("source").distinct().count()
    cap = n_shards * SAMPLER_SHARD_SIZE
    for r in rows:
        assert 0 < r.fg_docs <= cap
        assert r.fg_docs <= r.bg_docs
        assert r.jlh_score == r.jlh_score  # not NaN


# ----------------------------- r7 wave 5 checks


def test_weighted_sample_k_matches_python_es_model(spark, sf_dir):
    # Independent Efraimidis-Spirakis re-derivation: same md5 coin,
    # same weights, same key formula — the top-k sets must agree.
    import hashlib

    import pyarrow.parquet as pq

    from unified_vector_database_spark.operators.sampling import (
        WSK_K, weighted_sample_k,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    keys = {}
    for doc_id, text in zip(t["doc_id"], t["text"]):
        toks = [w for w in text.strip().split(" ") if w]
        if not toks:
            continue
        n = len(toks)
        stop = sum(1 for w in toks if w in ("the", "a")) / n
        avg = sum(len(w) for w in toks) / n
        quality = (0.4 * min(n / 100.0, 1.0) + 0.3 * (1.0 - stop)
                   + 0.3 * min(avg / 8.0, 1.0))
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15],
                16) / float(1 << 60)
        keys[doc_id] = round(u ** (1.0 / max(quality, 1e-6)), 6)
    want = [d for _, d in
            sorted(((k, d) for d, k in keys.items()),
                   key=lambda p: (-p[0], p[1]))][:WSK_K]
    got = [r.doc_id for r in weighted_sample_k(spark, sf_dir).collect()]
    assert got == want


def test_token_budget_trim_respects_the_budget(spark, sf_dir):
    # full-tier tokens <= budget; full + boundary-bucket tokens
    # could exceed it only by the fractional-admission variance, and
    # full+partial+dropped must census the whole corpus.
    import pyspark.sql.functions as F

    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.cleanup import (
        TBT_BUDGET_FRAC, token_budget_trim,
    )
    from unified_vector_database_spark.functions.text import tokens

    rows = {r.tier: r for r in token_budget_trim(spark, sf_dir).collect()}
    assert set(rows) <= {"a_full", "b_partial", "c_dropped"}
    docs = tables.load(spark, sf_dir, "documents")
    total = docs.select(F.sum(F.size(tokens("text"))).alias("t")) \
                .collect()[0].t
    budget = total // TBT_BUDGET_FRAC
    kept_full = rows["a_full"].n_tokens if "a_full" in rows else 0
    assert kept_full <= budget
    assert sum(r.n_tokens for r in rows.values()) == total
    assert sum(r.n_docs for r in rows.values()) == docs.where(
        F.size(tokens("text")) > 0).count()


# ----------------------------- r7 wave 6 checks


def test_hw_forecast_continues_the_fitted_state(spark, sf_dir):
    # f_h = level_n + h*trend_n + seasonal[h] recomputed from the
    # smoothing view's own last rows — the forecast must be the
    # arithmetic continuation of the published fit.
    from unified_vector_database_spark.operators.stats import (
        HW_PERIOD, holt_winters_forecast, holt_winters_smoothing,
    )

    fit = holt_winters_smoothing(spark, sf_dir).collect()
    assert len(fit) >= HW_PERIOD
    last = fit[-1]
    season = [r.seasonal for r in fit[-HW_PERIOD:]]
    got = holt_winters_forecast(spark, sf_dir).collect()
    assert [r.h for r in got] == list(range(1, HW_PERIOD + 1))
    for r in got:
        want = last.level + r.h * last.trend + season[r.h - 1]
        # both sides round-6 independently; fit columns are rounded so
        # the recomposition tolerance is a few 1e-6 ulps
        assert abs(r.forecast - want) < 5e-6, (r.h, r.forecast, want)


def test_matryoshka_curve_is_monotone_and_tops_out(spark, sf_dir):
    # recall must reach 1.0 at the full dimension (the "truncation"
    # IS the exact ranking there) and every recall is a valid k-frac.
    from unified_vector_database_spark.operators.evaluation import (
        MRL_DIMS, MRL_K, matryoshka_recall_curve,
    )

    rows = matryoshka_recall_curve(spark, sf_dir).collect()
    assert [r.dim for r in rows] == list(MRL_DIMS)
    by_dim = {r.dim: r for r in rows}
    assert by_dim[MRL_DIMS[-1]].hits == MRL_K
    for r in rows:
        assert 0 <= r.hits <= MRL_K
        assert r.recall == pytest.approx(r.hits / MRL_K, abs=1e-9)
