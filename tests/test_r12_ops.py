"""Round-6 r12-wave checks: independent Python re-derivations and
plan/property tests for the new ops (EQL sequence, TSDB counter rate,
Graph explore, Weaviate numeric Aggregate, Milvus substructure
metrics, k-means inertia curve) — the defect class the hash oracle
cannot see when both engines share a bug.
"""

from __future__ import annotations

import collections
import math

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------- eql_sequence

def test_eql_matches_sequential_state_machine(spark, duck, sf_dir):
    """Re-derive with the literal per-user sequential scan: walk each
    user's events in time order carrying (last view, last click+its
    view) state — the textbook EQL state machine — and compare the
    day census."""
    from unified_vector_database_spark.operators.timeseries import (
        EQL_MAXSPAN_S, eql_sequence,
    )

    rows = duck.execute("""
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
        ORDER BY user_id, ts, event_id""").fetchall()
    per_day = collections.defaultdict(lambda: [0, set(), 0])
    state: dict[int, list] = {}
    for uid, _eid, et, ts in rows:
        lv, lc = state.setdefault(uid, [None, None])
        if et == "purchase" and lc is not None:
            span = (ts - lc[1]).total_seconds()
            if span <= EQL_MAXSPAN_S:
                d = per_day[ts.date()]
                d[0] += 1
                d[1].add(uid)
                d[2] += span
        if et == "view":
            state[uid][0] = ts
        elif et == "click" and lv is not None:
            state[uid][1] = (ts, lv)
    want = sorted(
        (day, n, len(users), round(tot / n, 6))
        for day, (n, users, tot) in per_day.items())
    got = [(r.day, r.n_sequences, r.n_users, r.avg_span_s)
           for r in eql_sequence(spark, sf_dir).collect()]
    assert len(got) > 0
    assert [(d, n, u) for d, n, u, _ in want] == \
        [(d, n, u) for d, n, u, _ in got]
    for (_, _, _, a), (_, _, _, b) in zip(want, got):
        assert a == pytest.approx(b, abs=2e-6)


# ------------------------------------------------ counter_rate_resets

def test_counter_rate_matches_pure_python(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.timeseries import (
        RATE_TOP, counter_rate_resets,
    )

    rows = duck.execute("""
        SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP))
        FROM events ORDER BY user_id, ts, event_id""").fetchall()
    by_user = collections.defaultdict(list)
    for uid, v, us in rows:
        by_user[uid].append((v, us))
    out = []
    for uid, seq in by_user.items():
        if len(seq) < 2:
            continue
        total, resets = 0.0, 0
        prev = None
        for v, _ in seq:
            if prev is None:
                inc = 0.0
            elif v < prev:
                inc, resets = v, resets + 1
            else:
                inc = v - prev
            total += round(inc, 6)
            prev = v
        hours = (seq[-1][1] - seq[0][1]) / 3_600_000_000
        if hours > 0:
            out.append((uid, len(seq), resets, round(total, 6),
                        round(total / hours, 6)))
    want = sorted(out, key=lambda r: (-r[4], r[0]))[:RATE_TOP]
    got = [(r.user_id, r.n_samples, r.n_resets, r.total_inc,
            r.rate_per_hour)
           for r in counter_rate_resets(spark, sf_dir).collect()]
    assert [w[:3] for w in want] == [g[:3] for g in got]
    for w, g in zip(want, got):
        assert w[3] == pytest.approx(g[3], abs=2e-6)
        assert w[4] == pytest.approx(g[4], abs=2e-6)


def test_counter_reset_contributes_new_value():
    """The reset rule itself: 10→3 contributes 3 (restart), not -7."""
    seq = [10.0, 3.0, 5.0]
    total, prev = 0.0, None
    for v in seq:
        total += 0.0 if prev is None else (v if v < prev else v - prev)
        prev = v
    assert total == 5.0  # 0 + 3 (reset) + 2


# -------------------------------------------------------- mode_agg

def test_mode_tie_breaks_to_smallest_value(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.aggregations import mode_agg

    rows = duck.execute(
        "SELECT lang, n_chars FROM documents").fetchall()
    by_lang = collections.defaultdict(collections.Counter)
    for lang, n in rows:
        by_lang[lang][n] += 1
    got = {r.lang: r for r in mode_agg(spark, sf_dir).collect()}
    assert set(got) == set(by_lang)
    for lang, cnt in by_lang.items():
        best = max(cnt.values())
        want_mode = min(v for v, c in cnt.items() if c == best)
        vals = sorted(cnt.elements())
        n = len(vals)
        med = (vals[n // 2] if n % 2 else
               (vals[n // 2 - 1] + vals[n // 2]) / 2)
        r = got[lang]
        assert r.mode_n_chars == want_mode
        assert r.n_docs == n
        assert r.median_val == pytest.approx(med, abs=1e-9)
        assert r.mean_val == pytest.approx(sum(vals) / n, abs=2e-6)
        assert r.min_val == vals[0] and r.max_val == vals[-1]


# -------------------------------------------------- substructure_knn

def test_substructure_query_is_its_own_exact_match(spark, sf_dir):
    """vec 0 (the query) is in the corpus: both distances must be 0
    for it and it must rank first."""
    from unified_vector_database_spark.operators.index import (
        substructure_knn,
    )

    got = substructure_knn(spark, sf_dir).collect()
    assert got[0].vec_id == 0
    assert got[0].sub_dist == 0.0 and got[0].super_dist == 0.0
    for r in got:
        assert 0.0 <= r.sub_dist <= 1.0 and 0.0 <= r.super_dist <= 1.0
    assert "Window" not in _plan(substructure_knn(spark, sf_dir))


def test_substructure_matches_pure_python_bits(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.index import (
        substructure_knn,
    )

    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings").fetchall()
    sigs = {}
    for vid, emb in rows:
        bits = 0
        for j, v in enumerate(emb[:64]):
            if v > 0:
                bits |= 1 << j
        sigs[vid] = bits
    q = sigs[0]
    pop_q = bin(q).count("1")
    scored = []
    for vid, s in sigs.items():
        n_and = bin(s & q).count("1")
        pop_s = bin(s).count("1")
        sub = 0.0 if pop_s == 0 else round(1 - n_and / pop_s, 6)
        sup = 0.0 if pop_q == 0 else round(1 - n_and / pop_q, 6)
        scored.append((sup, sub, vid, n_and))
    want = [(v, n, s, p) for p, s, v, n in sorted(scored)[:10]]
    got = [(r.vec_id, r.n_and, r.sub_dist, r.super_dist)
           for r in substructure_knn(spark, sf_dir).collect()]
    assert want == got


# --------------------------------------------- kmeans_inertia_curve

def test_inertia_matches_numpy_and_sample_objective_decreases(
        spark, duck, sf_dir):
    import numpy as np

    from unified_vector_database_spark.operators.evaluation import (
        INERTIA_ITERS, kmeans_inertia_curve,
    )
    from unified_vector_database_spark.operators.index import (
        KMEANS_ITERS, KMEANS_K, KMEANS_SAMPLE, _lloyd_history,
    )

    x = np.array(
        [r[0] for r in duck.execute(
            f"SELECT embedding FROM embeddings ORDER BY vec_id "
            f"LIMIT {KMEANS_SAMPLE}").fetchall()], dtype=np.float64)
    full = np.array(
        [r[0] for r in duck.execute(
            "SELECT embedding FROM embeddings").fetchall()],
        dtype=np.float64)
    hist = _lloyd_history(x, KMEANS_K, KMEANS_ITERS)

    def inertia(data, cents):
        d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        m = np.sqrt(d2.min(axis=1)) ** 2   # sqrt-then-square like the op
        return float(np.round(m, 6).sum())

    got = {r.iter: r.inertia
           for r in kmeans_inertia_curve(spark, sf_dir).collect()}
    assert set(got) == set(INERTIA_ITERS)
    for it in INERTIA_ITERS:
        assert got[it] == pytest.approx(inertia(full, hist[it]),
                                        rel=1e-9)
    # Lloyd monotonicity holds on its own training objective
    sample_curve = [inertia(x, hist[i]) for i in range(KMEANS_ITERS + 1)]
    assert all(a >= b - 1e-6 for a, b in zip(sample_curve,
                                             sample_curve[1:]))


# ------------------------------------------------------ graph_explore

def test_graph_vertices_are_disjoint_and_scores_check(spark, duck, sf_dir):
    from unified_vector_database_spark.operators.graph import (
        GRAPH_H1, GRAPH_H2, GRAPH_SEED, graph_explore,
    )

    rows = graph_explore(spark, sf_dir).collect()
    d1 = [r for r in rows if r.depth == 1]
    d2 = [r for r in rows if r.depth == 2]
    assert 0 < len(d1) <= GRAPH_H1
    assert all(r.source == GRAPH_SEED for r in d1)
    h1set = {r.target for r in d1}
    assert GRAPH_SEED not in h1set
    # hop-2 sources are hop-1 vertices; targets are UNSEEN terms
    for r in d2:
        assert r.source in h1set
        assert r.target not in h1set and r.target != GRAPH_SEED
    per_src = collections.Counter(r.source for r in d2)
    assert all(c <= GRAPH_H2 for c in per_src.values())
    # spot-check one depth-1 connection's doc overlap with raw SQL
    t = d1[0]
    n = duck.execute(f"""
        WITH dt AS (SELECT DISTINCT doc_id,
            unnest(list_filter(string_split(trim(text), ' '),
                   x -> x <> '')) AS token FROM documents)
        SELECT count(*) FROM
          (SELECT doc_id FROM dt WHERE token = '{GRAPH_SEED}') a
          JOIN (SELECT doc_id FROM dt WHERE token = '{t.target}') b
          USING (doc_id)""").fetchone()[0]
    assert t.fg_docs == n


def test_graph_jlh_is_the_significant_text_heuristic():
    """Pin the formula shape: JLH grows with foreground lift and is 0
    when fg% == bg%."""
    jlh = lambda fg, nfg, bg, nall: (
        (fg / nfg - bg / nall) * (fg / nfg) / (bg / nall))
    assert jlh(10, 100, 10, 1000) > 0
    assert jlh(10, 100, 100, 1000) == 0
    assert jlh(20, 100, 10, 1000) > jlh(10, 100, 10, 1000)
    assert not math.isnan(jlh(1, 7, 1, 9))
