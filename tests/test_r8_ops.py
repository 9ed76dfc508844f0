"""Round-6 r8-wave checks: independent Python re-derivations and
plan/semantics tests for the new query-surface ops
(match_bool_prefix, cross_fields, constant_score, span_multi, fuzzy
completion, exists/is_empty, array_contains family, geohex grid) —
the defect class the hash oracle cannot see when both engines share
a bug.
"""

from __future__ import annotations

import math

import pytest


def _docs(spark, sf_dir):
    from unified_vector_database_spark import tables
    return [(r.doc_id, r.text.strip().split(), r.lang, r.source)
            for r in tables.load(spark, sf_dir, "documents").collect()]


def test_match_bool_prefix_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        MBP_PREFIX, MBP_TERM, MBP_TOP, match_bool_prefix_search,
    )

    model = []
    for doc_id, toks, _, _ in _docs(spark, sf_dir):
        tf_t = sum(1 for t in toks if t == MBP_TERM)
        tf_p = sum(1 for t in toks if t.startswith(MBP_PREFIX))
        if tf_t + tf_p > 0:
            model.append((-(tf_t + tf_p), doc_id, tf_t, tf_p))
    model.sort()
    want = [(d, t, p, -s) for s, d, t, p in model[:MBP_TOP]]
    got = [(r.doc_id, r.tf_term, r.tf_prefix, r.score)
           for r in match_bool_prefix_search(spark, sf_dir).collect()]
    assert got == want


def test_match_bool_prefix_plan_is_shuffle_free(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        match_bool_prefix_search,
    )

    plan = match_bool_prefix_search(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    # map-side score + TakeOrdered: no aggregation/join exchange
    assert "Exchange" not in plan


def test_cross_fields_keyword_term_scores_via_source_field(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        XF_KEY_BOOST, XF_KEY_TERM, multi_match_cross_fields,
    )

    rows = multi_match_cross_fields(spark, sf_dir).collect()
    assert rows
    # AND semantics: both terms matched somewhere on every hit
    assert all(r.s_t1 > 0 and r.s_t2 > 0 for r in rows)
    # 'src3' never appears in text, so its clause can ONLY be the
    # keyword-field boost — the cross_fields point
    assert all(r.s_t2 == XF_KEY_BOOST for r in rows)
    srcs = {r.doc_id for r in rows}
    by_id = {d: s for d, _, _, s in _docs(spark, sf_dir)}
    assert all(by_id[d] == XF_KEY_TERM for d in srcs)


def test_constant_score_ignores_tf(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        CS_CLAUSES, CS_FILTER_LANG, constant_score_search,
    )

    rows = constant_score_search(spark, sf_dir).collect()
    assert rows
    allowed = {round(b1 + b2, 9)
               for b1 in [0.0, CS_CLAUSES[0][1]]
               for b2 in [0.0, CS_CLAUSES[1][1]]} - {0.0}
    assert all(round(r.score, 9) in allowed for r in rows)
    # a doc with tf>1 for a clause term still scores exactly the boost
    by_id = {d: (toks, lang) for d, toks, lang, _ in _docs(spark, sf_dir)}
    multi = [r for r in rows
             if by_id[r.doc_id][0].count(CS_CLAUSES[0][0]) > 1
             and CS_CLAUSES[1][0] not in by_id[r.doc_id][0]]
    assert all(r.score == CS_CLAUSES[0][1] for r in multi)
    assert all(by_id[r.doc_id][1] == CS_FILTER_LANG for r in rows)


def test_constant_score_filter_reaches_the_scan(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        constant_score_search,
    )

    plan = constant_score_search(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "lang" in plan.split("PushedFilters:")[1].split("]")[0]


def test_span_multi_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        SM_LIT, SM_PREFIX, SM_SLOP, SM_TOP, span_multi_search,
    )

    model = []
    for doc_id, toks, _, _ in _docs(spark, sf_dir):
        pm = [i + 1 for i, t in enumerate(toks) if t.startswith(SM_PREFIX)]
        pj = [i + 1 for i, t in enumerate(toks) if t == SM_LIT]
        pairs = sum(1 for a in pm for b in pj if abs(a - b) <= SM_SLOP)
        if pairs > 0:
            model.append((-pairs, doc_id, len(pm)))
    model.sort()
    want = [(d, m, -s) for s, d, m in model[:SM_TOP]]
    got = [(r.doc_id, r.n_multi, r.n_pairs)
           for r in span_multi_search(spark, sf_dir).collect()]
    assert got == want


def test_completion_fuzzy_corrects_the_typo(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        CF_FUZZ, suggest_completion_fuzzy,
    )

    rows = suggest_completion_fuzzy(spark, sf_dir).collect()
    by_input = {r.input: r for r in rows if r.rank == 1}
    assert by_input["quary"].term == "query"
    assert by_input["strem"].term == "stream"
    # weight is the corpus frequency — recompute independently
    freq = {}
    for _, toks, _, _ in _docs(spark, sf_dir):
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
    for r in rows:
        assert r.weight == freq[r.term]
        # the matched prefix really is within CF_FUZZ edits
        assert _lev(r.term[: len(r.input)], r.input) <= CF_FUZZ


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_exists_census_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import (
        EX_NOTE_MARK, EX_TAG_MINLEN, exists_payload_filter,
    )

    parts = [(r.p_type, r.p_name)
             for r in tables.load(spark, sf_dir, "part").collect()]
    agg = {}
    for ptype, name in parts:
        tot, ex, emp = agg.get(ptype, (0, 0, 0))
        has_note = EX_NOTE_MARK in name
        tags = [t for t in name.split(" ") if len(t) >= EX_TAG_MINLEN]
        agg[ptype] = (tot + 1, ex + has_note, emp + (not tags))
    got = {(r.p_type): (r.n_total, r.n_note_exists, r.n_tags_empty)
           for r in exists_payload_filter(spark, sf_dir).collect()}
    assert got == agg
    # exists + is_null partition the collection exactly
    for r in exists_payload_filter(spark, sf_dir).collect():
        assert r.n_note_exists + r.n_note_null == r.n_total


def test_array_contains_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        AC_ALL, AC_ANY, AC_HEAD, AC_MINLEN, AC_ONE, array_contains_filter,
    )

    agg = {}
    for _, toks, lang, _ in _docs(spark, sf_dir):
        tags = list(dict.fromkeys(toks[:AC_HEAD]))
        c = agg.setdefault(lang, [0, 0, 0, 0, 0])
        c[0] += 1
        c[1] += AC_ONE in tags
        c[2] += any(t in tags for t in AC_ANY)
        c[3] += all(t in tags for t in AC_ALL)
        c[4] += len(tags) >= AC_MINLEN
    got = {r.lang: [r.n_total, r.n_contains, r.n_any, r.n_all, r.n_len]
           for r in array_contains_filter(spark, sf_dir).collect()}
    assert got == agg


def _hex_cell(lon: float, lat: float, size: float, s33: float):
    q0 = (2.0 / 3.0 * lon) / size
    r0 = ((-1.0 / 3.0) * lon + s33 * lat) / size
    y0 = -q0 - r0
    rx, ry, rz = (math.floor(q0 + 0.5), math.floor(y0 + 0.5),
                  math.floor(r0 + 0.5))
    dx, dy, dz = abs(rx - q0), abs(ry - y0), abs(rz - r0)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    assert rx + ry + rz == 0  # the cube-coordinate invariant
    return int(rx), int(rz)


def test_geohex_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import (
        HEX_SIZE, HEX_TOP, _SQRT3_3, geohex_grid_agg,
    )

    keys = [r.c_custkey for r in
            tables.load(spark, sf_dir, "customer").collect()]
    cells = {}
    for k in keys:
        lat = ((k * 9973) % 18000) / 100.0 - 90.0
        lon = ((k * 7919) % 36000) / 100.0 - 180.0
        q, r = _hex_cell(lon, lat, HEX_SIZE, _SQRT3_3)
        cells[f"{q},{r}"] = cells.get(f"{q},{r}", 0) + 1
    want = sorted(((-n, c) for c, n in cells.items()))[:HEX_TOP]
    got = [(-r.n, r.cell) for r in geohex_grid_agg(spark, sf_dir).collect()]
    assert got == want
    # the top page is a real subset: totals over ALL cells == |customer|
    assert sum(cells.values()) == len(keys)


def test_stream_late_data_drops_and_matches_model(spark, sf_dir):
    import datetime

    from unified_vector_database_spark import tables
    from unified_vector_database_spark.streaming.ingest import (
        LATE_BATCHES, LATE_DELAY_MS, LATE_SHIFT_MOD, stream_late_data,
    )

    ev = sorted((r.ts, r.event_id, r.event_type) for r in
                tables.load_events(spark, sf_dir)
                .select("ts", "event_id", "event_type").collect())
    n = len(ev)
    base, extra = divmod(n, LATE_BATCHES)
    batches = {}
    pos = 0
    for q in range(LATE_BATCHES):
        size = base + (q < extra)
        for ts, eid, etype in ev[pos:pos + size]:
            b = min(LATE_BATCHES - 1,
                    q + (2 if eid % LATE_SHIFT_MOD == 0 else 0))
            batches.setdefault(b, []).append((ts, etype))
        pos += size
    ms = lambda ts: int(ts.timestamp() * 1_000_000) // 1000
    rm, run = {}, None
    for b in range(LATE_BATCHES):
        run = max(ms(ts) for ts, _ in batches[b]) if run is None else \
            max(run, max(ms(ts) for ts, _ in batches[b]))
        rm[b] = run
    final_wm = rm[LATE_BATCHES - 1] - LATE_DELAY_MS
    model, dropped = {}, 0
    for b in range(LATE_BATCHES):
        for ts, etype in batches[b]:
            ws = ts.replace(minute=0, second=0, microsecond=0)
            we = ms(ws + datetime.timedelta(hours=1))
            if b >= 2 and we <= rm[b - 2] - LATE_DELAY_MS:
                dropped += 1          # window evicted before arrival
                continue
            if we <= final_wm:
                model[(ws, etype)] = model.get((ws, etype), 0) + 1
    got = {(r.window_start, r.event_type): r.n
           for r in stream_late_data(spark, sf_dir).collect()}
    assert dropped > 0                # the late path is actually hit
    assert got == model               # emitted census == state machine
    assert sum(got.values()) < n      # drops + unemitted tail visible


def test_ivf_sq8_recall_and_decode_error(spark, sf_dir):
    import numpy as np

    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators.index import ivf_sq8_knn
    from unified_vector_database_spark.operators.knn import knn
    import pyspark.sql.functions as F

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    flat = {r.vec_id for r in
            knn(corpus, q, k=10, metric="l2").collect()}
    got = ivf_sq8_knn(spark, sf_dir).collect()
    recall = len(flat & {r.vec_id for r in got}) / 10
    assert recall >= 0.6, f"IVF_SQ8 recall@10 too low: {recall}"
    # SQ8's whole contract: the approx (decoded) distance sits within
    # the quantization error bound of the exact distance — per dim
    # the decode error is <= (hi-lo)/255/2, so the L2 gap is bounded
    # by sqrt(dim) * max_range/510
    vecs = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    rng = vecs.max(axis=0) - vecs.min(axis=0)
    for r in got:
        assert abs(r.approx - r.score) <= np.linalg.norm(rng / 510.0) + 1e-9


def test_r8_ops_survive_degenerate_corpora(spark, tmp_path):
    """r8-wave twin of the standing edge gates: the new doc/part/
    customer/event operators must survive empty / single-short-doc /
    whitespace corpora (schema stays, rows degrade gracefully)."""
    import datetime
    import os

    from pyspark.sql import Row

    from unified_vector_database_spark.operators import aggregations as AGG
    from unified_vector_database_spark.operators import (
        query_dsl as DSL,
    )
    from unified_vector_database_spark.streaming.ingest import (
        stream_late_data,
    )

    def mk(name, table, schema, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        spark.createDataFrame(rows, schema) \
            .write.mode("overwrite").parquet(f"{sf}/{table}.parquet")
        return sf

    doc_schema = ("doc_id long, text string, lang string, "
                  "source string, n_chars long")
    d_empty = mk("r8_d_empty", "documents", doc_schema, [])
    d_single = mk("r8_d_single", "documents", doc_schema,
                  [Row(doc_id=0, text="a", lang="en", source="s",
                       n_chars=1)])
    d_ws = mk("r8_d_ws", "documents", doc_schema,
              [Row(doc_id=0, text="   ", lang="en", source="s",
                   n_chars=3)])
    doc_ops = [DSL.match_bool_prefix_search, DSL.multi_match_cross_fields,
               DSL.constant_score_search, DSL.span_multi_search,
               DSL.suggest_completion_fuzzy, AGG.array_contains_filter]
    for sf in (d_empty, d_single, d_ws):
        for op in doc_ops:
            op(spark, sf).collect()  # must not raise

    part_schema = ("p_partkey long, p_name string, p_brand string, "
                   "p_type string, p_size int, p_retailprice double")
    p_empty = mk("r8_p_empty", "part", part_schema, [])
    p_single = mk("r8_p_single", "part", part_schema,
                  [Row(p_partkey=0, p_name="red widget", p_brand="B",
                       p_type="ECONOMY", p_size=1, p_retailprice=1.0)])
    for sf in (p_empty, p_single):
        AGG.exists_payload_filter(spark, sf).collect()
    [r] = AGG.exists_payload_filter(spark, p_single).collect()
    assert (r.n_total, r.n_note_exists, r.n_tags_empty) == (1, 1, 0)

    cust_schema = ("c_custkey long, c_name string, c_nationkey long, "
                   "c_acctbal double, c_mktsegment string")
    c_empty = mk("r8_c_empty", "customer", cust_schema, [])
    c_single = mk("r8_c_single", "customer", cust_schema,
                  [Row(c_custkey=7, c_name="x", c_nationkey=0,
                       c_acctbal=0.0, c_mktsegment="m")])
    assert AGG.geohex_grid_agg(spark, c_empty).collect() == []
    [r] = AGG.geohex_grid_agg(spark, c_single).collect()
    assert r.n == 1 and "," in r.cell

    ev_schema = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    e_empty = mk("r8_e_empty", "events", ev_schema, [])
    e_single = mk("r8_e_single", "events", ev_schema,
                  [Row(event_id=0, ts=t0, user_id=1, event_type="click",
                       value=5.0, props="{}")])
    for sf in (e_empty, e_single):
        stream_late_data(spark, sf).collect()  # must not raise
    # one event, one batch, watermark never passes its window ->
    # nothing ever emits in append mode (state, not output)
    assert stream_late_data(spark, e_single).collect() == []


def test_hex_rounding_picks_nearest_center_hypothesis():
    """Independent-model property: cube rounding must assign every
    point to the hex cell whose center is nearest in the euclidean
    plane (ties excluded by the open sample space) — checked against
    a brute-force scan of the 5x5 neighborhood of candidate cells."""
    from hypothesis import given, settings, strategies as st

    from unified_vector_database_spark.operators.aggregations import (
        HEX_SIZE, _SQRT3_3,
    )

    def center(q, r, size):
        # flat-top axial -> pixel (inverse of the op's transform)
        x = size * 1.5 * q
        y = size * (3.0 ** 0.5) * (r + q / 2.0)
        return x, y

    @settings(max_examples=300, deadline=None)
    @given(st.floats(-180, 180, allow_nan=False),
           st.floats(-90, 90, allow_nan=False))
    def check(lon, lat):
        q, r = _hex_cell(lon, lat, HEX_SIZE, _SQRT3_3)
        cx, cy = center(q, r, HEX_SIZE)
        d0 = (lon - cx) ** 2 + (lat - cy) ** 2
        best = min(
            ((lon - center(q + dq, r + dr, HEX_SIZE)[0]) ** 2
             + (lat - center(q + dq, r + dr, HEX_SIZE)[1]) ** 2)
            for dq in range(-2, 3) for dr in range(-2, 3))
        assert d0 <= best + 1e-9

    check()


def test_pit_page_is_isolated_from_head_mutations(spark, sf_dir):
    from unified_vector_database_spark import artifacts
    from unified_vector_database_spark.operators.lifecycle import (
        PIT_PAGE, pit_search_after,
    )
    from unified_vector_database_spark.sources.catalog import Collection

    page2 = [(r.o_orderkey, r.o_orderdate)
             for r in pit_search_after(spark, sf_dir).collect()]
    assert len(page2) == PIT_PAGE
    # the op's head mutation deleted every o_orderkey % 5 == 0 — the
    # PINNED page must still contain them (snapshot isolation), and
    # the live head must not
    assert any(k % 5 == 0 for k, _ in page2)
    root = artifacts.own_dir("pit_page", sf_dir)
    head = Collection.open(spark, root, "orders_pit").read()
    head_keys = {r.o_orderkey for r in head.collect()}
    from unified_vector_database_spark.operators.lifecycle import PIT_MAX
    # (head-INSERTED keys live at +PIT_MAX and may hit any residue)
    assert all(k % 5 != 0 for k in head_keys if k < PIT_MAX)
    deleted_in_page = [k for k, _ in page2 if k % 5 == 0]
    assert all(k not in head_keys for k in deleted_in_page)


def test_rollover_generations_partition_the_stream(spark, sf_dir):
    from unified_vector_database_spark import artifacts, tables
    from unified_vector_database_spark.operators.lifecycle import (
        ROLL_MAX_DOCS, alias_rollover,
    )
    from unified_vector_database_spark.sources.catalog import Collection

    rows = alias_rollover(spark, sf_dir).collect()
    n_total = tables.load_events(spark, sf_dir).count()
    # generations partition the ingest exactly (no loss, no dup)
    assert sum(r.n_events for r in rows) == n_total
    assert [r.gen for r in rows] == list(range(1, len(rows) + 1))
    # every rolled (non-final) generation hit the rollover condition
    for r in rows[:-1]:
        assert r.n_events >= ROLL_MAX_DOCS
    # the write alias points at the LAST generation
    root = artifacts.own_dir("rollover", sf_dir)
    assert Collection.list_aliases(root)["events_write"] \
        == f"events_{rows[-1].gen:06d}"


def test_sparse_expansion_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark.operators.sparse import (
        EXP_K, EXP_QTERM, EXP_TOP, sparse_expansion_search,
    )

    docs = _docs(spark, sf_dir)
    nd = len(docs)
    hasq = {d for d, toks, _, _ in docs if EXP_QTERM in toks}
    df, dboth = {}, {}
    for d, toks, _, _ in docs:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
            if d in hasq:
                dboth[t] = dboth.get(t, 0) + 1
    lifts = sorted(
        ((dboth[t] * nd) / (df[t] * len(hasq)), t)
        for t in dboth)
    exp = {t: round((dboth[t] * nd) / (df[t] * len(hasq)), 6)
           for _, t in sorted(lifts, key=lambda x: (-x[0], x[1]))[:EXP_K]}
    # the query term itself carries the max lift N/df(q)
    assert EXP_QTERM in exp
    from decimal import Decimal
    model = []
    for d, toks, _, _ in docs:
        s = Decimal(0)
        n_terms = 0
        for t, w in exp.items():
            f = toks.count(t)
            if f:
                s += f * Decimal(str(w))
                n_terms += 1
        if n_terms:
            model.append((-float(s), d, n_terms))
    model.sort()
    want = [(d, -s, n) for s, d, n in model[:EXP_TOP]]
    got = [(r.doc_id, r.score, r.n_terms)
           for r in sparse_expansion_search(spark, sf_dir).collect()]
    assert got == want


def test_pca_recall_and_variance_order(spark, sf_dir):
    import numpy as np

    import pyspark.sql.functions as F
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators.index import (
        KMEANS_SAMPLE, PCA_D, pca_fit, pca_knn,
    )
    from unified_vector_database_spark.operators.knn import knn

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    flat = {r.vec_id for r in knn(corpus, q, k=10, metric="l2").collect()}
    got = {r.vec_id for r in pca_knn(spark, sf_dir).collect()}
    assert len(flat & got) / 10 >= 0.6
    # independent fit properties: components are orthonormal and
    # capture variance in decreasing order
    rows = (emb.orderBy("vec_id").limit(KMEANS_SAMPLE)
               .select("embedding").collect())
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    mu, w = pca_fit(x)
    W = np.array(w)
    assert np.allclose(W @ W.T, np.eye(PCA_D), atol=1e-9)
    var = ((x - np.array(mu)) @ W.T).var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(PCA_D - 1))


def test_update_mode_emission_history(spark, sf_dir):
    from unified_vector_database_spark.streaming.ingest import (
        stream_update_mode,
    )

    rows = stream_update_mode(spark, sf_dir).collect()
    assert rows
    # update mode emits per changed-batch: every day emits at least
    # once; only quartile-boundary days emit more than once, so the
    # total emission count is bounded by |days| + 2*(batches-1)
    n_days = len(rows)
    total_emissions = sum(r.n_emissions for r in rows)
    assert all(1 <= r.n_emissions <= 4 for r in rows)
    assert n_days <= total_emissions <= n_days + 2 * 3
    assert sum(1 for r in rows if r.n_emissions > 1) >= 1


def test_sliding_windows_double_membership(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.streaming.ingest import (
        stream_sliding_windows,
    )

    rows = stream_sliding_windows(spark, sf_dir).collect()
    n_events = tables.load_events(spark, sf_dir).count()
    # every event sits in exactly two 2h/1h windows
    assert sum(r.n_events for r in rows) == 2 * n_events


def test_top_occurrences_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        TOPOCC_K, top_occurrences_agg,
    )

    counts = {}
    for _, toks, lang, _ in _docs(spark, sf_dir):
        for t in toks:
            counts[(lang, t)] = counts.get((lang, t), 0) + 1
    model = []
    langs = sorted({l for l, _ in counts})
    for lang in langs:
        terms = sorted(((-n, t) for (l, t), n in counts.items()
                        if l == lang))
        for rank, (n, t) in enumerate(terms[:TOPOCC_K], 1):
            model.append((lang, rank, t, -n))
    got = [(r.lang, r.rank, r.term, r.occurs)
           for r in top_occurrences_agg(spark, sf_dir).collect()]
    assert got == model


def test_nested_knn_parent_collapse(spark, sf_dir):
    from unified_vector_database_spark.operators.inference import (
        _chunk_scored, nested_knn_inner_hits,
    )

    rows = nested_knn_inner_hits(spark, sf_dir).collect()
    assert rows
    # one row per parent; parent score == max over its chunk scores
    assert len({r.doc_id for r in rows}) == len(rows)
    scored = {}
    for r in _chunk_scored(spark, sf_dir).collect():
        scored.setdefault(r.doc_id, []).append((r.score, r.chunk_idx))
    for r in rows:
        best = max(scored[r.doc_id], key=lambda t: (t[0], -t[1]))
        assert (r.best_score, r.best_chunk_idx) == best
        assert r.n_chunks == len(scored[r.doc_id])
