"""Round-6 r9-wave checks: independent Python re-derivations and
plan-shape tests for the new ops (shard num_candidates curve,
max/min_bucket, field_caps, JSON_CONTAINS family, cross-reference
2-hop filter, TTL expiry scan, streaming upsert sink) — the defect
class the hash oracle cannot see when both engines share a bug.
"""

from __future__ import annotations

import math

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------- shard_candidates_curve

def test_shard_curve_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.evaluation import (
        SHARD_K, SHARD_N, SHARD_NC, shard_candidates_curve,
    )

    rows = tables.load(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").collect()
    q = next(list(r.embedding) for r in rows if r.vec_id == 0)
    qn = math.sqrt(sum(x * x for x in q))

    def cos(v):
        d = sum(a * b for a, b in zip(v, q))
        n = math.sqrt(sum(a * a for a in v))
        return d / (n * qn)

    scored = sorted(((cos(list(r.embedding)), r.vec_id) for r in rows),
                    key=lambda t: (-t[0], t[1]))
    exact = {vid for _, vid in scored[:SHARD_K]}
    want = []
    for nc in SHARD_NC:
        seen: dict[int, int] = {}
        cand = []
        for s, vid in scored:                 # already globally sorted
            sh = vid % SHARD_N
            if seen.get(sh, 0) < nc:
                seen[sh] = seen.get(sh, 0) + 1
                cand.append((s, vid))
        top = [vid for _, vid in
               sorted(cand, key=lambda t: (-t[0], t[1]))[:SHARD_K]]
        want.append((nc, len(cand),
                     round(len(exact & set(top)) / SHARD_K, 6)))
    got = [(r.num_candidates, r.n_candidates, r.recall_at_k)
           for r in shard_candidates_curve(spark, sf_dir).collect()]
    assert got == want
    # num_candidates = k is exact by construction
    assert got[-1][2] == 1.0


def test_shard_curve_single_corpus_pass(spark, sf_dir):
    from unified_vector_database_spark.operators.evaluation import (
        shard_candidates_curve,
    )

    plan = _plan(shard_candidates_curve(spark, sf_dir))
    # the corpus parquet is scanned once; downstream consumers read
    # the checkpointed pruned frame
    assert plan.count("embeddings.parquet") <= 1


# ------------------------------------------------- max_bucket_agg

def test_max_bucket_matches_python_model(spark, sf_dir, duck):
    from unified_vector_database_spark.operators.aggregations import (
        max_bucket_agg,
    )

    buckets = {}
    for mon, rev in duck.execute(
            "SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m'),"
            " sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders"
            " GROUP BY 1").fetchall():
        buckets[mon] = float(rev)
    hi, lo = max(buckets.values()), min(buckets.values())
    want = [
        ("max_bucket",
         ",".join(sorted(k for k, v in buckets.items() if v == hi)), hi),
        ("min_bucket",
         ",".join(sorted(k for k, v in buckets.items() if v == lo)), lo),
    ]
    got = [(r.metric, r.keys, r.value)
           for r in max_bucket_agg(spark, sf_dir).collect()]
    assert [(m, k) for m, k, _ in got] == [(m, k) for m, k, _ in want]
    for (_, _, g), (_, _, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-9)


# ----------------------------------------------- field_caps_census

def test_field_caps_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import (
        FC_HOT, FC_NOTE_TYPE, field_caps_census,
    )

    ev = tables.load(spark, sf_dir, "events") \
        .select("event_type", "value").collect()
    n = len(ev)
    n_hot = sum(1 for r in ev if r.value > FC_HOT)
    n_note = sum(1 for r in ev if r.event_type == FC_NOTE_TYPE)
    want = [("et", "keyword", True, n),
            ("hot", "boolean", True, n_hot),
            ("k", "long", True, n),
            ("note", "text", False, n_note)]
    got = [(r.field, r.es_type, r.aggregatable, r.n_docs)
           for r in field_caps_census(spark, sf_dir).collect()]
    assert got == want
    cov = {r.field: r.coverage
           for r in field_caps_census(spark, sf_dir).collect()}
    assert cov["et"] == 1.0 and cov["k"] == 1.0
    assert cov["hot"] == pytest.approx(round(n_hot / n, 6))


def test_field_caps_single_scan(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        field_caps_census,
    )

    plan = _plan(field_caps_census(spark, sf_dir))
    assert plan.count("events.parquet") == 1


# ------------------------------------------- json_contains_filter

def test_json_contains_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import (
        JC_ALL, JC_ANY, JC_HEAD, JC_ONE, JC_W_MIN, json_contains_filter,
    )

    want: dict[str, list[int]] = {}
    for r in tables.load(spark, sf_dir, "documents").collect():
        toks = [t for t in r.text.strip().split(" ") if t]
        labels = list(dict.fromkeys(toks[:JC_HEAD]))
        c = want.setdefault(r.lang, [0, 0, 0, 0, 0])
        c[0] += 1
        c[1] += JC_ONE in labels
        c[2] += any(t in labels for t in JC_ANY)
        c[3] += all(t in labels for t in JC_ALL)
        c[4] += r.n_chars >= JC_W_MIN
    got = {r.lang: [r.n_total, r.n_contains, r.n_any, r.n_all, r.n_deep]
           for r in json_contains_filter(spark, sf_dir).collect()}
    assert got == want


def test_json_contains_payload_is_real_json(spark, sf_dir):
    """The Spark plan genuinely round-trips a serialized JSON payload
    (to_json → get_json_object/from_json), not a direct array ref."""
    import inspect

    from unified_vector_database_spark.operators import aggregations as AGG

    src = inspect.getsource(AGG.json_contains_filter)
    assert "to_json" in src and "get_json_object" in src


# ------------------------------------------- crossref_2hop_filter

def test_crossref_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.refs import (
        REF_MIN_BAL, REF_PAGE, REF_REGION, crossref_2hop_filter,
    )

    nat = {r.n_nationkey: (r.n_name, r.n_regionkey)
           for r in tables.load(spark, sf_dir, "nation").collect()}
    reg = {r.r_regionkey: r.r_name
           for r in tables.load(spark, sf_dir, "region").collect()}
    want = []
    for r in tables.load(spark, sf_dir, "customer").collect():
        nname, rkey = nat[r.c_nationkey]
        if reg[rkey] == REF_REGION and r.c_acctbal > REF_MIN_BAL:
            want.append((r.c_custkey, r.c_name, nname, REF_REGION,
                         float(r.c_acctbal)))
    want = sorted(want)[:REF_PAGE]
    got = [(r.c_custkey, r.c_name, r.nation, r.region, r.acctbal)
           for r in crossref_2hop_filter(spark, sf_dir).collect()]
    assert got == want


def test_crossref_broadcasts_reference_chain(spark, sf_dir):
    from unified_vector_database_spark.operators.refs import (
        crossref_2hop_filter,
    )

    plan = _plan(crossref_2hop_filter(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------- ttl_expiry_scan

def test_ttl_matches_python_model(spark, sf_dir):
    import datetime

    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.lifecycle import (
        TTL_DAYS, ttl_expiry_scan,
    )

    rows = tables.load_events(spark, sf_dir) \
        .select("ts", "event_type", "value").collect()
    now = max(r.ts for r in rows)
    cut = now - datetime.timedelta(days=TTL_DAYS)
    want: dict[str, list] = {}
    for r in rows:
        c = want.setdefault(r.event_type, [0, 0, 0.0])
        if r.ts > cut:
            c[0] += 1
            c[2] += round(r.value, 2)
        else:
            c[1] += 1
    got = {r.event_type: (r.n_live, r.n_expired, r.live_value)
           for r in ttl_expiry_scan(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for k, (nl, ne, lv) in got.items():
        assert (nl, ne) == tuple(want[k][:2])
        assert lv == pytest.approx(want[k][2], abs=1e-6)
    # everything is either live or expired
    assert sum(nl + ne for nl, ne, _ in got.values()) == len(rows)


# -------------------------------------- stream_upsert_collection

def test_stream_upsert_last_writer_wins(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.streaming.ingest import (
        LATE_BATCHES, stream_upsert_collection,
    )

    rows = tables.load_events(spark, sf_dir) \
        .select("event_id", "ts", "user_id", "event_type", "value") \
        .collect()
    latest: dict[int, tuple] = {}
    for r in rows:
        k = (r.ts, r.event_id)
        if r.user_id not in latest or k > latest[r.user_id][:2]:
            latest[r.user_id] = (r.ts, r.event_id, r.event_type, r.value)
    want: dict[str, list] = {}
    for ts, _, et, v in latest.values():
        c = want.setdefault(et, [0, 0.0, None])
        c[0] += 1
        c[1] += round(v, 2)
        c[2] = ts if c[2] is None or ts > c[2] else c[2]
    out = stream_upsert_collection(spark, sf_dir).collect()
    got = {r.event_type: (r.n_users, r.total_value, r.last_ts, r.version)
           for r in out}
    assert set(got) == set(want)
    for et, (n, tv, lt, ver) in got.items():
        assert n == want[et][0]
        assert tv == pytest.approx(want[et][1], abs=1e-6)
        assert lt == want[et][2]
        # one copy-on-write commit per replay micro-batch
        assert ver == LATE_BATCHES


def test_stream_update_mode_fixpoint_with_negative_values(spark, tmp_path):
    """Review-caught regression: update-mode's final emission per key
    must be the LAST one (selected via the monotone count), not
    max(total_value) — they differ whenever a day's cumulative value
    sum is non-monotone across batches (negative event values)."""
    import datetime
    import os

    from pyspark.sql import Row

    from unified_vector_database_spark.streaming.ingest import (
        stream_update_mode,
    )

    sf = str(tmp_path / "upd_neg")
    os.makedirs(sf, exist_ok=True)
    t0 = datetime.datetime(2024, 1, 1, 0, 0)
    rows = [Row(event_id=i, ts=t0 + datetime.timedelta(minutes=i),
                user_id=1, event_type="click",
                value=10.0 if i < 4 else -10.0, props="{}")
            for i in range(8)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .write.mode("overwrite").parquet(f"{sf}/events.parquet")
    [r] = stream_update_mode(spark, sf).collect()
    # emissions per batch: tv = 20, 40, 20, 0 -> fixpoint is 0.0
    assert r.n_emissions == 4 and r.n_events == 8
    assert r.total_value == 0.0


# --------------------------------------------------------- terms_enum

def test_terms_enum_matches_python_model(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.suggest import (
        TE_PAGE, TE_PAGES, TE_PREFIX, terms_enum,
    )

    vocab = set()
    for r in tables.load(spark, sf_dir, "documents").collect():
        vocab.update(t for t in r.text.strip().split(" ")
                     if t and t.startswith(TE_PREFIX))
    terms = sorted(vocab)[:TE_PAGE * TE_PAGES]
    want = [((i // TE_PAGE) + 1, (i % TE_PAGE) + 1, t)
            for i, t in enumerate(terms)]
    got = [(r.page, r.pos, r.term)
           for r in terms_enum(spark, sf_dir).collect()]
    assert got == want
    assert len(got) > 0  # non-vacuous at this sf


def test_terms_enum_is_window_free(spark, sf_dir):
    from unified_vector_database_spark.operators.suggest import terms_enum

    plan = _plan(terms_enum(spark, sf_dir))
    assert "WindowExec" not in plan and "Window" not in plan


# ---------------------------------------- r9 degenerate-corpus gate

def test_r9_ops_survive_degenerate_corpora(spark, tmp_path):
    """r9-wave twin of the standing edge gates: empty / single-row
    corpora must not raise; schemas stay; counts degrade gracefully."""
    import datetime
    import os

    from pyspark.sql import Row

    from unified_vector_database_spark.operators import aggregations as AGG
    from unified_vector_database_spark.operators.evaluation import (
        shard_candidates_curve,
    )
    from unified_vector_database_spark.operators.lifecycle import (
        ttl_expiry_scan,
    )
    from unified_vector_database_spark.operators.refs import (
        crossref_2hop_filter,
    )
    from unified_vector_database_spark.operators.suggest import terms_enum

    def mk(name, table, schema, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        spark.createDataFrame(rows, schema) \
            .write.mode("overwrite").parquet(f"{sf}/{table}.parquet")
        return sf

    doc_schema = ("doc_id long, text string, lang string, "
                  "source string, n_chars long")
    d_empty = mk("r9_d_empty", "documents", doc_schema, [])
    d_single = mk("r9_d_single", "documents", doc_schema,
                  [Row(doc_id=0, text="solo", lang="en", source="s",
                       n_chars=4)])
    for sf in (d_empty, d_single):
        AGG.json_contains_filter(spark, sf).collect()
        terms_enum(spark, sf).collect()
    [r] = terms_enum(spark, d_single).collect()
    assert (r.page, r.pos, r.term) == (1, 1, "solo")

    ev_schema = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    e_empty = mk("r9_e_empty", "events", ev_schema, [])
    e_single = mk("r9_e_single", "events", ev_schema,
                  [Row(event_id=0, ts=t0, user_id=1, event_type="click",
                       value=5.0, props='{"k": 1}')])
    for sf in (e_empty, e_single):
        AGG.field_caps_census(spark, sf).collect()
        ttl_expiry_scan(spark, sf).collect()
    [r] = ttl_expiry_scan(spark, e_single).collect()
    assert (r.n_live, r.n_expired) == (1, 0)  # now == its own ts: live

    emb_schema = "vec_id long, embedding array<float>, label int"
    m_empty = mk("r9_m_empty", "embeddings", emb_schema, [])
    # no vec 0 -> empty curve with the right schema, no raise
    out = shard_candidates_curve(spark, m_empty)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == \
        ["num_candidates", "n_candidates", "recall_at_k"]

    ord_schema = ("o_orderkey long, o_custkey long, o_orderstatus string,"
                  " o_totalprice double, o_orderdate timestamp,"
                  " o_orderpriority string")
    o_single = mk("r9_o_single", "orders", ord_schema,
                  [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
                       o_totalprice=10.0,
                       o_orderdate=datetime.datetime(2024, 3, 1),
                       o_orderpriority="1-URGENT")])
    got = {(r.metric, r.keys, r.value)
           for r in AGG.max_bucket_agg(spark, o_single).collect()}
    # one bucket: max and min coincide on the same key
    assert got == {("max_bucket", "2024-03", 10.0),
                   ("min_bucket", "2024-03", 10.0)}

    cust_schema = ("c_custkey long, c_name string, c_nationkey long, "
                   "c_acctbal double, c_mktsegment string")
    nat_schema = "n_nationkey long, n_name string, n_regionkey long"
    reg_schema = "r_regionkey long, r_name string"
    sf = mk("r9_ref", "customer", cust_schema, [])
    for tbl, sch, rows in (("nation", nat_schema, []),
                           ("region", reg_schema, [])):
        spark.createDataFrame(rows, sch) \
            .write.mode("overwrite").parquet(f"{sf}/{tbl}.parquet")
    assert crossref_2hop_filter(spark, sf).collect() == []


# ------------------------------------- sq8_quantile_calibration

def test_sq8_calibration_matches_numpy_model(spark, sf_dir):
    import numpy as np

    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.index import (
        QCAL_HI, QCAL_LEVELS, QCAL_LO, sq8_quantile_calibration,
    )

    rows = tables.load(spark, sf_dir, "embeddings") \
        .select("embedding").collect()
    m = np.array([[float(x) for x in r.embedding] for r in rows])
    out = sq8_quantile_calibration(spark, sf_dir).collect()
    assert len(out) == m.shape[1]
    for r in out:
        col = m[:, r.pos - 1]
        qlo = round(float(np.quantile(col, QCAL_LO)), 6)
        qhi = round(float(np.quantile(col, QCAL_HI)), 6)
        assert r.qlo == pytest.approx(qlo, abs=2e-6)
        assert r.qhi == pytest.approx(qhi, abs=2e-6)
        n_clip = int(((col < r.qlo) | (col > r.qhi)).sum())
        assert r.n_clipped == n_clip
        step = (r.qhi - r.qlo) / QCAL_LEVELS
        code = np.round((np.clip(col, r.qlo, r.qhi) - r.qlo) / step)
        mse = float(((col - (r.qlo + code * step)) ** 2).mean())
        assert r.mse == pytest.approx(mse, abs=1e-8)
        # reconstruction error is bounded by the grid: half a step
        # inside the clip range, full outlier distance outside
        assert r.mse < max(step * step, 1.0)


def test_sq8_calibration_clips_fewer_than_min_max(spark, sf_dir):
    """Quantile bounds genuinely clip (that is their point): some
    values fall outside [p01, p99] on every dim of a continuous
    corpus."""
    from unified_vector_database_spark.operators.index import (
        sq8_quantile_calibration,
    )

    out = sq8_quantile_calibration(spark, sf_dir).collect()
    assert all(r.n_clipped > 0 for r in out)


# ----------------------------------------- stream_static_enrich

def test_stream_static_enrich_matches_batch_join(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.streaming.ingest import (
        stream_static_enrich,
    )

    rows = tables.load_events(spark, sf_dir) \
        .select("event_type", "value").collect()
    ref: dict[str, list] = {}
    for r in rows:
        ref.setdefault(r.event_type, []).append(r.value)
    want = {}
    for et, vals in ref.items():
        avg = round(sum(vals) / len(vals), 6)
        dev = sum(round(v - avg, 6) for v in vals)
        want[et] = (len(vals), avg,
                    sum(1 for v in vals if v > avg), dev)
    got = {r.event_type: (r.n_events, r.ref_avg, r.n_above,
                          r.total_dev)
           for r in stream_static_enrich(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for et, (n, avg, above, dev) in got.items():
        assert (n, above) == (want[et][0], want[et][2])
        assert avg == pytest.approx(want[et][1], abs=1e-9)
        assert dev == pytest.approx(want[et][3], abs=1e-4)
