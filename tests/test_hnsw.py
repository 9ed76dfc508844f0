"""Batch HNSW: build parity with the numpy twin, probe recall vs the
exact FLAT baseline, the collect-free written-artifact probe path,
the size-switched registered route, and degenerate-corpus behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unified_vector_database_spark import artifacts, tables
from unified_vector_database_spark.functions import distance as D
from unified_vector_database_spark.operators import hnsw
from unified_vector_database_spark.operators.knn import knn


def _corpus(spark, sf_dir):
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    return emb.select("vec_id", D.vec_double("embedding").alias("vec"))


def _query(spark, sf_dir, vid=0):
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    return (emb.where(F.col("vec_id") == vid)
               .select(D.vec_double("embedding").alias("qvec")))


def _panel(spark, sf_dir, vid=0):
    """Corpus vector `vid` as a one-row (qid, qvec) query panel."""
    return _query(spark, sf_dir, vid).select(
        F.lit(vid).cast("bigint").alias("qid"), "qvec")


def _hits(df):
    """(vec_id, score) of a probe's rows, in rank order."""
    return [(r.vec_id, r.score) for r in df.collect()]


def _drop_session_art(monkeypatch, sf_dir):
    """Force the next session_art call to rebuild the resident copy
    (the graph itself stays cached); restored after the test."""
    monkeypatch.delitem(artifacts._CACHE, (
        "hnsw_session", tables.table_path(sf_dir, "embeddings")))


def _plain(spark, sf_dir):
    return hnsw.collect_art(hnsw.art_for(spark, sf_dir))


def test_build_matches_numpy_twin(spark, sf_dir):
    """The distributed build and the Spark-free oracle twin must agree
    bit-for-bit — that equality is what makes the embedded-adjacency
    DuckDB oracle a real hash gate rather than a self-check. The
    artifact here has round-tripped through hnsw_write/hnsw_read, so
    the parity also covers the parquet materialization."""
    art = _plain(spark, sf_dir)
    twin = hnsw._twin_build(sf_dir)
    assert art["L"] == twin["L"]
    assert art["tops"] == twin["tops"]
    assert set(art["adj"]) == set(twin["adj"])
    for lvl in art["adj"]:
        assert art["adj"][lvl] == twin["adj"][lvl], f"layer {lvl} diverged"


def test_build_is_collect_free(spark, sf_dir, monkeypatch):
    """VERDICT r7 #2's done-criterion: zero edge-list `.collect()` in
    the build path. Intercept DataFrame.collect during hnsw_build and
    assert the only collected frame is the ≤16-row level histogram."""
    from pyspark.sql import DataFrame

    seen = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        seen.append((self.columns, len(rows)))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    art = hnsw.hnsw_build(spark, _corpus(spark, sf_dir))
    assert isinstance(art["tops"], DataFrame)
    for df in art["adj"].values():
        assert isinstance(df, DataFrame)
    for cols, n in seen:
        assert "dst" not in cols and "vec_id" not in cols, \
            f"build collected {cols} ({n} rows)"
        assert n <= 16, f"build collected {n} rows of {cols}"


def test_probe_recall_vs_flat(spark, sf_dir):
    """Mean recall@10 against the exact FLAT scan over several query
    points. The synthetic embeddings are near-random (same-label mean
    cosine 0.019) — the hardest case for graph ANN — and the tuned
    build/probe still measured ~0.98 mean recall; gate at 0.8."""
    corpus = _corpus(spark, sf_dir)
    art = hnsw.art_for(spark, sf_dir)
    hits, total = 0, 0
    for vid in (0, 101, 202, 303, 404):
        approx = {r.vec_id for r in hnsw.hnsw_probe_batch(
            spark, corpus, art, _panel(spark, sf_dir, vid), 10).collect()}
        exact = {r.vec_id for r in
                 knn(corpus, _query(spark, sf_dir, vid), k=10).collect()}
        hits += len(approx & exact)
        total += 10
    assert hits / total >= 0.8, f"recall {hits / total}"


def test_self_match_is_top1(spark, sf_dir):
    """A corpus vector queried against the index must surface itself
    first with cosine exactly 1.0 — the beam reaching the query's own
    graph neighborhood is the navigability smoke test."""
    corpus = _corpus(spark, sf_dir)
    art = hnsw.art_for(spark, sf_dir)
    rows = hnsw.hnsw_probe_batch(spark, corpus, art,
                                 _panel(spark, sf_dir, 0), 10).collect()
    assert rows[0].vec_id == 0
    assert rows[0].score == pytest.approx(1.0)


def test_probe_from_written_artifact(spark, sf_dir, tmp_path):
    """The 100 TB probe path end to end: hnsw_write materializes the
    build's DataFrames as the bucket-partitioned parquet artifact,
    hnsw_read hands back lazy handles, and the probe over those
    handles (bucket-pruned hop joins, no edge ever collected) must
    reproduce the in-memory plain-artifact probe exactly."""
    corpus = _corpus(spark, sf_dir)
    built = hnsw.hnsw_build(spark, corpus)
    path = str(tmp_path / "hnsw_art")
    hnsw.hnsw_write(built, path)
    art_pq = hnsw.hnsw_read(spark, path)
    assert art_pq["n"] == built["n"]
    for lvl in art_pq["adj"]:
        assert "bucket" in art_pq["adj"][lvl].columns
    plain = hnsw.collect_art(built)
    q = _panel(spark, sf_dir, 7)
    mem = _hits(hnsw.hnsw_probe_batch(spark, corpus, plain, q, 10))
    pq = _hits(hnsw.hnsw_probe_batch(spark, corpus, art_pq, q, 10))
    assert mem == pq


def test_registered_route_equality(spark, sf_dir, monkeypatch):
    """hnsw_knn's size switch must be invisible in the result: the
    driver-beam route (default at test scale) and the forced
    distributed route (DRIVER_BEAM_MAX_NODES = 0, fresh session
    cache) return identical rows — the D12 route-equality pin."""
    drv = [(r.vec_id, r.score) for r in
           hnsw.hnsw_knn(spark, sf_dir).collect()]
    monkeypatch.setattr(hnsw, "DRIVER_BEAM_MAX_NODES", 0)
    _drop_session_art(monkeypatch, sf_dir)
    dist = [(r.vec_id, r.score) for r in
            hnsw.hnsw_knn(spark, sf_dir).collect()]
    assert drv == dist


def test_dist_entries_pin_distributed_route(spark, sf_dir):
    """The *_dist registered entries must (a) execute the distributed
    probes — route-asserted in-op via LAST_ROUTE — and (b) return
    exactly what the size-switched entries return, so their shared
    oracles stay valid for both."""
    plain_single = [(r.vec_id, r.score) for r in
                    hnsw.hnsw_knn(spark, sf_dir).collect()]
    dist_single = hnsw.hnsw_knn_dist(spark, sf_dir)
    assert hnsw.LAST_ROUTE == "hnsw_probe_batch"
    assert [(r.vec_id, r.score) for r in dist_single.collect()] \
        == plain_single
    plain_batch = [tuple(r) for r in
                   hnsw.hnsw_batch_knn(spark, sf_dir).collect()]
    dist_batch = hnsw.hnsw_batch_knn_dist(spark, sf_dir)
    assert hnsw.LAST_ROUTE == "hnsw_probe_batch"
    assert [tuple(r) for r in dist_batch.collect()] == plain_batch


def test_filtered_knn_respects_filter_and_routes_agree(spark, sf_dir,
                                                       monkeypatch):
    """hnsw_filtered_knn: every hit passes the label filter, self is
    top-1 (vec 0 carries an allowed label), and the driver/distributed
    routes agree row for row. Also: the filtered result must differ
    from the unfiltered probe (the filter is real, not vacuous)."""
    from unified_vector_database_spark import tables as _t
    emb = _t.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    allowed = {int(r.vec_id) for r in
               emb.where(F.col("label").isin(*hnsw.FILTER_LABELS))
               .select("vec_id").collect()}
    rows = hnsw.hnsw_filtered_knn(spark, sf_dir).collect()
    assert rows, "filtered probe returned nothing"
    assert all(r.vec_id in allowed for r in rows)
    assert rows[0].vec_id == 0 and rows[0].score == pytest.approx(1.0)
    unfiltered = {r.vec_id for r in hnsw.hnsw_knn(spark, sf_dir).collect()}
    assert {r.vec_id for r in rows} != unfiltered
    drv = [(r.vec_id, r.score) for r in rows]
    monkeypatch.setattr(hnsw, "DRIVER_BEAM_MAX_NODES", 0)
    _drop_session_art(monkeypatch, sf_dir)
    dist = [(r.vec_id, r.score) for r in
            hnsw.hnsw_filtered_knn(spark, sf_dir).collect()]
    assert drv == dist


def test_sq8_beam_recall_vs_flat(spark, sf_dir):
    """Quantized-beam + exact-rescore recall@10 against the exact FLAT
    scan: SQ8 decode error on these 64-dim embeddings is small, so the
    oversampled rescore should hold recall near the raw beam's (~0.98
    measured); gate at 0.8 like the raw probe."""
    corpus = _corpus(spark, sf_dir)
    exact = {r.vec_id for r in
             knn(corpus, _query(spark, sf_dir, 0), k=10).collect()}
    got = hnsw.hnsw_sq8_knn(spark, sf_dir).collect()
    assert len(got) == 10
    assert got[0].vec_id == 0 and got[0].score == pytest.approx(1.0)
    assert len({r.vec_id for r in got} & exact) >= 8
    # the approx column is the quantized beam score — close to, but
    # not identical to, the exact rescore (decode error is real)
    assert any(abs(r.approx - r.score) > 0 for r in got)


def test_sq8_route_equality(spark, sf_dir, monkeypatch):
    """hnsw_sq8_knn's size switch must be invisible in the result:
    driver-beam route vs forced distributed route (fresh session
    cache) — identical ids, approx AND exact scores."""
    drv = [(r.vec_id, r.approx, r.score) for r in
           hnsw.hnsw_sq8_knn(spark, sf_dir).collect()]
    monkeypatch.setattr(hnsw, "DRIVER_BEAM_MAX_NODES", 0)
    _drop_session_art(monkeypatch, sf_dir)
    dist = [(r.vec_id, r.approx, r.score) for r in
            hnsw.hnsw_sq8_knn(spark, sf_dir).collect()]
    assert drv == dist


def test_merge_matches_twin(spark, sf_dir):
    """Incremental ingest parity: the distributed hnsw_merge and the
    Spark-free twin must produce the identical merged graph — the
    same bit-for-bit bar the base build meets, and what makes the
    merge oracle a real hash gate."""
    corpus = _corpus(spark, sf_dir)
    base = corpus.where(F.col("vec_id") >= hnsw.MERGE_SPLIT)
    batch = corpus.where(F.col("vec_id") < hnsw.MERGE_SPLIT)
    art = hnsw.collect_art(
        hnsw.hnsw_merge(spark, hnsw.hnsw_build(spark, base), base, batch))
    twin = hnsw._twin_merge(sf_dir)
    assert art["L"] == twin["L"]
    assert art["tops"] == twin["tops"]
    assert set(art["adj"]) == set(twin["adj"])
    for lvl in art["adj"]:
        assert art["adj"][lvl] == twin["adj"][lvl], f"layer {lvl} diverged"


def test_merge_inserted_node_is_navigable(spark, sf_dir):
    """Query an INSERTED node's own vector against the merged graph:
    the beam must navigate base edges into the new node's wired
    neighborhood — self as top-1 with cosine exactly 1.0."""
    rows = hnsw.hnsw_merge_knn(spark, sf_dir).collect()
    assert rows[0].vec_id == 0
    assert rows[0].score == pytest.approx(1.0)


def test_merge_touches_base_edges_only_via_new_nodes(spark, sf_dir):
    """The frozen-structure contract: merge candidates for a base node
    are its existing edges ∪ reverse proposals from NEW nodes — so a
    base node's layer-0 edge set either survives verbatim or swaps
    edges in ONLY toward inserted nodes; it can never rewire base→base
    (that would be a rebuild, not an ingest). Some nodes must be
    untouched (the batch's reach is bounded by M per new node)."""
    ids, X, nrm, idx_of, lvl = hnsw._twin_corpus(sf_dir)
    base_ids = sorted(i for i in ids if i >= hnsw.MERGE_SPLIT)
    base = hnsw._twin_art(base_ids, X, nrm, idx_of, lvl)
    twin = hnsw._twin_merge(sf_dir)

    def by_src(pairs):
        out = {}
        for s, d in pairs:
            out.setdefault(s, set()).add(d)
        return out

    b0, m0 = by_src(base["adj"][0]), by_src(twin["adj"][0])
    untouched = 0
    for s, ds in b0.items():
        got = m0.get(s, set())
        added = got - ds
        assert all(d < hnsw.MERGE_SPLIT for d in added), \
            f"base src {s} gained base neighbors {added} — rewired"
        assert len(got) <= hnsw.HNSW_M
        if got == ds:
            untouched += 1
    assert untouched > 0


def test_batch_driver_route_equals_distributed(spark, sf_dir):
    """The driver beam (small-corpus side of the size switch) must
    reproduce the fully distributed beam row for row — same hops,
    tie-breaks, scores, ranks, and row order — for the batch panel and
    for single queries, which run as one-row panels. A query's rows
    do not depend on the panel it runs in: each panel query's rows
    equal its one-row panel's."""
    corpus = _corpus(spark, sf_dir)
    art = hnsw.art_for(spark, sf_dir)
    plain = hnsw.collect_art(art)

    def both_routes(queries):
        dist = [tuple(r) for r in hnsw.hnsw_probe_batch(
            spark, corpus, art, queries, 10).collect()]
        drv = [tuple(r) for r in hnsw.hnsw_probe_batch_driver(
            spark, corpus, plain, queries, 10).collect()]
        assert dist == drv
        return dist

    batch = both_routes(hnsw._batch_queries(corpus))
    for vid in (0, 33):
        both_routes(_panel(spark, sf_dir, vid))
    qids = sorted({r[0] for r in batch})
    assert len(qids) > 1
    for qid in qids:
        one = [tuple(r) for r in hnsw.hnsw_probe_batch_driver(
            spark, corpus, plain, _panel(spark, sf_dir, qid), 10).collect()]
        assert [r for r in batch if r[0] == qid] == one, f"qid {qid}"


def test_collect_art_refuses_oversized(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(hnsw, "DRIVER_BEAM_MAX_NODES", 0)
    with pytest.raises(ValueError, match="DRIVER_BEAM_MAX_NODES"):
        hnsw.collect_art(hnsw.art_for(spark, sf_dir))


def test_edge_cap_admits_full_multilevel_graph():
    """The edge cap must cover the FULL geometric level sum (n·M·16/15)
    at the node cap — an exactly-n·M cap spuriously refused corpora in
    the top ~6% of the admitted node band (review-caught)."""
    import math
    worst = math.ceil(hnsw.DRIVER_BEAM_MAX_NODES * hnsw.HNSW_M * 16 / 15)
    assert hnsw.DRIVER_BEAM_MAX_EDGES >= worst
    # and it still trips on a real M inflation at the same node count
    assert hnsw.DRIVER_BEAM_MAX_NODES * (hnsw.HNSW_M * 2) \
        > hnsw.DRIVER_BEAM_MAX_EDGES


def test_collect_art_edge_guard_without_n(spark, sf_dir, monkeypatch):
    """ADVICE r8 #2 + VERDICT r8 #6: the collect guard must bind on
    EDGES, and an artifact handed over without an 'n' key must hit the
    guard instead of bypassing it into an unbounded collect."""
    art = dict(hnsw.art_for(spark, sf_dir))
    art.pop("n", None)
    monkeypatch.setattr(hnsw, "DRIVER_BEAM_MAX_EDGES", 10)
    with pytest.raises(ValueError, match="DRIVER_BEAM_MAX_EDGES"):
        hnsw.collect_art(art)


def test_collect_art_missing_n_collects_within_bounds(spark, sf_dir):
    """An in-bounds artifact without 'n' still collects (the guard
    counts edges/tops itself) and matches the keyed-artifact collect."""
    art = dict(hnsw.art_for(spark, sf_dir))
    art.pop("n", None)
    plain = hnsw.collect_art(art)
    keyed = hnsw.collect_art(hnsw.art_for(spark, sf_dir))
    assert plain["tops"] == keyed["tops"]
    assert plain["adj"] == keyed["adj"]


def test_hnsw_read_refuses_meta_without_buckets(spark, sf_dir, tmp_path):
    """ADVICE r8 #1: a meta lacking the persisted partition modulus
    must fail loudly — assuming the current ADJ_BUCKETS would mis-join
    the bucket key if the constant ever moves."""
    built = hnsw.hnsw_build(spark, _corpus(spark, sf_dir))
    path = str(tmp_path / "hnsw_art")
    hnsw.hnsw_write(built, path)
    (spark.createDataFrame([(int(built["L"]), int(built["n"]))],
                           "L int, n bigint")
     .write.mode("overwrite").parquet(f"{path}/meta"))
    with pytest.raises(ValueError, match="buckets"):
        hnsw.hnsw_read(spark, path)


def test_merge_flat_fallback_base_admits_batch_tops(spark):
    """ADVICE r8 #3: when the BASE graph is the degenerate flat
    fallback (no node reached level 1 → tops = every base node), the
    merged tops must admit the whole batch too — same entry-point
    convention for old and new nodes — and the twin must mirror it."""
    import hashlib
    import re as _re

    def lvl_of(i):
        return len(_re.match(
            "0*", hashlib.md5(str(i).encode()).hexdigest()).group(0))

    flat = [i for i in range(40) if lvl_of(i) == 0]
    base_ids, new_ids = sorted(flat[:6]), sorted(flat[6:9])
    ids = sorted(base_ids + new_ids)
    rows = [(i, _ml_vec(i)) for i in ids]
    corpus = spark.createDataFrame(rows, "vec_id bigint, vec array<double>")
    base_df = corpus.where(F.col("vec_id").isin(base_ids))
    batch_df = corpus.where(F.col("vec_id").isin(new_ids))
    base_art = hnsw.hnsw_build(spark, base_df)
    base_plain = hnsw.collect_art(base_art)
    assert base_plain["L"] == 1
    assert base_plain["tops"] == base_ids, "base must be flat-fallback"
    art = hnsw.collect_art(
        hnsw.hnsw_merge(spark, base_art, base_df, batch_df))
    assert art["tops"] == ids, "batch nodes must join the flat tops"
    X, nrm, idx_of, lvl = _ml_twin_parts(ids)
    twin = hnsw._twin_merge_parts(ids, X, nrm, idx_of, lvl,
                                  base_ids, new_ids)
    assert art["tops"] == twin["tops"]
    for level in art["adj"]:
        assert art["adj"][level] == twin["adj"][level]


def test_oracle_edge_cap(monkeypatch):
    """ADVICE r7 #2: an oversized corpus must fail loudly instead of
    emitting an unbounded VALUES literal."""
    art = {"adj": {0: [(0, 1)] * 3}}
    monkeypatch.setattr(hnsw, "ORACLE_EDGE_CAP", 2)
    with pytest.raises(ValueError, match="ORACLE_EDGE_CAP"):
        hnsw._guard_oracle_edges(art, "test")


# ---- multi-layer coverage: the test/driver sf dirs are small enough
# that the md5 level draw yields L=1, so the upper-layer hop logic
# would otherwise only run at sf0.1+. Build a synthetic corpus whose
# id set forces L=2 (enough ids with >= 2 leading md5 zeros) and pin
# build parity, probe route equality, and merge parity on it.

def _ml_ids():
    import hashlib
    import re as _re

    def lvl(i):
        return len(_re.match(
            "0*", hashlib.md5(str(i).encode()).hexdigest()).group(0))

    deep, shallow, i = [], [], 0
    while len(deep) < 10 or len(shallow) < 290:
        if lvl(i) >= 2:
            if len(deep) < 10:
                deep.append(i)
        elif len(shallow) < 290:
            shallow.append(i)
        i += 1
    return sorted(deep + shallow)


def _ml_vec(i):
    # deterministic rationals — exact in float64 on both engines
    return [((i * 31 + j * 17) % 97) / 97.0 + (1.0 if j == i % 8 else 0.0)
            for j in range(8)]


def _ml_corpus(spark):
    ids = _ml_ids()
    return ids, spark.createDataFrame(
        [(i, _ml_vec(i)) for i in ids],
        "vec_id bigint, vec array<double>")


def _ml_twin_parts(ids):
    import numpy as np

    X = np.array([_ml_vec(i) for i in ids], dtype=np.float64)
    idx_of = {i: n for n, i in enumerate(ids)}
    nrm2 = np.zeros(len(ids), dtype=np.float64)
    for j in range(X.shape[1]):
        nrm2 = nrm2 + X[:, j] * X[:, j]
    import hashlib
    import re as _re
    lvl = {i: len(_re.match("0*", hashlib.md5(
        str(i).encode()).hexdigest()).group(0)) for i in ids}
    return X, np.sqrt(nrm2), idx_of, lvl


def test_multilayer_build_matches_twin(spark):
    ids, corpus = _ml_corpus(spark)
    art = hnsw.collect_art(hnsw.hnsw_build(spark, corpus))
    assert art["L"] >= 2, f"synthetic corpus must be multi-layer, L={art['L']}"
    X, nrm, idx_of, lvl = _ml_twin_parts(ids)
    twin = hnsw._twin_art(ids, X, nrm, idx_of, lvl)
    assert art["L"] == twin["L"]
    assert art["tops"] == twin["tops"]
    for level in art["adj"]:
        assert art["adj"][level] == twin["adj"][level], \
            f"layer {level} diverged"


def test_multilayer_probe_routes_agree(spark):
    """With L >= 2 the upper-layer greedy hop actually executes — the
    driver beam and the distributed frontier-join probe must still
    agree row for row."""
    ids, corpus = _ml_corpus(spark)
    art = hnsw.collect_art(hnsw.hnsw_build(spark, corpus))
    assert art["L"] >= 2
    # a shallow node (route equality on an approximate result) and a
    # top-layer node (always visited, so self-match is guaranteed —
    # proving the descent doesn't lose the entry point's own id)
    for qid, want_self in ((ids[7], False), (art["tops"][0], True)):
        q = spark.createDataFrame([(qid, _ml_vec(qid))],
                                  "qid bigint, qvec array<double>")
        dist = _hits(hnsw.hnsw_probe_batch(spark, corpus, art, q, 10))
        drv = _hits(hnsw.hnsw_probe_batch_driver(spark, corpus, art, q, 10))
        assert dist == drv, f"routes diverged for qid {qid}"
        if want_self:
            assert dist[0][0] == qid


def test_multilayer_merge_matches_twin(spark):
    """Merge parity where it matters most: L = 2, a batch containing
    BOTH deep (level >= L, extends the top layer) and shallow nodes,
    per-layer wiring + frozen-L tops union all mirrored bit-for-bit."""
    ids, corpus = _ml_corpus(spark)
    X, nrm, idx_of, lvl = _ml_twin_parts(ids)
    deep = [i for i in ids if lvl[i] >= 2]
    shallow = [i for i in ids if lvl[i] < 2]
    new_ids = sorted(deep[:2] + shallow[:38])
    base_ids = sorted(set(ids) - set(new_ids))
    new_set = set(new_ids)
    from pyspark.sql import functions as F  # noqa: F811
    base_df = corpus.where(F.col("vec_id").isin(base_ids))
    batch_df = corpus.where(F.col("vec_id").isin(new_ids))
    base_art = hnsw.hnsw_build(spark, base_df)
    art = hnsw.collect_art(
        hnsw.hnsw_merge(spark, base_art, base_df, batch_df))
    twin = hnsw._twin_merge_parts(ids, X, nrm, idx_of, lvl,
                                  base_ids, new_ids)
    assert art["L"] == twin["L"] >= 2
    assert art["tops"] == twin["tops"]
    assert any(i in new_set for i in art["tops"]), \
        "a deep inserted node must join the frozen-L top layer"
    for level in art["adj"]:
        assert art["adj"][level] == twin["adj"][level], \
            f"layer {level} diverged"


def test_merge_empty_batch_is_identity(spark, sf_dir):
    """Ingesting an empty batch must return the base graph verbatim."""
    corpus = _corpus(spark, sf_dir)
    base_art = hnsw.hnsw_build(spark, corpus)
    empty = corpus.where(F.lit(False))
    art = hnsw.collect_art(hnsw.hnsw_merge(spark, base_art, corpus, empty))
    plain = hnsw.collect_art(base_art)
    assert art["L"] == plain["L"]
    assert art["tops"] == plain["tops"]
    assert art["adj"] == plain["adj"]


def test_degenerate_tiny_corpus(spark):
    """3-node corpus: level>=1 layer is (almost surely) empty, so the
    top layer falls back to every node and the probe degrades to an
    exact scan — no crash, full result."""
    rows = [(i, [float(i + 1), 1.0, 0.0, 0.5]) for i in range(3)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, vec array<double>")
    art = hnsw.collect_art(hnsw.hnsw_build(spark, corpus))
    assert art["L"] == 1
    assert len(art["tops"]) >= 1
    q = spark.createDataFrame([(0, [2.0, 1.0, 0.0, 0.5])],
                              "qid bigint, qvec array<double>")
    got = hnsw.hnsw_probe_batch(spark, corpus, art, q, 10).collect()
    assert 1 <= len(got) <= 3
    assert got[0].score == max(r.score for r in got)


def _exact_top10(x, qid=0):
    """Exact cosine top-10 ids of row qid, ties by id."""
    import numpy as np

    x = x.astype(np.float64)
    sc = x @ x[qid] / (np.linalg.norm(x, axis=1) * np.linalg.norm(x[qid]))
    return sorted(range(len(x)), key=lambda i: (-sc[i], i))[:10]


def test_overwrite_then_probe_rebuilds_graph(spark, write_embeddings):
    """Overwriting the embeddings table must rebuild the cached graph
    and its resident copy: the second probe answers from the NEW
    vectors (200 nodes: the beam visits enough to be exact here)."""
    d, x1 = write_embeddings(seed=1)
    first = [r.vec_id for r in hnsw.hnsw_knn(spark, d).collect()]
    assert first == _exact_top10(x1)
    _, x2 = write_embeddings(seed=2)
    want = _exact_top10(x2)
    assert want != first
    assert [r.vec_id for r in hnsw.hnsw_knn(spark, d).collect()] == want


def test_oracle_sql_is_registered():
    from unified_vector_database_spark import registry
    registry.load_all()
    assert "hnsw_knn" in registry.QUERIES
    sql = registry.resolved_oracles()["hnsw_knn"]
    assert "adj0" in sql and "LIMIT 10" in sql


def test_null_scores_rank_last_on_both_routes(spark):
    """A zero vector has a NULL cosine. The driver beam ranks it as the
    distributed beam's `score DESC NULLS LAST, vec_id` does, for a
    zero query (every score NULL) and for a zero vector at a top-layer
    node under a plain query; the driver route used to raise TypeError
    on float(None)."""
    import hashlib
    import re as _re

    import numpy as np

    def lvl(i):
        return len(_re.match(
            "0*", hashlib.md5(str(i).encode()).hexdigest()).group(0))

    x = np.random.default_rng(3).standard_normal((200, 64)).astype(np.float32)
    top = min(i for i in range(200) if lvl(i) >= 1)
    x[[top, 50, 51]] = 0.0
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(200)],
        "vec_id bigint, vec array<double>")
    art = hnsw.hnsw_build(spark, corpus)
    plain = hnsw.collect_art(art)
    assert top in plain["tops"]
    got = {}
    for name, qvec in (("zero", [0.0] * 64),
                       ("plain", [float(v) for v in x[7]])):
        q = spark.createDataFrame([(0, qvec)],
                                  "qid bigint, qvec array<double>")
        dist = [tuple(r) for r in
                hnsw.hnsw_probe_batch(spark, corpus, art, q, 10).collect()]
        drv = [tuple(r) for r in hnsw.hnsw_probe_batch_driver(
            spark, corpus, plain, q, 10).collect()]
        assert dist == drv, name
        assert len(dist) == 10, name
        got[name] = dist
    # a zero query scores every node NULL: rows come in id order
    assert all(r[2] is None for r in got["zero"])
    assert [r[1] for r in got["zero"]] == sorted(r[1] for r in got["zero"])
    assert got["plain"][0][1] == 7


def test_resident_copies_survive_session_restart(sf_dir, tmp_path):
    """The resident HNSW copies (`hnsw_session`, `hnsw_sq8`,
    `hnsw_merged` entries) hold Spark handles of the session that built
    them. After a stop and a restart in one process, the three entries
    that read them answer as before, with no dead-handle error."""
    import json
    import os
    import subprocess
    import sys

    code = ("import json, sys, tempfile\n"
            "from unified_vector_database_spark.operators import hnsw\n"
            "from unified_vector_database_spark.session import get_spark\n"
            "sf, tempfile.tempdir = sys.argv[1:]\n"
            "out = []\n"
            "for app in ('one', 'two'):\n"
            "    spark = get_spark(app, cpus=2, shuffle_partitions=2)\n"
            "    out.append([[list(r) for r in fn(spark, sf).collect()]\n"
            "                for fn in (hnsw.hnsw_knn, hnsw.hnsw_sq8_knn,\n"
            "                           hnsw.hnsw_merge_knn)])\n"
            "    spark.stop()\n"
            "print(json.dumps(out))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g")
    got = subprocess.run([sys.executable, "-c", code, sf_dir,
                          str(tmp_path)], env=env,
                         capture_output=True, text=True, timeout=600)
    assert got.returncode == 0, got.stderr[-2000:]
    first, second = json.loads(got.stdout.strip().splitlines()[-1])
    assert all(len(rows) == 10 for rows in first)
    assert first == second
