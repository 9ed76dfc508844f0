"""Round-6 r10-wave checks: independent Python re-derivations and
plan/property tests for the new ops (OPQ rotation + PQ, ES search_mvt
tiles, geo_shape envelope intersects, deterministic training shards,
Weaviate certainty cutoff, corpus drift KL, LSH band recall curve) —
the defect class the hash oracle cannot see when both engines share a
bug.
"""

from __future__ import annotations

import math

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------- opq_pq_knn

def test_opq_rotation_is_orthogonal_and_norm_preserving():
    import numpy as np

    from unified_vector_database_spark.operators.index import opq_fit

    rng = np.random.default_rng(7)
    x = rng.normal(size=(512, 64)) @ rng.normal(size=(64, 64))  # correlated
    mu, r = opq_fit(x)
    r = np.asarray(r)
    assert np.allclose(r @ r.T, np.eye(64), atol=1e-9)
    v = rng.normal(size=64)
    assert math.isclose(np.linalg.norm(r @ v), np.linalg.norm(v),
                        rel_tol=1e-12)
    # sign canonicalization: largest-|.| entry of each row positive
    for row in r:
        assert row[int(np.abs(row).argmax())] > 0


def test_opq_recall_vs_flat_l2(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators.index import opq_pq_knn
    from unified_vector_database_spark.operators.knn import knn
    from pyspark.sql import functions as F

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first().embedding]
    qdf = spark.createDataFrame([(qvec,)], "qvec array<double>")
    flat = {r.vec_id for r in knn(corpus, qdf, k=10, metric="l2").collect()}
    got = opq_pq_knn(spark, sf_dir).collect()
    recall = len(flat & {r.vec_id for r in got}) / 10
    assert recall >= 0.7, f"OPQ-PQ recall@10 too low: {recall}"
    scores = [r.score for r in got]          # exact rerank => true L2 asc
    assert scores == sorted(scores)


def test_opq_rotation_decorrelates_subspace_variance(spark, sf_dir):
    """The point of OPQ: after rotation the per-dimension variance is
    sorted (eigenvalue order), so early PQ subspaces carry the most
    variance instead of whatever the raw storage order gave."""
    import numpy as np

    from unified_vector_database_spark.operators.index import (
        _opq_artifacts, KMEANS_SAMPLE,
    )
    import duckdb

    mu, r, cbs, _ = _opq_artifacts(sf_dir)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {KMEANS_SAMPLE}").fetchall()
    con.close()
    x = np.array([v[0] for v in rows], dtype=np.float64)
    y = (x - np.asarray(mu)) @ np.asarray(r).T
    var = y.var(axis=0)
    assert (np.diff(var) <= 1e-9).all(), "rotated dims not variance-sorted"
    # and the rotated covariance is (near-)diagonal
    cov = np.cov(y.T)
    off = np.abs(cov - np.diag(np.diag(cov))).max()
    assert off < np.diag(cov).max() * 1e-6


def test_opq_probe_reads_codes_artifact_not_vectors(spark, sf_dir, built):
    from unified_vector_database_spark.operators.index import (
        _opq_artifacts, opq_codes_artifact, pq_adc_scores, _rotate_col,
    )
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from pyspark.sql import functions as F

    mu, r, cbs, qvec = _opq_artifacts(sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    codes = opq_codes_artifact(
        spark, sf_dir,
        lambda: corpus.select(
            "vec_id", _rotate_col(F.col("vec"), mu, r).alias("vec")),
        cbs)
    plan = _plan(pq_adc_scores(codes, qvec, cbs)
                 .orderBy("adc", "vec_id").limit(64))
    # the ADC shortlist pass scans the codes artifact, not embeddings
    art = built("opq_codes", tables.table_path(sf_dir, "embeddings"))
    assert art.rsplit("/", 1)[-1] in plan
    assert "embeddings.parquet" not in plan


# ------------------------------------------------------ search_mvt_tile

def test_mvt_tile_matches_python_model(spark, sf_dir):
    import duckdb

    from unified_vector_database_spark.operators.aggregations import (
        MVT_GRID_BITS, MVT_X, MVT_Y, _MVT_FINE_N, _MVT_FINE_Z,
        _slippy_xy, search_mvt_tile,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT c_custkey, c_acctbal FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    con.close()
    cells = {}
    for ck, bal in rows:
        lat = ((ck * 9973) % 18000) / 100.0 - 90.0
        lon = ((ck * 7919) % 36000) / 100.0 - 180.0
        xt, yt = _slippy_xy(lat, lon, _MVT_FINE_Z)
        if (xt >> MVT_GRID_BITS, yt >> MVT_GRID_BITS) != (MVT_X, MVT_Y):
            continue
        cells.setdefault((xt, yt), []).append((ck, bal))
    want = []
    for (xt, yt), hits in cells.items():
        top = sorted(hits, key=lambda t: (-t[1], t[0]))[0]
        want.append((f"{_MVT_FINE_Z}/{xt}/{yt}", len(hits),
                     round(sum(b for _, b in hits), 2), top[0], top[1]))
    want.sort(key=lambda t: (-t[1], t[0]))
    got = [(r.cell, r.n, r.sum_bal, r.top_custkey, r.top_bal)
           for r in search_mvt_tile(spark, sf_dir).collect()]
    assert got == want[:25]
    assert len(got) > 0
    # every returned cell really lives inside the target tile
    for cell, *_ in got:
        _, x, y = cell.split("/")
        assert int(x) >> MVT_GRID_BITS == MVT_X
        assert int(y) >> MVT_GRID_BITS == MVT_Y
        assert int(x) < _MVT_FINE_N and int(y) < _MVT_FINE_N


# --------------------------------------------------- geo_shape_envelope

def test_geo_shape_relations_match_python_model(spark, sf_dir):
    import duckdb

    from unified_vector_database_spark.operators.geo import (
        GS_Q_MAXLAT, GS_Q_MAXLON, GS_Q_MINLAT, GS_Q_MINLON,
        geo_shape_envelope,
    )

    con = duckdb.connect()
    keys = [r[0] for r in con.execute(
        f"SELECT c_custkey FROM '{sf_dir}/customer.parquet'").fetchall()]
    con.close()
    want = []
    for ck in sorted(keys):
        lat = ((ck * 9973) % 18000) / 100.0 - 90.0
        lon = ((ck * 7919) % 36000) / 100.0 - 180.0
        dlat = ((ck * 31) % 500) / 100.0
        dlon = ((ck * 17) % 500) / 100.0
        mnla, mxla = lat - dlat, lat + dlat
        mnlo, mxlo = lon - dlon, lon + dlon
        if not (mnla <= GS_Q_MAXLAT and mxla >= GS_Q_MINLAT
                and mnlo <= GS_Q_MAXLON and mxlo >= GS_Q_MINLON):
            continue
        if (mnla >= GS_Q_MINLAT and mxla <= GS_Q_MAXLAT
                and mnlo >= GS_Q_MINLON and mxlo <= GS_Q_MAXLON):
            rel = "WITHIN"
        elif (mnla <= GS_Q_MINLAT and mxla >= GS_Q_MAXLAT
                and mnlo <= GS_Q_MINLON and mxlo >= GS_Q_MAXLON):
            rel = "CONTAINS"
        else:
            rel = "INTERSECTS"
        want.append((ck, rel))
    got = [(r.c_custkey, r.relation)
           for r in geo_shape_envelope(spark, sf_dir).collect()]
    assert got == want[:50]
    assert len(got) > 0
    # the classifier is exercised beyond the trivial single class
    assert len({rel for _, rel in got}) >= 2


# ------------------------------------------------ near_vector_certainty

def test_certainty_threshold_cuts_below_limit(spark, sf_dir):
    from unified_vector_database_spark.operators.knn import (
        NV_CERTAINTY, NV_CERT_LIMIT, near_vector_certainty,
    )

    got = near_vector_certainty(spark, sf_dir).collect()
    assert 0 < len(got) < NV_CERT_LIMIT  # the floor cuts, not the limit
    assert all(r.certainty >= NV_CERTAINTY for r in got)
    certs = [r.certainty for r in got]
    assert certs == sorted(certs, reverse=True)
    assert all(0.0 <= c <= 1.0 for c in certs)
    # the query itself (vec_id 0) is certainty 1.0, the max
    assert got[0].vec_id == 0 and got[0].certainty == 1.0


# ----------------------------------------------------- training_shards

def test_training_shards_balanced_and_complete(spark, sf_dir):
    import duckdb

    from unified_vector_database_spark.operators.sampling import (
        SHARDS_N, training_shards,
    )

    got = training_shards(spark, sf_dir).collect()
    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    con.close()
    assert sum(r.n_docs for r in got) == n_docs     # every doc lands once
    assert {r.shard for r in got} <= set(range(SHARDS_N))
    # hash routing balances: no shard more than 4x the mean (small-N
    # corpora are noisy; at scale the bound tightens as 1/sqrt(n))
    mean = n_docs / SHARDS_N
    assert max(r.n_docs for r in got) <= 4 * mean + 4


def test_training_shards_deterministic_across_runs(spark, sf_dir):
    from unified_vector_database_spark.operators.sampling import (
        training_shards,
    )

    a = [tuple(r) for r in training_shards(spark, sf_dir).collect()]
    b = [tuple(r) for r in training_shards(spark, sf_dir).collect()]
    assert a == b


# ----------------------------------------------------- corpus_drift_kl

def test_corpus_drift_kl_matches_python_model(spark, sf_dir):
    import math as m

    import duckdb

    from unified_vector_database_spark.operators.quality import (
        corpus_drift_kl,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    con.close()
    ca, cb = {}, {}
    for did, text in rows:
        tgt = ca if did % 2 == 0 else cb
        for t in text.strip().split(" "):
            if t:
                tgt[t] = tgt.get(t, 0) + 1
    vocab = set(ca) | set(cb)
    ta, tb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    contribs = {}
    for t in vocab:
        p = (ca.get(t, 0) + 1) / (ta + v)
        q = (cb.get(t, 0) + 1) / (tb + v)
        contribs[t] = round(p * round(m.log(p / q), 6), 12)
    got = corpus_drift_kl(spark, sf_dir).collect()
    assert got[0].term == "[TOTAL_KL]"
    assert got[0].ca == ta and got[0].cb == tb
    assert m.isclose(got[0].contrib, sum(contribs.values()), abs_tol=1e-9)
    # KL(A||A) would be 0; a same-corpus split should be small but the
    # smoothed estimator is nonneg-biased — assert finite, not huge
    assert 0 <= got[0].contrib < 1.0
    top = sorted(contribs.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [(r.term, r.contrib) for r in got[1:]] \
        == [(t, pytest.approx(c, abs=1e-9)) for t, c in top]
