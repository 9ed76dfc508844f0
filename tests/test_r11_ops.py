"""Round-6 r11-wave checks: independent Python re-derivations and
plan/property tests for the new ops (incremental IVF merge, sparse
IDF modifier, multistage prefetch + maxsim rescore, graded ERR/DCG
rank_eval) — the defect class the hash oracle cannot see when both
engines share a bug.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------ ivf_merge_knn

def test_merge_equals_single_index_with_same_centroids(spark, sf_dir):
    """FAISS merge_from contract: searching the two-generation merged
    layout must return exactly what ONE index holding every row
    (under the same frozen quantizer) returns."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators.index import (
        MERGE_BASE_RES, MERGE_MOD, _merge_centroids, assign_cells,
        ivf_merge_knn, ivf_probe,
    )

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    base = corpus.where(F.pmod("vec_id", F.lit(MERGE_MOD)) < MERGE_BASE_RES)
    cents = _merge_centroids(spark, sf_dir, base)
    assigned = assign_cells(corpus, cents)
    mono = [(r.vec_id, round(r.score, 9))
            for r in ivf_probe(corpus, cents, assigned, q, k=10).collect()]
    merged = [(r.vec_id, round(r.score, 9))
              for r in ivf_merge_knn(spark, sf_dir).collect()]
    assert merged == mono


def test_merge_generations_are_disjoint_and_complete(spark, sf_dir, built):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.index import ivf_merge_knn

    ivf_merge_knn(spark, sf_dir).collect()  # ensure artifacts exist
    emb = tables.table_path(sf_dir, "embeddings")
    g0 = spark.read.parquet(built("ivfmerge_gen0", emb))
    g1 = spark.read.parquet(built("ivfmerge_gen1", emb))
    n0, n1 = g0.count(), g1.count()
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert n0 + n1 == total
    assert g0.join(g1, "vec_id").count() == 0


def test_merge_probe_prunes_partitions(spark, sf_dir, built):
    """The probe over each generation must prune at the file listing
    (PartitionFilters on cid), not scan-and-filter."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators.index import ivf_merge_knn

    ivf_merge_knn(spark, sf_dir).collect()
    emb = tables.table_path(sf_dir, "embeddings")
    df = (spark.read.parquet(built("ivfmerge_gen0", emb))
          .where(F.col("cid").isin([0, 1])))
    plan = _plan(df)
    assert "PartitionFilters" in plan and "cid" in plan, plan


# ----------------------------------------------------- sparse_idf_knn

def test_sparse_idf_matches_pure_python(spark, sf_dir):
    """Score re-derived in pure Python from the raw documents:
    hashed-token tf weights, Qdrant/BM25 idf on the query dims."""
    import collections
    import hashlib

    import duckdb

    from unified_vector_database_spark.operators.sparse import (
        SPARSE_DIM, sparse_idf_knn,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()

    def dims(text):
        out = collections.Counter()
        for t in text.strip().split():
            if t:
                d = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) \
                    % SPARSE_DIM
                out[d] += 1
        return {d: math.log(1 + c) for d, c in out.items()}

    vecs = {i: dims(t) for i, t in docs}
    n = len(docs)
    q = vecs[0]
    df = {d: sum(1 for v in vecs.values() if d in v) for d in q}
    qw = {d: w * math.log((n - df[d] + 0.5) / (df[d] + 0.5) + 1)
          for d, w in q.items()}
    scores = {}
    for i, v in vecs.items():
        s = sum(w * qw[d] for d, w in v.items() if d in qw)
        if round(s, 6) > 0:
            scores[i] = round(s, 6)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = [(r.doc_id, r.score) for r in sparse_idf_knn(spark, sf_dir).collect()]
    assert [(i, pytest.approx(s, abs=2e-6)) for i, s in want] == got


def test_sparse_idf_downweights_common_dims(spark, sf_dir):
    """A dim present in every doc must carry (near-)minimal idf:
    the idf of the most common query dim is <= idf of the rarest."""
    import duckdb

    from unified_vector_database_spark.operators.sparse import SPARSE_DIM

    # idf is monotone decreasing in df by construction; pin the
    # formula's shape rather than the engine: df=1 vs df=N
    n = 100
    idf = lambda dfc: math.log((n - dfc + 0.5) / (dfc + 0.5) + 1)
    assert idf(1) > idf(50) > idf(99)
    assert idf(99) > 0  # BM25+ variant never goes negative


# -------------------------------------------- prefetch_maxsim_rerank

def test_prefetch_shortlist_bounds_the_rerank(spark, sf_dir):
    """Every returned id must come from the dense top-PREFETCH_LIMIT
    shortlist, and the final order must be maxsim, not dense."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.functions import distance as D
    from unified_vector_database_spark.operators.knn import (
        PREFETCH_LIMIT, prefetch_maxsim_rerank,
    )

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    cos = D.METRICS["cosine"]
    short = {r.vec_id for r in
             (corpus.crossJoin(F.broadcast(q))
              .select("vec_id", cos("vec", "qvec").alias("s"))
              .orderBy(F.desc("s"), "vec_id")
              .limit(PREFETCH_LIMIT).collect())}
    got = prefetch_maxsim_rerank(spark, sf_dir).collect()
    assert {r.vec_id for r in got} <= short
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)


def test_prefetch_unbounded_equals_bruteforce_maxsim(spark, sf_dir):
    """The limit->corpus contract: with an unbounded prefetch the
    staged query IS brute-force maxsim (identical ids and scores) —
    the shortlist only ever narrows candidates, never rescores
    differently."""
    from unified_vector_database_spark.operators.knn import (
        _prefetch_maxsim, maxsim_knn,
    )

    brute = [(r.vec_id, r.score) for r in maxsim_knn(spark, sf_dir).collect()]
    staged = [(r.vec_id, r.score)
              for r in _prefetch_maxsim(spark, sf_dir, 1 << 30).collect()]
    assert staged == brute


# -------------------------------------------------------- err_rank_eval

def test_err_matches_pure_python_cascade(spark, sf_dir):
    """ERR/DCG re-derived with the plain sequential cascade product
    (no exp/ln trick) from the same ranked list."""
    import duckdb

    from unified_vector_database_spark.operators.evaluation import (
        ERR_K, err_rank_eval,
    )

    rows = duckdb.sql(f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS qv, label AS ql
                   FROM '{sf_dir}/embeddings.parquet' WHERE vec_id = 0)
        SELECT e.vec_id, e.label, q.ql,
               list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS s
        FROM '{sf_dir}/embeddings.parquet' e, q
        WHERE e.vec_id <> 0
        ORDER BY s DESC, e.vec_id LIMIT {ERR_K}
    """).fetchall()
    err, dcg, trust = 0.0, 0.0, 1.0
    hits = 0
    for pos, (_, label, ql, _s) in enumerate(rows, start=1):
        g = 3.0 if label == ql else (1.0 if label % 2 == ql % 2 else 0.0)
        r = (2 ** g - 1) / 8.0
        err += trust * r / pos
        trust *= (1 - r)
        dcg += (2 ** g - 1) / math.log2(pos + 1)
        hits += 1 if g > 0 else 0
    got = err_rank_eval(spark, sf_dir).collect()[0]
    assert got.err_at_k == pytest.approx(err, abs=2e-6)
    assert got.dcg_at_k == pytest.approx(dcg, abs=2e-6)
    assert got.n_graded_hits == hits


def test_err_is_bounded_and_no_window(spark, sf_dir):
    from unified_vector_database_spark.operators.evaluation import (
        err_rank_eval,
    )

    df = err_rank_eval(spark, sf_dir)
    assert "Window" not in _plan(df), _plan(df)
    row = df.collect()[0]
    # ERR is a probability-weighted reciprocal rank: within (0, 1]
    assert 0.0 <= row.err_at_k <= 1.0
