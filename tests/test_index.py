"""ANN index guarantees: recall vs the FLAT baseline (the contract the
reference backends document for IVF/HNSW/SQ8), plus determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from unified_vector_database_spark import tables
from unified_vector_database_spark.functions import distance as D
from unified_vector_database_spark.operators.index import (
    KMEANS_K, assign_cells, centroids_for, ivf_probe, kmeans_fit,
    lsh_bucket_knn, lsh_planes, sq8_bounds, sq8_quantize,
)
from unified_vector_database_spark.operators.knn import knn


def _corpus_query(spark, sf_dir, qid=0):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == qid)
            .select(D.vec_double("embedding").alias("qvec")))
    return corpus, q


def test_ivf_recall(spark, sf_dir):
    corpus, q = _corpus_query(spark, sf_dir)
    flat = {r.vec_id for r in knn(corpus, q, k=10).collect()}
    cents = kmeans_fit(corpus)
    assert cents.count() == KMEANS_K
    assigned = assign_cells(corpus, cents)
    # every vector lands in exactly one cell
    assert assigned.count() == corpus.count()
    ivf = {r.vec_id for r in
           ivf_probe(corpus, cents, assigned, q, k=10).collect()}
    recall = len(flat & ivf) / 10
    assert recall >= 0.6, f"IVF recall@10 too low: {recall}"


def test_ivf_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    from unified_vector_database_spark.operators.index import (
        ivf_probe_partitioned, ivf_write_partitioned,
    )
    from unified_vector_database_spark.plans.asserts import plan_text
    corpus, q = _corpus_query(spark, sf_dir)
    cents = kmeans_fit(corpus)
    path = str(tmp_path / "ivf_cells")
    ivf_write_partitioned(corpus, cents, path)

    probe = ivf_probe_partitioned(spark, path, cents, q, k=10)
    text = plan_text(probe)
    assert "PartitionFilters" in text and "cid" in text  # pruned scan
    got = {r.vec_id for r in probe.collect()}
    flat = {r.vec_id for r in knn(corpus, q, k=10).collect()}
    assert len(flat & got) / 10 >= 0.6


def test_salted_join_preserves_results(spark, sf_dir):
    from unified_vector_database_spark.operators.skew import salted_join
    from unified_vector_database_spark import tables as tl
    orders = tl.load(spark, sf_dir, "orders")
    cust = tl.load(spark, sf_dir, "customer")
    plain = (orders.join(cust, orders.o_custkey == cust.c_custkey)
             .groupBy("c_mktsegment").count())
    salted = (salted_join(orders.withColumnRenamed("o_custkey", "ck"),
                          cust.withColumnRenamed("c_custkey", "ck"),
                          key="ck", hot_keys=[1, 2, 3], factor=4)
              .groupBy("c_mktsegment").count())
    a = {(r.c_mktsegment, r["count"]) for r in plain.collect()}
    b = {(r.c_mktsegment, r["count"]) for r in salted.collect()}
    assert a == b


def test_ivf_recall_improves_with_nprobe(spark, sf_dir):
    corpus, q = _corpus_query(spark, sf_dir)
    flat = {r.vec_id for r in knn(corpus, q, k=10).collect()}
    cents = kmeans_fit(corpus)
    assigned = assign_cells(corpus, cents).cache()
    recalls = []
    for nprobe in (1, 4, KMEANS_K):
        got = {r.vec_id for r in
               ivf_probe(corpus, cents, assigned, q, k=10,
                         nprobe=nprobe).collect()}
        recalls.append(len(flat & got) / 10)
    # monotone non-decreasing, and full probe == exact
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0


def test_lsh_recall_and_balance(spark, sf_dir):
    corpus, q = _corpus_query(spark, sf_dir)
    flat = {r.vec_id for r in knn(corpus, q, k=10).collect()}
    got = {r.vec_id for r in
           lsh_bucket_knn(corpus, q, k=10, dim=64).collect()}
    # single-bucket probe: the query's own bucket must contain the
    # query vector itself (sanity) and some true neighbors
    assert 0 in got
    assert len(flat & got) >= 1


def test_lsh_multiprobe_improves_recall(spark, sf_dir):
    corpus, q = _corpus_query(spark, sf_dir)
    flat = {r.vec_id for r in knn(corpus, q, k=10).collect()}
    # 8 planes = 256 buckets, sized to the ~500-row test corpus (the
    # 16-plane default targets 1e6+ rows — see lsh_bucket_knn doc)
    single = {r.vec_id for r in
              lsh_bucket_knn(corpus, q, k=10, dim=64,
                             n_planes=8).collect()}
    multi = {r.vec_id for r in
             lsh_bucket_knn(corpus, q, k=10, dim=64,
                            n_planes=8, multiprobe=16).collect()}
    r1 = len(flat & single) / 10
    r2 = len(flat & multi) / 10
    assert r2 >= r1  # probing more buckets never hurts recall
    assert r2 >= 0.3


def test_lsh_planes_deterministic():
    assert lsh_planes(8, 4) == lsh_planes(8, 4)
    assert lsh_planes(8, 4) != lsh_planes(8, 4, seed=43)


def test_sq8_roundtrip_rank_correlation(spark, sf_dir):
    corpus, q = _corpus_query(spark, sf_dir)
    bounds = sq8_bounds(corpus)
    coded = sq8_quantize(corpus, bounds)
    row = coded.where(F.col("vec_id") == 1).first()
    assert len(row.codes) == 64
    assert all(0 <= c <= 255 for c in row.codes)
    # decode approximates the original: top-10 by quantized cosine
    # overlaps top-10 exact by >= 6
    lo, hi = bounds.first().lo, bounds.first().hi
    dec = F.transform(
        F.arrays_zip("codes", F.array(*[F.lit(float(x)) for x in lo]).alias("lo"),
                     F.array(*[F.lit(float(h - l)) for l, h in zip(lo, hi)]).alias("rng")),
        lambda s: s.lo + s.codes / F.lit(255.0) * s.rng)
    approx = coded.select("vec_id", dec.alias("vec"))
    exact = {r.vec_id for r in knn(corpus, q, k=10).collect()}
    quant = {r.vec_id for r in knn(approx, q, k=10).collect()}
    assert len(exact & quant) >= 6


def test_pq_recall_vs_flat_l2(spark, sf_dir):
    from unified_vector_database_spark.operators.index import (
        pq_encode, pq_fit, pq_knn,
    )
    corpus, _ = _corpus_query(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first().embedding]
    qdf = spark.createDataFrame([(qvec,)], "qvec array<double>")
    flat = {r.vec_id for r in knn(corpus, qdf, k=10, metric="l2").collect()}
    cbs = pq_fit(corpus)
    codes = pq_encode(corpus, cbs)
    got = pq_knn(corpus, codes, qvec, cbs, k=10).collect()
    recall = len(flat & {r.vec_id for r in got}) / 10
    # ADC shortlist (64) + exact rerank: the shortlist recall is the
    # only approximation
    assert recall >= 0.7, f"PQ recall@10 too low: {recall}"
    # exact rerank => returned distances are true L2, ascending
    scores = [r.score for r in got]
    assert scores == sorted(scores)


def test_pq_codes_shape_and_compression(spark, sf_dir):
    from unified_vector_database_spark.operators.index import (
        PQ_KSUB, PQ_M, pq_encode, pq_fit,
    )
    corpus, _ = _corpus_query(spark, sf_dir)
    cbs = pq_fit(corpus)
    assert len(cbs) == PQ_M and all(len(cb) == PQ_KSUB for cb in cbs)
    rows = pq_encode(corpus, cbs).collect()
    assert len(rows) == corpus.count()
    for r in rows[:20]:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_KSUB for c in r.codes)


def test_ivfpq_recall_vs_flat_l2(spark, sf_dir):
    from unified_vector_database_spark.operators.index import (
        ivfpq_knn_build, ivfpq_knn_probe,
    )
    corpus, q = _corpus_query(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first().embedding]
    flat = {r.vec_id for r in knn(corpus, q, k=10, metric="l2").collect()}
    cents, cbs, codes = ivfpq_knn_build(corpus)
    got = ivfpq_knn_probe(corpus, cents, cbs, codes, q, qvec, k=10).collect()
    # two stacked approximations (cell pruning + ADC shortlist): the
    # composition must still find most true neighbors
    recall = len(flat & {r.vec_id for r in got}) / 10
    assert recall >= 0.5, f"IVF-PQ recall@10 too low: {recall}"
    scores = [r.score for r in got]
    assert scores == sorted(scores)


def test_pq_entry_scans_parquet_artifact(spark, sf_dir, built):
    """r5 (VERDICT r4 #1): the registered pq/ivfpq entries must read
    their codes from the persisted parquet artifact — never a
    driver-collected localtable — and the ivfpq probe's cell filter
    must prune the artifact at the file listing."""
    from unified_vector_database_spark.operators.index import (
        ivfpq_knn, pq_adc_knn,
    )
    from unified_vector_database_spark.plans.asserts import plan_text

    emb = tables.table_path(sf_dir, "embeddings")
    t = plan_text(pq_adc_knn(spark, sf_dir))
    assert built("pq_codes", emb).rsplit("/", 1)[-1] in t, t
    assert "LocalTableScan" not in t.replace(
        "LocalTableScan <empty>", "")  # codes never driver-side

    t2 = plan_text(ivfpq_knn(spark, sf_dir))
    assert built("ivfpq_codes", emb).rsplit("/", 1)[-1] in t2, t2
    assert "PartitionFilters" in t2 and "cid" in t2  # pruned at listing


def test_pq_codes_rebuilt_after_overwrite(spark, write_embeddings):
    """The persisted PQ codes follow the embeddings file's content:
    after an overwrite, pq_adc_knn returns the new table's exact L2
    top-10, not a shortlist drawn from the old table's codes."""
    import numpy as np

    from unified_vector_database_spark.operators.index import pq_adc_knn

    d, _ = write_embeddings(seed=1)
    pq_adc_knn(spark, d).collect()
    _, x = write_embeddings(seed=2)
    x = x.astype(np.float64)
    dist = ((x - x[0]) ** 2).sum(axis=1)
    exact = sorted(range(len(x)), key=lambda i: (dist[i], i))[:10]
    assert [r.vec_id for r in pq_adc_knn(spark, d).collect()] == exact


def test_centroids_refit_after_overwrite(spark, write_embeddings):
    """centroids_for caches the fit per embeddings file; overwriting
    the file must refit from the new vectors."""
    def fit(d):
        corpus, _ = _corpus_query(spark, d)
        cached = sorted(tuple(r) for r in
                        centroids_for(spark, d, corpus).collect())
        fresh = sorted(tuple(r) for r in kmeans_fit(corpus).collect())
        return cached, fresh

    d, _ = write_embeddings(seed=1)
    first, fresh = fit(d)
    assert first == fresh
    write_embeddings(seed=2)
    second, fresh = fit(d)
    assert second == fresh and second != first
