"""Sparse vector search — the Milvus sparse-BM25 / Qdrant sparse-vector
surface (reference README.md:95 client libs imply both; SPLADE-class
learned-sparse retrieval is the modern use).

A sparse embedding is `(indices: array<long> sorted asc, values:
array<double>)` over a fixed hash dimension space (SPARSE_DIM). The
corpus side here derives deterministic sparse vectors from the
documents table (hashed-token dims, ln(1+tf) weights) so the operator
is testable end-to-end without a learned encoder; a real pipeline
would load precomputed (indices, values) columns and use the same
scorer unchanged.

Scale shape (the point of the design):
- building sparse vectors is one explode + one (doc, dim) groupBy —
  uniform keys, partial-agg friendly;
- scoring broadcasts only the QUERY map (|q| entries, a few hundred
  max) and evaluates the dot product map-side inside the corpus scan
  via `F.aggregate` over the zipped (index, value) arrays — zero
  corpus shuffle, top-k is TakeOrderedAndProject;
- batch/many-query variants fall back to posexplode + equi-join on
  dim, which shuffles |corpus nnz| once — the classic inverted-index
  join, still linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tables
from ..constants import HYBRID_CANDIDATES
from ..functions import distance as D
from ..functions.hashing import md5_int32
from ..functions.text import TOK_SQL, tokens
from ..registry import register

SPARSE_DIM = 1 << 16  # 65536 hash buckets — SPLADE vocab scale


# DuckDB twin of the sparse derivation: token -> md5 dim bucket,
# weight = ln(1 + per-dim token count). `('0x'||substr(md5,1,8))`
# matches functions/hashing.md5_int32 exactly (see memory: every hash
# bottoms out in md5).
_SPARSE_CTE = f"""
tok AS (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
sp AS (SELECT doc_id,
              ('0x' || substr(md5(term), 1, 8))::BIGINT % {SPARSE_DIM} AS dim,
              ln(1 + count(*)) AS w
       FROM tok GROUP BY 1, 2),
sq AS (SELECT dim, w FROM sp WHERE doc_id = 0)
"""


def sparse_from_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, dim, w) long-form sparse weights: dim = md5 bucket of
    the token, w = ln(1 + token count in that bucket)."""
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    return (tok.groupBy("doc_id",
                        F.pmod(md5_int32("term"), F.lit(SPARSE_DIM))
                         .alias("dim"))
               .agg(F.log(1 + F.count("*")).alias("w")))


def sparse_vectors(docs: DataFrame) -> DataFrame:
    """Collection-layout sparse embedding column: one row per doc with
    aligned (indices sorted asc, values) arrays — the storage format a
    user would persist next to the dense embedding column."""
    entries = (sparse_from_documents(docs)
               .groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(F.struct("dim", "w")))
                     .alias("entries")))
    return entries.select(
        "doc_id",
        F.transform("entries", lambda e: e["dim"]).alias("indices"),
        F.transform("entries", lambda e: e["w"]).alias("values"))


def sparse_dot(vecs: DataFrame, query_map: F.Column) -> F.Column:
    """Map-side sparse dot product: for each stored index, look the
    dim up in the broadcast query map (NULL -> 0) and accumulate in
    index order (deterministic). JVM-only — no UDF, no shuffle."""
    prods = F.zip_with(
        "indices", "values",
        lambda i, v: v * F.coalesce(F.try_element_at(query_map, i),
                                    F.lit(0.0)))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _sparse_corpus_and_query(spark: SparkSession, sf_dir: str):
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    vecs = sparse_vectors(docs)
    q = (vecs.where(F.col("doc_id") == 0)
             .select(F.map_from_arrays("indices", "values").alias("qmap")))
    return vecs, q


def sparse_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse score of every doc vs the doc-0 query (positive matches
    only — docs sharing no dim with the query drop out, mirroring the
    oracle's inner join on dim)."""
    vecs, q = _sparse_corpus_and_query(spark, sf_dir)
    return (vecs.crossJoin(F.broadcast(q))
                .select("doc_id",
                        F.round(sparse_dot(vecs, F.col("qmap")), 6)
                         .alias("score"))
                .where(F.col("score") > 0))


@register("knn_sparse", oracle=f"""
WITH {_SPARSE_CTE}
SELECT sp.doc_id, round(sum(sp.w * sq.w), 6) AS score
FROM sp JOIN sq USING (dim)
GROUP BY sp.doc_id
HAVING round(sum(sp.w * sq.w), 6) > 0
ORDER BY score DESC, doc_id LIMIT 15
""")
def knn_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse top-k: dot product against the doc-0 sparse query under
    the map-side scorer; ORDER BY rounded score + id tiebreak so both
    engines cut identical top-15."""
    return (sparse_scores(spark, sf_dir)
            .orderBy(F.desc("score"), "doc_id").limit(15))


_COS = ("list_dot_product(embedding::DOUBLE[], qvec)"
        "/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
        "*sqrt(list_dot_product(qvec, qvec)))")


@register("hybrid_sparse_dense", oracle=f"""
WITH {_SPARSE_CTE},
qv AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
vec AS (SELECT vec_id AS doc_id, {_COS} AS vscore FROM embeddings, qv),
ks AS (SELECT sp.doc_id, round(sum(sp.w * sq.w), 6) AS score
       FROM sp JOIN sq USING (dim) GROUP BY sp.doc_id
       HAVING round(sum(sp.w * sq.w), 6) > 0),
kcand AS (SELECT doc_id, score FROM ks
          ORDER BY score DESC, doc_id LIMIT {HYBRID_CANDIDATES}),
vcand AS (SELECT doc_id, vscore FROM vec
          ORDER BY vscore DESC, doc_id LIMIT {HYBRID_CANDIDATES}),
kmax AS (SELECT max(score) AS m FROM kcand),
vmax AS (SELECT max(vscore) AS m FROM vcand),
fused AS (
  SELECT coalesce(kcand.doc_id, vcand.doc_id) AS doc_id,
         round(0.5 * coalesce(kcand.score / kmax.m, 0)
               + 0.5 * coalesce(vcand.vscore / vmax.m, 0), 6) AS hybrid_score
  FROM kcand FULL OUTER JOIN vcand ON kcand.doc_id = vcand.doc_id, kmax, vmax)
SELECT doc_id, hybrid_score FROM fused
ORDER BY hybrid_score DESC, doc_id LIMIT 15
""")
def hybrid_sparse_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-sparse + dense fusion (the Milvus hybrid_search /
    Qdrant sparse+dense prefetch shape): sparse and cosine modalities
    each cut to top-N candidates, max-normalized, weighted 0.5/0.5.
    embeddings.vec_id is the documents.doc_id foreign key, so doc 0's
    sparse vector and vec 0's dense embedding are the same query
    object in both modalities."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    qv = (emb.where(F.col("vec_id") == 0)
             .select(D.vec_double("embedding").alias("qvec"))
             .withColumn("nq", D.norm("qvec")))
    vec = (emb.select(F.col("vec_id").alias("doc_id"),
                      D.vec_double("embedding").alias("vec"))
              .withColumn("nvec", D.norm("vec"))
              .crossJoin(F.broadcast(qv))
              .select("doc_id", D.safe_div(D.dot("vec", "qvec"),
                                           F.col("nvec") * F.col("nq"))
                      .alias("vscore")))
    kcand = (sparse_scores(spark, sf_dir)
             .orderBy(F.desc("score"), "doc_id").limit(HYBRID_CANDIDATES))
    vcand = vec.orderBy(F.desc("vscore"), "doc_id").limit(HYBRID_CANDIDATES)
    kmax = kcand.agg(F.max("score").alias("km"))
    vmax = vcand.agg(F.max("vscore").alias("vm"))
    return (kcand.join(vcand, "doc_id", "full_outer")
                 .crossJoin(F.broadcast(kmax)).crossJoin(F.broadcast(vmax))
                 .select("doc_id",
                         F.round(0.5 * F.coalesce(F.col("score") / F.col("km"),
                                                  F.lit(0.0))
                                 + 0.5 * F.coalesce(F.col("vscore") / F.col("vm"),
                                                    F.lit(0.0)),
                                 6).alias("hybrid_score"))
                 .orderBy(F.desc("hybrid_score"), "doc_id").limit(15))


@register("sparse_vectors_layout", oracle=f"""
WITH tok AS (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
sp AS (SELECT doc_id,
              ('0x' || substr(md5(term), 1, 8))::BIGINT % {SPARSE_DIM} AS dim,
              ln(1 + count(*)) AS w
       FROM tok GROUP BY 1, 2)
SELECT doc_id,
       CAST(count(*) AS INT) AS nnz,
       min(dim) AS min_dim, max(dim) AS max_dim,
       round(sum(w * w), 6) AS sq_norm
FROM sp GROUP BY doc_id ORDER BY doc_id
""")
def sparse_vectors_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout audit of the sparse embedding column: nnz, dim
    range, and squared norm per doc — exercises the full (indices,
    values) build path and pins it to the oracle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    vecs = sparse_vectors(docs)
    sq = F.aggregate(F.transform("values", lambda v: v * v),
                     F.lit(0.0), lambda a, x: a + x)
    return (vecs.select("doc_id",
                        F.size("indices").alias("nnz"),
                        F.element_at("indices", 1).alias("min_dim"),
                        F.element_at("indices", -1).alias("max_dim"),
                        F.round(sq, 6).alias("sq_norm"))
                .orderBy("doc_id"))


# --------------------------------------------------- tri-modal RRF fusion

from . import hybrid as _hybrid  # noqa: E402  (no import cycle: hybrid
from ..constants import RRF_K    # noqa: E402   does not import sparse)

_TRI_ORACLE = f"""
WITH {_hybrid._BM25_CTE},
{_hybrid._VEC_CTE},
{_SPARSE_CTE.strip().rstrip(',').replace('tok AS', 'stok AS').replace('unnest', 'unnest').replace('FROM tok', 'FROM stok')},
ks AS (SELECT sp.doc_id, round(sum(sp.w * sq.w), 6) AS score
       FROM sp JOIN sq USING (dim) GROUP BY sp.doc_id
       HAVING round(sum(sp.w * sq.w), 6) > 0),
kcand AS (SELECT doc_id, score FROM bm25
          ORDER BY score DESC, doc_id LIMIT {HYBRID_CANDIDATES}),
vcand AS (SELECT doc_id, vscore FROM vec
          ORDER BY vscore DESC, doc_id LIMIT {HYBRID_CANDIDATES}),
scand AS (SELECT doc_id, score AS sscore FROM ks
          ORDER BY sscore DESC, doc_id LIMIT {HYBRID_CANDIDATES}),
kr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       FROM kcand),
vr AS (SELECT doc_id, row_number() OVER (ORDER BY vscore DESC, doc_id) AS r
       FROM vcand),
sr AS (SELECT doc_id, row_number() OVER (ORDER BY sscore DESC, doc_id) AS r
       FROM scand),
fused AS (
  SELECT coalesce(kr.doc_id, vr.doc_id, sr.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_K} + kr.r), 0)
               + coalesce(1.0 / ({RRF_K} + vr.r), 0)
               + coalesce(1.0 / ({RRF_K} + sr.r), 0), 9) AS rrf_score
  FROM kr
  FULL OUTER JOIN vr ON kr.doc_id = vr.doc_id
  FULL OUTER JOIN sr ON coalesce(kr.doc_id, vr.doc_id) = sr.doc_id)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 15
"""


@register("hybrid_tri_fusion", oracle=_TRI_ORACLE)
def hybrid_tri_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-modality reciprocal-rank fusion — dense cosine + learned
    sparse + BM25 keyword in ONE query (Milvus hybrid_search with N
    AnnSearchRequests + RRFRanker; Qdrant multi-prefetch rrf fusion —
    both client libs installed by the reference, /root/reference
    README.md:95).

    Scale shape: each modality independently cuts to HYBRID_CANDIDATES
    via TakeOrdered (corpus-size-independent rank input), ranks via the
    window-free bounded_ranks array shape, and the fusion is two
    full-outer joins over <= 3N rows."""
    kw = _hybrid._candidates(_hybrid.bm25_scores(spark, sf_dir), "score")
    vec = _hybrid._candidates(_hybrid._vec_scores(spark, sf_dir), "vscore")
    sp = (sparse_scores(spark, sf_dir)
          .orderBy(F.desc("score"), "doc_id").limit(HYBRID_CANDIDATES)
          .withColumnRenamed("score", "sscore"))
    kr = _hybrid.bounded_ranks(kw, "score", "doc_id", "kr")
    vr = _hybrid.bounded_ranks(vec, "vscore", "doc_id", "vr")
    sr = _hybrid.bounded_ranks(sp, "sscore", "doc_id", "sr")
    contrib = (
        F.coalesce(1.0 / (RRF_K + F.col("kr")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("vr")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("sr")), F.lit(0.0)))
    return (kr.join(vr, "doc_id", "full_outer")
              .join(sr, "doc_id", "full_outer")
              .select("doc_id", F.round(contrib, 9).alias("rrf_score"))
              .orderBy(F.desc("rrf_score"), "doc_id").limit(15))


# ------------------------------------------------ expansion retrieval

EXP_QTERM = "vector"   # the user's query term
EXP_K = 6              # expansion terms kept (incl. the query term)
EXP_TOP = 20


@register("sparse_expansion_search", oracle=f"""
WITH t AS (SELECT doc_id, list_distinct({TOK_SQL}) AS toks FROM documents),
n AS (SELECT count(*) AS nd FROM t),
ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
hasq AS (SELECT doc_id FROM ex WHERE term = '{EXP_QTERM}'),
dfq AS (SELECT count(*) AS dq FROM hasq),
stats AS (
  SELECT e.term, count(*) AS df,
         CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS dboth
  FROM ex e LEFT JOIN hasq h USING (doc_id) GROUP BY e.term),
expansion AS (
  SELECT term,
         CAST(round(CAST(dboth * nd AS DOUBLE) / (df * dq), 6)
           AS DECIMAL(18,6)) AS w,
         CAST(dboth * nd AS DOUBLE) / (df * dq) AS lift
  FROM stats, n, dfq
  WHERE dboth > 0 AND dq > 0
  ORDER BY lift DESC, term LIMIT {EXP_K}),
tf AS (
  SELECT doc_id, term, count(*) AS f
  FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
  GROUP BY doc_id, term),
scored AS (
  SELECT tf.doc_id,
         CAST(sum(tf.f * e.w) AS DOUBLE) AS score,
         count(*) AS n_terms
  FROM tf JOIN expansion e USING (term)
  GROUP BY tf.doc_id)
SELECT doc_id, score, CAST(n_terms AS BIGINT) AS n_terms
FROM scored ORDER BY score DESC, doc_id LIMIT {EXP_TOP}
""")
def sparse_expansion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `semantic_text`/ELSER-SHAPED sparse expansion retrieval
    (the SPLADE query path: a term expands into weighted associated
    terms, and retrieval is a weighted sparse dot over the inverted
    index). The expansion here is model-free and deterministic —
    association by corpus LIFT, p(t|q)/p(t) = df(t∧q)·N/(df(t)·df(q))
    over doc-level co-occurrence (the classic pseudo-relevance
    association score) — so the op is testable end to end; a real
    ELSER deployment swaps the expansion table for model output and
    the retrieval plan is UNCHANGED.

    Scale shape: expansion stats are one distinct-token explode +
    groupBy (the only corpus-wide shuffle) with the per-doc has-query
    flag computed map-side in the same scan (no join) and the corpus
    totals folded in as a broadcast 1-row aggregate — zero eager
    driver actions; the {EXP_K}-row expansion table broadcasts into
    the tf join, so scoring shuffles only (doc, matched-term) rows.
    Determinism: lift ranks by EXACT integer-ratio doubles; weights
    quantize to DECIMAL(18,6) before the merge-order-free decimal
    sum; no logs, no transcendentals."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    t = (docs.select("doc_id",
                     F.array_distinct(tokens("text")).alias("toks"))
             .withColumn("_q", F.array_contains("toks", EXP_QTERM)))
    ex = t.select("doc_id", "_q", F.explode("toks").alias("term"))
    # ONE tokenize+explode shuffle produces the per-term stats; the
    # frame is |vocab| rows of ints, so it checkpoints (the
    # token_budget_trim derived-frame convention) and every consumer
    # below — dq, the expansion top-k, the broadcast build — reads
    # the checkpoint instead of re-running the corpus tokenize (the
    # 64x probe measured the old triple-lineage form at 18.9x).
    stats0 = (ex.groupBy("term")
                .agg(F.count("*").alias("df"),
                     F.sum(F.when(F.col("_q"), 1).otherwise(0))
                      .cast("long").alias("dboth"))
                .localCheckpoint(eager=False))
    # nd needs no tokenize (count-star over the scan); dq IS the
    # query term's df — a 1-row lookup in the checkpointed stats.
    nd = docs.agg(F.count("*").alias("nd"))
    dq = (stats0.where(F.col("term") == EXP_QTERM)
                .select(F.col("df").cast("long").alias("dq")))
    stats = stats0.crossJoin(F.broadcast(nd)).crossJoin(F.broadcast(dq))
    lift = F.try_divide(
        (F.col("dboth") * F.col("nd")).cast("double"),
        (F.col("df") * F.col("dq")).cast("double"))
    expansion = (stats.where((F.col("dboth") > 0) & (F.col("dq") > 0))
                      .select("term", lift.alias("lift"),
                              F.round(lift, 6).cast("decimal(18,6)")
                               .alias("w"))
                      .orderBy(F.desc("lift"), "term").limit(EXP_K)
                      .select("term", "w"))
    tf = (docs.select("doc_id", F.explode(tokens("text")).alias("term"))
              .groupBy("doc_id", "term").agg(F.count("*").alias("f")))
    return (tf.join(F.broadcast(expansion), "term")
              .groupBy("doc_id")
              .agg(F.sum(F.col("f") * F.col("w")).cast("double")
                    .alias("score"),
                   F.count("*").cast("long").alias("n_terms"))
              .orderBy(F.desc("score"), "doc_id").limit(EXP_TOP))


@register("sparse_idf_knn", oracle=f"""
WITH {_SPARSE_CTE},
nn AS (SELECT count(*) AS n FROM documents),
df AS (SELECT sp.dim, count(*) AS dfc FROM sp
       WHERE sp.dim IN (SELECT dim FROM sq) GROUP BY sp.dim),
qi AS (SELECT sq.dim,
              sq.w * ln((nn.n - df.dfc + 0.5) / (df.dfc + 0.5) + 1) AS qw
       FROM sq JOIN df USING (dim), nn)
SELECT sp.doc_id, round(sum(sp.w * qi.qw), 6) AS score
FROM sp JOIN qi USING (dim)
GROUP BY sp.doc_id
HAVING round(sum(sp.w * qi.qw), 6) > 0
ORDER BY score DESC, doc_id LIMIT 15
""")
def sparse_idf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant sparse-vector `modifier: idf` search: stored sparse
    values stay raw; at query time each QUERY weight is scaled by the
    BM25-style IDF of its dimension, idf = ln((N - n + 0.5)/(n + 0.5)
    + 1) over N collection points and n points containing the dim —
    the statistic Qdrant maintains per sparse index so BM25/SPLADE
    corpora rank rare dims above stopword dims.

    Scale shape: the per-dim document frequencies are needed ONLY for
    the query's dims — the df rollup is a broadcast semi-join of the
    |q|-dim set into the long-form sparse table plus one partial-agg
    count (uniform keys, each (doc, dim) row counts once); N is a
    1-row scalar. The IDF-scaled query map then broadcasts exactly
    like the unmodified knn_sparse map and scoring stays map-side in
    the corpus scan (sparse_dot): zero corpus shuffle at any size."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    long = sparse_from_documents(docs)
    n = docs.agg(F.count("*").alias("n"))
    qdims = long.where(F.col("doc_id") == 0).select("dim", F.col("w").alias("qw"))
    df = (long.join(F.broadcast(qdims.select("dim")), "dim")
              .groupBy("dim").agg(F.count("*").alias("dfc")))
    qmap = (qdims.join(df, "dim").crossJoin(F.broadcast(n))
            .select("dim",
                    (F.col("qw")
                     * F.log((F.col("n") - F.col("dfc") + 0.5)
                             / (F.col("dfc") + 0.5) + 1)).alias("wq"))
            .groupBy()
            .agg(F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("dim", "wq"))))
                .alias("qmap")))
    vecs = sparse_vectors(docs)
    return (vecs.crossJoin(F.broadcast(qmap))
                .select("doc_id",
                        F.round(sparse_dot(vecs, F.col("qmap")), 6)
                         .alias("score"))
                .where(F.col("score") > 0)
                .orderBy(F.desc("score"), "doc_id").limit(15))
