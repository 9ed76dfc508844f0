"""Vector search operators — the Spark re-expression of the reference
backends' query surface (knn/query across Chroma/ES/Milvus/Qdrant/
Weaviate; reference README.md:3-9, VECTOR_DB selector README.md:82):

- knn single query (cosine / dot / l2), with metadata pre-filter
- batch knn (a query table against the corpus)
- range search (all hits within a radius — Milvus/Qdrant range_search)
- grouped top-k (Milvus/Qdrant group_by search)
- pagination (Chroma/Qdrant offset+limit)

Scale shape: a single-query knn is scan -> map(score) ->
TakeOrderedAndProject: embarrassingly parallel, no shuffle, no full
sort (per-partition top-k then a k-row merge on the driver). Batch knn
broadcasts the query side (queries << corpus always holds in batch
retrieval) so the corpus is read exactly once with no shuffle; the
per-query top-k window shuffles only (qid, score) pairs, not vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..functions import distance as D
from ..registry import register


def corpus_with_query(spark: SparkSession, sf_dir: str, query_vec_id: int = 0):
    """Corpus and single-query frames, each carrying a precomputed
    norm column: cosine then costs ONE dot per pair instead of three
    (norms are per-row, reused across every pair — bit-identical to
    the inline form since the expression tree per value is unchanged)."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = (emb.select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    qdf = (emb.where(F.col("vec_id") == query_vec_id)
              .select(D.vec_double("embedding").alias("qvec"))
              .withColumn("nq", D.norm("qvec")))
    return corpus, qdf


def cosine_score():
    """Score column for frames produced by corpus_with_query."""
    return D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))


def knn(corpus: DataFrame, query_df: DataFrame, k: int, metric: str = "cosine",
        id_col: str = "vec_id", vec_col: str = "vec", qvec_col: str = "qvec",
        payload: tuple[str, ...] = (), score=None) -> DataFrame:
    """Brute-force (FLAT) top-k: the exact baseline every reference
    backend offers. ORDER BY + LIMIT compiles to TakeOrdered — no
    global sort at any scale. Pass `score` to reuse precomputed-norm
    columns (cosine_score())."""
    ascending = D.ASCENDING[metric]
    score = (score if score is not None
             else D.METRICS[metric](vec_col, qvec_col)).alias("score")
    order = F.col("score").asc() if ascending else F.col("score").desc()
    return (corpus.crossJoin(F.broadcast(query_df))
                  .select(id_col, *payload, score)
                  .orderBy(order, id_col)
                  .limit(k))


def batch_knn(corpus: DataFrame, queries: DataFrame, k: int,
              metric: str = "cosine", id_col: str = "vec_id",
              qid_col: str = "qid", vec_col: str = "vec",
              qvec_col: str = "qvec", score=None) -> DataFrame:
    score = (score if score is not None
             else D.METRICS[metric](vec_col, qvec_col)).alias("score")
    order = (F.col("score").asc() if D.ASCENDING[metric]
             else F.col("score").desc())
    w = W.partitionBy(qid_col).orderBy(order, F.col(id_col))
    return (corpus.crossJoin(F.broadcast(queries))  # broadcast nested-loop, one corpus pass
                  .select(qid_col, id_col, score)
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


# ---------------------------------------------------------------- queries

_KNN_ORACLE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, {score_sql} AS score
FROM embeddings, q
ORDER BY score {dir}, vec_id
LIMIT 10
"""


@register("knn_cosine", oracle=_KNN_ORACLE.format(
    score_sql="list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec)))", dir="DESC"))
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, q = corpus_with_query(spark, sf_dir)
    return knn(corpus, q, k=10, metric="cosine", payload=("label",),
               score=cosine_score())


@register("knn_dot", oracle=_KNN_ORACLE.format(
    score_sql="list_dot_product(embedding::DOUBLE[], qvec)", dir="DESC"))
def knn_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, q = corpus_with_query(spark, sf_dir)
    return knn(corpus, q, k=10, metric="dot", payload=("label",))


@register("knn_l2", oracle=_KNN_ORACLE.format(
    score_sql="list_distance(embedding::DOUBLE[], qvec)", dir="ASC"))
def knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, q = corpus_with_query(spark, sf_dir)
    return knn(corpus, q, k=10, metric="l2", payload=("label",))


@register("knn_filtered", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
FROM embeddings, q
WHERE label = 3
ORDER BY score DESC, vec_id
LIMIT 10
""")
def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata pre-filter before scoring (every backend's `filter`/
    `where` knob). The predicate sits below the scorer, so Catalyst
    pushes it into the parquet scan."""
    corpus, q = corpus_with_query(spark, sf_dir)
    return knn(corpus.where(F.col("label") == 3), q, k=10,
               metric="cosine", payload=("label",), score=cosine_score())


@register("knn_must_not", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
FROM embeddings, q
WHERE label NOT IN (3, 7) AND vec_id % 2 = 0
ORDER BY score DESC, vec_id
LIMIT 10
""")
def knn_must_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative + positive filter combination (the reference DSL's
    must_not/must): both predicates push below the scorer."""
    corpus, q = corpus_with_query(spark, sf_dir)
    filtered = corpus.where(~F.col("label").isin(3, 7)
                            & (F.col("vec_id") % 2 == 0))
    return knn(filtered, q, k=10, metric="cosine", payload=("label",),
               score=cosine_score())


@register("batch_knn", oracle="""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
s AS (SELECT qid, vec_id,
             list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q),
r AS (SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rank
      FROM s)
SELECT qid, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
""")
def batch_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = (emb.select("vec_id", D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    # fixed-size query panel (see dedup.embed_near_dup): the modulus
    # alone scales the panel with the corpus and the broadcast
    # nested-loop goes quadratic; the id cap bounds it at 20 queries
    queries = (emb.where((F.col("vec_id") % 100 == 0)
                         & (F.col("vec_id") < 2000))
                  .select(F.col("vec_id").alias("qid"),
                          D.vec_double("embedding").alias("qvec"))
                  .withColumn("nq", D.norm("qvec")))
    return batch_knn(corpus, queries, k=5, score=cosine_score())


@register("range_search", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
FROM embeddings, q
WHERE list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) >= 0.25
ORDER BY score DESC, vec_id
""")
def range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search (Milvus range_search / Qdrant score_threshold):
    a pure filter — fully parallel, output only."""
    corpus, q = corpus_with_query(spark, sf_dir)
    return (corpus.crossJoin(F.broadcast(q))
            .select("vec_id", cosine_score().alias("score"))
            .where(F.col("score") >= 0.25)
            .orderBy(F.desc("score"), "vec_id"))


@register("range_annulus_search", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q)
SELECT vec_id, score FROM s
WHERE score > 0.05 AND score <= 0.30
ORDER BY score DESC, vec_id LIMIT 25
""")
def range_annulus_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus range search with BOTH bounds (radius + range_filter):
    hits in the annulus range_filter < score <= radius — 'similar but
    not near-duplicate' retrieval. Same zero-shuffle shape as
    range_search; the two bounds are one conjunct in the scan filter,
    and the limit is TakeOrdered."""
    corpus, q = corpus_with_query(spark, sf_dir)
    return (corpus.crossJoin(F.broadcast(q))
            .select("vec_id", cosine_score().alias("score"))
            .where((F.col("score") > 0.05) & (F.col("score") <= 0.30))
            .orderBy(F.desc("score"), "vec_id").limit(25))


@register("knn_group_lookup", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
s AS (SELECT label, vec_id,
             list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q),
r AS (SELECT label, vec_id, score,
             row_number() OVER (PARTITION BY label
                                ORDER BY score DESC, vec_id) AS rank
      FROM s),
hits AS (SELECT label, vec_id, score, rank FROM r WHERE rank <= 2),
g AS (SELECT label, max(score) AS best FROM hits GROUP BY 1
      ORDER BY best DESC, label LIMIT 5)
SELECT h.label, CAST(h.rank AS INT) AS rank, h.vec_id, h.score,
       d.source AS group_payload
FROM hits h JOIN g USING (label)
JOIN documents d ON d.doc_id = h.label
ORDER BY g.best DESC, h.label, h.rank
""")
def knn_group_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant search_groups `with_lookup`: top group_size=2 hits per
    label for the best limit=5 groups, each group joined with its
    payload row from a lookup collection (documents keyed by the
    group id). The group table is ≤|labels| rows — both the group cut
    and the lookup join broadcast; the corpus is scanned once."""
    corpus, q = corpus_with_query(spark, sf_dir)
    docs = tables.load(spark, sf_dir, "documents")
    w = W.partitionBy("label").orderBy(F.desc("score"), F.col("vec_id"))
    hits = (corpus.crossJoin(F.broadcast(q))
            .select("label", "vec_id", cosine_score().alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 2))
    g = (hits.groupBy("label").agg(F.max("score").alias("best"))
             .orderBy(F.desc("best"), "label").limit(5))
    return (hits.join(F.broadcast(g), "label")
                .join(F.broadcast(docs.select(F.col("doc_id").alias("label"),
                                              F.col("source").alias("group_payload"))),
                      "label")
                .orderBy(F.desc("best"), "label", "rank")
                .select("label", "rank", "vec_id", "score", "group_payload"))


@register("grouped_topk", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
s AS (SELECT label, vec_id,
             list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q),
r AS (SELECT label, vec_id, score,
             row_number() OVER (PARTITION BY label
                                ORDER BY score DESC, vec_id) AS rank
      FROM s)
SELECT label, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
""")
def grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per metadata group (Milvus/Qdrant group_by search)."""
    corpus, q = corpus_with_query(spark, sf_dir)
    w = W.partitionBy("label").orderBy(F.desc("score"), F.col("vec_id"))
    return (corpus.crossJoin(F.broadcast(q))
            .select("label", "vec_id", cosine_score().alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3))


@register("knn_paged", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
r AS (SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) AS score,
             row_number() OVER (
                 ORDER BY list_dot_product(embedding::DOUBLE[], qvec)/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))*sqrt(list_dot_product(qvec, qvec))) DESC,
                          vec_id) AS rank
      FROM embeddings, q)
SELECT vec_id, score, CAST(rank AS INT) AS rank
FROM r WHERE rank > 10 AND rank <= 20
""")
def knn_paged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset pagination (page 2 of size 10). The candidate set is cut
    to offset+limit by TakeOrdered first; ranks then come from a
    collect/array_sort/posexplode over those <= 20 rows (see
    hybrid.bounded_ranks) — bounded by construction, and no
    unpartitioned WindowExec. The reference backends page the same
    way (offset+limit)."""
    corpus, q = corpus_with_query(spark, sf_dir)
    top = (corpus.crossJoin(F.broadcast(q))
           .select("vec_id", cosine_score().alias("score"))
           .orderBy(F.desc("score"), "vec_id").limit(20))
    arr = top.agg(F.array_sort(F.collect_list(F.struct(
        (-F.col("score")).alias("_ns"), F.col("vec_id").alias("vec_id"),
        F.col("score").alias("score")))).alias("a"))
    return (arr.select(F.posexplode("a").alias("_pos", "_s"))
               .select(F.col("_s.vec_id").alias("vec_id"),
                       F.col("_s.score").alias("score"),
                       (F.col("_pos") + 1).cast("int").alias("rank"))
               .where(F.col("rank") > 10))


# ------------------------------------------------- collection-CRUD views

@register("upsert_semantics", oracle="""
WITH batch AS (
  SELECT vec_id, label + 100 AS label
  FROM embeddings WHERE vec_id < 50),
merged AS (
  SELECT e.vec_id, e.label FROM embeddings e
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.vec_id = e.vec_id)
  UNION ALL
  SELECT vec_id, label FROM batch)
SELECT label, count(*) AS n FROM merged
GROUP BY label ORDER BY label
""")
def upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest upsert (C2) as a pure plan — the exact anti-join ∪
    batch rewrite Collection.upsert commits, hash-checked against the
    relational definition. One shuffle on the id column; small batches
    broadcast."""
    emb = tables.load(spark, sf_dir, "embeddings").select("vec_id", "label")
    batch = (emb.where(F.col("vec_id") < 50)
                .select("vec_id", (F.col("label") + 100).alias("label")))
    merged = (emb.join(batch.select("vec_id"), "vec_id", "left_anti")
                 .unionByName(batch))
    return (merged.groupBy("label").agg(F.count("*").alias("n"))
                  .orderBy("label"))


@register("update_semantics", oracle="""
WITH updated AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' AND n_chars < 200
              THEN n_chars + 1000 ELSE n_chars END AS n_chars
  FROM documents)
SELECT lang, count(*) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM updated GROUP BY lang ORDER BY lang
""")
def update_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-by-filter (Qdrant set_payload / ES update_by_query /
    Milvus upsert-with-expr; Collection.update's plan): a predicated
    column rewrite over the collection — map-side CASE, no join, one
    partial-agg rollup proving exactly the matching rows changed."""
    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "n_chars")
    upd = docs.withColumn(
        "n_chars",
        F.when((F.col("lang") == "en") & (F.col("n_chars") < 200),
               F.col("n_chars") + 1000).otherwise(F.col("n_chars")))
    return (upd.groupBy("lang")
               .agg(F.count("*").alias("n"),
                    F.sum("n_chars").cast("long").alias("total_chars"))
               .orderBy("lang"))


@register("delete_semantics", oracle="""
SELECT label, count(*) AS n
FROM embeddings
WHERE NOT (label = 3 OR vec_id % 7 = 0)
GROUP BY label ORDER BY label
""")
def delete_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-by-filter (C3) as a pure plan: the negated-predicate
    rewrite Collection.delete commits."""
    emb = tables.load(spark, sf_dir, "embeddings")
    deleted = (F.col("label") == 3) | (F.col("vec_id") % 7 == 0)
    return (emb.where(~deleted)
               .groupBy("label").agg(F.count("*").alias("n"))
               .orderBy("label"))


@register("get_by_id", oracle="""
SELECT vec_id, label FROM embeddings
WHERE vec_id IN (1, 2, 3, 5, 8) ORDER BY vec_id
""")
def get_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup batch (reference: collection.get(ids=[...]))."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return (emb.where(F.col("vec_id").isin(1, 2, 3, 5, 8))
               .select("vec_id", "label").orderBy("vec_id"))


@register("filtered_scan", oracle="""
SELECT doc_id, source, n_chars FROM documents
WHERE lang = 'en' AND n_chars BETWEEN 200 AND 400
ORDER BY doc_id
""")
def filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata scan with projection — predicate + column pruning reach
    the parquet reader (asserted in tests/test_plans.py)."""
    docs = tables.load(spark, sf_dir, "documents")
    return (docs.where((F.col("lang") == "en")
                       & F.col("n_chars").between(200, 400))
                .select("doc_id", "source", "n_chars").orderBy("doc_id"))


@register("recommend", oracle="""
WITH p0 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 0),
p1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 17),
n0 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 225),
t AS (SELECT list_transform(range(1, 65),
             i -> (p0.v[i] + p1.v[i]) / 2.0 - n0.v[i]) AS qvec
      FROM p0, p1, n0)
SELECT vec_id, label,
       list_dot_product(embedding::DOUBLE[], qvec)
       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          * sqrt(list_dot_product(qvec, qvec))) AS score
FROM embeddings, t
WHERE vec_id NOT IN (0, 17, 225)
ORDER BY score DESC, vec_id
LIMIT 10
""")
def recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation search (Qdrant `recommend` / Chroma where-not):
    target = mean(positive examples) - negative example, then knn,
    excluding the example ids. The target-vector arithmetic is a
    3-row broadcast — no extra pass over the corpus."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    def vec_of(vid):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias("v")))
    p0 = vec_of(0).select(F.col("v").alias("p0"))
    p1 = vec_of(17).select(F.col("v").alias("p1"))
    n0 = vec_of(225).select(F.col("v").alias("n0"))
    # every chain link broadcasts: a plain CartesianProduct of 1-row
    # filtered scans re-executes the inner scans once per outer
    # partition PAIR — with P-partition files the base scan runs
    # O(P^depth) times (measured 188 s on a 64x corpus before the
    # hint; broadcast materializes each side exactly once)
    target = (p0.crossJoin(F.broadcast(p1)).crossJoin(F.broadcast(n0))
              .select(F.zip_with(
                  F.zip_with("p0", "p1", lambda a, b: (a + b) / 2.0),
                  "n0", lambda m, c: m - c).alias("qvec"))
              .withColumn("nq", D.norm("qvec")))
    corpus = (emb.where(~F.col("vec_id").isin(0, 17, 225))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    return knn(corpus, target, k=10, metric="cosine",
               payload=("label",), score=cosine_score())


@register("label_centroids", oracle="""
SELECT label, pos, round(avg(x), 6) AS centroid_val
FROM (SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings)
GROUP BY 1, 2
ORDER BY label, pos
""")
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group elementwise centroid (the aggregate behind IVF cells
    and label-profile analytics), long-form: (label, pos, value).
    posexplode keeps the aggregation a plain (label, pos) groupBy —
    shuffle rows are scalars, not vectors, and partial aggregation
    (map-side combine) applies."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    return (emb.select("label", F.posexplode(D.vec_double("embedding"))
                       .alias("pos", "x"))
               .groupBy("label", "pos")
               .agg(F.round(F.avg("x"), 6).alias("centroid_val"))
               .orderBy("label", "pos"))


@register("facet_counts", oracle="""
SELECT lang, source, count(*) AS n
FROM documents
WHERE n_chars >= 100
GROUP BY lang, source
ORDER BY lang, source
""")
def facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted counts under a filter (Qdrant facet API / ES terms
    aggregation): one partial-aggregated groupBy; facet cardinality
    bounds the output, not the corpus."""
    docs = tables.load(spark, sf_dir, "documents")
    return (docs.where(F.col("n_chars") >= 100)
                .groupBy("lang", "source").agg(F.count("*").alias("n"))
                .orderBy("lang", "source"))


@register("scroll_by_cursor", oracle="""
SELECT doc_id, source, n_chars
FROM documents
WHERE lang = 'en' AND doc_id > 150
ORDER BY doc_id
LIMIT 20
""")
def scroll_by_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (the scroll/cursor API every backend has):
    WHERE id > cursor ORDER BY id LIMIT n. Unlike OFFSET, the
    predicate pushes to the scan, so page 10^6 costs the same as
    page 1."""
    docs = tables.load(spark, sf_dir, "documents")
    return (docs.where((F.col("lang") == "en") & (F.col("doc_id") > 150))
                .select("doc_id", "source", "n_chars")
                .orderBy("doc_id").limit(20))


@register("count_by_filter", oracle="""
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
""")
def count_by_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("total_chars"))
                .orderBy("lang"))


@register("knn_multi_vector", oracle="""
WITH c AS (SELECT vec_id, label,
                  embedding::DOUBLE[]         AS tv,
                  (embedding::DOUBLE[])[1:16] AS hv
           FROM embeddings),
q AS (SELECT tv AS qtv, hv AS qhv FROM c WHERE vec_id = 0)
SELECT vec_id, label,
       0.7 * (list_dot_product(tv, qtv)
              / (sqrt(list_dot_product(tv, tv))
                 * sqrt(list_dot_product(qtv, qtv))))
     + 0.3 * (list_dot_product(hv, qhv)
              / (sqrt(list_dot_product(hv, hv))
                 * sqrt(list_dot_product(qhv, qhv)))) AS score
FROM c, q
ORDER BY score DESC, vec_id
LIMIT 10
""")
def knn_multi_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named/multi-vector search (Qdrant named vectors, Milvus
    multi-vector hybrid_search): each record carries several vector
    spaces — here the full 64-dim vector and its 16-dim head standing
    in for a second named space — and the query ranks by a weighted
    sum of per-space cosines.

    Scale shape is unchanged from single-vector knn: both query
    vectors travel in ONE broadcast row, scoring is map-side (norms
    precomputed per row, one dot per space), top-k is
    TakeOrderedAndProject. Adding vector spaces adds columns, never
    passes or shuffles."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    c = (emb.select("vec_id", "label", D.vec_double("embedding").alias("tv"))
            .withColumn("hv", F.slice("tv", 1, 16))
            .withColumn("ntv", D.norm("tv"))
            .withColumn("nhv", D.norm("hv")))
    q = (c.where(F.col("vec_id") == 0)
          .select(F.col("tv").alias("qtv"), F.col("hv").alias("qhv"),
                  F.col("ntv").alias("nqtv"), F.col("nhv").alias("nqhv")))
    score = (0.7 * D.safe_div(D.dot("tv", "qtv"), F.col("ntv") * F.col("nqtv"))
             + 0.3 * D.safe_div(D.dot("hv", "qhv"), F.col("nhv") * F.col("nqhv")))
    return (c.crossJoin(F.broadcast(q))
             .select("vec_id", "label", score.alias("score"))
             .orderBy(F.desc("score"), "vec_id")
             .limit(10))


@register("knn_facets", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
hits AS (SELECT vec_id, label,
                list_dot_product(embedding::DOUBLE[], qvec)
                / (sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]))
                   * sqrt(list_dot_product(qvec, qvec))) AS score
         FROM embeddings, q
         ORDER BY score DESC, vec_id
         LIMIT 100)
SELECT label, count(*) AS n, min(score) AS min_score, max(score) AS max_score
FROM hits GROUP BY label ORDER BY label
""")
def knn_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet aggregation OVER search results (Weaviate's
    aggregate-on-hybrid/near, ES aggs on a query): metadata
    distribution of the top-100 hits — who answers "what labels
    dominate this query's neighborhood?".

    The top-100 is TakeOrderedAndProject (no global sort); the facet
    agg then runs on 100 rows — its cost is independent of corpus
    size. min/max are selections (not accumulations), so the output
    is bit-deterministic with no rounding."""
    corpus, q = corpus_with_query(spark, sf_dir)
    hits = knn(corpus, q, k=100, metric="cosine", payload=("label",),
               score=cosine_score())
    return (hits.groupBy("label")
                .agg(F.count("*").alias("n"),
                     F.min("score").alias("min_score"),
                     F.max("score").alias("max_score"))
                .orderBy("label"))


@register("batch_knn_filtered", oracle="""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec,
                  CAST(vec_id % 10 AS INT) AS want
           FROM embeddings WHERE vec_id < 4),
s AS (SELECT q.qid, e.vec_id, e.label,
             list_dot_product(e.embedding::DOUBLE[], q.qvec)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qvec, q.qvec))) AS score
      FROM embeddings e, q WHERE e.label = q.want),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, vec_id) AS rank
      FROM s)
SELECT qid, vec_id, label, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
ORDER BY qid, rank
""")
def batch_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch knn where EACH query carries its own metadata filter
    (Qdrant/Milvus batch search with per-request filter conditions):
    query i wants only label i%10 neighbors.

    The per-query predicate turns the scoring crossJoin into an
    EQUI-join on the filter column — Catalyst picks a broadcast hash
    join keyed on label, so each corpus row is scored only against the
    queries whose filter it satisfies (vs. scoring all queries then
    discarding). Filter selectivity directly divides compute; the
    per-query top-k window shuffles O(queries x k) scalar rows."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = (emb.select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    q = (emb.where(F.col("vec_id") < 4)
            .select(F.col("vec_id").alias("qid"),
                    D.vec_double("embedding").alias("qvec"),
                    (F.col("vec_id") % 10).cast("int").alias("want"))
            .withColumn("nq", D.norm("qvec")))
    score = D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.col("vec_id"))
    return (corpus.join(F.broadcast(q), corpus.label == q.want)
                  .select("qid", "vec_id", "label", score.alias("score"))
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= 5)
                  .orderBy("qid", "rank"))


_DISC_COS = ("list_dot_product(embedding::DOUBLE[], {q})"
             "/(sqrt(list_dot_product(embedding::DOUBLE[],"
             " embedding::DOUBLE[]))*sqrt(list_dot_product({q}, {q})))")


@register("discover", oracle=f"""
WITH tgt AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 0),
cp AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 17),
cn AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 225)
SELECT vec_id, label,
       round({_DISC_COS.format(q="tgt.v")}, 6) AS score
FROM embeddings, tgt, cp, cn
WHERE {_DISC_COS.format(q="cp.v")} > {_DISC_COS.format(q="cn.v")}
  AND vec_id NOT IN (0, 17, 225)
ORDER BY score DESC, vec_id
LIMIT 10
""")
def discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery search (Qdrant `discover`): rank by similarity to a
    target, restricted to points that satisfy the context pair — i.e.
    closer to the positive example than to the negative one. The
    context acts as a learned half-space filter; all three example
    vectors ride ONE broadcast row, the filter and score are map-side
    expressions in the same scan, and top-k is TakeOrdered."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")

    def vec_of(vid, name):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias(name)))

    ctx = (vec_of(0, "tv").crossJoin(F.broadcast(vec_of(17, "pv")))
           .crossJoin(F.broadcast(vec_of(225, "nv"))))
    corpus = (emb.where(~F.col("vec_id").isin(0, 17, 225))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec")))
    cos = D.METRICS["cosine"]
    return (corpus.crossJoin(F.broadcast(ctx))
                  .where(cos("vec", "pv") > cos("vec", "nv"))
                  .select("vec_id", "label",
                          F.round(cos("vec", "tv"), 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id")
                  .limit(10))


@register("matryoshka_knn", oracle="""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
coarse AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec, qvec,
         list_dot_product((embedding::DOUBLE[])[1:16], qvec[1:16])
           / (sqrt(list_dot_product((embedding::DOUBLE[])[1:16],
                                    (embedding::DOUBLE[])[1:16]))
              * sqrt(list_dot_product(qvec[1:16], qvec[1:16]))) AS cscore
  FROM embeddings, q),
short AS (SELECT * FROM coarse ORDER BY cscore DESC, vec_id LIMIT 100)
SELECT vec_id, label,
       list_dot_product(vec, qvec)
         / (sqrt(list_dot_product(vec, vec))
            * sqrt(list_dot_product(qvec, qvec))) AS score
FROM short ORDER BY score DESC, vec_id LIMIT 10
""")
def matryoshka_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension (Matryoshka/MRL) knn: coarse cosine over
    the first 16 of 64 dims cuts the corpus to a 100-row shortlist,
    exact full-dim cosine reranks it — the adaptive-retrieval pattern
    modern vector DBs expose for MRL-trained embeddings.

    Scale shape: the coarse pass reads a 4x narrower slice per row
    (with a dimension-sliced column layout it would prune 3/4 of the
    vector bytes at the scan); both cuts are TakeOrdered. Exactness:
    slicing is positional, both cosines use the verified explicit
    form — bit-deterministic end to end."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select("vec_id", "label",
                        D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    head = "slice(vec, 1, 16)"
    qhead = "slice(qvec, 1, 16)"
    short = (corpus.crossJoin(F.broadcast(q))
                   .select("vec_id", "label", "vec", "qvec",
                           D.safe_div(D.dot(head, qhead),
                                      D.norm(head) * D.norm(qhead))
                           .alias("cscore"))
                   .orderBy(F.desc("cscore"), "vec_id").limit(100))
    return (short.select("vec_id", "label",
                         D.cosine("vec", "qvec").alias("score"))
                 .orderBy(F.desc("score"), "vec_id").limit(10))


@register("scroll_order_by", oracle="""
SELECT doc_id, source, n_chars
FROM documents
WHERE n_chars > 120 OR (n_chars = 120 AND doc_id > 300)
ORDER BY n_chars, doc_id
LIMIT 20
""")
def scroll_order_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination ordered by a payload field (Qdrant scroll
    order_by): the cursor is the (value, id) pair of the previous
    page's last row, so the resume predicate is a lexicographic
    range — still fully pushable to the scan (no OFFSET, no state),
    and the LIMIT compiles to TakeOrdered."""
    docs = tables.load(spark, sf_dir, "documents")
    return (docs.where((F.col("n_chars") > 120)
                       | ((F.col("n_chars") == 120) & (F.col("doc_id") > 300)))
                .select("doc_id", "source", "n_chars")
                .orderBy("n_chars", "doc_id").limit(20))


# --------------------------------------------- late interaction (maxsim)

MAXSIM_SUBVECS = 4   # 64-dim embedding sliced into 4 x 16-dim "tokens"
MAXSIM_SUBDIM = 16


def _maxsim_expr_sql() -> str:
    """The unrolled 4x4 maxsim expression over columns (vec, qvec):
    sum over query subvectors of the max cosine against the doc's
    subvectors — shared by the brute-force oracle and the prefetch
    rerank oracle so both engines evaluate the identical tree."""
    def cos(i: int, j: int) -> str:
        d = (f"list_dot_product(vec[{j * MAXSIM_SUBDIM + 1}:"
             f"{(j + 1) * MAXSIM_SUBDIM}], "
             f"qvec[{i * MAXSIM_SUBDIM + 1}:{(i + 1) * MAXSIM_SUBDIM}])")
        nv = (f"sqrt(list_dot_product(vec[{j * MAXSIM_SUBDIM + 1}:"
              f"{(j + 1) * MAXSIM_SUBDIM}], vec[{j * MAXSIM_SUBDIM + 1}:"
              f"{(j + 1) * MAXSIM_SUBDIM}]))")
        nq = (f"sqrt(list_dot_product(qvec[{i * MAXSIM_SUBDIM + 1}:"
              f"{(i + 1) * MAXSIM_SUBDIM}], qvec[{i * MAXSIM_SUBDIM + 1}:"
              f"{(i + 1) * MAXSIM_SUBDIM}]))")
        return f"{d} / ({nv} * {nq})"

    per_q = [
        "greatest(" + ", ".join(cos(i, j) for j in range(MAXSIM_SUBVECS)) + ")"
        for i in range(MAXSIM_SUBVECS)]
    return " + ".join(per_q)


def _maxsim_oracle() -> str:
    maxsim = _maxsim_expr_sql()
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
d AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec
      FROM embeddings)
SELECT vec_id, label, round({maxsim}, 6) AS score
FROM d, q
ORDER BY score DESC, vec_id
LIMIT 10
"""


def _maxsim_score_col() -> F.Column:
    """JVM twin of _maxsim_expr_sql over columns (vec, qvec)."""
    def sub(col: str, i: int) -> str:
        return f"slice({col}, {i * MAXSIM_SUBDIM + 1}, {MAXSIM_SUBDIM})"

    per_q = [
        F.greatest(*[
            D.safe_div(
                D.dot(sub("vec", j), sub("qvec", i)),
                D.norm(sub("vec", j)) * D.norm(sub("qvec", i)))
            for j in range(MAXSIM_SUBVECS)])
        for i in range(MAXSIM_SUBVECS)]
    score = per_q[0]
    for c in per_q[1:]:
        score = score + c
    return score


@register("maxsim_knn", oracle=_maxsim_oracle())
def maxsim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT maxsim — the multi-vector
    scoring mode Milvus/Vespa expose): treat the embedding as 4
    16-dim token vectors; score = sum over query tokens of the max
    cosine against any doc token.

    Scale shape: the query's token vectors are ONE broadcast row; the
    4x4 cosine grid is a fixed-size JVM expression tree evaluated
    map-side in the scan (cheap relative to I/O at any corpus size),
    and the cut is TakeOrdered. In a real deployment doc tokens would
    be a `array<array<float>>` column — the plan shape (broadcast
    query row, map-side maxsim, top-k) is identical."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select("vec_id", "label",
                        D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    score = _maxsim_score_col()
    return (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id", "label",
                          F.round(score, 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id")
                  .limit(10))


PREFETCH_LIMIT = 50


def _prefetch_maxsim_oracle() -> str:
    maxsim = _maxsim_expr_sql()
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
d AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec
      FROM embeddings),
pre AS (
  SELECT vec_id, label, vec, qvec,
         list_dot_product(vec, qvec)
           / (sqrt(list_dot_product(vec, vec))
              * sqrt(list_dot_product(qvec, qvec))) AS dscore
  FROM d, q),
short AS (SELECT * FROM pre ORDER BY dscore DESC, vec_id
          LIMIT {PREFETCH_LIMIT})
SELECT vec_id, label, round(dscore, 6) AS prefetch_score,
       round({maxsim}, 6) AS score
FROM short ORDER BY score DESC, vec_id LIMIT 10
"""


@register("prefetch_maxsim_rerank", oracle=_prefetch_maxsim_oracle)
def prefetch_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant Query API multistage prefetch (the documented
    "Multistage queries" pattern, also Milvus hybrid rerank): a FAST
    single-vector prefetch — plain cosine, limit {PREFETCH_LIMIT} —
    feeds a LATE-INTERACTION maxsim rescore that only ever touches
    the shortlist. This is how ColBERT-class models deploy: the
    multi-vector score is too expensive for the corpus pass, so a
    cheap dense stage bounds the candidate set and the expensive
    scorer runs on O(limit) rows.

    Scale shape: stage 1 is the standard broadcast-query map-side
    scan + TakeOrdered ({PREFETCH_LIMIT} rows cross the driver
    boundary as a broadcast, never the corpus); stage 2's 4x4 cosine
    grid evaluates on {PREFETCH_LIMIT} rows regardless of corpus
    size. Adding stages (Qdrant allows arbitrary nesting) chains the
    same shape: each stage's output is a broadcast-sized shortlist
    for the next."""
    return _prefetch_maxsim(spark, sf_dir, PREFETCH_LIMIT)


def _prefetch_maxsim(spark: SparkSession, sf_dir: str,
                     limit: int) -> DataFrame:
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select("vec_id", "label",
                        D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))
    cos = D.METRICS["cosine"]
    short = (corpus.crossJoin(F.broadcast(q))
             .select("vec_id", "label", "vec", "qvec",
                     cos("vec", "qvec").alias("dscore"))
             .orderBy(F.desc("dscore"), "vec_id").limit(limit))
    return (short.select("vec_id", "label",
                         F.round("dscore", 6).alias("prefetch_score"),
                         F.round(_maxsim_score_col(), 6).alias("score"))
                 .orderBy(F.desc("score"), "vec_id").limit(10))


# NOTE: the Qdrant `strategy=best_score` recommend lives in
# operators/query_dsl.py (`recommend_best_score`, the published
# -(best_neg²) formula). An earlier draft of it lived here and
# silently shadowed/was-shadowed via duplicate registration; the
# registry now raises on duplicate names (registry.py) so this class
# of dead code cannot reappear.


# ---------------------------------------------------- near-object + move

MOVE_TO = 0.35    # Weaviate moveTo.force
MOVE_AWAY = 0.25  # Weaviate moveAwayFrom.force


@register("near_text_move", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 0),
t0 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 9),
t1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 23),
aw AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = 77),
t AS (SELECT list_transform(range(1, 65),
             i -> q.v[i] + {MOVE_TO} * (t0.v[i] + t1.v[i]) / 2.0
                  - {MOVE_AWAY} * aw.v[i]) AS qvec
      FROM q, t0, t1, aw)
SELECT vec_id, label,
       list_dot_product(embedding::DOUBLE[], qvec)
       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          * sqrt(list_dot_product(qvec, qvec))) AS score
FROM embeddings, t
WHERE vec_id NOT IN (0, 9, 23, 77)
ORDER BY score DESC, vec_id
LIMIT 10
""")
def near_text_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate nearText/nearObject with moveTo / moveAwayFrom
    (implied by the `weaviate-client` lib the reference installs,
    /root/reference README.md:95): the
    query vector is nudged toward the centroid of the move-to objects
    (force MOVE_TO=0.35) and away from the move-away object (force
    MOVE_AWAY=0.25) BEFORE the search. Distinct from `recommend` (which
    replaces the query with example arithmetic): here the original
    query remains the anchor and the forces are dampened refinements.
    All vector arithmetic happens in one 4-row broadcast; the corpus
    pass stays a map + TakeOrdered."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")

    def vec_of(vid, name):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias(name)))

    parts = (vec_of(0, "q").crossJoin(F.broadcast(vec_of(9, "t0")))
             .crossJoin(F.broadcast(vec_of(23, "t1")))
             .crossJoin(F.broadcast(vec_of(77, "aw"))))
    moved = F.zip_with(
        F.zip_with("q", F.zip_with("t0", "t1", lambda a, b: (a + b) / 2.0),
                   lambda qq, tt: qq + MOVE_TO * tt),
        "aw", lambda m, av: m - MOVE_AWAY * av)
    target = (parts.select(moved.alias("qvec"))
                   .withColumn("nq", D.norm("qvec")))
    corpus = (emb.where(~F.col("vec_id").isin(0, 9, 23, 77))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    return knn(corpus, target, k=10, metric="cosine",
               payload=("label",), score=cosine_score())


_L1_SQL = ("list_dot_product("
           "list_transform(range(1, 65), i -> abs((embedding::DOUBLE[])[i] - qvec[i])), "
           "list_transform(range(1, 65), i -> 1.0e0))")


@register("knn_l1", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, round({_L1_SQL}, 6) AS dist
FROM embeddings, q
ORDER BY dist, vec_id
LIMIT 10
""")
def knn_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manhattan-distance knn (pgvector's `<+>` operator, Milvus L1)
    — the outlier-robust metric next to L2/cosine/dot. Same map-only
    scan + TakeOrdered shape as every other metric; the fold and its
    list_dot_product(absdiffs, ones) oracle twin are bit-identical
    (each |d|·1.0 term is exact, so the sequential dot IS the
    fold)."""
    corpus, q = corpus_with_query(spark, sf_dir)
    return (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id", "label",
                          F.round(D.l1("vec", "qvec"), 6).alias("dist"))
                  .orderBy("dist", "vec_id").limit(10))


ITER_PAGE = 10


@register("knn_search_iterator", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, label,
             list_dot_product(embedding::DOUBLE[], qvec)
             /(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               *sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q),
r AS (SELECT vec_id, label, score,
             row_number() OVER (ORDER BY score DESC, vec_id) AS rk
      FROM s)
SELECT CAST(rk AS INT) AS rk, vec_id, label, score
FROM r WHERE rk > {ITER_PAGE} AND rk <= {2 * ITER_PAGE}
ORDER BY rk
""")
def knn_search_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search iterator (Milvus `search_iterator`, the vector twin
    of C8's keyset scroll): page TWO of the ranked results — the
    (score, id) order is a total order, so `rank in (page, 2·page]`
    is exactly the cursor `(score, id) < last-hit` continuation.
    Physical shape: TakeOrdered cuts the corpus to 2·page rows, then
    the window-free bounded rank (hybrid.bounded_ranks) numbers that
    ≤2·page-row frame and drops page one — no global window, no
    second corpus pass; at any corpus size the iterator's per-page
    cost is one TakeOrdered scan."""
    from .hybrid import bounded_ranks
    corpus, q = corpus_with_query(spark, sf_dir)
    scored = (corpus.crossJoin(F.broadcast(q))
              .select("vec_id", "label", cosine_score().alias("score")))
    top2p = (scored.orderBy(F.desc("score"), "vec_id")
                   .limit(2 * ITER_PAGE)
                   .localCheckpoint(eager=False))  # ≤2·page rows, read 2x
    rk = bounded_ranks(top2p.select("vec_id", "score"), "score",
                       "vec_id", "rk")
    return (top2p.join(F.broadcast(rk), "vec_id")
                 .where(F.col("rk") > ITER_PAGE)
                 .select(F.col("rk").cast("int").alias("rk"),
                         "vec_id", "label", "score")
                 .orderBy("rk"))


# ------------------------------------------- Weaviate certainty search

NV_CERTAINTY = 0.62   # Weaviate nearVector { certainty: ... }
NV_CERT_LIMIT = 20


@register("near_vector_certainty", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
s AS (SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qvec)
             / (sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[]))
                * sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q)
SELECT vec_id, (1.0 + score) / 2.0 AS certainty
FROM s WHERE (1.0 + score) / 2.0 >= {NV_CERTAINTY!r}
ORDER BY certainty DESC, vec_id LIMIT {NV_CERT_LIMIT}
""")
def near_vector_certainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V41 — Weaviate `nearVector` with a `certainty` threshold:
    certainty = (1 + cosine) / 2 rescales cosine onto [0, 1] (the
    Weaviate GraphQL `_additional {{ certainty }}` field), hits below
    the floor are cut BEFORE the limit — Weaviate's contract that a
    certainty search can return fewer than `limit` results rather
    than pad with weak ones.

    Scale shape: identical to range_search — the rescale is one
    map-side affine on the cosine already in the scan projection, the
    floor is a scan filter, the limit is TakeOrdered. Zero shuffle."""
    corpus, q = corpus_with_query(spark, sf_dir)
    cert = (F.lit(1.0) + cosine_score()) / F.lit(2.0)
    return (corpus.crossJoin(F.broadcast(q))
            .select("vec_id", cert.alias("certainty"))
            .where(F.col("certainty") >= NV_CERTAINTY)
            .orderBy(F.desc("certainty"), "vec_id")
            .limit(NV_CERT_LIMIT))


# ------------------------------------------ Qdrant formula rescoring

FORMULA_PREFETCH = 50
FORMULA_W = 0.3
FORMULA_ORIGIN = 300.0   # gauss decay target on the payload field
FORMULA_SCALE = 150.0
_LN2 = 0.6931471805599453  # shared literal: no libm ln(2) divergence


@register("formula_rescore", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
pre AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qvec)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qvec, q.qvec))) AS score
  FROM embeddings e, q
  ORDER BY score DESC, e.vec_id LIMIT {FORMULA_PREFETCH}),
j AS (
  SELECT pre.vec_id, pre.score,
         exp(-{_LN2!r} * pow(abs(d.n_chars - {FORMULA_ORIGIN!r})
                             / {FORMULA_SCALE!r}, 2)) AS decay
  FROM pre JOIN documents d ON pre.vec_id = d.doc_id)
SELECT vec_id, round(score, 6) AS prefetch_score,
       round({FORMULA_W!r} * decay, 6) AS boost,
       round(score + {FORMULA_W!r} * decay, 6) AS final_score
FROM j ORDER BY final_score DESC, vec_id LIMIT 10
""")
def formula_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant Query API `formula` rescoring: a prefetch shortlist is
    re-scored by an expression combining `$score` with payload-based
    terms — here the documented `sum($score, mult(w, gauss_decay))`
    shape, a gaussian decay on the point's payload field (n_chars,
    the freshness/recency analog) with origin {FORMULA_ORIGIN} and
    scale {FORMULA_SCALE}. ln(2) is a shared literal so both engines
    evaluate the identical decay tree.

    Scale shape: the prefetch is the standard zero-shuffle scan +
    TakeOrdered; the payload join touches {FORMULA_PREFETCH} rows (in
    Qdrant the payload is STORED WITH the point — the id join here
    simulates that colocation, and at scale it's a broadcast of the
    bounded shortlist into the payload scan); the formula is map-side
    column math on the shortlist."""
    corpus, q = corpus_with_query(spark, sf_dir)
    pre = (corpus.crossJoin(F.broadcast(q))
           .select("vec_id", cosine_score().alias("score"))
           .orderBy(F.desc("score"), "vec_id").limit(FORMULA_PREFETCH))
    docs = tables.load(spark, sf_dir, "documents") \
        .select(F.col("doc_id").alias("vec_id"), "n_chars")
    decay = F.exp(-F.lit(_LN2) * F.pow(
        F.abs(F.col("n_chars") - FORMULA_ORIGIN) / FORMULA_SCALE, 2))
    return (docs.join(F.broadcast(pre), "vec_id")
                .select("vec_id",
                        F.round("score", 6).alias("prefetch_score"),
                        F.round(F.lit(FORMULA_W) * decay, 6)
                         .alias("boost"),
                        F.round(F.col("score")
                                + F.lit(FORMULA_W) * decay, 6)
                         .alias("final_score"))
                .orderBy(F.desc("final_score"), "vec_id").limit(10))


# ----------------------------------- Weaviate Aggregate + nearVector

NV_AGG_CERTAINTY = 0.55   # looser floor so every label bucket survives


@register("near_vector_aggregate", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
s AS (SELECT vec_id, label,
             (1.0 + list_dot_product(embedding::DOUBLE[], qvec)
              / (sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]))
                 * sqrt(list_dot_product(qvec, qvec)))) / 2.0 AS certainty
      FROM embeddings, q)
SELECT label, count(*) AS n,
       round(min(certainty), 6) AS min_certainty,
       round(max(certainty), 6) AS max_certainty,
       round(CAST(sum(CAST(round(certainty, 9) AS DECIMAL(18,9)))
                  AS DOUBLE) / count(*), 6) AS mean_certainty
FROM s WHERE certainty >= {NV_AGG_CERTAINTY!r}
GROUP BY label ORDER BY label
""")
def near_vector_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate `Aggregate { nearVector(certainty) { groupedBy,
    meta { count }, property metrics } }` — aggregation over the
    objects a vector search admits, grouped by a payload property:
    per label, how many objects clear the certainty floor and their
    certainty min/max/mean. The GraphQL Aggregate-with-near-operator
    surface, distinct from the search form (near_vector_certainty):
    no limit, no per-hit rows — the fleet census of the neighborhood.

    Scale shape: the certainty rescale rides the same map-side scan
    projection as the search form, the floor is a scan filter, and
    the rollup is one |labels|-row partial agg — no TakeOrdered, no
    window, zero shuffle beyond the bounded agg. The mean folds
    9-digit-rounded certainties as DECIMAL so the group sums are
    exact and order-free cross-engine."""
    corpus, q = corpus_with_query(spark, sf_dir)
    cert = (F.lit(1.0) + cosine_score()) / F.lit(2.0)
    s = (corpus.crossJoin(F.broadcast(q))
               .select("label", cert.alias("certainty"))
               .where(F.col("certainty") >= NV_AGG_CERTAINTY))
    return (s.groupBy("label")
             .agg(F.count("*").alias("n"),
                  F.round(F.min("certainty"), 6).alias("min_certainty"),
                  F.round(F.max("certainty"), 6).alias("max_certainty"),
                  F.round(F.sum(F.round(F.col("certainty"), 9)
                                 .cast("decimal(18,9)")).cast("double")
                          / F.count("*"), 6).alias("mean_certainty"))
             .orderBy("label"))
