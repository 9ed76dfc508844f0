"""Inverted-index posting-list layout + impact-ordered BM25 pruning.

Reference analog: every text backend in the reference stack
(Elasticsearch most directly — reference README.md:93 `elasticsearch`
client) serves keyword queries from an inverted index, and prunes
scoring with impact-ordered postings (WAND / block-max WAND family:
Broder et al. CIKM'03, Ding & Suel SIGIR'11). The Spark-native
re-expression has two halves:

1. **Layout** (`build_posting_lists` + `write_inverted_index`): one
   explode + groupBy materializes (term, doc_id, tf, dl) postings,
   written hive-partitioned on `bucket = pmod(hash(term), n)`. A
   query for a handful of terms reads ONLY those buckets — pruned at
   the file listing exactly like the IVF cell layout (plan-asserted
   in tests/test_inverted.py). This is the index build a 100 TB
   corpus runs once, not per query.

2. **Impact-ordered pruning** (`bm25_pruned_search`): instead of
   scoring every document that matches ANY query term, keep only the
   top-IMPACT_N postings per term by their static impact (the
   posting's own BM25 term contribution — Anh & Moffat impact order;
   idf is constant within a term so (tf, dl) determine it), union them into a candidate set, and run the exact
   BM25 formula on candidates alone. Scoring cost becomes
   O(terms × IMPACT_N), independent of how many documents match a
   stopword-ish term. The cut is deterministic (impact desc, doc_id —
   impact values are bit-identical doubles on both engines), so the
   DuckDB oracle reproduces it bit-for-bit. The synthetic corpus is
   near-worst-case for impact ordering (tiny vocabulary, flat tf), so
   IMPACT_N=75 here; Zipfian real corpora cut far deeper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..constants import BM25_B, BM25_K1
from ..functions.text import TOK_SQL, exploded_tokens, tokens
from ..registry import register
from .hybrid import QUERY_TERMS, _TERMS_SQL, bm25_tf_part, bm25_weight

IMPACT_N = 75
_BUCKETS = 64


def build_posting_lists(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) — the classic inverted-index relation.
    One explode + one partial-agg'd groupBy; the doc-length column is
    denormalized onto every posting so BM25 needs no second join."""
    tok = exploded_tokens(docs, "doc_id", "text")
    dl = docs.select("doc_id", F.size(tokens("text")).alias("dl"))
    tf = (tok.groupBy("token", "doc_id")
             .agg(F.count("*").alias("tf"))
             .withColumnRenamed("token", "term"))
    return tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl")


def write_inverted_index(postings: DataFrame, path: str,
                         n_buckets: int = _BUCKETS) -> None:
    """Hive-partition the postings on a deterministic term-hash bucket
    (Spark `hash` = Murmur3 seed 42, stable across sessions). Term
    lookups prune to their buckets at the file listing."""
    (postings.withColumn("bucket", F.pmod(F.hash("term"), F.lit(n_buckets)))
             .write.mode("overwrite").partitionBy("bucket").parquet(path))


def read_postings(spark: SparkSession, path: str,
                  terms: tuple[str, ...],
                  n_buckets: int = _BUCKETS) -> DataFrame:
    """Read only the buckets the query terms hash into (a tiny
    driver-side job computes the bucket ids — |terms| rows), then the
    exact term filter inside the surviving files."""
    tdf = spark.createDataFrame([(t,) for t in terms], ["term"])
    buckets = sorted({r.b for r in tdf.select(
        F.pmod(F.hash("term"), F.lit(n_buckets)).alias("b")).collect()})
    return (spark.read.parquet(path)
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(*terms)))


def _bm25_on(tf: DataFrame, stats: DataFrame, df: DataFrame) -> DataFrame:
    """Exact BM25 over a (doc_id, term, tf, dl) posting subset."""
    w = bm25_weight(F.col("tf"), F.col("df"))
    return (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.round(F.sum(w), 6).alias("score")))


@register("bm25_pruned_search", oracle=f"""
WITH tok AS (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, len({TOK_SQL}) AS dl FROM documents),
stats AS (SELECT count(*) AS n, avg(len({TOK_SQL})) AS avgdl FROM documents),
tf AS (SELECT tok.doc_id, term, count(*) AS tf, any_value(dl.dl) AS dl
       FROM tok JOIN dl ON dl.doc_id = tok.doc_id
       WHERE term IN {_TERMS_SQL} GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
imp AS (SELECT doc_id, term,
               row_number() OVER (PARTITION BY term
                  ORDER BY tf * ({BM25_K1} + 1.0)
                           / (tf + {BM25_K1} * (1.0 - {BM25_B}
                              + {BM25_B} * tf.dl / stats.avgdl)) DESC,
                           doc_id) AS rk
        FROM tf, stats),
cand AS (SELECT DISTINCT doc_id FROM imp WHERE rk <= {IMPACT_N}),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * tf.dl / stats.avgdl))), 6)
           AS score
  FROM tf JOIN cand USING (doc_id) JOIN df USING (term), stats
  GROUP BY tf.doc_id)
SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT 15
""")
def bm25_pruned_search(spark: SparkSession, sf_dir: str,
                       impact_n: int = IMPACT_N) -> DataFrame:
    """Impact-ordered BM25: candidates = union of each query term's
    top-`impact_n` postings by static impact, exact BM25 on candidates.
    The registered query builds postings inline from the documents
    table so the oracle can mirror it; at scale the tf/df inputs come
    straight from the materialized index (`read_postings`), and the
    corpus is never re-tokenized at query time."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    tok = (exploded_tokens(docs, "doc_id", "text")
           .where(F.col("token").isin(*QUERY_TERMS)))
    dl = docs.select("doc_id", F.size(tokens("text")).alias("dl"))
    tf = (tok.groupBy("doc_id", "token")
             .agg(F.count("*").alias("tf"))
             .withColumnRenamed("token", "term")
             .join(dl, "doc_id"))
    stats = docs.agg(F.count("*").alias("n"),
                     F.avg(F.size(tokens("text"))).alias("avgdl"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    impact = bm25_tf_part(F.col("tf"))
    # Two-phase salted top-N: a term can match an unbounded share of
    # the corpus (stopwords), so a window partitioned on `term` alone
    # would funnel it into one task. Phase 1 ranks within (term, salt)
    # — bounded, uniform partitions — phase 2 re-ranks the surviving
    # terms × SALT × N rows. Identical result to the direct window
    # (every global top-N posting is its salt partition's top-N), with
    # no partition ever exceeding max(corpus/SALT, SALT*N) rows. In
    # the materialized layout the postings are stored impact-sorted,
    # so the query-time cut is a prefix read and no window runs at all.
    salt = F.pmod(F.hash("doc_id"), F.lit(16))
    local_rk = F.row_number().over(
        W.partitionBy("term", "salt").orderBy(impact.desc(), "doc_id"))
    rk = F.row_number().over(W.partitionBy("term")
                              .orderBy(impact.desc(), "doc_id"))
    cand = (tf.crossJoin(F.broadcast(stats))
              .withColumn("salt", salt)
              .withColumn("lrk", local_rk).where(F.col("lrk") <= impact_n)
              .withColumn("rk", rk).where(F.col("rk") <= impact_n)
              .select("doc_id").distinct())
    scored = _bm25_on(tf.join(F.broadcast(cand), "doc_id"), stats, df)
    return scored.orderBy(F.desc("score"), "doc_id").limit(15)


# ------------------------------------------------------- batch BM25 search

# (qid, term) — the query TABLE. Multi-query retrieval at scale is a
# JOIN against the postings relation, not a loop of single queries.
BATCH_QUERIES = (
    (0, ("vector", "index")), (1, ("query", "join")),
    (2, ("hash", "merge")), (3, ("stream", "window", "sort")),
)
BATCH_BM25_K = 5


def _batch_q_values() -> str:
    return ", ".join(f"({q}, '{t}')" for q, ts in BATCH_QUERIES
                     for t in ts)


_ALL_BATCH_TERMS = tuple(sorted({t for _, ts in BATCH_QUERIES for t in ts}))
_BATCH_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _ALL_BATCH_TERMS) + ")"


@register("bm25_batch_search", oracle=f"""
WITH qt(qid, term) AS (VALUES {_batch_q_values()}),
tok AS (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, len({TOK_SQL}) AS dl FROM documents),
stats AS (SELECT count(*) AS n, avg(len({TOK_SQL})) AS avgdl FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN {_BATCH_TERMS_SQL} GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN {_BATCH_TERMS_SQL} GROUP BY 1),
sc AS (
  SELECT qt.qid, tf.doc_id,
         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl))), 6)
           AS score
  FROM qt JOIN tf USING (term) JOIN df USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY qt.qid, tf.doc_id),
r AS (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rk
      FROM sc)
SELECT CAST(qid AS INT) AS qid, CAST(rk AS INT) AS rk, doc_id, score
FROM r WHERE rk <= {BATCH_BM25_K}
ORDER BY qid, rk
""")
def bm25_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25: N queries resolved in ONE pass as a join between
    the query table and the postings relation (ES `msearch` /
    Milvus-Qdrant batch search, keyword side) — the distributed shape
    multi-query retrieval takes at scale, vs. looping bm25_search.

    Scale shape: the postings explode is filtered to the UNION of all
    query terms map-side (explode output ∝ matched tokens, not corpus
    tokens); the (qid, term) frame broadcasts into the postings join,
    so each posting fans out only to the queries that contain its
    term; per-query top-k is WindowGroupLimit-pruned before the final
    shuffle. Corpus stats (N, avgdl, per-term df) are one partial-agg
    pass, broadcast back."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    qt = spark.createDataFrame(
        [(q, t) for q, ts in BATCH_QUERIES for t in ts], "qid int, term string")
    tok = exploded_tokens(docs, "doc_id", "text") \
        .withColumnRenamed("token", "term") \
        .where(F.col("term").isin(*_ALL_BATCH_TERMS))
    dl = docs.select("doc_id", F.size(tokens("text")).alias("dl"))
    stats = docs.agg(F.count("*").alias("n"),
                     F.avg(F.size(tokens("text"))).alias("avgdl"))
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    wpart = bm25_weight(F.col("tf"), F.col("df"))
    sc = (tf.join(F.broadcast(qt), "term")
            .join(F.broadcast(df), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("qid", "doc_id")
            .agg(F.round(F.sum(wpart), 6).alias("score")))
    win = W.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    return (sc.withColumn("rk", F.row_number().over(win))
              .where(F.col("rk") <= BATCH_BM25_K)
              .select(F.col("qid").cast("int").alias("qid"),
                      F.col("rk").cast("int").alias("rk"),
                      "doc_id", "score")
              .orderBy("qid", "rk"))
