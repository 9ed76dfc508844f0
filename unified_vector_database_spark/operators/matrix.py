"""Distance matrix over a sampled point set.

Reference analog: Qdrant's distance-matrix API (`matrix_pairs` /
`matrix_offsets`; implied by the `qdrant-client` lib the reference
installs, /root/reference README.md:95): sample N points from the
collection and return the
pairwise-similarity graph, used for cluster exploration and dedup
diagnostics. Sampling here is deterministic (md5 order) rather than
random so the oracle reproduces the draw bit-for-bit.

Scale shape: the sample is cut with ONE TakeOrdered over the corpus
(N ≪ corpus, never a full sort), and the N x N scoring self-join runs
on two broadcast-sized sides — corpus size only enters through the
sample scan. Per-row top-k ranks inside an N-bounded window partition
(row cardinality N-1), never an unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..functions import distance as D
from ..registry import register

MATRIX_SAMPLE = 20
MATRIX_TOPK = 5

_COS = ("list_dot_product(a.emb, b.emb)"
        "/(sqrt(list_dot_product(a.emb, a.emb))"
        "*sqrt(list_dot_product(b.emb, b.emb)))")


@register("distance_matrix", oracle=f"""
WITH sample AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {MATRIX_SAMPLE}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_COS}, 6) AS score
  FROM sample a JOIN sample b ON a.vec_id <> b.vec_id),
ranked AS (
  SELECT id_a, id_b, score,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY score DESC, id_b) AS rank
  FROM pairs)
SELECT id_a, id_b, score, rank
FROM ranked WHERE rank <= {MATRIX_TOPK}
ORDER BY id_a, rank
""")
def distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine matrix over a deterministic 20-point sample,
    top-5 nearest per sampled point (Qdrant matrix API shape)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    sample = (emb.select("vec_id",
                         D.vec_double("embedding").alias("emb"))
                 .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
                 .limit(MATRIX_SAMPLE))
    a, b = sample.alias("a"), sample.alias("b")
    pairs = (a.join(F.broadcast(b),
                    F.col("a.vec_id") != F.col("b.vec_id"))
              .select(F.col("a.vec_id").alias("id_a"),
                      F.col("b.vec_id").alias("id_b"),
                      F.round(D.cosine("a.emb", "b.emb"), 6)
                       .alias("score")))
    w = W.partitionBy("id_a").orderBy(F.desc("score"), "id_b")
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= MATRIX_TOPK)
                 .orderBy("id_a", "rank"))
