"""Percolator — reverse search (Elasticsearch percolate queries):
a table of STORED queries is matched against documents, answering
"which saved searches does this doc satisfy?" — the alerting/
saved-search surface of the reference's ES backend.

Spark shape: the stored-query table is tiny by definition (saved
searches are thousands of rows; documents are the 100 TB side), so it
BROADCASTS and matching is a broadcast nested-loop join whose
predicate — term containment + a numeric payload range — evaluates
map-side in the document scan. One corpus pass matches every stored
query at once; the per-query rollup is a partial-agg'd groupBy on the
(tiny) query id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tables
from ..functions.text import TOK_SQL, tokens
from ..registry import register

# (query_id, required term, n_chars range) — the stored searches.
STORED_QUERIES = [
    (1, "merge", 0, 200),
    (2, "merge", 200, 1000),
    (3, "vector", 0, 150),
    (4, "vector", 150, 1000),
    (5, "customer", 100, 300),
    (6, "stream", 0, 250),
    (7, "window", 250, 1000),
    (8, "filter", 0, 1000),
]

_VALUES_SQL = ", ".join(f"({q}, '{t}', {lo}, {hi})"
                        for q, t, lo, hi in STORED_QUERIES)

# Shared by the batch registration and W9's streaming twin
# (streaming/ingest.stream_percolate): ONE definition of the
# saved-search semantics on each side of the engine boundary.
PERCOLATE_ORACLE = f"""
WITH sq(query_id, term, lo, hi) AS (VALUES {_VALUES_SQL}),
tok AS (
  SELECT doc_id, n_chars,
         {TOK_SQL} AS tok
  FROM documents),
m AS (
  SELECT sq.query_id, tok.doc_id
  FROM tok JOIN sq
    ON list_contains(tok.tok, sq.term)
   AND tok.n_chars >= sq.lo AND tok.n_chars < sq.hi)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM m GROUP BY query_id
ORDER BY query_id
"""


def percolate_rollup(docs: DataFrame) -> DataFrame:
    """Operator form (works on a batch frame OR a streaming frame —
    W9 reuses it): broadcast the stored queries, match map-side,
    roll up per query. Unordered; callers sort."""
    spark = docs.sparkSession
    sq = spark.createDataFrame(
        STORED_QUERIES, "query_id int, term string, lo int, hi int")
    d = docs.select("doc_id", "n_chars", tokens("text").alias("tok"))
    m = d.join(
        F.broadcast(sq),
        F.array_contains(F.col("tok"), F.col("term"))
        & (F.col("n_chars") >= F.col("lo"))
        & (F.col("n_chars") < F.col("hi")))
    return (m.groupBy("query_id")
             .agg(F.count("*").alias("n_matches"),
                  F.min("doc_id").alias("first_doc"),
                  F.max("doc_id").alias("last_doc")))


@register("percolate", oracle=PERCOLATE_ORACLE)
def percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return percolate_rollup(docs).orderBy("query_id")
