#!/usr/bin/env python
"""Quickstart: the end-to-end path a reference user actually walks —
create a collection, ingest vectors + payloads, search it five ways
(knn / filtered / hybrid / ES|QL / retriever tree), and run the
LLM-pipeline sweep (quality gate -> dedup -> pack census) — all on
the bundled sf0.001 test data.

Run:  python examples/quickstart.py  [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from unified_vector_database_spark import registry, tables
from unified_vector_database_spark.functions import distance as D
from unified_vector_database_spark.operators.knn import knn
from unified_vector_database_spark.session import get_spark
from unified_vector_database_spark.sources.catalog import Collection

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def show(title: str, df, n: int = 5) -> None:
    print(f"\n=== {title} ===")
    for row in df.limit(n).collect():
        print("   ", row.asDict())


def main() -> None:
    spark = get_spark("uvdb-quickstart", cpus=8, shuffle_partitions=8)
    registry.load_all()

    # ---- 1. collections: versioned, copy-on-write, partition-pruned
    base = tempfile.mkdtemp(prefix="uvdb_quickstart_")
    col = Collection.create(spark, base, "docs", id_col="vec_id", dim=64)
    emb = tables.load(spark, SF, "embeddings")
    col.upsert(emb.select("vec_id", "embedding", "label"))
    print(f"collection 'docs' @ {col.path}: {col.count()} rows, "
          f"version {col.describe().version}")

    # ---- 2. vector search (FLAT exact; IVF/PQ/... in operators/index)
    corpus = col.read().select(
        "vec_id", "label", D.vec_double("embedding").alias("vec"))
    q = (corpus.where(F.col("vec_id") == 0)
               .select(F.col("vec").alias("qvec")))
    show("knn cosine top-5", knn(corpus, q, k=5, payload=("label",)))
    show("filtered knn (label = 3)",
         knn(corpus.where(F.col("label") == 3), q, k=5,
             payload=("label",)))

    # ---- 2b. HNSW: build the layered graph once (NN-Descent, all
    # co-keyed joins, collect-free — edges stay DataFrames), write it
    # as the bucket-partitioned parquet artifact, then beam-probe it —
    # the batch twin of the Qdrant/Weaviate/ES default ANN engine
    from unified_vector_database_spark.operators import hnsw
    built = hnsw.hnsw_build(spark, corpus.select("vec_id", "vec"))
    art_dir = tempfile.mkdtemp(prefix="quickstart_hnsw_")
    hnsw.hnsw_write(built, art_dir)          # the on-disk index
    art = hnsw.hnsw_read(spark, art_dir)     # lazy handles, hops prune
    # one query is a one-row (qid, qvec) panel
    query = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec"))
    show("hnsw beam-probe top-5 (driver beam over the bounded artifact)",
         hnsw.hnsw_probe_batch_driver(spark, corpus.select("vec_id", "vec"),
                                      hnsw.collect_art(art), query, k=5))
    batch_queries = (corpus.where(F.col("vec_id") % 100 == 0)
                           .select(F.col("vec_id").alias("qid"),
                                   F.col("vec").alias("qvec")))
    show("hnsw BATCH probe (every 100th vector as a query)",
         hnsw.hnsw_probe_batch(spark, corpus.select("vec_id", "vec"),
                               art, batch_queries, k=3))

    # ---- 3. every registered query runs through one uniform surface
    show("hybrid BM25+vector RRF", registry.QUERIES["hybrid_rrf"](spark, SF))
    show("ES 8.14 retriever tree",
         registry.QUERIES["retriever_tree"](spark, SF))

    # ---- 4. ES|QL: the piped query language, compiled to ONE plan
    from unified_vector_database_spark.operators.esql import esql
    show("ES|QL pipeline", esql(spark, SF, """
FROM orders
| WHERE o_orderstatus == "F"
| ENRICH customers ON o_custkey WITH c_mktsegment
| STATS n = COUNT(*), revenue = SUM(o_totalprice) BY c_mktsegment
| SORT revenue DESC
"""))

    # ---- 5. the LLM-pipeline sweep on the documents table
    show("Gopher quality gate census",
         registry.QUERIES["gopher_quality_rules"](spark, SF))
    show("MinHash near-dup clusters",
         registry.QUERIES["dedup_clusters"](spark, SF))
    show("pre-training pipeline census (gate->dedup->shard->pack)",
         registry.QUERIES["pretrain_pipeline_census"](spark, SF))

    print(f"\n{len(registry.QUERIES)} registered queries; every one has "
          "a DuckDB oracle twin — see __spark_entry__.py and SURVEY.md §2.")
    spark.stop()


if __name__ == "__main__":
    main()
