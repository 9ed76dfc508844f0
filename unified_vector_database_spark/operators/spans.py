"""Span-level duplicate detection: sliding token-window fingerprints
shared across documents.

Reference analog: substring-level training-data dedup (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better" —
the suffix-array ExactSubstr dedup): document-level near-dup passes
(MinHash/SimHash, operators/dedup.py) miss long verbatim spans pasted
into otherwise-distinct pages. The batch-engine re-expression
fingerprints every k-token sliding window and flags windows that
occur in more than one document — the per-doc duplicated-span ratio
is the executable cut a pipeline applies.

Scale shape: window generation is pure map-side array math in the
scan stage (slice+zip, no explode until the fingerprint rollup); the
only shuffles are a groupBy on the window hash (uniform by
construction — the key IS a content hash) and a co-keyed join back,
both partial-agg'd. Nothing is ever corpus x corpus; cost is
O(total tokens), independent of how many documents collide. At 100 TB
the window strings would be md5-hashed to 16 bytes before the shuffle
(constants.py knob) — kept as raw strings here so the oracle stays a
direct structural twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tables
from ..functions.text import TOK_SQL, ngram_array
from ..registry import register

SPAN_N = 8  # tokens per window — Lee et al. use 50 unicode chars


_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         {TOK_SQL} AS t
  FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - {SPAN_N - 2}, 1)),
           i -> array_to_string(t[i:i+{SPAN_N - 1}], ' '))) AS grams
  FROM toks),
ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
dup AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) >= 2),
per AS (
  SELECT ex.doc_id, count(*) AS n_dup
  FROM ex JOIN dup USING (gram) GROUP BY ex.doc_id)
SELECT g.doc_id, len(g.grams) AS n_windows,
       coalesce(per.n_dup, 0) AS n_dup_windows,
       round(coalesce(per.n_dup, 0) * 1.0
             / greatest(len(g.grams), 1), 6) AS dup_ratio
FROM g LEFT JOIN per ON per.doc_id = g.doc_id
ORDER BY g.doc_id
"""


def span_stats(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_ratio) — unordered
    operator core (compose freely; the query wrapper adds the
    oracle-determinism sort)."""
    g = docs.select("doc_id", ngram_array(F.col("text"), n)
                    .alias("grams"))
    # fingerprint each window to a FIXED 8-byte xxhash64 BEFORE the
    # shuffle: join/group keys stay uniform and tiny no matter how
    # long the window text is, and the hash is a cheap JVM intrinsic
    # (md5 cost 64x-scale-tested as the dominant term). The oracle
    # groups the raw window strings — identical counts, no collisions
    # at oracle scale. The hashed posting stream is cached: both the
    # dup-set aggregate and the join back consume it, and recomputing
    # the explode+hash twice doubled the dominant cost (measured at a
    # 64x replica corpus; on a cluster this persist spills to local
    # disk like any shuffle would).
    ex = (g.select("doc_id", F.explode("grams").alias("w"))
           .select("doc_id", F.xxhash64("w").alias("gram"))
           .cache())
    dup = (ex.groupBy("gram").agg(F.count("*").alias("nd"))
             .where(F.col("nd") >= 2).select("gram"))
    per = (ex.join(dup, "gram")
             .groupBy("doc_id").agg(F.count("*").alias("n_dup")))
    # n_windows from the CACHED posting stream, not a second full
    # tokenize+ngram pass: grams are distinct per doc, so the per-doc
    # explode count IS size(grams). Zero-window docs vanish in the
    # explode, so rejoin against the bare id scan (no text touched)
    # and coalesce to 0 — same rows, one corpus pass less (r9 opt).
    cnt = ex.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    base = (docs.select("doc_id").join(cnt, "doc_id", "left")
                .select("doc_id", F.coalesce("n_windows", F.lit(0))
                        .alias("n_windows")))
    return (base.join(per, "doc_id", "left")
                .select("doc_id", "n_windows",
                        F.coalesce("n_dup", F.lit(0))
                         .alias("n_dup_windows"),
                        F.round(F.coalesce("n_dup", F.lit(0))
                                / F.greatest("n_windows", F.lit(1)), 6)
                         .alias("dup_ratio")))


@register("duplicate_spans", oracle=_SPANS_ORACLE)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span stats: distinct 8-token sliding
    windows, a window is 'duplicated' when it appears in >= 2
    documents. Emits every document (zero-window shorts included)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return span_stats(docs).orderBy("doc_id")
