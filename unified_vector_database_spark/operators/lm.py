"""Bigram language-model quality scoring (SURVEY §2.6 extension).

Reference analog: CCNet / GPT-3-class pipelines score every document
with a small LM and drop the high-perplexity tail. The engine-native
version is a self-trained corpus bigram model: P(w2|w1) estimated by
corpus counts, each document scored by its mean bigram log-probability
(low = gibberish / boilerplate, high = fluent corpus-typical text).

Scale shape: one token explode (map-side), bigram + unigram counts as
partial-agg'd groupBys (vocabulary-sized outputs, tiny vs the corpus),
then the scoring join back to the bigram stream is co-keyed on
(w1, w2) / (w1) — plain equi-joins whose key cardinality is the
vocabulary, with AQE handling the stopword-pair skew. No windows over
the corpus, no driver state: the "model" never leaves the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..functions.text import TOK_SQL, exploded_tokens
from ..registry import register

_TOK_CTE = f"""
tok AS (
  SELECT doc_id,
         unnest({TOK_SQL}) AS token,
         generate_subscripts({TOK_SQL}, 1) AS pos
  FROM documents),
big AS (
  SELECT doc_id, token AS w1,
         lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok),
b AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL)
"""


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) one row per bigram OCCURRENCE (not distinct —
    LM counts need multiplicity, unlike the dedup shingle sets).

    r5: built MAP-SIDE from the token array (adjacent-pair transform
    + one explode) — the r1 window form (partitionBy doc_id, lead)
    shuffled AND sorted the entire token stream before producing a
    single bigram; now the corpus never shuffles until the counts'
    partial agg. The slice's `greatest(…, 0)` makes <2-token docs an
    EMPTY pair array (vs sequence(1, 0), which is DESCENDING)."""
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    t = docs.select("doc_id", toks.alias("toks"))
    # pair i of the slice toks[2..n] (0-based w, index i):
    # (w1, w2) = (toks[i+1], w) — adjacent pairs, no window
    pairs = F.expr(
        "transform(slice(toks, 2, greatest(size(toks) - 1, 0)), "
        "(w, i) -> named_struct('w1', element_at(toks, i + 1), 'w2', w))")
    return (t.select("doc_id", F.explode(pairs).alias("p"))
             .select("doc_id", F.col("p.w1").alias("w1"),
                     F.col("p.w2").alias("w2")))


@register("lm_bigram_quality", oracle=f"""
WITH {_TOK_CTE},
bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
uc AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(avg(ln(c12 * 1.0 / c1)), 6) AS avg_logprob
FROM b JOIN bc USING (w1, w2) JOIN uc USING (w1)
GROUP BY b.doc_id ORDER BY b.doc_id
""")
def lm_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus
    bigram model. Docs with fewer than 2 tokens carry no bigrams and
    drop out (both engines agree)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    b = doc_bigrams(docs).cache()  # feeds counts AND the scoring pass
    bc = b.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = b.groupBy("w1").agg(F.count("*").alias("c1"))
    return (b.join(bc, ["w1", "w2"]).join(uc, ["w1"])
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_bigrams"),
                  F.round(F.avg(F.log(F.col("c12") / F.col("c1"))), 6)
                   .alias("avg_logprob"))
             .orderBy("doc_id"))


# ------------------------------------------- hashed n-gram entropy

ENT_BUCKETS = 256  # hashed-bigram feature space (the DSIR bucket shape)


@register("ngram_entropy", oracle=f"""
WITH t AS (
  SELECT source,
         {TOK_SQL} AS toks
  FROM documents),
g AS (
  SELECT source,
         unnest(list_transform(range(2, len(toks) + 1),
                               i -> toks[i - 1] || ' ' || toks[i])) AS gram
  FROM t),
c AS (
  SELECT source,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % {ENT_BUCKETS} AS bkt,
         count(*) AS c
  FROM g GROUP BY 1, 2),
n AS (SELECT source, bkt, c,
             sum(c) OVER (PARTITION BY source) AS n FROM c)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_buckets,
       round(-sum((c / n) * log2(c / n)), 6) AS entropy,
       round(-sum((c / n) * log2(c / n)) / 8.0, 6) AS norm_entropy
FROM n GROUP BY source ORDER BY source
""")
def ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity census: Shannon entropy of the hashed-bigram
    distribution per source (features = md5-hashed bigrams in
    {ENT_BUCKETS} buckets, the DSIR feature space). Low entropy =
    templated/repetitive source (boilerplate mills); high = diverse
    text — the source-level triage signal a pipeline reads next to
    per-doc repetition_score before assigning mixing weights.
    norm_entropy divides by log2({ENT_BUCKETS}) so 1.0 = uniform.

    Scale shape: bigrams build map-side from the token array (the
    doc_bigrams slice/transform shape — no window), hash to a BOUNDED
    bucket id before the shuffle, so the only aggregation state is
    |sources| x {ENT_BUCKETS} integer counters regardless of corpus
    or vocabulary size (the entropy of the full unhashed bigram
    distribution would shuffle the vocabulary). The entropy fold is
    <= {ENT_BUCKETS} double terms per source over exact integer
    counts — same determinism budget as lm_bigram_quality's
    round-6 log fold."""
    from ..functions.hashing import md5_int32

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    t = docs.select("source", toks.alias("toks"))
    pairs = F.expr(
        "transform(slice(toks, 2, greatest(size(toks) - 1, 0)), "
        "(w, i) -> concat(element_at(toks, i + 1), ' ', w))")
    g = t.select("source", F.explode(pairs).alias("gram"))
    c = (g.select("source",
                  (md5_int32("gram") % ENT_BUCKETS).alias("bkt"))
          .groupBy("source", "bkt").agg(F.count("*").alias("c")))
    n = c.withColumn("n", F.sum("c").over(W.partitionBy("source")))
    p = F.col("c") / F.col("n")
    term = p * F.log2(p)
    return (n.groupBy("source")
             .agg(F.max("n").cast("long").alias("n_bigrams"),
                  F.count("*").alias("n_buckets"),
                  F.round(-F.sum(term), 6).alias("entropy"),
                  F.round(-F.sum(term) / 8.0, 6).alias("norm_entropy"))
             .orderBy("source"))
