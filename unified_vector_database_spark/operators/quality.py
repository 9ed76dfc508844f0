"""Gopher-style rule-based document quality filtering — the standard
pre-training corpus gate (Rae et al. 2021 "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", Appendix A1.1;
reused by MassiveText / RefinedWeb / Dolma pipelines).

Each rule is a closed-form per-document statistic, so the whole gate
is MAP-SIDE column math in the scan stage — at 100 TB this op costs
one corpus read and filters before anything downstream (dedup,
tokenization) pays for the rejected bytes. No shuffle; the returned
frame here aggregates the keep/reject census per language (bounded
cardinality) to give the driver a hash-checkable surface.

Rules implemented (thresholds from the paper, adapted to the test
corpus' word-soup shape):
- word count within [min, max]
- mean word length within [3, 10]
- symbol-to-word ratio (# and ellipsis) below 0.1
- stopword hit: >= 2 occurrences of common function words
- max single-token dominance (the most frequent token may not
  exceed a fraction of the doc) — the repetition gate's cheap twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tables
from ..functions.text import TOK_SQL
from ..registry import register


GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to")
GOPHER_STOP_MIN = 2
GOPHER_DOM_MAX = 0.20  # most frequent token <= 20% of the doc


def dominance_count(toks: F.Column) -> F.Column:
    """Most-frequent-token count of a token array, without exploding
    AND without the O(n_tokens x n_distinct) distinct-scan: sort the
    array and fold it ONCE with a (prev, run, best) accumulator — the
    longest run of equal adjacent tokens IS the max frequency.
    O(n log n) per document regardless of vocabulary size, and a
    single expression tree (a nested-lambda form that re-referenced
    the boundary array re-evaluated it per element: 13.7 s -> 0.9 s
    at sf0.1). Module-level so the property test exercises the SAME
    expression the operator ships."""
    def _run_fold(acc, x):
        run = (F.when(x == acc.getField("prev"), acc.getField("run") + 1)
                .otherwise(F.lit(1)))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc.getField("best"), run).alias("best"))

    return F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        _run_fold,
        lambda acc: acc.getField("best"))


GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {TOK_SQL} AS toks,
         length(text) - length(replace(text, '#', ''))
         + length(text) - length(replace(text, '...', '')) AS n_sym
  FROM documents),
srt AS (
  SELECT doc_id, lang, toks, n_sym, list_sort(toks) AS st
  FROM t WHERE len(toks) > 0),
-- run-boundary positions in the sorted token list: the max gap
-- between consecutive boundaries IS the most-frequent-token count
bnd AS (
  SELECT *, list_filter(range(1, len(st) + 1),
                        i -> i = 1 OR st[i] <> st[i - 1]) AS b
  FROM srt),
m AS (
  SELECT doc_id, lang,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
           / len(toks) AS mwl,
         CAST(n_sym AS DOUBLE) / len(toks) AS sym_ratio,
         len(list_filter(toks, x -> x IN {GOPHER_STOPWORDS!r})) AS n_stop,
         CAST(list_max(list_transform(range(1, len(b) + 1),
              j -> coalesce(b[j + 1], len(st) + 1) - b[j]))
           AS DOUBLE) / len(toks) AS dom
  FROM bnd),
f AS (
  SELECT lang,
         (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mwl BETWEEN {GOPHER_MWL_LO!r} AND {GOPHER_MWL_HI!r})
         AND (sym_ratio <= {GOPHER_SYMBOL_MAX!r})
         AND (n_stop >= {GOPHER_STOP_MIN})
         AND (dom <= {GOPHER_DOM_MAX!r}) AS keep,
         n_words
  FROM m)
SELECT lang, keep, count(*) AS n_docs,
       CAST(sum(CAST(n_words AS BIGINT)) AS BIGINT) AS total_words
FROM f GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("gopher_quality_rules", oracle=GOPHER_ORACLE)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule gate census: per (lang, keep) — how many documents
    pass all five rules and how many words they carry. Every rule is
    map-side array math; the token-dominance rule is the sorted-run
    fold (dominance_count above — no explode). The
    production form returns the per-doc keep column; the census shape
    is the driver-checkable rollup of exactly that column. The body
    lives in gopher_census so the W12 streaming twin
    (streaming/ingest.py) runs the IDENTICAL rule expressions over
    the ingest stream."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return gopher_census(docs)


def gopher_keep(docs: DataFrame, extra: dict | None = None) -> DataFrame:
    """Per-document frame (doc_id, lang, n_words, keep) of the five
    Gopher rules — the production form (a pipeline filters on `keep`);
    gopher_census below is its driver-checkable rollup, and the W12
    streaming twin runs the identical expressions.

    `extra` maps output-column names to Column expressions evaluated
    on the RAW docs frame — so a composing operator (quality_pr_curve)
    can fuse its own per-doc math into this single scan projection
    instead of re-scanning and joining back on doc_id."""
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    n_sym = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
             + F.length("text")
             - F.length(F.replace(F.col("text"), F.lit("..."))))
    dom_cnt = dominance_count(toks)
    extra = extra or {}
    m = docs.select(
        "doc_id", "lang",
        F.size(toks).alias("n_words"),
        (F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
         .cast("double") / F.size(toks)).alias("mwl"),
        (n_sym.cast("double") / F.size(toks)).alias("sym_ratio"),
        F.size(F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS)))
         .alias("n_stop"),
        (dom_cnt.cast("double") / F.size(toks)).alias("dom"),
        *[c.alias(n) for n, c in extra.items()],
    ).where(F.col("n_words") > 0)
    keep = (F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & F.col("mwl").between(GOPHER_MWL_LO, GOPHER_MWL_HI)
            & (F.col("sym_ratio") <= GOPHER_SYMBOL_MAX)
            & (F.col("n_stop") >= GOPHER_STOP_MIN)
            & (F.col("dom") <= GOPHER_DOM_MAX))
    return m.select("doc_id", "lang", "n_words", keep.alias("keep"),
                    *extra.keys())


def gopher_census(docs: DataFrame) -> DataFrame:
    """(lang, keep) census of the five Gopher rules over any docs
    frame — batch or streaming (map-side rules + one groupBy; no
    windows, so the plan is streamable in complete mode)."""
    return (gopher_keep(docs)
             .select("lang", "keep", "n_words")
             .groupBy("lang", "keep")
             .agg(F.count("*").alias("n_docs"),
                  F.sum(F.col("n_words").cast("bigint")).cast("bigint")
                   .alias("total_words"))
             .orderBy("lang", "keep"))


# ----------------------------------------------------------- DSIR scoring

# Data Selection via Importance Resampling (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# score raw documents by the log-likelihood ratio of a target-domain
# hashed-ngram model vs the raw-corpus model; resample by the ratio.
# Here: target = the English slice, features = hashed unigrams.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"
DSIR_TOP = 20


@register("dsir_importance", oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({TOK_SQL}) AS term FROM documents),
b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(term), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM tok),
cnt AS (
  SELECT bucket,
         CAST(count(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}')
              AS BIGINT) AS ct,
         CAST(count(*) AS BIGINT) AS cr
  FROM b GROUP BY 1),
tot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
  FROM cnt),
w AS (
  SELECT bucket,
         CAST(round(ln((CAST(ct + 1 AS DOUBLE) / (tt + {DSIR_BUCKETS}))
                       / (CAST(cr + 1 AS DOUBLE) / (tr + {DSIR_BUCKETS}))),
                    6) AS DECIMAL(14,6)) AS lw
  FROM cnt, tot),
s AS (
  SELECT b.doc_id,
         CAST(sum(w.lw) AS DOUBLE) AS score,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM b JOIN w USING (bucket) GROUP BY 1)
SELECT s.doc_id, d.lang, s.n_tokens, round(s.score / s.n_tokens, 6)
         AS importance
FROM s JOIN documents d USING (doc_id)
ORDER BY importance DESC, s.doc_id LIMIT {DSIR_TOP}
""")
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023): per-token
    log-likelihood ratio of the target-domain hashed-unigram model vs
    the raw-corpus model, length-normalized; the resampling step
    admits documents proportionally to this score. Plan: ONE explode
    pass materializes per-doc bucket counts (bc, checkpointed — see
    the inline comment); both the model counts and the weighted doc
    scores derive from bc, so the token stream is hashed exactly
    once. Scores sum lw*c as exact DECIMAL — order-independent under
    any partitioning, unlike a raw double sum. The only token-volume
    shuffle is bc's groupBy; everything after runs on the bucket-count
    frame."""
    from ..functions.hashing import md5_int32
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    tok = (docs.select("doc_id", "lang",
                       F.explode(F.filter(F.split(F.trim("text"), " "),
                                          lambda t: t != "")).alias("term")))
    # Materialize per-doc bucket counts ONCE: both downstream consumers
    # (the model counts AND the scoring join) previously re-executed
    # the explode+md5 token pass each — the 64x probe flagged the
    # recompute (ratio 40). bc is tiny relative to the token stream
    # (≤ min(|tokens|, buckets) rows per doc), so the checkpoint is
    # cheap; at 100 TB these counts are computed once at ingest and
    # stored, as the docstring's scale path says.
    # eager=False keeps DataFrame *construction* lazy (schema/plan-only
    # consumers like the output-schema gate pay nothing); the
    # checkpoint still materializes once at the first action and is
    # shared by both downstream consumers (ADVICE r4).
    bc = (tok.groupBy("doc_id", "lang",
                      (md5_int32("term") % DSIR_BUCKETS).alias("bucket"))
             .agg(F.count("*").alias("c"))
             .localCheckpoint(eager=False))
    cnt = bc.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c"))
               .otherwise(F.lit(0))).alias("ct"),
        F.sum("c").alias("cr"))
    tot = cnt.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lw = F.round(
        F.log(((F.col("ct") + 1).cast("double") / (F.col("tt") + DSIR_BUCKETS))
              / ((F.col("cr") + 1).cast("double")
                 / (F.col("tr") + DSIR_BUCKETS))), 6).cast("decimal(14,6)")
    w = cnt.crossJoin(F.broadcast(tot)).select("bucket", lw.alias("lw"))
    s = (bc.join(F.broadcast(w), "bucket")
           .groupBy("doc_id")
           .agg(F.sum(F.col("lw") * F.col("c")).cast("double").alias("score"),
                F.sum("c").alias("n_tokens")))
    return (s.join(docs.select("doc_id", "lang"), "doc_id")
             .select("doc_id", "lang", "n_tokens",
                     F.round(F.col("score") / F.col("n_tokens"), 6)
                      .alias("importance"))
             .orderBy(F.desc("importance"), "doc_id").limit(DSIR_TOP))


# -------------------------------------------------- hard-negative mining

# Contrastive-retrieval training data prep (DPR, Karpukhin et al.
# 2020; Contriever): for each anchor, the highest-scoring corpus items
# of a DIFFERENT class are the "hard negatives" — similar enough to
# be confusable, labeled different.
HN_K = 5


@register("hard_negative_mining", oracle=f"""
WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                  embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000),
s AS (SELECT qid, qlabel, vec_id, label,
             list_dot_product(embedding::DOUBLE[], qvec)
             / (sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[]))
                * sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q
      WHERE label <> qlabel),
r AS (SELECT qid, vec_id AS neg_id, label AS neg_label, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rank
      FROM s)
SELECT qid, neg_id, neg_label, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {HN_K}
""")
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: per
    anchor, the top-k most similar corpus vectors with a DIFFERENT
    label. Same plan as batch knn (anchors broadcast, one corpus
    pass, per-anchor WindowGroupLimit top-k) with the label-mismatch
    predicate fused into the scoring scan — the filter costs nothing
    extra and the negatives are exactly the confusable items a
    contrastive loss needs. At 100 TB this runs through the IVF probe
    (ivf_batch_knn) with the label filter applied per cell."""
    from ..functions import distance as D
    from .knn import cosine_score
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = (emb.select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    anchors = (emb.where((F.col("vec_id") % 100 == 0)
                         & (F.col("vec_id") < 2000))
                  .select(F.col("vec_id").alias("qid"),
                          F.col("label").alias("qlabel"),
                          D.vec_double("embedding").alias("qvec"))
                  .withColumn("nq", D.norm("qvec")))
    from pyspark.sql import Window as W
    score = cosine_score().alias("score")
    pairs = (corpus.crossJoin(F.broadcast(anchors))
                   .where(F.col("label") != F.col("qlabel"))
                   .select("qid", F.col("vec_id").alias("neg_id"),
                           F.col("label").alias("neg_label"), score))
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.col("neg_id"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
                 .where(F.col("rank") <= HN_K))


# ------------------------------------------------- corpus drift (KL)

DRIFT_TOP = 15


@register("corpus_drift_kl", oracle="""
WITH tok AS (
  SELECT doc_id % 2 AS slice,
         unnest(list_filter(string_split(trim(text), ' '),
                            t -> t <> '')) AS term
  FROM documents),
cnt AS (
  SELECT term,
         CAST(count(*) FILTER (WHERE slice = 0) AS BIGINT) AS ca,
         CAST(count(*) FILTER (WHERE slice = 1) AS BIGINT) AS cb
  FROM tok GROUP BY term),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS v
  FROM cnt),
con AS (
  SELECT term, ca, cb,
         CAST(round(
             (CAST(ca + 1 AS DOUBLE) / (ta + v))
             * CAST(round(ln((CAST(ca + 1 AS DOUBLE) / (ta + v))
                             / (CAST(cb + 1 AS DOUBLE) / (tb + v))), 6)
                    AS DOUBLE),
             12) AS DECIMAL(16,12)) AS contrib
  FROM cnt, tot),
top AS (
  SELECT term, ca, cb, CAST(contrib AS DOUBLE) AS contrib
  FROM con ORDER BY contrib DESC, term LIMIT 15),
total AS (
  SELECT '[TOTAL_KL]' AS term, t.ta AS ca, t.tb AS cb,
         CAST(sum(c.contrib) AS DOUBLE) AS contrib
  FROM con c, tot t GROUP BY t.ta, t.tb)
SELECT * FROM (SELECT * FROM total UNION ALL SELECT * FROM top) u
ORDER BY u.term = '[TOTAL_KL]' DESC, contrib DESC, term
""")
def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33 — corpus drift census between two ingest slices (even vs
    odd doc_id here; in production, last week's crawl vs this
    week's): add-one-smoothed unigram KL divergence KL(A||B) plus the
    top terms by KL contribution — the monitoring number a training-
    data pipeline alarms on before a shifted batch poisons a mix, and
    the term list that says WHAT shifted.

    Scale shape: ONE token explode feeds a per-term conditional-count
    groupBy (the only token-volume shuffle, partial-agg'd map-side);
    totals and vocab size are a 1-row broadcast; per-term
    contributions are map-side column math over the |vocab| count
    frame. Determinism: the libm ln rounds to 6 before use and each
    term's contribution quantizes to DECIMAL(16,12) before the exact
    total sum — merge-order-free (the DSIR discipline)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    tok = docs.select(
        (F.col("doc_id") % 2).alias("slice"),
        F.explode(F.filter(F.split(F.trim("text"), " "),
                           lambda t: t != "")).alias("term"))
    cnt = (tok.groupBy("term")
              .agg(F.sum(F.when(F.col("slice") == 0, 1).otherwise(0))
                    .cast("long").alias("ca"),
                   F.sum(F.when(F.col("slice") == 1, 1).otherwise(0))
                    .cast("long").alias("cb"))
              .localCheckpoint(eager=False))
    tot = cnt.agg(F.sum("ca").cast("long").alias("ta"),
                  F.sum("cb").cast("long").alias("tb"),
                  F.count("*").cast("long").alias("v"))
    p = (F.col("ca") + 1).cast("double") / (F.col("ta") + F.col("v"))
    q = (F.col("cb") + 1).cast("double") / (F.col("tb") + F.col("v"))
    contrib = F.round(p * F.round(F.log(p / q), 6), 12) \
               .cast("decimal(16,12)")
    con = (cnt.crossJoin(F.broadcast(tot))
              .select("term", "ca", "cb", contrib.alias("contrib"))
              .localCheckpoint(eager=False))
    top = (con.select("term", "ca", "cb",
                      F.col("contrib").cast("double").alias("contrib"))
              .orderBy(F.desc("contrib"), "term").limit(DRIFT_TOP))
    total = (con.crossJoin(F.broadcast(tot))
                .groupBy("ta", "tb")
                .agg(F.sum("contrib").cast("double").alias("contrib"))
                .select(F.lit("[TOTAL_KL]").alias("term"),
                        F.col("ta").alias("ca"), F.col("tb").alias("cb"),
                        "contrib"))
    return (total.unionAll(top)
                 .orderBy(F.desc(F.col("term") == "[TOTAL_KL]"),
                          F.desc("contrib"), "term"))


# ---------------------------------------------------- dataset card

DATACARD_SHORT = 120  # n_chars floor mirrored from the quality gates


@register("dataset_card", oracle=f"""
WITH base AS (
  SELECT doc_id, lang, source, n_chars, md5(text) AS h,
         len({TOK_SQL})
           AS ntok
  FROM documents),
tok AS (
  SELECT count(DISTINCT token) AS vocab FROM (
    SELECT unnest(list_filter(string_split(trim(text), ' '),
                              t -> t <> '')) AS token
    FROM documents)),
a AS (
  SELECT count(*) AS n_docs,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources,
         sum(ntok) AS total_tokens,
         count(DISTINCT h) AS n_unique,
         count(*) FILTER (n_chars < {DATACARD_SHORT}) AS n_short
  FROM base)
SELECT m.metric, round(m.value, 6) AS value
FROM a, tok, LATERAL (VALUES
  ('n_docs', a.n_docs * 1.0),
  ('n_langs', a.n_langs * 1.0),
  ('n_sources', a.n_sources * 1.0),
  ('total_tokens', a.total_tokens * 1.0),
  ('mean_doc_tokens', CASE WHEN a.n_docs = 0 THEN NULL
                           ELSE a.total_tokens * 1.0 / a.n_docs END),
  ('exact_dup_rate', CASE WHEN a.n_docs = 0 THEN NULL
                          ELSE 1.0 - a.n_unique * 1.0 / a.n_docs END),
  ('short_doc_rate', CASE WHEN a.n_docs = 0 THEN NULL
                          ELSE a.n_short * 1.0 / a.n_docs END),
  ('vocab_size', tok.vocab * 1.0)) AS m(metric, value)
ORDER BY m.metric
""")
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary (the 'data card' table every released
    corpus ships: size, composition, duplication, length profile,
    vocabulary): one metric/value frame a release pipeline exports
    verbatim. Duplication here is the exact md5 rate — the
    MinHash/SemDeDup near-dup rates are their own driver-gated ops;
    this card is the cheap always-on census that gates whether the
    expensive passes are needed at all.

    Scale shape: one map-side pass folds every per-doc stat into ONE
    partial-agg row (count, distinct-hash, token sums — the distinct
    doc-hash count shuffles 16-byte hashes, not text); the vocabulary
    count is the one genuinely vocab-keyed extra agg (its 100 TB
    stand-in is distinct_kmv's sketch, driver-proved next door); the
    8 output rows unpivot from the aggregate row."""
    from ..functions.text import tokens

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    base = docs.select(
        "lang", "source", "n_chars", F.md5("text").alias("h"),
        F.size(tokens("text")).alias("ntok"))
    a = base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("ntok").alias("total_tokens"),
        F.countDistinct("h").alias("n_unique"),
        F.count_if(F.col("n_chars") < DATACARD_SHORT).alias("n_short"))
    vocab = (docs.select(F.explode(tokens("text")).alias("token"))
                 .agg(F.countDistinct("token").alias("vocab")))
    pairs = [
        ("n_docs", F.col("n_docs") * 1.0),
        ("n_langs", F.col("n_langs") * 1.0),
        ("n_sources", F.col("n_sources") * 1.0),
        ("total_tokens", F.col("total_tokens") * 1.0),
        ("mean_doc_tokens",
         F.try_divide(F.col("total_tokens") * 1.0, F.col("n_docs"))),
        ("exact_dup_rate",
         1.0 - F.try_divide(F.col("n_unique") * 1.0, F.col("n_docs"))),
        ("short_doc_rate",
         F.try_divide(F.col("n_short") * 1.0, F.col("n_docs"))),
        ("vocab_size", F.col("vocab") * 1.0),
    ]
    stack = F.explode(F.array(*[
        F.struct(F.lit(m).alias("metric"), v.alias("value"))
        for m, v in pairs])).alias("f")
    return (a.crossJoin(F.broadcast(vocab))
             .select(stack)
             .select(F.col("f.metric").alias("metric"),
                     F.round(F.col("f.value"), 6).alias("value"))
             .orderBy("metric"))


# ----------------------------------- end-to-end pre-training pipeline

PIPE_CTX_TOKENS = 2048
PIPE_SHARDS = 8

# the Gopher rule CTE chain with doc_id carried through (mirrors
# GOPHER_ORACLE term-for-term; kept separate so that oracle's text —
# and its green history — stays untouched)
_GOPHER_KEEP_CTE = f"""
t AS (
  SELECT doc_id, lang, {TOK_SQL} AS toks,
         length(text) - length(replace(text, '#', ''))
         + length(text) - length(replace(text, '...', '')) AS n_sym
  FROM documents),
srt AS (
  SELECT doc_id, lang, toks, n_sym, list_sort(toks) AS st
  FROM t WHERE len(toks) > 0),
bnd AS (
  SELECT *, list_filter(range(1, len(st) + 1),
                        i -> i = 1 OR st[i] <> st[i - 1]) AS b
  FROM srt),
m AS (
  SELECT doc_id, lang,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
           / len(toks) AS mwl,
         CAST(n_sym AS DOUBLE) / len(toks) AS sym_ratio,
         len(list_filter(toks, x -> x IN {GOPHER_STOPWORDS!r})) AS n_stop,
         CAST(list_max(list_transform(range(1, len(b) + 1),
              j -> coalesce(b[j + 1], len(st) + 1) - b[j]))
           AS DOUBLE) / len(toks) AS dom
  FROM bnd),
f AS (
  SELECT doc_id, n_words,
         (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mwl BETWEEN {GOPHER_MWL_LO!r} AND {GOPHER_MWL_HI!r})
         AND (sym_ratio <= {GOPHER_SYMBOL_MAX!r})
         AND (n_stop >= {GOPHER_STOP_MIN})
         AND (dom <= {GOPHER_DOM_MAX!r}) AS keep
  FROM m)"""


@register("pretrain_pipeline_census", oracle=f"""
WITH {_GOPHER_KEEP_CTE},
kept AS (
  SELECT f.doc_id, f.n_words, md5(d.text) AS h
  FROM f JOIN documents d ON f.doc_id = d.doc_id
  WHERE f.keep),
surv AS (SELECT h, min(doc_id) AS doc_id FROM kept GROUP BY h),
sd AS (
  SELECT k.n_words,
         ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {PIPE_SHARDS} AS shard
  FROM kept k JOIN surv s ON k.doc_id = s.doc_id)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       CAST(ceil(sum(n_words) / {PIPE_CTX_TOKENS}.0) AS BIGINT)
         AS n_contexts,
       CAST(CAST(ceil(sum(n_words) / {PIPE_CTX_TOKENS}.0) AS BIGINT)
            * {PIPE_CTX_TOKENS} - sum(n_words) AS BIGINT) AS pad_tokens,
       round(sum(n_words)
             / (ceil(sum(n_words) / {PIPE_CTX_TOKENS}.0)
                * {PIPE_CTX_TOKENS}.0), 6) AS pack_efficiency
FROM sd GROUP BY shard ORDER BY shard
""")
def pretrain_pipeline_census(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The END-TO-END pre-training data pipeline as ONE Catalyst
    plan — the repo's thesis in a single operator: Gopher quality
    gate (the identical per-doc rule expressions the census and the
    W12 stream run) → exact dedup (first survivor per content hash)
    → deterministic md5 shard routing → concat-and-split context
    packing census per shard (GPT-style: each shard's token stream
    splits into {PIPE_CTX_TOKENS}-token contexts; pad waste only in
    the final context — the packing arithmetic every data loader
    plans against).

    Scale shape: the gate is map-side array math; dedup shuffles
    16-byte content hashes (never text) into a min-survivor agg; the
    survivor semi-join is id-keyed; shard routing is map-side md5;
    the packing census needs only per-shard token SUMS (no window,
    no explode) — one {PIPE_SHARDS}-row partial agg. Every stage is
    the already-driver-proved substrate (X1/D1/X34/X11 shapes)
    COMPOSED, which is exactly how the production pipeline deploys:
    one declarative plan, one pass over the corpus plus the hash
    shuffle."""
    from ..functions.hashing import md5_int32

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    kept = (gopher_keep(docs).where("keep")
            .join(docs.select("doc_id", F.md5("text").alias("h")),
                  "doc_id"))
    surv = kept.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    sd = (kept.join(surv.select("doc_id"), "doc_id")
              .select((md5_int32(F.col("doc_id").cast("string"))
                       % PIPE_SHARDS).alias("shard"),
                      "n_words"))
    total = F.sum(F.col("n_words").cast("bigint"))
    nctx = F.ceil(total / float(PIPE_CTX_TOKENS))
    return (sd.groupBy("shard")
              .agg(F.count("*").alias("n_docs"),
                   total.cast("long").alias("total_tokens"),
                   nctx.cast("long").alias("n_contexts"),
                   (nctx * PIPE_CTX_TOKENS - total).cast("long")
                    .alias("pad_tokens"),
                   F.round(total / (nctx * float(PIPE_CTX_TOKENS)), 6)
                    .alias("pack_efficiency"))
              .orderBy("shard"))


# ------------------------------------------ classifier calibration

# Threshold sweep for the PR curve: the observed quality range at the
# test SFs is ~[0.43, 0.86]; seven 0.05 steps cover the useful band.
PR_THRESHOLDS = tuple(round(0.50 + 0.05 * i, 2) for i in range(7))


@register("quality_pr_curve", oracle=f"""
WITH {_GOPHER_KEEP_CTE},
q AS (
  SELECT doc_id,
         0.4 * least(len(toks) / 100.0, 1.0)
         + 0.3 * (1.0 - len(list_filter(toks, x -> x IN ('the', 'a')))
                        / len(toks))
         + 0.3 * least((list_sum(list_transform(toks, x -> length(x)))
                        / len(toks)) / 8.0, 1.0) AS quality
  FROM t WHERE len(toks) > 0),
j AS (SELECT f.keep, q.quality FROM f JOIN q ON f.doc_id = q.doc_id),
c AS (
  SELECT th.t,
         CAST(count(*) FILTER (j.quality >= th.t AND j.keep)
              AS BIGINT) AS tp,
         CAST(count(*) FILTER (j.quality >= th.t AND NOT j.keep)
              AS BIGINT) AS fp,
         CAST(count(*) FILTER (j.quality < th.t AND j.keep)
              AS BIGINT) AS fn
  FROM j CROSS JOIN (VALUES {", ".join(f"({t})" for t in PR_THRESHOLDS)})
       AS th(t)
  GROUP BY th.t)
SELECT t AS threshold, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE round(tp / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE round(tp / (tp + fn), 6) END AS recall,
       CASE WHEN tp = 0 THEN 0.0
            ELSE round(2.0 * tp / (2.0 * tp + fp + fn), 6) END AS f1
FROM c ORDER BY threshold
""")
def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier calibration against the Gopher rule gate:
    treating the heuristic quality score as a classifier of
    `gopher_keep`, sweep seven thresholds and emit the
    precision/recall/F1 curve — the census a pipeline owner reads
    before replacing an expensive rule gate with a cheap scored
    filter (or before picking the retention threshold for a
    fastText/DSIR-style scorer).

    Scale shape: the score is FUSED into gopher_keep's single scan
    projection (the `extra` hook — no second scan, no doc_id
    re-join); the sweep is 3x|thresholds| conditional counters in ONE
    1-row partial agg (each doc contributes map-side to every
    threshold's counters — no threshold explode, no shuffle growth);
    the curve unpivots from that single row. Precision is NULL where
    nothing is predicted positive; F1 defined 0 at tp=0."""
    from .textops import quality_col

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    j = gopher_keep(docs, extra={"quality": quality_col()})
    aggs = []
    for i, t in enumerate(PR_THRESHOLDS):
        hit = F.col("quality") >= F.lit(t)
        aggs += [
            F.count_if(hit & F.col("keep")).alias(f"tp{i}"),
            F.count_if(hit & ~F.col("keep")).alias(f"fp{i}"),
            F.count_if(~hit & F.col("keep")).alias(f"fn{i}"),
        ]
    one = j.agg(*aggs)
    rows = F.explode(F.array(*[
        F.struct(F.lit(t).alias("threshold"),
                 F.col(f"tp{i}").alias("tp"),
                 F.col(f"fp{i}").alias("fp"),
                 F.col(f"fn{i}").alias("fn"))
        for i, t in enumerate(PR_THRESHOLDS)])).alias("r")
    tp, fp, fn = F.col("r.tp"), F.col("r.fp"), F.col("r.fn")
    return (one.select(rows)
            .select(
                F.col("r.threshold").alias("threshold"),
                tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
                F.when(tp + fp == 0, F.lit(None))
                 .otherwise(F.round(tp / (tp + fp), 6)).alias("precision"),
                F.when(tp + fn == 0, F.lit(None))
                 .otherwise(F.round(tp / (tp + fn), 6)).alias("recall"),
                F.when(tp == 0, F.lit(0.0))
                 .otherwise(F.round(2.0 * tp / (2.0 * tp + fp + fn), 6))
                 .alias("f1"))
            .orderBy("threshold"))
