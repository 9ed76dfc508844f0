"""Full-text (BM25) and hybrid keyword+vector search — the reference's
Elasticsearch/Weaviate/Qdrant/Milvus hybrid surface (SURVEY §2.4):

- BM25 top-k over the documents corpus (Lucene-default k1/b)
- weighted-sum fusion of normalized BM25 + cosine scores
- reciprocal-rank fusion (RRF, k=60 — the ES/Weaviate default)

Scale shape: corpus stats (N, avgdl, per-term df for the handful of
query terms) are scalar/broadcast; the per-doc tf pass is map-only
after an early filter to query terms, so BM25 is one scan + one tiny
join. Fusion joins two top-k-able score tables on doc id.
"""

from __future__ import annotations

from pyspark.sql import (Column, DataFrame, SparkSession, Window as W,
                         functions as F)

from .. import tables
from ..constants import BM25_B, BM25_K1, HYBRID_CANDIDATES, RRF_K
from ..functions import distance as D
from ..functions.text import TOK_SQL, tokens
from ..registry import register

QUERY_TERMS = ("merge", "vector", "fast")
_TERMS_SQL = "('merge', 'vector', 'fast')"

# Explicit-form cosine (see functions/distance.py: DuckDB's builtin
# list_cosine_similarity is NOT bit-reproducible; this form is).
_COS = ("list_dot_product(embedding::DOUBLE[], qvec)"
        "/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
        "*sqrt(list_dot_product(qvec, qvec)))")

_BM25_CTE = f"""
tok AS (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, len({TOK_SQL}) AS dl FROM documents),
stats AS (SELECT count(*) AS n, avg(len({TOK_SQL})) AS avgdl FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN {_TERMS_SQL} GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN {_TERMS_SQL} GROUP BY 1),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl))), 6)
           AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id)
"""


def bm25_idf(df: Column) -> Column:
    """BM25 idf of a term in `df` documents, over the frame's `n`."""
    return F.log(1 + (F.col("n") - df + 0.5) / (df + 0.5))


def _bm25_tf_norm(tf: Column) -> Column:
    return tf + BM25_K1 * (1.0 - BM25_B
                           + BM25_B * F.col("dl") / F.col("avgdl"))


def bm25_tf_part(tf: Column) -> Column:
    """BM25's saturated term frequency,
    tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) over the frame's `dl` and
    `avgdl`: a posting's impact."""
    return tf * (BM25_K1 + 1.0) / _bm25_tf_norm(tf)


def bm25_weight(tf: Column, df: Column) -> Column:
    """One term's BM25 weight, idf * tf part: the only Spark copy of the
    formula. The factors associate as in the DuckDB twin (`_BM25_CTE`)."""
    return bm25_idf(df) * tf * (BM25_K1 + 1.0) / _bm25_tf_norm(tf)


def bm25_scores(spark: SparkSession, sf_dir: str,
                terms: tuple[str, ...] = QUERY_TERMS) -> DataFrame:
    """BM25 score per matching document (docs containing >= 1 term).

    Scale shape — the query-term set is tiny and FIXED, so the whole
    computation needs ZERO shuffles of the corpus: one map-only pass
    computes per-term tf + doc length as array ops (no explode, no
    groupBy(doc_id, term)); one global agg reduces that to the scalar
    stats row (N, avgdl, per-term df); the stats broadcast back and
    scoring is map-side arithmetic. Two corpus scans total, both
    fully parallel, vs. the naive explode plan's two wide shuffles +
    a doc-length join."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")

    def eq(term):  # NB: a 2-arg lambda would become an (elem, idx) lambda
        return lambda t: t == F.lit(term)

    per = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("dl"),
        *[F.size(F.filter(tokens("text"), eq(term))).alias(f"tf_{i}")
          for i, term in enumerate(terms)])
    return bm25_score_from_tf(per, len(terms))


def bm25_score_from_tf(per: DataFrame, n_terms: int) -> DataFrame:
    """BM25 score from a per-doc (doc_id, dl, tf_0..tf_{n-1}) frame:
    one scalar stats agg (N, avgdl, per-term df) broadcast back,
    map-side idf/weight arithmetic, round(.., 6). Shared by the
    raw-token path above and the analyzed path (operators/analyzer.py),
    so a k1/b or idf change can never diverge them."""
    stats = per.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        *[F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
          for i in range(n_terms)])
    parts = []
    for i in range(n_terms):
        tf = F.col(f"tf_{i}").cast("double")
        w = bm25_weight(tf, F.col(f"df_{i}").cast("double"))
        parts.append(F.when(tf > 0, w).otherwise(F.lit(0.0)))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    tfs = [F.col(f"tf_{i}") for i in range(n_terms)]
    hit = (tfs[0] if len(tfs) == 1 else F.greatest(*tfs)) > 0
    return (per.crossJoin(F.broadcast(stats))
               .where(hit)
               .select("doc_id", F.round(total, 6).alias("score")))


@register("bm25_search", oracle=f"""
WITH {_BM25_CTE}
SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT 15
""")
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (bm25_scores(spark, sf_dir)
            .orderBy(F.desc("score"), "doc_id").limit(15))


def _vec_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of every embedding to the query vector (vec_id 0);
    embeddings.vec_id is the documents.doc_id foreign key."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec"))
            .withColumn("nq", D.norm("qvec")))
    return (emb.select(F.col("vec_id").alias("doc_id"),
                       D.vec_double("embedding").alias("vec"))
               .withColumn("nvec", D.norm("vec"))
               .crossJoin(F.broadcast(q))
               .select("doc_id", D.safe_div(D.dot("vec", "qvec"),
                                            F.col("nvec") * F.col("nq"))
                       .alias("vscore")))


_VEC_CTE = f"""
q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
vec AS (SELECT vec_id AS doc_id, {_COS} AS vscore FROM embeddings, q)
"""

# candidate-bounded modality lists (mirrors _candidates() below)
_CAND_CTE = f"""
kcand AS (SELECT doc_id, score FROM bm25
          ORDER BY score DESC, doc_id LIMIT {HYBRID_CANDIDATES}),
vcand AS (SELECT doc_id, vscore FROM vec
          ORDER BY vscore DESC, doc_id LIMIT {HYBRID_CANDIDATES})
"""


def _candidates(df: DataFrame, score_col: str,
                n: int = HYBRID_CANDIDATES) -> DataFrame:
    """Cut a modality's score table to its top-n (TakeOrdered — no
    full sort, k rows per partition merge on the driver-side heap).
    Fusion ranks THIS set, so downstream rank windows are bounded by
    n regardless of corpus size."""
    return df.orderBy(F.desc(score_col), "doc_id").limit(n)


@register("hybrid_weighted", oracle=f"""
WITH {_BM25_CTE},
{_VEC_CTE},
{_CAND_CTE},
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
def hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sum hybrid (Weaviate hybrid alpha=0.5 / Milvus
    WeightedRanker): each modality cut to its top-N candidates, then
    max-normalized and blended. The max over candidates equals the
    global max (the max is always in the top-N), so normalization is
    unchanged; only sub-candidate tails drop out of the fusion —
    corpus-wide fusion was wasted work when only top-15 survive."""
    kw = _candidates(bm25_scores(spark, sf_dir), "score")
    vec = _candidates(_vec_scores(spark, sf_dir), "vscore")
    kmax = kw.agg(F.max("score").alias("km"))
    vmax = vec.agg(F.max("vscore").alias("vm"))
    return (kw.join(vec, "doc_id", "full_outer")
              .crossJoin(F.broadcast(kmax)).crossJoin(F.broadcast(vmax))
              .select("doc_id",
                      F.round(0.5 * F.coalesce(F.col("score") / F.col("km"), F.lit(0.0))
                              + 0.5 * F.coalesce(F.col("vscore") / F.col("vm"), F.lit(0.0)),
                              6).alias("hybrid_score"))
              .orderBy(F.desc("hybrid_score"), "doc_id").limit(15))


@register("phrase_search", oracle="""
SELECT doc_id, lang,
       CAST((length(text) - length(replace(text, 'fast join', '')))
            / length('fast join') AS INT) AS n_hits
FROM documents
WHERE text LIKE '%fast join%'
ORDER BY n_hits DESC, doc_id
LIMIT 25
""")
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase match with hit counts (ES match_phrase / Qdrant
    text match): a substring scan — no index needed for batch; at
    scale the LIKE predicate evaluates inside the scan stage."""
    docs = tables.load(spark, sf_dir, "documents")
    phrase = "fast join"
    n_hits = ((F.length("text")
               - F.length(F.replace(F.col("text"), F.lit(phrase), F.lit(""))))
              / len(phrase)).cast("int")
    return (docs.where(F.col("text").contains(phrase))
                .select("doc_id", "lang", n_hits.alias("n_hits"))
                .orderBy(F.desc("n_hits"), "doc_id")
                .limit(25))


@register("pipeline_clean_search", oracle=f"""
WITH s AS (
  SELECT doc_id, text,
         len({TOK_SQL}) AS n_tokens,
         list_sum(list_transform({TOK_SQL}, t -> length(t))) AS tok_chars,
         len(list_filter({TOK_SQL}, t -> t IN ('the', 'a'))) AS n_stop
  FROM documents),
quality AS (
  SELECT doc_id, text,
         0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1.0 - n_stop / n_tokens)
           + 0.3 * least((tok_chars / n_tokens) / 8.0, 1.0) AS q
  FROM s),
kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(lower(trim(text)))
                              ORDER BY doc_id) AS rn
    FROM quality WHERE q >= 0.65)
  WHERE rn = 1),
qv AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_COS} AS score
FROM embeddings e JOIN kept k ON k.doc_id = e.vec_id, qv
ORDER BY score DESC, vec_id LIMIT 10
""")
def pipeline_clean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM-pipeline composition: quality filter -> exact
    dedup (keep lowest id per normalized-content hash) -> vector
    search over the surviving corpus. One declarative plan: Catalyst
    fuses the quality filter into the documents scan, the dedup is one
    window over the content hash, and the knn stays TakeOrdered."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    n_tok = F.size(toks)
    tok_chars = F.aggregate(F.transform(toks, lambda t: F.length(t)),
                            F.lit(0), lambda a, x: a + x)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    q = (0.4 * F.least(n_tok / 100.0, F.lit(1.0))
         + 0.3 * (1.0 - n_stop / n_tok)
         + 0.3 * F.least((tok_chars / n_tok) / 8.0, F.lit(1.0)))
    w = W.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("doc_id")
    kept = (docs.withColumn("q", q).where(F.col("q") >= 0.65)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("doc_id"))
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = (emb.join(kept, emb.vec_id == kept.doc_id, "left_semi")
                 .select("vec_id", D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    qdf = (emb.where(F.col("vec_id") == 0)
              .select(D.vec_double("embedding").alias("qvec"))
              .withColumn("nq", D.norm("qvec")))
    score = D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))
    return (corpus.crossJoin(F.broadcast(qdf))
            .select("vec_id", score.alias("score"))
            .orderBy(F.desc("score"), "vec_id").limit(10))


def bounded_ranks(cand: DataFrame, score_col: str, id_col: str,
                  rank_col: str) -> DataFrame:
    """(id, rank) for a BOUNDED candidate set, with rank 1 = highest
    score (ties by id asc) — and NO window operator: collect_list the
    <= N candidate structs into one array (a partial-agg'd global agg,
    the intended single reducer over a bounded set), array_sort by
    (-score, id), posexplode back. A `row_number() OVER (ORDER BY
    ...)` would compute the same thing, but Catalyst constant-folds
    any literal partition key away and WindowExec then logs the
    "No Partition Defined ... single partition" warning as if the
    input were corpus-sized; this shape says what it means."""
    arr = cand.agg(F.array_sort(F.collect_list(F.struct(
        (-F.col(score_col)).alias("_ns"),
        F.col(id_col).alias(id_col)))).alias("a"))
    return (arr.select(F.posexplode("a").alias("_pos", "_s"))
               .select(F.col(f"_s.{id_col}").alias(id_col),
                       (F.col("_pos") + 1).cast("int").alias(rank_col)))


@register("hybrid_rrf", oracle=f"""
WITH {_BM25_CTE},
{_VEC_CTE},
{_CAND_CTE},
kr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       FROM kcand),
vr AS (SELECT doc_id, row_number() OVER (ORDER BY vscore DESC, doc_id) AS r
       FROM vcand),
fused AS (
  SELECT coalesce(kr.doc_id, vr.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_K} + kr.r), 0)
               + coalesce(1.0 / ({RRF_K} + vr.r), 0), 9) AS rrf_score
  FROM kr FULL OUTER JOIN vr ON kr.doc_id = vr.doc_id)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 15
""")
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (ES / Weaviate relativeScoreFusion's
    sibling): rank each modality, sum 1/(k+rank).

    Each modality is first cut to HYBRID_CANDIDATES by TakeOrdered —
    RRF only needs ranks of surviving candidates, so ranking runs
    over <= N rows via `bounded_ranks` (no corpus-wide
    single-partition sort, which is what r1 shipped — and no
    WindowExec at all)."""
    kw = _candidates(bm25_scores(spark, sf_dir), "score")
    vec = _candidates(_vec_scores(spark, sf_dir), "vscore")
    kr = bounded_ranks(kw, "score", "doc_id", "kr")
    vr = bounded_ranks(vec, "vscore", "doc_id", "vr")
    return (kr.join(vr, "doc_id", "full_outer")
              .select("doc_id",
                      F.round(F.coalesce(1.0 / (RRF_K + F.col("kr")), F.lit(0.0))
                              + F.coalesce(1.0 / (RRF_K + F.col("vr")), F.lit(0.0)),
                              9).alias("rrf_score"))
              .orderBy(F.desc("rrf_score"), "doc_id").limit(15))


# ----------------------------------------------------------- more-like-this

MLT_SEED_DOC = 42
MLT_NGRAM = 3


@register("more_like_this", oracle=f"""
WITH grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
             range(1, greatest(len({TOK_SQL}) - {MLT_NGRAM - 2}, 1)),
             i -> {TOK_SQL}[i] || ' ' || {TOK_SQL}[i + 1] || ' '
                  || {TOK_SQL}[i + 2])) AS gs
  FROM documents),
seed AS (SELECT gs AS seed_gs FROM grams WHERE doc_id = {MLT_SEED_DOC}),
scored AS (
  SELECT g.doc_id, g.source,
         len(list_filter(g.gs, x -> list_contains(seed_gs, x)))
           AS n_shared,
         len(g.gs) AS n_grams
  FROM grams g, seed
  WHERE g.doc_id <> {MLT_SEED_DOC})
SELECT doc_id, source, CAST(n_shared AS INT) AS n_shared,
       round(CAST(n_shared AS DOUBLE) / greatest(n_grams, 1), 6)
         AS containment
FROM scored
WHERE n_shared > 0
ORDER BY n_shared DESC, doc_id
LIMIT 15
""")
def more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this retrieval (ES `more_like_this`, Weaviate
    nearText-by-object): rank the corpus by distinct word-n-gram
    overlap with a seed document.

    Scale shape: the seed's gram set is ONE broadcast row; per-doc
    overlap is `array_intersect` map-side in the scan stage (no
    explode, no corpus shuffle), and the page cut is TakeOrdered.
    Exactness: gram sets are distinct on both engines, the
    containment ratio is one double division, rounded identically."""
    from ..functions.text import ngram_array
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    grams = docs.select("doc_id", "source",
                        ngram_array("text", MLT_NGRAM).alias("gs"))
    seed = (grams.where(F.col("doc_id") == MLT_SEED_DOC)
                 .select(F.col("gs").alias("seed_gs")))
    n_shared = F.size(F.array_intersect("gs", "seed_gs"))
    return (grams.where(F.col("doc_id") != MLT_SEED_DOC)
                 .crossJoin(F.broadcast(seed))
                 .select("doc_id", "source",
                         n_shared.alias("n_shared"),
                         F.round(n_shared.cast("double")
                                 / F.greatest(F.size("gs"), F.lit(1)), 6)
                          .alias("containment"))
                 .where(F.col("n_shared") > 0)
                 .orderBy(F.desc("n_shared"), "doc_id")
                 .limit(15))


# ------------------------------------------------------------- fuzzy search

FUZZY_TERM = "fast"
FUZZY_MAX_DIST = 2


@register("fuzzy_search", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
m AS (
  SELECT doc_id, term, levenshtein(term, '{FUZZY_TERM}') AS dist
  FROM tok),
hits AS (
  SELECT doc_id,
         count(*) AS n_matched,
         min(dist) AS best_dist,
         round(sum(1.0 / (1 + dist)), 6) AS score
  FROM m WHERE dist <= {FUZZY_MAX_DIST}
  GROUP BY doc_id)
SELECT doc_id, CAST(n_matched AS INT) AS n_matched,
       CAST(best_dist AS INT) AS best_dist, score
FROM hits
ORDER BY score DESC, doc_id
LIMIT 20
""")
def fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy term search (ES `fuzziness`, Qdrant/Milvus text match
    with typo tolerance): score docs by occurrences of terms within
    edit distance <= 2 of the query term, weighted 1/(1+dist).

    Scale shape: the expansion is evaluated per token with a
    codegen'd `levenshtein` against a literal (a real engine first
    expands the term against the distinct-term dictionary — same
    plan, tiny left side); the per-doc rollup is one partial-agg'd
    groupBy on doc_id, and the page cut is TakeOrdered. Exactness:
    integer distances, rational weights rounded identically."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term"))
    m = tok.withColumn(
        "dist", F.levenshtein("term", F.lit(FUZZY_TERM)))
    return (m.where(F.col("dist") <= FUZZY_MAX_DIST)
             .groupBy("doc_id")
             .agg(F.count("*").cast("int").alias("n_matched"),
                  F.min("dist").cast("int").alias("best_dist"),
                  F.round(F.sum(1.0 / (1 + F.col("dist"))), 6)
                   .alias("score"))
             .orderBy(F.desc("score"), "doc_id")
             .limit(20))


# -------------------------------------------------------- significant terms

SIGTERMS_FG_SOURCE = "src0"


@register("significant_terms", oracle=f"""
WITH tok AS (
  SELECT doc_id, source, unnest(list_distinct({TOK_SQL})) AS term
  FROM documents),
totals AS (
  SELECT count(DISTINCT doc_id) AS bg_total,
         count(DISTINCT doc_id) FILTER (source = '{SIGTERMS_FG_SOURCE}')
           AS fg_total
  FROM tok),
per AS (
  SELECT term,
         count(*) AS bg_df,
         count(*) FILTER (source = '{SIGTERMS_FG_SOURCE}') AS fg_df
  FROM tok GROUP BY term),
scored AS (
  SELECT term, fg_df, bg_df,
         round((CAST(fg_df AS DOUBLE) / fg_total)
               / (CAST(bg_df AS DOUBLE) / bg_total), 6) AS lift
  FROM per, totals WHERE fg_df > 0)
SELECT term, CAST(fg_df AS BIGINT) AS fg_df,
       CAST(bg_df AS BIGINT) AS bg_df, lift
FROM scored ORDER BY lift DESC, term LIMIT 10
""")
def significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significant-terms aggregation (ES significant_terms): terms
    over-represented in a foreground subset relative to the whole
    corpus, scored by document-frequency lift.

    Scale shape: ONE token pass computes foreground and background
    document frequencies together (conditional counts over the same
    exploded stream — no second corpus scan, no fg/bg join); the
    scalar totals broadcast via a 1-row crossJoin, and the result cut
    is TakeOrdered. The per-term groupBy is the only shuffle and it
    partial-aggs map-side."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    fg = F.col("source") == SIGTERMS_FG_SOURCE
    tok = docs.select("doc_id", fg.alias("is_fg"),
                      F.explode(F.array_distinct(tokens("text")))
                       .alias("term"))
    # totals over documents WITH at least one token — the oracle counts
    # DISTINCT doc_id from the exploded token stream, which silently
    # drops empty/whitespace-only docs; mirror that here so the lift
    # denominators agree on any corpus, not just token-full ones
    totals = (docs.where(F.size(tokens("text")) > 0).agg(
        F.count("*").alias("bg_total"),
        F.count_if(fg).alias("fg_total")))
    per = (tok.groupBy("term")
              .agg(F.count("*").alias("bg_df"),
                   F.count_if("is_fg").alias("fg_df")))
    return (per.where(F.col("fg_df") > 0)
               .crossJoin(F.broadcast(totals))
               .select("term", "fg_df", "bg_df",
                       F.round((F.col("fg_df").cast("double")
                                / F.col("fg_total"))
                               / (F.col("bg_df").cast("double")
                                  / F.col("bg_total")), 6).alias("lift"))
               .orderBy(F.desc("lift"), "term")
               .limit(10))


# ------------------------------------------------------ phrase with slop

SLOP_T1, SLOP_T2, SLOP = "hash", "table", 3


@register("phrase_slop_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
px AS (SELECT doc_id, unnest(toks) AS term,
              CAST(generate_subscripts(toks, 1) AS INT) AS p
       FROM t),
a AS (SELECT doc_id, p FROM px WHERE term = '{SLOP_T1}'),
b AS (SELECT doc_id, p FROM px WHERE term = '{SLOP_T2}'),
m AS (SELECT a.doc_id AS doc_id, b.p - a.p AS gap
      FROM a JOIN b ON a.doc_id = b.doc_id
      WHERE b.p > a.p AND b.p - a.p <= {SLOP + 1})
SELECT doc_id, count(*) AS n_matches, CAST(min(gap) AS INT) AS min_gap
FROM m GROUP BY doc_id
ORDER BY n_matches DESC, doc_id LIMIT 20
""")
def phrase_slop_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity phrase match (ES match_phrase with `slop`, via the
    `elasticsearch` client the reference installs, /root/reference
    README.md:95): 'hash ... table' with the terms in order and at most
    SLOP intervening tokens. T3b's exact `contains` cannot express
    proximity; this is the positional-postings form.

    Scale shape: the token stream is filtered to the TWO query terms'
    postings BEFORE any join (postings ≪ corpus), then a single
    co-keyed join on doc_id + gap predicate, partial-agg'd rollup.
    Never corpus x corpus, never a window."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    px = (docs.select("doc_id",
                      F.posexplode(tokens("text")).alias("p", "term"))
              .where(F.col("term").isin(SLOP_T1, SLOP_T2)))
    a = px.where(F.col("term") == SLOP_T1).select("doc_id",
                                                  F.col("p").alias("pa"))
    b = px.where(F.col("term") == SLOP_T2).select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    m = (a.join(b, (F.col("doc_id") == F.col("doc_b"))
                & (F.col("pb") > F.col("pa"))
                & (F.col("pb") - F.col("pa") <= SLOP + 1))
          .select("doc_id", (F.col("pb") - F.col("pa")).alias("gap")))
    return (m.groupBy("doc_id")
             .agg(F.count("*").alias("n_matches"),
                  F.min("gap").cast("int").alias("min_gap"))
             .orderBy(F.desc("n_matches"), "doc_id").limit(20))


# -------------------------------------------- composite agg (after_key)

COMPOSITE_AFTER = ("en", "src12")  # after_key from the "previous page"
COMPOSITE_PAGE = 8


@register("composite_agg_page", oracle=f"""
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
HAVING (lang > '{COMPOSITE_AFTER[0]}')
    OR (lang = '{COMPOSITE_AFTER[0]}' AND source > '{COMPOSITE_AFTER[1]}')
ORDER BY lang, source
LIMIT {COMPOSITE_PAGE}
""")
def composite_agg_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES composite aggregation with `after_key` paging: aggregation
    buckets streamed page by page in (lang, source) key order, resuming
    strictly after the previous page's last key — THE way to export a
    high-cardinality aggregation without one giant response.

    Scale shape: one partial-agg'd groupBy; the after-key predicate is
    a lexicographic filter on the (small) bucket set and the page cut
    is TakeOrdered. Bucket cardinality, not corpus size, bounds
    everything after the aggregate."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    after_l, after_s = COMPOSITE_AFTER
    buckets = (docs.groupBy("lang", "source")
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("n_chars").cast("long").alias("total_chars")))
    page = ((F.col("lang") > after_l)
            | ((F.col("lang") == after_l) & (F.col("source") > after_s)))
    return (buckets.where(page)
                   .orderBy("lang", "source").limit(COMPOSITE_PAGE))


# ------------------------------------------------------ terms_set query

TERMS_SET = ("key", "hash", "merge", "vector", "sort")
TERMS_SET_MIN = 3


@register("terms_set_search", oracle=f"""
WITH m AS (
  SELECT doc_id,
         len(list_intersect(list_distinct({TOK_SQL}),
             {list(TERMS_SET)!r})) AS n_matched
  FROM documents)
SELECT doc_id, CAST(n_matched AS INT) AS n_matched
FROM m WHERE n_matched >= {TERMS_SET_MIN}
ORDER BY n_matched DESC, doc_id LIMIT 25
""")
def terms_set_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms_set query (minimum_should_match over a term list):
    docs containing at least TERMS_SET_MIN=3 distinct terms of the
    query set, scored by how many. Pure map-side array math in the
    scan (the query set is a literal array) + TakeOrdered — the
    multi-term OR that a term-at-a-time posting merge would do, done
    document-at-a-time with zero shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    qset = F.array(*[F.lit(t) for t in TERMS_SET])
    n = F.size(F.array_intersect(F.array_distinct(tokens("text")), qset))
    return (docs.select("doc_id", n.cast("int").alias("n_matched"))
                .where(F.col("n_matched") >= TERMS_SET_MIN)
                .orderBy(F.desc("n_matched"), "doc_id").limit(25))


# ----------------------------------------------- function_score (decay)

DECAY_ORIGIN, DECAY_SCALE = 300.0, 100.0


@register("function_score_knn", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], qvec)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                  e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(qvec, qvec))) AS cos_score,
         exp(-((d.n_chars - {DECAY_ORIGIN!r}) * (d.n_chars - {DECAY_ORIGIN!r}))
             / (2.0 * {DECAY_SCALE!r} * {DECAY_SCALE!r})) AS decay
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, q
  WHERE e.vec_id <> 0)
SELECT vec_id, round(cos_score * decay, 6) AS score
FROM s ORDER BY score DESC, vec_id LIMIT 10
""")
def function_score_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score with a gauss decay multiplier: relevance =
    cosine similarity x exp decay on a payload attribute's distance
    from an origin (the recency/size-boost pattern). The decay is
    map-side arithmetic on the joined payload; rounding the FINAL
    score to 6 digits absorbs the 1-ulp libm-vs-JVM exp() spread.

    Scale shape: one co-keyed equi-join (id FK) that AQE can convert
    to broadcast when the payload side is dim-sized, scoring in the
    scan, TakeOrdered cut."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars")
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec"))
            .withColumn("nq", D.norm("qvec")))
    corpus = (emb.where(F.col("vec_id") != 0)
                 .select("vec_id", D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec"))
                 .join(docs, F.col("doc_id") == F.col("vec_id")))
    cos = D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))
    dx = F.col("n_chars") - F.lit(DECAY_ORIGIN)
    decay = F.exp(-(dx * dx) / F.lit(2.0 * DECAY_SCALE * DECAY_SCALE))
    return (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id",
                          F.round(cos * decay, 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id").limit(10))


# ------------------------- composite agg, mixed sources (ES export)

COMPOSITE2_AFTER = ("2024-01-05", "click")  # (day, event_type) after_key
COMPOSITE2_PAGE = 10


@register("composite_mixed_page", oracle=f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS total
FROM events
GROUP BY 1, 2
HAVING (day > '{COMPOSITE2_AFTER[0]}')
    OR (day = '{COMPOSITE2_AFTER[0]}'
        AND event_type > '{COMPOSITE2_AFTER[1]}')
ORDER BY day, event_type
LIMIT {COMPOSITE2_PAGE}
""")
def composite_mixed_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES composite aggregation with MIXED sources — a
    `date_histogram` source beside a `terms` source
    (`sources: [{{date_histogram: day}}, {{terms: event_type}}]`) with
    `after_key` paging: the standard shape for exporting a rollup
    time series without one giant response (each page resumes
    strictly after the previous page's (day, type) key). The
    day key pages as its formatted string — the ES response's own
    bucket-key rendering, and what makes the lexicographic after-key
    comparison identical on both engines.

    Scale shape: identical to composite_agg_page — ONE partial-agg'd
    groupBy (the histogram key collapses into the grouping
    projection), after-key as a lexicographic filter on the bounded
    bucket set, TakeOrdered page; bucket cardinality, not corpus
    size, bounds everything past the aggregate."""
    ev = tables.load_events(spark, sf_dir)
    after_d, after_t = COMPOSITE2_AFTER
    buckets = (ev.groupBy(
                   F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                    .alias("day"), "event_type")
                 .agg(F.count("*").alias("n"),
                      F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                               .cast("double"), 6).alias("total")))
    page = ((F.col("day") > after_d)
            | ((F.col("day") == after_d) & (F.col("event_type") > after_t)))
    return (buckets.where(page)
                   .orderBy("day", "event_type").limit(COMPOSITE2_PAGE))
