"""Elasticsearch query DSL and the search-API surface around it: score
fusion (relative-score, DBSF), rescoring, collapsing, span queries,
match/multi_match variants, query_string, highlighting, suggesters,
sliced scroll, term vectors, query by object id and nested-payload
filters. BM25 and RRF hybrid search live in hybrid.py, analyzed match
in analyzer.py.

Reference parity: ES query DSL types and search APIs (README.md:82
`VECTOR_DB=elastic`), plus the Weaviate/Qdrant fusion, recommend and
payload-filter variants of the same requests.

Scale shape: text queries are map-side array math over each document's
token list in the scan stage (no explode, no postings shuffle), then
one TakeOrdered page; fusion and rescoring cut every modality to its
top HYBRID_CANDIDATES before any rank window or join, so those windows
are bounded at any corpus size; suggesters build the vocabulary with
one explode+groupBy (map-side combined) and prune by first character
before any edit-distance compare. BM25 parts reuse hybrid.py's scoring
helpers and CTE twins, so the oracle stays term-for-term identical to
the Spark expression tree. Each section below states its own shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..constants import BM25_B, BM25_K1
from ..functions.hashing import md5_int32
from ..functions.text import TOK_SQL, tokens
from ..registry import register
from .hybrid import (_BM25_CTE, _CAND_CTE, _VEC_CTE, _candidates,
                     _vec_scores, bm25_idf, bm25_scores, bm25_weight)
from .knn import corpus_with_query, cosine_score, knn


# ======================================================================
# Relative-score fusion, two-phase rescoring, field collapsing, and
# the rare-terms / adjacency-matrix aggregations.
#
# Reference parity: Weaviate hybrid `fusionType: relativeScoreFusion`
# (min-max per-modality normalization — the OTHER fusion next to
# rankedFusion/RRF), Elasticsearch `rescore` (re-rank only the top
# window of a cheap first phase with an expensive second query),
# Elasticsearch `collapse` (one hit per field value + inner-hit count),
# and the ES `rare_terms` / `adjacency_matrix` aggregations. All reuse
# hybrid.py's BM25/vector CTE twins so the oracle stays term-for-term
# identical to the Spark expression tree.
#
# Scale shapes:
# - relative fusion: both modalities cut to HYBRID_CANDIDATES by
#   TakeOrdered first; min/max are 1-row broadcast aggregates of those
#   bounded sets (Weaviate's normalization window IS the retrieved
#   result window, so candidate-set min/max is the semantics, not an
#   approximation).
# - rescore: phase 1 is the zero-shuffle BM25 scan; only the ≤window
#   rows join the vector-score scan (broadcast of the window side), so
#   the expensive scorer touches `window` rows at any corpus size —
#   exactly the cost contract ES rescore exists to provide.
# - collapse: one co-keyed join scores⋈docs on doc_id, one bounded
#   window per collapse-field value (groups ≤ distinct field values).
# - rare_terms / adjacency_matrix: map-side flags + one partial agg;
#   the rare-terms tail is cut by TakeOrdered, never a full sort.
# ======================================================================


RESCORE_WINDOW = 50
RESCORE_QW = 1.0     # query_weight
RESCORE_RW = 2.0     # rescore_query_weight
COLLAPSE_LIMIT = 5
RARE_MAX_DOCS = 2
ADJ_FILTERS = (("merge", "merge"), ("vector", "vector"), ("fast", "fast"))


@register("hybrid_relative_score", oracle=f"""
WITH {_BM25_CTE},
{_VEC_CTE},
{_CAND_CTE},
kx AS (SELECT max(score) AS mx, min(score) AS mn FROM kcand),
vx AS (SELECT max(vscore) AS mx, min(vscore) AS mn FROM vcand),
fused AS (
  SELECT coalesce(kcand.doc_id, vcand.doc_id) AS doc_id,
         round(0.5 * coalesce(
                 CASE WHEN kx.mx = kx.mn THEN 1.0e0
                      ELSE (kcand.score - kx.mn) / (kx.mx - kx.mn) END, 0)
             + 0.5 * coalesce(
                 CASE WHEN vx.mx = vx.mn THEN 1.0e0
                      ELSE (vcand.vscore - vx.mn) / (vx.mx - vx.mn) END, 0),
               6) AS fused_score
  FROM kcand FULL OUTER JOIN vcand ON kcand.doc_id = vcand.doc_id, kx, vx)
SELECT doc_id, fused_score FROM fused
ORDER BY fused_score DESC, doc_id LIMIT 15
""")
def hybrid_relative_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate relativeScoreFusion: min-max normalize each modality
    over its candidate window, then average. Differs from
    hybrid_weighted (max-norm) exactly as Weaviate's two fusionTypes
    differ; a degenerate window (max==min) normalizes to 1."""
    kw = _candidates(bm25_scores(spark, sf_dir), "score")
    vec = _candidates(_vec_scores(spark, sf_dir), "vscore")
    kx = kw.agg(F.max("score").alias("kmx"), F.min("score").alias("kmn"))
    vx = vec.agg(F.max("vscore").alias("vmx"), F.min("vscore").alias("vmn"))

    def norm(s, mx, mn):
        return F.when(F.col(mx) == F.col(mn), F.lit(1.0)) \
                .otherwise((s - F.col(mn)) / (F.col(mx) - F.col(mn)))

    return (kw.join(vec, "doc_id", "full_outer")
              .crossJoin(F.broadcast(kx)).crossJoin(F.broadcast(vx))
              .select("doc_id",
                      F.round(0.5 * F.coalesce(norm(F.col("score"), "kmx", "kmn"), F.lit(0.0))
                              + 0.5 * F.coalesce(norm(F.col("vscore"), "vmx", "vmn"), F.lit(0.0)),
                              6).alias("fused_score"))
              .orderBy(F.desc("fused_score"), "doc_id").limit(15))


@register("rescore_topn", oracle=f"""
WITH {_BM25_CTE},
{_VEC_CTE},
win AS (SELECT doc_id, score FROM bm25
        ORDER BY score DESC, doc_id LIMIT {RESCORE_WINDOW})
SELECT win.doc_id,
       round({RESCORE_QW!r}e0 * win.score
             + {RESCORE_RW!r}e0 * vec.vscore, 6) AS final_score
FROM win JOIN vec USING (doc_id)
ORDER BY final_score DESC, doc_id LIMIT 10
""")
def rescore_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rescore`: cheap BM25 picks a top-`window_size` shortlist,
    the expensive scorer (here: exact cosine) runs on the shortlist
    only, and final = qw·orig + rw·rescore. The window side is
    broadcast into the vector-score scan, so phase 2 costs one corpus
    scan + a 50-row hash probe regardless of corpus size."""
    win = (bm25_scores(spark, sf_dir)
           .orderBy(F.desc("score"), "doc_id").limit(RESCORE_WINDOW))
    vec = _vec_scores(spark, sf_dir)
    return (vec.join(F.broadcast(win), "doc_id")
               .select("doc_id",
                       F.round(F.lit(RESCORE_QW) * F.col("score")
                               + F.lit(RESCORE_RW) * F.col("vscore"),
                               6).alias("final_score"))
               .orderBy(F.desc("final_score"), "doc_id").limit(10))


@register("collapse_search", oracle=f"""
WITH {_BM25_CTE},
j AS (SELECT d.lang, b.doc_id, b.score
      FROM bm25 b JOIN documents d USING (doc_id)),
r AS (SELECT lang, doc_id, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM j)
SELECT lang, doc_id, score, CAST(n AS BIGINT) AS n_collapsed
FROM r WHERE rn = 1
ORDER BY score DESC, lang LIMIT {COLLAPSE_LIMIT}
""")
def collapse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing: the best BM25 hit per `lang` value plus
    the number of hits it collapsed away. One co-keyed doc_id join,
    one window bounded by matching docs per field value."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    j = (bm25_scores(spark, sf_dir)
         .join(docs.select("doc_id", "lang"), "doc_id"))
    w = W.partitionBy("lang")
    return (j.withColumn("rn", F.row_number().over(
                w.orderBy(F.desc("score"), "doc_id")))
             .withColumn("n_collapsed", F.count("*").over(w).cast("long"))
             .where(F.col("rn") == 1)
             .select("lang", "doc_id", "score", "n_collapsed")
             .orderBy(F.desc("score"), "lang").limit(COLLAPSE_LIMIT))


@register("rare_terms", oracle=f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len({TOK_SQL}) - 1, 1)),
             i -> {TOK_SQL}[i] || ' ' || {TOK_SQL}[i + 1] || ' '
                  || {TOK_SQL}[i + 2]))) AS term
  FROM documents),
cnt AS (SELECT term, count(*) AS doc_count FROM g GROUP BY 1)
SELECT term, CAST(doc_count AS BIGINT) AS doc_count
FROM cnt
WHERE doc_count <= {RARE_MAX_DOCS}
ORDER BY doc_count, term LIMIT 40
""")
def rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rare_terms` aggregation over a shingle field: the
    long-tail word trigrams appearing in at most `max_doc_count`
    documents — the opposite cut of `terms` (single words carry no
    rare tail in a bounded vocabulary; shingles do, which is why ES
    users point rare_terms at shingle/keyword fields). Per-doc gram
    sets are distinct map-side (no corpus-wide distinct shuffle —
    ngram_array de-dups within the row before the explode), then one
    partial-agg'd count; the tail is cut by TakeOrdered (doc_count
    asc, term), never a full sort."""
    from ..functions.text import ngram_array
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    g = docs.select("doc_id",
                    F.explode(ngram_array("text", 3)).alias("term"))
    return (g.groupBy("term")
             .agg(F.count("*").cast("long").alias("doc_count"))
             .where(F.col("doc_count") <= RARE_MAX_DOCS)
             .orderBy("doc_count", "term").limit(40))


def _adj_pairs():
    """The single source of the bucket enumeration — the oracle SQL,
    the Spark aggregates, and the stack() unpivot all consume this, so
    the three cannot drift: [(bucket_name, filter_keys_tuple)]."""
    keys = [k for k, _ in ADJ_FILTERS]
    singles = [(k, (k,)) for k in keys]
    pairs = [(f"{a}&{b}", (a, b))
             for i, a in enumerate(keys) for b in keys[i + 1:]]
    return singles + pairs


def _adj_col(ks) -> str:
    return "c_" + "_".join(ks)


@register("adjacency_matrix", oracle=f"""
WITH flags AS (
  SELECT {', '.join(f"CASE WHEN list_contains({TOK_SQL}, '{t}') THEN 1 ELSE 0 END AS f_{k}"
                    for k, t in ADJ_FILTERS)}
  FROM documents),
c AS (SELECT {', '.join(f"CAST(sum({' * '.join('f_' + k for k in ks)}) AS BIGINT) AS {_adj_col(ks)}" for _, ks in _adj_pairs())}
      FROM flags)
{' UNION ALL '.join(f"SELECT '{name}' AS bucket, {_adj_col(ks)} AS doc_count FROM c"
                    for name, ks in _adj_pairs())}
ORDER BY bucket
""")
def adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `adjacency_matrix` aggregation: named term filters and the
    document counts of each filter and each pairwise intersection.
    Pure map-side flag columns + ONE partial aggregate; the 6-row
    unpivot happens on the aggregate, so nothing about the shape
    depends on corpus size."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    flags = docs.select(*[
        F.when(F.array_contains(toks, t), 1).otherwise(0).alias(f"f_{k}")
        for k, t in ADJ_FILTERS])
    from functools import reduce
    from operator import mul
    aggs = [F.sum(reduce(mul, [F.col(f"f_{k}") for k in ks])).cast("long")
            .alias(_adj_col(ks)) for _, ks in _adj_pairs()]
    c = flags.agg(*aggs)
    stack = ", ".join(f"'{name}', {_adj_col(ks)}"
                      for name, ks in _adj_pairs())
    return (c.selectExpr(
                f"stack({len(_adj_pairs())}, {stack}) AS (bucket, doc_count)")
             .orderBy("bucket"))


# ------------------------------------------------ span / pattern queries

SPAN_FIRST_TERM = "vector"
SPAN_FIRST_END = 10
WILDCARD = "fa%t"         # LIKE pattern: identical semantics both engines


@register("span_first_search", oracle=f"""
SELECT doc_id, CAST(list_position({TOK_SQL}, '{SPAN_FIRST_TERM}') AS BIGINT) AS pos
FROM documents
WHERE list_position({TOK_SQL}, '{SPAN_FIRST_TERM}') BETWEEN 1 AND {SPAN_FIRST_END}
ORDER BY pos, doc_id LIMIT 20
""")
def span_first_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_first`: the term must occur within the first `end`
    token positions. array_position is map-side in the scan; the page
    is TakeOrdered — the whole query is one scan, zero shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    pos = F.array_position(tokens("text"), SPAN_FIRST_TERM)
    return (docs.select("doc_id", pos.alias("pos"))
                .where((F.col("pos") >= 1) & (F.col("pos") <= SPAN_FIRST_END))
                .orderBy("pos", "doc_id").limit(20))


@register("wildcard_search", oracle=f"""
SELECT doc_id,
       CAST(len(list_filter({TOK_SQL}, t -> t LIKE '{WILDCARD}')) AS BIGINT)
         AS n_wild
FROM documents
WHERE len(list_filter({TOK_SQL}, t -> t LIKE '{WILDCARD}')) > 0
ORDER BY n_wild DESC, doc_id LIMIT 20
""")
def wildcard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `wildcard` query: per-token LIKE pattern match, ranked by
    match count. LIKE semantics (%/_) are identical in Spark and
    DuckDB, so the pattern needs no dialect translation (unlike
    regexp, where Java vs RE2 dialects diverge — the reason this
    operator pins LIKE as the portable contract). Map-side array
    filter in the scan + TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    n = F.size(F.filter(tokens("text"), lambda t: t.like(WILDCARD)))
    return (docs.select("doc_id", n.cast("long").alias("n_wild"))
                .where(F.col("n_wild") > 0)
                .orderBy(F.desc("n_wild"), "doc_id").limit(20))


# --------------------------------------------------- scoring explanation


@register("score_explain", oracle=f"""
WITH {_BM25_CTE},
top1 AS (SELECT doc_id FROM bm25 ORDER BY score DESC, doc_id LIMIT 1),
qterms(term) AS (VALUES {', '.join(f"('{t}')" for t in ('merge', 'vector', 'fast'))}),
base AS (SELECT top1.doc_id, qterms.term, stats.n, stats.avgdl
         FROM top1, qterms, stats),
x AS (
  SELECT base.doc_id, base.term,
         coalesce(tf.tf, 0) AS tf, df.df, dl.dl, base.n, base.avgdl
  FROM base
  LEFT JOIN tf ON tf.doc_id = base.doc_id AND tf.term = base.term
  JOIN df ON df.term = base.term
  JOIN dl ON dl.doc_id = base.doc_id)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(ln(1 + (n - df + 0.5) / (df + 0.5)), 6) AS idf,
       round(CASE WHEN tf = 0 THEN 0.0e0
                  ELSE ln(1 + (n - df + 0.5) / (df + 0.5))
                       * tf * ({BM25_K1} + 1.0)
                       / (tf + {BM25_K1} * (1.0 - {BM25_B}
                                            + {BM25_B} * dl / avgdl)) END,
             6) AS contribution
FROM x ORDER BY term
""")
def score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `explain=true`: the per-term BM25 breakdown (tf, df, idf,
    contribution) for the top-ranked hit. The top-1 row broadcasts
    back into the per-doc stats scan; the 3-row unpivot happens on
    the single joined row, so explain costs one extra bounded join
    over the ordinary search."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")

    def eq(term):
        return lambda t: t == F.lit(term)

    terms = ('merge', 'vector', 'fast')
    per = docs.select(
        "doc_id", F.size(tokens("text")).alias("dl"),
        *[F.size(F.filter(tokens("text"), eq(t))).alias(f"tf_{i}")
          for i, t in enumerate(terms)])
    stats = per.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        *[F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
          for i in range(len(terms))])
    top1 = (bm25_scores(spark, sf_dir)
            .orderBy(F.desc("score"), "doc_id").limit(1).select("doc_id"))
    row = (per.join(F.broadcast(top1), "doc_id")
              .crossJoin(F.broadcast(stats)))
    # one explode of a per-term struct array — NOT a 3-way union,
    # which would re-execute the corpus scans behind `row` once per
    # branch (64x-measured: 17.8 s as a union, ~6 s as one pass)
    structs = []
    for i, t in enumerate(terms):
        tf = F.col(f"tf_{i}").cast("double")
        dfc = F.col(f"df_{i}").cast("double")
        idf = bm25_idf(dfc)
        contrib = F.when(tf > 0, bm25_weight(tf, dfc)).otherwise(F.lit(0.0))
        structs.append(F.struct(
            F.lit(t).alias("term"),
            F.col(f"tf_{i}").cast("long").alias("tf"),
            F.col(f"df_{i}").cast("long").alias("df"),
            F.round(idf, 6).alias("idf"),
            F.round(contrib, 6).alias("contribution")))
    return (row.select("doc_id", F.explode(F.array(*structs)).alias("e"))
               .select("doc_id", "e.term", "e.tf", "e.df", "e.idf",
                       "e.contribution")
               .orderBy("term"))


# ------------------------------------------------------- Weaviate autocut

AUTOCUT_N = 20
AUTOCUT_FACTOR = 2.0


@register("autocut_search", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, {{cos}} AS score FROM embeddings, q
      WHERE vec_id <> 0
      ORDER BY score DESC, vec_id LIMIT {AUTOCUT_N}),
r AS (SELECT vec_id, score,
             row_number() OVER (ORDER BY score DESC, vec_id) AS rank,
             score - lead(score) OVER (ORDER BY score DESC, vec_id) AS gap
      FROM s),
thr AS (SELECT CASE WHEN count(*) >= 2
                    THEN {AUTOCUT_FACTOR!r}e0 * (max(score) - min(score))
                         / (count(*) - 1) END AS t,
               count(*) AS m FROM s),
cut AS (SELECT coalesce(min(rank) FILTER (rank < thr.m AND gap > thr.t),
                        max(thr.m)) AS c
        FROM r, thr)
SELECT vec_id, score, CAST(rank AS INT) AS rank
FROM r, cut WHERE rank <= cut.c
ORDER BY rank
""".replace("{cos}",
            "list_dot_product(embedding::DOUBLE[], qvec)"
            "/(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
            "*sqrt(list_dot_product(qvec, qvec)))"))
def autocut_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate `autocut`: retrieve top-N, then cut the list at the
    first score gap larger than FACTOR× the average step over the
    window — returning only the first 'natural' result group. The
    whole decision runs on the bounded top-N array (one TakeOrdered +
    array math on a single collected row — no window operator, same
    shape as hybrid.bounded_ranks), so autocut adds zero corpus-scale
    work over the plain knn."""
    corpus, q = corpus_with_query(spark, sf_dir)
    top = (corpus.where(F.col("vec_id") != 0)   # exclude-self, as served
           .crossJoin(F.broadcast(q))
           .select("vec_id", cosine_score().alias("score"))
           .orderBy(F.desc("score"), "vec_id").limit(AUTOCUT_N))
    return autocut_cut(top)


def autocut_cut(top: DataFrame) -> DataFrame:
    """The autocut decision over any bounded (vec_id, score) result
    window — split out so the short-window degenerate paths (< 2
    rows, fewer rows than AUTOCUT_N) are directly testable
    (tests/test_edge_cases.py)."""
    arr = top.agg(F.array_sort(F.collect_list(F.struct(
        (-F.col("score")).alias("ns"), F.col("vec_id").alias("vec_id"))))
        .alias("a"))
    scores = F.transform(F.col("a"), lambda x: -x.getField("ns"))
    # short-window safety (ANSI mode): m = actual rows retrieved; all
    # lookups via try_element_at so a corpus smaller than the window
    # degrades to "keep everything" instead of INVALID_ARRAY_INDEX
    m = F.least(F.lit(AUTOCUT_N), F.size(F.col("a")))
    thr = F.when(m >= 2,
                 F.lit(AUTOCUT_FACTOR)
                 * (F.try_element_at(scores, F.lit(1))
                    - F.try_element_at(scores, m))
                 / (m - F.lit(1)))
    gaps = F.zip_with(F.slice(scores, 1, AUTOCUT_N - 1),
                      F.slice(scores, 2, AUTOCUT_N - 1),
                      lambda a, b: a - b)
    cut = F.aggregate(
        F.sequence(F.lit(1), F.lit(AUTOCUT_N - 1)),
        F.lit(AUTOCUT_N),
        lambda acc, i: F.least(
            acc, F.when(F.try_element_at(gaps, i) > thr, i)
                  .otherwise(F.lit(AUTOCUT_N))))
    return (arr.select(F.posexplode(F.slice(F.col("a"), 1, F.least(cut, m)))
                        .alias("_pos", "_s"))
               .select(F.col("_s.vec_id").alias("vec_id"),
                       (-F.col("_s.ns")).alias("score"),
                       (F.col("_pos") + 1).cast("int").alias("rank")))


# ------------------------------------------- boosting / dis_max queries

NEG_TERM = "slow"
NEG_BOOST = 0.3
DISMAX_TIE = 0.3


@register("boosting_search", oracle=f"""
WITH {_BM25_CTE},
neg AS (SELECT doc_id,
               CASE WHEN list_contains({TOK_SQL}, '{NEG_TERM}')
                    THEN 1 ELSE 0 END AS is_neg
        FROM documents)
SELECT b.doc_id,
       round(b.score * CASE WHEN neg.is_neg = 1
                            THEN {NEG_BOOST!r}e0 ELSE 1.0e0 END, 6)
         AS boosted_score,
       CAST(neg.is_neg AS INT) AS demoted
FROM bm25 b JOIN neg USING (doc_id)
ORDER BY boosted_score DESC, doc_id LIMIT 15
""")
def boosting_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `boosting` query: positive matches keep their relevance,
    documents also matching the negative clause are DEMOTED by
    `negative_boost` (not excluded — the distinction from must_not).
    The negative flag is a map-side array test in the same scan
    family as the BM25 pass; one co-keyed join, TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    neg = docs.select(
        "doc_id",
        F.when(F.array_contains(tokens("text"), NEG_TERM), 1).otherwise(0)
         .alias("is_neg"))
    return (bm25_scores(spark, sf_dir).join(neg, "doc_id")
            .select("doc_id",
                    F.round(F.col("score")
                            * F.when(F.col("is_neg") == 1, F.lit(NEG_BOOST))
                               .otherwise(F.lit(1.0)), 6)
                     .alias("boosted_score"),
                    F.col("is_neg").cast("int").alias("demoted"))
            .orderBy(F.desc("boosted_score"), "doc_id").limit(15))


@register("dis_max_search", oracle=f"""
WITH {_BM25_CTE},
{_VEC_CTE},
{_CAND_CTE},
j AS (
  SELECT coalesce(kcand.doc_id, vcand.doc_id) AS doc_id,
         coalesce(kcand.score, 0) AS s1,
         coalesce(vcand.vscore, 0) AS s2
  FROM kcand FULL OUTER JOIN vcand ON kcand.doc_id = vcand.doc_id)
SELECT doc_id,
       round(greatest(s1, s2)
             + {DISMAX_TIE!r}e0 * least(s1, s2), 6) AS dismax_score
FROM j ORDER BY dismax_score DESC, doc_id LIMIT 15
""")
def dis_max_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `dis_max`: the best per-clause score wins, other matching
    clauses contribute tie_breaker × their score — the
    max-of-modalities alternative to additive fusion. Same bounded
    full-outer candidate join as the fusion family; pure column math
    above it."""
    kw = _candidates(bm25_scores(spark, sf_dir), "score")
    vec = _candidates(_vec_scores(spark, sf_dir), "vscore")
    j = (kw.join(vec, "doc_id", "full_outer")
           .select("doc_id",
                   F.coalesce(F.col("score"), F.lit(0.0)).alias("s1"),
                   F.coalesce(F.col("vscore"), F.lit(0.0)).alias("s2")))
    return (j.select("doc_id",
                     F.round(F.greatest("s1", "s2")
                             + F.lit(DISMAX_TIE) * F.least("s1", "s2"), 6)
                      .alias("dismax_score"))
             .orderBy(F.desc("dismax_score"), "doc_id").limit(15))


# ------------------------------------ pinned / lookup / score modifiers

PINNED_IDS = (7, 42)
LOOKUP_DOC = 42
RANDOM_SEED = 1234
FVF_DIV = 100.0
UNLIKE_DOC = 7
UNLIKE_W = 2


@register("pinned_search", oracle=f"""
WITH {_BM25_CTE},
organic AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id)
           + {len(PINNED_IDS)} AS rank
  FROM (SELECT doc_id, score FROM bm25
        WHERE doc_id NOT IN {PINNED_IDS!r}
        ORDER BY score DESC, doc_id LIMIT 13)),
pinned AS (
  SELECT d.doc_id, coalesce(b.score, 0.0e0) AS score,
         CASE {" ".join(f"WHEN d.doc_id = {p} THEN {i + 1}"
                        for i, p in enumerate(PINNED_IDS))} END AS rank
  FROM documents d LEFT JOIN bm25 b USING (doc_id)
  WHERE d.doc_id IN {PINNED_IDS!r})
SELECT doc_id, score, CAST(rank AS INT) AS rank FROM pinned
UNION ALL
SELECT doc_id, score, CAST(rank AS INT) AS rank FROM organic
ORDER BY rank
""")
def pinned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `pinned` query: curated ids occupy the top ranks in their
    given order (scored or not), organic relevance fills the rest,
    pinned ids excluded from the organic stream. Pinned side is an
    O(|pins|) lookup; organic is the usual bounded TakeOrdered +
    window-free ranks."""
    from .hybrid import bounded_ranks
    bm25 = bm25_scores(spark, sf_dir)
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    rank_expr = F.when(F.col("doc_id") == PINNED_IDS[0], 1)
    for i, p in enumerate(PINNED_IDS[1:], start=2):
        rank_expr = rank_expr.when(F.col("doc_id") == p, i)
    pinned = (docs.where(F.col("doc_id").isin(*PINNED_IDS))
                  .join(bm25, "doc_id", "left")
                  .select("doc_id",
                          F.coalesce("score", F.lit(0.0)).alias("score"),
                          rank_expr.cast("int").alias("rank")))
    # materialize the ≤13-row organic cut once: its two consumers
    # (rank assignment + score join-back) would otherwise each
    # re-execute the BM25 corpus pass behind it (64x-measured:
    # 17.3 s -> one pass per side)
    organic_cut = (bm25.where(~F.col("doc_id").isin(*PINNED_IDS))
                       .orderBy(F.desc("score"), "doc_id").limit(13)
                       .localCheckpoint())
    ranks = bounded_ranks(organic_cut, "score", "doc_id", "rank")
    organic = (organic_cut.join(ranks, "doc_id")
               .select("doc_id", "score",
                       (F.col("rank") + len(PINNED_IDS)).cast("int")
                        .alias("rank")))
    return pinned.unionByName(organic).orderBy("rank")


@register("terms_lookup_filter", oracle=f"""
WITH lookup AS (
  SELECT list_distinct({TOK_SQL}) AS lt FROM documents
  WHERE doc_id = {LOOKUP_DOC})
SELECT d.doc_id,
       CAST(len(list_filter(list_distinct({TOK_SQL}),
                            x -> list_contains(lookup.lt, x))) AS INT)
         AS n_matched
FROM documents d, lookup
WHERE d.doc_id <> {LOOKUP_DOC}
  AND len(list_filter(list_distinct({TOK_SQL}),
                      x -> list_contains(lookup.lt, x))) > 0
ORDER BY d.doc_id LIMIT 25
""")
def terms_lookup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `terms` lookup: the filter's term set is FETCHED from a
    stored document rather than inlined in the request. The lookup
    doc's distinct tokens are one broadcast row; the membership test
    is a map-side array intersect in the scan — filter semantics
    (with a matched-count payload), not MLT's ranking."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    lookup = (docs.where(F.col("doc_id") == LOOKUP_DOC)
                  .select(F.array_distinct(tokens("text")).alias("lt")))
    n = F.size(F.array_intersect(F.array_distinct(tokens("text")),
                                 F.col("lt")))
    return (docs.where(F.col("doc_id") != LOOKUP_DOC)
                .crossJoin(F.broadcast(lookup))
                .select("doc_id", n.cast("int").alias("n_matched"))
                .where(F.col("n_matched") > 0)
                .orderBy("doc_id").limit(25))


@register("field_value_factor_search", oracle=f"""
WITH {_BM25_CTE}
SELECT b.doc_id,
       round(b.score * ln(1.0e0 + d.n_chars / {FVF_DIV!r}e0), 6)
         AS fvf_score
FROM bm25 b JOIN documents d USING (doc_id)
ORDER BY fvf_score DESC, b.doc_id LIMIT 15
""")
def field_value_factor_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score `field_value_factor` (log1p modifier):
    relevance scaled by a stored numeric field. One co-keyed payload
    join above the zero-shuffle BM25 pass; round-6 absorbs the libm
    ulp spread exactly as T17's decay boost does."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return (bm25_scores(spark, sf_dir)
            .join(docs.select("doc_id", "n_chars"), "doc_id")
            .select("doc_id",
                    F.round(F.col("score")
                            * F.log(1.0 + F.col("n_chars") / F.lit(FVF_DIV)),
                            6).alias("fvf_score"))
            .orderBy(F.desc("fvf_score"), "doc_id").limit(15))


@register("random_score_search", oracle=f"""
SELECT doc_id,
       round(('0x' || substr(md5('{RANDOM_SEED}:' || doc_id), 1, 15))::BIGINT
             / {float(1 << 60)!r}, 6) AS rscore
FROM documents
WHERE list_contains({TOK_SQL}, 'fast')
ORDER BY rscore DESC, doc_id LIMIT 10
""")
def random_score_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score `random_score` with a seed: reproducible
    pseudo-random ranking of the filtered set — the seeded hash IS
    the contract (same seed, same order, any node count), which is
    exactly the repo's deterministic md5 coin."""
    from ..functions.hashing import md5_int60
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    rscore = F.round(
        md5_int60(F.concat(F.lit(f"{RANDOM_SEED}:"),
                           F.col("doc_id").cast("string")))
        / F.lit(float(1 << 60)), 6)
    return (docs.where(F.array_contains(tokens("text"), "fast"))
                .select("doc_id", rscore.alias("rscore"))
                .orderBy(F.desc("rscore"), "doc_id").limit(10))


@register("mlt_unlike", oracle=f"""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len({TOK_SQL}) - 1, 1)),
             i -> {TOK_SQL}[i] || ' ' || {TOK_SQL}[i + 1] || ' '
                  || {TOK_SQL}[i + 2])) AS gs
  FROM documents),
seed AS (SELECT gs AS sg FROM grams WHERE doc_id = {LOOKUP_DOC}),
neg AS (SELECT gs AS ng FROM grams WHERE doc_id = {UNLIKE_DOC}),
scored AS (
  SELECT g.doc_id,
         len(list_filter(g.gs, x -> list_contains(sg, x))) AS n_pos,
         len(list_filter(g.gs, x -> list_contains(ng, x))) AS n_neg
  FROM grams g, seed, neg
  WHERE g.doc_id NOT IN ({LOOKUP_DOC}, {UNLIKE_DOC}))
SELECT doc_id, CAST(n_pos AS INT) AS n_pos, CAST(n_neg AS INT) AS n_neg,
       CAST(n_pos - {UNLIKE_W} * n_neg AS INT) AS mlt_score
FROM scored
WHERE n_pos - {UNLIKE_W} * n_neg > 0
ORDER BY mlt_score DESC, doc_id LIMIT 15
""")
def mlt_unlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this with `unlike`: gram overlap with the liked
    document minus a weighted penalty for overlap with the disliked
    one.

    Scale shape (64x-probed): BOTH example gram sets ride in ONE
    combined broadcast row (seed×neg is 1×1) so the corpus passes
    through a SINGLE BroadcastNestedLoopJoin — a chain of two 1-row
    crossJoins measured 2.3x slower at 64x (each extra BNLJ re-copies
    the per-doc gram array through another non-codegen join boundary).
    The intersects materialize once in a select BEFORE the score
    filter, so the filter never re-evaluates them."""
    from ..functions.text import ngram_array
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    grams = docs.select("doc_id", ngram_array("text", 3).alias("gs"))
    seed = (grams.where(F.col("doc_id") == LOOKUP_DOC)
                 .select(F.col("gs").alias("sg")))
    neg = (grams.where(F.col("doc_id") == UNLIKE_DOC)
                .select(F.col("gs").alias("ng")))
    ctx = seed.crossJoin(neg)          # one combined 1-row example frame
    scored = (grams.where(~F.col("doc_id").isin(LOOKUP_DOC, UNLIKE_DOC))
              .crossJoin(F.broadcast(ctx))
              .select("doc_id",
                      F.size(F.array_intersect("gs", "sg")).cast("int")
                       .alias("n_pos"),
                      F.size(F.array_intersect("gs", "ng")).cast("int")
                       .alias("n_neg")))
    return (scored.select("doc_id", "n_pos", "n_neg",
                          (F.col("n_pos") - UNLIKE_W * F.col("n_neg"))
                           .cast("int").alias("mlt_score"))
                  .where(F.col("mlt_score") > 0)
                  .orderBy(F.desc("mlt_score"), "doc_id").limit(15))


# ======================================================================
# Distribution-based score fusion, collapse with inner hits, and
# `span_not`.
#
# Reference parity: Qdrant hybrid `fusion: dbsf` (distribution-based
# score fusion — the OTHER fusion next to RRF, normalizing each
# modality by mean ± 3σ over the candidate window), Elasticsearch
# `collapse.inner_hits` (the collapsed group's top-N flattened back
# into the response), and Elasticsearch `span_not` (matches of one
# term except where a second term appears within a window).
#
# Scale shapes:
# - dbsf: both modalities cut to HYBRID_CANDIDATES by TakeOrdered
#   first; mean/σ are 1-row broadcast aggregates of those bounded sets
#   (the normalization window IS the retrieved candidate window, same
#   as relativeScoreFusion). Power sums accumulate as exact DECIMAL so
#   σ is merge-order-free and the hash oracle holds.
# - collapse_inner_hits: one co-keyed doc_id join, one window per
#   collapse-field value with WindowGroupLimit pruning rank ≤ N
#   map-side; group count bounds everything downstream.
# - span_not: per-doc position lists built map-side (index-aware
#   transform); the include × exclude gap product is per-document over
#   two term-position lists — tiny, never a corpus join. Zero corpus
#   shuffle.
# ======================================================================


# ------------------------------------------------------------- hybrid_dbsf

_DBSF_SIGMAS = 3.0


def _dbsf_norm_sql(cand: str, col: str) -> str:
    """Mean ± 3σ stats of one candidate set as exact-DECIMAL power
    sums (σ_pop in closed form — the extended_stats pattern, so both
    engines derive identical doubles regardless of merge order)."""
    return f"""
  SELECT count(*) AS n,
         CAST(sum(CAST(round({col}, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(round({col}, 6) * round({col}, 6)
                       AS DECIMAL(28,12))) AS DOUBLE) AS s2
  FROM {cand}"""


@register("hybrid_dbsf", oracle=f"""
WITH {_BM25_CTE},
{_VEC_CTE},
{_CAND_CTE},
kx AS ({_dbsf_norm_sql('kcand', 'score')}),
vx AS ({_dbsf_norm_sql('vcand', 'vscore')}),
fused AS (
  SELECT coalesce(kcand.doc_id, vcand.doc_id) AS doc_id,
         round(0.5 * coalesce(least(greatest(
                 CASE WHEN round(kcand.score, 6) IS NULL THEN NULL
                      WHEN sqrt(greatest(kx.s2/kx.n - (kx.s1/kx.n)*(kx.s1/kx.n), 0)) = 0
                      THEN 1.0e0
                      ELSE (round(kcand.score, 6)
                            - (kx.s1/kx.n - {_DBSF_SIGMAS!r}
                               * sqrt(greatest(kx.s2/kx.n - (kx.s1/kx.n)*(kx.s1/kx.n), 0))))
                           / (2 * {_DBSF_SIGMAS!r}
                              * sqrt(greatest(kx.s2/kx.n - (kx.s1/kx.n)*(kx.s1/kx.n), 0)))
                 END, 0.0e0), 1.0e0), 0)
             + 0.5 * coalesce(least(greatest(
                 CASE WHEN round(vcand.vscore, 6) IS NULL THEN NULL
                      WHEN sqrt(greatest(vx.s2/vx.n - (vx.s1/vx.n)*(vx.s1/vx.n), 0)) = 0
                      THEN 1.0e0
                      ELSE (round(vcand.vscore, 6)
                            - (vx.s1/vx.n - {_DBSF_SIGMAS!r}
                               * sqrt(greatest(vx.s2/vx.n - (vx.s1/vx.n)*(vx.s1/vx.n), 0))))
                           / (2 * {_DBSF_SIGMAS!r}
                              * sqrt(greatest(vx.s2/vx.n - (vx.s1/vx.n)*(vx.s1/vx.n), 0)))
                 END, 0.0e0), 1.0e0), 0),
               6) AS fused_score
  FROM kcand FULL OUTER JOIN vcand ON kcand.doc_id = vcand.doc_id, kx, vx)
SELECT doc_id, fused_score FROM fused
ORDER BY fused_score DESC, doc_id LIMIT 15
""")
def hybrid_dbsf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant distribution-based score fusion (`fusion: dbsf`): each
    modality's candidate scores normalize by (s - (μ-3σ)) / 6σ,
    clamped to [0,1], then average — the outlier-robust alternative
    to min-max relativeScoreFusion. μ/σ_pop derive from exact-DECIMAL
    power sums of the round-6 candidate scores (one 1-row broadcast
    aggregate per modality); a degenerate window (σ = 0) normalizes
    to 1 like relative fusion's max==min case."""
    # each candidate frame feeds TWO consumers (its stats agg and the
    # fusion join) — without the lazy checkpoint the broadcast subtree
    # re-runs the whole BM25/cosine corpus pass per consumer (the
    # suggest_phrase recompute class; ≤HYBRID_CANDIDATES rows cached)
    kw = (_candidates(bm25_scores(spark, sf_dir), "score")
          .localCheckpoint(eager=False))
    vec = (_candidates(_vec_scores(spark, sf_dir), "vscore")
           .localCheckpoint(eager=False))

    def stats(df, col, p):
        r6 = F.round(F.col(col), 6)
        return df.agg(
            F.count("*").alias(f"{p}n"),
            F.sum(r6.cast("decimal(18,6)")).cast("double").alias(f"{p}s1"),
            F.sum((r6 * r6).cast("decimal(28,12)")).cast("double")
             .alias(f"{p}s2"))

    kx, vx = stats(kw, "score", "k"), stats(vec, "vscore", "v")

    def norm(s, p):
        mu = F.col(f"{p}s1") / F.col(f"{p}n")
        sig = F.sqrt(F.greatest(
            F.col(f"{p}s2") / F.col(f"{p}n") - mu * mu, F.lit(0.0)))
        # a doc ABSENT from this modality (NULL score) must stay
        # NULL through the sigma=0 branch too, so the outer coalesce
        # gives it 0 — not a free 1.0
        raw = F.when(s.isNull(), F.lit(None).cast("double")) \
               .when(sig == 0, F.lit(1.0)).otherwise(
            (F.round(s, 6) - (mu - _DBSF_SIGMAS * sig))
            / (2 * _DBSF_SIGMAS * sig))
        return F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))

    return (kw.join(vec, "doc_id", "full_outer")
              .crossJoin(F.broadcast(kx)).crossJoin(F.broadcast(vx))
              .select("doc_id",
                      F.round(
                          0.5 * F.coalesce(norm(F.col("score"), "k"),
                                           F.lit(0.0))
                          + 0.5 * F.coalesce(norm(F.col("vscore"), "v"),
                                             F.lit(0.0)),
                          6).alias("fused_score"))
              .orderBy(F.desc("fused_score"), "doc_id").limit(15))


# ------------------------------------------------------ collapse inner_hits

INNER_HITS = 3
INNER_GROUPS = 4


@register("collapse_inner_hits", oracle=f"""
WITH {_BM25_CTE},
j AS (SELECT d.lang, b.doc_id, b.score
      FROM bm25 b JOIN documents d USING (doc_id)),
r AS (SELECT lang, doc_id, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id) AS hit_rank,
             max(score) OVER (PARTITION BY lang) AS group_best
      FROM j),
g AS (SELECT DISTINCT lang, group_best FROM r
      ORDER BY group_best DESC, lang LIMIT {INNER_GROUPS})
SELECT r.lang, CAST(r.hit_rank AS INT) AS hit_rank, r.doc_id, r.score
FROM r JOIN g USING (lang)
WHERE r.hit_rank <= {INNER_HITS}
ORDER BY g.group_best DESC, r.lang, r.hit_rank
""")
def collapse_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `collapse` with `inner_hits`: the top {INNER_GROUPS} collapse
    groups (by their best BM25 hit), each flattened to its top
    {INNER_HITS} inner hits with the within-group rank — what
    collapse_search's one-hit-per-group form hides. One doc_id join,
    one bounded window per lang value (WindowGroupLimit prunes
    rank ≤ N map-side); group selection is a TakeOrdered over
    |distinct langs| rows."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    j = (bm25_scores(spark, sf_dir)
         .join(docs.select("doc_id", "lang"), "doc_id"))
    w = W.partitionBy("lang").orderBy(F.desc("score"), "doc_id")
    # ONE window pass; WindowGroupLimit prunes rank ≤ N map-side, so
    # the checkpointed frame is |distinct langs| × N rows — the
    # group_best column is just each group's rank-1 score, no second
    # window or second corpus pass needed
    r = (j.withColumn("hit_rank", F.row_number().over(w))
          .where(F.col("hit_rank") <= INNER_HITS)
          .localCheckpoint(eager=False))
    g = (r.where(F.col("hit_rank") == 1)
          .select("lang", F.col("score").alias("group_best"))
          .orderBy(F.desc("group_best"), "lang").limit(INNER_GROUPS))
    return (r.join(F.broadcast(g), "lang")
             .select("lang", F.col("hit_rank").cast("int").alias("hit_rank"),
                     "doc_id", "score", "group_best")
             .orderBy(F.desc("group_best"), "lang", "hit_rank")
             .drop("group_best"))


# ----------------------------------------------------------------- span_not

SPAN_NOT_INC = "vector"
SPAN_NOT_EXC = "data"
SPAN_NOT_DIST = 2


@register("span_not_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_NOT_INC}') AS inc,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_NOT_EXC}') AS exc
  FROM t),
k AS (
  SELECT doc_id,
         CAST(len(inc) AS BIGINT) AS n_matches,
         CAST(len(list_filter(inc,
             x -> len(list_filter(exc,
                      y -> abs(x - y) <= {SPAN_NOT_DIST})) = 0))
           AS BIGINT) AS n_kept
  FROM p)
SELECT doc_id, n_matches, n_kept FROM k
WHERE n_kept > 0
ORDER BY n_kept DESC, doc_id LIMIT 20
""")
def span_not_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_not` with pre/post distance: occurrences of the
    include term that do NOT have the exclude term within
    {SPAN_NOT_DIST} tokens on either side (the negative-context span
    query — e.g. "vector" but not near "data"). A doc matches when
    at least one occurrence survives; n_matches/n_kept expose the
    exclusion's effect. Same per-doc position-list shape as
    span_near: map-side, zero corpus shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")

    def positions(term):
        return F.filter(
            F.transform(toks, lambda t, i: F.when(t == term, i + 1)
                        .otherwise(F.lit(-1))),
            lambda x: x >= 0)

    inc, exc = positions(SPAN_NOT_INC), positions(SPAN_NOT_EXC)
    kept = F.filter(inc, lambda x: F.size(
        F.filter(exc, lambda y: F.abs(x - y) <= SPAN_NOT_DIST)) == 0)
    out = docs.select(
        "doc_id",
        F.size(inc).cast("long").alias("n_matches"),
        F.size(kept).cast("long").alias("n_kept"))
    return (out.where(F.col("n_kept") > 0)
               .orderBy(F.desc("n_kept"), "doc_id").limit(20))


# ------------------------------------------- parent/child join queries

HAS_CHILD_FLAG = "R"
HAS_CHILD_MIN = 4
HAS_PARENT_PRIORITY = "1-URGENT"


@register("has_child_search", oracle=f"""
WITH c AS (
  SELECT l_orderkey, count(*) AS n_children
  FROM lineitem WHERE l_returnflag = '{HAS_CHILD_FLAG}'
  GROUP BY 1 HAVING count(*) >= {HAS_CHILD_MIN})
SELECT o.o_orderkey, CAST(c.n_children AS BIGINT) AS n_matching_children,
       o.o_totalprice::DOUBLE AS o_totalprice
FROM orders o JOIN c ON o.o_orderkey = c.l_orderkey
ORDER BY n_matching_children DESC, o.o_orderkey LIMIT 20
""")
def has_child_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `has_child` with `min_children` (the join-field query
    family): return PARENT docs (orders) having ≥ N child docs
    (lineitems) matching the child query (returnflag = 'R'), scored
    by match count. The child predicate filters map-side BEFORE the
    group; parent join is co-keyed on the order key — the shuffled
    side is matching child GROUPS, never raw children."""
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    c = (li.where(F.col("l_returnflag") == HAS_CHILD_FLAG)
           .groupBy("l_orderkey").agg(F.count("*").alias("n"))
           .where(F.col("n") >= HAS_CHILD_MIN))
    return (orders.join(c, orders.o_orderkey == c.l_orderkey)
                  .select("o_orderkey",
                          F.col("n").cast("long")
                           .alias("n_matching_children"),
                          F.col("o_totalprice").cast("double")
                           .alias("o_totalprice"))
                  .orderBy(F.desc("n_matching_children"), "o_orderkey")
                  .limit(20))


@register("has_parent_search", oracle=f"""
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_children,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '{HAS_PARENT_PRIORITY}'
GROUP BY 1 ORDER BY l_returnflag
""")
def has_parent_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `has_parent`: return CHILD docs whose parent matches the
    parent query (urgent orders), rolled up per returnflag so the
    output is census-sized. The parent side filters before the join
    and carries only its key — broadcast-sized at real parent
    selectivity; sums accumulate as exact DECIMAL."""
    li = tables.load(spark, sf_dir, "lineitem")
    par = (tables.load(spark, sf_dir, "orders")
           .where(F.col("o_orderpriority") == HAS_PARENT_PRIORITY)
           .select("o_orderkey"))
    return (li.join(par, li.l_orderkey == par.o_orderkey)
              .groupBy("l_returnflag")
              .agg(F.count("*").cast("long").alias("n_children"),
                   F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                    .cast("double").alias("total_price"))
              .orderBy("l_returnflag"))


# ------------------------------------------------------- gauss decay

DECAY_SCALE_DAYS = 7
DECAY_AT_SCALE = 0.5
DECAY_TOP = 20


@register("gauss_decay_search", oracle=f"""
WITH mx AS (SELECT max(date_trunc('day', ts)::DATE) AS anchor FROM events),
s AS (
  SELECT e.event_id, e.value,
         CAST(mx.anchor - date_trunc('day', e.ts)::DATE AS BIGINT)
           AS age_days
  FROM events e, mx)
SELECT event_id, age_days,
       round(value * power({DECAY_AT_SCALE!r},
             (age_days * 1.0 / {DECAY_SCALE_DAYS})
             * (age_days * 1.0 / {DECAY_SCALE_DAYS})), 6) AS score
FROM s
ORDER BY score DESC, event_id LIMIT {DECAY_TOP}
""")
def gauss_decay_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `function_score` gauss decay on recency (the
    freshness-boosted ranking every news/feed deployment runs):
    score = value · decay^((age/scale)²), decay 0.5 at scale 7 days,
    origin = the corpus' newest day (a 1-row aggregate broadcast —
    no driver round-trip). Day-granular ages keep the decay input
    exact-integer on both engines; the transcendental pow lands only
    in the rounded output and the ORDER BY uses the rounded score,
    so engine ulps cannot reorder."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    mx = ev.agg(F.max(day).alias("anchor"))
    s = (ev.crossJoin(F.broadcast(mx))
           .select("event_id", "value",
                   F.datediff(F.col("anchor"), day).cast("long")
                    .alias("age_days")))
    ratio = F.col("age_days") * 1.0 / DECAY_SCALE_DAYS
    score = F.round(F.col("value")
                    * F.pow(F.lit(DECAY_AT_SCALE), ratio * ratio), 6)
    return (s.select("event_id", "age_days", score.alias("score"))
             .orderBy(F.desc("score"), "event_id").limit(DECAY_TOP))


@register("linear_decay_search", oracle=f"""
WITH mx AS (SELECT max(date_trunc('day', ts)::DATE) AS anchor FROM events),
s AS (
  SELECT e.event_id, e.value,
         CAST(mx.anchor - date_trunc('day', e.ts)::DATE AS BIGINT)
           AS age_days
  FROM events e, mx)
SELECT event_id, age_days,
       round(value * greatest(0.0,
             1.0 - age_days * 1.0 / (2 * {DECAY_SCALE_DAYS})), 6) AS score
FROM s
ORDER BY score DESC, event_id LIMIT {DECAY_TOP}
""")
def linear_decay_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `function_score` LINEAR decay on recency (the second of the
    ES decay triple — gauss is T53, exp below): multiplier
    max(0, 1 − age/s0) with s0 = scale/(1−decay) = 2·scale, i.e.
    decay 0.5 at {DECAY_SCALE_DAYS} days and zero beyond 2·scale —
    the only decay curve that actually reaches 0, which is why feeds
    use it to hard-expire stale items. Same 1-row-anchor-broadcast
    map-side shape as gauss; the multiplier is pure rational
    arithmetic (no transcendental at all), bit-identical on both
    engines before the round."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    mx = ev.agg(F.max(day).alias("anchor"))
    s = (ev.crossJoin(F.broadcast(mx))
           .select("event_id", "value",
                   F.datediff(F.col("anchor"), day).cast("long")
                    .alias("age_days")))
    mult = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.col("age_days") * 1.0 / (2 * DECAY_SCALE_DAYS))
    return (s.select("event_id", "age_days",
                     F.round(F.col("value") * mult, 6).alias("score"))
             .orderBy(F.desc("score"), "event_id").limit(DECAY_TOP))


@register("exp_decay_search", oracle=f"""
WITH mx AS (SELECT max(date_trunc('day', ts)::DATE) AS anchor FROM events),
s AS (
  SELECT e.event_id, e.value,
         CAST(mx.anchor - date_trunc('day', e.ts)::DATE AS BIGINT)
           AS age_days
  FROM events e, mx)
SELECT event_id, age_days,
       round(value * power({DECAY_AT_SCALE!r},
                           age_days * 1.0 / {DECAY_SCALE_DAYS}), 6) AS score
FROM s
ORDER BY score DESC, event_id LIMIT {DECAY_TOP}
""")
def exp_decay_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `function_score` EXP decay on recency (closing the decay
    triple): multiplier decay^(age/scale) — the heavy-tailed curve
    that never hits zero, ES's default for "prefer recent but never
    exclude". Same shape and the same transcendental discipline as
    gauss (T53): exact-integer day ages in, pow only in the rounded
    OUTPUT column, ORDER BY the rounded score."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    mx = ev.agg(F.max(day).alias("anchor"))
    s = (ev.crossJoin(F.broadcast(mx))
           .select("event_id", "value",
                   F.datediff(F.col("anchor"), day).cast("long")
                    .alias("age_days")))
    score = F.round(
        F.col("value") * F.pow(F.lit(DECAY_AT_SCALE),
                               F.col("age_days") * 1.0 / DECAY_SCALE_DAYS),
        6)
    return (s.select("event_id", "age_days", score.alias("score"))
             .orderBy(F.desc("score"), "event_id").limit(DECAY_TOP))


# --------------------------------------------------- distance_feature

DF_PIVOT_DAYS = 10
DF_BOOST = 5.0


@register("distance_feature_search", oracle=f"""
WITH mx AS (SELECT max(date_trunc('day', ts)::DATE) AS anchor FROM events),
s AS (
  SELECT e.event_id, e.event_type,
         CAST(mx.anchor - date_trunc('day', e.ts)::DATE AS BIGINT)
           AS age_days
  FROM events e, mx
  WHERE e.event_type = 'click')
SELECT event_id, age_days,
       round({DF_BOOST!r} * {DF_PIVOT_DAYS}
             / ({DF_PIVOT_DAYS} + age_days), 6) AS score
FROM s
ORDER BY score DESC, event_id LIMIT {DECAY_TOP}
""")
def distance_feature_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `distance_feature` query on a date field: score =
    boost · pivot / (pivot + distance) — the reciprocal-rank-style
    proximity boost ES recommends over decay functions inside bool
    queries (it can use the index to skip far docs; relationally the
    filter does that). Composed here with a term filter
    (event_type = 'click'), matching the documented bool+boost use.
    Pure rational arithmetic on exact-integer day distances —
    bit-identical before the round; 1-row anchor broadcast,
    TakeOrdered page."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    mx = ev.agg(F.max(day).alias("anchor"))
    s = (ev.where(F.col("event_type") == "click")
           .crossJoin(F.broadcast(mx))
           .select("event_id",
                   F.datediff(F.col("anchor"), day).cast("long")
                    .alias("age_days")))
    score = F.round(
        F.lit(DF_BOOST) * DF_PIVOT_DAYS
        / (F.lit(DF_PIVOT_DAYS) + F.col("age_days")), 6)
    return (s.select("event_id", "age_days", score.alias("score"))
             .orderBy(F.desc("score"), "event_id").limit(DECAY_TOP))


# --------------------------------- span_within / span_containing

SPAN_LITTLE = "key"
SPAN_BIG_A = "table"
SPAN_BIG_B = "scan"
SPAN_BIG_SLOP = 6

_SPAN_WC_CTE = f"""
WITH t AS (SELECT doc_id, {{tok}} AS toks FROM documents),
p AS (
  SELECT doc_id,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_LITTLE}') AS pl,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_BIG_A}') AS pa,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_BIG_B}') AS pb
  FROM t),
g AS (
  SELECT doc_id, pl,
         flatten(list_transform(pa, a ->
             list_transform(list_filter(pb, b ->
                                abs(a - b) <= {SPAN_BIG_SLOP}),
                            b -> [least(a, b), greatest(a, b)]))) AS big
  FROM p)
"""


def _span_positions(toks, term):
    return F.filter(
        F.transform(toks, lambda t, i: F.when(t == term, i + 1)
                    .otherwise(F.lit(-1))),
        lambda x: x >= 0)


def _span_frames(spark: SparkSession, sf_dir: str):
    """Per-doc little positions + big spans — the ES span algebra
    substrate shared by span_within/span_containing. A big span is a
    span_near(({SPAN_BIG_A!r}, {SPAN_BIG_B!r}), slop) match pair,
    reduced to its [lo, hi] token envelope. All map-side array math,
    zero corpus shuffle; per-doc arrays are bounded by term
    frequency, so the nested lambdas cost O(tf²) per row."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    pl = _span_positions(toks, SPAN_LITTLE)
    pa = _span_positions(toks, SPAN_BIG_A)
    pb = _span_positions(toks, SPAN_BIG_B)
    big = F.flatten(F.transform(pa, lambda a: F.transform(
        F.filter(pb, lambda b: F.abs(a - b) <= SPAN_BIG_SLOP),
        lambda b: F.array(F.least(a, b), F.greatest(a, b)))))
    return docs.select("doc_id", pl.alias("pl"), big.alias("big"))


def _inside(x, s):
    return (x >= F.element_at(s, 1)) & (x <= F.element_at(s, 2))


@register("span_within_search", oracle=_SPAN_WC_CTE.format(tok=TOK_SQL) + f"""
SELECT doc_id,
       CAST(len(big) AS BIGINT) AS n_big,
       CAST(len(list_filter(pl, x ->
            len(list_filter(big, s -> x >= s[1] AND x <= s[2])) > 0))
         AS BIGINT) AS n_within
FROM g
WHERE len(list_filter(pl, x ->
          len(list_filter(big, s -> x >= s[1] AND x <= s[2])) > 0)) > 0
ORDER BY n_within DESC, doc_id LIMIT 20
""")
def span_within_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_within`: match occurrences of the LITTLE span
    ('{SPAN_LITTLE}') that sit inside some BIG span (a
    '{SPAN_BIG_A}'…'{SPAN_BIG_B}' near-pair within
    {SPAN_BIG_SLOP} tokens) — with span_containing below, the
    enclosure pair that completes the span family beside
    span_first/span_near/span_not. Returns docs with ≥1 enclosed
    occurrence, scored by how many."""
    f = _span_frames(spark, sf_dir)
    within = F.filter(
        F.col("pl"),
        lambda x: F.exists(F.col("big"), lambda s: _inside(x, s)))
    out = f.select("doc_id",
                   F.size("big").cast("long").alias("n_big"),
                   F.size(within).cast("long").alias("n_within"))
    return (out.where(F.col("n_within") > 0)
               .orderBy(F.desc("n_within"), "doc_id").limit(20))


@register("span_containing_search",
          oracle=_SPAN_WC_CTE.format(tok=TOK_SQL) + f"""
SELECT doc_id,
       CAST(len(big) AS BIGINT) AS n_big,
       CAST(len(list_filter(big, s ->
            len(list_filter(pl, x -> x >= s[1] AND x <= s[2])) > 0))
         AS BIGINT) AS n_containing
FROM g
WHERE len(list_filter(big, s ->
          len(list_filter(pl, x -> x >= s[1] AND x <= s[2])) > 0)) > 0
ORDER BY n_containing DESC, doc_id LIMIT 20
""")
def span_containing_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_containing`: the dual of span_within — match BIG
    spans that CONTAIN at least one little-span occurrence, scored by
    how many big spans qualify. Same per-doc substrate, same map-side
    zero-shuffle shape."""
    f = _span_frames(spark, sf_dir)
    containing = F.filter(
        F.col("big"),
        lambda s: F.exists(F.col("pl"), lambda x: _inside(x, s)))
    out = f.select("doc_id",
                   F.size("big").cast("long").alias("n_big"),
                   F.size(containing).cast("long").alias("n_containing"))
    return (out.where(F.col("n_containing") > 0)
               .orderBy(F.desc("n_containing"), "doc_id").limit(20))


# --------------------------------------------- simple_query_string

SQS_AND = ("scan", "table")   # 'scan +table'
SQS_OR = "merge"              # '| merge'
SQS_NOT = "slow"              # '-slow' scoped to the OR clause


@register("simple_query_string_search", oracle=f"""
WITH t AS (SELECT doc_id, {{tok}} AS toks FROM documents),
s AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x = '{SQS_AND[0]}')) AS f_a,
         len(list_filter(toks, x -> x = '{SQS_AND[1]}')) AS f_b,
         len(list_filter(toks, x -> x = '{SQS_OR}')) AS f_c,
         len(list_filter(toks, x -> x = '{SQS_NOT}')) AS f_n
  FROM t)
SELECT doc_id, CAST(f_a + f_b + f_c AS BIGINT) AS score
FROM s
WHERE (f_a > 0 AND f_b > 0) OR (f_c > 0 AND f_n = 0)
ORDER BY score DESC, doc_id LIMIT 20
""".format(tok=TOK_SQL))
def simple_query_string_search(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """ES `simple_query_string`, query
    `({SQS_AND[0]} + {SQS_AND[1]}) | ({SQS_OR} -{SQS_NOT})` — the
    forgiving end-user mini-language (`+` AND, `|` OR, `-` NOT)
    compiled to its boolean tree; score = total tf of the positive
    terms (the deterministic integer stand-in for the per-clause BM25
    sum, same convention as the other fixed-query DSL ops). One
    map-side array pass, TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")

    def tf(term):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    f = docs.select("doc_id", tf(SQS_AND[0]).alias("f_a"),
                    tf(SQS_AND[1]).alias("f_b"),
                    tf(SQS_OR).alias("f_c"), tf(SQS_NOT).alias("f_n"))
    match = ((F.col("f_a") > 0) & (F.col("f_b") > 0)) \
        | ((F.col("f_c") > 0) & (F.col("f_n") == 0))
    return (f.where(match)
             .select("doc_id",
                     (F.col("f_a") + F.col("f_b") + F.col("f_c"))
                     .cast("long").alias("score"))
             .orderBy(F.desc("score"), "doc_id").limit(20))


# ------------------------------------------------------------- span_or

@register("span_or_search", oracle=_SPAN_WC_CTE.format(tok=TOK_SQL) + f"""
SELECT doc_id,
       CAST(len(pl) AS BIGINT) AS n_little,
       CAST(len(big) AS BIGINT) AS n_big,
       CAST(len(pl) + len(big) AS BIGINT) AS n_spans
FROM g
WHERE len(pl) + len(big) > 0
ORDER BY n_spans DESC, doc_id LIMIT 20
""")
def span_or_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_or`: the union wrapper that completes the span family
    (beside span_near/span_first/span_not and the within/containing
    enclosure pair) — clauses here are the little term span
    ('{SPAN_LITTLE}') and the '{SPAN_BIG_A}'…'{SPAN_BIG_B}' near-pair
    span; a doc matches when EITHER clause produces a span, scored by
    total span count exactly as ES feeds every clause match into
    scoring. Same per-doc substrate as within/containing: positions
    and envelopes are map-side array math, zero corpus shuffle,
    TakeOrdered page."""
    f = _span_frames(spark, sf_dir)
    out = f.select("doc_id",
                   F.size("pl").cast("long").alias("n_little"),
                   F.size("big").cast("long").alias("n_big"),
                   (F.size("pl") + F.size("big")).cast("long")
                   .alias("n_spans"))
    return (out.where(F.col("n_spans") > 0)
               .orderBy(F.desc("n_spans"), "doc_id").limit(20))


# --------------------------------------------------------- script_score

SCRIPT_SCORE_WEIGHT = 0.1


@register("script_score_search", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_dot_product(embedding::DOUBLE[], qvec)
             / (sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[]))
                * sqrt(list_dot_product(qvec, qvec)))
             + {SCRIPT_SCORE_WEIGHT!r} * ln(1 + label), 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id LIMIT 10
""")
def script_score_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `script_score` query, script
    `cosineSimilarity(params.query_vector, 'embedding') +
    {SCRIPT_SCORE_WEIGHT} * Math.log(1 + doc['label'].value)` — the
    ES-native way to blend vector similarity with a document-field
    boost in ONE formula (the knn-plus-popularity recipe from the ES
    vector scoring docs). The script is an ordinary projected
    expression here, so it fuses into the corpus scan's codegen stage:
    one map-side pass, no shuffle, TakeOrdered page — the same plan a
    plain knn gets, the boost riding along for free. ln(1+label) on an
    INTEGER label is libm-identical on both engines; round-6 absorbs
    the ulp."""
    corpus, q = corpus_with_query(spark, sf_dir)
    score = cosine_score() + F.lit(SCRIPT_SCORE_WEIGHT) \
        * F.log(F.lit(1.0) + F.col("label"))
    return knn(corpus, q, k=10, payload=("label",),
               score=F.round(score, 6))


# ======================================================================
# Highlighting, the term suggester, knn similarity cutoff, sliced
# scroll, the full query_string language, and the term-vectors API.
#
# Reference parity (the elastic backend's query surface plus the knn
# cutoff params every vector backend exposes): ES `highlight` (matched
# fragments with <em> tags), ES term suggester (per-token edit-distance
# corrections from the corpus vocabulary), ES knn `similarity` /
# Weaviate `certainty`/`distance` / Qdrant `score_threshold` (drop
# hits below a similarity floor AFTER top-k), ES sliced scroll (the
# parallel-export partitioning of a scroll), ES `query_string` (the
# full Lucene mini-language with field scoping), and ES `_termvectors`
# (per-term tf + positions for one document).
#
# Scale shapes: highlighting and query_string are map-side array math
# over the scan (zero corpus shuffle, TakeOrdered pages). The term
# suggester builds the token vocabulary with ONE explode+groupBy pass
# — the only shuffle — then broadcasts the (tiny) query-term list and
# prunes candidates by first-char + length-band BEFORE levenshtein, so
# the edit-distance compare touches a sliver of the vocabulary.
# Sliced scroll's md5 slice key is uniform by construction and
# computed map-side (each export worker reads only its residue class —
# the point of the API). Term vectors prune to ONE document before any
# work. The knn cutoff filters an already-k-bounded TakeOrdered page.
# ======================================================================



# ------------------------------------------------------------ highlight

HL_TERM = "table"
HL_WINDOW = 3          # tokens of context each side of the match
HL_K = 15


@register("highlight_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id, toks,
         list_position(toks, '{HL_TERM}') AS p,
         len(list_filter(toks, x -> x = '{HL_TERM}')) AS tf
  FROM t),
h AS (
  SELECT doc_id, CAST(tf AS BIGINT) AS score,
         array_to_string(
           list_transform(
             toks[greatest(p - {HL_WINDOW}, 1):least(p + {HL_WINDOW},
                                                     len(toks))],
             (x, i) -> CASE
                 WHEN greatest(p - {HL_WINDOW}, 1) + i - 1 = p
                 THEN '<em>' || x || '</em>' ELSE x END),
           ' ') AS fragment
  FROM m WHERE p > 0)
SELECT doc_id, score, fragment
FROM h ORDER BY score DESC, doc_id LIMIT {HL_K}
""")
def highlight_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `highlight`: hits for a term query come back with a matched
    FRAGMENT — the first occurrence wrapped in `<em>` tags inside a
    ±{HL_WINDOW}-token context window (ES's unified highlighter with
    one fragment, the default response shape). Position find, window
    slice and tag wrap are all per-row array expressions fused into
    the scan — highlighting adds zero shuffle to the underlying term
    query, exactly the property ES's stored-field highlighters pay
    I/O for. Scored by tf, TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    p = F.array_position(toks, HL_TERM)
    tf = F.size(F.filter(toks, lambda x: x == F.lit(HL_TERM)))
    lo = F.greatest(p - HL_WINDOW, F.lit(1).cast("long"))
    hi = F.least(p + HL_WINDOW, F.size(toks).cast("long"))
    frag = F.slice(toks, lo.cast("int"), (hi - lo + 1).cast("int"))
    # transform's index is 0-based: token index in the doc = lo + i
    tagged = F.transform(
        frag, lambda x, i: F.when(lo + i == p,
                                  F.concat(F.lit("<em>"), x,
                                           F.lit("</em>"))).otherwise(x))
    out = (docs.select("doc_id", p.alias("p"), tf.alias("tf"),
                       F.array_join(tagged, " ").alias("fragment"))
               .where(F.col("p") > 0))
    return (out.select("doc_id", F.col("tf").cast("long").alias("score"),
                       "fragment")
               .orderBy(F.desc("score"), "doc_id").limit(HL_K))


# --------------------------------------------------------- term suggester

SUGGEST_TERMS = ("merg", "scann", "jion")   # misspelled query tokens
SUGGEST_MAX_EDITS = 2
SUGGEST_PER_TERM = 5


@register("suggest_term", oracle=f"""
WITH tok AS (
  SELECT unnest({TOK_SQL}) AS term FROM documents),
vocab AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
q AS (SELECT unnest({list(SUGGEST_TERMS)!r}) AS qterm),
cand AS (
  SELECT q.qterm, v.term AS suggestion, v.freq,
         levenshtein(q.qterm, v.term) AS dist
  FROM q JOIN vocab v
    ON substr(v.term, 1, 1) = substr(q.qterm, 1, 1)
   AND abs(len(v.term) - len(q.qterm)) <= {SUGGEST_MAX_EDITS}
  WHERE levenshtein(q.qterm, v.term) <= {SUGGEST_MAX_EDITS}
    AND v.term <> q.qterm),
r AS (
  SELECT qterm, suggestion, CAST(dist AS INT) AS dist,
         CAST(freq AS BIGINT) AS freq,
         row_number() OVER (PARTITION BY qterm
                            ORDER BY dist, freq DESC, suggestion)
           AS rank
  FROM cand)
SELECT qterm, suggestion, dist, freq, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {SUGGEST_PER_TERM}
ORDER BY qterm, rank
""")
def suggest_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term suggester (`suggest.term`): per misspelled query
    token, corpus-vocabulary corrections within
    {SUGGEST_MAX_EDITS} edits, ranked ES-style (edit distance, then
    document frequency) with the default prefix_length=1 pruning
    (candidates must share the first character — ES's rationale:
    typos rarely hit the first letter, and the prefix turns a full
    vocabulary compare into a keyed lookup).

    Scale shape: the vocabulary is ONE explode+groupBy pass (the only
    corpus shuffle, map-side combined); the query terms are a
    broadcast literal array, so candidate pruning (first char +
    length band) happens map-side over vocabulary rows BEFORE the
    levenshtein — at web-corpus vocabulary sizes the expensive edit
    distance runs on a per-first-letter sliver. Final rank is a
    window over ≤|q|·candidates rows."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    vocab = (docs.select(F.explode(tokens("text")).alias("term"))
                 .groupBy("term").agg(F.count("*").alias("freq")))
    q = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in SUGGEST_TERMS]))
         .alias("qterm"))
    cand = (vocab.join(F.broadcast(q),
                       (F.substring("term", 1, 1)
                        == F.substring("qterm", 1, 1))
                       & (F.abs(F.length("term") - F.length("qterm"))
                          <= SUGGEST_MAX_EDITS))
                 .where((F.levenshtein("qterm", "term")
                         <= SUGGEST_MAX_EDITS)
                        & (F.col("term") != F.col("qterm")))
                 .select("qterm", F.col("term").alias("suggestion"),
                         F.levenshtein("qterm", "term").cast("int")
                          .alias("dist"),
                         F.col("freq").cast("long").alias("freq")))
    w = W.partitionBy("qterm").orderBy("dist", F.desc("freq"),
                                       "suggestion")
    return (cand.withColumn("rank", F.row_number().over(w).cast("int"))
                .where(F.col("rank") <= SUGGEST_PER_TERM)
                .orderBy("qterm", "rank"))


# --------------------------------------------------- knn similarity cutoff

KNN_CUT_K = 20
KNN_CUT_SIM = 0.25


@register("knn_similarity_cutoff", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
topk AS (
  SELECT vec_id, label,
         round(list_dot_product(embedding::DOUBLE[], qvec)
               / (sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qvec, qvec))), 6) AS score
  FROM embeddings, q
  ORDER BY score DESC, vec_id LIMIT {KNN_CUT_K})
SELECT vec_id, label, score FROM topk
WHERE score >= {KNN_CUT_SIM!r}
ORDER BY score DESC, vec_id
""")
def knn_similarity_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity floor every backend's knn exposes — ES knn
    `similarity`, Weaviate `certainty`/`distance`, Qdrant
    `score_threshold`, Milvus `radius`: retrieve top-k, then DROP
    hits below the floor (k bounds the page, the floor bounds the
    quality; a sparse region legitimately returns fewer than k).
    Applied to the ROUNDED score on both engines so the cutoff
    boundary cannot ulp-flip. Plan: the same zero-shuffle
    scan→score→TakeOrdered as plain knn plus a trivial post-filter
    on k rows."""
    corpus, q = corpus_with_query(spark, sf_dir)
    topk = knn(corpus, q, k=KNN_CUT_K, payload=("label",),
               score=F.round(cosine_score(), 6))
    return (topk.where(F.col("score") >= KNN_CUT_SIM)
                .orderBy(F.desc("score"), "vec_id"))


# ------------------------------------------------------------ sliced scroll

SCROLL_SLICES = 4


@register("sliced_scroll", oracle=f"""
WITH s AS (
  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
           % {SCROLL_SLICES} AS slice_id,
         doc_id
  FROM documents)
SELECT CAST(slice_id AS INT) AS slice_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY 1 ORDER BY 1
""")
def sliced_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sliced scroll (`slice: {{id, max}}`): the parallel-export
    form of a scroll — {SCROLL_SLICES} workers each scroll a disjoint
    hash-residue class of the corpus concurrently. The md5 slice key
    is computed map-side and is uniform by construction, so export
    workers get balanced shards with no coordination (the reason ES
    added the API). Output is the per-slice census — counts plus id
    bounds — whose disjointness/completeness the tests pin; each
    worker's actual page stream is C8's scroll_by_cursor scoped to
    its slice predicate."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    sl = (md5_int32(F.col("doc_id").cast("string"))
          % SCROLL_SLICES).cast("int")
    return (docs.select(sl.alias("slice_id"), "doc_id")
                .groupBy("slice_id")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.min("doc_id").alias("first_doc"),
                     F.max("doc_id").alias("last_doc"))
                .orderBy("slice_id"))


# ----------------------------------------------------------- query_string

QS_LANG = "en"
QS_OR = ("scan", "merge")
QS_NOT = "slow"


@register("query_string_search", oracle=f"""
WITH t AS (SELECT doc_id, lang, {TOK_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> x = '{QS_OR[0]}')) AS f_a,
         len(list_filter(toks, x -> x = '{QS_OR[1]}')) AS f_b,
         len(list_filter(toks, x -> x = '{QS_NOT}')) AS f_n
  FROM t)
SELECT doc_id, CAST(f_a + f_b AS BIGINT) AS score
FROM s
WHERE lang = '{QS_LANG}' AND (f_a > 0 OR f_b > 0) AND f_n = 0
ORDER BY score DESC, doc_id LIMIT 20
""")
def query_string_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `query_string` (the full Lucene mini-language, distinct
    from T60's forgiving simple_query_string): field scoping plus
    boolean operators — here
    `lang:{QS_LANG} AND ({QS_OR[0]} OR {QS_OR[1]}) NOT {QS_NOT}`.
    The field-scoped clause (`lang:`) targets a STRUCTURED column, so
    it compiles to an ordinary pushable predicate (PushedFilters on
    lang — the part simple_query_string's default-field search cannot
    express); the text clauses stay one map-side tf pass. Integer tf
    score, TakeOrdered page, zero corpus shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")

    def tf(term):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    f = docs.where(F.col("lang") == QS_LANG).select(
        "doc_id", tf(QS_OR[0]).alias("f_a"), tf(QS_OR[1]).alias("f_b"),
        tf(QS_NOT).alias("f_n"))
    return (f.where(((F.col("f_a") > 0) | (F.col("f_b") > 0))
                    & (F.col("f_n") == 0))
             .select("doc_id",
                     (F.col("f_a") + F.col("f_b")).cast("long")
                     .alias("score"))
             .orderBy(F.desc("score"), "doc_id").limit(20))


# ------------------------------------------------------------ term vectors

TV_DOC_ID = 7
TV_K = 15


@register("term_vectors", oracle=f"""
WITH tok AS (
  SELECT unnest({TOK_SQL}) AS term,
         generate_subscripts({TOK_SQL}, 1) AS pos
  FROM documents WHERE doc_id = {TV_DOC_ID})
SELECT term, CAST(count(*) AS BIGINT) AS term_freq,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM tok GROUP BY term
ORDER BY term_freq DESC, term LIMIT {TV_K}
""")
def term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_termvectors`: per-term statistics for ONE document —
    term frequency and (first) position, the payload analyzers and
    MLT debugging read. The doc_id predicate prunes to a single row
    BEFORE tokenization (at scale: one row-group via min/max stats),
    so the explode+groupBy runs on one document's tokens — constant
    work at any corpus size."""
    docs = tables.load(spark, sf_dir, "documents")
    one = docs.where(F.col("doc_id") == TV_DOC_ID)
    tok = one.select(F.posexplode(tokens("text")).alias("pos", "term"))
    return (tok.groupBy("term")
               .agg(F.count("*").cast("long").alias("term_freq"),
                    (F.min("pos") + 1).cast("long").alias("first_pos"))
               .orderBy(F.desc("term_freq"), "term").limit(TV_K))


# ======================================================================
# `match_bool_prefix`, `multi_match` cross_fields, `constant_score`
# filter-context scoring, `span_multi` (a multi-term query inside the
# span algebra), and the fuzzy completion suggester.
#
# Reference parity (the elastic backend's query surface,
# `README.md:82` `VECTOR_DB=elastic`): ES `match_bool_prefix` (every
# token a term clause, the LAST token a prefix clause — the
# type-ahead cousin of match_phrase_prefix), `multi_match` with
# `type: cross_fields` (terms blended ACROSS fields: each term may
# match in any field, per-term score is the best field's, AND operator
# requires every term to land somewhere), `constant_score` (filter
# context scores a fixed boost regardless of tf — the bool
# filter/should split every ES tutorial leads with), `span_multi`
# (a wildcard/prefix multi-term query lifted into span positions so it
# composes with span_near slop), and the completion suggester with
# `fuzzy` (prefix matching that forgives one edit, ES
# suggest.completion.fuzzy.fuzziness=1 with the default
# prefix_length=1 first-char prune).
#
# Scale shapes: the first four are map-side array math over the scan —
# per-document token/position lists, zero corpus shuffle, TakeOrdered
# pages the top-k. The fuzzy completion suggester builds the token
# vocabulary with ONE explode+groupBy pass (the only shuffle,
# map-side combined), broadcasts the tiny input list, and prunes by
# first char + the fixed prefix window BEFORE levenshtein — the edit
# distance runs on a per-first-letter sliver of the vocabulary, the
# same posture as the term suggester beside it.
#
# Float determinism: scores are sums/maxima of integer tf counts and
# inlined double literals — identical IEEE ops on both engines.
# ======================================================================



# ------------------------------------------------------ match_bool_prefix

MBP_TERM = "data"          # full term clause
MBP_PREFIX = "qu"          # trailing prefix clause ("qu" -> "query")
MBP_TOP = 20


@register("match_bool_prefix_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> x = '{MBP_TERM}')) AS BIGINT)
           AS tf_term,
         CAST(len(list_filter(toks, x -> starts_with(x, '{MBP_PREFIX}')))
           AS BIGINT) AS tf_prefix
  FROM t)
SELECT doc_id, tf_term, tf_prefix, tf_term + tf_prefix AS score
FROM s WHERE tf_term + tf_prefix > 0
ORDER BY score DESC, doc_id LIMIT {MBP_TOP}
""")
def match_bool_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `match_bool_prefix` for the query "{MBP_TERM} {MBP_PREFIX}":
    a bool SHOULD of a term clause per completed token plus a prefix
    clause on the last partial token — the query-correction shape
    type-ahead boxes send on every keystroke. Score = tf of the term
    clause + tf of the prefix expansion (each prefix-matched
    occurrence counts once, ES's constant-ish prefix scoring folded
    to term frequency so ties break on evidence). OR semantics:
    either clause alone admits the doc."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = tokens("text")
    tf_term = F.size(F.filter(toks, lambda x: x == MBP_TERM)).cast("long")
    tf_prefix = F.size(
        F.filter(toks, lambda x: x.startswith(MBP_PREFIX))).cast("long")
    out = docs.select("doc_id", tf_term.alias("tf_term"),
                      tf_prefix.alias("tf_prefix"))
    return (out.withColumn("score", F.col("tf_term") + F.col("tf_prefix"))
               .where(F.col("score") > 0)
               .orderBy(F.desc("score"), "doc_id").limit(MBP_TOP))


# ------------------------------------------------ multi_match cross_fields

XF_TEXT_TERM = "stream"    # lands in the analyzed text field
XF_KEY_TERM = "src3"       # lands only in the keyword source field
XF_KEY_BOOST = 3.0         # keyword-field match weight
XF_TOP = 20


@register("multi_match_cross_fields", oracle=f"""
WITH t AS (SELECT doc_id, source, {TOK_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id,
         greatest(
           CAST(len(list_filter(toks, x -> x = '{XF_TEXT_TERM}'))
                AS DOUBLE),
           CASE WHEN source = '{XF_TEXT_TERM}' THEN {XF_KEY_BOOST!r}
                ELSE 0.0e0 END) AS s_t1,
         greatest(
           CAST(len(list_filter(toks, x -> x = '{XF_KEY_TERM}'))
                AS DOUBLE),
           CASE WHEN source = '{XF_KEY_TERM}' THEN {XF_KEY_BOOST!r}
                ELSE 0.0e0 END) AS s_t2
  FROM t)
SELECT doc_id, s_t1, s_t2, s_t1 + s_t2 AS score
FROM s WHERE s_t1 > 0 AND s_t2 > 0
ORDER BY score DESC, doc_id LIMIT {XF_TOP}
""")
def multi_match_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `multi_match` type `cross_fields`, operator AND, over the
    analyzed `text` field and the keyword `source` field for the
    query "{XF_TEXT_TERM} {XF_KEY_TERM}": the fields are blended into
    one logical field — each term may satisfy its clause in EITHER
    field, the per-term score is the best field's contribution (tf in
    text, a fixed {XF_KEY_BOOST} for a keyword hit), and AND requires
    every term to land somewhere. This is the type that fixes the
    "first name in one field, last name in another" failure of
    best_fields — here '{XF_KEY_TERM}' can only ever match `source`,
    yet docs still qualify when '{XF_TEXT_TERM}' matches `text`."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = tokens("text")

    def term_score(term: str):
        tf = F.size(F.filter(toks, lambda x: x == term)).cast("double")
        kw = F.when(F.col("source") == term, F.lit(XF_KEY_BOOST)) \
              .otherwise(F.lit(0.0))
        return F.greatest(tf, kw)

    out = docs.select("doc_id",
                      term_score(XF_TEXT_TERM).alias("s_t1"),
                      term_score(XF_KEY_TERM).alias("s_t2"))
    return (out.where((F.col("s_t1") > 0) & (F.col("s_t2") > 0))
               .withColumn("score", F.col("s_t1") + F.col("s_t2"))
               .select("doc_id", "s_t1", "s_t2", "score")
               .orderBy(F.desc("score"), "doc_id").limit(XF_TOP))


# ---------------------------------------------------------- constant_score

CS_FILTER_LANG = "en"
CS_CLAUSES = (("vector", 1.2), ("merge", 0.7))
CS_TOP = 20


def _cs_oracle() -> str:
    parts = " + ".join(
        f"CASE WHEN len(list_filter(toks, x -> x = '{t}')) > 0 "
        f"THEN {b!r} ELSE 0.0e0 END" for t, b in CS_CLAUSES)
    return f"""
WITH t AS (SELECT doc_id, lang, {TOK_SQL} AS toks FROM documents),
s AS (SELECT doc_id, {parts} AS score FROM t
      WHERE lang = '{CS_FILTER_LANG}')
SELECT doc_id, score FROM s WHERE score > 0
ORDER BY score DESC, doc_id LIMIT {CS_TOP}
"""


@register("constant_score_search", oracle=_cs_oracle)
def constant_score_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bool` with a non-scoring `filter` clause
    (lang = '{CS_FILTER_LANG}') plus `constant_score` SHOULD clauses
    — each matching clause contributes exactly its boost, never tf:
    the canonical filter-context / query-context split. A doc
    matching 'vector' ten times scores the same 1.2 as a doc matching
    it once (pinned by test); the filter clause contributes 0 and
    exists only to gate. Scale: the filter is a pushed scan
    predicate, the boosts are map-side CASE — zero corpus shuffle,
    TakeOrdered pages."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = tokens("text")
    def clause(term, boost):
        # NB: a two-arg lambda would be read by F.filter as the
        # (value, index) form — bind the term via closure instead.
        return F.when(F.size(F.filter(toks, lambda x: x == term)) > 0,
                      F.lit(boost)).otherwise(F.lit(0.0))

    score = None
    for term, boost in CS_CLAUSES:
        c = clause(term, boost)
        score = c if score is None else score + c
    return (docs.where(F.col("lang") == CS_FILTER_LANG)
                .select("doc_id", score.alias("score"))
                .where(F.col("score") > 0)
                .orderBy(F.desc("score"), "doc_id").limit(CS_TOP))


# -------------------------------------------------------------- span_multi

SM_PREFIX = "s"        # span_multi(prefix 's') -> scan/small/slow/sort/...
SM_LIT = "join"        # paired literal span
SM_SLOP = 3
SM_TOP = 20


@register("span_multi_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         list_filter(range(1, len(toks) + 1),
                     i -> starts_with(toks[i], '{SM_PREFIX}')) AS pm,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SM_LIT}') AS pj
  FROM t),
s AS (
  SELECT doc_id, CAST(len(pm) AS BIGINT) AS n_multi,
         CAST(len(flatten(list_transform(pm, a ->
              list_filter(pj, b -> abs(a - b) <= {SM_SLOP}))))
           AS BIGINT) AS n_pairs
  FROM p)
SELECT doc_id, n_multi, n_pairs FROM s WHERE n_pairs > 0
ORDER BY n_pairs DESC, doc_id LIMIT {SM_TOP}
""")
def span_multi_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_multi` wrapping a prefix query ('{SM_PREFIX}*') as
    one side of a span_near with '{SM_LIT}', slop {SM_SLOP}: the
    multi-term expansion is lifted into POSITIONS (any token starting
    with the prefix is a span occurrence), so it composes with the
    span algebra's proximity instead of collapsing to a bag-of-terms
    match. Docs ranked by the number of (expansion, literal) position
    pairs within the slop.

    Scale shape: per-doc position lists built map-side with the
    index-aware transform (same substrate as span_within/containing);
    the pair product is per-document over two bounded tf lists —
    zero corpus shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = tokens("text")
    pm = F.filter(
        F.transform(toks, lambda t, i: F.when(t.startswith(SM_PREFIX),
                                              i + 1).otherwise(F.lit(-1))),
        lambda x: x >= 0)
    pj = F.filter(
        F.transform(toks, lambda t, i: F.when(t == SM_LIT, i + 1)
                    .otherwise(F.lit(-1))),
        lambda x: x >= 0)
    pairs = F.flatten(F.transform(
        pm, lambda a: F.filter(pj, lambda b: F.abs(a - b) <= SM_SLOP)))
    out = docs.select("doc_id",
                      F.size(pm).cast("long").alias("n_multi"),
                      F.size(pairs).cast("long").alias("n_pairs"))
    return (out.where(F.col("n_pairs") > 0)
               .orderBy(F.desc("n_pairs"), "doc_id").limit(SM_TOP))


# ------------------------------------------------ completion suggester

CF_INPUTS = ("quary", "strem")   # misspelled type-ahead prefixes
CF_FUZZ = 1                      # suggest.completion.fuzzy.fuzziness
CF_PER = 3


@register("suggest_completion_fuzzy", oracle=f"""
WITH tok AS (SELECT unnest({TOK_SQL}) AS term FROM documents),
vocab AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
q AS (SELECT unnest({list(CF_INPUTS)!r}) AS input),
cand AS (
  SELECT q.input, v.term, CAST(v.freq AS BIGINT) AS weight,
         CAST(levenshtein(substr(v.term, 1, len(q.input)), q.input)
           AS INT) AS dist
  FROM q JOIN vocab v
    ON substr(v.term, 1, 1) = substr(q.input, 1, 1)
   AND len(v.term) >= len(q.input) - {CF_FUZZ}
  WHERE levenshtein(substr(v.term, 1, len(q.input)), q.input)
          <= {CF_FUZZ}),
r AS (
  SELECT input, term, weight, dist,
         row_number() OVER (PARTITION BY input
                            ORDER BY weight DESC, term) AS rank
  FROM cand)
SELECT input, term, weight, dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {CF_PER}
ORDER BY input, rank
""")
def suggest_completion_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion suggester with `fuzzy.fuzziness={CF_FUZZ}`:
    type-ahead inputs {CF_INPUTS} match vocabulary terms whose PREFIX
    (the input-length head of the term) is within {CF_FUZZ} edit of
    the input — 'quary' still completes to 'query' — ranked by
    weight (corpus frequency, the ES default when no explicit weight
    is indexed), ES's fuzzy default prefix_length=1 pruning the
    candidate set to the first-letter bucket before any edit
    distance.

    Scale shape: vocabulary = ONE explode+groupBy corpus pass; the
    input list broadcasts; first-char + length-band pruning runs
    map-side over vocabulary rows BEFORE levenshtein (the term
    suggester's posture), then a window over ≤|inputs|·candidates
    rows ranks."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    vocab = (docs.select(F.explode(tokens("text")).alias("term"))
                 .groupBy("term").agg(F.count("*").alias("freq")))
    q = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in CF_INPUTS])).alias("input"))
    head = F.substring(F.col("term"), 1, 1)
    dist = F.levenshtein(
        F.expr("substr(term, 1, length(input))"), F.col("input"))
    cand = (vocab.join(F.broadcast(q),
                       (head == F.substring(F.col("input"), 1, 1))
                       & (F.length("term")
                          >= F.length("input") - CF_FUZZ))
                 .where(dist <= CF_FUZZ)
                 .select("input", "term",
                         F.col("freq").cast("long").alias("weight"),
                         dist.cast("int").alias("dist")))
    w = W.partitionBy("input").orderBy(F.desc("weight"), "term")
    return (cand.withColumn("rank", F.row_number().over(w).cast("int"))
                .where(F.col("rank") <= CF_PER)
                .select("input", "term", "weight", "dist", "rank")
                .orderBy("input", "rank"))


# --------------------------------------------------- full bool query

BOOL_MUST = "data"
BOOL_SHOULD = ("merge", "vector", "fast")
BOOL_NOT = "slow"
BOOL_FILTER_LANG = "en"
BOOL_MSM = 1      # minimum_should_match
BOOL_K = 15

_BQ_TERMS = (BOOL_MUST,) + BOOL_SHOULD
_BQ_TERMS_SQL = "('" + "', '".join(_BQ_TERMS) + "')"


@register("bool_query_search", oracle=f"""
WITH tok AS (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, len({TOK_SQL}) AS dl FROM documents),
stats AS (SELECT count(*) AS n, avg(len({TOK_SQL})) AS avgdl
          FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN {_BQ_TERMS_SQL} GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
       WHERE term IN {_BQ_TERMS_SQL} GROUP BY 1),
flags AS (
  SELECT doc_id,
         list_contains({TOK_SQL}, '{BOOL_MUST}') AS has_must,
         {" + ".join(f"CAST(list_contains({TOK_SQL}, '{t}') AS INT)"
                     for t in BOOL_SHOULD)} AS n_should,
         lang = '{BOOL_FILTER_LANG}' AS f_lang,
         list_contains({TOK_SQL}, '{BOOL_NOT}') AS has_neg
  FROM documents),
score AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * dl.dl / stats.avgdl))), 6)
           AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id)
SELECT f.doc_id, s.score, CAST(f.n_should AS INT) AS n_should
FROM flags f JOIN score s USING (doc_id)
WHERE f.has_must AND f.f_lang AND NOT f.has_neg
  AND f.n_should >= {BOOL_MSM}
ORDER BY s.score DESC, f.doc_id LIMIT {BOOL_K}
""")
def bool_query_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ES `bool` query in one plan — every clause kind
    composed: `must` (scored, required term), `filter` (required,
    NON-scoring — the filter-context half of the classic bool split),
    `must_not` (excluded), and `should` with `minimum_should_match`
    (optional scored clauses, at least MSM must land). Score = BM25
    sum over the matched must + should terms, exactly ES's
    sum-of-clause-scores; filter clauses contribute presence, never
    score.

    Scale shape: the zero-shuffle BM25 contract (bm25_search's shape)
    extended with clause flags — per-term tf, doc length, and every
    clause predicate are array ops in ONE map-side scan projection;
    one global agg reduces to the scalar stats row (N, avgdl,
    per-term df) that broadcasts back; scoring + clause gating is
    map-side arithmetic and the page is TakeOrdered. No explode, no
    groupBy(doc, term), no join — two parallel corpus scans at any
    size (constants from operators/hybrid.py: k1=1.2, b=0.75)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")

    def eq(term):
        return lambda t: t == F.lit(term)

    per = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("dl"),
        (F.col("lang") == BOOL_FILTER_LANG).alias("f_lang"),
        F.array_contains(tokens("text"), BOOL_NOT).alias("has_neg"),
        *[F.size(F.filter(tokens("text"), eq(t))).alias(f"tf_{i}")
          for i, t in enumerate(_BQ_TERMS)])
    stats = per.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        *[F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
          for i in range(len(_BQ_TERMS))])
    parts = []
    for i in range(len(_BQ_TERMS)):
        tf = F.col(f"tf_{i}").cast("double")
        w = bm25_weight(tf, F.col(f"df_{i}").cast("double"))
        parts.append(F.when(tf > 0, w).otherwise(F.lit(0.0)))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    n_should = None
    for i in range(1, len(_BQ_TERMS)):
        c = (F.col(f"tf_{i}") > 0).cast("int")
        n_should = c if n_should is None else n_should + c
    return (per.crossJoin(F.broadcast(stats))
               .withColumn("n_should", n_should)
               .where((F.col("tf_0") > 0) & F.col("f_lang")
                      & ~F.col("has_neg")
                      & (F.col("n_should") >= BOOL_MSM))
               .select("doc_id", F.round(score, 6).alias("score"),
                       "n_should")
               .orderBy(F.desc("score"), "doc_id").limit(BOOL_K))


# ======================================================================
# ES `match_phrase_prefix`, `regexp`, `span_near` (unordered),
# `combined_fields`, plus Weaviate `near_object` / Qdrant
# recommend-by-id (`knn_by_id`) and the Qdrant/ES nested-JSON payload
# filter.
#
# Reference parity: all five backends of the reference stack expose
# some of these (README.md:82 backend selector) — match_phrase_prefix /
# regexp / span_near / combined_fields are ES query DSL types; querying
# by an existing object id is Weaviate `nearObject` and Qdrant
# `recommend(positive=[id])`; filtering on a nested JSON payload field
# is Qdrant payload filtering and the ES object-field query path.
#
# Scale shapes — every text op here is MAP-SIDE ONLY over the token
# array (no explode, no postings shuffle): per-doc counts come from
# higher-order array functions in the scan stage, then one TakeOrdered
# cut. The corpus is read exactly once per query; nothing shuffles but
# the final top-N page. knn_by_id adds one broadcast 1-row query frame
# (same contract as every other knn); nested_payload_filter is a
# predicate + bucket-count agg with the JSON parse in the scan.
# ======================================================================



# ----------------------------------------------------- match_phrase_prefix

MPP_TERM = "fast"
MPP_PREFIX = "ta"


@register("match_phrase_prefix_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(list_filter(range(1, len(toks)),
              i -> toks[i] = '{MPP_TERM}'
                   AND starts_with(toks[i + 1], '{MPP_PREFIX}')))
              AS BIGINT) AS n_matches
  FROM t)
SELECT doc_id, n_matches FROM m WHERE n_matches > 0
ORDER BY n_matches DESC, doc_id LIMIT 20
""")
def match_phrase_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `match_phrase_prefix`: a phrase whose final term is a
    prefix — here "fast ta*" (matches e.g. "fast table"). Adjacent
    pairs are formed map-side with two array slices zipped together
    (no position explode, no sequence(1,0) descending-range pitfall:
    a slice of length 0 is empty); the count of matching pairs is the
    score. One scan, zero corpus shuffle, TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice(toks, 1, m), F.slice(toks, 2, m))
    n = F.size(F.filter(
        pairs,
        lambda s: (s.getField("0") == MPP_TERM)
        & s.getField("1").startswith(MPP_PREFIX)))
    out = docs.select("doc_id", n.cast("long").alias("n_matches"))
    return (out.where(F.col("n_matches") > 0)
               .orderBy(F.desc("n_matches"), "doc_id").limit(20))


# ----------------------------------------------------------------- regexp

REGEX_PATTERN = "[sf].*t"  # full-match: fast, sort, ...


@register("regexp_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(list_filter(toks,
              x -> regexp_full_match(x, '{REGEX_PATTERN}'))) AS BIGINT)
           AS n_occurrences,
         CAST(len(list_distinct(list_filter(toks,
              x -> regexp_full_match(x, '{REGEX_PATTERN}')))) AS BIGINT)
           AS n_terms
  FROM t)
SELECT doc_id, n_occurrences, n_terms FROM m WHERE n_occurrences > 0
ORDER BY n_occurrences DESC, doc_id LIMIT 20
""")
def regexp_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `regexp` query: terms matching an anchored regular
    expression ("[sf].*t" — full-match semantics on both engines:
    Spark rlike with ^...$ anchors == DuckDB regexp_full_match).
    Scored by total occurrences + distinct matching terms, all
    map-side array math. At scale the regexp runs against a term
    DICTIONARY first (vocabulary << corpus), then matched terms drive
    a postings probe — same contract, same results."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    hit = F.filter(toks, lambda x: x.rlike(f"^{REGEX_PATTERN}$"))
    out = docs.select(
        "doc_id",
        F.size(hit).cast("long").alias("n_occurrences"),
        F.size(F.array_distinct(hit)).cast("long").alias("n_terms"))
    return (out.where(F.col("n_occurrences") > 0)
               .orderBy(F.desc("n_occurrences"), "doc_id").limit(20))


# -------------------------------------------------------------- span_near

SPAN_T1 = "vector"
SPAN_T2 = "table"
SPAN_SLOP = 3


@register("span_near_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_T1}') AS p1,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{SPAN_T2}') AS p2
  FROM t),
g AS (
  SELECT doc_id,
         flatten(list_transform(p1,
             x -> list_transform(p2, y -> abs(x - y)))) AS gaps
  FROM p),
m AS (
  SELECT doc_id,
         CAST(len(list_filter(gaps, d -> d <= {SPAN_SLOP})) AS BIGINT)
           AS n_pairs,
         CAST(list_min(list_filter(gaps, d -> d <= {SPAN_SLOP})) AS INT)
           AS min_gap
  FROM g)
SELECT doc_id, n_pairs, min_gap FROM m WHERE n_pairs > 0
ORDER BY n_pairs DESC, doc_id LIMIT 20
""")
def span_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `span_near` with `in_order: false`: both terms within a
    slop-token window in EITHER order (the ordered variant is
    phrase_slop_search). Per-doc position lists are built map-side
    with an index-aware transform; the pair-gap cross product is
    per-document (positions of two specific terms — tiny), never a
    corpus-level join. Zero corpus shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")

    def positions(term):
        return F.filter(
            F.transform(toks, lambda t, i: F.when(t == term, i + 1)
                        .otherwise(F.lit(-1))),
            lambda x: x >= 0)

    gaps = F.flatten(F.transform(
        positions(SPAN_T1),
        lambda x: F.transform(positions(SPAN_T2), lambda y: F.abs(x - y))))
    near = F.filter(gaps, lambda d: d <= SPAN_SLOP)
    out = docs.select(
        "doc_id",
        F.size(near).cast("long").alias("n_pairs"),
        F.array_min(near).cast("int").alias("min_gap"))
    return (out.where(F.col("n_pairs") > 0)
               .orderBy(F.desc("n_pairs"), "doc_id").limit(20))


# --------------------------------------------------------- combined_fields

CF_TERMS = ("vector", "query")
CF_TITLE_LEN = 8       # the "title" field = first 8 tokens
CF_TITLE_BOOST = 2.0


@register("combined_fields_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
f AS (
  SELECT doc_id,
         toks[1:{CF_TITLE_LEN}] AS title,
         toks[{CF_TITLE_LEN + 1}:] AS body,
         len(toks) AS dl
  FROM t),
s AS (
  SELECT doc_id, dl,
         {' + '.join(
             f"{CF_TITLE_BOOST!r} * len(list_filter(title, x -> x = '{w}'))"
             f" + 1.0 * len(list_filter(body, x -> x = '{w}'))"
             for w in CF_TERMS)} AS wtf
  FROM f)
SELECT doc_id, round(wtf / sqrt(dl), 6) AS score
FROM s WHERE wtf > 0
ORDER BY score DESC, doc_id LIMIT 15
""")
def combined_fields_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `combined_fields` query: one term-centric score across
    multiple weighted fields, as if they were a single combined field
    (title boosted 2x vs body; title = the first 8 tokens — the test
    corpus is single-field, the field split is the deterministic
    stand-in). Weighted tf with sqrt length normalization, all
    map-side; one TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    f = docs.select(
        "doc_id",
        F.slice(toks, 1, CF_TITLE_LEN).alias("title"),
        F.expr(f"slice({_spark_toks()}, {CF_TITLE_LEN + 1}, "
               f"greatest(size({_spark_toks()}) - {CF_TITLE_LEN}, 0))")
         .alias("body"),
        F.size(toks).alias("dl"))
    def eq(term):  # NB: a 2-arg lambda would become an (elem, idx) lambda
        return lambda x: x == F.lit(term)

    wtf = None
    for w in CF_TERMS:
        part = (F.lit(CF_TITLE_BOOST) * F.size(F.filter("title", eq(w)))
                + 1.0 * F.size(F.filter("body", eq(w))))
        wtf = part if wtf is None else wtf + part
    s = f.select("doc_id", "dl", wtf.alias("wtf"))
    return (s.where(F.col("wtf") > 0)
             .select("doc_id",
                     F.round(F.col("wtf") / F.sqrt("dl"), 6).alias("score"))
             .orderBy(F.desc("score"), "doc_id").limit(15))


def _spark_toks() -> str:
    return "filter(split(trim(text), ' '), t -> t != '')"


# --------------------------------------------------------------- knn_by_id

NEAR_OBJECT_ID = 7


@register("knn_by_id", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = {NEAR_OBJECT_ID})
SELECT vec_id, label,
       list_dot_product(embedding::DOUBLE[], qvec)
       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          * sqrt(list_dot_product(qvec, qvec))) AS score
FROM embeddings, q
WHERE vec_id <> {NEAR_OBJECT_ID}
ORDER BY score DESC, vec_id LIMIT 10
""")
def knn_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate `nearObject` / Qdrant `recommend(positive=[id])` with
    a single positive: the query vector is LOOKED UP from the
    collection by id (1-row broadcast, exactly like a literal query
    vector) and the object itself is excluded from the results —
    the defining semantic vs plain knn. Scan -> map(score) ->
    TakeOrdered, zero shuffle."""
    corpus, q = corpus_with_query(spark, sf_dir,
                                  query_vec_id=NEAR_OBJECT_ID)
    return knn(corpus.where(F.col("vec_id") != NEAR_OBJECT_ID), q,
               k=10, metric="cosine", payload=("label",),
               score=cosine_score())


# ------------------------------------------------------------ rank_feature

RANK_FEATURE_PIVOT = 200.0  # saturation pivot for n_chars
RANK_FEATURE_BOOST = 1.5


@register("rank_feature_search", oracle=f"""
WITH {_BM25_CTE}
SELECT b.doc_id,
       round(b.score + {RANK_FEATURE_BOOST!r}
             * (d.n_chars / (d.n_chars + {RANK_FEATURE_PIVOT!r})), 6)
         AS rf_score
FROM bm25 b JOIN documents d USING (doc_id)
ORDER BY rf_score DESC, b.doc_id LIMIT 15
""")
def rank_feature_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rank_feature` query with the `saturation` function:
    relevance plus boost * x/(x+pivot) over a stored numeric feature
    (n_chars). Same co-keyed payload join above the zero-shuffle BM25
    pass as field_value_factor (T32) — the function family
    (saturation vs log1p vs sigmoid) is the distinct surface."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    sat = (F.col("n_chars")
           / (F.col("n_chars") + F.lit(RANK_FEATURE_PIVOT)))
    return (bm25_scores(spark, sf_dir)
            .join(docs.select("doc_id", "n_chars"), "doc_id")
            .select("doc_id",
                    F.round(F.col("score") + RANK_FEATURE_BOOST * sat, 6)
                     .alias("rf_score"))
            .orderBy(F.desc("rf_score"), "doc_id").limit(15))


# -------------------------------------------------- nested payload filter

PAYLOAD_K_LO = 40
PAYLOAD_K_HI = 60


@register("nested_payload_filter", oracle=f"""
WITH p AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS INT) AS k,
         value
  FROM events)
SELECT event_type,
       count(*) AS n,
       CAST(min(k) AS INT) AS min_k,
       CAST(max(k) AS INT) AS max_k,
       round(CAST(sum(CAST(k AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_k,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM p WHERE k BETWEEN {PAYLOAD_K_LO} AND {PAYLOAD_K_HI}
GROUP BY 1 ORDER BY 1
""")
def nested_payload_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant nested-payload filter / ES object-field query: parse a
    JSON payload field in the scan (`get_json_object`), filter on the
    nested value, aggregate per event type. The JSON parse is
    map-side; at scale the extracted field would be materialized as a
    typed column at ingest (schema-on-write) so the predicate reaches
    the parquet scan — this op is the schema-on-read fallback the
    backends offer."""
    ev = tables.load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    p = ev.select("event_type", k.alias("k"), "value")
    return (p.where(F.col("k").between(PAYLOAD_K_LO, PAYLOAD_K_HI))
             .groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.min("k").cast("int").alias("min_k"),
                  F.max("k").cast("int").alias("max_k"),
                  F.round(F.sum(F.col("k").cast("bigint")).cast("double")
                          / F.count("*"), 6).alias("avg_k"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                   .cast("double").alias("total_value"))
             .orderBy("event_type"))


# ----------------------------------------------------------- context search

_CTX_COS = ("list_dot_product(embedding::DOUBLE[], {q})"
            "/(sqrt(list_dot_product(embedding::DOUBLE[],"
            " embedding::DOUBLE[]))*sqrt(list_dot_product({q}, {q})))")
CTX_PAIRS = ((17, 225), (42, 300))  # (positive, negative) example ids
_CTX_IDS = tuple(i for p in CTX_PAIRS for i in p)


@register("context_search", oracle=f"""
WITH p1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {CTX_PAIRS[0][0]}),
n1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {CTX_PAIRS[0][1]}),
p2 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {CTX_PAIRS[1][0]}),
n2 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {CTX_PAIRS[1][1]}),
s AS (
  SELECT vec_id, label,
         (CASE WHEN {_CTX_COS.format(q="p1.v")} > {_CTX_COS.format(q="n1.v")}
               THEN 1 ELSE 0 END
        + CASE WHEN {_CTX_COS.format(q="p2.v")} > {_CTX_COS.format(q="n2.v")}
               THEN 1 ELSE 0 END) AS n_satisfied
  FROM embeddings, p1, n1, p2, n2
  WHERE vec_id NOT IN {_CTX_IDS!r})
SELECT vec_id, label, CAST(n_satisfied AS INT) AS n_satisfied
FROM s WHERE n_satisfied > 0
ORDER BY n_satisfied DESC, vec_id LIMIT 15
""")
def context_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant `context` search (discovery mode WITHOUT a target):
    rank purely by how many (positive, negative) context pairs a
    point satisfies — inside more half-spaces is better; no distance
    to any target enters the score. All four example vectors ride ONE
    broadcast row (chained per-example crossJoins
    re-executed the base scan O(P^depth) times); the half-space tests
    are map-side expressions in the scan, top-k is TakeOrdered."""
    from ..functions import distance as D
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")

    def vec_of(vid, name):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias(name)))

    ctx = (vec_of(CTX_PAIRS[0][0], "p1")
           .crossJoin(F.broadcast(vec_of(CTX_PAIRS[0][1], "n1")))
           .crossJoin(F.broadcast(vec_of(CTX_PAIRS[1][0], "p2")))
           .crossJoin(F.broadcast(vec_of(CTX_PAIRS[1][1], "n2"))))
    corpus = (emb.where(~F.col("vec_id").isin(*_CTX_IDS))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec")))
    cos = D.METRICS["cosine"]
    n_sat = (F.when(cos("vec", "p1") > cos("vec", "n1"), 1).otherwise(0)
             + F.when(cos("vec", "p2") > cos("vec", "n2"), 1).otherwise(0))
    return (corpus.crossJoin(F.broadcast(ctx))
                  .select("vec_id", "label",
                          n_sat.cast("int").alias("n_satisfied"))
                  .where(F.col("n_satisfied") > 0)
                  .orderBy(F.desc("n_satisfied"), "vec_id")
                  .limit(15))


# ------------------------------------------------------ where_document knn

WHERE_DOC_SUBSTR = "fast table"


@register("knn_where_document", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
hits AS (
  SELECT doc_id FROM documents
  WHERE contains(text, '{WHERE_DOC_SUBSTR}'))
SELECT e.vec_id,
       {_CTX_COS.format(q="qvec")} AS score
FROM embeddings e JOIN hits h ON e.vec_id = h.doc_id, q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id LIMIT 10
""")
def knn_where_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma `where_document={"$contains": ...}`: vector search
    restricted to records whose DOCUMENT text contains a substring —
    the text predicate and the vector score live on the same logical
    record. The test layout stores text and vectors in two parquet
    tables sharing the id space, so the predicate becomes a co-keyed
    equi-join; a production collection stores them as columns of ONE
    table (Chroma's own layout) and the predicate stays in the scan
    with zero joins. Substring match is `contains` on both engines.
    Reuses the knn()/precomputed-norm helpers (one dot per pair, not
    three) exactly as knn_by_id does."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    hits = (docs.where(F.contains(F.col("text"), F.lit(WHERE_DOC_SUBSTR)))
                .select(F.col("doc_id").alias("vec_id")))
    corpus, q = corpus_with_query(spark, sf_dir, query_vec_id=0)
    restricted = corpus.join(hits, "vec_id").where(F.col("vec_id") != 0)
    return knn(restricted, q, k=10, metric="cosine", score=cosine_score())


# -------------------------------------------------------- edge_ngram index

EDGE_NGRAM_MIN = 2
EDGE_NGRAM_MAX = 4
EDGE_NGRAM_TOP = 15


@register("edge_ngram_index", oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS term FROM documents),
g AS (
  SELECT doc_id, substr(term, 1, n) AS prefix
  FROM tok, (SELECT unnest(range({EDGE_NGRAM_MIN}, {EDGE_NGRAM_MAX + 1})) AS n)
  WHERE length(term) >= n)
SELECT prefix, count(DISTINCT doc_id) AS n_docs
FROM g GROUP BY 1
ORDER BY n_docs DESC, prefix LIMIT {EDGE_NGRAM_TOP}
""")
def edge_ngram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `edge_ngram` analyzer surface: the autocomplete index —
    every term indexed under its {EDGE_NGRAM_MIN}..{EDGE_NGRAM_MAX}
    character prefixes, ranked by document frequency. Per-doc DISTINCT
    terms first (map-side array_distinct BEFORE the explode cuts the
    exploded volume to unique terms), then the prefix fan-out is a
    bounded 3x, then one partial-agg distinct count. At scale this IS
    the index build for T11's prefix suggester — vocabulary-bounded
    output, TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.array_distinct(
        F.filter(F.split(F.trim("text"), " "), lambda t: t != ""))
    # ONE corpus pass: a union of per-length selects would re-scan and
    # re-tokenize the corpus once per branch (Spark does not dedupe
    # shared lineage across union arms). Explode terms once, then
    # fan out the 2..4-char prefixes map-side on the exploded frame;
    # the length >= MIN guard keeps sequence() ascending.
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    g = (tok.where(F.length("term") >= EDGE_NGRAM_MIN)
            .select("doc_id", F.explode(F.transform(
                F.sequence(F.lit(EDGE_NGRAM_MIN),
                           F.least(F.lit(EDGE_NGRAM_MAX),
                                   F.length("term"))),
                lambda n: F.substring(F.col("term"), F.lit(1), n)))
                .alias("prefix")))
    return (g.groupBy("prefix")
             .agg(F.countDistinct("doc_id").alias("n_docs"))
             .orderBy(F.desc("n_docs"), "prefix")
             .limit(EDGE_NGRAM_TOP))


# ------------------------------------------------------ values_count filter

VC_MIN = 30
VC_MAX = 70


@register("values_count_filter", oracle=f"""
WITH t AS (
  SELECT doc_id, lang, n_chars, len({TOK_SQL}) AS n_values
  FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(min(n_values) AS BIGINT) AS min_values,
       CAST(max(n_values) AS BIGINT) AS max_values,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM t WHERE n_values BETWEEN {VC_MIN} AND {VC_MAX}
GROUP BY 1 ORDER BY 1
""")
def values_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant `values_count` payload condition: filter records by the
    NUMBER of values in an array payload field (here: the token array
    — the corpus' only array-shaped payload), then roll up per
    language. The count is map-side array math in the scan; at scale
    the cardinality would be materialized as a typed column at ingest
    (like C14's JSON field) so the range predicate pushes into the
    parquet scan."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    t = docs.select("lang", "n_chars", F.size(toks).alias("n_values"))
    return (t.where(F.col("n_values").between(VC_MIN, VC_MAX))
             .groupBy("lang")
             .agg(F.count("*").alias("n_docs"),
                  F.min("n_values").cast("bigint").alias("min_values"),
                  F.max("n_values").cast("bigint").alias("max_values"),
                  F.sum(F.col("n_chars").cast("bigint")).cast("bigint")
                   .alias("total_chars"))
             .orderBy("lang"))


# -------------------------------------------------------- intervals query

IV_T1 = "vector"
IV_T2 = "merge"
IV_MAX_GAPS = 4


@register("intervals_search", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{IV_T1}') AS p1,
         list_filter(range(1, len(toks) + 1),
                     i -> toks[i] = '{IV_T2}') AS p2
  FROM t),
g AS (
  SELECT doc_id,
         flatten(list_transform(p1,
             x -> list_transform(p2, y -> y - x - 1))) AS gaps
  FROM p),
m AS (
  SELECT doc_id,
         CAST(len(list_filter(gaps, d -> d >= 0 AND d <= {IV_MAX_GAPS}))
              AS BIGINT) AS n_matches,
         CAST(list_min(list_filter(gaps, d -> d >= 0 AND d <= {IV_MAX_GAPS}))
              AS INT) AS min_gap
  FROM g)
SELECT doc_id, n_matches, min_gap FROM m WHERE n_matches > 0
ORDER BY n_matches DESC, doc_id LIMIT 20
""")
def intervals_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `intervals` query, `ordered` + `max_gaps`: '{IV_T1}' must
    precede '{IV_T2}' with at most {IV_MAX_GAPS} tokens between them
    (the ORDERED counterpart of span_near_search's unordered window —
    gap = y - x - 1 must be in [0, max_gaps], so order is part of the
    predicate, not just proximity). Same zero-shuffle shape: per-doc
    position lists and the gap cross product are map-side array math;
    only the top-N page moves."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")

    def positions(term):
        return F.filter(
            F.transform(toks, lambda t, i: F.when(t == term, i + 1)
                        .otherwise(F.lit(-1))),
            lambda x: x >= 0)

    gaps = F.flatten(F.transform(
        positions(IV_T1),
        lambda x: F.transform(positions(IV_T2), lambda y: y - x - 1)))
    ok = F.filter(gaps, lambda d: (d >= 0) & (d <= IV_MAX_GAPS))
    out = docs.select(
        "doc_id",
        F.size(ok).cast("long").alias("n_matches"),
        F.array_min(ok).cast("int").alias("min_gap"))
    return (out.where(F.col("n_matches") > 0)
               .orderBy(F.desc("n_matches"), "doc_id").limit(20))


# ------------------------------------------------- multi_match most_fields

MM_TERMS = ("vector", "query")
MM_TITLE_LEN = 8
MM_TITLE_BOOST = 2.0


@register("multi_match_most_fields", oracle=f"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS toks FROM documents),
f AS (
  SELECT doc_id,
         toks[1:{MM_TITLE_LEN}] AS title,
         toks[{MM_TITLE_LEN + 1}:] AS body
  FROM t),
s AS (
  SELECT doc_id,
         CASE WHEN len(title) > 0 THEN
           {MM_TITLE_BOOST!r} * ({' + '.join(
               f"len(list_filter(title, x -> x = '{w}'))"
               for w in MM_TERMS)}) / sqrt(len(title))
         ELSE 0.0 END
       + CASE WHEN len(body) > 0 THEN
           1.0 * ({' + '.join(
               f"len(list_filter(body, x -> x = '{w}'))"
               for w in MM_TERMS)}) / sqrt(len(body))
         ELSE 0.0 END AS score
  FROM f)
SELECT doc_id, round(score, 6) AS score
FROM s WHERE score > 0
ORDER BY score DESC, doc_id LIMIT 15
""")
def multi_match_most_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `multi_match` type `most_fields`: each field scores
    INDEPENDENTLY (per-field tf with that field's own length norm,
    times the field boost) and the scores ADD — vs combined_fields'
    single blended field statistics (T38) and dis_max's winner-take-
    most (T29); the three are distinct named scoring semantics in the
    ES DSL. Title = first {MM_TITLE_LEN} tokens (single-field corpus
    stand-in, same split as T38). All map-side array math, one
    TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    f = docs.select(
        "doc_id",
        F.slice(toks, 1, MM_TITLE_LEN).alias("title"),
        F.expr(f"slice({_spark_toks()}, {MM_TITLE_LEN + 1}, "
               f"greatest(size({_spark_toks()}) - {MM_TITLE_LEN}, 0))")
         .alias("body"))

    def eq(term):  # 2-arg lambdas become (elem, idx) lambdas
        return lambda x: x == F.lit(term)

    def field_score(col, boost):
        tf = None
        for w in MM_TERMS:
            part = F.size(F.filter(col, eq(w)))
            tf = part if tf is None else tf + part
        return F.when(F.size(col) > 0,
                      F.lit(boost) * tf / F.sqrt(F.size(col))) \
                .otherwise(F.lit(0.0))

    score = field_score(F.col("title"), MM_TITLE_BOOST) \
        + field_score(F.col("body"), 1.0)
    s = f.select("doc_id", score.alias("score"))
    return (s.where(F.col("score") > 0)
             .select("doc_id", F.round("score", 6).alias("score"))
             .orderBy(F.desc("score"), "doc_id").limit(15))


# ----------------------------------------------- recommend (best_score)

RBS_POS = (17, 42)      # positive example ids
RBS_NEG = (225,)        # negative example ids
_RBS_IDS = RBS_POS + RBS_NEG


@register("recommend_best_score", oracle=f"""
WITH p1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {RBS_POS[0]}),
p2 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {RBS_POS[1]}),
n1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {RBS_NEG[0]}),
s AS (
  SELECT vec_id, label,
         greatest({_CTX_COS.format(q="p1.v")},
                  {_CTX_COS.format(q="p2.v")}) AS best_pos,
         {_CTX_COS.format(q="n1.v")} AS best_neg
  FROM embeddings, p1, p2, n1
  WHERE vec_id NOT IN {_RBS_IDS!r}),
sc AS (
  SELECT vec_id, label,
         CASE WHEN best_pos > best_neg THEN best_pos
              ELSE -(best_neg * best_neg) END AS score
  FROM s)
SELECT vec_id, label, round(score, 6) AS score
FROM sc ORDER BY score DESC, vec_id LIMIT 10
""")
def recommend_best_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant `recommend` with `strategy=best_score` (the OTHER
    recommend strategy — `average_vector` is the `recommend` op in
    knn.py, and `context`/discovery is context_search): each point scores as
    its BEST positive-example similarity, unless some negative is
    closer, in which case the score collapses to -(best_neg²) —
    Qdrant's published formula, which ranks negative-dominated points
    strictly below every positive-dominated one. All example vectors
    ride ONE broadcast row; greatest()/CASE are map-side in the scan;
    TakeOrdered page. Round-6 absorbs libm ulps."""
    from ..functions import distance as D
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")

    def vec_of(vid, name):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias(name)))

    ex = (vec_of(RBS_POS[0], "p1")
          .crossJoin(F.broadcast(vec_of(RBS_POS[1], "p2")))
          .crossJoin(F.broadcast(vec_of(RBS_NEG[0], "n1"))))
    corpus = (emb.where(~F.col("vec_id").isin(*_RBS_IDS))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec")))
    cos = D.METRICS["cosine"]
    best_pos = F.greatest(cos("vec", "p1"), cos("vec", "p2"))
    best_neg = cos("vec", "n1")
    score = F.when(best_pos > best_neg, best_pos) \
             .otherwise(-(best_neg * best_neg))
    return (corpus.crossJoin(F.broadcast(ex))
                  .select("vec_id", "label",
                          F.round(score, 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id")
                  .limit(10))


@register("recommend_sum_scores", oracle=f"""
WITH p1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {RBS_POS[0]}),
p2 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {RBS_POS[1]}),
n1 AS (SELECT embedding::DOUBLE[] v FROM embeddings WHERE vec_id = {RBS_NEG[0]}),
s AS (
  SELECT vec_id, label,
         ({_CTX_COS.format(q="p1.v")} + {_CTX_COS.format(q="p2.v")})
         - {_CTX_COS.format(q="n1.v")} AS score
  FROM embeddings, p1, p2, n1
  WHERE vec_id NOT IN {_RBS_IDS!r})
SELECT vec_id, label, round(score, 6) AS score
FROM s ORDER BY score DESC, vec_id LIMIT 10
""")
def recommend_sum_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant `recommend` with `strategy=sum_scores` — the THIRD
    recommend strategy (beside `average_vector` = `recommend` in knn.py
    and `best_score` above), added for relevance-feedback loops
    (Rocchio-style): score = Σ sim(v, positiveᵢ) − Σ sim(v,
    negativeⱼ), every example contributing additively instead of
    best-of or mean-target. Same plan as best_score: all example
    vectors ride ONE broadcast row, the cosine sum is map-side in the
    corpus scan, TakeOrdered page. Additions run left-to-right
    identically on both engines; round-6 absorbs libm ulps."""
    from ..functions import distance as D
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")

    def vec_of(vid, name):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias(name)))

    ex = (vec_of(RBS_POS[0], "p1")
          .crossJoin(F.broadcast(vec_of(RBS_POS[1], "p2")))
          .crossJoin(F.broadcast(vec_of(RBS_NEG[0], "n1"))))
    corpus = (emb.where(~F.col("vec_id").isin(*_RBS_IDS))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec")))
    cos = D.METRICS["cosine"]
    score = (cos("vec", "p1") + cos("vec", "p2")) - cos("vec", "n1")
    return (corpus.crossJoin(F.broadcast(ex))
                  .select("vec_id", "label",
                          F.round(score, 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id")
                  .limit(10))


# ------------------------------------------------------- search_after

SA_CURSOR_DATE = "1999-06-15 00:00:00"
SA_CURSOR_KEY = 30000
SA_PAGE = 10


@register("search_after_page", oracle=f"""
SELECT o_orderkey, o_orderdate, o_orderpriority
FROM orders
WHERE o_orderdate > TIMESTAMP '{SA_CURSOR_DATE}'
   OR (o_orderdate = TIMESTAMP '{SA_CURSOR_DATE}'
       AND o_orderkey > {SA_CURSOR_KEY})
ORDER BY o_orderdate, o_orderkey
LIMIT {SA_PAGE}
""")
def search_after_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `search_after` — keyset deep pagination: the client passes
    the sort-key tuple of the last hit (here (o_orderdate,
    o_orderkey) — ES requires a unique tiebreaker field exactly like
    this) and gets the next page. THE at-scale pagination surface:
    unlike from/size (which scores and discards `from` hits on every
    shard — the reason ES caps it at 10k) the cursor becomes an
    ordinary range predicate, so Catalyst pushes it into the parquet
    scan (PushedFilters on o_orderdate) and row-group stats skip
    everything before the cursor; cost per page is O(page), not
    O(offset). ORDER BY + LIMIT compiles to TakeOrdered — no global
    sort."""
    orders = tables.load_parallel(spark, sf_dir, "orders", "o_orderkey")
    cd = F.lit(SA_CURSOR_DATE).cast("timestamp")
    after = (F.col("o_orderdate") > cd) | (
        (F.col("o_orderdate") == cd)
        & (F.col("o_orderkey") > SA_CURSOR_KEY))
    return (orders.where(after)
                  .select("o_orderkey", "o_orderdate", "o_orderpriority")
                  .orderBy("o_orderdate", "o_orderkey")
                  .limit(SA_PAGE))


# ---------------------------------------------------- multi_target_knn

MT_TARGETS = (0, 1)     # the two named-vector query targets


@register("multi_target_knn", oracle=f"""
WITH qa AS (SELECT embedding::DOUBLE[] v FROM embeddings
            WHERE vec_id = {MT_TARGETS[0]}),
qb AS (SELECT embedding::DOUBLE[] v FROM embeddings
       WHERE vec_id = {MT_TARGETS[1]})
SELECT vec_id, label,
       round({_CTX_COS.format(q="qa.v")}, 6) AS score_a,
       round({_CTX_COS.format(q="qb.v")}, 6) AS score_b,
       round({_CTX_COS.format(q="qa.v")}
             + {_CTX_COS.format(q="qb.v")}, 6) AS score
FROM embeddings, qa, qb
WHERE vec_id NOT IN {MT_TARGETS!r}
ORDER BY score DESC, vec_id LIMIT 10
""")
def multi_target_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate multi-target vector search (`near_vector` with
    `targetVectors: [A, B]`, join strategy `sum` — the default; also
    Qdrant's multi-named-vector query): ONE search ranked against TWO
    target vectors at once, per-target scores joined by summing, both
    reported beside the fused score exactly as Weaviate returns
    per-target distances. Both targets ride one broadcast row, so the
    fused score is a single map-side expression over one corpus scan
    — no second pass per target, no shuffle, TakeOrdered page.
    Additions are two-term and left-to-right; round-6 absorbs libm
    ulps."""
    from ..functions import distance as D
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")

    def target(vid, name):
        return (emb.where(F.col("vec_id") == vid)
                   .select(D.vec_double("embedding").alias(name)))

    q = (target(MT_TARGETS[0], "qa")
         .crossJoin(F.broadcast(target(MT_TARGETS[1], "qb"))))
    corpus = (emb.where(~F.col("vec_id").isin(*MT_TARGETS))
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec")))
    cos = D.METRICS["cosine"]
    sa, sb = cos("vec", "qa"), cos("vec", "qb")
    return (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id", "label",
                          F.round(sa, 6).alias("score_a"),
                          F.round(sb, 6).alias("score_b"),
                          F.round(sa + sb, 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id")
                  .limit(10))


# ----------------------------------------------- recommend lookup_from

LOOKUP_LABEL_MIN = 5    # collection B = the label>=5 slice


@register("recommend_lookup_from", oracle=f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
           WHERE label >= {LOOKUP_LABEL_MIN}),
i1 AS (SELECT min(vec_id) AS id FROM b),
i2 AS (SELECT min(vec_id) AS id FROM b, i1 WHERE vec_id > i1.id),
va AS (SELECT v FROM b, i1 WHERE vec_id = i1.id),
vb AS (SELECT v FROM b, i2 WHERE vec_id = i2.id),
q AS (SELECT list_transform(range(1, len(va.v) + 1),
                            i -> (va.v[i] + vb.v[i]) / 2) AS qvec
      FROM va, vb)
SELECT vec_id, label,
       round(list_dot_product(embedding::DOUBLE[], qvec)
             / (sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[]))
                * sqrt(list_dot_product(qvec, qvec))), 6) AS score
FROM embeddings, q
WHERE label < {LOOKUP_LABEL_MIN}
ORDER BY score DESC, vec_id LIMIT 10
""")
def recommend_lookup_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant `recommend` with `lookup_from`: the positive example
    IDS resolve in ANOTHER collection — here collection B is the
    label≥{LOOKUP_LABEL_MIN} slice (its two smallest point ids are
    the positives; deterministic at every sf) and the searched
    collection A is the disjoint label<{LOOKUP_LABEL_MIN} slice, so
    the query vector provably comes from outside the searched set.
    Strategy `average_vector` (Qdrant's default): mean of the
    looked-up positives, then one cosine knn over A.

    Scale shape: the lookup side reduces to two 1-row frames (min-id
    scalar aggregates — broadcast, never a corpus join), the mean is
    a map-side zip_with on one broadcast row, and A pays one scan →
    score → TakeOrdered pass, the same plan as plain knn."""
    from ..functions import distance as D
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    b = emb.where(F.col("label") >= LOOKUP_LABEL_MIN) \
           .select("vec_id", D.vec_double("embedding").alias("v"))
    i1 = b.agg(F.min("vec_id").alias("id1"))
    # second-smallest id: min over the remainder, joined without a
    # correlated subquery (both sides are 1-row broadcasts)
    i2 = (b.crossJoin(F.broadcast(i1))
           .where(F.col("vec_id") > F.col("id1"))
           .agg(F.min("vec_id").alias("id2")))
    va = (b.join(F.broadcast(i1), b.vec_id == i1.id1)
           .select(F.col("v").alias("va")))
    vb = (b.join(F.broadcast(i2), b.vec_id == i2.id2)
           .select(F.col("v").alias("vb")))
    q = (va.crossJoin(F.broadcast(vb))
           .select(F.zip_with("va", "vb",
                              lambda x, y: (x + y) / 2).alias("qvec"))
           .withColumn("nq", D.norm("qvec")))
    corpus = (emb.where(F.col("label") < LOOKUP_LABEL_MIN)
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    score = D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))
    return (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id", "label",
                          F.round(score, 6).alias("score"))
                  .orderBy(F.desc("score"), "vec_id")
                  .limit(10))
