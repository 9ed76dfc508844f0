"""Search quality evaluation — the ES `rank_eval` API surface
(precision@k / recall@k / nDCG@k over labeled relevance judgments;
implied by the `elasticsearch` client the reference installs,
/root/reference README.md:95). Every serving stack ships an eval
loop; at pipeline scale it runs as a batch job over (query, qrels)
tables.

Here the judgment set is derived deterministically from the corpus:
for query vec 0, a hit is relevant iff it carries the query's label —
the standard class-match protocol for synthetic eval. The operator
shape is the real thing: ranked results -> join qrels -> positional
gain math -> one metrics row.

Scale shape: the ranked list is bounded (top-k via TakeOrdered, ranks
via the window-free bounded-array shape); qrel counting is one
partial-agg'd aggregate over the corpus; the final metrics row is a
crossJoin of two 1-row aggregates. A thousand-query eval batch runs
the same plan with the query table broadcast (batch_knn's shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import artifacts, tables
from ..functions import distance as D
from ..registry import register

EVAL_K = 10

_COS = ("list_dot_product(e.embedding::DOUBLE[], q.qvec)"
        "/(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        "*sqrt(list_dot_product(q.qvec, q.qvec)))")


@register("search_quality_eval", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec, label AS qlabel
           FROM embeddings WHERE vec_id = 0),
ranked AS (
  SELECT e.vec_id, e.label, q.qlabel,
         row_number() OVER (ORDER BY {_COS} DESC, e.vec_id) AS pos
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY pos LIMIT {EVAL_K}),
rel AS (SELECT count(*) AS n_relevant
        FROM embeddings e, q
        WHERE e.vec_id <> 0 AND e.label = q.qlabel),
hits AS (
  SELECT count(*) AS n_hits,
         coalesce(sum(CASE WHEN label = qlabel
                           THEN 1.0 / log2(pos + 1) END), 0) AS dcg,
         count(*) FILTER (label = qlabel) AS n_rel_hits
  FROM ranked)
SELECT round(n_rel_hits * 1.0 / {EVAL_K}, 6) AS precision_at_k,
       round(n_rel_hits * 1.0
             / least(greatest(n_relevant, 1), {EVAL_K}), 6)
         AS recall_at_k,
       round(dcg / list_sum(list_transform(
             range(1, least(greatest(n_relevant, 1), {EVAL_K}) + 1),
             i -> 1.0 / log2(i + 1))), 6) AS ndcg_at_k,
       CAST(n_relevant AS BIGINT) AS n_relevant
FROM hits, rel
""")
def search_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank_eval for the cosine searcher on query vec 0: P@k, R@k
    (capped at k — the 'recall' ES rank_eval reports), and binary-gain
    nDCG@k with the ideal DCG from the true relevant count, k=10."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec"),
                    F.col("label").alias("qlabel"))
            .withColumn("nq", D.norm("qvec")))
    corpus = (emb.where(F.col("vec_id") != 0)
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    score = D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))
    topk = (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id", "label", "qlabel",
                          score.alias("score"))
                  .orderBy(F.desc("score"), "vec_id").limit(EVAL_K))
    # positions over the bounded top-k — array shape, no window
    arr = topk.agg(F.array_sort(F.collect_list(F.struct(
        (-F.col("score")).alias("_ns"), F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.col("qlabel").alias("qlabel")))).alias("a"))
    ranked = (arr.select(F.posexplode("a").alias("_pos", "_s"))
                 .select((F.col("_pos") + 1).alias("pos"),
                         F.col("_s.label").alias("label"),
                         F.col("_s.qlabel").alias("qlabel")))
    hits = ranked.agg(
        F.coalesce(F.sum(F.when(F.col("label") == F.col("qlabel"),
                                1.0 / F.log2(F.col("pos") + 1))),
                   F.lit(0.0)).alias("dcg"),
        F.count_if(F.col("label") == F.col("qlabel")).alias("n_rel_hits"))
    rel = (corpus.crossJoin(F.broadcast(q.select("qlabel")))
                 .where(F.col("label") == F.col("qlabel"))
                 .agg(F.count("*").alias("n_relevant")))
    # greatest(…, 1): with n_relevant = 0, Spark's sequence(1, 0)
    # yields [1, 0] (descending-range pitfall, functions/text.py)
    # while DuckDB's range(1, 1) is empty — guard BOTH sides so the
    # engines agree even on a label with no other members.
    idcg = F.expr(
        f"aggregate(sequence(1, least(greatest(n_relevant, 1), {EVAL_K})), "
        "0D, (acc, i) -> acc + 1.0 / log2(i + 1))")
    return (hits.crossJoin(F.broadcast(rel))
                .select(
        F.round(F.col("n_rel_hits") / F.lit(float(EVAL_K)), 6)
         .alias("precision_at_k"),
        F.round(F.col("n_rel_hits")
                / F.least(F.greatest(F.col("n_relevant"), F.lit(1)),
                          F.lit(EVAL_K)), 6)
         .alias("recall_at_k"),
        F.round(F.col("dcg") / idcg, 6).alias("ndcg_at_k"),
        F.col("n_relevant").cast("long").alias("n_relevant")))


# --------------------------------------------------- nprobe recall curve

NPROBE_LEVELS = (1, 2, 4, 8)
CURVE_K = 10


def _nprobe_curve_oracle() -> str:
    from .index import (_COS_EQ, _ivf_assign_ctes, _l2_sql,
                        _oracle_artifacts)
    cents, _, _ = _oracle_artifacts()
    lv = ", ".join(f"({np})" for np in NPROBE_LEVELS)
    return f"""
WITH {_ivf_assign_ctes(cents)},
cr AS (SELECT c.cid,
              row_number() OVER (ORDER BY {_l2_sql('q.vec', 'c.cvec')},
                                 c.cid) AS r
       FROM cent c, q),
sc AS (SELECT e.vec_id, {_COS_EQ} AS score, cr.r
       FROM e JOIN assigned a USING (vec_id)
            JOIN cr ON a.cid = cr.cid, q),
ex AS (SELECT vec_id FROM sc ORDER BY score DESC, vec_id
       LIMIT {CURVE_K}),
lv(np) AS (VALUES {lv}),
iv AS (SELECT lv.np, sc.vec_id,
              row_number() OVER (PARTITION BY lv.np
                                 ORDER BY sc.score DESC, sc.vec_id) AS rk
       FROM lv JOIN sc ON sc.r <= lv.np),
nc AS (SELECT lv.np, count(*) AS n_candidates
       FROM lv JOIN sc ON sc.r <= lv.np GROUP BY 1),
top AS (SELECT np, vec_id FROM iv WHERE rk <= {CURVE_K}),
rec AS (SELECT top.np, count(ex.vec_id) AS n_hit
        FROM top LEFT JOIN ex ON top.vec_id = ex.vec_id GROUP BY 1)
SELECT CAST(rec.np AS INT) AS nprobe,
       round(rec.n_hit / {CURVE_K}.0, 6) AS recall_at_k,
       CAST(nc.n_candidates AS BIGINT) AS n_candidates
FROM rec JOIN nc ON rec.np = nc.np
ORDER BY nprobe
"""


@register("nprobe_recall_curve", oracle=_nprobe_curve_oracle)
def nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall/cost tuning curve (the FAISS/Milvus `nprobe` sweep
    every ANN deployment runs before picking an operating point):
    recall@k of the IVF probe vs exact search at nprobe ∈
    {NPROBE_LEVELS}, with the candidate count the probe paid.

    Scale shape: ONE scored corpus⋈assignment pass carries each row's
    CELL RANK (its cell's distance rank w.r.t. the query — a 16-row
    broadcast); the 4 probe levels materialize from that single frame
    by a broadcast level join (a row fans out only to levels probing
    its cell), per-level top-k WindowGroupLimit-pruned. The exact
    baseline is the same frame un-filtered. An eval batch over many
    queries broadcasts the query table exactly like batch_knn."""
    from .index import assign_cells, centroids_for
    from pyspark.sql import Row, Window as W
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    first = emb.where(F.col("vec_id") == 0).first()
    if first is None:  # degenerate corpus without the query id
        return spark.createDataFrame(
            [], "nprobe int, recall_at_k double, n_candidates long")
    q = spark.createDataFrame(
        [Row(qvec=[float(x) for x in first.embedding])])
    cents = centroids_for(spark, sf_dir, corpus)
    # rank the |cells| frame with the window-free bounded shape
    # (hybrid.bounded_ranks): a global window here would be
    # constant-folded to an UNPARTITIONED WindowExec
    from .hybrid import bounded_ranks
    cd = (cents.crossJoin(F.broadcast(q))
               .select("cid", (-D.l2("cvec", "qvec")).alias("negd")))
    cr = bounded_ranks(cd, "negd", "cid", "r")
    # sc feeds THREE consumers (exact baseline, per-level top-k, level
    # counts) — checkpoint the SCALAR projection (vec_id, score, rank;
    # vectors already dropped) so the corpus scan + cosine pass runs
    # once, not three times (the suggest_phrase recompute class)
    sc = (corpus.join(assign_cells(corpus, cents), "vec_id")
                .join(F.broadcast(cr), "cid")
                .crossJoin(F.broadcast(q))
                .select("vec_id", D.cosine("vec", "qvec").alias("score"),
                        "r")
                .localCheckpoint(eager=False))
    ex = (sc.orderBy(F.desc("score"), "vec_id").limit(CURVE_K)
            .select("vec_id").withColumn("hit", F.lit(1)))
    lv = spark.createDataFrame([(np,) for np in NPROBE_LEVELS], "np int")
    cand = sc.join(F.broadcast(lv), sc.r <= lv.np)
    win = W.partitionBy("np").orderBy(F.desc("score"), "vec_id")
    top = (cand.withColumn("rk", F.row_number().over(win))
               .where(F.col("rk") <= CURVE_K))
    nc = cand.groupBy("np").agg(F.count("*").alias("n_candidates"))
    rec = (top.join(F.broadcast(ex), "vec_id", "left")
              .groupBy("np").agg(F.coalesce(F.sum("hit"), F.lit(0))
                                 .alias("n_hit")))
    return (rec.join(nc, "np")
               .select(F.col("np").cast("int").alias("nprobe"),
                       F.round(F.col("n_hit") / float(CURVE_K), 6)
                        .alias("recall_at_k"),
                       F.col("n_candidates").cast("long")
                        .alias("n_candidates"))
               .orderBy("nprobe"))


# ----------------------------------------- matryoshka recall curve

MRL_DIMS = (8, 16, 32, 64)
MRL_K = 10


def _mrl_cos_sql(d: int) -> str:
    v = f"(embedding::DOUBLE[])[1:{d}]"
    q = f"qvec[1:{d}]"
    return (f"list_dot_product({v}, {q})"
            f" / (sqrt(list_dot_product({v}, {v}))"
            f" * sqrt(list_dot_product({q}, {q})))")


@register("matryoshka_recall_curve", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         {", ".join(f"{_mrl_cos_sql(d)} AS s{d}" for d in MRL_DIMS)}
  FROM embeddings, q),
exact AS (SELECT vec_id FROM s ORDER BY s{MRL_DIMS[-1]} DESC, vec_id
          LIMIT {MRL_K}),
cuts AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS dim, vec_id FROM "
      f"(SELECT vec_id FROM s ORDER BY s{d} DESC, vec_id"
      f" LIMIT {MRL_K})" for d in MRL_DIMS)})
SELECT cuts.dim,
       CAST(count(exact.vec_id) AS BIGINT) AS hits,
       round(count(exact.vec_id) * 1.0 / {MRL_K}, 6) AS recall
FROM cuts LEFT JOIN exact USING (vec_id)
GROUP BY cuts.dim ORDER BY cuts.dim
""")
def matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation tuning curve — recall@{MRL_K} of
    each truncated-dimension search vs the full-dimension exact
    top-{MRL_K} (I13's shape for the OTHER approximation axis:
    nprobe tunes how many IVF cells to probe, this tunes how many
    leading dimensions to keep). The number every MRL deployment
    needs before picking its coarse dim (matryoshka_knn's 16 is
    readable straight off the curve).

    Scale shape: ONE corpus pass computes every truncation's cosine
    as sliced map-side expressions (with a dimension-sliced column
    layout each slice prunes bytes at the scan); the scored frame is
    scalar-projected and checkpointed (the I13 pattern) so the
    {len(MRL_DIMS)} per-dim cuts and the exact baseline re-read
    {MRL_K}-row TakeOrdered results, not the corpus; recall joins
    are broadcast-tiny."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec")))

    def cos(d):
        v, qv = f"slice(vec, 1, {d})", f"slice(qvec, 1, {d})"
        return D.safe_div(D.dot(v, qv), D.norm(v) * D.norm(qv))

    scored = (emb.select("vec_id", D.vec_double("embedding").alias("vec"))
                 .crossJoin(F.broadcast(q))
                 .select("vec_id",
                         *[cos(d).alias(f"s{d}") for d in MRL_DIMS])
                 .localCheckpoint(eager=False))
    exact = (scored.orderBy(F.desc(f"s{MRL_DIMS[-1]}"), "vec_id")
                   .limit(MRL_K).select("vec_id"))
    cuts = None
    for d in MRL_DIMS:
        c = (scored.orderBy(F.desc(f"s{d}"), "vec_id").limit(MRL_K)
                   .select(F.lit(d).alias("dim"), "vec_id"))
        cuts = c if cuts is None else cuts.unionAll(c)
    hit = F.when(F.col("e").isNotNull(), 1).otherwise(0)
    return (cuts.join(F.broadcast(exact.select(
                          F.col("vec_id").alias("vec_id"),
                          F.lit(1).alias("e"))),
                      "vec_id", "left")
                .groupBy("dim")
                .agg(F.sum(hit).cast("long").alias("hits"),
                     F.round(F.sum(hit) / F.lit(MRL_K), 6)
                      .alias("recall"))
                .orderBy("dim"))


# ------------------------------------- shard num_candidates curve

SHARD_N = 4                  # index shards (hash-routed, ES default-ish)
SHARD_NC = (1, 3, 10)        # num_candidates levels swept
SHARD_K = 10


@register("shard_candidates_curve", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
           WHERE vec_id = 0),
s AS (
  SELECT e.vec_id, {_COS} AS score,
         e.vec_id % {SHARD_N} AS shard
  FROM embeddings e, q),
r AS (
  SELECT vec_id, score,
         row_number() OVER (PARTITION BY shard
                            ORDER BY score DESC, vec_id) AS rk
  FROM s),
p AS (SELECT * FROM r WHERE rk <= {SHARD_K}),
exact AS (SELECT vec_id FROM p ORDER BY score DESC, vec_id
          LIMIT {SHARD_K}),
lv(nc) AS (VALUES {", ".join(f"({nc})" for nc in SHARD_NC)}),
cand AS (SELECT lv.nc, p.vec_id, p.score
         FROM lv JOIN p ON p.rk <= lv.nc),
nn AS (SELECT nc, count(*) AS n_candidates FROM cand GROUP BY 1),
top AS (
  SELECT nc, vec_id FROM (
    SELECT nc, vec_id,
           row_number() OVER (PARTITION BY nc
                              ORDER BY score DESC, vec_id) AS g
    FROM cand) WHERE g <= {SHARD_K}),
rec AS (SELECT top.nc, count(exact.vec_id) AS n_hit
        FROM top LEFT JOIN exact USING (vec_id) GROUP BY 1)
SELECT CAST(rec.nc AS INT) AS num_candidates,
       CAST(nn.n_candidates AS BIGINT) AS n_candidates,
       round(rec.n_hit / {SHARD_K}.0, 6) AS recall_at_k
FROM rec JOIN nn ON rec.nc = nn.nc
ORDER BY num_candidates
""")
def shard_candidates_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES approximate-knn `num_candidates` tuning curve: the index is
    hash-routed across {SHARD_N} shards (vec_id % {SHARD_N} — the
    doc-id routing every distributed index uses); each shard returns
    its local top-`num_candidates` by cosine and the coordinator
    merges them into the global top-{SHARD_K}. Recall@{SHARD_K} vs
    the exact search at num_candidates ∈ {SHARD_NC} — the third
    approximation axis beside I13's nprobe (cells probed) and I15's
    matryoshka dim (dimensions kept). num_candidates = k is exact by
    construction (each shard holds ≤ k of the true top-k inside its
    own top-k) — the curve's built-in sanity anchor.

    Scale shape: ONE scored corpus pass; the per-shard rank window
    partitions on the shard key (the data's natural layout — on a
    real cluster this window is map-side per index partition) and
    WindowGroupLimit prunes to rk ≤ {SHARD_K} before anything
    shuffles, so the merged frame is ≤ shards×k rows. Exact baseline,
    per-level cuts and recall joins all run on that bounded frame —
    no second corpus pass, broadcast-tiny merges."""
    from pyspark.sql import Row, Window as W
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    first = emb.where(F.col("vec_id") == 0).first()
    if first is None:
        return spark.createDataFrame(
            [], "num_candidates int, n_candidates long, recall_at_k double")
    q = spark.createDataFrame(
        [Row(qvec=[float(x) for x in first.embedding])])
    scored = (emb.select("vec_id",
                         D.vec_double("embedding").alias("vec"),
                         (F.col("vec_id") % SHARD_N).alias("shard"))
                 .crossJoin(F.broadcast(q))
                 .select("vec_id", "shard",
                         D.cosine("vec", "qvec").alias("score")))
    wsh = W.partitionBy("shard").orderBy(F.desc("score"), "vec_id")
    pruned = (scored.withColumn("rk", F.row_number().over(wsh))
                    .where(F.col("rk") <= SHARD_K)
                    .select("vec_id", "score", "rk")
                    .localCheckpoint(eager=False))
    exact = (pruned.orderBy(F.desc("score"), "vec_id").limit(SHARD_K)
                   .select("vec_id", F.lit(1).alias("hit")))
    lv = spark.createDataFrame([(nc,) for nc in SHARD_NC], "nc int")
    cand = pruned.join(F.broadcast(lv), pruned.rk <= lv.nc)
    nn = cand.groupBy("nc").agg(F.count("*").alias("n_candidates"))
    wnc = W.partitionBy("nc").orderBy(F.desc("score"), "vec_id")
    top = (cand.withColumn("g", F.row_number().over(wnc))
               .where(F.col("g") <= SHARD_K))
    rec = (top.join(F.broadcast(exact), "vec_id", "left")
              .groupBy("nc").agg(F.coalesce(F.sum("hit"), F.lit(0))
                                 .alias("n_hit")))
    return (rec.join(nn, "nc")
               .select(F.col("nc").cast("int").alias("num_candidates"),
                       F.col("n_candidates").cast("long"),
                       F.round(F.col("n_hit") / float(SHARD_K), 6)
                        .alias("recall_at_k"))
               .orderBy("num_candidates"))


# --------------------------------------- graded ERR / DCG rank_eval

ERR_K = 10


@register("err_rank_eval", oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec, label AS qlabel
           FROM embeddings WHERE vec_id = 0),
ranked AS (
  SELECT e.vec_id, e.label, q.qlabel,
         row_number() OVER (ORDER BY {_COS} DESC, e.vec_id) AS pos
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY pos LIMIT {ERR_K}),
graded AS (
  SELECT pos,
         CASE WHEN label = qlabel THEN 3
              WHEN label % 2 = qlabel % 2 THEN 1 ELSE 0 END AS g
  FROM ranked),
probs AS (
  SELECT pos, g, (pow(2, g) - 1) / 8.0 AS r,
         coalesce(sum(ln(1 - (pow(2, g) - 1) / 8.0))
                    OVER (ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS lp
  FROM graded)
SELECT round(sum(r / pos * exp(lp)), 6) AS err_at_k,
       round(sum((pow(2, g) - 1) / log2(pos + 1)), 6) AS dcg_at_k,
       CAST(count(*) FILTER (g > 0) AS BIGINT) AS n_graded_hits
FROM probs
""")
def err_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_rank_eval` `expected_reciprocal_rank` + graded-gain `dcg`
    (the two rank_eval metrics search_quality_eval's binary nDCG does
    not cover). Graded judgments derive deterministically from the
    label space (exact class -> 3, same parity -> 1, else 0 — a
    3-level synthetic qrel). ERR uses the cascade model: stop
    probability R_i = (2^g - 1)/2^g_max, ERR = sum_i R_i/i *
    prod_{{j<i}} (1 - R_j); the prefix product evaluates as
    exp(prefix-sum of ln(1-R)) on BOTH engines so the float path is
    shared term-for-term.

    Scale shape: the ranked list is the bounded TakeOrdered top-k;
    the cascade window runs over {ERR_K} rows — a thousand-query eval
    batch partitions the same window by query id and stays
    shuffle-light (qrels broadcast)."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    q = (emb.where(F.col("vec_id") == 0)
            .select(D.vec_double("embedding").alias("qvec"),
                    F.col("label").alias("qlabel"))
            .withColumn("nq", D.norm("qvec")))
    corpus = (emb.where(F.col("vec_id") != 0)
                 .select("vec_id", "label",
                         D.vec_double("embedding").alias("vec"))
                 .withColumn("nvec", D.norm("vec")))
    score = D.safe_div(D.dot("vec", "qvec"), F.col("nvec") * F.col("nq"))
    topk = (corpus.crossJoin(F.broadcast(q))
                  .select("vec_id", "label", "qlabel",
                          score.alias("score"))
                  .orderBy(F.desc("score"), "vec_id").limit(ERR_K))
    arr = topk.agg(F.array_sort(F.collect_list(F.struct(
        (-F.col("score")).alias("_ns"), F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.col("qlabel").alias("qlabel")))).alias("a"))

    # Bounded-array cascade: the ranked list is ONE k-element array,
    # so the prefix products evaluate per element over array slices —
    # no WindowExec anywhere (test_no_unpartitioned_windows gate).
    def grade(s):
        return (F.when(s.label == s.qlabel, F.lit(3.0))
                 .when(s.label % 2 == s.qlabel % 2, F.lit(1.0))
                 .otherwise(F.lit(0.0)))

    def stop_p(g):
        return (F.pow(F.lit(2.0), g) - 1) / F.lit(8.0)

    garr = arr.select(F.transform("a", grade).alias("g"))
    lp = F.transform(
        "g", lambda g, i: F.aggregate(
            F.slice("g", F.lit(1), i), F.lit(0.0),
            lambda acc, gg: acc + F.log(1 - stop_p(gg))))
    withlp = garr.select("g", lp.alias("lp"))
    # positional division needs the index — zip r*exp(lp) with pos
    terms = F.transform(
        F.zip_with("g", "lp", lambda g, l: stop_p(g) * F.exp(l)),
        lambda x, i: x / (i + 1).cast("double"))
    dcg_terms = F.transform(
        "g", lambda g, i: (F.pow(F.lit(2.0), g) - 1)
        / F.log2((i + 1).cast("double") + 1))
    return withlp.select(
        F.round(F.aggregate(terms, F.lit(0.0),
                            lambda a_, x: a_ + x), 6).alias("err_at_k"),
        F.round(F.aggregate(dcg_terms, F.lit(0.0),
                            lambda a_, x: a_ + x), 6).alias("dcg_at_k"),
        F.aggregate("g", F.lit(0).cast("long"),
                    lambda a_, g: a_ + (g > 0).cast("long"))
         .alias("n_graded_hits"))


# -------------------------------------- k-means training introspection

INERTIA_ITERS = (0, 1, 3)   # seed, one Lloyd step, the shipped fit


def _inertia_oracle() -> str:
    """Snapshot centroids refit Spark-free (same sample rows, same
    _lloyd_history), embedded as literals; per-snapshot inertia is
    min-over-centroids squared L2 summed over the WHOLE corpus with a
    DECIMAL fold so the sum is exact and order-free on both engines."""
    from .index import (
        KMEANS_ITERS, KMEANS_K, _dlist, _fit_sample, _l2_sql,
        _lloyd_history, _oracle_sf,
    )

    assert max(INERTIA_ITERS) == KMEANS_ITERS
    x, _ = _fit_sample(tables.table_path(_oracle_sf(), "embeddings"))
    hist = _lloyd_history(x, KMEANS_K, KMEANS_ITERS)
    mins = []
    for it in INERTIA_ITERS:
        ds = ", ".join(_l2_sql("vec", f"({_dlist(c)})") for c in hist[it])
        mins.append(f"least({ds})")
    ls = ", ".join(f"{m} AS l{i}" for i, m in enumerate(mins))
    ts = ", ".join(
        f"CAST(round(l{i} * l{i}, 6) AS DECIMAL(28,6)) AS t{i}"
        for i in range(len(INERTIA_ITERS)))
    ss = ", ".join(f"sum(t{i}) AS s{i}"
                   for i in range(len(INERTIA_ITERS)))
    vals = ", ".join(f"({it}, a.s{i})"
                     for i, it in enumerate(INERTIA_ITERS))
    return f"""
WITH e AS (SELECT embedding::DOUBLE[] AS vec FROM embeddings),
l AS (SELECT {ls} FROM e),
t AS (SELECT {ts} FROM l),
a AS (SELECT count(*) AS n, {ss} FROM t)
SELECT f.iter, round(CAST(f.s AS DOUBLE), 6) AS inertia,
       round(CAST(f.s AS DOUBLE) / a.n, 6) AS mean_sq_dist
FROM a, LATERAL (VALUES {vals}) AS f(iter, s)
ORDER BY f.iter
"""


@register("kmeans_inertia_curve", oracle=_inertia_oracle)
def kmeans_inertia_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS `Clustering` training introspection (the
    `clustering_iteration_stats` objective curve faiss exposes per
    iteration; reference stack ships faiss-cpu): CORPUS-WIDE k-means
    inertia — sum of squared distance to the nearest centroid — at
    the seed snapshot, after one Lloyd step, and at the shipped
    KMEANS_ITERS fit. The curve is how an index builder decides
    whether the quantizer has converged before committing an
    IVF/PQ train, and the corpus-wide evaluation (not just the
    training sample) is the honest number at scale.

    Scale shape: the fit stays the bounded driver-side sample fit
    every IVF op shares; the corpus pays ONE map-only scan — per row,
    min distance to each snapshot's 16 broadcast-literal centroids
    (48 codegen'd JVM folds), squared, rounded, folded as DECIMAL so
    the global sum is exact and order-free — then a single partial
    agg; the 3 output rows unpivot from that one aggregate row."""
    import numpy as np

    from .index import (
        KMEANS_ITERS, KMEANS_K, KMEANS_SAMPLE, _lloyd_history,
    )

    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select(D.vec_double("embedding").alias("vec"))
    path = tables.table_path(sf_dir, "embeddings")

    def build():
        rows = (spark.read.parquet(path)
                .orderBy("vec_id").limit(KMEANS_SAMPLE)
                .select(D.vec_double("embedding").alias("v")).collect())
        x = np.array([r.v for r in rows], dtype=np.float64)
        return (None if not len(rows)
                else _lloyd_history(x, KMEANS_K, KMEANS_ITERS))

    hist = artifacts.get("inertia_fit", path, build)
    if hist is None:  # degenerate corpus: nothing to fit or score
        return spark.createDataFrame(
            [], "iter int, inertia double, mean_sq_dist double")
    # Vectorized Arrow kernel for the 3-snapshot × k × 64-dim sweep
    # (the 48-fold expression tree spent its time in plan codegen, the
    # pq_reconstruct_error lesson). Bit-parity with the oracle's
    # sequential fold: the squared distance accumulates dimension-BY-
    # dimension in index order (np.sum's pairwise summation would
    # drift the last bits), then sqrt-and-square exactly like the
    # D.l2(...)² expression it replaces; rounding stays Spark-side.
    snaps = [np.array(hist[it], dtype=np.float64) for it in INERTIA_ITERS]

    def min_d2(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            xs = np.stack(pdf["vec"].to_numpy())
            out = {}
            for i, cents in enumerate(snaps):
                acc = np.zeros((len(xs), cents.shape[0]))
                for t_ in range(xs.shape[1]):
                    diff = xs[:, t_, None] - cents[None, :, t_]
                    acc += diff * diff
                d = np.sqrt(acc).min(axis=1)
                out[f"r{i}"] = d * d
            yield pd.DataFrame(out)

    raw = corpus.mapInPandas(
        min_d2, schema=", ".join(f"r{i} double"
                                 for i in range(len(INERTIA_ITERS))))
    t = raw.select(*[F.round(F.col(f"r{i}"), 6).cast("decimal(28,6)")
                     .alias(f"t{i}") for i in range(len(INERTIA_ITERS))])
    a = t.agg(F.count("*").alias("n"),
              *[F.sum(f"t{i}").alias(f"s{i}")
                for i in range(len(INERTIA_ITERS))])
    stack = F.explode(F.array(*[
        F.struct(F.lit(it).alias("iter"), F.col(f"s{i}").alias("s"))
        for i, it in enumerate(INERTIA_ITERS)])).alias("f")
    return (a.select("n", stack)
             .select(F.col("f.iter").alias("iter"),
                     F.round(F.col("f.s").cast("double"), 6)
                      .alias("inertia"),
                     F.round(F.col("f.s").cast("double") / F.col("n"), 6)
                      .alias("mean_sq_dist"))
             .orderBy("iter"))


# --------------------------------------------- batched rank_eval

BATCH_EVAL_Q = 8
BATCH_EVAL_K = 10


@register("batch_rank_eval", oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec, label AS qlabel
  FROM embeddings WHERE vec_id < {BATCH_EVAL_Q}),
sc AS (
  SELECT q.qid, e.vec_id, q.qlabel, e.label,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qvec)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qvec, q.qvec))) DESC,
             e.vec_id) AS rk
  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
top AS (SELECT * FROM sc WHERE rk <= {BATCH_EVAL_K})
SELECT qid,
       CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rel,
       round(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
             / {BATCH_EVAL_K}.0, 6) AS p_at_k,
       round(coalesce(max(CASE WHEN label = qlabel
                          THEN 1.0 / rk END), 0.0), 6) AS mrr
FROM top GROUP BY qid ORDER BY qid
""")
def batch_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_rank_eval` as it is actually called — a BATCH of rated
    requests in one API call (here {BATCH_EVAL_Q} label-qrel queries),
    returning per-query precision@k and reciprocal rank. This is the
    multi-query twin the single-query eval ops' docstrings promise:
    the query table broadcasts, the corpus is scanned ONCE for all
    queries, and the per-query rank window partitions on qid so
    WindowGroupLimit prunes each partition to k rows before the
    metric rollup.

    Scale shape: |Q|-row broadcast; one corpus scan computes all
    Q·N scores map-side; the ranking shuffle carries (qid, score, id)
    scalars only (vectors never shuffle); metrics are a |Q|-row
    partial agg. A thousand-query eval batch is the same plan with a
    bigger broadcast."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select("vec_id", "label",
                        D.vec_double("embedding").alias("vec"))
    q = (emb.where(F.col("vec_id") < BATCH_EVAL_Q)
            .select(F.col("vec_id").alias("qid"),
                    F.col("label").alias("qlabel"),
                    D.vec_double("embedding").alias("qvec")))
    from pyspark.sql import Window as W
    sc = (corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
                .select("qid", "vec_id", "qlabel", "label",
                        D.cosine("vec", "qvec").alias("score")))
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("score"), "vec_id"))
    top = sc.withColumn("rk", rk).where(F.col("rk") <= BATCH_EVAL_K)
    rel = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    return (top.groupBy("qid")
               .agg(F.sum(rel).cast("long").alias("n_rel"),
                    F.round(F.sum(rel) / float(BATCH_EVAL_K), 6)
                     .alias("p_at_k"),
                    F.round(F.coalesce(
                        F.max(F.when(F.col("label") == F.col("qlabel"),
                                     1.0 / F.col("rk"))), F.lit(0.0)), 6)
                     .alias("mrr"))
               .orderBy("qid"))
