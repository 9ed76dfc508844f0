"""ES Graph explore API (`POST /index/_graph/explore` — the X-Pack
Graph surface of the ES backend, reference README.md:82
`VECTOR_DB=elastic`): starting from seed term(s), discover the most
significantly CONNECTED terms (vertices) and expand one more hop,
returning the weighted vertex/connection spider. ES scores
connections with the same significance heuristics as
significant_terms; the JLH form used here is the engine's default
(shared with significant_text_agg).

Scale shape: ONE distinct (doc, token) explode feeds everything.
Hop 1 is significant_text's shape — foreground membership is a
map-side broadcast flag, conditional doc-frequency sums in a single
vocab-keyed partial agg (which also yields the global df reused as
hop 2's background). Hop 2 joins the bounded frontier (|hop1| terms'
posting rows) back onto the token frame BY doc_id — co-occurrence
pairs shuffle on the document key, per-source ranks are
WindowGroupLimit-pruned to the top few. The only collect is the
|hop1|-row frontier (the nprobe-cells class of bounded collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..functions.text import TOK_SQL, tokens
from ..registry import register

GRAPH_SEED = "scan"
GRAPH_H1 = 5        # vertices kept from hop 1
GRAPH_H2 = 3        # connections kept per hop-1 vertex
GRAPH_MIN_DOCS = 2  # ES graph min_doc_count certainty floor

_JLH = ("round((fg * 1.0 / nfg - bg * 1.0 / nall)"
        " * (fg * 1.0 / nfg) / (bg * 1.0 / nall), 6)")


def _jlh_col(fg, nfg, bg, nall) -> F.Column:
    fgr = fg * 1.0 / nfg
    bgr = bg * 1.0 / nall
    return F.round((fgr - bgr) * fgr / bgr, 6)


@register("graph_explore", oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
         unnest({TOK_SQL})
           AS token
  FROM documents),
tot AS (SELECT count(*) AS nall FROM documents),
sd AS (SELECT DISTINCT doc_id FROM dt WHERE token = '{GRAPH_SEED}'),
nf AS (SELECT count(*) AS nfg FROM sd),
tc AS (
  SELECT token,
         sum(CASE WHEN doc_id IN (SELECT doc_id FROM sd)
             THEN 1 ELSE 0 END) AS fg,
         count(*) AS bg
  FROM dt GROUP BY token),
h1 AS (
  SELECT token, fg, bg, {_JLH} AS score
  FROM tc, nf, tot
  WHERE token <> '{GRAPH_SEED}' AND fg >= {GRAPH_MIN_DOCS}
  ORDER BY score DESC, token LIMIT {GRAPH_H1}),
td AS (SELECT token AS src, doc_id FROM dt
       WHERE token IN (SELECT token FROM h1)),
nf2 AS (SELECT src, count(*) AS nfg2 FROM td GROUP BY src),
pairs AS (
  SELECT td.src, dt.token AS u, count(*) AS fg2
  FROM td JOIN dt USING (doc_id)
  WHERE dt.token <> td.src AND dt.token <> '{GRAPH_SEED}'
    AND dt.token NOT IN (SELECT token FROM h1)
  GROUP BY 1, 2),
s2 AS (
  SELECT p.src, p.u, p.fg2, tc.bg,
         round((p.fg2 * 1.0 / nf2.nfg2 - tc.bg * 1.0 / tot.nall)
               * (p.fg2 * 1.0 / nf2.nfg2) / (tc.bg * 1.0 / tot.nall), 6)
           AS score
  FROM pairs p
  JOIN nf2 ON p.src = nf2.src
  JOIN tc ON p.u = tc.token, tot
  WHERE p.fg2 >= {GRAPH_MIN_DOCS}),
h2 AS (
  SELECT src, u, fg2, score,
         row_number() OVER (PARTITION BY src
                            ORDER BY score DESC, u) AS rn
  FROM s2)
SELECT 1 AS depth, '{GRAPH_SEED}' AS source, token AS target,
       CAST(fg AS BIGINT) AS fg_docs, score
FROM h1
UNION ALL
SELECT 2, src, u, CAST(fg2 AS BIGINT), score
FROM h2 WHERE rn <= {GRAPH_H2}
ORDER BY depth, source, score DESC, target
""")
def graph_explore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop ES Graph explore from seed '{GRAPH_SEED}': hop 1 keeps
    the {GRAPH_H1} terms most significantly connected to the seed
    (JLH over docs-containing-seed vs the corpus), hop 2 expands each
    vertex to its {GRAPH_H2} strongest connections among UNSEEN terms
    (ES's exclude-already-returned-vertices rule). Returns the
    connection list (depth, source, target, doc overlap, score)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    dt = (docs.select("doc_id", F.explode(tokens("text")).alias("token"))
              .distinct()
              .localCheckpoint(eager=False))
    nall = docs.agg(F.count("*").alias("nall"))
    sd = dt.where(F.col("token") == GRAPH_SEED).select("doc_id").distinct()
    nf = sd.agg(F.count("*").alias("nfg"))
    flagged = dt.join(F.broadcast(sd.withColumn("in_fg", F.lit(1))),
                      "doc_id", "left")
    tc = (flagged.groupBy("token")
                 .agg(F.sum(F.coalesce("in_fg", F.lit(0))).alias("fg"),
                      F.count("*").alias("bg"))
                 .localCheckpoint(eager=False))
    h1 = (tc.crossJoin(F.broadcast(nf)).crossJoin(F.broadcast(nall))
            .where((F.col("token") != GRAPH_SEED)
                   & (F.col("fg") >= GRAPH_MIN_DOCS))
            .select("token", "fg",
                    _jlh_col(F.col("fg"), F.col("nfg"), F.col("bg"),
                             F.col("nall")).alias("score"))
            .orderBy(F.desc("score"), "token").limit(GRAPH_H1)
            .localCheckpoint())        # bounded frontier, reused 3x
    frontier = [r.token for r in h1.select("token").collect()]
    td = (dt.where(F.col("token").isin(frontier))
            .select(F.col("token").alias("src"), "doc_id"))
    nf2 = td.groupBy("src").agg(F.count("*").alias("nfg2"))
    pairs = (td.join(dt, "doc_id")
               .where((F.col("token") != F.col("src"))
                      & (F.col("token") != GRAPH_SEED)
                      & ~F.col("token").isin(frontier))
               .groupBy("src", F.col("token").alias("u"))
               .agg(F.count("*").alias("fg2")))
    s2 = (pairs.where(F.col("fg2") >= GRAPH_MIN_DOCS)
               .join(F.broadcast(nf2), "src")
               .join(tc.select(F.col("token").alias("u"), "bg"), "u")
               .crossJoin(F.broadcast(nall))
               .select("src", "u", "fg2",
                       _jlh_col(F.col("fg2"), F.col("nfg2"), F.col("bg"),
                                F.col("nall")).alias("score")))
    h2 = (s2.withColumn("rn", F.row_number().over(
              W.partitionBy("src").orderBy(F.desc("score"), "u")))
            .where(F.col("rn") <= GRAPH_H2))
    out1 = h1.select(F.lit(1).alias("depth"),
                     F.lit(GRAPH_SEED).alias("source"),
                     F.col("token").alias("target"),
                     F.col("fg").cast("long").alias("fg_docs"), "score")
    out2 = h2.select(F.lit(2).alias("depth"),
                     F.col("src").alias("source"),
                     F.col("u").alias("target"),
                     F.col("fg2").cast("long").alias("fg_docs"), "score")
    return out1.unionByName(out2).orderBy("depth", "source",
                                          F.desc("score"), "target")
