"""Training-mix sampling: quality-weighted document sampling and
domain-rebalancing ("data mixing") — the two selection steps between
a filtered crawl and a training corpus.

Both are DETERMINISTIC: the admit decision is a pure per-row function
of the stable doc_id (md5 fraction) against a per-row/per-domain
threshold, so resampling the same corpus yields the same subset on
any engine, any partitioning, any run — the property that makes a
100 TB sample reproducible and incrementally extendable (appending
rows never changes earlier admit decisions, same contract as
textops.hash_sample / hash_split).

Scale shape: quality weighting is map-only (per-row score + per-row
hash compare, no shuffle at all). Domain mixing needs ONE tiny
aggregate — per-domain counts (|domains| rows) — broadcast back as
the per-domain admit rate; the admit pass is again map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tables
from ..functions.hashing import md5_int60
from ..functions.text import TOK_SQL
from ..registry import register
from .textops import QUALITY_ORACLE_SELECT, quality_score_t

_POW60 = float(1 << 60)  # exact double; md5_int60/2^60 ∈ [0,1)

# target corpus shares per language (the "data mixing" recipe)
LANG_MIX = (("en", 0.25), ("de", 0.25), ("zh", 0.20),
            ("fr", 0.15), ("es", 0.15))

_QUALITY_SQL = QUALITY_ORACLE_SELECT


def _hash_frac_sql(id_expr: str) -> str:
    return (f"(('0x' || substr(md5(CAST({id_expr} AS VARCHAR)), 1, 15))"
            f"::BIGINT / {_POW60!r})")


def hash_frac(col) -> F.Column:
    """md5-derived uniform fraction in [0,1) of a stable id — the
    admit coin. long/double division is IEEE-exact-rounded, so the
    fraction (and every comparison against it) is engine-identical."""
    return md5_int60(F.col(col).cast("string") if isinstance(col, str)
                     else col.cast("string")) / F.lit(_POW60)


@register("quality_weighted_sample", oracle=f"""
WITH q AS ({_QUALITY_SQL})
SELECT doc_id, quality
FROM q
WHERE {_hash_frac_sql('doc_id')} < quality
ORDER BY doc_id
""")
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by document quality: each doc is admitted
    with probability equal to its [0,1] quality score (X2's exact
    formula), via the deterministic hash coin — high-quality docs are
    kept ~always, low-quality docs are downsampled proportionally.
    The standard soft-filter alternative to a hard quality cutoff."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    q = quality_score_t(docs).select("doc_id", "quality")
    return (q.where(hash_frac("doc_id") < F.col("quality"))
             .orderBy("doc_id"))


_MIX_CASE = ("CASE " + " ".join(f"WHEN lang = '{l}' THEN {s!r}e0"
                                for l, s in LANG_MIX) + " ELSE 0.0e0 END")


@register("domain_mix_sample", oracle=f"""
WITH n AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY 1),
t AS (SELECT lang, n_in, {_MIX_CASE} AS target FROM n),
cap AS (SELECT min(n_in / target) AS n_out FROM t WHERE target > 0),
r AS (SELECT lang, n_in,
             CASE WHEN target = 0 THEN 0.0e0
                  ELSE target * cap.n_out / n_in END AS rate
      FROM t, cap),
adm AS (SELECT d.lang, count(*) AS n_sampled
        FROM documents d JOIN r USING (lang)
        WHERE {_hash_frac_sql('d.doc_id')} < r.rate
        GROUP BY 1)
SELECT r.lang, CAST(r.n_in AS BIGINT) AS n_in,
       round(r.rate, 6) AS rate,
       CAST(coalesce(adm.n_sampled, 0) AS BIGINT) AS n_sampled
FROM r LEFT JOIN adm USING (lang)
ORDER BY lang
""")
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rebalancing to a target language mix: the largest
    achievable output size keeps every domain at its target share
    (n_out = min_s n_s/target_s), giving per-domain admit rates
    target_s·n_out/n_s ≤ 1; rows are admitted by the deterministic
    hash coin. Returns the per-domain plan + realized counts. The
    rate table is |domains| rows — a broadcast join onto the map-only
    admit pass at any corpus size."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return domain_mix_t(docs)


def domain_mix_t(docs: DataFrame,
                 mix: tuple[tuple[str, float], ...] = LANG_MIX) -> DataFrame:
    """Operator form of domain_mix_sample over any (doc_id, lang)
    frame. Domains absent from `mix` get target 0 → rate 0 →
    n_sampled 0 (kept in the plan row output, dropped from the
    sample) — pinned in tests/test_edge_cases.py."""
    target = F.lit(0.0)
    for l, s in reversed(mix):
        target = F.when(F.col("lang") == l, F.lit(s)).otherwise(target)
    t = (docs.groupBy("lang").agg(F.count("*").alias("n_in"))
             .withColumn("target", target))
    cap = (t.where(F.col("target") > 0)
            .agg(F.min(F.col("n_in") / F.col("target")).alias("n_out")))
    r = (t.crossJoin(F.broadcast(cap))
          .select("lang", "n_in",
                  F.when(F.col("target") == 0, F.lit(0.0))
                   .otherwise(F.col("target") * F.col("n_out")
                              / F.col("n_in")).alias("rate")))
    adm = (docs.join(F.broadcast(r.select("lang", "rate")), "lang")
               .where(hash_frac("doc_id") < F.col("rate"))
               .groupBy("lang").agg(F.count("*").alias("n_sampled")))
    return (r.join(adm, "lang", "left")
             .select("lang", F.col("n_in").cast("long").alias("n_in"),
                     F.round("rate", 6).alias("rate"),
                     F.coalesce(F.col("n_sampled"), F.lit(0))
                      .cast("long").alias("n_sampled"))
             .orderBy("lang"))


# ------------------------------------------------- temperature mixing

MIX_TEMPERATURE = 2.0  # share_s ∝ n_s^(1/T); T=2 → sqrt scaling


@register("temperature_mix_sample", oracle=f"""
WITH n AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY 1),
w AS (SELECT lang, n_in,
             CAST(round(sqrt(CAST(n_in AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS wgt
      FROM n),
s AS (SELECT CAST(sum(wgt) AS DOUBLE) AS wsum FROM w),
t AS (SELECT lang, n_in, CAST(wgt AS DOUBLE) / s.wsum AS share
      FROM w, s),
cap AS (SELECT min(n_in / share) AS n_out FROM t),
r AS (SELECT lang, n_in, share, share * cap.n_out / n_in AS rate
      FROM t, cap),
adm AS (SELECT d.lang, count(*) AS n_sampled
        FROM documents d JOIN r USING (lang)
        WHERE {_hash_frac_sql('d.doc_id')} < r.rate
        GROUP BY 1)
SELECT r.lang, CAST(r.n_in AS BIGINT) AS n_in,
       round(r.share, 6) AS share, round(r.rate, 6) AS rate,
       CAST(coalesce(adm.n_sampled, 0) AS BIGINT) AS n_sampled
FROM r LEFT JOIN adm USING (lang)
ORDER BY lang
""")
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual-LM
    data-mixing recipe: sampling share ∝ n_s^(1/T), here T=2):
    upweights rare domains relative to proportional sampling without
    domain_mix_sample's hand-set targets. Shares derive from the
    counts themselves — sqrt(n) per domain (correctly-rounded IEEE
    sqrt, so both engines agree bit-for-bit; the per-domain weights
    round to 6 dp and sum as exact DECIMAL, making the share
    denominator merge-order-free) — then the same largest-feasible
    scaling and deterministic md5 admit coin as domain_mix_sample.
    Same scale posture: one |domains|-row aggregate broadcast onto a
    map-only admit pass."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    t = (docs.groupBy("lang").agg(F.count("*").alias("n_in"))
             .withColumn("wgt", F.round(F.sqrt(F.col("n_in")
                                               .cast("double")), 6)
                                 .cast("decimal(18,6)")))
    s = t.agg(F.sum("wgt").cast("double").alias("wsum"))
    share = F.col("wgt").cast("double") / F.col("wsum")
    tt = (t.crossJoin(F.broadcast(s))
           .select("lang", "n_in", share.alias("share")))
    cap = tt.agg(F.min(F.col("n_in") / F.col("share")).alias("n_out"))
    r = (tt.crossJoin(F.broadcast(cap))
           .select("lang", "n_in", "share",
                   (F.col("share") * F.col("n_out") / F.col("n_in"))
                   .alias("rate"))
           .localCheckpoint(eager=False))  # |domains| rows, read twice
    adm = (docs.join(F.broadcast(r.select("lang", "rate")), "lang")
               .where(hash_frac("doc_id") < F.col("rate"))
               .groupBy("lang").agg(F.count("*").alias("n_sampled")))
    return (r.join(adm, "lang", "left")
             .select("lang", F.col("n_in").cast("long").alias("n_in"),
                     F.round("share", 6).alias("share"),
                     F.round("rate", 6).alias("rate"),
                     F.coalesce(F.col("n_sampled"), F.lit(0))
                      .cast("long").alias("n_sampled"))
             .orderBy("lang"))


# ------------------------------------------------------- sampler agg

SAMPLER_SHARD_SIZE = 50  # ES sampler `shard_size`


@register("sampler_agg", oracle=f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT, doc_id) AS rn
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_sampled,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
FROM d WHERE rn <= {SAMPLER_SHARD_SIZE}
GROUP BY lang ORDER BY lang
""")
def sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES plain `sampler` aggregation (the unconditioned sibling of
    `diversified_sampler`/X19): each shard contributes its first
    `shard_size` documents and the sub-aggregation (here a per-lang
    count + mean length) runs over the union sample. Shards model as
    the `source` partitions; "first" is the deterministic md5 order
    every sampling op here draws in, so the sample is reproducible on
    any engine or partitioning.

    Scale shape: the per-shard draw is a row_number window whose
    WindowGroupLimit pre-prunes every partition to `shard_size` rows
    BEFORE the shuffle (the diversified_sample plan), so the exchange
    moves O(shards·shard_size) rows at any corpus size; the sub-agg
    sums integers (exact, merge-order-free) and divides once."""
    from pyspark.sql import Window as W

    from ..functions.hashing import md5_int32
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    w = (W.partitionBy("source")
          .orderBy(md5_int32(F.col("doc_id").cast("string")), "doc_id"))
    s = (docs.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= SAMPLER_SHARD_SIZE))
    return (s.groupBy("lang")
             .agg(F.count("*").cast("long").alias("n_sampled"),
                  F.round(F.sum("n_chars").cast("double") / F.count("*"),
                          6).alias("avg_chars"))
             .orderBy("lang"))


# ------------------------------------------------- random_sampler agg

RS_PROB = 0.125  # ES random_sampler `probability` (exact in binary)


@register("random_sampler_agg", oracle=f"""
WITH s AS (
  SELECT event_type, value FROM events
  WHERE {_hash_frac_sql('event_id')} < {RS_PROB!r})
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(round(count(*) / {RS_PROB!r}) AS BIGINT) AS est_count,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / {RS_PROB!r}, 6) AS est_total_value
FROM s GROUP BY 1 ORDER BY 1
""")
def random_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `random_sampler` aggregation: sub-aggs run over a
    probability-p random subset and count-type results scale back up
    by 1/p — the documented way to trade a bounded accuracy loss for
    a ~1/p cost cut on huge corpora. The coin is the repo's
    deterministic md5 fraction (reproducible, append-stable — ES uses
    a seeded hash for the same reason); p = {RS_PROB} is an exact
    binary fraction so the threshold compare has no representation
    ulp. Map-only admit, one partial agg, census-sized output;
    sampled sums accumulate as exact DECIMAL before the one scale-up
    division."""
    ev = tables.load(spark, sf_dir, "events")
    s = ev.where(hash_frac("event_id") < F.lit(RS_PROB))
    return (s.groupBy("event_type")
             .agg(F.count("*").cast("long").alias("n_sampled"),
                  F.round(F.count("*") / RS_PROB).cast("long")
                   .alias("est_count"),
                  F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                           .cast("double") / RS_PROB, 6)
                   .alias("est_total_value"))
             .orderBy("event_type"))


# ------------------------------- sampler ∘ significant_terms composition

SST_LANG = "en"
SST_TOP = 10


@register("sampled_significant_terms", oracle=f"""
WITH d AS (
  SELECT doc_id, lang, text,
         row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT, doc_id) AS rn
  FROM documents),
samp AS (SELECT doc_id, lang, text FROM d WHERE rn <= {SAMPLER_SHARD_SIZE}),
fgt AS (
  SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS token
  FROM samp WHERE lang = '{SST_LANG}'),
bgt AS (
  SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS token FROM documents),
tot AS (
  SELECT (SELECT count(*) FROM samp WHERE lang = '{SST_LANG}') AS nfg,
         (SELECT count(DISTINCT doc_id) FROM documents) AS nall),
fc AS (SELECT token, count(*) AS fg_docs FROM fgt GROUP BY token),
bc AS (SELECT token, count(*) AS bg_docs FROM bgt GROUP BY token)
SELECT fc.token, CAST(fg_docs AS BIGINT) AS fg_docs,
       CAST(bg_docs AS BIGINT) AS bg_docs,
       round((fg_docs * 1.0 / nfg - bg_docs * 1.0 / nall)
             * (fg_docs * 1.0 / nfg) / (bg_docs * 1.0 / nall), 6)
         AS jlh_score
FROM fc JOIN bc ON fc.token = bc.token CROSS JOIN tot
ORDER BY jlh_score DESC, fc.token LIMIT {SST_TOP}
""")
def sampled_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES's documented cost-control composition: a `sampler` agg
    WRAPPING `significant_text` (the ES significant-text docs
    recommend exactly this pairing) — foreground statistics come from
    the per-shard sample (shard_size first-by-md5 docs, the
    sampler_agg draw) restricted to the query match (lang=
    '{SST_LANG}'), while the BACKGROUND stays the full index term
    dictionary, exactly ES's semantics (sampler scopes the sub-agg's
    foreground; background_filter defaults to the whole index).

    Scale shape: the expensive side flips — the foreground tokenize
    runs over O(shards·shard_size) sampled docs instead of every
    match (WindowGroupLimit prunes each shard before the draw
    shuffle), and the background doc-frequency is the one
    full-corpus pass an index would serve from its term dictionary;
    the tiny foreground vocabulary then prunes the join. JLH scored,
    exact integer doc counts, one end division per term."""
    from pyspark.sql import Window as W

    from ..functions.hashing import md5_int32
    from ..functions.text import tokens
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    w = (W.partitionBy("source")
          .orderBy(md5_int32(F.col("doc_id").cast("string")), "doc_id"))
    samp = (docs.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= SAMPLER_SHARD_SIZE))
    fg = samp.where(F.col("lang") == SST_LANG)
    fgt = fg.select("doc_id", F.explode(tokens("text")).alias("token")) \
            .distinct()
    fc = fgt.groupBy("token").agg(F.count("*").alias("fg_docs"))
    bgt = docs.select("doc_id", F.explode(tokens("text")).alias("token")) \
              .distinct()
    bc = bgt.groupBy("token").agg(F.count("*").alias("bg_docs"))
    tot = (fg.agg(F.count("*").alias("nfg"))
             .crossJoin(F.broadcast(
                 docs.agg(F.countDistinct("doc_id").alias("nall")))))
    fgp = F.col("fg_docs") / F.col("nfg")
    bgp = F.col("bg_docs") / F.col("nall")
    # fc is sample-bounded — broadcast it into the vocabulary join so
    # the full-corpus side never shuffles on token
    return (bc.join(F.broadcast(fc), "token")
              .crossJoin(F.broadcast(tot))
              .select("token",
                      F.col("fg_docs").cast("long").alias("fg_docs"),
                      F.col("bg_docs").cast("long").alias("bg_docs"),
                      F.round((fgp - bgp) * fgp / bgp, 6)
                       .alias("jlh_score"))
              .orderBy(F.desc("jlh_score"), "token").limit(SST_TOP))


# ------------------------- weighted sampling without replacement (E-S)

WSK_K = 20


@register("weighted_sample_k", oracle=f"""
WITH q AS ({_QUALITY_SQL}),
keyed AS (
  SELECT doc_id,
         round(quality, 6) AS weight,
         round(pow({_hash_frac_sql('doc_id')},
                   1.0 / greatest(quality, 1e-6)), 6) AS key
  FROM q)
SELECT doc_id, weight, key FROM keyed
ORDER BY key DESC, doc_id LIMIT {WSK_K}
""")
def weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-Res): key = u^(1/w) with u the
    deterministic md5 coin and w the document quality score; the
    top-k keys ARE a weighted sample without replacement — the
    exact primitive for drawing a quality-weighted eval or seed set
    of a FIXED size, where quality_weighted_sample's Bernoulli
    admission only controls the expectation.

    Scale shape: key is map-side scan arithmetic; top-k is
    TakeOrdered (per-partition heads + a k-row driver merge, no
    global sort) — E-S's whole point is that a distributed top-k is
    the entire algorithm. The pow lands only in the ROUNDED output
    and ORDER BY uses the rounded key (tie-break doc_id), the T53
    discipline, so libm ulps cannot reorder engines."""
    from .textops import quality_score_t
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    q = quality_score_t(docs).select("doc_id", "quality")
    key = F.round(F.pow(hash_frac("doc_id"),
                        1.0 / F.greatest(F.col("quality"), F.lit(1e-6))), 6)
    return (q.select("doc_id", F.round("quality", 6).alias("weight"),
                     key.alias("key"))
             .orderBy(F.desc("key"), "doc_id").limit(WSK_K))


# --------------------------------------------- training export shards

SHARDS_N = 32         # shard fan-out of the export
SHARDS_SALT = "shard"


@register("training_shards", oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars,
         len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
           AS n_tokens,
         (('0x' || substr(md5('{SHARDS_SALT}:'
                              || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
           % {SHARDS_N} AS shard
  FROM documents)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM t GROUP BY shard ORDER BY shard
""")
def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32 — deterministic training-export sharding census: every
    document routes to shard md5(salt:doc_id) % {SHARDS_N} and the
    census reports per-shard doc / token / char totals — the numbers
    that prove the export is balanced BEFORE writing 100 TB of
    training shards. Salted content-free hashing is the export
    contract: reshuffling an epoch = changing the salt, resuming a
    crashed export = same salt, and co-trained readers reproduce the
    exact shard membership from (salt, doc_id) alone.

    Scale shape: the shard id is map-side scan arithmetic (md5 —
    engine-identical); the census is one partial-agg'd groupBy over
    {SHARDS_N} keys. The EXPORT this censuses is
    `df.repartition(N, shard_col).write` — hash routing, never the
    `orderBy(rand())` global-sort anti-pattern, so no stage ever
    materializes a total order of the corpus."""
    from ..functions.text import tokens

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    shard = (md5_int60(F.concat(F.lit(f"{SHARDS_SALT}:"),
                                F.col("doc_id").cast("string")))
             % SHARDS_N).cast("int")
    return (docs.select(shard.alias("shard"),
                        F.size(tokens("text")).alias("n_tokens"),
                        "n_chars")
                .groupBy("shard")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum("n_tokens").cast("long").alias("n_tokens"),
                     F.sum("n_chars").cast("long").alias("n_chars"))
                .orderBy("shard"))


# ------------------------------------------------ curriculum pacing

CURR_STAGES = 4


@register("curriculum_schedule", oracle=f"""
WITH q AS (
  SELECT quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.50) AS q2,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents),
s AS (
  SELECT CASE WHEN n_chars <= q.q1 THEN 0
              WHEN n_chars <= q.q2 THEN 1
              WHEN n_chars <= q.q3 THEN 2
              ELSE 3 END AS stage,
         n_chars
  FROM documents, q)
SELECT stage, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
FROM s GROUP BY stage ORDER BY stage
""")
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering (the easy→hard pacing schedule of
    curriculum-learning pipelines): documents bucket into
    {CURR_STAGES} pacing stages by difficulty — doc length is the
    classic proxy — with stage boundaries at the exact interpolated
    quartiles, and the schedule census (docs, token mass, bounds per
    stage) a trainer consumes to plan epochs. The stage column IS the
    deterministic sort key: writing the corpus partitioned by it
    yields the curriculum order without any global sort.

    Scale shape: boundaries are a 1-row exact-percentile aggregate
    broadcast back onto the scan (percentile_approx is the documented
    100 TB swap, as everywhere in the percentile family); stage
    assignment is a map-side CASE ladder; the census is one
    {CURR_STAGES}-row partial agg. No global sort anywhere — the
    curriculum materializes through partitioning, not ordering."""
    docs = tables.load(spark, sf_dir, "documents")
    q = docs.agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.50)).alias("q2"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"))
    stage = (F.when(F.col("n_chars") <= F.col("q1"), 0)
              .when(F.col("n_chars") <= F.col("q2"), 1)
              .when(F.col("n_chars") <= F.col("q3"), 2)
              .otherwise(3))
    s = docs.crossJoin(F.broadcast(q)).select(stage.alias("stage"),
                                              "n_chars")
    return (s.groupBy("stage")
             .agg(F.count("*").alias("n_docs"),
                  F.sum("n_chars").cast("long").alias("total_chars"),
                  F.min("n_chars").alias("min_chars"),
                  F.max("n_chars").alias("max_chars"),
                  F.round(F.sum("n_chars").cast("double") / F.count("*"),
                          6).alias("mean_chars"))
             .orderBy("stage"))


# -------------------------------------------------- epoch planning

EPOCH_BUDGET_TOKENS = 500_000   # training-run token budget
EPOCH_MAX_REPEAT = 4.0          # repeat cap before flagging scarcity


@register("epoch_plan", oracle=f"""
WITH d AS (
  SELECT lang,
         CAST(sum(len(list_filter(string_split(trim(text), ' '),
                                  t -> t <> ''))) AS BIGINT) AS toks
  FROM documents GROUP BY lang),
w(lang, wt) AS (VALUES {", ".join(f"('{l}', {w!r}e0)"
                                  for l, w in LANG_MIX)}),
p AS (
  SELECT d.lang, d.toks, w.wt,
         CAST(round({EPOCH_BUDGET_TOKENS} * w.wt, 0) AS BIGINT)
           AS alloc
  FROM d JOIN w USING (lang))
SELECT lang, toks AS corpus_tokens, wt AS target_weight,
       alloc AS allocated_tokens,
       round(alloc * 1.0 / toks, 6) AS epochs,
       alloc * 1.0 / toks > {EPOCH_MAX_REPEAT!r} AS scarce
FROM p ORDER BY lang
""")
def epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix epoch planning (the per-domain repeat-factor
    table of data-mixing recipes): given a token budget and target
    mixture weights (LANG_MIX's shape), allocate tokens per domain
    and derive the epoch count (allocated / available) — the number
    every mixture paper reports and every data loader needs; domains
    whose repeat factor exceeds the cap are flagged `scarce` (the
    signal to re-weight or go collect more data, the standard
    repeat-degradation guard).

    Scale shape: ONE linear-in-tokens pass folds per-domain token
    counts (map-side token size, |domains|-row partial agg); the
    weights table is a literal; everything after is |domains|-row
    arithmetic. The plan FEEDS temperature_mix_sample /
    domain_mix_sample — this is the planning half of the mixing
    pair."""
    from ..functions.text import tokens

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    d = (docs.groupBy("lang")
             .agg(F.sum(F.size(tokens("text"))).cast("long")
                   .alias("toks")))
    w = docs.sparkSession.createDataFrame(
        list(LANG_MIX), "lang string, wt double")
    alloc = F.round(EPOCH_BUDGET_TOKENS * F.col("wt"), 0).cast("long")
    p = d.join(F.broadcast(w), "lang").withColumn("alloc", alloc)
    epochs = F.col("alloc") * 1.0 / F.col("toks")
    return (p.select("lang",
                     F.col("toks").alias("corpus_tokens"),
                     F.col("wt").alias("target_weight"),
                     F.col("alloc").alias("allocated_tokens"),
                     F.round(epochs, 6).alias("epochs"),
                     (epochs > EPOCH_MAX_REPEAT).alias("scarce"))
             .orderBy("lang"))
