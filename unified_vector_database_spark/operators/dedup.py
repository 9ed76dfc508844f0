"""Dedup family (SURVEY §2.5) — exact, MinHash+LSH, n-gram Jaccard,
and embedding-cosine near-dup. First-class pipeline operators for
100 TB corpus hygiene.

Scale shape (the part that matters): candidate **pairs are only ever
generated inside LSH band buckets**, never by a quadratic self-join.
The shuffle key is the band hash, which is uniform by construction
(it is a min of universal hashes), so the bucket join parallelizes
evenly; the expensive Jaccard verification runs on the tiny candidate
set. MinHash signatures themselves are one groupBy over the shingle
table. Everything bottoms out in md5 (functions/hashing.py) so the
DuckDB oracle reproduces each stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..constants import LSH_ROWS, MINHASH_A, MINHASH_B, MINHASH_P
from ..functions.hashing import md5_int32, minhash_perm
from ..functions.text import TOK_SQL, word_shingles
from ..registry import register

_K = len(MINHASH_A)
_SHINGLE_N = 3

# ---- shared DuckDB CTE: tokens -> 3-word shingles -> minhash sigs ----
_SIG_CTE = f"""
tok AS (
  SELECT doc_id,
         unnest({TOK_SQL}) AS token,
         generate_subscripts({TOK_SQL}, 1) AS pos
  FROM documents),
sh AS (
  SELECT doc_id, concat_ws(' ', token, t1, t2) AS shingle
  FROM (SELECT doc_id, token,
               lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
               lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        FROM tok)
  WHERE t2 IS NOT NULL),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
  FROM shd),
sig AS (
  SELECT doc_id,
         {", ".join(f"min(({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P}) AS m{j}" for j in range(_K))}
  FROM hashed GROUP BY doc_id)
"""


def shingle_sets(docs: DataFrame) -> DataFrame:
    return word_shingles(docs, "doc_id", "text", _SHINGLE_N).distinct()


def minhash_signatures(docs: DataFrame,
                       shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, m0..m7): one shingle explode + one groupBy. Pass a
    cached `shingles` frame to share the explode with other stages."""
    sh = shingles if shingles is not None else shingle_sets(docs)
    h = md5_int32("shingle")
    hashed = sh.select("doc_id", h.alias("h"))
    return hashed.groupBy("doc_id").agg(
        *[F.min(minhash_perm(F.col("h"), j)).alias(f"m{j}")
          for j in range(_K)])


def minhash_signature_arr(text_col) -> F.Column:
    """The full k-permutation MinHash signature as ONE map-side array
    column — no explode, no groupBy — built with the same shingle
    set, md5 base hash, and permutations as minhash_signatures, so
    the two forms are value-identical (pinned in tests/test_r6_ops).
    This is the STREAM-friendly form: a stateless per-row expression
    that lets a readStream pipeline band documents without a
    pre-aggregation (only the band rollup itself holds state).
    Docs with no shingles (< n tokens) return the identity signature
    [P]*k — callers must filter on shingle count, exactly as the
    groupBy form drops hash-less docs."""
    from ..functions.text import ngram_array
    sh = ngram_array(text_col, _SHINGLE_N)
    hashed = F.transform(sh, lambda s: md5_int32(s))
    init = F.array(*[F.lit(MINHASH_P).cast("long") for _ in range(_K)])
    return F.aggregate(
        hashed, init,
        lambda acc, x: F.zip_with(
            acc, F.array(*[minhash_perm(x, j) for j in range(_K)]),
            lambda a, b: F.least(a, b)))


def band_keys_arr(sig_arr) -> F.Column:
    """(band, key) structs of an array-form signature — the map-side
    twin of band_frame's explode source. NB: referencing a COMPUTED
    sig_arr expression here would re-evaluate it once per element_at
    (8x/row — measured 30x at the 64x sweep); pass a bound column or
    use minhash_band_structs, which closes over the fold's finish
    lambda so the signature is computed exactly once."""
    n_bands = _K // LSH_ROWS
    return F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.concat_ws("_", *[
                     F.element_at(sig_arr, i * LSH_ROWS + r + 1)
                     for r in range(LSH_ROWS)]).alias("key"))
        for i in range(n_bands)])


def minhash_band_structs(text_col) -> F.Column:
    """(band, key) structs straight from the text column in ONE
    map-side fold: minhash_signature_arr's aggregate with the band
    construction moved into the `finish` lambda — there the
    accumulator is a bound variable, so its 2·bands references read
    the already-computed mins instead of re-running the whole
    shingle/md5/permutation fold per reference."""
    from ..functions.text import ngram_array
    sh = ngram_array(text_col, _SHINGLE_N)
    hashed = F.transform(sh, lambda s: md5_int32(s))
    init = F.array(*[F.lit(MINHASH_P).cast("long") for _ in range(_K)])
    return F.aggregate(
        hashed, init,
        lambda acc, x: F.zip_with(
            acc, F.array(*[minhash_perm(x, j) for j in range(_K)]),
            lambda a, b: F.least(a, b)),
        lambda acc: band_keys_arr(acc))


def band_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key): the LSH band keys of each signature —
    shared by the full self-join candidate generator and the
    incremental batch-vs-corpus probe."""
    n_bands = _K // LSH_ROWS
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.concat_ws("_", *[F.col(f"m{i * LSH_ROWS + r}")
                                        for r in range(LSH_ROWS)]).alias("key"))
            for i in range(n_bands)])).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")


def lsh_candidate_pairs(sig: DataFrame,
                        bucket_cap: int | None = None) -> DataFrame:
    """Band the signatures (bands of LSH_ROWS values) and emit doc
    pairs sharing any band — the scale-safe candidate generator.

    `bucket_cap` bounds the worst case (SURVEY §6's skew promise): a
    degenerate band bucket of B docs (boilerplate/empty shingles at
    web scale) explodes into B^2/2 pairs; with a cap only the
    `bucket_cap` lowest-id docs per (band, key) enter the pair join,
    so any bucket contributes <= cap*(cap-1)/2 pairs. Deterministic
    (id order), one extra window over the SAME (band, key) shuffle
    key the join needs anyway. None = exact (the oracle-checked
    queries on the synthetic corpus, which has no hot buckets)."""
    bands = band_frame(sig)
    if bucket_cap is not None:
        w = W.partitionBy("band", "key").orderBy("doc_id")
        bands = (bands.withColumn("_rn", F.row_number().over(w))
                      .where(F.col("_rn") <= bucket_cap).drop("_rn"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


@register("dedup_exact", oracle="""
SELECT count(*) AS n_docs,
       count(DISTINCT md5(lower(trim(text)))) AS n_unique,
       count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_dup_docs
FROM documents
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: group on md5, keep-one.
    At scale this is a single hash aggregate; the summary row reports
    corpus-level dup stats."""
    docs = tables.load(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(key).alias("n_unique"),
        (F.count("*") - F.countDistinct(key)).alias("n_dup_docs"))


@register("dedup_minhash", oracle=f"""
WITH {_SIG_CTE}
SELECT doc_id, {", ".join(f"m{j}" for j in range(_K))}
FROM sig ORDER BY doc_id
""")
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8 permutations over word-3-shingles)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return minhash_signatures(docs).orderBy("doc_id")


@register("dedup_jaccard", oracle=f"""
WITH {_SIG_CTE},
bands AS (
  SELECT doc_id, band, key FROM (
    {" UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, concat_ws('_', m{i * LSH_ROWS}, m{i * LSH_ROWS + 1}) AS key FROM sig"
        for i in range(_K // LSH_ROWS))})),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
nsh AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN shd sa ON sa.doc_id = c.id_a
  JOIN shd sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b, i.shared,
       round(i.shared * 1.0 / (na.n + nb.n - i.shared), 6) AS jaccard
FROM inter i
JOIN nsh na ON na.doc_id = i.id_a
JOIN nsh nb ON nb.doc_id = i.id_b
ORDER BY jaccard DESC, i.id_a, i.id_b
LIMIT 20
""")
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates -> exact n-gram Jaccard verification, top pairs.
    The verify join touches only banded candidates — at 100 TB the
    candidate set is O(near-dups), not O(n^2)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    # the shingle explode feeds signatures, set sizes AND the verify
    # join — cache it once (at cluster scale: persist to DISK_AND_MEM
    # or a checkpointed table between the build and verify stages)
    shd = shingle_sets(docs).cache()
    hashed = shd.select("doc_id", md5_int32("shingle").alias("h"))
    # signatures and set sizes in ONE aggregation pass, materialized
    # once: three consumers (cand, na, nb) would otherwise each re-run
    # the k-min aggregation over the cached shingles — cache() marks
    # the logical plan but each consumer still plans its own exchange
    # above it, so the agg shuffle repeats per consumer without this
    per_doc = hashed.groupBy("doc_id").agg(
        *[F.min(minhash_perm(F.col("h"), j)).alias(f"m{j}")
          for j in range(_K)],
        F.count("*").alias("n")).cache()
    sig = per_doc.drop("n")
    cand = lsh_candidate_pairs(sig)
    nsh = per_doc.select("doc_id", "n")
    sa, sb = shd.alias("sa"), shd.alias("sb")
    inter = (cand.join(sa, F.col("sa.doc_id") == F.col("id_a"))
                 .join(sb, (F.col("sb.doc_id") == F.col("id_b"))
                       & (F.col("sb.shingle") == F.col("sa.shingle")))
                 .groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("shared")))
    na, nb = nsh.alias("na"), nsh.alias("nb")
    return (inter.join(na, F.col("na.doc_id") == F.col("id_a"))
                 .join(nb, F.col("nb.doc_id") == F.col("id_b"))
                 .select("id_a", "id_b", "shared",
                         F.round(F.col("shared") * 1.0
                                 / (F.col("na.n") + F.col("nb.n") - F.col("shared")),
                                 6).alias("jaccard"))
                 .orderBy(F.desc("jaccard"), "id_a", "id_b")
                 .limit(20))


@register("embed_near_dup", oracle="""
WITH q AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
s AS (SELECT id_a, vec_id AS id_b,
             list_dot_product(embedding::DOUBLE[], qvec)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qvec, qvec))) AS score
      FROM embeddings, q
      WHERE vec_id <> id_a)
SELECT id_a, id_b, score FROM s WHERE score >= 0.28
ORDER BY id_a, id_b
""")
def embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs for a 1-in-50 probe sample
    against the full corpus (radius join). The oracle-checked variant
    samples the left side; the unrestricted scale path is the LSH
    similarity join (operators/index.py) with this as its verifier."""
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    from ..functions import distance as D
    # probe panel BOUNDED by the generator id domain: "% 50" alone is
    # a 2% sample that grows WITH the corpus — the probe x corpus
    # product then goes quadratic (measured 299 s at a 64x replica
    # corpus). The id cap pins the panel to <=40 probes at any scale
    # while leaving results at every test SF byte-identical.
    q = (emb.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
            .select(F.col("vec_id").alias("id_a"),
                    D.vec_double("embedding").alias("qvec"))
            .withColumn("nq", D.norm("qvec")))
    c = (emb.select(F.col("vec_id").alias("id_b"),
                    D.vec_double("embedding").alias("vec"))
            .withColumn("nvec", D.norm("vec")))
    return (c.crossJoin(F.broadcast(q))
             .where(F.col("id_b") != F.col("id_a"))
             .select("id_a", "id_b",
                     D.safe_div(D.dot("vec", "qvec"),
                                F.col("nvec") * F.col("nq")).alias("score"))
             .where(F.col("score") >= 0.28)
             .orderBy("id_a", "id_b"))

# ---------------------------------------------------------------------------
# Connected-components clustering: pairs -> dedup groups -> survivors.
# Reference analog: production near-dup pipelines (MinHashLSH dedup as
# described in the GPT-3 / Gopher / RefinedWeb data papers) keep ONE
# document per duplicate *cluster*, not per pair — pair lists alone
# over-delete (a~b, b~c deletes b twice) or under-delete (keeps c).
# ---------------------------------------------------------------------------

_JACCARD_TAU = 0.30

# verified edge set shared by the two cluster queries (extends the
# dedup_jaccard pipeline with a jaccard >= tau cut)
_EDGE_CTE = f"""
bands AS (
  SELECT doc_id, band, key FROM (
    {" UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, concat_ws('_', m{i * LSH_ROWS}, m{i * LSH_ROWS + 1}) AS key FROM sig"
        for i in range(_K // LSH_ROWS))})),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
nsh AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN shd sa ON sa.doc_id = c.id_a
  JOIN shd sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b),
edges AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN nsh na ON na.doc_id = i.id_a
  JOIN nsh nb ON nb.doc_id = i.id_b
  WHERE i.shared * 1.0 / (na.n + nb.n - i.shared) >= {_JACCARD_TAU}),
und AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach (id, root) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT u.dst, r.root FROM reach r JOIN und u ON u.src = r.id),
comp AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id)
"""


def verified_edges(docs: DataFrame, tau: float = _JACCARD_TAU) -> DataFrame:
    """(id_a, id_b) candidate pairs that survive exact n-gram Jaccard
    >= tau — the dedup_jaccard pipeline minus the top-k cut. One
    cached shingle explode feeds signatures, set sizes and the verify
    join; candidates only ever come from band buckets."""
    shd = shingle_sets(docs).cache()
    hashed = shd.select("doc_id", md5_int32("shingle").alias("h"))
    # materialized once: cand + na + nb each re-run the k-min agg
    # shuffle over the cached shingles otherwise (one row per doc, so
    # the checkpoint is corpus-bounded, never shingle-bounded)
    per_doc = hashed.groupBy("doc_id").agg(
        *[F.min(minhash_perm(F.col("h"), j)).alias(f"m{j}")
          for j in range(_K)],
        F.count("*").alias("n")).cache()
    cand = lsh_candidate_pairs(per_doc.drop("n"))
    nsh = per_doc.select("doc_id", "n")
    sa, sb = shd.alias("sa"), shd.alias("sb")
    inter = (cand.join(sa, F.col("sa.doc_id") == F.col("id_a"))
                 .join(sb, (F.col("sb.doc_id") == F.col("id_b"))
                       & (F.col("sb.shingle") == F.col("sa.shingle")))
                 .groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("shared")))
    na, nb = nsh.alias("na"), nsh.alias("nb")
    return (inter.join(na, F.col("na.doc_id") == F.col("id_a"))
                 .join(nb, F.col("nb.doc_id") == F.col("id_b"))
                 .where(F.col("shared")
                        / (F.col("na.n") + F.col("nb.n") - F.col("shared"))
                        >= tau)
                 .select("id_a", "id_b"))


def connected_components(edges: DataFrame, max_iter: int = 20,
                         check_every: int = 1) -> DataFrame:
    """(id, cluster_id) for every node in `edges`, cluster_id = min
    node id reachable — min-label propagation WITH pointer doubling.

    Each round folds in (a) neighbour labels (one hop along an edge)
    and (b) the label of the node's current label (a pointer jump), so
    a label that has travelled d hops travels ~2d next round — true
    O(log diameter) convergence, not the O(diameter) of plain
    propagation (a 1000-doc chain converges in ~10 rounds, not 1000).

    Scale shape: the edge set is O(near-dup pairs), orders of
    magnitude smaller than the corpus, and each round is two co-keyed
    joins + one partial-agg min whose shuffle key is reusable round to
    round. localCheckpoint truncates lineage between rounds (on a real
    cluster: `checkpoint` to stable storage every few rounds). The
    driver reads only a 1-long "did anything change" count per
    checked round, never data. Raises if max_iter rounds pass without
    a fixpoint — a silently split cluster would diverge from the
    transitive-closure oracle, so non-convergence must be loud.

    r4 (VERDICT #8) ran the fixpoint test every 2 rounds against the
    labels at the LAST check; r9 opt: the check now compares against
    the IMMEDIATELY PREVIOUS round every round (check_every=1).
    Validity: one round is a deterministic function f of the label
    frame, so labels==f(labels) IS the fixpoint — and comparing vs a
    stale multi-round-old baseline could only detect it later, never
    earlier. On the measured corpora the old baseline staleness cost
    2 extra propagation rounds (identity-labels baseline at the first
    check never matches); a count over two tiny co-keyed label frames
    is ~3x cheaper than a propagation round, so checking every round
    wins at every scale (at 100 TB the propagation round dominates
    the count even more). check_every > 1 remains available for
    clusters where a count's job latency rivals a round. Labels are
    checkpointed BEFORE the count (r3 evaluated the whole round's
    lineage once for the count and AGAIN for the checkpoint).
    """
    # materialize the edge pipeline ONCE (the union below would
    # otherwise evaluate it twice), then mirror on the checkpointed
    # frame; the loop frames are edge-set-sized (orders of magnitude
    # below the corpus), so the per-round cost is job latency, not
    # data — keep partition counts at the edge frame's own width
    e = edges.localCheckpoint()
    # the src/dst mirror is a free union over the materialized edge
    # frame — no second checkpoint needed
    und = (e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .union(e.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst"))))
    labels = (und.select(F.col("src").alias("id")).distinct()
                 .withColumn("label", F.col("id"))
                 .localCheckpoint())
    for rnd in range(max_iter):
        prev = labels
        prop = (und.join(labels, und.src == labels.id)
                   .select(F.col("dst").alias("id"), "label"))
        grow = labels.union(prop)
        if rnd > 0:
            # pointer jump — a no-op in round 0 (labels are identity)
            hop = (labels.alias("a")
                         .join(labels.alias("b"),
                               F.col("a.label") == F.col("b.id"))
                         .select(F.col("a.id").alias("id"),
                                 F.col("b.label").alias("label")))
            grow = grow.union(hop)
        labels = (grow.groupBy("id").agg(F.min("label").alias("label"))
                      .localCheckpoint())
        # round 0 always changes something on a non-empty edge set;
        # from round 1 on, compare against the immediately previous
        # round (see docstring: f(labels)==labels IS the fixpoint, and
        # this detects it as early as possible). The FINAL allowed
        # round always checks vs prev so a fixpoint landing exactly on
        # it cannot raise as non-convergence.
        if rnd > 0 and (rnd % check_every == 0 or rnd == max_iter - 1):
            changed = (labels.alias("n")
                             .join(prev.alias("o"), "id")
                             .where(F.col("n.label") != F.col("o.label"))
                             .count())
            if changed == 0:
                return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the duplicate graph is deeper than expected — raise max_iter")


@register("dedup_clusters", oracle=f"""
WITH RECURSIVE {_SIG_CTE},
{_EDGE_CTE}
SELECT cluster_id, count(*) AS n_members,
       string_agg(id::VARCHAR, ',' ORDER BY id) AS members
FROM comp GROUP BY cluster_id ORDER BY cluster_id
""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH candidates -> Jaccard >= tau verified
    edges -> connected components. Emits one row per duplicate group
    with its sorted member list."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    labels = connected_components(verified_edges(docs))
    return (labels.groupBy(F.col("label").alias("cluster_id"))
                  .agg(F.count("*").alias("n_members"),
                       F.array_join(
                           F.transform(F.sort_array(F.collect_list("id")),
                                       lambda x: x.cast("string")),
                           ",").alias("members"))
                  .orderBy("cluster_id"))


@register("dedup_survivors", oracle=f"""
WITH RECURSIVE {_SIG_CTE},
{_EDGE_CTE},
ranked AS (
  SELECT c.cluster_id, c.id, length(d.text) AS text_len,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(d.text) DESC, c.id) AS rk,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM comp c JOIN documents d ON d.doc_id = c.id)
SELECT cluster_id, id AS keep_id, text_len AS keep_len, n_members,
       n_members - 1 AS n_dropped
FROM ranked WHERE rk = 1 ORDER BY cluster_id
""")
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster retention policy: the longest member
    survives (ties -> lowest id), everything else is dropped. This is
    the decision a training-data pipeline actually executes; the
    anti-join of the corpus against the dropped set is a trivial
    composition on top."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    labels = connected_components(verified_edges(docs))
    sized = (labels.join(docs.select("doc_id", F.length("text").alias("text_len")),
                         labels.id == F.col("doc_id"))
                   .select(F.col("label").alias("cluster_id"), "id", "text_len"))
    w = W.partitionBy("cluster_id")
    ranked = (sized
              .withColumn("rk", F.row_number().over(
                  w.orderBy(F.desc("text_len"), "id")))
              .withColumn("n_members", F.count("*").over(w)))
    return (ranked.where(F.col("rk") == 1)
                  .select("cluster_id", F.col("id").alias("keep_id"),
                          F.col("text_len").alias("keep_len"), "n_members",
                          (F.col("n_members") - 1).alias("n_dropped"))
                  .orderBy("cluster_id"))


# ---------------------------------------------------- incremental dedup

INCR_BATCH_FROM = 450    # docs with doc_id >= this are the "new batch"


@register("dedup_incremental", oracle=f"""
WITH {_SIG_CTE},
bands AS (
  SELECT doc_id, band, key FROM (
    {" UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, concat_ws('_', m{i * LSH_ROWS}, m{i * LSH_ROWS + 1}) AS key FROM sig"
        for i in range(_K // LSH_ROWS))})),
cand AS (
  SELECT DISTINCT a.doc_id AS old_id, b.doc_id AS new_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key
   AND a.doc_id < {INCR_BATCH_FROM} AND b.doc_id >= {INCR_BATCH_FROM}),
nsh AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.old_id, c.new_id, count(*) AS shared
  FROM cand c
  JOIN shd sa ON sa.doc_id = c.old_id
  JOIN shd sb ON sb.doc_id = c.new_id AND sb.shingle = sa.shingle
  GROUP BY c.old_id, c.new_id)
SELECT i.old_id, i.new_id, i.shared,
       round(i.shared * 1.0 / (na.n + nb.n - i.shared), 6) AS jaccard
FROM inter i
JOIN nsh na ON na.doc_id = i.old_id
JOIN nsh nb ON nb.doc_id = i.new_id
ORDER BY jaccard DESC, i.old_id, i.new_id
LIMIT 20
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (D9): a NEW batch checked against the
    existing corpus without ever re-pairing the corpus with itself —
    the production shape for trickle ingest, where old×old pairs were
    already resolved in previous runs.

    Scale shape: the batch's band keys are tiny (|batch|·bands rows)
    and BROADCAST into the corpus band stream, so the candidate join
    is a map-side hash probe of one corpus-bands pass — no self-join,
    no shuffle keyed on the full corpus pair space. Exact shingle
    verification then touches candidate ids only. In production the
    corpus signatures/bands are a persisted artifact (computed once
    per commit, reused per batch); here both sides derive from the
    same scan for the oracle's benefit."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    shd = shingle_sets(docs).cache()
    hashed = shd.select("doc_id", md5_int32("shingle").alias("h"))
    per_doc = hashed.groupBy("doc_id").agg(
        *[F.min(minhash_perm(F.col("h"), j)).alias(f"m{j}")
          for j in range(_K)],
        F.count("*").alias("n"))
    bands = band_frame(per_doc.drop("n"))
    old_b = bands.where(F.col("doc_id") < INCR_BATCH_FROM)
    new_b = (bands.where(F.col("doc_id") >= INCR_BATCH_FROM)
                  .select(F.col("doc_id").alias("new_id"), "band", "key"))
    cand = (old_b.join(F.broadcast(new_b), ["band", "key"])
                 .select(F.col("doc_id").alias("old_id"), "new_id")
                 .distinct())
    nsh = per_doc.select("doc_id", "n")
    sa, sb = shd.alias("sa"), shd.alias("sb")
    inter = (cand.join(sa, F.col("sa.doc_id") == F.col("old_id"))
                 .join(sb, (F.col("sb.doc_id") == F.col("new_id"))
                       & (F.col("sb.shingle") == F.col("sa.shingle")))
                 .groupBy("old_id", "new_id")
                 .agg(F.count("*").alias("shared")))
    na, nb = nsh.alias("na"), nsh.alias("nb")
    return (inter.join(na, F.col("na.doc_id") == F.col("old_id"))
                 .join(nb, F.col("nb.doc_id") == F.col("new_id"))
                 .select("old_id", "new_id", "shared",
                         F.round(F.col("shared") * 1.0
                                 / (F.col("na.n") + F.col("nb.n")
                                    - F.col("shared")), 6).alias("jaccard"))
                 .orderBy(F.desc("jaccard"), "old_id", "new_id")
                 .limit(20))


# ----------------------------------------------- semantic dedup (SemDeDup)

SEMDEDUP_TAU = 0.35


def _semdedup_oracle() -> str:
    from .index import _COS_EQ, _ivf_assign_ctes, _oracle_artifacts
    cents, _, _ = _oracle_artifacts()
    cos = _COS_EQ.replace("e.vec", "x.vec").replace("q.vec", "y.vec")
    return f"""
WITH {_ivf_assign_ctes(cents)},
m AS (SELECT a.vec_id, a.cid, e.vec
      FROM assigned a JOIN e USING (vec_id)),
dup AS (SELECT DISTINCT x.cid, y.vec_id
        FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE {cos} >= {SEMDEDUP_TAU!r}),
c1 AS (SELECT cid, count(*) AS n_members FROM assigned GROUP BY 1),
c2 AS (SELECT cid, count(*) AS n_removed FROM dup GROUP BY 1)
SELECT CAST(c1.cid AS INT) AS cid,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
       CAST(n_members - coalesce(n_removed, 0) AS BIGINT) AS n_kept
FROM c1 LEFT JOIN c2 USING (cid)
ORDER BY cid
"""


@register("semdedup", oracle=_semdedup_oracle)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication scoped to
    k-means cluster cells — embeddings are clustered, and within each
    cell a point is removed when a lower-id cell-mate sits within
    cosine ≥ τ (the paper's keep-one-per-ε-ball rule with a
    deterministic representative). Returns the per-cell census.

    Scale shape: reuses the IVF machinery (centroids broadcast,
    assignment map-only); then ONE shuffle co-keyed on the cell id
    feeds a per-cell Arrow-batched `applyInPandas` kernel that does
    the within-cell comparison as a single BLAS gemm — the physical
    shape SemDeDup itself runs (clusters are in-memory-sized BY
    CONSTRUCTION: k is chosen ∝ corpus size to hold E[n_c] constant;
    the paper runs k=50k for LAION-440M ≈ 9k points/cell ≈ a 300 MB
    similarity block). A relational pair join would materialize
    Σ_c n_c² rows each carrying two full vectors through the
    exchange — measured 30+ min at the 64x replica sweep vs seconds
    for the gemm kernel. Never corpus×corpus.

    Oracle determinism: the SQL twin evaluates cosines with the
    sequential exact-twin formula while the kernel uses BLAS
    (blocked) accumulation; they differ by ≤ a few ulps, and the τ
    comparison cannot flip because the corpus' closest cosine-to-τ
    margin is ≥ 1.3e-5 at every shipped SF (measured over all
    within-cell pairs at sf0.001/0.01/0.1) — 10 orders above ulp
    noise. The independent numpy model in tests/test_r6_ops.py pins
    the same census."""
    import pandas as pd

    from .index import assign_cells, centroids_for
    from ..functions import distance as D
    emb = tables.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    corpus = emb.select("vec_id", D.vec_double("embedding").alias("vec"))
    cents = centroids_for(spark, sf_dir, corpus)
    m = assign_cells(corpus, cents).join(corpus, "vec_id")

    def cell_census(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        pdf = pdf.sort_values("vec_id")
        x = np.array(pdf["vec"].tolist(), dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        sim = xn @ xn.T
        # column j removed iff any EARLIER (lower-id) row i has
        # cos(i,j) >= tau — the keep-first-representative rule
        dup = np.triu(sim >= SEMDEDUP_TAU, 1).any(axis=0)
        n, nr = len(pdf), int(dup.sum())
        return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])],
                             "n_members": [n], "n_removed": [nr],
                             "n_kept": [n - nr]})

    return (m.groupBy("cid")
             .applyInPandas(cell_census,
                            "cid int, n_members bigint, "
                            "n_removed bigint, n_kept bigint")
             .orderBy("cid"))


# --------------------------------------------------------- ngram_novelty

@register("ngram_novelty", oracle=f"""
WITH tok AS (
  SELECT doc_id,
         {TOK_SQL} AS t
  FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - {_SHINGLE_N - 2}, 1)),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
  FROM tok),
owner AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g),
per_doc AS (
  SELECT grams.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN owner.first_doc = grams.doc_id
                  THEN 1 ELSE 0 END) AS n_novel
  FROM grams JOIN owner USING (g)
  GROUP BY grams.doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       round(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty
FROM per_doc
ORDER BY novelty ASC, doc_id LIMIT 25
""")
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring — the data-curation dual of dedup: for
    each document, the fraction of its distinct {_SHINGLE_N}-gram
    shingles NOT seen in any earlier document (ingest order = doc_id,
    the convention dedup_survivors' keep-first rule already uses).
    Low-novelty docs are near-copies/boilerplate; the score drives
    mixing and filtering decisions the same way MassiveText's
    repetition filters do, and unlike pairwise dedup it prices
    PARTIAL overlap (a doc that is 40% recycled scores 0.6, which no
    bucket-join near-dup threshold surfaces).

    Scale shape: distinct shingles per doc build map-side
    (ngram_array — no explode of repeats), ONE hash shuffle keys the
    gram table by shingle for the min-owner aggregate
    (partial-min map-side), and the ownership join back is co-keyed
    on the same shingle hash — the sort-merge pair reuses the
    exchange. Nothing is ever all-pairs; state per key is one int64.
    Returns the 25 LEAST novel docs (the removal candidates)."""
    from ..functions.text import ngram_array
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    # both consumers (min-owner agg, ownership join) re-derive the
    # gram table; recomputing the map-side explode is CHEAPER than
    # materializing it — the 64x probe measured the checkpointed form
    # at 109 s (19M gram rows through block storage) vs 20 s for the
    # double explode, which stays pipelined inside each consumer's
    # scan stage
    grams = docs.select(
        "doc_id",
        F.explode(ngram_array(F.col("text"), _SHINGLE_N)).alias("g"))
    owner = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (grams.join(owner, "g")
                    .groupBy("doc_id")
                    .agg(F.count("*").alias("n_grams"),
                         F.sum(F.when(F.col("first_doc") == F.col("doc_id"),
                                      1).otherwise(0)).alias("n_novel")))
    return (per_doc.select("doc_id",
                           F.col("n_grams").cast("long").alias("n_grams"),
                           F.col("n_novel").cast("long").alias("n_novel"),
                           F.round(F.col("n_novel").cast("double")
                                   / F.col("n_grams"), 6).alias("novelty"))
                   .orderBy(F.asc("novelty"), "doc_id").limit(25))


# ------------------------------------- MinHash estimator calibration

# Hot-bucket guard for the calibration census: a (band, key) bucket of
# B docs contributes B(B-1)/2 pairs; the cap bounds that at any scale
# (SURVEY §6's skew promise — the 64x replica probe measured 35x pair
# growth uncapped). Deterministic (id order) and mirrored in the
# oracle; the test corpora's buckets are <= 3 docs, so oracle-scale
# results are bit-identical with or without the cap.
EST_BUCKET_CAP = 8


@register("minhash_estimate_error", oracle=f"""
WITH {_SIG_CTE},
bands AS (
  SELECT doc_id, band, key FROM (
    {" UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, concat_ws('_', m{i * LSH_ROWS}, m{i * LSH_ROWS + 1}) AS key FROM sig"
        for i in range(_K // LSH_ROWS))})),
capped AS (
  SELECT doc_id, band, key FROM (
    SELECT *, row_number() OVER (PARTITION BY band, key
                                 ORDER BY doc_id) AS rn
    FROM bands) WHERE rn <= {EST_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
nsh AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN shd sa ON sa.doc_id = c.id_a
  JOIN shd sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b),
est AS (
  SELECT c.id_a, c.id_b,
         ({" + ".join(f"CAST(sa.m{j} = sb.m{j} AS INT)" for j in range(_K))})
           / {_K}.0 AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b),
p AS (
  SELECT e.est,
         COALESCE(i.shared, 0) * 1.0
           / (na.n + nb.n - COALESCE(i.shared, 0)) AS exact
  FROM est e
  LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
  JOIN nsh na ON na.doc_id = e.id_a
  JOIN nsh nb ON nb.doc_id = e.id_b)
SELECT est, count(*) AS n_pairs,
       round(CAST(sum(CAST(round(exact, 9) AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS mean_jaccard,
       round(CAST(sum(CAST(round(abs(est - exact), 9) AS DECIMAL(18,9)))
                  AS DOUBLE) / count(*), 6) AS mean_abs_err
FROM p GROUP BY est ORDER BY est
""")
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration — the census behind every LSH
    threshold choice: for each band-bucket candidate pair, the
    k-component signature agreement (matching minima / k, the MinHash
    Jaccard ESTIMATE) against the exact shingle Jaccard, rolled up per
    estimate level (k=8 permutations quantize estimates to eighths). The
    mean_abs_err column is the measured estimator noise at this k —
    what tells a pipeline owner whether the banding threshold
    (SURVEY §6's LSH recall/precision promise) needs more
    permutations before scaling a dedup sweep to the full corpus.

    Scale shape: reuses the dedup substrate end to end — ONE cached
    shingle explode feeds signatures, set sizes, and the verify join;
    candidates only ever come from band buckets (never corpus²); the
    estimate is map-side component agreement on the already-joined
    signature rows; exact-Jaccard verify touches candidate pairs
    only. Candidate pairs sharing a band through hash coincidence but
    ZERO shingles stay in the census (LEFT join, exact = 0) — they
    are precisely the estimator's false-positive tail. Per-pair
    values round-then-fold as DECIMAL so the per-level means are
    exact and order-free."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    shd = shingle_sets(docs).cache()
    hashed = shd.select("doc_id", md5_int32("shingle").alias("h"))
    # Materialize the two fan-out intermediates (the captured r9 plan
    # had 59 Exchanges / 70 HashAggregates with ZERO reuse): per_doc
    # feeds FIVE consumers (cand, sa, sb, na, nb) and cand feeds TWO
    # (est, inter) — each consumer otherwise re-runs the signature
    # aggregation / the banded self-join from the cached shingles.
    # Both frames are corpus-bounded (one row per doc / per candidate
    # pair), never shingle-bounded.
    per_doc = hashed.groupBy("doc_id").agg(
        *[F.min(minhash_perm(F.col("h"), j)).alias(f"m{j}")
          for j in range(_K)],
        F.count("*").alias("n")).cache()
    cand = lsh_candidate_pairs(per_doc.drop("n"),
                               bucket_cap=EST_BUCKET_CAP).cache()
    sa = per_doc.select("doc_id", *[f"m{j}" for j in range(_K)]).alias("sa")
    sb = per_doc.select("doc_id", *[f"m{j}" for j in range(_K)]).alias("sb")
    agree = None
    for j in range(_K):
        c = (F.col(f"sa.m{j}") == F.col(f"sb.m{j}")).cast("int")
        agree = c if agree is None else agree + c
    est = (cand.join(sa, F.col("sa.doc_id") == F.col("id_a"))
               .join(sb, F.col("sb.doc_id") == F.col("id_b"))
               .select("id_a", "id_b", (agree / float(_K)).alias("est")))
    ia, ib = shd.alias("ia"), shd.alias("ib")
    inter = (cand.join(ia, F.col("ia.doc_id") == F.col("id_a"))
                 .join(ib, (F.col("ib.doc_id") == F.col("id_b"))
                       & (F.col("ib.shingle") == F.col("ia.shingle")))
                 .groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("shared")))
    nsh = per_doc.select("doc_id", "n")
    na, nb = nsh.alias("na"), nsh.alias("nb")
    shared = F.coalesce(F.col("shared"), F.lit(0))
    p = (est.join(inter, ["id_a", "id_b"], "left")
            .join(na, F.col("na.doc_id") == F.col("id_a"))
            .join(nb, F.col("nb.doc_id") == F.col("id_b"))
            .select("est",
                    (shared * 1.0 / (F.col("na.n") + F.col("nb.n") - shared))
                     .alias("exact")))
    dec = lambda c: F.round(c, 9).cast("decimal(18,9)")  # noqa: E731
    return (p.groupBy("est")
             .agg(F.count("*").alias("n_pairs"),
                  F.round(F.sum(dec(F.col("exact"))).cast("double")
                          / F.count("*"), 6).alias("mean_jaccard"),
                  F.round(F.sum(dec(F.abs(F.col("est") - F.col("exact"))))
                           .cast("double") / F.count("*"), 6)
                   .alias("mean_abs_err"))
             .orderBy("est"))
