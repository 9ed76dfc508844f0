"""SimHash near-dup (SURVEY §2.5 D3): 60-bit signature by tf-weighted
bit voting over md5-derived token hashes, plus banded Hamming pairing.

Fully oracle-checked: every stage is integer math over md5, identical
in DuckDB. Scale shape: signature = ONE doc-keyed groupBy whose 60
counters partial-aggregate map-side (occurrence-level +-1 votes — no
tf pre-shuffle); pair generation bands the 60 bits into 4x15-bit
bands, so any pair within Hamming distance 3 shares >= 1 intact band
(pigeonhole) and the self-join stays in buckets.

Why 60 bits: the r1-r2 version used 32 bits = 8-bit band keys = only
256 buckets per band — fine at test scale, but the candidate join
goes quadratic once the corpus outgrows the key space (a 64x replica
corpus wedged it for >9 min). 15-bit bands give 32k buckets/band, and
`bucket_cap` bounds the residual hot buckets exactly like the MinHash
LSH pair generator. 60 (not 64) keeps every signature and every
DuckDB shift inside non-negative signed-64 range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tables
from ..functions.hashing import md5_int60
from ..functions.text import TOK_SQL, tokens
from ..registry import register

BITS = 60
BANDS = 4
BAND_BITS = BITS // BANDS  # 15-bit band keys: 32k buckets per band


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): tf-weighted bit vote.

    Votes are per token OCCURRENCE (+1/-1), not per (doc, token) with
    a tf weight — the sums are identical integers, but this skips the
    (doc_id, token) tf groupBy entirely: the single doc_id groupBy
    partial-aggregates map-side to one 32-counter row per doc per
    partition, so token occurrences never shuffle (r1 paid a full
    extra shuffle + a 1.9 s bench entry for the tf stage)."""
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    votes = tok.select("doc_id", md5_int60("token").alias("h"))
    # codegen diet: vote_i > 0 <=> 2*ones_i > n, so instead of 60
    # signed-vote aggregates we sum 30 longs that PACK two bit
    # counters each (upper/lower 32 bits; ones < 2^32 so no carry)
    # plus one count. Half the agg buffers, same integers. Safe to
    # 2^31 tokens per doc per partition (long packing headroom).
    pairs = [(2 * p, 2 * p + 1) for p in range(BITS // 2)]
    aggs = [
        F.sum(F.shiftleft(
            F.shiftright("h", i).bitwiseAND(F.lit(1)).cast("long"), 32)
            + F.shiftright("h", j).bitwiseAND(F.lit(1)).cast("long"))
         .alias(f"p{p}")
        for p, (i, j) in enumerate(pairs)]
    g = votes.groupBy("doc_id").agg(F.count("*").alias("n"), *aggs)
    sig = None
    for p, (i, j) in enumerate(pairs):
        ones_i = F.shiftright(F.col(f"p{p}"), 32)
        ones_j = F.col(f"p{p}").bitwiseAND(F.lit((1 << 32) - 1))
        for ones, bit in ((ones_i, i), (ones_j, j)):
            term = (F.when(2 * ones > F.col("n"), F.lit(1 << bit))
                     .otherwise(F.lit(0)).cast("long"))
            sig = term if sig is None else sig + term
    return g.select("doc_id", sig.alias("simhash"))


def simhash_pairs(sig: DataFrame, max_hamming: int = 3,
                  bucket_cap: int | None = None) -> DataFrame:
    """Near-dup pairs by banded Hamming join: 4x15-bit bands per
    signature; a <= max_hamming pair shares an intact band.

    `bucket_cap` mirrors lsh_candidate_pairs: only the cap lowest-id
    docs of a degenerate (band, key) bucket enter the pair join, so a
    boilerplate-heavy bucket contributes <= cap^2/2 pairs instead of
    B^2/2. None = exact (the oracle-checked queries)."""
    bands = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("simhash", i * BAND_BITS)
                 .bitwiseAND(F.lit((1 << BAND_BITS) - 1)).alias("key"))
            for i in range(BANDS)])).alias("bk")
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    if bucket_cap is not None:
        from pyspark.sql import Window as W
        w = W.partitionBy("band", "key").orderBy("doc_id")
        bands = (bands.withColumn("_rn", F.row_number().over(w))
                      .where(F.col("_rn") <= bucket_cap).drop("_rn"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= max_hamming))


_ORACLE_BITS = ", ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(BITS))
_ORACLE_SIG = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)::BIGINT"
    for i in range(BITS))
_ORACLE_H = "('0x' || substr(md5(token), 1, 15))::BIGINT"


@register("dedup_simhash", oracle=f"""
WITH tok AS (SELECT doc_id, unnest({TOK_SQL}) AS token FROM documents),
votes AS (SELECT doc_id, {_ORACLE_H} AS h FROM tok),
bits AS (SELECT doc_id, {_ORACLE_BITS} FROM votes GROUP BY doc_id)
SELECT doc_id, {_ORACLE_SIG} AS simhash
FROM bits ORDER BY doc_id
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    return simhash_signatures(docs).orderBy("doc_id")


@register("simhash_pairs", oracle=f"""
WITH tok AS (SELECT doc_id, unnest({TOK_SQL}) AS token FROM documents),
votes AS (SELECT doc_id, {_ORACLE_H} AS h FROM tok),
bits AS (SELECT doc_id, {_ORACLE_BITS} FROM votes GROUP BY doc_id),
sig AS (SELECT doc_id, {_ORACLE_SIG} AS simhash FROM bits),
bands AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {BAND_BITS})) & {(1 << BAND_BITS) - 1} AS key
  FROM sig, (SELECT unnest(range(0, {BANDS})) AS band)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= 8
ORDER BY hamming, id_a, id_b LIMIT 25
""")
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest banded SimHash pairs (relaxed Hamming cap so the
    synthetic corpus yields a non-vacuous result set).

    Recall bound (ADVICE r1): with BANDS=4 the pigeonhole guarantee
    only covers Hamming <= BANDS - 1 = 3; pairs at distance
    4..8 that differ in ALL bands are missed. That is the standard
    banded-LSH trade (full recall at 8 would need C(32,8)-class
    multiprobe or 9 bands of 3-4 bits); the oracle mirrors the same
    banding, so the result is well-defined and parity-exact — it is
    'closest pairs among band-colliding candidates', not an exhaustive
    Hamming-<=8 join."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    sig = simhash_signatures(docs)
    return (simhash_pairs(sig, max_hamming=8)
            .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
            .orderBy("hamming", "id_a", "id_b").limit(25))
