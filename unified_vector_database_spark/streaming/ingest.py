"""Structured Streaming ingest (SURVEY §2.9): the reference's live
add/upsert path, re-expressed as readStream -> windowed aggregation /
streaming dedup -> sink.

At scale these are the standard Spark streaming shapes: event-time
tumbling windows with a watermark bound the state store; streaming
dedup keys expire with the watermark so state is O(in-flight window),
not O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import artifacts, tables
from ..registry import register


def windowed_event_counts(stream: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window rollup (streaming twin of analytics.events_hourly)."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "total_value"))


def stream_into_collection(stream: DataFrame, collection,
                           checkpoint: str):
    """Live ingest into a versioned collection (the reference's
    streaming add/upsert): each micro-batch commits one copy-on-write
    upsert, so readers always see a consistent version and replays are
    idempotent per batch via the checkpoint."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        collection.upsert(batch_df)

    return (stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint))


def stream_into_indexed_collection(stream: DataFrame, collection,
                                   cents: DataFrame, checkpoint: str,
                                   vec_col: str = "embedding"):
    """Online IVF index maintenance (the reference backends 'index as
    they upsert'; VERDICT r3 missing #3): every micro-batch is
    assigned to its nearest existing centroid BEFORE the upsert, so
    the committed rows always carry a current `cid` column and a probe
    can prune cells at any moment — no offline re-index between
    ingests. Centroids stay FIXED across batches (the standard online
    IVF practice: assignment is cheap and map-only, refits are
    periodic maintenance — compose with C9 compact when drift
    accumulates).

    Scale shape: the centroid frame broadcasts (k x dim floats); the
    per-batch assignment is one map stage over the batch only; the
    upsert's anti-join keys on the id column exactly as the unindexed
    path. State is zero — the index IS the data layout."""
    from ..functions import distance as D
    from ..operators.index import assign_cells

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        m = collection.describe()
        vec = batch_df.withColumn("_v", D.vec_double(vec_col))
        assigned = assign_cells(vec, cents, id_col=m.id_col,
                                vec_col="_v")
        collection.upsert(
            vec.join(assigned, m.id_col).drop("_v"))

    return (stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint))


def dedup_events(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact-dedup on the event key within the watermark
    horizon (reference: idempotent upsert on id). On a batch frame
    (the SCHEMA_ONLY path) the batch equivalent is a plain
    dropDuplicates — dropDuplicatesWithinWatermark analyzes but fails
    Catalyst optimization on batch inputs."""
    if not stream.isStreaming:
        return stream.dropDuplicates(["event_id"])
    return (stream
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def sessionized_counts(stream: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregation (streaming twin of the batch
    lag-based `events_sessionized`): gap-merged windows per user.
    State is one open session per active user, bounded by the
    watermark — sessions close (and emit, in append mode) once the
    watermark passes session_end."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "user_id", "n_events"))


def click_purchase_join(clicks: DataFrame, purchases: DataFrame,
                        horizon: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join: purchases attributed to a click by
    the same user within `horizon`. Both sides are watermarked and the
    join condition carries the time bound, so Spark can evict join
    state older than watermark+horizon — without the range predicate
    the state store would grow forever."""
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts"),
                 F.col("event_id").alias("click_id")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("purchase_id")))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")))
    return c.join(p, cond, "inner")


@register("stream_join_attribution", oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS c_ts, p.ts AS p_ts
FROM events c JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY click_id, purchase_id
""")
def stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 driven end-to-end for the correctness gate: replay clicks
    and purchases as two multi-batch file streams, run the REAL
    watermarked stream-stream inner join, and hash-check the appended
    matches against the batch join fixpoint.

    The replay pins the watermark beyond the data's full time span:
    file splits are not time-ordered, so a production-tight watermark
    would evict state between batches and drop matches
    nondeterministically — the eviction-free setting makes the
    streaming result provably equal to the batch join while still
    exercising the streaming state machine. (Production uses the
    tight-horizon default of `click_purchase_join`; state eviction is
    then the POINT, not a bug.)"""
    import uuid

    from .. import flags

    ev = tables.load_events(spark, sf_dir) \
        .select("event_id", "ts", "user_id", "event_type")
    if flags.SCHEMA_ONLY:
        e0 = ev.limit(0)
        joined = click_purchase_join(
            e0.where(F.col("event_type") == "click"),
            e0.where(F.col("event_type") == "purchase"),
            horizon="1 hour", watermark="90 days")
        return (joined.select("click_id", "purchase_id", "c_ts",
                              F.col("p_ts").alias("p_ts"))
                      .orderBy("click_id", "purchase_id"))

    def build(base: str) -> None:
        for etype in ("click", "purchase"):
            (ev.where(F.col("event_type") == etype).repartition(2)
               .write.parquet(f"{base}/{etype}"))

    base = artifacts.persisted(
        "sjoin_src", tables.table_path(sf_dir, "events"), build)
    sch = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    clicks = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).parquet(f"{base}/click"))
    purchases = (spark.readStream.schema(sch)
                 .option("maxFilesPerTrigger", 1).parquet(f"{base}/purchase"))
    joined = click_purchase_join(clicks, purchases,
                                 horizon="1 hour", watermark="90 days")
    name = "uvdb_sjoin_" + uuid.uuid4().hex[:8]
    q = (joined.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    _await_done(q)
    return (spark.table(name)
            .select(F.col("click_id"),
                    F.col("purchase_id"),
                    F.col("c_ts"), F.col("p_ts").alias("p_ts"))
            .orderBy("click_id", "purchase_id"))


def _replay(spark: SparkSession, df: DataFrame, sf_dir: str, table: str,
            tag: str, schema: str, n_files: int = 4) -> DataFrame:
    """`df`, derived from `table`, written once per content of that
    table as an n-file parquet dir and opened as a maxFilesPerTrigger=1
    file stream — the replay harness every streaming oracle query
    shares (events and documents alike).

    Under flags.SCHEMA_ONLY the parquet rewrite is skipped and an
    empty BATCH frame with the same schema is returned instead; the
    downstream transformations are batch-compatible, so schema-only
    consumers pay nothing (ADVICE r4)."""
    import os

    from .. import flags
    if flags.SCHEMA_ONLY:
        return df.limit(0)
    # Every registered consumer of this harness reduces to a
    # batch-order-invariant fixpoint (that's what its oracle checks),
    # so the micro-batch COUNT is a pure timing knob: bench trims it
    # to 2 (the multi-batch state path still exercises) while the
    # correctness driver keeps the default 4.
    n_files = int(os.environ.get("UVDB_STREAM_REPLAY_FILES", n_files))
    src = artifacts.persisted(
        ("replay", tag, n_files), tables.table_path(sf_dir, table),
        lambda p: df.repartition(n_files).write.parquet(p))
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))


def _replay_events(spark: SparkSession, sf_dir: str, tag: str,
                   n_files: int = 4) -> DataFrame:
    ev = tables.load_events(spark, sf_dir) \
        .select("event_id", "ts", "user_id", "event_type", "value")
    return _replay(spark, ev, sf_dir, "events", tag,
                   "event_id bigint, ts timestamp, user_id bigint, "
                   "event_type string, value double", n_files)


# State-store shuffle width for the one-shot replay queries. Stateful
# results are partition-count invariant (each key lands in exactly one
# state partition either way), but every micro-batch trigger pays one
# task per state partition — at replay scale 32 partitions is pure
# scheduler overhead (measured 6.3 s -> 3.7 s at 8 on stream_countmin,
# sf0.1; r9 re-measured 8 -> 4 at identical controls: another
# ~0.3-0.6 s per query, with 2.5k-32k-row micro-batches still putting
# >600 rows in every state task — the width is sized to the replay
# BATCH, not to the local core count). A real deployment sizes this
# to keyspace x executor count; env-overridable for that reason.
STREAM_SHUFFLE_PARTITIONS = 4


def _pinned_stream_shuffle(spark: SparkSession):
    """Context manager pinning the replay-scale state width
    (STREAM_SHUFFLE_PARTITIONS) for the duration of a one-shot streaming
    run — shared by _run_to_memory and the foreachBatch sinks that run
    outside it."""
    from contextlib import contextmanager

    @contextmanager
    def _pin():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(STREAM_SHUFFLE_PARTITIONS))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return _pin()


def _await_done(q, seconds: int = 300) -> None:
    """awaitTermination with the timeout made LOUD: every one-shot
    replay query here runs trigger(availableNow) and must finish well
    inside `seconds`. awaitTermination(timeout) returns False on
    timeout without stopping the query — silently proceeding would
    read a half-written sink, and (inside _pinned_stream_shuffle)
    leave the still-running query's later micro-batches executing at
    a different state width than its earlier ones (ADVICE r8 #4).
    Stop the straggler before any conf is restored, then fail."""
    if not q.awaitTermination(seconds):
        q.stop()
        raise RuntimeError(
            f"streaming query {q.name or q.id} did not terminate "
            f"within {seconds}s; stopped it rather than read a "
            "partial sink")


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    import uuid

    if not stream_df.isStreaming:
        # SCHEMA_ONLY path: _replay handed back an empty batch frame;
        # the plan is already the (empty) result with the real schema.
        return stream_df
    spark = stream_df.sparkSession
    name = "uvdb_mem_" + uuid.uuid4().hex[:8]
    with _pinned_stream_shuffle(spark):
        q = (stream_df.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
        _await_done(q)
    return spark.table(name)


@register("stream_windowed_counts", oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
ORDER BY window_start, event_type
""")
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 driven end-to-end: tumbling-window streaming aggregation
    over a multi-batch replay, complete-mode emission, hash-checked
    against the batch rollup — the streaming ingest path's state
    machine is correctness-gated, not just smoke-run. Watermark 0 +
    complete mode keep every window live so the final emission equals
    the batch fixpoint regardless of file/batch order."""
    stream = _replay_events(spark, sf_dir, "wincounts")
    agg = windowed_event_counts(stream, window="1 hour",
                                watermark="0 seconds")
    out = _run_to_memory(agg, "complete")
    return (out.select("window_start", "event_type", "n_events",
                       F.round("total_value", 6).alias("total_value"))
               .orderBy("window_start", "event_type"))


@register("stream_dedup_counts", oracle="""
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events GROUP BY event_type ORDER BY event_type
""")
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 driven end-to-end: the replayed stream passes through
    dropDuplicatesWithinWatermark on event_id (with the watermark
    beyond the data span, no key ever expires -> exact global dedup),
    then a per-type rollup of the deduped append stream is checked
    against the batch DISTINCT. Exercises the streaming dedup state
    store across 4 incremental batches."""
    stream = _replay_events(spark, sf_dir, "dedup")
    deduped = dedup_events(stream, watermark="90 days")
    out = _run_to_memory(deduped, "append")
    return (out.groupBy("event_type")
               .agg(F.count("*").alias("n_unique"))
               .orderBy("event_type"))


@register("stream_session_windows", oracle="""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
g AS (SELECT user_id, sid, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events
      FROM s GROUP BY 1, 2)
SELECT session_start, session_end, user_id, n_events
FROM g ORDER BY user_id, session_start
""")
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 driven end-to-end: gap-merged session windows over a
    multi-batch replay in complete mode, hash-checked against the
    batch lag-based sessionization (session end = last event + gap,
    exactly `session_window`'s definition). The eviction-free
    watermark keeps every session mergeable across out-of-time-order
    file batches, so the final state provably equals the batch
    fixpoint while the session-merge state machine does the work."""
    stream = _replay_events(spark, sf_dir, "sesswin")
    agg = sessionized_counts(stream, gap="30 minutes", watermark="90 days")
    out = _run_to_memory(agg, "complete")
    return (out.select("session_start", "session_end", "user_id",
                       "n_events")
               .orderBy("user_id", "session_start"))


from ..operators.sketches import (HLL_ORACLE_CTES, HLL_ORACLE_EST,  # noqa: E402
                                  hll_estimate, hll_project)


@register("stream_cardinality_hll", oracle=f"""
{HLL_ORACLE_CTES}
SELECT est.grp AS event_type, hll_s, {HLL_ORACLE_EST}
FROM est ORDER BY event_type
""")
def stream_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: streaming distinct-count sketch — HLL registers maintained
    as streaming state. The map-side (grp, bucket, rho) projection
    feeds a stateful groupBy-max, so the state store holds at most
    groups·m register rows (NOT the user-id set: the whole point of
    a sketch on an unbounded stream); registers merge by max, so
    batch order cannot change the fixpoint. The final fold to the
    estimate runs on the materialized registers and is hash-checked
    against the batch HLL oracle — the streaming register table
    provably converges to the batch sketch."""
    stream = (_replay_events(spark, sf_dir, "hll")
              .select("event_type", "user_id"))
    regs = (hll_project(stream, "event_type", "user_id")
            .groupBy("grp", "bucket").agg(F.max("rho").alias("m_j")))
    out = _run_to_memory(regs, "complete")
    return (hll_estimate(out)
            .select(F.col("grp").alias("event_type"), "hll_s", "hll_est")
            .orderBy("event_type"))


@register("stream_first_seen_users", oracle="""
WITH fs AS (
  SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
  FROM events GROUP BY 1),
h AS (
  SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY 1),
c AS (
  SELECT day, new_users,
         CAST(sum(new_users) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
  FROM h)
SELECT day, new_users, cum_users FROM c ORDER BY day
""")
def stream_first_seen_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: streaming cumulative user cardinality — the streaming twin
    of R63 (cumulative_cardinality_agg). A streaming groupBy(user)
    min(day) aggregation maintains each user's FIRST-seen day as
    state; complete-mode emission converges to the batch fixpoint
    regardless of file/batch arrival order (min is merge-order-free,
    which is exactly why first-SEEN-by-arrival would NOT be a valid
    streaming contract — replay order is not event-time order). The
    materialized first-seen table then rolls up through the shared
    window-free cumulate fold. State is O(users), the same bound the
    batch rewrite's shuffle carries; the sketch alternative for
    unbounded user spaces is W7's HLL registers."""
    from ..operators.aggregations import cumulate_first_seen
    stream = _replay_events(spark, sf_dir, "firstseen") \
        .select("user_id", "ts")
    fs = (stream.groupBy("user_id")
                .agg(F.min(F.date_trunc("day", "ts").cast("date"))
                      .alias("first_day")))
    out = _run_to_memory(fs, "complete")
    return cumulate_first_seen(out)


def _replay_docs(spark: SparkSession, sf_dir: str, tag: str,
                 n_files: int = 4) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source", "n_chars")
    return _replay(spark, docs, sf_dir, "documents", tag,
                   "doc_id bigint, text string, lang string, "
                   "source string, n_chars bigint", n_files)


def _stream_percolate_oracle() -> str:
    from ..operators.percolate import PERCOLATE_ORACLE
    return PERCOLATE_ORACLE


@register("stream_percolate", oracle=_stream_percolate_oracle)
def stream_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: streaming percolator — saved-search alerting on the ingest
    stream (T9's streaming twin; ES percolate's actual deployment
    shape is exactly this: match each ARRIVING doc against the stored
    queries, not a batch sweep). The stored-query frame is a static
    broadcast into the stream (stream-static join, evaluated map-side
    per micro-batch, no stream state for the match itself); the
    per-query rollup holds |queries| rows of state. Complete-mode
    fixpoint across the 4-file replay is hash-checked against the
    batch percolate oracle — count/min/max all merge order-free, so
    arrival order cannot change the result."""
    from ..operators.percolate import percolate_rollup
    stream = _replay_docs(spark, sf_dir, "percolate")
    agg = percolate_rollup(stream)  # the batch operator form, streamed
    out = _run_to_memory(agg, "complete")
    return out.orderBy("query_id")


def _stream_near_dup_oracle() -> str:
    from ..constants import LSH_ROWS
    from ..operators.dedup import _K, _SIG_CTE
    n_bands = _K // LSH_ROWS
    bands = "\nUNION ALL ".join(
        f"SELECT doc_id, {i} AS band, concat_ws('_', "
        + ", ".join(f"m{i * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ") AS key FROM sig"
        for i in range(n_bands))
    return f"""
WITH {_SIG_CTE},
b AS ({bands}),
g AS (SELECT band, key, count(*) AS n_docs, min(doc_id) AS first_doc
      FROM b GROUP BY 1, 2)
SELECT CAST(band AS INT) AS band, key,
       CAST(n_docs AS BIGINT) AS n_docs, first_doc
FROM g WHERE n_docs >= 2
ORDER BY band, key
"""


@register("stream_near_dup", oracle=_stream_near_dup_oracle)
def stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: STREAMING near-duplicate detection — MinHash-LSH band
    collision buckets maintained as streaming state over the document
    ingest stream (the streaming twin of dedup_minhash's candidate
    generator, and the alerting form of D9's incremental dedup: a
    band bucket reaching n_docs ≥ 2 IS a near-dup candidate alarm).

    The signature is computed MAP-SIDE per arriving row
    (dedup.minhash_signature_arr — no explode, no pre-aggregation,
    so the only streaming state is the band rollup itself:
    (band, key) → (count, min doc_id), bucket-cardinality-sized,
    merge-order-free by count-sum/min). Complete-mode fixpoint over
    the 4-file replay hash-checks against the batch banding (the
    identical shingle/md5/permutation pipeline in SQL)."""
    from ..functions.text import tokens
    from ..operators.dedup import _SHINGLE_N, minhash_band_structs
    stream = _replay_docs(spark, sf_dir, "neardup")
    # ≥_SHINGLE_N tokens ⇔ ≥1 shingle (cheap pre-filter: no
    # shingle/md5 work for the docs the batch groupBy form drops —
    # same constant as the batch pipeline, so the stream keeps hash
    # parity if the shingle width ever changes); the fold's
    # finish-lambda banding keeps the signature at ONE evaluation
    # per row (8x otherwise — the 64x sweep's 30x entry)
    # a file-replay micro-batch is ONE file (≈1 task) — spread the
    # CPU-heavy signature fold across the executors before it runs,
    # exactly as a many-partition Kafka source would arrive
    n_slices = spark.sparkContext.defaultParallelism
    sig = (stream
           .where(F.size(tokens("text")) >= _SHINGLE_N)
           .repartition(n_slices)
           .select("doc_id",
                   F.explode(minhash_band_structs("text")).alias("bk"))
           .select("doc_id", "bk.band", "bk.key"))
    agg = (sig.groupBy("band", "key")
              .agg(F.count("*").alias("n_docs"),
                   F.min("doc_id").alias("first_doc")))
    out = _run_to_memory(agg, "complete")
    return (out.where(F.col("n_docs") >= 2)
               .select(F.col("band").cast("int").alias("band"), "key",
                       F.col("n_docs").cast("long").alias("n_docs"),
                       "first_doc")
               .orderBy("band", "key"))


def _stream_countmin_oracle() -> str:
    from ..operators.sketches import ORACLES_CM
    return ORACLES_CM


@register("stream_countmin", oracle=_stream_countmin_oracle)
def stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: streaming Count-Min sketch — the d×w counter matrix
    maintained as streaming state over the document ingest stream
    (X26's streaming twin; counters ADD, so the stateful groupBy-sum
    IS the sketch merge and batch order cannot change the fixpoint —
    the same merge-order-free argument as W7's HLL registers). State
    is bounded at d·w cells regardless of stream length; the probe
    runs on the final state. Hash-checked against the batch CMS
    oracle."""
    from ..functions.text import tokens
    from ..operators.sketches import CM_TERMS, cm_cells, cm_estimate
    stream = _replay_docs(spark, sf_dir, "countmin")
    # one-file micro-batches arrive as ~1 task — spread the token ×
    # d-cell explode across the executors first (the stream_near_dup
    # fix; a many-partition Kafka source arrives pre-spread). The
    # cell/probe builders are IMPORTED from the batch sketch so the
    # hash ladder cannot drift between the twins.
    tok = (stream.repartition(spark.sparkContext.defaultParallelism)
           .select(F.explode(tokens("text")).alias("term")))
    cells = _run_to_memory(cm_cells(tok), "complete")
    est = cm_estimate(spark, cells)
    docs = tables.load(spark, sf_dir, "documents")
    ex = (docs.select(F.explode(tokens("text")).alias("term"))
          .where(F.col("term").isin(*CM_TERMS))
          .groupBy("term").agg(F.count("*").alias("exact")))
    return (est.join(ex, "term", "left")
               .select("term",
                       F.coalesce(F.col("exact"), F.lit(0))
                        .cast("long").alias("exact"),
                       F.col("cms_est").cast("long").alias("cms_est"))
               .orderBy("term"))


def _gopher_oracle() -> str:
    from ..operators.quality import GOPHER_ORACLE
    return GOPHER_ORACLE


@register("stream_quality_gate", oracle=_gopher_oracle)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: streaming quality gate — the Gopher rule census
    (X-family `gopher_quality_rules`) maintained over the document
    ingest stream; the production shape of a quality filter is
    exactly this (gate each ARRIVING doc, keep running admit
    counters), not a batch sweep. The five rules are map-side
    expressions IMPORTED from the batch operator (gopher_census), so
    the twins cannot drift; streaming state is the (lang, keep)
    census — counts and integer word sums, which ADD, so the
    complete-mode fixpoint across the 4-file replay is merge-order-
    free and hash-checks against the batch oracle."""
    from ..operators.quality import gopher_census
    stream = _replay_docs(spark, sf_dir, "qualgate") \
        .repartition(spark.sparkContext.defaultParallelism)
    out = _run_to_memory(gopher_census(stream), "complete")
    return out.orderBy("lang", "keep")


# ------------------------------------------------------- late-data drops

LATE_DELAY = "95 minutes"        # watermark delay (odd on purpose: no
LATE_DELAY_MS = 95 * 60 * 1000   # window boundary ever ties with a wm)
LATE_BATCHES = 4
LATE_SHIFT_MOD = 7               # every 7th event arrives 2 batches late


def _replay_ordered_late(spark: SparkSession, sf_dir: str,
                         tag: str) -> DataFrame:
    """Deterministic ARRIVAL-ORDER replay with genuine late data:
    events are split into {LATE_BATCHES} arrival batches by event-time
    quartile (ntile over (ts, event_id) — a total order, so the split
    is reproducible on both engines), except every
    {LATE_SHIFT_MOD}th event arrives TWO batches after its quartile —
    far enough behind the advancing watermark that its window has
    already been evicted (a one-batch delay never drops: state
    eviction runs after the batch's input is merged). Batch files are
    written sequentially so the file source's modification-time order
    replays them as separate micro-batches (maxFilesPerTrigger=1).

    The global ntile sort exists only to FABRICATE a deterministic
    arrival order for the replay harness — a production stream
    arrives already ordered by arrival and pays none of this."""
    shift = F.when(F.col("event_id") % LATE_SHIFT_MOD == 0, 2) \
             .otherwise(0)
    return _replay_quartile(spark, sf_dir, tag, shift)


def _replay_quartile(spark: SparkSession, sf_dir: str, tag: str,
                     shift: F.Column) -> DataFrame:
    """Shared ordered-replay substrate: events split into
    {LATE_BATCHES} arrival batches by event-time quartile (ntile over
    the (ts, event_id) total order), plus a per-row batch `shift`
    column expression (0 for in-order arrival). Batch files are
    written sequentially so the file source's modification-time order
    replays them as separate micro-batches."""
    import time as _time

    from pyspark.sql import Window as W

    from .. import flags
    ev = tables.load_events(spark, sf_dir) \
        .select("event_id", "ts", "user_id", "event_type", "value")
    if flags.SCHEMA_ONLY:
        return ev.limit(0)

    def build(src: str) -> None:
        w = W.orderBy("ts", "event_id")
        bno = F.least(F.lit(LATE_BATCHES - 1),
                      F.ntile(LATE_BATCHES).over(w) - 1 + shift)
        # persist the sorted assignment: the 4 per-batch writes would
        # otherwise each recompute the global ntile sort (the probe
        # measured the 4x recompute before this landed)
        evb = ev.withColumn("bno", bno).persist()
        try:
            evb.count()
            for b in range(LATE_BATCHES):
                (evb.where(F.col("bno") == b).drop("bno").coalesce(1)
                    .write.mode("append").parquet(src))
                _time.sleep(0.25)  # distinct mtimes fix the replay order
        finally:
            evb.unpersist()

    src = artifacts.persisted(("replay_quartile", tag),
                              tables.table_path(sf_dir, "events"), build)
    return (spark.readStream
            .schema("event_id bigint, ts timestamp, user_id bigint, "
                    "event_type string, value double")
            .option("maxFilesPerTrigger", 1).parquet(src))


@register("stream_late_data", oracle=f"""
WITH e AS (
  SELECT event_id, ts, event_type,
         least({LATE_BATCHES - 1},
               ntile({LATE_BATCHES}) OVER (ORDER BY ts, event_id) - 1
               + CASE WHEN event_id % {LATE_SHIFT_MOD} = 0 THEN 2
                      ELSE 0 END) AS bno
  FROM events),
m AS (SELECT bno, max(epoch_ms(ts)) AS mb FROM e GROUP BY bno),
r AS (SELECT bno, max(mb) OVER (ORDER BY bno) AS rm FROM m),
k AS (
  SELECT e.*,
         date_trunc('hour', ts) AS window_start,
         epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS we,
         (SELECT max(rm) FROM r WHERE r.bno <= e.bno - 2)
           AS evicted_rm,
         (SELECT max(rm) FROM r) AS final_rm
  FROM e)
SELECT window_start, event_type, count(*) AS n
FROM k
WHERE (evicted_rm IS NULL OR we > evicted_rm - {LATE_DELAY_MS})
  AND we <= final_rm - {LATE_DELAY_MS}
GROUP BY 1, 2 ORDER BY 1, 2
""")
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: watermark LATE-DATA semantics driven end-to-end — the one
    streaming behavior the complete-mode twins (W1-W12, watermark 0)
    deliberately avoid. Tumbling 1-hour windows aggregate in APPEND
    mode under a {LATE_DELAY} watermark over the ordered late-replay:
    stragglers two batches behind find their window already evicted
    and are DROPPED (numRowsDroppedByWatermark > 0, pinned by test);
    windows emit exactly once when the watermark passes their end.

    The oracle replicates Spark's state machine relationally: the
    watermark in effect during batch b is max(event-ms through
    b-1) - delay; a row is kept iff its window end survived every
    eviction before its arrival batch (end > watermark through
    b-2); a window is emitted iff end <= the final watermark (the
    availableNow no-data batch flushes eligible state). Calibrated
    against the real engine: merge-then-evict means a one-batch
    straggler is never late, and the emitted census matches the
    model EXACTLY (all boundary strictness variants agree because no
    hour-aligned window end ever ties an odd-delay watermark).

    Scale: state is O(live windows × types); late rows are filtered
    against the store, never buffered; at 100 TB/day the same plan
    runs on a Kafka source with the same watermark bound — the
    replay harness only fabricates arrival order."""
    stream = _replay_ordered_late(spark, sf_dir, "latedata")
    agg = (stream
           .withWatermark("ts", LATE_DELAY)
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count("*").alias("n")))
    out = _run_to_memory(agg, "append")
    return (out.select(F.col("w.start").alias("window_start"),
                       "event_type", "n")
               .orderBy("window_start", "event_type"))


# ---------------------------------------------------- update mode

@register("stream_update_mode", oracle=f"""
WITH b AS (
  SELECT *, ntile({LATE_BATCHES}) OVER (ORDER BY ts, event_id) AS bno
  FROM events)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(DISTINCT bno) AS BIGINT) AS n_emissions,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM b GROUP BY 1 ORDER BY 1
""")
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: UPDATE output-mode semantics driven end-to-end — the
    third emission mode beside W1's complete and W13's append. A
    per-day rollup over the time-ordered quartile replay emits, per
    micro-batch, ONLY the keys that changed in that batch; the memory
    sink therefore accumulates one row per (day, batch-that-touched-
    it). The census reads the emission history back: `n_emissions`
    per day equals the number of distinct replay batches containing
    that day (most days live in one quartile, boundary days in two —
    data-driven, pinned against the oracle's count(DISTINCT bno)),
    and the LAST emission per key equals the batch fixpoint (counts
    are monotone, so max == final == the relational total).

    Scale: update mode is what a live dashboard sink consumes —
    deltas, not the full state; state is O(days × 1) and emissions
    are bounded by keys-touched-per-batch."""
    stream = _replay_quartile(spark, sf_dir, "updmode", F.lit(0))
    agg = (stream
           .withWatermark("ts", "0 seconds")
           .groupBy(F.date_trunc("day", "ts").alias("d"))
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("tv")))
    out = _run_to_memory(agg, "update")
    # the LAST emission per key is the batch fixpoint. n (count) is
    # strictly monotone per emission, so max over (n, tv) structs
    # selects it; a bare max("tv") would be wrong whenever the value
    # sum is non-monotone (negative event values — review-caught,
    # reproduced on a synthetic corpus before landing)
    last_tv = F.max(F.struct("n", "tv")).getField("tv")
    return (out.groupBy(F.col("d").cast("date").alias("day"))
               .agg(F.count("*").cast("long").alias("n_emissions"),
                    F.max("n").alias("n_events"),
                    last_tv.cast("double").alias("total_value"))
               .orderBy("day"))


# ------------------------------------------------- sliding windows

SLIDE_WIN = "2 hours"
SLIDE_STEP = "1 hour"


@register("stream_sliding_windows", oracle="""
WITH w AS (
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w0,
         date_trunc('hour', ts) AS w1,
         value
  FROM events),
x AS (
  SELECT w0 AS window_start, value FROM w
  UNION ALL
  SELECT w1 AS window_start, value FROM w)
SELECT window_start, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM x GROUP BY 1 ORDER BY 1
""")
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: SLIDING (overlapping) event-time windows — window
    {SLIDE_WIN} sliding every {SLIDE_STEP}, so each event belongs to
    exactly two windows (the hour it is in, and the window starting
    one hour earlier). Complete-mode fixpoint over the multi-batch
    replay hash-checks against the relational two-membership
    expansion — proving the overlap assignment, not just tumbling
    W1. State is O(live windows × 2/step overlap), the standard
    sliding-window cost."""
    stream = _replay_events(spark, sf_dir, "slidewin")
    agg = (stream
           .withWatermark("ts", "0 seconds")
           .groupBy(F.window("ts", SLIDE_WIN, SLIDE_STEP).alias("w"))
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                 .alias("tv")))
    out = _run_to_memory(agg, "complete")
    return (out.select(F.col("w.start").alias("window_start"),
                       "n_events",
                       F.col("tv").cast("double").alias("total_value"))
               .orderBy("window_start"))


# ------------------------------------------- streaming upsert sink

@register("stream_upsert_collection", oracle=f"""
WITH b AS (
  SELECT *, ntile({LATE_BATCHES}) OVER (ORDER BY ts, event_id) AS bno
  FROM events),
last AS (
  SELECT * FROM (
    SELECT user_id, ts, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
v AS (SELECT CAST(count(DISTINCT bno) AS BIGINT) AS version FROM b)
SELECT event_type,
       count(*) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         AS total_value,
       max(ts) AS last_ts,
       any_value(v.version) AS version
FROM last, v GROUP BY event_type ORDER BY event_type
""")
def stream_upsert_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: the streaming SINK side driven end-to-end — foreachBatch
    keep-latest upsert into a real on-disk versioned collection (the
    reference's live ingest: every backend's streaming add/upsert
    path), over the time-ordered quartile replay. Each micro-batch
    reduces to its latest row per user (the standard CDC compaction
    inside foreachBatch) and commits one copy-on-write upsert;
    because arrival order follows event time, the collection's final
    state is exactly last-writer-wins per user, and the commit
    history is one version per micro-batch — both pinned by the
    oracle (`version` = the number of replay batches, the census =
    the relational argmax per user).

    Scale shape: the per-batch reduction partitions on the upsert id
    (one bounded shuffle per micro-batch of batch-sized rows); the
    upsert anti-join broadcasts the batch against the collection
    head. At 100 TB the same sink runs from a Kafka source with the
    collection partitioned by id range so the anti-join prunes to
    touched partitions; the replay harness only fabricates arrival
    order."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from ..sources.catalog import Collection

    stream = _replay_quartile(spark, sf_dir, "upsertcol", F.lit(0))
    if not stream.isStreaming:
        # SCHEMA_ONLY: the replay substrate handed back an empty
        # batch frame; emit the result schema without touching disk.
        return spark.createDataFrame(
            [], "event_type string, n_users bigint, total_value double,"
                " last_ts timestamp, version bigint")
    base = artifacts.scratch("stream_upsert", sf_dir)
    col = Collection.create(spark, base, "users", id_col="user_id")
    wl = W.partitionBy("user_id").orderBy(F.desc("ts"),
                                          F.desc("event_id"))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        latest = (batch_df.withColumn("rn", F.row_number().over(wl))
                          .where(F.col("rn") == 1).drop("rn"))
        col.upsert(latest)

    ck = os.path.join(tempfile.gettempdir(),
                      "uvdb_upsertcol_ck_" + uuid.uuid4().hex[:8])
    # The foreachBatch body runs OUTSIDE _run_to_memory, so it was the
    # one streaming twin still paying session-width (32) shuffles for
    # its per-batch window + upsert anti-join — 2 shuffles x 4 commits
    # of scheduler overhead (VERDICT r7 #3's 1.28x regression). Pin
    # the same replay-scale state width every sibling uses; results
    # are partition-count invariant.
    with _pinned_stream_shuffle(spark):
        q = (stream.writeStream.foreachBatch(_sink)
                   .option("checkpointLocation", ck)
                   .trigger(availableNow=True).start())
        _await_done(q)
    version = col.describe().version
    return (col.read()
               .groupBy("event_type")
               .agg(F.count("*").alias("n_users"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("total_value"),
                    F.max("ts").alias("last_ts"))
               .withColumn("version", F.lit(version).cast("long"))
               .orderBy("event_type"))


# -------------------------------------- stream-static enrichment

@register("stream_static_enrich", oracle="""
WITH d AS (SELECT event_type, round(avg(value), 6) AS ref_avg
           FROM events GROUP BY 1)
SELECT e.event_type,
       count(*) AS n_events,
       any_value(d.ref_avg) AS ref_avg,
       CAST(sum(CAST(e.value - d.ref_avg AS DECIMAL(18,6)))
            AS DOUBLE) AS total_dev,
       CAST(sum(CASE WHEN e.value > d.ref_avg THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above
FROM events e JOIN d USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""")
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: STREAM-STATIC join — the most common production streaming
    pattern (enrich a live stream against batch reference data) and a
    distinct Structured Streaming execution surface from the
    stream-stream join (W9) and the stateful aggs: the static side is
    planned once and broadcast into every micro-batch. The reference
    frame here is per-type batch statistics (the 'reference data'
    produced by an offline job); each streamed event joins its type's
    reference average and the complete-mode rollup censuses count,
    deviation sum, and how many events beat their reference — the
    fixpoint hash-matches the all-batch relational join.

    Scale shape: the static side is |types| rows — broadcast, no
    shuffle added to the stream; the only streaming state is the
    |types|-key aggregate. Deviations quantize to DECIMAL before the
    sum so the fold is merge-order-free across micro-batches. At
    100 TB/day this is the plan a feature-enrichment sink compiles
    to, with the reference table refreshed by the batch pipeline."""
    ref = (tables.load_events(spark, sf_dir)
           .groupBy("event_type")
           .agg(F.round(F.avg("value"), 6).alias("ref_avg")))
    stream = _replay_events(spark, sf_dir, "enrich")
    joined = stream.join(F.broadcast(ref), "event_type")
    dev = (F.col("value") - F.col("ref_avg")).cast("decimal(18,6)")
    agg = (joined.groupBy("event_type")
                 .agg(F.count("*").alias("n_events"),
                      F.any_value("ref_avg").alias("ref_avg"),
                      F.sum(dev).alias("dv"),
                      F.sum(F.when(F.col("value") > F.col("ref_avg"),
                                   1).otherwise(0)).cast("long")
                       .alias("n_above")))
    out = _run_to_memory(agg, "complete")
    return (out.select("event_type", "n_events", "ref_avg",
                       F.col("dv").cast("double").alias("total_dev"),
                       "n_above")
               .orderBy("event_type"))
