"""Custom stateful streaming operator (SURVEY §2.9):
applyInPandasWithState keeping a bounded running top-k per key — the
streaming twin of grouped top-k search, and the pattern for any
reference-style "maintain an index incrementally as vectors arrive"
flow. State per key is exactly k scalars, so the state store stays
O(keys * k) forever.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from .. import artifacts, tables
from ..registry import register

OUTPUT_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("topk", ArrayType(DoubleType())),
    StructField("n_seen", LongType()),
])
STATE_SCHEMA = StructType([
    StructField("topk", ArrayType(DoubleType())),
    StructField("n_seen", LongType()),
])


def _update_topk(key, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    if state.exists:
        topk, n_seen = state.get
        topk = list(topk)
    else:
        topk, n_seen = [], 0
    k = 3
    for pdf in pdfs:
        n_seen += len(pdf)
        for v in pdf["value"]:
            topk.append(float(v))
        topk = sorted(topk, reverse=True)[:k]
    state.update((topk, n_seen))
    yield pd.DataFrame({"key": [key[0]], "topk": [topk],
                        "n_seen": [n_seen]})


def running_topk(stream: DataFrame, key_col: str = "event_type",
                 value_col: str = "value") -> DataFrame:
    """Per-key running top-3 of `value` across all micro-batches."""
    keyed = stream.selectExpr(f"{key_col} as key",
                              f"{value_col} as value").groupBy("key")
    return keyed.applyInPandasWithState(
        _update_topk,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


@register("stateful_topk_stream", oracle="""
WITH t AS (
  SELECT event_type AS key,
         list(value ORDER BY value DESC)[1:3] AS topk,
         count(*) AS n_seen
  FROM events GROUP BY event_type)
SELECT key, rank, topv, n_seen FROM (
  SELECT key,
         CAST(generate_subscripts(topk, 1) AS INT) AS rank,
         unnest(topk) AS topv,
         CAST(n_seen AS BIGINT) AS n_seen
  FROM t)
ORDER BY key, rank
""")
def stateful_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 driven end-to-end for the correctness gate: replay events as
    a multi-batch file stream (maxFilesPerTrigger=1 -> 4 incremental
    state updates), run the REAL applyInPandasWithState running-top-k,
    and reduce the update-mode emissions to each key's final state
    (max_by on the monotone n_seen). The oracle is the batch fixpoint
    — per-key top-3 values + total count — so the streaming state
    machine is hash-checked, not just smoke-run. The final top-k is
    posexploded to (key, rank, topv) rows: the driver's pandas
    canonicalizer cannot sort/hash array cells (r3 ERR), so arrays
    never appear in a final queries() output schema."""
    from .. import flags

    if flags.SCHEMA_ONLY:
        # applyInPandasWithState requires a streaming source; for
        # schema-only consumers, thread an empty frame with the
        # operator's declared OUTPUT_SCHEMA through the same
        # post-stream reduction so the final schema is the real one.
        emissions = spark.createDataFrame([], OUTPUT_SCHEMA)
    else:
        ev = tables.load_events(spark, sf_dir).select("event_type", "value")
        src = artifacts.persisted(
            "topk_src", tables.table_path(sf_dir, "events"),
            lambda p: ev.repartition(4).write.parquet(p))
        stream = (spark.readStream.schema("event_type string, value double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        from .ingest import _run_to_memory
        emissions = _run_to_memory(running_topk(stream), "update")
    final = (emissions
             .groupBy("key")
             .agg(F.max_by("topk", "n_seen").alias("topk"),
                  F.max("n_seen").alias("n_seen")))
    return (final.select("key", "n_seen",
                         F.posexplode("topk").alias("_pos", "topv"))
                 .select("key", (F.col("_pos") + 1).cast("int").alias("rank"),
                         "topv", "n_seen")
                 .orderBy("key", "rank"))


# ------------------------------------------------- streaming EQL (W18)

EQL_OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("ts_us", LongType()),
    StructField("span_us", LongType()),
])
# carried chain state per user: latest prior view ts, latest prior
# (click ts, that click's view ts) — three int64 microsecond scalars,
# -1 = absent. O(1) per key forever.
EQL_STATE_SCHEMA = StructType([
    StructField("lv", LongType()),
    StructField("lc_ts", LongType()),
    StructField("lc_lv", LongType()),
])


def _eql_update(key, pdfs: "Iterator[pd.DataFrame]",
                state: GroupState) -> "Iterator[pd.DataFrame]":
    """Vectorized per-user EQL chain: within the batch the carried
    values are pandas ffill/shift series (NO per-row python), seeded
    from the carried state; matches are a boolean mask."""
    from ..operators.timeseries import EQL_MAXSPAN_S

    lv, lc_ts, lc_lv = state.get if state.exists else (-1, -1, -1)
    frames = [p for p in pdfs if len(p)]
    if not frames:
        state.update((lv, lc_ts, lc_lv))
        return
    # reset_index: concat of several arrow chunks repeats index labels,
    # and a duplicate label turns .loc[label] into a Series (probe-
    # caught at 64x — smaller corpora never produced multi-chunk groups)
    df = (pd.concat(frames).sort_values(["ts_us", "event_id"])
            .reset_index(drop=True))
    us = df["ts_us"]
    is_view = df["event_type"] == "view"
    is_click = df["event_type"] == "click"
    # latest view STRICTLY before each row: ffill then shift(1);
    # leading gaps inherit the carried state
    lv_b = us.where(is_view).ffill().shift(1)
    if lv >= 0:
        lv_b = lv_b.fillna(float(lv))
    # latest (click, its-view) pair strictly before each row — the
    # two columns update at identical positions, so independent
    # ffills stay consistent
    ok_click = is_click & lv_b.notna()
    c_ts = us.where(ok_click).ffill().shift(1)
    c_lv = lv_b.where(ok_click).ffill().shift(1)
    if lc_ts >= 0:
        c_ts = c_ts.fillna(float(lc_ts))
        c_lv = c_lv.fillna(float(lc_lv))
    span = us - c_lv
    hit = ((df["event_type"] == "purchase") & c_lv.notna()
           & (span <= EQL_MAXSPAN_S * 1_000_000))
    out = pd.DataFrame({
        "user_id": df["user_id"][hit].astype("int64"),
        "ts_us": us[hit].astype("int64"),
        "span_us": span[hit].astype("int64"),
    })
    # roll the state forward to end-of-batch values
    views = us[is_view]
    new_lv = int(views.iloc[-1]) if len(views) else lv
    # end-of-batch click pair must include the batch's LAST row
    lv_incl = us.where(is_view).ffill()
    if lv >= 0:
        lv_incl = lv_incl.fillna(float(lv))
    ok_incl = is_click & lv_incl.notna()
    if ok_incl.any():
        last = ok_incl[::-1].idxmax()
        new_lc_ts, new_lc_lv = int(us.loc[last]), int(lv_incl.loc[last])
    else:
        new_lc_ts, new_lc_lv = lc_ts, lc_lv
    state.update((new_lv, new_lc_ts, new_lc_lv))
    yield out


def _eql_oracle() -> str:
    """The batch twin's oracle, verbatim — streaming emissions rolled
    into the day census must equal the batch fixpoint."""
    from ..registry import ORACLES
    o = ORACLES["eql_sequence"]
    return o() if callable(o) else o


@register("stream_eql_sequence", oracle=_eql_oracle)
def stream_eql_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: the EQL `sequence by user_id with maxspan` state machine
    run AS A STREAM — applyInPandasWithState carrying exactly the two
    chain registers the batch twin (`eql_sequence`,
    operators/timeseries.py) resolves with window functions: latest
    prior view, latest prior (click, its-view) pair. Arrival order is
    the event-time-quartile replay (the W13/W14 ordered substrate),
    so the per-user state machine sees a time-ordered sequence split
    across 4 micro-batches; state is 3 int64 scalars per user —
    bounded on an unbounded stream, which is WHY detections run as
    EQL streams and not nightly batch sweeps. Within a batch the
    carry is vectorized pandas ffill/shift (no per-row python).

    Hash parity: each matched purchase is emitted exactly once (by
    the batch that processes it), so the union of update-mode
    emissions rolled into the day census must equal the batch
    operator — the oracle below is eql_sequence's, verbatim."""
    from .. import flags
    from .ingest import _replay_quartile

    stream = _replay_quartile(spark, sf_dir, "eqlseq", F.lit(0))
    if flags.SCHEMA_ONLY or not stream.isStreaming:
        matches = spark.createDataFrame([], EQL_OUT_SCHEMA)
    else:
        keyed = (stream
                 .where(F.col("event_type")
                         .isin("view", "click", "purchase"))
                 .select("user_id", "event_id", "event_type",
                         F.unix_micros("ts").alias("ts_us"))
                 .groupBy("user_id"))
        out = keyed.applyInPandasWithState(
            _eql_update,
            outputStructType=EQL_OUT_SCHEMA,
            stateStructType=EQL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
        from .ingest import _run_to_memory
        matches = _run_to_memory(out, "update")
    day = F.date_trunc("day", F.timestamp_micros("ts_us")).cast("date")
    return (matches.groupBy(day.alias("day"))
            .agg(F.count("*").alias("n_sequences"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.round(F.sum("span_us").cast("double")
                         / F.count("*") / 1_000_000.0, 6)
                  .alias("avg_span_s"))
            .orderBy("day"))


# -------------------------------------- streaming counter rate (W19)

RATE_OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n", LongType()),
    StructField("resets", LongType()),
    StructField("inc_u6", LongType()),     # Σ round(inc, 6) in 1e-6 units
    StructField("first_us", LongType()),
    StructField("last_us", LongType()),
])
# per-series registers: previous reading (as 1e-6 units; -1 = none),
# running n / resets / exact increment sum / time bounds — six int64
# scalars, the whole TSDB rate state for a series.
RATE_STATE_SCHEMA = StructType([
    StructField("prev_u6", LongType()),
    StructField("n", LongType()),
    StructField("resets", LongType()),
    StructField("inc_u6", LongType()),
    StructField("first_us", LongType()),
    StructField("last_us", LongType()),
])


def _rate_update(key, pdfs: "Iterator[pd.DataFrame]",
                 state: GroupState) -> "Iterator[pd.DataFrame]":
    prev_u6, n, resets, inc_u6, first_us, last_us = (
        state.get if state.exists else (-1, 0, 0, 0, -1, -1))
    frames = [p for p in pdfs if len(p)]
    if not frames:
        state.update((prev_u6, n, resets, inc_u6, first_us, last_us))
        return
    df = (pd.concat(frames).sort_values(["ts_us", "event_id"])
            .reset_index(drop=True))
    vals = df["value"]
    prev = vals.shift(1)
    if prev_u6 >= 0:
        prev = prev.fillna(prev_u6 / 1e6)
    inc = vals.where(vals < prev, vals - prev).where(prev.notna(), 0.0)
    # exact integer micro-units of round(inc, 6): the same numbers the
    # batch twin folds as DECIMAL(18,6) — merge-order-free either way
    inc_u6 += int(round(inc, 6).mul(1e6).round().astype("int64").sum())
    resets += int((vals < prev).sum())
    n += len(df)
    us = df["ts_us"]
    first_us = int(us.iloc[0]) if first_us < 0 else first_us
    last_us = int(us.iloc[-1])
    prev_u6 = int(round(float(vals.iloc[-1]) * 1e6))
    state.update((prev_u6, n, resets, inc_u6, first_us, last_us))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n],
                        "resets": [resets], "inc_u6": [inc_u6],
                        "first_us": [first_us], "last_us": [last_us]})


def _rate_oracle() -> str:
    from ..registry import ORACLES
    o = ORACLES["counter_rate_resets"]
    return o() if callable(o) else o


@register("stream_counter_rate", oracle=_rate_oracle)
def stream_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19: the TSDB counter `rate` (R107's semantics — lag-diff with
    reset handling) maintained AS A STREAM: applyInPandasWithState
    carrying six int64 registers per series — previous reading,
    counts, the EXACT increment sum in 1e-6 units (the same numbers
    the batch twin folds as DECIMAL), and the series' time bounds.
    This is how a TSDB ingest node actually keeps rates: per-series
    registers updated on arrival, never a rescan. Arrival order is
    the event-time-quartile replay; in-batch math is vectorized
    pandas shift/where seeded from carried state (no per-row
    python).

    Hash parity: update-mode emissions are cumulative, so the final
    state per series is the max-n emission; the day... rate census
    computed from it must equal the batch operator under ITS oracle,
    verbatim."""
    from ..operators.timeseries import RATE_TOP
    from .. import flags
    from .ingest import _replay_quartile, _run_to_memory

    stream = _replay_quartile(spark, sf_dir, "ctrrate", F.lit(0))
    if flags.SCHEMA_ONLY or not stream.isStreaming:
        emissions = spark.createDataFrame([], RATE_OUT_SCHEMA)
    else:
        keyed = (stream.select("user_id", "event_id", "value",
                               F.unix_micros("ts").alias("ts_us"))
                 .groupBy("user_id"))
        out = keyed.applyInPandasWithState(
            _rate_update,
            outputStructType=RATE_OUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
        emissions = _run_to_memory(out, "update")
    final = (emissions.groupBy("user_id")
             .agg(F.max_by(F.struct("n", "resets", "inc_u6",
                                    "first_us", "last_us"), "n")
                   .alias("s")))
    total = F.col("s.inc_u6").cast("double") / 1e6
    hours = (F.col("s.last_us") - F.col("s.first_us")) / 3600000000.0
    return (final.select("user_id",
                         F.col("s.n").alias("n_samples"),
                         F.col("s.resets").alias("n_resets"),
                         F.round(total, 6).alias("total_inc"),
                         F.round(total / hours, 6).alias("rate_per_hour"),
                         hours.alias("_h"))
                 .where((F.col("n_samples") >= 2) & (F.col("_h") > 0))
                 .drop("_h")
                 .orderBy(F.desc("rate_per_hour"), "user_id")
                 .limit(RATE_TOP))
