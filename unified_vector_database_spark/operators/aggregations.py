"""Elasticsearch aggregations: metric, bucket, pipeline, nested-scope
and geo-grid aggs, plus the payload filters whose censuses are
aggregations (ES `exists`, Qdrant `is_empty`/`is_null`, the Milvus
ARRAY and JSON_CONTAINS families). Statistical aggs live in stats.py,
time-series pipelines in timeseries.py.

Reference parity: each op is a named aggregation type of the reference
stack's Elasticsearch backend (README.md:82 `VECTOR_DB=elastic`) or a
Milvus/Qdrant payload condition; the DuckDB twins are plain SQL.

Scale shape: raw rows are read ONCE by a partial-aggregating scan whose
bucket key (CASE label, prefix mask, geohash/tile/hex cell, JSON path)
is computed map-side, so the only shuffle carries bucket-count-sized
partials. Everything after (pipeline windows, bucket sorts, sibling
math, nested-scope joins back to parents) runs on bucket rows, bounded
by the bucket count and never by the corpus; a constant-partition
window only ever sees an already-aggregated frame. Money and power sums
accumulate as exact DECIMAL and cast to DOUBLE in the last select, so
results are partition-order-free and hash-stable. Each section below
states its own shape.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..functions.text import TOK_SQL, tokens
from ..registry import register
from .geo import with_coords


# ======================================================================
# weighted_avg, numeric histogram, multi_terms, bucket_selector (the
# HAVING pipeline agg), and the cumulative_sum/derivative pipeline
# pair over a date_histogram.
#
# Reference parity: the ES side of the reference stack exposes these
# as first-class aggs (`weighted_avg`, `histogram`, `multi_terms`,
# `bucket_selector`, `cumulative_sum`, `derivative`); the relational
# twins are unremarkable SQL, which is the point — each compiles to
# one partial-aggregating scan plus at most one bounded window.
#
# Scale shapes:
# - weighted_avg / histogram / multi_terms: single scan → partial agg;
#   histogram bucket keys are value-range-bounded, multi_terms output
#   is cut by TakeOrdered, never a full sort.
# - bucket_selector: the HAVING predicate evaluates on aggregated
#   buckets (|users| rows), not events — filter above the agg, below
#   the TakeOrdered.
# - pipeline aggs: the running window orders day buckets WITHIN each
#   event_type partition (≤ days rows per group) — bounded, partitioned,
#   and the running total accumulates in exact DECIMAL (order-fixed by
#   the window, engine-identical) before the final DOUBLE cast.
# ======================================================================


HIST_INTERVAL = 50.0
SELECTOR_MIN_EVENTS = 70


@register("weighted_avg_price", oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(20,2)))
            AS DOUBLE) AS wsum,
       round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(20,2)))
                  AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
             6) AS weighted_avg_price
FROM lineitem
GROUP BY 1 ORDER BY 1
""")
def weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `weighted_avg` agg: mean extendedprice weighted by quantity
    per returnflag. Both numerator and denominator accumulate as
    exact DECIMAL (order-independent under any partitioning); only
    the final ratio is floating point."""
    li = tables.load(spark, sf_dir, "lineitem")
    wsum = F.sum((F.col("l_extendedprice") * F.col("l_quantity"))
                 .cast("decimal(20,2)")).cast("double")
    qsum = F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    return (li.groupBy("l_returnflag")
              .agg(wsum.alias("wsum"),
                   F.round(wsum / qsum, 6).alias("weighted_avg_price"))
              .orderBy("l_returnflag"))


@register("value_histogram", oracle=f"""
SELECT floor(value / {HIST_INTERVAL!r}) * {HIST_INTERVAL!r} AS bucket,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1 ORDER BY 1
""")
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `histogram` agg over a numeric field: fixed-interval
    buckets with count + sum. The bucket key is map-side floor math;
    cardinality is bounded by the value range, so the shuffle moves
    bucket rows only."""
    ev = tables.load(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / HIST_INTERVAL) * F.lit(HIST_INTERVAL)
    return (ev.groupBy(bucket.alias("bucket"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"))
              .orderBy("bucket"))


@register("multi_terms_agg", oracle="""
SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY n DESC, event_type, hr LIMIT 15
""")
def multi_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `multi_terms` agg: top composite (event_type, hour) buckets
    by doc count. One partial agg over the composite key,
    TakeOrdered cut."""
    ev = tables.load(spark, sf_dir, "events")
    return (ev.groupBy("event_type", F.hour("ts").alias("hr"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"))
              .orderBy(F.desc("n"), "event_type", "hr").limit(15))


@register("bucket_selector_having", oracle=f"""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
HAVING count(*) >= {SELECTOR_MIN_EVENTS}
ORDER BY total_value DESC, user_id LIMIT 20
""")
def bucket_selector_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bucket_selector` pipeline agg (= SQL HAVING): keep only
    user buckets with ≥ min_events events, page the heaviest. The
    predicate runs on |users| aggregated rows, never on raw events."""
    ev = tables.load(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"))
              .where(F.col("n_events") >= SELECTOR_MIN_EVENTS)
              .orderBy(F.desc("total_value"), "user_id").limit(20))


@register("events_pipeline_aggs", oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS dsum
  FROM events GROUP BY 1, 2)
SELECT event_type, day,
       CAST(dsum AS DOUBLE) AS daily_value,
       CAST(sum(dsum) OVER (PARTITION BY event_type ORDER BY day)
            AS DOUBLE) AS cumulative_value,
       CAST(dsum - lag(dsum) OVER (PARTITION BY event_type ORDER BY day)
            AS DOUBLE) AS derivative
FROM daily ORDER BY event_type, day
""")
def events_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `cumulative_sum` + `derivative` pipeline aggs over a
    date_histogram: daily totals per event type with a running total
    and day-over-day delta. The window runs over ≤ days bucket rows
    per event_type partition; the running sum accumulates the exact
    per-day DECIMALs in window order, so it is engine-identical, and
    only the output columns cast to DOUBLE."""
    ev = tables.load(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                     .alias("dsum")))
    w = W.partitionBy("event_type").orderBy("day")
    return (daily.select(
                "event_type", "day",
                F.col("dsum").cast("double").alias("daily_value"),
                F.sum("dsum").over(w).cast("double")
                 .alias("cumulative_value"),
                (F.col("dsum") - F.lag("dsum").over(w)).cast("double")
                 .alias("derivative"))
            .orderBy("event_type", "day"))


ANOM_WIN = 7      # trailing days in the moving-stats frame
ANOM_Z = 2.0


@register("events_anomaly", oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS dsum
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, day, CAST(dsum AS DOUBLE) AS daily_value,
         CAST(sum(dsum) OVER f AS DOUBLE) AS s1,
         CAST(sum(dsum * dsum) OVER f AS DOUBLE) AS s2,
         count(*) OVER f AS n
  FROM daily
  WINDOW f AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {ANOM_WIN - 1} PRECEDING AND CURRENT ROW)),
z AS (
  SELECT event_type, day, daily_value,
         CASE WHEN n < {ANOM_WIN}
                   OR (s2 - s1 * s1 / n) / (n - 1) <= 0 THEN NULL
              ELSE (daily_value - s1 / n)
                   / sqrt((s2 - s1 * s1 / n) / (n - 1)) END AS zraw
  FROM w)
SELECT event_type, day, daily_value, round(zraw, 4) AS z,
       CAST(CASE WHEN abs(zraw) > {ANOM_Z!r} THEN 1 ELSE 0 END AS INT)
         AS is_anomaly
FROM z ORDER BY event_type, day
""")
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving z-score anomaly flagging (ES `moving_fn` stddev /
    anomaly-detection rollup): each day's total scored against the
    trailing {window}-day mean/σ within its series. The moving
    moments accumulate as exact DECIMALs inside the ordered frame
    (engine-identical regardless of partitioning), so z and the flag
    are deterministic; only full frames get a score. The window runs
    over ≤days bucket rows per event_type partition."""
    ev = tables.load(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                     .alias("dsum")))
    f = (W.partitionBy("event_type").orderBy("day")
          .rowsBetween(-(ANOM_WIN - 1), 0))
    w = daily.select(
        "event_type", "day",
        F.col("dsum").cast("double").alias("daily_value"),
        F.sum("dsum").over(f).cast("double").alias("s1"),
        F.sum(F.col("dsum") * F.col("dsum")).over(f).cast("double")
         .alias("s2"),
        F.count("*").over(f).alias("n"))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) \
        / (F.col("n") - 1)
    zraw = F.when((F.col("n") < ANOM_WIN) | (var <= 0), F.lit(None)) \
            .otherwise((F.col("daily_value") - F.col("s1") / F.col("n"))
                       / F.sqrt(var))
    return (w.select("event_type", "day", "daily_value",
                     F.round(zraw, 4).alias("z"),
                     F.when(F.abs(zraw) > ANOM_Z, 1).otherwise(0)
                      .cast("int").alias("is_anomaly"))
             .orderBy("event_type", "day"))


# ======================================================================
# `top_metrics`, `range` (custom bucket boundaries), `bucket_sort`
# (order/page buckets by a metric), `cumulative_cardinality`, and
# `geo_bounds`.
#
# Reference parity: all are named aggregation types of the reference
# stack's Elasticsearch backend (README.md:82 `VECTOR_DB=elastic`).
#
# Scale shapes: each aggregates raw events ONCE with a partial-agg scan;
# everything after runs on bucket rows. The two ops that use a
# constant-partition window (bucket_sort's page rank,
# cumulative_cardinality's running sum) do so over an ALREADY-AGGREGATED
# frame whose row count is bounded by the date span (≤|days| rows) —
# never over raw events; bucket_sort additionally TakeOrdered-cuts to
# offset+size rows BEFORE the rank window.
#
# cumulative_cardinality is the interesting one at scale: a naive
# per-day distinct-union is quadratic. The standard linear rewrite used
# here: first-seen day per user (one groupBy over events), histogram of
# first-seen days, running sum — each user contributes exactly one row
# past the first agg.
# ======================================================================


# -------------------------------------------------------------- top_metrics


@register("top_metrics_agg", oracle="""
WITH r AS (
  SELECT event_type, ts, value, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rnk
  FROM events)
SELECT event_type, ts AS last_ts, value AS last_value, user_id AS last_user
FROM r WHERE rnk = 1 ORDER BY event_type
""")
def top_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `top_metrics` agg: the metric values carried by the row
    with the extreme sort key per bucket (here: the latest event's
    value/user per event type). A deterministic argmax — window
    ranked by (ts desc, id desc); WindowGroupLimit cuts to 1 row per
    bucket map-side. Engine max_by/arg_max builtins are avoided: their
    tie-breaking is unspecified."""
    ev = tables.load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rnk", F.row_number().over(w))
              .where(F.col("rnk") == 1)
              .select("event_type", F.col("ts").alias("last_ts"),
                      F.col("value").alias("last_value"),
                      F.col("user_id").alias("last_user"))
              .orderBy("event_type"))


# -------------------------------------------------------------------- range

RANGE_BOUNDS = (10.0, 50.0, 100.0)


def _range_label_sql() -> str:
    lo, mid, hi = RANGE_BOUNDS
    return (f"CASE WHEN value < {lo!r} THEN 'a_lt_{lo:g}' "
            f"WHEN value < {mid!r} THEN 'b_{lo:g}_{mid:g}' "
            f"WHEN value < {hi!r} THEN 'c_{mid:g}_{hi:g}' "
            f"ELSE 'd_gte_{hi:g}' END")


@register("range_agg", oracle=f"""
SELECT {_range_label_sql()} AS bucket,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1 ORDER BY 1
""")
def range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `range` agg: explicit, possibly open-ended bucket
    boundaries (vs the fixed-interval histogram R41). Bucket label is
    map-side CASE math; cardinality = number of declared ranges."""
    ev = tables.load(spark, sf_dir, "events")
    lo, mid, hi = RANGE_BOUNDS
    bucket = (F.when(F.col("value") < lo, f"a_lt_{lo:g}")
               .when(F.col("value") < mid, f"b_{lo:g}_{mid:g}")
               .when(F.col("value") < hi, f"c_{mid:g}_{hi:g}")
               .otherwise(f"d_gte_{hi:g}"))
    return (ev.groupBy(bucket.alias("bucket"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"))
              .orderBy("bucket"))


# -------------------------------------------------------------- bucket_sort

BSORT_OFFSET = 2
BSORT_SIZE = 5


@register("bucket_sort_agg", oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
r AS (
  SELECT day, total,
         row_number() OVER (ORDER BY total DESC, day) AS rnk
  FROM d)
SELECT day, total, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk > {BSORT_OFFSET} AND rnk <= {BSORT_OFFSET + BSORT_SIZE}
ORDER BY rnk
""")
def bucket_sort_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bucket_sort` pipeline agg: order sibling buckets by a
    metric, then from/size-page them (days 3..7 by total value). The
    bucket frame is TakeOrdered-cut to offset+size rows FIRST; the
    page ranks via the repo's window-free bounded shape
    (collect/array_sort/posexplode — hybrid.bounded_ranks rationale:
    a constant-partition row_number window is an UNPARTITIONED
    WindowExec after Catalyst folds the literal key, which the plan
    gate in test_plans.py rightly rejects)."""
    ev = tables.load(spark, sf_dir, "events")
    d = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total")))
    page = (d.orderBy(F.desc("total"), "day")
             .limit(BSORT_OFFSET + BSORT_SIZE))
    # Coalesce before negating: a NULL total (all-NULL day) would sort
    # FIRST in Spark's struct comparison but LAST under the oracle's
    # ORDER BY total DESC (NULLS LAST); -inf -> +inf pins NULL buckets
    # last on both engines (latent — corpus is non-null).
    arr = page.agg(F.array_sort(F.collect_list(F.struct(
        (-F.coalesce(F.col("total"), F.lit(float("-inf")))).alias("_nt"),
        F.col("day").alias("day"),
        F.col("total").alias("total")))).alias("a"))
    return (arr.select(F.posexplode("a").alias("_pos", "_s"))
               .select(F.col("_s.day").alias("day"),
                       F.col("_s.total").alias("total"),
                       (F.col("_pos") + 1).cast("int").alias("rnk"))
               .where(F.col("rnk") > BSORT_OFFSET)
               .orderBy("rnk"))


# ---------------------------------------------------- cumulative_cardinality


@register("cumulative_cardinality_agg", oracle="""
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
def cumulative_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `cumulative_cardinality` pipeline agg: running distinct
    users per day. The naive per-day distinct-union is quadratic; the
    linear rewrite aggregates each user's FIRST-seen day (one groupBy
    over events), histograms those, and runs a cumulative sum over
    ≤|days| bucket rows. Exact, mergeable, and each user crosses the
    shuffle once."""
    ev = tables.load(spark, sf_dir, "events")
    fs = (ev.groupBy("user_id")
            .agg(F.min(F.date_trunc("day", "ts").cast("date"))
                  .alias("first_day")))
    return cumulate_first_seen(fs)


def cumulate_first_seen(fs: DataFrame) -> DataFrame:
    """(user_id, first_day) -> (day, new_users, cum_users). Running
    sum WITHOUT a window (constant-partition windows fold to
    UNPARTITIONED WindowExec — rejected by the plan gate): fold the
    ≤|days| sorted bucket array with an accumulator that appends
    (day, new, running) structs, then explode. Shared with the W8
    streaming twin (streaming/ingest.stream_first_seen_users)."""
    h = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users"))
    arr = h.agg(F.array_sort(F.collect_list(
        F.struct(F.col("day").alias("day"),
                 F.col("new_users").alias("new_users")))).alias("a"))
    folded = arr.select(F.aggregate(
        "a",
        F.lit(None).cast(
            "array<struct<day:date,new_users:bigint,cum_users:bigint>>"),
        lambda acc, x: F.concat(
            F.coalesce(acc, F.array()),
            F.array(F.struct(
                x.getField("day").alias("day"),
                x.getField("new_users").alias("new_users"),
                (F.coalesce(F.try_element_at(acc, F.lit(-1))
                             .getField("cum_users"), F.lit(0))
                 + x.getField("new_users")).alias("cum_users"))))
    ).alias("c"))
    return (folded.select(F.explode("c").alias("_s"))
                  .select(F.col("_s.day").alias("day"),
                          F.col("_s.new_users").alias("new_users"),
                          F.col("_s.cum_users").cast("bigint")
                           .alias("cum_users"))
                  .orderBy("day"))


# --------------------------------------------------------------- geo_bounds


@register("geo_bounds_agg", oracle="""
WITH geo AS (
  SELECT c_mktsegment,
         ((c_custkey * 9973) % 18000) / 100.0 - 90.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer)
SELECT c_mktsegment,
       count(*) AS n,
       min(lat) AS south, max(lat) AS north,
       min(lon) AS west,  max(lon) AS east
FROM geo GROUP BY 1 ORDER BY 1
""")
def geo_bounds_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geo_bounds` agg: the bounding box enclosing each bucket's
    points (derived customer coordinates, same placement as
    operators/geo.py). Pure min/max partial agg — exact doubles, no
    rounding needed."""
    geo = with_coords(tables.load(spark, sf_dir, "customer"))
    return (geo.groupBy("c_mktsegment")
               .agg(F.count("*").alias("n"),
                    F.min("lat").alias("south"), F.max("lat").alias("north"),
                    F.min("lon").alias("west"), F.max("lon").alias("east"))
               .orderBy("c_mktsegment"))


# ------------------------------------------------------ frequent_item_sets

FIS_MIN_SUPPORT = 0.25  # pair must appear in >= 25% of docs
FIS_TOP = 15


@register("frequent_item_sets", oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(
    {TOK_SQL}) AS term
  FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents),
p AS (
  SELECT a.term AS item_a, b.term AS item_b, count(*) AS support_count
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2),
f AS (
  SELECT item_a, item_b, support_count,
         round(CAST(support_count AS DOUBLE) / n.n_docs, 6) AS support
  FROM p, n
  WHERE support_count >= {FIS_MIN_SUPPORT!r} * n.n_docs)
SELECT item_a, item_b, CAST(support_count AS BIGINT) AS support_count,
       support
FROM f ORDER BY support_count DESC, item_a, item_b LIMIT {FIS_TOP}
""")
def frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `frequent_item_sets` agg (market-basket mining): token
    pairs co-occurring in >= min_support of documents. Per-doc
    DISTINCT items first (array_distinct BEFORE the explode), then
    the pair generation is a doc-keyed self-join — co-partitioned on
    doc_id, so each task pairs only its own docs' items; candidate
    volume is Σ_doc (distinct_items choose 2), which the distinct cut
    and (at scale) a frequent-1-itemset pre-filter (the Apriori
    property: a pair can't be frequent unless both items are) keep
    far below corpus x vocab². Support filter on the aggregated
    counts, TakeOrdered page."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    # doc count as a broadcast 1-row frame, not a driver-side action —
    # the support threshold stays inside the plan
    n = docs.agg(F.count("*").alias("n_docs"))
    toks = F.array_distinct(
        F.filter(F.split(F.trim("text"), " "), lambda t: t != ""))
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    pairs = (tok.alias("a").join(
        tok.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("item_a"),
                 F.col("b.term").alias("item_b"))
        .agg(F.count("*").alias("support_count")))
    return (pairs.crossJoin(F.broadcast(n))
                 .where(F.col("support_count")
                        >= FIS_MIN_SUPPORT * F.col("n_docs"))
                 .select("item_a", "item_b",
                         F.col("support_count").cast("bigint")
                          .alias("support_count"),
                         F.round(F.col("support_count").cast("double")
                                 / F.col("n_docs"), 6).alias("support"))
                 .orderBy(F.desc("support_count"), "item_a", "item_b")
                 .limit(FIS_TOP))


# -------------------------------------------------------- normalize agg


@register("normalize_agg", oracle="""
WITH h AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS tv
      FROM h)
SELECT event_type, n, total,
       round(CAST(n AS DOUBLE) / t.tn, 6) AS pct_of_docs,
       round(total / t.tv, 6) AS pct_of_value
FROM h, t ORDER BY event_type
""")
def normalize_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `normalize` pipeline agg (percent_of_sum method): each
    bucket's metric as a share of the total. The grand total is a
    1-row agg over the bucket frame, broadcast back — bucket rows
    only, never raw events twice."""
    ev = tables.load(spark, sf_dir, "events")
    h = (ev.groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total")))
    t = h.agg(F.sum("n").cast("bigint").alias("tn"),
              F.sum(F.col("total").cast("decimal(18,2)"))
               .cast("double").alias("tv"))
    return (h.crossJoin(F.broadcast(t))
             .select("event_type", "n", "total",
                     F.round(F.col("n").cast("double") / F.col("tn"), 6)
                      .alias("pct_of_docs"),
                     F.round(F.try_divide(F.col("total"), F.col("tv")), 6)
                      .alias("pct_of_value"))
             .orderBy("event_type"))


# ------------------------------------------- missing/global/date/ip range
#
# `missing`-value bucket, `global` bucket, and the `date_range` /
# `ip_range` variants of the range agg. All are one map-side CASE /
# rollup away from range_agg's shape — bucket label computed in the
# scan, one partial-agg groupBy, bucket-count-sized output.


@register("missing_bucket_agg", oracle="""
SELECT coalesce(c.c_mktsegment, '__missing__') AS segment,
       count(*) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 <> 0) c
  ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1
""")
def missing_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `missing` agg composed with a terms agg: events enriched
    from a dimension that genuinely lacks 1/3 of the keys (users with
    no CRM record); rows whose field is absent land in an explicit
    `__missing__` bucket instead of silently dropping. The dim side is
    broadcast (it's customer-sized); the missing-bucket labeling is a
    map-side coalesce after the join — no extra pass."""
    ev = tables.load(spark, sf_dir, "events")
    cust = (tables.load(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % 3 != 0)
            .select("c_custkey", "c_mktsegment"))
    return (ev.join(F.broadcast(cust),
                    ev.user_id == cust.c_custkey, "left")
              .groupBy(F.coalesce("c_mktsegment", F.lit("__missing__"))
                        .alias("segment"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"))
              .orderBy("segment"))


GLOBAL_VALUE_MIN = 50.0


@register("global_bucket_agg", oracle=f"""
WITH q AS (
  SELECT CASE WHEN value > {GLOBAL_VALUE_MIN!r} THEN event_type END AS b,
         value
  FROM events)
SELECT CASE WHEN grouping(b) = 1 THEN '__global__' ELSE b END AS bucket,
       count(*) AS n, round(avg(value), 6) AS avg_value
FROM q GROUP BY ROLLUP (b)
HAVING grouping(b) = 1 OR b IS NOT NULL
ORDER BY bucket
""")
def global_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `global` bucket: aggregations that ignore the query filter,
    side-by-side with the filtered buckets — per-type stats over
    events matching `value > min`, plus a `__global__` row over ALL
    events. ONE scan: the filter folds into the bucket label (NULL =
    non-matching) and ROLLUP's grand-total row covers every event, so
    the global bucket costs no second pass; non-matching rows are
    dropped from the per-type output by the grouping() HAVING."""
    ev = tables.load(spark, sf_dir, "events")
    q = ev.select(
        F.when(F.col("value") > GLOBAL_VALUE_MIN, F.col("event_type"))
         .alias("b"), "value")
    agg = (q.rollup("b")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("value"), 6).alias("avg_value"),
                 F.grouping("b").alias("_g")))
    return (agg.where((F.col("_g") == 1) | F.col("b").isNotNull())
               .select(F.when(F.col("_g") == 1, "__global__")
                        .otherwise(F.col("b")).alias("bucket"),
                       "n", "avg_value")
               .orderBy("bucket"))


DATE_RANGE_BOUNDS = ("2024-01-08", "2024-01-20")


@register("date_range_agg", oracle=f"""
SELECT CASE WHEN ts < TIMESTAMP '{DATE_RANGE_BOUNDS[0]}'
            THEN 'a_until_{DATE_RANGE_BOUNDS[0]}'
            WHEN ts < TIMESTAMP '{DATE_RANGE_BOUNDS[1]}'
            THEN 'b_{DATE_RANGE_BOUNDS[0]}_{DATE_RANGE_BOUNDS[1]}'
            ELSE 'c_from_{DATE_RANGE_BOUNDS[1]}' END AS bucket,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1 ORDER BY 1
""")
def date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `date_range` agg: explicit timestamp boundaries (from
    inclusive, to exclusive — ES's convention), open-ended first/last
    buckets. Same scan shape as range_agg; the CASE over ts is
    map-side and the timestamp literals fold at plan time."""
    ev = tables.load(spark, sf_dir, "events")
    lo, hi = DATE_RANGE_BOUNDS
    bucket = (F.when(F.col("ts") < F.lit(lo).cast("timestamp"),
                     f"a_until_{lo}")
               .when(F.col("ts") < F.lit(hi).cast("timestamp"),
                     f"b_{lo}_{hi}")
               .otherwise(f"c_from_{hi}"))
    return (ev.groupBy(bucket.alias("bucket"))
              .agg(F.count("*").alias("n"),
                   F.countDistinct("user_id").cast("long").alias("n_users"))
              .orderBy("bucket"))


# ip_range: the corpus has no IP column, so the op derives one
# deterministically from user_id (10.x.y.z octets) — the point under
# test is the dotted-quad PARSE (string -> numeric) + CIDR-style range
# bucketing, which both engines recompute from the same string.
IP_RANGE_BOUNDS = (64, 512)  # numeric offsets from 10.0.0.0


def _ip_sql() -> str:
    return ("concat('10.', CAST(user_id // 65536 % 256 AS VARCHAR), '.', "
            "CAST(user_id // 256 % 256 AS VARCHAR), '.', "
            "CAST(user_id % 256 AS VARCHAR))")


@register("ip_range_agg", oracle=f"""
WITH ips AS (SELECT {_ip_sql()} AS ip, user_id FROM events),
parsed AS (
  SELECT ip, user_id,
         CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
       + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
       + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
       + CAST(string_split(ip, '.')[4] AS BIGINT) AS addr
  FROM ips)
SELECT CASE WHEN addr < 167772160 + {IP_RANGE_BOUNDS[0]} THEN 'a_low'
            WHEN addr < 167772160 + {IP_RANGE_BOUNDS[1]} THEN 'b_mid'
            ELSE 'c_high' END AS bucket,
       count(*) AS n,
       CAST(count(DISTINCT ip) AS BIGINT) AS n_ips
FROM parsed GROUP BY 1 ORDER BY 1
""")
def ip_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `ip_range` agg: dotted-quad strings parsed to numeric
    addresses (split + octet weights — all JVM string/arith builtins,
    map-side), bucketed by explicit address boundaries (the CIDR
    masks of ES's ip_range reduce to exactly such numeric ranges).
    10.0.0.0 = 167772160."""
    ev = tables.load(spark, sf_dir, "events")
    ip = F.concat(F.lit("10."),
                  (F.col("user_id") / 65536).cast("long") % 256, F.lit("."),
                  (F.col("user_id") / 256).cast("long") % 256, F.lit("."),
                  F.col("user_id") % 256)
    parts = F.split("ip", r"\.")
    addr = (F.element_at(parts, 1).cast("long") * 16777216
            + F.element_at(parts, 2).cast("long") * 65536
            + F.element_at(parts, 3).cast("long") * 256
            + F.element_at(parts, 4).cast("long"))
    base = 167772160
    lo, hi = IP_RANGE_BOUNDS
    p = ev.select(ip.alias("ip")).withColumn("addr", addr)
    bucket = (F.when(F.col("addr") < base + lo, "a_low")
               .when(F.col("addr") < base + hi, "b_mid")
               .otherwise("c_high"))
    return (p.groupBy(bucket.alias("bucket"))
             .agg(F.count("*").alias("n"),
                  F.countDistinct("ip").cast("long").alias("n_ips"))
             .orderBy("bucket"))


# ------------------------------------------------------- significant_text

SIGTEXT_LANG = "en"
SIGTEXT_TOP = 10


@register("significant_text_agg", oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, lang = '{SIGTEXT_LANG}' AS fg,
         unnest({TOK_SQL})
           AS token
  FROM documents),
tot AS (
  SELECT count(DISTINCT CASE WHEN lang = '{SIGTEXT_LANG}' THEN doc_id END)
           AS nfg,
         count(DISTINCT doc_id) AS nall
  FROM documents),
tc AS (
  SELECT token,
         sum(CASE WHEN fg THEN 1 ELSE 0 END) AS fg_docs,
         count(*) AS all_docs
  FROM dt GROUP BY token)
SELECT token, CAST(fg_docs AS BIGINT) AS fg_docs,
       CAST(all_docs AS BIGINT) AS all_docs,
       round((fg_docs * 1.0 / nfg - all_docs * 1.0 / nall)
             * (fg_docs * 1.0 / nfg) / (all_docs * 1.0 / nall), 6)
         AS jlh_score
FROM tc CROSS JOIN tot
WHERE fg_docs > 0
ORDER BY jlh_score DESC, token LIMIT {SIGTEXT_TOP}
""")
def significant_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `significant_text` agg under the JLH heuristic
    ((fg% - bg%) * fg%/bg% — ES's default significance score; the
    LIFT-scored form is T10 `significant_terms` in hybrid.py, and the
    keyword-field form is `significant_terms_agg` above — ES
    exposes these as separately selectable heuristics/field types):
    terms over-represented in the foreground set (docs matching the
    query — here lang='en') vs the whole corpus. One
    distinct-(doc, token) explode feeds conditional doc-frequency
    sums — foreground membership is a map-side flag, not a join —
    and the 2-value totals frame broadcasts into the
    vocabulary-sized score computation."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    dt = (docs.select("doc_id",
                      (F.col("lang") == SIGTEXT_LANG).alias("fg"),
                      F.explode(tokens("text")).alias("token"))
              .distinct())
    tot = docs.agg(
        F.countDistinct(F.when(F.col("lang") == SIGTEXT_LANG,
                               F.col("doc_id"))).alias("nfg"),
        F.countDistinct("doc_id").alias("nall"))
    tc = (dt.groupBy("token")
            .agg(F.sum(F.when(F.col("fg"), 1).otherwise(0)).alias("fg_docs"),
                 F.count("*").alias("all_docs")))
    fgp = F.col("fg_docs") / F.col("nfg")
    bgp = F.col("all_docs") / F.col("nall")
    return (tc.crossJoin(F.broadcast(tot))
              .where(F.col("fg_docs") > 0)
              .select("token",
                      F.col("fg_docs").cast("long").alias("fg_docs"),
                      F.col("all_docs").cast("long").alias("all_docs"),
                      F.round((fgp - bgp) * fgp / bgp, 6).alias("jlh_score"))
              .orderBy(F.desc("jlh_score"), "token").limit(SIGTEXT_TOP))


# ======================================================================
# `filters` (named predicate buckets + other), `significant_terms`
# (keyword-field significance), `ip_prefix`, and `geohash_grid`.
#
# Reference parity: named aggregation types of the reference stack's
# Elasticsearch backend (README.md:82 `VECTOR_DB=elastic`); geohash
# cells are also the bucketing Qdrant/ES geo facets page on.
#
# Scale shapes: every one is a single partial-agg scan whose bucket
# label (CASE / JLH flag / prefix mask / geohash) is computed map-side;
# output cardinality is bucket-count-, source-count-, prefix-count- or
# cell-count-sized — never corpus-sized. The geohash encode is pure
# integer bit math (no UDF): both engines derive the cell key from the
# same IEEE doubles, so cell assignment is bit-identical.
# ======================================================================


# -------------------------------------------------------------- filters agg

FILTERS_VALUE_MIN = 90.0


@register("filters_agg", oracle=f"""
WITH a AS (
  SELECT
    count(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
    CAST(sum(CASE WHEN event_type = 'click'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS v1,
    count(CASE WHEN value > {FILTERS_VALUE_MIN!r} THEN 1 END) AS n2,
    CAST(sum(CASE WHEN value > {FILTERS_VALUE_MIN!r}
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS v2,
    count(CASE WHEN event_type <> 'click'
               AND value <= {FILTERS_VALUE_MIN!r} THEN 1 END) AS n3,
    CAST(sum(CASE WHEN event_type <> 'click'
                  AND value <= {FILTERS_VALUE_MIN!r}
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS v3
  FROM events)
SELECT 'a_clicks' AS bucket, CAST(n1 AS BIGINT) AS n, v1 AS total_value
FROM a
UNION ALL SELECT 'b_high_value', CAST(n2 AS BIGINT), v2 FROM a
UNION ALL SELECT 'c_other', CAST(n3 AS BIGINT), v3 FROM a
ORDER BY bucket
""")
def filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `filters` agg with `other_bucket`: independent NAMED
    predicate buckets (a row may match several — unlike a terms
    partition) plus the matches-none bucket. ONE scan computes every
    bucket as a conditional aggregate (map-side CASE, partial-agg'd);
    the 1-row wide result unpivots to (bucket, n, total) rows via
    stack — 3-row output, no second pass."""
    ev = tables.load(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    is_click = F.col("event_type") == "click"
    is_high = F.col("value") > FILTERS_VALUE_MIN
    a = ev.agg(
        F.count(F.when(is_click, 1)).alias("n1"),
        F.sum(F.when(is_click, dec)).cast("double").alias("v1"),
        F.count(F.when(is_high, 1)).alias("n2"),
        F.sum(F.when(is_high, dec)).cast("double").alias("v2"),
        F.count(F.when(~is_click & ~is_high, 1)).alias("n3"),
        F.sum(F.when(~is_click & ~is_high, dec)).cast("double").alias("v3"))
    return (a.selectExpr(
                "stack(3, 'a_clicks', n1, v1, 'b_high_value', n2, v2, "
                "'c_other', n3, v3) AS (bucket, n, total_value)")
             .orderBy("bucket"))


# ------------------------------------------------------- significant_terms

SIGTERMS_LANG = "en"


@register("significant_terms_agg", oracle=f"""
WITH tot AS (
  SELECT count(CASE WHEN lang = '{SIGTERMS_LANG}' THEN 1 END) AS nfg,
         count(*) AS nall
  FROM documents),
tc AS (
  SELECT source,
         count(CASE WHEN lang = '{SIGTERMS_LANG}' THEN 1 END) AS fg_docs,
         count(*) AS all_docs
  FROM documents GROUP BY source)
SELECT source, CAST(fg_docs AS BIGINT) AS fg_docs,
       CAST(all_docs AS BIGINT) AS all_docs,
       round((fg_docs * 1.0 / nfg - all_docs * 1.0 / nall)
             * (fg_docs * 1.0 / nfg) / (all_docs * 1.0 / nall), 6)
         AS jlh_score
FROM tc CROSS JOIN tot
WHERE fg_docs > 0
ORDER BY jlh_score DESC, source LIMIT 10
""")
def significant_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `significant_terms` on a KEYWORD field — distinct from the
    free-text forms (T10 `significant_terms`: token lift; T41
    `significant_text_agg`: token JLH): the bucket key is a
    structured field value, so there is no tokenize/explode at all —
    one groupBy(source) with a conditional foreground count, totals
    broadcast. Foreground = lang='{SIGTERMS_LANG}' docs, JLH-scored
    (ES's default significance heuristic)."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    fg = F.col("lang") == SIGTERMS_LANG
    tot = docs.agg(F.count(F.when(fg, 1)).alias("nfg"),
                   F.count("*").alias("nall"))
    tc = docs.groupBy("source").agg(
        F.count(F.when(fg, 1)).alias("fg_docs"),
        F.count("*").alias("all_docs"))
    fgp = F.col("fg_docs") / F.col("nfg")
    bgp = F.col("all_docs") / F.col("nall")
    return (tc.crossJoin(F.broadcast(tot))
              .where(F.col("fg_docs") > 0)
              .select("source",
                      F.col("fg_docs").cast("long").alias("fg_docs"),
                      F.col("all_docs").cast("long").alias("all_docs"),
                      F.round((fgp - bgp) * fgp / bgp, 6).alias("jlh_score"))
              .orderBy(F.desc("jlh_score"), "source").limit(10))


# ------------------------------------------------------------- ip_prefix

IP_PREFIX_LEN = 28  # /28 -> 16-address blocks


@register("ip_prefix_agg", oracle=f"""
WITH ips AS (SELECT {_ip_sql()} AS ip FROM events),
parsed AS (
  SELECT ip,
         CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
       + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
       + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
       + CAST(string_split(ip, '.')[4] AS BIGINT) AS addr
  FROM ips),
net AS (SELECT ip, addr - (addr % 16) AS net FROM parsed)
SELECT concat(CAST(net // 16777216 % 256 AS VARCHAR), '.',
              CAST(net // 65536 % 256 AS VARCHAR), '.',
              CAST(net // 256 % 256 AS VARCHAR), '.',
              CAST(net % 256 AS VARCHAR), '/{IP_PREFIX_LEN}') AS prefix,
       count(*) AS n,
       CAST(count(DISTINCT ip) AS BIGINT) AS n_ips
FROM net GROUP BY 1 ORDER BY 1
""")
def ip_prefix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `ip_prefix` agg: dotted-quad addresses bucketed by their
    /{IP_PREFIX_LEN} network prefix — parse (octet weights), mask
    (addr - addr % 2^(32-len)), and key re-rendering are all map-side
    integer/string builtins; bucket cardinality = live prefixes."""
    ev = tables.load(spark, sf_dir, "events")
    ip = F.concat(F.lit("10."),
                  (F.col("user_id") / 65536).cast("long") % 256, F.lit("."),
                  (F.col("user_id") / 256).cast("long") % 256, F.lit("."),
                  F.col("user_id") % 256)
    parts = F.split("ip", r"\.")
    addr = (F.element_at(parts, 1).cast("long") * 16777216
            + F.element_at(parts, 2).cast("long") * 65536
            + F.element_at(parts, 3).cast("long") * 256
            + F.element_at(parts, 4).cast("long"))
    block = 1 << (32 - IP_PREFIX_LEN)
    p = (ev.select(ip.alias("ip")).withColumn("addr", addr)
           .withColumn("net", F.col("addr") - F.col("addr") % block))
    prefix = F.concat(
        (F.col("net") / 16777216).cast("long") % 256, F.lit("."),
        (F.col("net") / 65536).cast("long") % 256, F.lit("."),
        (F.col("net") / 256).cast("long") % 256, F.lit("."),
        F.col("net") % 256, F.lit(f"/{IP_PREFIX_LEN}"))
    return (p.groupBy(prefix.alias("prefix"))
             .agg(F.count("*").alias("n"),
                  F.countDistinct("ip").cast("long").alias("n_ips"))
             .orderBy("prefix"))


# ----------------------------------------------------------- geohash_grid

GEOHASH_PRECISION = 4          # 4 base-32 chars = 20 bits (10 lon, 10 lat)
_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 10                  # per axis


def _gh_interleave_sql(lon_int: str, lat_int: str) -> str:
    """Bit-interleave (lon first, geohash convention) as a static sum
    of masked shifts — pure integer math, identical on both engines."""
    terms = []
    for i in range(_GH_BITS):
        terms.append(f"(({lon_int} // {1 << (_GH_BITS - 1 - i)}) % 2) "
                     f"* {1 << (19 - 2 * i)}")
        terms.append(f"(({lat_int} // {1 << (_GH_BITS - 1 - i)}) % 2) "
                     f"* {1 << (18 - 2 * i)}")
    return " + ".join(terms)


def _gh_chars_sql(inter: str) -> str:
    return ("concat(" + ", ".join(
        f"substr('{_GH_ALPHA}', CAST(({inter}) // {1 << (15 - 5 * c)} "
        f"% 32 AS INT) + 1, 1)"
        for c in range(GEOHASH_PRECISION)) + ")")


@register("geohash_grid_agg", oracle=f"""
WITH g AS (
  SELECT c_custkey,
         ((c_custkey * 9973) % 18000) / 100.0 - 90.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer),
q AS (
  SELECT c_custkey,
         least(CAST(floor((lat + 90.0) / 180.0 * 1024.0) AS BIGINT),
               1023) AS lat_i,
         least(CAST(floor((lon + 180.0) / 360.0 * 1024.0) AS BIGINT),
               1023) AS lon_i
  FROM g),
h AS (SELECT c_custkey, {_gh_interleave_sql('lon_i', 'lat_i')} AS inter
      FROM q)
SELECT {_gh_chars_sql('inter')} AS geohash, count(*) AS n
FROM h GROUP BY 1
ORDER BY n DESC, geohash LIMIT 20
""")
def geohash_grid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geohash_grid` agg (precision {GEOHASH_PRECISION}): points
    bucketed by base-32 geohash cell. The encode is the real geohash
    algorithm in closed form — quantize each axis to {_GH_BITS} bits,
    interleave (lon first), render 5-bit groups through the base-32
    alphabet — as a static sum of masked shifts, all JVM integer
    math in the scan stage (no UDF, no loop). Both engines start
    from identical IEEE doubles, so cell assignment is bit-identical
    (for a point within ~1 ulp of a cell boundary the closed form may
    legally differ from exact interval bisection — a sub-picometer
    quantization convention shared by both engines; see
    tests/test_r5_props.py). Top cells by population, the standard
    map-facet page."""
    cust = with_coords(tables.load(spark, sf_dir, "customer"))
    lat_i = F.least(F.floor((F.col("lat") + 90.0) / 180.0 * 1024.0)
                    .cast("long"), F.lit(1023))
    lon_i = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 1024.0)
                    .cast("long"), F.lit(1023))
    q = cust.select("c_custkey", lat_i.alias("lat_i"), lon_i.alias("lon_i"))

    inter = None
    for i in range(_GH_BITS):
        t1 = (F.shiftright(F.col("lon_i"), _GH_BITS - 1 - i)
              .bitwiseAND(F.lit(1))) * (1 << (19 - 2 * i))
        t2 = (F.shiftright(F.col("lat_i"), _GH_BITS - 1 - i)
              .bitwiseAND(F.lit(1))) * (1 << (18 - 2 * i))
        inter = t1 + t2 if inter is None else inter + t1 + t2
    h = q.select("c_custkey", inter.alias("inter"))
    # F.substring needs a literal pos, so the 5-bit char lookups are
    # SQL-expr'd (still pure JVM builtins, codegen'd in the scan)
    gh = F.concat(*[
        F.expr(f"substr('{_GH_ALPHA}', "
               f"CAST(shiftright(inter, {15 - 5 * c}) & 31 AS INT) + 1, 1)")
        for c in range(GEOHASH_PRECISION)])
    return (h.select(gh.alias("geohash"))
             .groupBy("geohash").agg(F.count("*").alias("n"))
             .orderBy(F.desc("n"), "geohash").limit(20))


# ------------------------------------------------------------------ rate

RATE_UNIT_HOURS = 24.0  # day buckets normalized to a per-hour rate


@register("rate_agg", oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       count(*) AS n,
       round(count(*) / {RATE_UNIT_HOURS!r}, 6) AS events_per_hour,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / {RATE_UNIT_HOURS!r}, 6) AS value_per_hour
FROM events GROUP BY 1 ORDER BY 1
""")
def rate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rate` agg inside a date_histogram: bucket sums normalized
    to a smaller calendar unit (day buckets → per-hour rate; ES
    divides by the bucket-to-unit ratio exactly like this). The
    normalization is constant column math over the bucket frame —
    same single-scan shape as every sibling pipeline agg."""
    ev = tables.load(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
              .agg(F.count("*").alias("n"),
                   F.round(F.count("*") / RATE_UNIT_HOURS, 6)
                    .alias("events_per_hour"),
                   F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                            .cast("double") / RATE_UNIT_HOURS, 6)
                    .alias("value_per_hour"))
              .orderBy("day"))


@register("significant_terms_chi2", oracle=f"""
WITH tot AS (
  SELECT count(CASE WHEN lang = '{SIGTERMS_LANG}' THEN 1 END) AS nfg,
         count(*) AS nall
  FROM documents),
tc AS (
  SELECT source,
         count(CASE WHEN lang = '{SIGTERMS_LANG}' THEN 1 END) AS a,
         count(*) AS all_docs
  FROM documents GROUP BY source)
SELECT source, CAST(a AS BIGINT) AS fg_docs,
       CAST(all_docs AS BIGINT) AS all_docs,
       round(CAST(nall AS DOUBLE)
             * (CAST(a AS DOUBLE)
                  * (CAST(nall AS DOUBLE) - CAST(nfg AS DOUBLE)
                     - (CAST(all_docs AS DOUBLE) - CAST(a AS DOUBLE)))
                - (CAST(all_docs AS DOUBLE) - CAST(a AS DOUBLE))
                  * (CAST(nfg AS DOUBLE) - CAST(a AS DOUBLE)))
             * (CAST(a AS DOUBLE)
                  * (CAST(nall AS DOUBLE) - CAST(nfg AS DOUBLE)
                     - (CAST(all_docs AS DOUBLE) - CAST(a AS DOUBLE)))
                - (CAST(all_docs AS DOUBLE) - CAST(a AS DOUBLE))
                  * (CAST(nfg AS DOUBLE) - CAST(a AS DOUBLE)))
             / (CAST(all_docs AS DOUBLE)
                * (CAST(nall AS DOUBLE) - CAST(all_docs AS DOUBLE))
                * CAST(nfg AS DOUBLE)
                * (CAST(nall AS DOUBLE) - CAST(nfg AS DOUBLE))), 6)
         AS chi2_score
FROM tc CROSS JOIN tot
WHERE a > 0
ORDER BY chi2_score DESC, source LIMIT 10
""")
def significant_terms_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `significant_terms` with the `chi_square` heuristic — the
    third selectable significance score next to JLH
    (significant_terms_agg) and lift (T10): the textbook 2x2 chi²
    N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) over (in/out bucket) ×
    (fore/background). Same single-scan shape as the JLH form (one
    conditional groupBy + broadcast totals); all contingency counts
    are exact integers and both engines evaluate the identical
    double expression, so the score hashes despite the large
    products."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    fg = F.col("lang") == SIGTERMS_LANG
    tot = docs.agg(F.count(F.when(fg, 1)).alias("nfg"),
                   F.count("*").alias("nall"))
    tc = docs.groupBy("source").agg(
        F.count(F.when(fg, 1)).alias("a"),
        F.count("*").alias("all_docs"))
    a = F.col("a").cast("double")
    ad = F.col("all_docs").cast("double")
    nfg = F.col("nfg").cast("double")
    nall = F.col("nall").cast("double")
    b = ad - a            # in-bucket background
    c = nfg - a           # out-bucket foreground
    d = nall - nfg - b    # out-bucket background
    det = a * d - b * c
    chi2 = (nall * det * det
            / (ad * (nall - ad) * nfg * (nall - nfg)))
    return (tc.crossJoin(F.broadcast(tot))
              .where(F.col("a") > 0)
              .select("source",
                      F.col("a").cast("long").alias("fg_docs"),
                      F.col("all_docs").cast("long").alias("all_docs"),
                      F.round(chi2, 6).alias("chi2_score"))
              .orderBy(F.desc("chi2_score"), "source").limit(10))


# ======================================================================
# `geotile_grid` (Web-Mercator slippy-map tiles — the OTHER geo grid
# next to the geohash grid above), `bucket_script` (per-bucket derived
# metric from sibling aggregates), and `scripted_metric` (a custom
# order-dependent fold, demonstrated as max-drawdown over the daily
# value series).
#
# Reference parity: named aggregation types of the reference stack's
# Elasticsearch backend (README.md:82 `VECTOR_DB=elastic`) —
# `geotile_grid`, `bucket_script`, `scripted_metric`.
#
# Scale shapes:
# - geotile_grid: the tile key is computed map-side in the scan stage
#   (pure column math, no UDF); one partial-agg shuffle of
#   cell-count-sized buckets. Identical posture to geohash_grid.
# - bucket_script: the sibling metrics are conditional aggregates of
#   ONE scan (map-side CASE); the script runs on |days| bucket rows.
# - scripted_metric: the fold is re-expressed as window algebra over
#   the |type × day| bucket frame (running max → drawdown), so the
#   "script" never sees raw events; partitions are bounded by the
#   date span, and the bucket frame comes from one partial-agg scan.
#
# Float determinism: tile x and the synthetic coordinates are pure
# rational IEEE math (bit-identical across engines). Tile y needs
# ln/tan/cos, where engines may legally differ by ~1 ulp — safe here
# because the synthetic coordinate lattice keeps every y at least
# 4e-10 from a floor boundary (empirically verified over the full
# lattice; the one exactly-integral case, lat=0 → y=32.0, is IEEE-exact
# on every libm since tan(0)=0 and ln(1)=0 are mandated special
# values). Bucket sums accumulate as exact DECIMAL; ratios divide
# identical doubles.
# ======================================================================


# ------------------------------------------------------------ geotile_grid

GEOTILE_ZOOM = 6
_GT_N = 1 << GEOTILE_ZOOM
# ES clamps latitude to the Web-Mercator domain with this constant
# (elasticsearch GeoTileUtils.LATITUDE_MASK).
GEOTILE_LAT_LIM = 85.05112878


@register("geotile_grid_agg", oracle=f"""
WITH g AS (
  SELECT c_custkey,
         ((c_custkey * 9973) % 18000) / 100.0 - 90.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer),
c AS (
  SELECT c_custkey, lon,
         least(greatest(lat, -{GEOTILE_LAT_LIM!r}), {GEOTILE_LAT_LIM!r})
           AS latc
  FROM g),
t AS (
  SELECT
    least(greatest(CAST(floor((lon + 180.0) / 360.0 * {_GT_N}) AS BIGINT),
                   0), {_GT_N - 1}) AS xt,
    least(greatest(CAST(floor(
        (1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc)))
               / {math.pi!r}) / 2.0 * {_GT_N}) AS BIGINT),
                   0), {_GT_N - 1}) AS yt
  FROM c)
SELECT '{GEOTILE_ZOOM}/' || CAST(xt AS VARCHAR) || '/'
         || CAST(yt AS VARCHAR) AS tile,
       count(*) AS n
FROM t GROUP BY 1
ORDER BY n DESC, tile LIMIT 20
""")
def geotile_grid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geotile_grid` agg (zoom 6): points bucketed by
    Web-Mercator slippy-map tile `z/x/y` — the projection-native grid
    next to geohash_grid's base-32 cells. x is pure rational math;
    y runs ln∘tan through the scan stage as JVM column math (no UDF)
    with the ES latitude clamp. Top tiles by population."""
    cust = with_coords(tables.load(spark, sf_dir, "customer"))
    latc = F.least(F.greatest(F.col("lat"), F.lit(-GEOTILE_LAT_LIM)),
                   F.lit(GEOTILE_LAT_LIM))
    rad = F.radians(latc)
    xt = F.least(F.greatest(
        F.floor((F.col("lon") + 180.0) / 360.0 * _GT_N).cast("long"),
        F.lit(0)), F.lit(_GT_N - 1))
    yt = F.least(F.greatest(
        F.floor((F.lit(1.0)
                 - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
                 / F.lit(math.pi)) / F.lit(2.0) * _GT_N).cast("long"),
        F.lit(0)), F.lit(_GT_N - 1))
    tile = F.concat(F.lit(f"{GEOTILE_ZOOM}/"), xt.cast("string"),
                    F.lit("/"), yt.cast("string"))
    return (cust.select(tile.alias("tile"))
                .groupBy("tile").agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), "tile").limit(20))


# ----------------------------------------------------------- bucket_script

@register("bucket_script_agg", oracle="""
WITH b AS (
  SELECT date_trunc('day', ts)::DATE AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         CAST(sum(CASE WHEN event_type = 'click'
                  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           AS click_value
  FROM events GROUP BY 1)
SELECT day, total_value,
       coalesce(click_value, 0.0e0) AS click_value,
       CASE WHEN total_value = 0 THEN NULL
            ELSE round(coalesce(click_value, 0.0e0) / total_value, 6)
       END AS click_share
FROM b ORDER BY day
""")
def bucket_script_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bucket_script` pipeline agg: a per-bucket derived metric
    computed FROM sibling aggregates (here click_value / total_value
    per day — the canonical ratio example from the ES docs). Both
    sibling metrics are conditional aggregates of one scan; the
    script itself costs |days| rows. Sums accumulate as exact
    DECIMAL; the ratio divides the identical doubles on both
    engines."""
    ev = tables.load(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    b = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.sum(dec).cast("double").alias("total_value"),
                F.sum(F.when(F.col("event_type") == "click", dec))
                 .cast("double").alias("click_value")))
    share = F.when(F.col("total_value") == 0, F.lit(None).cast("double")) \
             .otherwise(F.round(F.coalesce(F.col("click_value"), F.lit(0.0))
                                / F.col("total_value"), 6))
    return (b.select("day", "total_value",
                     F.coalesce(F.col("click_value"), F.lit(0.0))
                      .alias("click_value"),
                     share.alias("click_share"))
             .orderBy("day"))


# --------------------------------------------------------- scripted_metric

@register("scripted_metric_agg", oracle="""
WITH d AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, day, total,
         max(total) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
  FROM d)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(peak) AS DOUBLE) AS peak_value,
       CAST(max(peak - total) AS DOUBLE) AS max_drawdown
FROM r GROUP BY 1 ORDER BY event_type
""")
def scripted_metric_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `scripted_metric` agg: a custom ORDER-DEPENDENT fold that no
    built-in agg expresses — max drawdown of the per-type daily value
    series (largest peak-to-trough drop). The map/combine/reduce
    script is re-expressed as window algebra over the bucket frame:
    running peak per event_type, then one more partial agg. Raw
    events are touched exactly once (the day-bucket partial agg);
    the windows run over |types × days| rows with bounded
    partitions. Daily totals, peaks, and diffs all stay in exact
    DECIMAL until the final DOUBLE cast, so the fold is
    merge-order-free on both engines."""
    ev = tables.load(spark, sf_dir, "events")
    d = (ev.groupBy(F.col("event_type"),
                    F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("total")))
    w = (W.partitionBy("event_type").orderBy("day")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    r = d.withColumn("peak", F.max("total").over(w))
    return (r.groupBy("event_type")
             .agg(F.count("*").cast("long").alias("n_days"),
                  F.max("peak").cast("double").alias("peak_value"),
                  F.max(F.col("peak") - F.col("total")).cast("double")
                   .alias("max_drawdown"))
             .orderBy("event_type"))


# ------------------------------------------------------ bucket_correlation

@register("bucket_correlation_agg", oracle="""
WITH b AS (
  SELECT date_trunc('day', ts)::DATE AS day,
         CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
              AS BIGINT) AS x,
         sum(CAST(value AS DECIMAL(18,2))) AS y
  FROM events GROUP BY 1),
s AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                       AS DECIMAL(38,4))) AS DOUBLE) AS syy,
         CAST(sum(CAST(x * CAST(y AS DOUBLE) AS DECIMAL(38,4)))
              AS DOUBLE) AS sxy
  FROM b)
SELECT CAST(n AS BIGINT) AS n_buckets,
       CASE WHEN n = 0
              OR sqrt(sxx / n - (sx / n) * (sx / n))
                 * sqrt(syy / n - (sy / n) * (sy / n)) = 0 THEN NULL
            ELSE round((sxy / n - (sx / n) * (sy / n))
                       / (sqrt(sxx / n - (sx / n) * (sx / n))
                          * sqrt(syy / n - (sy / n) * (sy / n))), 6)
       END AS correlation
FROM s
""")
def bucket_correlation_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bucket_correlation` pipeline agg (count_correlation
    function): Pearson correlation between a per-bucket metric series
    (daily click count) and a second series (daily total value).
    Both series come from ONE conditional-agg scan; the five power
    sums over the |days| bucket frame accumulate as exact
    BIGINT/DECIMAL (never the engines' own corr builtins, whose
    accumulation differs), and the closed-form Pearson divides
    identical doubles."""
    ev = tables.load(spark, sf_dir, "events")
    b = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.count(F.when(F.col("event_type") == "click", 1))
                 .cast("long").alias("x"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("y")))
    yd = F.col("y").cast("double")
    s = b.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum((yd * yd).cast("decimal(38,4)")).cast("double").alias("syy"),
        F.sum((F.col("x") * yd).cast("decimal(38,4)")).cast("double")
         .alias("sxy"))
    n = F.col("n")
    denom = (F.sqrt(F.col("sxx") / n
                    - (F.col("sx") / n) * (F.col("sx") / n))
             * F.sqrt(F.col("syy") / n
                      - (F.col("sy") / n) * (F.col("sy") / n)))
    corr = ((F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n))
            / denom)
    # a flat series (or an empty one) has no correlation — NULL, not
    # a NaN from 0/0 (ANSI doubles do not throw, but NaN hashes
    # differently than SQL NULL)
    guarded = F.when((n == 0) | (denom == 0),
                     F.lit(None).cast("double"))                .otherwise(F.round(corr, 6))
    return s.select(n.cast("long").alias("n_buckets"),
                    guarded.alias("correlation"))


# -------------------------------------------------------- categorize_text

CATEGORIZE_SIG_TOKENS = 4
CATEGORIZE_TOP = 15


@register("categorize_text_agg", oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_transform(
           (list_filter(string_split(trim(text), ' '),
                        x -> x <> ''))[1:{CATEGORIZE_SIG_TOKENS}],
           x -> regexp_replace(x, '[0-9]+', '<n>', 'g')) AS sig_toks
  FROM documents),
g AS (SELECT array_to_string(sig_toks, ' ') AS category,
             count(*) AS n_docs, min(doc_id) AS example_doc
      FROM t GROUP BY 1)
SELECT category, CAST(n_docs AS BIGINT) AS n_docs, example_doc
FROM g ORDER BY n_docs DESC, category LIMIT {CATEGORIZE_TOP}
""")
def categorize_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `categorize_text` agg (log-message pattern clustering),
    deterministic core: each doc's category is its leading token
    signature with numeric runs normalized to `<n>` — the
    drain-style prefix bucketing that groups "error 404 on node 7"
    with "error 500 on node 12". Signature is pure map-side string
    math; one partial-agg groupBy whose cardinality is the pattern
    count, TakeOrdered top categories."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    sig = F.array_join(
        F.transform(F.slice(tokens("text"), 1, CATEGORIZE_SIG_TOKENS),
                    lambda x: F.regexp_replace(x, "[0-9]+", "<n>")),
        " ")
    return (docs.select("doc_id", sig.alias("category"))
                .groupBy("category")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.min("doc_id").alias("example_doc"))
                .orderBy(F.desc("n_docs"), "category")
                .limit(CATEGORIZE_TOP))


# ---------------------------------------------------- terms partitioning

TERMS_NUM_PARTITIONS = 4
TERMS_PARTITION = 1


@register("terms_partition_agg", oracle=f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(trim(text), ' '),
                            t -> t <> '')) AS term
  FROM documents),
p AS (
  SELECT term, count(*) AS n FROM tok
  WHERE ('0x' || substr(md5(term), 1, 15))::BIGINT
          % {TERMS_NUM_PARTITIONS} = {TERMS_PARTITION}
  GROUP BY 1)
SELECT term, CAST(n AS BIGINT) AS n FROM p
ORDER BY n DESC, term LIMIT 25
""")
def terms_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms agg with `include.partition` / `num_partitions` — the
    paging lever for HUGE-cardinality key sets: each request
    aggregates only the terms hashing into one partition, so a 100M-
    key census pages through {TERMS_NUM_PARTITIONS} bounded responses
    instead of one unbounded one. The partition predicate lands
    map-side BEFORE the aggregate (only 1/{TERMS_NUM_PARTITIONS} of
    tokens shuffle), and the md5-derived partition assignment is
    engine-identical and stable across pages."""
    from ..functions.hashing import md5_int60
    from ..functions.text import exploded_tokens
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    tok = exploded_tokens(docs, "doc_id", "text") \
        .select(F.col("token").alias("term"))
    part = md5_int60(F.col("term")) % TERMS_NUM_PARTITIONS
    return (tok.where(part == TERMS_PARTITION)
               .groupBy("term").agg(F.count("*").cast("long").alias("n"))
               .orderBy(F.desc("n"), "term").limit(25))


# ------------------------------------------------------------ search_mvt

MVT_Z = 1            # target tile zoom (the /{z}/{x}/{y} of the call)
MVT_GRID_BITS = 4    # grid_precision: cells are z+4 subtiles (16x16)
_MVT_FINE_Z = MVT_Z + MVT_GRID_BITS
_MVT_FINE_N = 1 << _MVT_FINE_Z


def _slippy_xy(lat: float, lon: float, z: int) -> tuple[int, int]:
    """Driver-side twin of the geotile cell math (query tile pick)."""
    n = 1 << z
    latc = min(max(lat, -GEOTILE_LAT_LIM), GEOTILE_LAT_LIM)
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    rad = math.radians(latc)
    y = min(max(int(math.floor(
        (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi)
        / 2.0 * n)), 0), n - 1)
    return x, y


MVT_X, MVT_Y = _slippy_xy(40.0, -74.0, MVT_Z)  # geo.py's query center


def _fine_xy_sql() -> str:
    return f"""
g AS (
  SELECT c_custkey, c_acctbal,
         ((c_custkey * 9973) % 18000) / 100.0 - 90.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer),
c AS (
  SELECT c_custkey, c_acctbal, lon,
         least(greatest(lat, -{GEOTILE_LAT_LIM!r}), {GEOTILE_LAT_LIM!r})
           AS latc
  FROM g),
t AS (
  SELECT c_custkey, c_acctbal,
    least(greatest(CAST(floor((lon + 180.0) / 360.0 * {_MVT_FINE_N})
                        AS BIGINT), 0), {_MVT_FINE_N - 1}) AS xt,
    least(greatest(CAST(floor(
        (1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc)))
               / {math.pi!r}) / 2.0 * {_MVT_FINE_N}) AS BIGINT),
                   0), {_MVT_FINE_N - 1}) AS yt
  FROM c)"""


@register("search_mvt_tile", oracle=f"""
WITH {_fine_xy_sql()},
hit AS (
  SELECT * FROM t
  WHERE xt // {1 << MVT_GRID_BITS} = {MVT_X}
    AND yt // {1 << MVT_GRID_BITS} = {MVT_Y}),
ranked AS (
  SELECT xt, yt, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY xt, yt
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM hit)
SELECT '{_MVT_FINE_Z}/' || CAST(xt AS VARCHAR) || '/'
         || CAST(yt AS VARCHAR) AS cell,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_bal,
       max(CASE WHEN rn = 1 THEN c_custkey END) AS top_custkey,
       CAST(max(CASE WHEN rn = 1 THEN c_acctbal END) AS DOUBLE)
         AS top_bal
FROM ranked GROUP BY xt, yt
ORDER BY n DESC, cell LIMIT 25
""")
def search_mvt_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_mvt` vector-tile search (`GET /idx/_mvt/<field>/{MVT_Z}/
    {MVT_X}/{MVT_Y}?grid_precision={MVT_GRID_BITS}`): everything the
    tile response carries, relationally — hits inside ONE target
    slippy tile bucketed into its {1 << MVT_GRID_BITS}x
    {1 << MVT_GRID_BITS} sub-cell grid (the `aggs` layer: count +
    sum), plus each cell's top feature by account balance (the `hits`
    layer cut, size-per-cell 1).

    Scale shape: cell coords are the geotile JVM column math in the
    scan; the TILE FILTER is an integer shift of the fine coords (one
    predicate, map-side — on a lat/lon-partitioned layout it becomes
    partition pruning, which is why tile serving scales: each request
    reads 1/4^z of the corpus); the hits-layer cut is a per-cell
    WindowGroupLimit (rank 1), never a global sort; the aggs layer is
    one partial-agg'd groupBy over ≤4^{MVT_GRID_BITS} cells."""
    cust = with_coords(tables.load(spark, sf_dir, "customer"))
    latc = F.least(F.greatest(F.col("lat"), F.lit(-GEOTILE_LAT_LIM)),
                   F.lit(GEOTILE_LAT_LIM))
    rad = F.radians(latc)
    xt = F.least(F.greatest(
        F.floor((F.col("lon") + 180.0) / 360.0 * _MVT_FINE_N).cast("long"),
        F.lit(0)), F.lit(_MVT_FINE_N - 1))
    yt = F.least(F.greatest(
        F.floor((F.lit(1.0)
                 - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
                 / F.lit(math.pi)) / F.lit(2.0) * _MVT_FINE_N).cast("long"),
        F.lit(0)), F.lit(_MVT_FINE_N - 1))
    hit = (cust.select("c_custkey", "c_acctbal",
                       xt.alias("xt"), yt.alias("yt"))
               .where((F.col("xt") / (1 << MVT_GRID_BITS))
                      .cast("long") == MVT_X)
               .where((F.col("yt") / (1 << MVT_GRID_BITS))
                      .cast("long") == MVT_Y))
    rn = F.row_number().over(
        W.partitionBy("xt", "yt")
         .orderBy(F.desc("c_acctbal"), "c_custkey"))
    ranked = hit.withColumn("rn", rn)
    cell = F.concat(F.lit(f"{_MVT_FINE_Z}/"),
                    F.col("xt").cast("string"), F.lit("/"),
                    F.col("yt").cast("string"))
    return (ranked.groupBy("xt", "yt")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
                  .cast("double").alias("sum_bal"),
                 F.max(F.when(F.col("rn") == 1, F.col("c_custkey")))
                  .alias("top_custkey"),
                 F.max(F.when(F.col("rn") == 1, F.col("c_acctbal")))
                  .cast("double").alias("top_bal"))
            .select(cell.alias("cell"), "n", "sum_bal",
                    "top_custkey", "top_bal")
            .orderBy(F.desc("n"), "cell").limit(25))


# ======================================================================
# `nested`, `reverse_nested`, `children`, and `parent` aggregations —
# the four ways the ES DSL switches document scope INSIDE an aggregation
# tree (reference surface: the elastic backend, Aggregations > bucket >
# nested/reverse_nested/children/parent) — plus runtime fields (computed
# at query time, usable in filters and aggs exactly like mapped fields).
#
# Data model: ES stores nested objects and join-field children as
# separate hidden documents keyed to their parent — relationally, the
# orders table is the parent docs and lineitem the nested/child docs,
# the same modeling the T50/T51 has_child/has_parent QUERIES use; these
# ops are their AGGREGATION twins (buckets out, not docs).
#
# Scale shape shared by all three: the parent⋈child join is co-keyed on
# the order key (at warehouse scale both sides bucket on it — S4's
# layout), child metrics partial-aggregate map-side before the shuffle,
# and every output is census-sized (priority/status/returnflag
# buckets). Sums accumulate as exact DECIMAL; averages divide once at
# the end (merge-order-free, hash-stable).
# ======================================================================


@register("nested_terms_agg", oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(min(l.l_extendedprice) AS DOUBLE) AS min_price,
       CAST(max(l.l_extendedprice) AS DOUBLE) AS max_price,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6) AS avg_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1 ORDER BY 1
""")
def nested_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `nested` aggregation: a parent-level `terms` bucket
    (order priority) whose sub-aggregation steps INTO the nested
    items and computes metrics over nested docs, not parents — each
    parent contributes every one of its items to the bucket stats
    (the defining difference from a plain parent-field agg). Metric
    set mirrors the ES docs' nested-stats example (count/min/max/avg
    over the nested price field)."""
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    # items partial-aggregate to ORDER-level rows BEFORE the join
    # (count/sum/min/max all merge exactly: DECIMAL partial sums add,
    # min-of-mins), so the join shuffles |orders| rows instead of
    # |items| — the 64x probe measured the direct item-level join
    # superlinear (14.7x) and this shape ~linear
    per_ord = (li.groupBy("l_orderkey")
                 .agg(F.count("*").alias("n"),
                      F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                       .alias("s"),
                      F.min("l_extendedprice").alias("mn"),
                      F.max("l_extendedprice").alias("mx")))
    j = orders.join(per_ord, orders.o_orderkey == per_ord.l_orderkey)
    return (j.groupBy("o_orderpriority")
             .agg(F.sum("n").cast("long").alias("n_items"),
                  F.min("mn").cast("double").alias("min_price"),
                  F.max("mx").cast("double").alias("max_price"),
                  F.round(F.sum("s").cast("double") / F.sum("n"), 6)
                   .alias("avg_price"))
             .orderBy("o_orderpriority"))


@register("reverse_nested_agg", oracle="""
WITH pc AS (
  SELECT l.l_returnflag, l.l_orderkey,
         count(*) AS n_items,
         max(CAST(o.o_totalprice AS DECIMAL(18,2))) AS parent_total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2)
SELECT l_returnflag,
       CAST(sum(n_items) AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS n_parents,
       round(CAST(sum(parent_total) AS DOUBLE) / count(*), 6)
         AS avg_parent_total
FROM pc GROUP BY 1 ORDER BY 1
""")
def reverse_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `reverse_nested`: a `nested` terms bucket (item returnflag)
    whose sub-aggregation jumps BACK UP to the parent scope — parent
    metrics count each parent ONCE per bucket no matter how many of
    its items landed there (the dedup that distinguishes this from
    joining parent fields down onto items and averaging: that would
    weight parents by item count). Two-stage rollup: items group by
    (bucket, parent) first — the parent-dedup shuffle, co-keyed on
    the composite key — then the census-sized bucket rollup."""
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    # the (bucket, parent) dedup aggregate runs on the ITEM side
    # FIRST (no parent columns needed for it), so the parent join
    # shuffles ~|orders| grouped rows, not raw items
    ipc = (li.groupBy("l_returnflag", "l_orderkey")
             .agg(F.count("*").alias("n_items")))
    pc = (ipc.join(orders, ipc.l_orderkey == orders.o_orderkey)
             .select("l_returnflag", "n_items",
                     F.col("o_totalprice").cast("decimal(18,2)")
                      .alias("parent_total")))
    return (pc.groupBy("l_returnflag")
              .agg(F.sum("n_items").cast("long").alias("n_items"),
                   F.count("*").cast("long").alias("n_parents"),
                   F.round(F.sum("parent_total").cast("double")
                           / F.count("*"), 6).alias("avg_parent_total"))
              .orderBy("l_returnflag"))


@register("children_agg", oracle="""
WITH p AS (
  SELECT o_orderstatus, count(*) AS n_parents FROM orders GROUP BY 1),
c AS (
  SELECT o.o_orderstatus,
         count(*) AS n_children,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS total_qty
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1)
SELECT p.o_orderstatus,
       CAST(p.n_parents AS BIGINT) AS n_parents,
       CAST(c.n_children AS BIGINT) AS n_children,
       c.total_qty
FROM p JOIN c USING (o_orderstatus) ORDER BY 1
""")
def children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `children` aggregation (join-field twin of `nested`): a
    parent terms bucket (order status) reporting BOTH scopes — the
    parent doc count, and after the children step, the child doc
    count and a child metric (total quantity) — the exact ES response
    shape where the children sub-agg carries its own doc_count beside
    the parent bucket's. The parent census and the child rollup are
    independent aggregates joined on the census key (broadcast-sized
    at 3 status buckets)."""
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    p = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_parents"))
    # children partial-aggregate to order-level rows before the join
    # (the nested_terms_agg shape — counts and DECIMAL sums merge)
    per_ord = (li.groupBy("l_orderkey")
                 .agg(F.count("*").alias("n"),
                      F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                       .alias("q")))
    c = (orders.join(per_ord, orders.o_orderkey == per_ord.l_orderkey)
               .groupBy("o_orderstatus")
               .agg(F.sum("n").cast("long").alias("n_children"),
                    F.sum("q").cast("double").alias("total_qty")))
    return (p.join(F.broadcast(c), "o_orderstatus")
             .select("o_orderstatus", "n_parents", "n_children",
                     "total_qty")
             .orderBy("o_orderstatus"))


@register("parent_agg", oracle="""
WITH cp AS (
  SELECT l.l_linestatus, l.l_orderkey,
         count(*) AS n_children,
         max(CAST(o.o_totalprice AS DECIMAL(18,2))) AS parent_total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2)
SELECT l_linestatus,
       CAST(sum(n_children) AS BIGINT) AS n_children,
       CAST(count(*) AS BIGINT) AS n_parents,
       CAST(sum(parent_total) AS DOUBLE) AS parent_revenue
FROM cp GROUP BY 1 ORDER BY 1
""")
def parent_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `parent` aggregation — the join-field dual of `children`
    (and the join-field twin of `reverse_nested`, which does the same
    scope jump for nested objects): start in CHILD scope (a terms
    bucket on the child field l_linestatus), then the `parent` step
    jumps up and computes parent-doc metrics, each parent counted
    ONCE per bucket no matter how many of its children landed there.
    Response carries both scopes' doc_counts (child count beside the
    parent-after-dedup count) plus a parent metric summed once per
    parent — the exact ES join-field response shape.

    Scale shape (reverse_nested_agg's): the (bucket, parent) dedup
    aggregate runs on the CHILD side first, co-keyed on the order
    key, so the parent join shuffles ~|orders| grouped rows, never
    raw items; the final rollup is census-sized (2 linestatus
    buckets). DECIMAL partial sums merge exactly."""
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    cpk = (li.groupBy("l_linestatus", "l_orderkey")
             .agg(F.count("*").alias("n_children")))
    cp = (cpk.join(orders, cpk.l_orderkey == orders.o_orderkey)
             .select("l_linestatus", "n_children",
                     F.col("o_totalprice").cast("decimal(18,2)")
                      .alias("parent_total")))
    return (cp.groupBy("l_linestatus")
              .agg(F.sum("n_children").cast("long").alias("n_children"),
                   F.count("*").cast("long").alias("n_parents"),
                   F.sum("parent_total").cast("double")
                    .alias("parent_revenue"))
              .orderBy("l_linestatus"))


RUNTIME_MIN_NET = 2000.0


@register("runtime_field_agg", oracle=f"""
WITH rt AS (
  SELECT l_returnflag,
         CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))),
                    4) AS DECIMAL(22,4)) AS net_price
  FROM lineitem)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(net_price) AS DOUBLE) AS net_revenue,
       round(CAST(sum(net_price) AS DOUBLE) / count(*), 6)
         AS avg_net_price
FROM rt WHERE net_price > {RUNTIME_MIN_NET!r}
GROUP BY 1 ORDER BY 1
""")
def runtime_field_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES runtime fields (the `runtime_mappings` request block): a
    field DEFINED AT QUERY TIME by a script over mapped fields —
    here net_price = extendedprice * (1 - discount) — then used in
    BOTH a range filter and a terms agg's metrics, exactly as if it
    were indexed. The ES promise is schema-on-read; the Spark
    re-expression is simply a projected expression, which Catalyst
    treats as first-class: the filter on the derived column still
    collapses into the scan stage (no materialization pass), and
    only the three source columns are read.

    Hash discipline: the product quantizes to DECIMAL(22,4) before
    summing (round-half-even on both engines at 4 fractional
    digits), so the aggregate is merge-order-free."""
    li = tables.load(spark, sf_dir, "lineitem")
    net = F.round(F.col("l_extendedprice").cast("decimal(18,2)")
                  * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")),
                  4).cast("decimal(22,4)")
    rt = li.select("l_returnflag", net.alias("net_price"))
    return (rt.where(F.col("net_price") > RUNTIME_MIN_NET)
              .groupBy("l_returnflag")
              .agg(F.count("*").cast("long").alias("n_items"),
                   F.sum("net_price").cast("double").alias("net_revenue"),
                   F.round(F.sum("net_price").cast("double")
                           / F.count("*"), 6).alias("avg_net_price"))
              .orderBy("l_returnflag"))


# ======================================================================
# ES `exists` / Qdrant `is_empty`+`is_null` payload conditions, the
# Milvus ARRAY field filter family (`array_contains` /
# `array_contains_any` / `array_contains_all` / `array_length`), and a
# hexagonal geo grid (the ES `geohex_grid` aggregation's shape).
#
# Reference parity: ES `exists` query and the Qdrant
# `is_empty`/`is_null` payload conditions (the null-semantics trio
# every payload store exposes); Milvus ARRAY-field filtering
# (array_contains family + array_length, the typed-array payload
# surface); ES `geohex_grid` — implemented as an axial flat-top
# hexagon lattice on the planar coordinate field at a fixed cell size,
# NOT H3 (H3's icosahedral sphere indexing needs the H3 library; the
# aggregation semantics — points bucketed into hex cells, counts per
# cell key — are identical, and the docstring says so rather than
# pretending H3 parity).
#
# Scale shapes: all three are map-side column math in the scan stage
# feeding ONE partial-agg shuffle of bucket-cardinality rows —
# identical posture to geotile/geohash beside them. No UDF, no
# explode; the hex cube-rounding is a fixed CASE ladder.
#
# Float determinism: hex axial coords are products/sums of the
# rational synthetic lattice with INLINED double literals (sqrt(3)/3
# precomputed in Python, so both engines consume the same bit
# pattern); floor(v + 0.5) replaces round() to avoid engine-specific
# tie modes; every IEEE op used (+,-,*,/,floor,abs) is exactly
# specified, so the cell keys are bit-identical across engines.
# ======================================================================



# ------------------------------------------------- exists / is_empty

EX_NOTE_MARK = "red"        # p_name substring that yields a note
EX_TAG_MINLEN = 5           # name tokens this long become tags


@register("exists_payload_filter", oracle=f"""
WITH p AS (
  SELECT p_type,
         CASE WHEN p_name LIKE '%{EX_NOTE_MARK}%' THEN p_name
              END AS note,
         list_filter(string_split(p_name, ' '),
                     t -> len(t) >= {EX_TAG_MINLEN}) AS tags
  FROM part)
SELECT p_type,
       count(*) AS n_total,
       count(note) AS n_note_exists,
       count(*) - count(note) AS n_note_null,
       CAST(sum(CASE WHEN len(tags) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tags_empty
FROM p GROUP BY p_type ORDER BY p_type
""")
def exists_payload_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `exists` query + Qdrant `is_empty`/`is_null` payload
    conditions as a per-type census over a derived payload view:
    `note` is a nullable field (present only when the part name
    mentions '{EX_NOTE_MARK}'), `tags` a possibly-empty array field
    (name tokens of length ≥ {EX_TAG_MINLEN}). `n_note_exists` is
    the ES `exists` count, `n_note_null` its `must_not exists` /
    Qdrant `is_null` complement, `n_tags_empty` Qdrant's `is_empty`
    (no values present). One scan, map-side derivation, one
    partial-agg shuffle of |types| rows."""
    part = tables.load(spark, sf_dir, "part")
    note = F.when(F.col("p_name").contains(EX_NOTE_MARK),
                  F.col("p_name"))
    tags = F.filter(F.split(F.col("p_name"), " "),
                    lambda t: F.length(t) >= EX_TAG_MINLEN)
    p = part.select("p_type", note.alias("note"), tags.alias("tags"))
    return (p.groupBy("p_type")
             .agg(F.count("*").alias("n_total"),
                  F.count("note").alias("n_note_exists"),
                  (F.count("*") - F.count("note")).alias("n_note_null"),
                  F.sum(F.when(F.size("tags") == 0, 1).otherwise(0))
                   .cast("long").alias("n_tags_empty"))
             .orderBy("p_type"))


# --------------------------------------------------- array_contains family

AC_HEAD = 8                      # the ARRAY field = first 8 tokens, distinct
AC_ONE = "data"
AC_ANY = ("vector", "merge")
AC_ALL = ("key", "row")
AC_MINLEN = 6


@register("array_contains_filter", oracle=f"""
WITH a AS (
  SELECT lang, list_distinct(list_slice({TOK_SQL}, 1, {AC_HEAD})) AS tags
  FROM documents)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN list_contains(tags, '{AC_ONE}')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
       CAST(sum(CASE WHEN list_has_any(tags, {list(AC_ANY)!r})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
       CAST(sum(CASE WHEN list_has_all(tags, {list(AC_ALL)!r})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_all,
       CAST(sum(CASE WHEN len(tags) >= {AC_MINLEN}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_len
FROM a GROUP BY lang ORDER BY lang
""")
def array_contains_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus ARRAY-field filter family over a derived typed-array
    payload (`tags` = the distinct head-{AC_HEAD} tokens of each
    doc): per-language counts of docs passing `array_contains(tags,
    '{AC_ONE}')`, `array_contains_any(tags, {AC_ANY})`,
    `array_contains_all(tags, {AC_ALL})`, and `array_length(tags) >=
    {AC_MINLEN}` — the four operators Milvus exposes on ARRAY
    payload fields (Qdrant spells the first `MatchAny` on a keyword
    array). All membership math is map-side array ops in the scan
    stage; one partial-agg shuffle of |langs| rows."""
    docs = tables.load(spark, sf_dir, "documents")
    tags = F.array_distinct(F.slice(tokens("text"), 1, AC_HEAD))
    a = docs.select("lang", tags.alias("tags"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return (a.groupBy("lang")
             .agg(F.count("*").alias("n_total"),
                  flag(F.array_contains("tags", AC_ONE)).alias("n_contains"),
                  flag(F.arrays_overlap(
                      "tags", F.array(*[F.lit(t) for t in AC_ANY])))
                   .alias("n_any"),
                  flag(F.array_contains("tags", AC_ALL[0])
                       & F.array_contains("tags", AC_ALL[1]))
                   .alias("n_all"),
                  flag(F.size("tags") >= AC_MINLEN).alias("n_len"))
             .orderBy("lang"))


# ------------------------------------------------------------ geohex_grid

HEX_SIZE = 7.0                       # cell size in degrees (flat-top)
_SQRT3_3 = math.sqrt(3.0) / 3.0      # inlined so both engines share bits
HEX_TOP = 20

_HEX_COORD_SQL = f"""
  SELECT (2.0e0 / 3.0e0 * lon) / {HEX_SIZE!r} AS q0,
         ((-1.0e0 / 3.0e0) * lon + {_SQRT3_3!r} * lat) / {HEX_SIZE!r} AS r0
  FROM (SELECT ((c_custkey * 9973) % 18000) / 100.0 - 90.0 AS lat,
               ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
        FROM customer)"""


@register("geohex_grid_agg", oracle=f"""
WITH h AS ({_HEX_COORD_SQL}),
c AS (
  SELECT q0, r0, -q0 - r0 AS y0,
         CAST(floor(q0 + 0.5e0) AS DOUBLE) AS rx,
         CAST(floor(-q0 - r0 + 0.5e0) AS DOUBLE) AS ry,
         CAST(floor(r0 + 0.5e0) AS DOUBLE) AS rz
  FROM h),
f AS (
  SELECT CASE WHEN abs(rx - q0) > abs(ry - y0)
                AND abs(rx - q0) > abs(rz - r0)
              THEN CAST(-ry - rz AS BIGINT) ELSE CAST(rx AS BIGINT)
         END AS hq,
         CASE WHEN abs(rx - q0) > abs(ry - y0)
                AND abs(rx - q0) > abs(rz - r0) THEN CAST(rz AS BIGINT)
              WHEN abs(ry - y0) > abs(rz - r0) THEN CAST(rz AS BIGINT)
              ELSE CAST(-rx - ry AS BIGINT)
         END AS hr
  FROM c)
SELECT CAST(hq AS VARCHAR) || ',' || CAST(hr AS VARCHAR) AS cell,
       count(*) AS n
FROM f GROUP BY 1 ORDER BY n DESC, cell LIMIT {HEX_TOP}
""")
def geohex_grid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geohex_grid`-shaped aggregation: customer points bucketed
    into a flat-top axial hexagon lattice (cell size {HEX_SIZE}° on
    the planar synthetic coordinates) via pixel→axial transform +
    cube rounding, counts per `q,r` cell key. NOT H3 — the library's
    icosahedral sphere indexing isn't reimplemented; the aggregation
    contract (hex binning, per-cell counts, top cells) is, and this
    docstring says which. Completes the geo-grid trio beside
    geotile_grid (Web-Mercator tiles) and geohash_grid (base-32
    cells).

    Scale shape: the cell key is pure JVM column math in the scan
    stage; ONE partial-agg shuffle of cell-cardinality rows."""
    cust = with_coords(tables.load(spark, sf_dir, "customer"))
    q0 = (F.lit(2.0) / F.lit(3.0) * F.col("lon")) / F.lit(HEX_SIZE)
    r0 = ((F.lit(-1.0) / F.lit(3.0)) * F.col("lon")
          + F.lit(_SQRT3_3) * F.col("lat")) / F.lit(HEX_SIZE)
    c = cust.select(q0.alias("q0"), r0.alias("r0"),
                    (-q0 - r0).alias("y0"),
                    F.floor(q0 + F.lit(0.5)).cast("double").alias("rx"),
                    F.floor(-q0 - r0 + F.lit(0.5)).cast("double")
                     .alias("ry"),
                    F.floor(r0 + F.lit(0.5)).cast("double").alias("rz"))
    dx = F.abs(F.col("rx") - F.col("q0"))
    dy = F.abs(F.col("ry") - F.col("y0"))
    dz = F.abs(F.col("rz") - F.col("r0"))
    x_wins = (dx > dy) & (dx > dz)
    hq = F.when(x_wins, (-F.col("ry") - F.col("rz")).cast("long")) \
          .otherwise(F.col("rx").cast("long"))
    hr = F.when(x_wins, F.col("rz").cast("long")) \
          .when(dy > dz, F.col("rz").cast("long")) \
          .otherwise((-F.col("rx") - F.col("ry")).cast("long"))
    cell = F.concat(hq.cast("string"), F.lit(","), hr.cast("string"))
    return (c.select(cell.alias("cell"))
             .groupBy("cell").agg(F.count("*").alias("n"))
             .orderBy(F.desc("n"), "cell").limit(HEX_TOP))


# ---------------------------------------------------- topOccurrences

TOPOCC_K = 3


@register("top_occurrences_agg", oracle=f"""
WITH tok AS (
  SELECT lang, unnest({TOK_SQL}) AS term FROM documents),
c AS (SELECT lang, term, count(*) AS occurs
      FROM tok GROUP BY lang, term),
r AS (
  SELECT lang, term, occurs,
         row_number() OVER (PARTITION BY lang
                            ORDER BY occurs DESC, term) AS rank
  FROM c)
SELECT lang, CAST(rank AS INT) AS rank, term, occurs
FROM r WHERE rank <= {TOPOCC_K}
ORDER BY lang, rank
""")
def top_occurrences_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate `aggregate` on a text property with `topOccurrences`
    (the {{value, occurs}} list Weaviate returns per group), grouped
    by `lang`: the top-{TOPOCC_K} most frequent tokens per language
    with their occurrence counts — the text-property twin of a terms
    sub-aggregation.

    Scale shape: ONE explode + (lang, term) partial-agg shuffle
    (map-side combined, uniform keys); the per-group top-k window
    runs on |langs × vocab| aggregated rows with WindowGroupLimit
    pruning rank ≤ k map-side before the final shuffle."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    c = (docs.select("lang", F.explode(tokens("text")).alias("term"))
             .groupBy("lang", "term").agg(F.count("*").alias("occurs")))
    w = W.partitionBy("lang").orderBy(F.desc("occurs"), "term")
    return (c.withColumn("rank", F.row_number().over(w).cast("int"))
             .where(F.col("rank") <= TOPOCC_K)
             .select("lang", "rank", "term", "occurs")
             .orderBy("lang", "rank"))


# ======================================================================
# `max_bucket`/`min_bucket` (the sibling-pipeline pair returning the
# KEYS of extreme buckets, not just the value — stats_bucket beside it
# returns only values), the `_field_caps` API census over a
# dynamically-mapped JSON payload, and the Milvus `JSON_CONTAINS` filter
# family (the JSON twin of the typed-ARRAY family above).
#
# Reference parity: ES max_bucket / min_bucket pipeline aggregations
# (keys come back as an ARRAY — ties are all reported); ES field_caps
# (per-field type / searchable / aggregatable and how many indices —
# here documents — carry the field); Milvus JSON-field filtering
# (`json_contains`, `json_contains_any`, `json_contains_all`, and
# scalar path access `props["meta"]["w"]` in boolean expressions).
#
# Scale shapes: the bucket family runs one partial-agg shuffle of
# |months| rows and post-processes the bucket frame (pipeline aggs
# never re-touch the fact table); field_caps is map-side JSON
# extraction folded by ONE global partial agg (the per-field rows are
# unpivoted from a single aggregate row — no per-field scans); the
# JSON_CONTAINS census is map-side `from_json` + array ops in the scan
# stage feeding one |langs|-row rollup. At 100 TB the JSON parse
# happens once per row in the scan projection (schema-on-read), and
# the ingest-side answer — materialize a typed column — is the
# separately-proven `nested_payload_typed` path.
#
# Float determinism: money stays DECIMAL through the fold and casts to
# DOUBLE only in the last select on both engines.
# ======================================================================


# --------------------------------------------- max_bucket / min_bucket


@register("max_bucket_agg", oracle="""
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1),
x AS (SELECT max(rev) AS hi, min(rev) AS lo FROM m)
SELECT 'max_bucket' AS metric,
       string_agg(mon, ',' ORDER BY mon) AS keys,
       CAST(any_value(x.hi) AS DOUBLE) AS value
FROM m, x WHERE m.rev = x.hi
UNION ALL
SELECT 'min_bucket',
       string_agg(mon, ',' ORDER BY mon),
       CAST(any_value(x.lo) AS DOUBLE)
FROM m, x WHERE m.rev = x.lo
ORDER BY metric
""")
def max_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `max_bucket` + `min_bucket` pipeline aggregations over a
    monthly date_histogram of order revenue: each returns the extreme
    metric VALUE and the KEYS of every bucket achieving it (ES
    reports ties as a keys array — here comma-joined in key order,
    the repo's no-ARRAY-output policy). Completes the sibling
    pipeline family beside stats_bucket / percentiles_bucket, which
    reduce values but drop the keys.

    Scale shape: one partial-agg shuffle of |months| rows builds the
    bucket frame; the extremes are a 1-row aggregate broadcast back
    onto it; ties collapse with a deterministic ordered string_agg.
    The fact table is scanned exactly once."""
    m = (tables.load(spark, sf_dir, "orders")
         .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"),
                                "yyyy-MM").alias("mon"))
         .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
               .alias("rev")))
    x = m.agg(F.max("rev").alias("hi"), F.min("rev").alias("lo"))
    mb = (m.join(F.broadcast(x), m.rev == x.hi)
           .agg(F.lit("max_bucket").alias("metric"),
                F.array_join(F.array_sort(F.collect_list("mon")), ",")
                 .alias("keys"),
                F.any_value("hi").cast("double").alias("value")))
    nb = (m.join(F.broadcast(x), m.rev == x.lo)
           .agg(F.lit("min_bucket").alias("metric"),
                F.array_join(F.array_sort(F.collect_list("mon")), ",")
                 .alias("keys"),
                F.any_value("lo").cast("double").alias("value")))
    return mb.unionAll(nb).orderBy("metric")


# ------------------------------------------------------- field_caps

FC_HOT = 30.0            # events hotter than this carry a `hot` flag
FC_NOTE_TYPE = "error"   # events of this type carry a `note` field

_FC_JSON_SQL = f"""
  SELECT '{{"k":' || json_extract_string(props, '$.k')
         || ',"et":"' || event_type || '"'
         || CASE WHEN value > {FC_HOT!r} THEN ',"hot":true' ELSE '' END
         || CASE WHEN event_type = '{FC_NOTE_TYPE}'
                 THEN ',"note":"err"' ELSE '' END
         || '}}' AS j
  FROM events"""


@register("field_caps_census", oracle=f"""
WITH d AS ({_FC_JSON_SQL}),
a AS (
  SELECT count(*) AS n,
         count(json_extract_string(j, '$.k')) AS n_k,
         count(json_extract_string(j, '$.et')) AS n_et,
         count(json_extract_string(j, '$.hot')) AS n_hot,
         count(json_extract_string(j, '$.note')) AS n_note
  FROM d)
SELECT f.field, f.es_type, f.aggregatable, f.n_docs,
       round(f.n_docs * 1.0 / a.n, 6) AS coverage
FROM a, LATERAL (VALUES
  ('et',   'keyword', TRUE,  a.n_et),
  ('hot',  'boolean', TRUE,  a.n_hot),
  ('k',    'long',    TRUE,  a.n_k),
  ('note', 'text',    FALSE, a.n_note)) AS f(field, es_type,
                                             aggregatable, n_docs)
ORDER BY f.field
""")
def field_caps_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `_field_caps` over a dynamically-mapped JSON payload: the
    events payload is serialized with conditionally-present fields
    (`hot` only on hot events, `note` only on '{FC_NOTE_TYPE}'
    events), and the census reports, per field, its mapped type,
    whether it is aggregatable (text is not — ES needs a keyword
    sub-field), how many documents carry it, and its coverage
    fraction — the mapping-introspection call every client fires
    before building an aggregation UI.

    Scale shape: presence checks are map-side JSON extraction in the
    scan stage folded by ONE global partial agg; the per-field output
    rows unpivot from that single aggregate row (a 4-row stack
    expression), so the corpus is scanned once regardless of how
    many fields the mapping grows."""
    ev = tables.load(spark, sf_dir, "events")
    j = F.concat(
        F.lit('{"k":'), F.get_json_object("props", "$.k"),
        F.lit(',"et":"'), F.col("event_type"), F.lit('"'),
        F.when(F.col("value") > FC_HOT, F.lit(',"hot":true'))
         .otherwise(F.lit("")),
        F.when(F.col("event_type") == FC_NOTE_TYPE,
               F.lit(',"note":"err"')).otherwise(F.lit("")),
        F.lit("}"))
    # parse ONCE per row into a typed struct — the repeated
    # get_json_object form re-parses the payload per field and the
    # 64x probe measured it 33x; one from_json is the scale answer
    # (the same parse-once rule events_props_json documents)
    s = F.from_json(j, "k long, et string, hot boolean, note string")
    d = ev.select(s.alias("s"))
    a = d.agg(
        F.count("*").alias("n"),
        F.count("s.k").alias("n_k"),
        F.count("s.et").alias("n_et"),
        F.count("s.hot").alias("n_hot"),
        F.count("s.note").alias("n_note"))
    rows = [("et", "keyword", True, "n_et"),
            ("hot", "boolean", True, "n_hot"),
            ("k", "long", True, "n_k"),
            ("note", "text", False, "n_note")]
    stack = F.explode(F.array(*[
        F.struct(F.lit(f).alias("field"), F.lit(t).alias("es_type"),
                 F.lit(ag).alias("aggregatable"),
                 F.col(c).alias("n_docs"))
        for f, t, ag, c in rows])).alias("f")
    return (a.select("n", stack)
             .select(F.col("f.field").alias("field"),
                     F.col("f.es_type").alias("es_type"),
                     F.col("f.aggregatable").alias("aggregatable"),
                     F.col("f.n_docs").alias("n_docs"),
                     F.round(F.try_divide(F.col("f.n_docs"),
                                          F.col("n")), 6)
                      .alias("coverage"))
             .orderBy("field"))


# ------------------------------------------------- JSON_CONTAINS family

JC_HEAD = 8
JC_ONE = "data"
JC_ANY = ("vector", "merge")
JC_ALL = ("key", "row")
JC_W_MIN = 600


@register("json_contains_filter", oracle=f"""
WITH a AS (
  SELECT lang, n_chars,
         list_distinct(list_slice(
           {TOK_SQL},
           1, {JC_HEAD})) AS labels
  FROM documents)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN list_contains(labels, '{JC_ONE}')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
       CAST(sum(CASE WHEN list_has_any(labels, {list(JC_ANY)!r})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
       CAST(sum(CASE WHEN list_has_all(labels, {list(JC_ALL)!r})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_all,
       CAST(sum(CASE WHEN n_chars >= {JC_W_MIN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_deep
FROM a GROUP BY lang ORDER BY lang
""")
def json_contains_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus JSON-field filter family: each document carries a JSON
    payload `{{"labels": [...], "meta": {{"w": n}}}}` (serialized
    with to_json — genuinely a string column, the Milvus JSON field
    type), and the per-language census counts docs passing
    `JSON_CONTAINS(props["labels"], '{JC_ONE}')`,
    `JSON_CONTAINS_ANY(..., {JC_ANY})`, `JSON_CONTAINS_ALL(...,
    {JC_ALL})`, and the scalar path predicate `props["meta"]["w"] >=
    {JC_W_MIN}` — the four JSON operators Milvus exposes. The Spark
    side REALLY round-trips JSON (to_json → from_json + array ops /
    get_json_object for the scalar path), proving the schema-on-read
    plan; the oracle computes the same census from the source
    columns (the serialization is content-preserving by
    construction).

    Scale shape: one parse per row in the scan projection, array
    membership map-side, ONE |langs|-row partial-agg shuffle. The
    ingest-side alternative — materialize typed columns once — is
    the `nested_payload_typed` path next door."""
    docs = tables.load(spark, sf_dir, "documents")
    labels = F.array_distinct(F.slice(tokens("text"), 1, JC_HEAD))
    j = F.to_json(F.struct(
        labels.alias("labels"),
        F.struct(F.col("n_chars").alias("w")).alias("meta")))
    d = docs.select("lang", j.alias("props"))
    lab = F.from_json(F.get_json_object("props", "$.labels"),
                      "array<string>")
    w = F.get_json_object("props", "$.meta.w").cast("long")
    parsed = d.select("lang", lab.alias("labels"), w.alias("w"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return (parsed.groupBy("lang")
            .agg(F.count("*").alias("n_total"),
                 flag(F.array_contains("labels", JC_ONE))
                  .alias("n_contains"),
                 flag(F.arrays_overlap(
                     "labels", F.array(*[F.lit(t) for t in JC_ANY])))
                  .alias("n_any"),
                 flag(F.array_contains("labels", JC_ALL[0])
                      & F.array_contains("labels", JC_ALL[1]))
                  .alias("n_all"),
                 flag(F.col("w") >= JC_W_MIN).alias("n_deep"))
            .orderBy("lang"))


# ------------------------------------------- Weaviate numeric Aggregate


@register("mode_agg", oracle="""
WITH c AS (
  SELECT lang, n_chars, count(*) AS cnt
  FROM documents GROUP BY 1, 2),
m AS (
  SELECT lang, n_chars AS mode_n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, n_chars) AS rn
  FROM c),
s AS (
  SELECT lang, count(*) AS n_docs,
         round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_val,
         round(quantile_cont(n_chars, 0.5), 6) AS median_val,
         min(n_chars) AS min_val, max(n_chars) AS max_val
  FROM documents GROUP BY lang)
SELECT s.lang, s.n_docs, m.mode_n_chars, s.mean_val, s.median_val,
       s.min_val, s.max_val
FROM s JOIN m ON s.lang = m.lang AND m.rn = 1
ORDER BY s.lang
""")
def mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weaviate `Aggregate` over a numeric (int) property: per group
    (lang), the full property census Weaviate returns — count, MODE
    (most frequent value; ties resolve to the smallest, pinned on
    both engines rather than left to engine whim), mean, exact
    interpolated median, min, max. Completes the numeric side of the
    Aggregate API beside the text side's `top_occurrences_agg`.

    Scale shape: the mode needs the value histogram — ONE
    (group, value) partial-agg shuffle, then a per-group
    WindowGroupLimit-prunable rank over |distinct values| rows; the
    moment census is a second partial agg over the same scan (mean
    from exact integer sums; the exact median is the sf-scale
    oracle-checked form — at 100 TB swap in percentile_approx, the
    documented sketch path of the percentile family)."""
    docs = tables.load(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    m = (c.withColumn("rn", F.row_number().over(
            W.partitionBy("lang").orderBy(F.desc("cnt"), "n_chars")))
          .where(F.col("rn") == 1)
          .select("lang", F.col("n_chars").alias("mode_n_chars")))
    s = (docs.groupBy("lang")
             .agg(F.count("*").alias("n_docs"),
                  F.round(F.sum("n_chars").cast("double")
                          / F.count("*"), 6).alias("mean_val"),
                  F.round(F.median("n_chars"), 6).alias("median_val"),
                  F.min("n_chars").alias("min_val"),
                  F.max("n_chars").alias("max_val")))
    return (s.join(m, "lang")
             .select("lang", "n_docs", "mode_n_chars", "mean_val",
                     "median_val", "min_val", "max_val")
             .orderBy("lang"))


# --------------------------------- significant_terms background_filter

SBF_LANG = "en"          # foreground: docs matching the query
SBF_MIN_CHARS = 200      # background_filter: the comparison scope
SBF_TOP = 10


@register("sigterms_background_filter", oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, lang, n_chars,
         unnest({TOK_SQL})
           AS token
  FROM documents),
tot AS (
  SELECT count(*) FILTER (lang = '{SBF_LANG}') AS nfg,
         count(*) FILTER (n_chars >= {SBF_MIN_CHARS}) AS nbg
  FROM documents),
tc AS (
  SELECT token,
         sum(CASE WHEN lang = '{SBF_LANG}' THEN 1 ELSE 0 END) AS fg_docs,
         sum(CASE WHEN n_chars >= {SBF_MIN_CHARS} THEN 1 ELSE 0 END)
           AS bg_docs
  FROM dt GROUP BY token)
SELECT token, CAST(fg_docs AS BIGINT) AS fg_docs,
       CAST(bg_docs AS BIGINT) AS bg_docs,
       round((fg_docs * 1.0 / nfg - bg_docs * 1.0 / nbg)
             * (fg_docs * 1.0 / nfg) / (bg_docs * 1.0 / nbg), 6)
         AS jlh_score
FROM tc, tot
WHERE fg_docs >= 2 AND bg_docs > 0
ORDER BY jlh_score DESC, token LIMIT {SBF_TOP}
""")
def sigterms_background_filter(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ES `significant_terms` with a `background_filter`: significance
    is measured against a SCOPED background set (here docs with
    n_chars >= {SBF_MIN_CHARS}) instead of the whole index — the ES
    knob for "unusual vs comparable documents, not vs everything"
    (e.g. crime types vs the same city, not vs the country). Same JLH
    heuristic as the unfiltered family; only the background doc
    frequencies and total change.

    Scale shape: identical to significant_text — ONE distinct
    (doc, token) explode with BOTH memberships as map-side flags
    folded in a single vocab-keyed partial agg; the 2-value totals
    frame broadcasts into the score projection. The background filter
    adds zero passes."""
    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    dt = (docs.select("doc_id", "lang", "n_chars",
                      F.explode(tokens("text")).alias("token"))
              .distinct())
    tot = docs.agg(
        F.count_if(F.col("lang") == SBF_LANG).alias("nfg"),
        F.count_if(F.col("n_chars") >= SBF_MIN_CHARS).alias("nbg"))
    tc = (dt.groupBy("token")
            .agg(F.sum(F.when(F.col("lang") == SBF_LANG, 1).otherwise(0))
                  .alias("fg_docs"),
                 F.sum(F.when(F.col("n_chars") >= SBF_MIN_CHARS, 1)
                        .otherwise(0)).alias("bg_docs")))
    fgr = F.col("fg_docs") / F.col("nfg")
    bgr = F.col("bg_docs") / F.col("nbg")
    return (tc.crossJoin(F.broadcast(tot))
              .where((F.col("fg_docs") >= 2) & (F.col("bg_docs") > 0))
              .select("token",
                      F.col("fg_docs").cast("long").alias("fg_docs"),
                      F.col("bg_docs").cast("long").alias("bg_docs"),
                      F.round((fgr - bgr) * fgr / bgr, 6)
                       .alias("jlh_score"))
              .orderBy(F.desc("jlh_score"), "token").limit(SBF_TOP))


# --------------------------- terms agg doc_count_error_upper_bound

TSE_SHARDS = 4
TSE_SHARD_SIZE = 8
TSE_TOP = 5


@register("terms_shard_error", oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
         unnest({TOK_SQL})
           AS token
  FROM documents),
sh AS (
  SELECT token,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {TSE_SHARDS} AS shard
  FROM dt),
c AS (SELECT shard, token, count(*) AS cnt FROM sh GROUP BY 1, 2),
r AS (SELECT shard, token, cnt,
             row_number() OVER (PARTITION BY shard
                                ORDER BY cnt DESC, token) AS rn
      FROM c),
kept AS (SELECT * FROM r WHERE rn <= {TSE_SHARD_SIZE}),
lasts AS (SELECT shard, min(cnt) AS last FROM kept GROUP BY shard),
tl AS (SELECT sum(last) AS total_last FROM lasts),
merged AS (
  SELECT k.token, sum(k.cnt) AS est, sum(l.last) AS covered
  FROM kept k JOIN lasts l USING (shard) GROUP BY k.token),
truec AS (SELECT token, count(*) AS true_cnt FROM sh GROUP BY token)
SELECT m.token AS term, CAST(m.est AS BIGINT) AS doc_count,
       CAST(tl.total_last - m.covered AS BIGINT)
         AS doc_count_error_upper_bound,
       CAST(t.true_cnt AS BIGINT) AS true_count
FROM merged m JOIN truec t ON m.token = t.token, tl
ORDER BY m.est DESC, m.token LIMIT {TSE_TOP}
""")
def terms_shard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES distributed `terms` aggregation APPROXIMATION CONTRACT,
    reproduced and reported: each shard returns only its local top
    `shard_size` terms, the coordinator merges, and every returned
    bucket carries `doc_count_error_upper_bound` — the sum of the
    LAST (smallest) reported count of every shard that did NOT
    report the term, the worst case it could have missed. The true
    count is computed alongside, so the hash row pins the inequality
    the contract promises: est ≤ true ≤ est + bound (also pinned in
    tests). This is the semantics every user of a sharded terms agg
    must understand before trusting its counts — made explicit here
    because at 100 TB the per-shard cut is not optional.

    Scale shape: shard routing is the map-side md5 the real cluster
    uses; per-shard counts are one (shard, term) partial agg; the
    per-shard top cut is a WindowGroupLimit-prunable rank bounded by
    shard_size; the coordinator merge and the |shards|-row lasts
    frame are broadcast-sized. The exact true count costs one more
    vocab-keyed agg over the same frame (sf-scale check; a real
    cluster doesn't pay it — that's the point of the bound)."""

    docs = tables.load_parallel(spark, sf_dir, "documents", "doc_id")
    from ..functions.hashing import md5_int32
    dt = (docs.select("doc_id", F.explode(tokens("text")).alias("token"))
              .distinct())
    sh = dt.select(
        "token",
        (md5_int32(F.col("doc_id").cast("string")) % TSE_SHARDS)
        .alias("shard"))
    c = sh.groupBy("shard", "token").agg(F.count("*").alias("cnt")) \
          .localCheckpoint(eager=False)
    rn = F.row_number().over(
        W.partitionBy("shard").orderBy(F.desc("cnt"), "token"))
    kept = c.withColumn("rn", rn).where(F.col("rn") <= TSE_SHARD_SIZE)
    lasts = kept.groupBy("shard").agg(F.min("cnt").alias("last"))
    tl = lasts.agg(F.sum("last").alias("total_last"))
    merged = (kept.join(F.broadcast(lasts), "shard")
                  .groupBy("token")
                  .agg(F.sum("cnt").alias("est"),
                       F.sum("last").alias("covered")))
    truec = c.groupBy("token").agg(F.sum("cnt").alias("true_cnt"))
    return (merged.join(truec, "token").crossJoin(F.broadcast(tl))
            .select(F.col("token").alias("term"),
                    F.col("est").cast("long").alias("doc_count"),
                    (F.col("total_last") - F.col("covered")).cast("long")
                     .alias("doc_count_error_upper_bound"),
                    F.col("true_cnt").cast("long").alias("true_count"))
            .orderBy(F.desc("doc_count"), "term").limit(TSE_TOP))
