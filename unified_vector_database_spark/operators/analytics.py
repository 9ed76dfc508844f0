"""Relational/analytics substrate — the engine core every vector query
rides on (scan, filtered aggregation, star joins, windows, semi/anti
joins, time rollups).

Scale notes per query are inline; the common rules: dimension tables
broadcast (region/nation/customer at TPC-H ratios), fact-fact joins
shuffle on the join key with AQE skew handling, aggregates are
partial (map-side combine) by construction. Money/value sums
accumulate as exact DECIMALs (inputs have <=2 decimal digits, so the
per-row products are exact at 4-6 decimals and decimal addition is
order-independent — `round(sum_double, 2)` drifted across half-cent
boundaries when partitioning changed); double aggregates that can't
be made exact (percentiles, stddev) are rounded identically in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..registry import register


@register("top_orders_per_segment", oracle="""
WITH r AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM customer JOIN orders ON o_custkey = c_custkey)
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS total_price,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3 ORDER BY c_mktsegment, rank
""")
def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n per group: the window shuffles on the group key only."""
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey"))
    return (orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_mktsegment", "o_orderkey", "o_totalprice")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("c_mktsegment", "o_orderkey",
                    F.round("o_totalprice", 2).alias("total_price"), "rank")
            .orderBy("c_mktsegment", "rank"))


@register("events_hourly", oracle="""
SELECT CAST(date_trunc('hour', ts) AS DATE) AS event_date,
       CAST(EXTRACT(hour FROM ts) AS INT)   AS hr,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""")
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup on the event stream (batch twin of the
    Structured Streaming path in streaming/ingest.py).

    The sum accumulates as an exact DECIMAL (order-independent) but
    the FINAL column is cast to DOUBLE: both engines cast the same
    exact decimal, so the doubles are bit-identical, and a plain
    float survives any driver-side serialization (r1 driver hashed
    the Decimal repr stricter than values)."""
    ev = tables.load(spark, sf_dir, "events")
    return (ev.groupBy(F.to_date(F.date_trunc("hour", "ts")).alias("event_date"),
                       F.hour("ts").alias("hr"),
                       "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"),
                   F.countDistinct("user_id").alias("n_users"))
              .orderBy("event_date", "hr", "event_type"))


@register("events_percentiles", oracle="""
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 6)  AS p50,
       round(quantile_cont(value, 0.9), 6)  AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
""")
def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type (Spark
    `percentile` == DuckDB `quantile_cont`). The exact form shuffles
    values per group; the scale alternative is approx_percentile
    (t-digest, mergeable map-side) — exact here because the oracle
    must match bit-for-bit."""
    ev = tables.load(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                   F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
                   F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
                   F.countDistinct("user_id").alias("n_users"))
              .orderBy("event_type"))


@register("events_props_json", oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_max,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""")
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction (reference: metadata/payload
    JSON on every record): get_json_object stays JVM-side; at scale
    prefer parsing once into a typed column over repeated extraction."""
    ev = tables.load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.groupBy("event_type")
              .agg(F.sum(k).alias("k_sum"),
                   F.max(k).alias("k_max"),
                   F.count("*").alias("n"))
              .orderBy("event_type"))


@register("customer_running_totals", oracle="""
SELECT o_custkey,
       o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_total,
       CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
FROM orders
WHERE o_custkey <= 20
ORDER BY o_custkey, order_seq
""")
def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregates per customer (ROWS frame: one sort
    per partition key, no extra shuffle beyond the partitionBy)."""
    orders = tables.load(spark, sf_dir, "orders").where(F.col("o_custkey") <= 20)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2)
         .alias("running_total"),
        F.row_number().over(w).alias("order_seq"))
        .orderBy("o_custkey", "order_seq"))


@register("lineitem_rollup", oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""")
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag -> flag+status -> grand total) in
    one pass — partial aggregation applies to every grouping set."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.count("*").alias("n"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                      "sum_qty", "n")
              .orderBy("returnflag", "linestatus"))


@register("events_pivot", oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
       CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view
FROM events GROUP BY 1 ORDER BY 1
""")
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot day x event_type counts (explicit value list — at scale a
    pivot without a value list would need an extra distinct pass)."""
    ev = tables.load(spark, sf_dir, "events")
    out = (ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("event_date"))
             .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
             .count()
             .orderBy("event_date"))
    return out.select("event_date",
                      *[F.coalesce(c, F.lit(0)).alias(c)
                        for c in ["click", "error", "purchase", "signup", "view"]])


@register("events_sessionized", oracle="""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM o GROUP BY user_id
ORDER BY user_id LIMIT 100
""")
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag window +
    running session break count. Shuffles once on user_id; state per
    user is one row — the batch twin of a session_window stream."""
    ev = tables.load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact-microsecond gap on BOTH engines: unix_timestamp truncates
    # to whole seconds while DuckDB's epoch() keeps fractions, so a
    # gap in (1800s, 1801s) could classify differently (ADVICE r1).
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (ev.withColumn("new_session", new_s)
              .groupBy("user_id")
              .agg(F.count("*").alias("n_events"),
                   F.sum("new_session").cast("long").alias("n_sessions"))
              .orderBy("user_id").limit(100))


@register("customers_no_orders", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey
""")
def customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no pending ('P') order.
    Broadcast when the probe side is small, shuffle-hash otherwise;
    AQE decides from runtime stats. (Every customer has SOME order in
    the synthetic data, so the filterless variant would be vacuous.)"""
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "P")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
                .select("c_custkey", "c_name").orderBy("c_custkey"))


@register("embedding_stats", oracle="""
SELECT pos,
       round(avg(x), 6)         AS avg_x,
       round(stddev_samp(x), 6) AS std_x,
       round(min(x), 6)         AS min_x,
       round(max(x), 6)         AS max_x
FROM (SELECT unnest(embedding::DOUBLE[]) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
GROUP BY pos ORDER BY pos
""")
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution stats over the embedding corpus —
    the drift/quality telemetry a training-data pipeline runs before
    trusting a new embedding batch. One posexplode + one 64-group agg
    (partial map-side); output is O(dim)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (emb.select(F.posexplode("embedding").alias("p0", "x"))
               .select((F.col("p0") + 1).alias("pos"), x.alias("x"))
               .groupBy("pos")
               .agg(F.round(F.avg("x"), 6).alias("avg_x"),
                    F.round(F.stddev_samp("x"), 6).alias("std_x"),
                    F.round(F.min("x"), 6).alias("min_x"),
                    F.round(F.max("x"), 6).alias("max_x"))
               .orderBy("pos"))


@register("asof_click_attribution", oracle="""
WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
p AS (SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase')
SELECT p.purchase_id, p.user_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
       c.click_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS c_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.purchase_id
""")
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase attributed to the same user's most
    recent click at-or-before it (ties on ts -> highest click id).
    DuckDB runs its native ASOF JOIN as the oracle.

    Spark has no asof operator, and the naive inequality join explodes
    to O(purchases x clicks) per user before picking the max. The
    scale-correct plan is union + single sort: tag both event kinds,
    sort each user partition by (ts, kind, id), and carry the last
    click forward with an ignorenulls last() window. ONE shuffle on
    user_id, O(1) state per row, no join blow-up — the same shape at
    any fan-in. Clicks at the same (user, ts) dedupe to the max id by
    the sort order itself."""
    ev = tables.load(spark, sf_dir, "events")
    base = (ev.where(F.col("event_type").isin("click", "purchase"))
              .select("event_id", "user_id", "ts",
                      F.when(F.col("event_type") == "click", 0)
                       .otherwise(1).alias("tg")))
    w = (W.partitionBy("user_id").orderBy("ts", "tg", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    prior = F.last(
        F.when(F.col("tg") == 0,
               F.struct(F.col("ts").alias("c_ts"),
                        F.col("event_id").alias("click_id"))),
        ignorenulls=True).over(w)
    return (base.withColumn("prior", prior)
                .where(F.col("tg") == 1)
                .select(F.col("event_id").alias("purchase_id"),
                        "user_id",
                        F.unix_micros("ts").alias("p_us"),
                        F.col("prior.click_id").alias("click_id"),
                        F.unix_micros("prior.c_ts").alias("c_us"))
                .orderBy("purchase_id"))


@register("events_multires_rollup", oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1 ORDER BY 1
""")
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: raw -> minute -> hour ->
    day, each level folding the PREVIOUS level's partials, never the
    raw rows. count and decimal sum are mergeable, so the hierarchy is
    exactly equal to a direct day rollup (the oracle) — but at 100 TB
    the minute level is what you materialize incrementally, and the
    coarser levels aggregate ~1e4x fewer rows than a raw re-scan.
    Each fold groups a parent of the previous key, so AQE reuses the
    same partitioning; the day output here matches the direct form
    bit-for-bit because decimal addition is associative."""
    ev = tables.load(spark, sf_dir, "events")
    minute = (ev.groupBy(F.date_trunc("minute", "ts").alias("m"))
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("value").cast("decimal(18,2)")).alias("v")))
    hour = (minute.groupBy(F.date_trunc("hour", "m").alias("h"))
                  .agg(F.sum("n").alias("n"), F.sum("v").alias("v")))
    return (hour.groupBy(F.to_date("h").alias("d"))
                .agg(F.sum("n").alias("n_events"),
                     F.sum("v").cast("double").alias("total_value"))
                .orderBy("d"))


@register("range_join_attribution", oracle="""
SELECT p.event_id AS purchase_id, count(c.event_id) AS n_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
GROUP BY 1 ORDER BY 1
""")
def range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join (clicks within the hour before each purchase),
    bucketed: a raw inequality join degenerates to per-key cartesian;
    the scale form maps each purchase to its hour bucket AND the
    previous one (a 1-hour lookback spans at most 2 buckets), equi-
    joins on (user, bucket), and applies the range as a residual
    filter. The shuffle key gains time locality — state per task is
    one bucket's rows, not one user's history — and the plan is a
    plain hash join at any scale. Purchases with no clicks survive
    via the left join (count over 2 bucket replicas of a no-match
    purchase is still 0)."""
    ev = tables.load(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    p = (ev.where(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("purchase_id"),
                   F.col("user_id").alias("p_user"),
                   F.col("ts").alias("p_ts"),
                   F.floor(F.unix_micros("ts") / hour_us).alias("pb")))
    p = p.select("purchase_id", "p_user", "p_ts",
                 F.explode(F.array(F.col("pb"), F.col("pb") - 1)).alias("jb"))
    c = (ev.where(F.col("event_type") == "click")
           .select(F.col("event_id").alias("click_id"),
                   F.col("user_id").alias("c_user"),
                   F.col("ts").alias("c_ts"),
                   F.floor(F.unix_micros("ts") / hour_us).alias("cb")))
    cond = ((F.col("p_user") == F.col("c_user"))
            & (F.col("jb") == F.col("cb"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")))
    return (p.join(c, cond, "left")
             .groupBy("purchase_id")
             .agg(F.count("click_id").alias("n_clicks"))
             .orderBy("purchase_id"))


@register("extended_stats", oracle="""
WITH s AS (
  SELECT event_type, count(*) AS n,
         round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
         sum(CAST(value AS DECIMAL(18,2))) AS s1,
         sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
  FROM events GROUP BY event_type)
SELECT event_type, n, min_v, max_v,
       CAST(s1 AS DOUBLE) AS sum_v,
       round(CAST(s1 AS DOUBLE) / n, 6) AS avg_v,
       round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             / (n - 1), 6) AS var_v
FROM s ORDER BY event_type
""")
def extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES extended_stats aggregation: count/min/max/sum/avg/variance
    per bucket in ONE partial-agg'd pass. Sums accumulate as exact
    cents-decimals (order-independent) and the variance is derived
    from the two exact moments with identical double arithmetic on
    both engines — bit-stable under any partitioning, which a naive
    var_samp over doubles is not."""
    ev = tables.load(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(18,2)")
    s = (ev.groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.round(F.min("value"), 6).alias("min_v"),
                F.round(F.max("value"), 6).alias("max_v"),
                F.sum(vd).alias("s1"),
                F.sum(vd * vd).alias("s2")))
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    return (s.select("event_type", "n", "min_v", "max_v",
                     s1d.alias("sum_v"),
                     F.round(s1d / F.col("n"), 6).alias("avg_v"),
                     F.round((s2d - s1d * s1d / F.col("n"))
                             / (F.col("n") - 1), 6).alias("var_v"))
             .orderBy("event_type"))


@register("events_retention", oracle="""
WITH cohort AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
  FROM events)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
       date_diff('day', c.cohort_week, a.active_week) // 7 AS week_offset,
       count(*) AS n_users
FROM cohort c JOIN activity a USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""")
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen week,
    counted in every later week they return. Two partial-agg'd passes
    over events plus one join that is co-keyed on user_id — the
    classic product-analytics rollup (Mixpanel/Amplitude class) at
    warehouse scale. Both week columns are week-truncated, so the
    day-difference is an exact multiple of 7 and the integer divide
    is lossless on both engines."""
    ev = tables.load(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    cohort = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = ev.select("user_id", wk.alias("active_week")).distinct()
    return (cohort.join(activity, "user_id")
                  .groupBy(F.to_date("cohort_week").alias("cohort_week"),
                           F.floor(F.datediff("active_week", "cohort_week") / 7)
                            .alias("week_offset"))
                  .agg(F.count("*").alias("n_users"))
                  .orderBy("cohort_week", "week_offset"))


PATH_LEN = 3


@register("session_paths_agg", oracle=f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM o),
r AS (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts, event_id) AS step
  FROM s),
p AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY step) AS path
  FROM r WHERE step <= {PATH_LEN}
  GROUP BY 1, 2)
SELECT path, count(*) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path LIMIT 10
""")
def session_paths_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis (the product-analytics "top user
    journeys" query): sessions re-derived with the 30-min gap rule,
    each session reduced to its first {PATH_LEN} event types in time
    order, paths counted corpus-wide. Everything shuffles once on
    user_id (sessionize + step rank share the window key); the
    WindowGroupLimit-prunable step ≤ N cut bounds the path build, and
    the path census shuffles path-cardinality rows."""
    ev = tables.load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    s = (ev.withColumn("new_session", new_s)
           .withColumn("sid", F.sum("new_session").over(
               w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    r = s.withColumn("step", F.row_number().over(
        W.partitionBy("user_id", "sid").orderBy("ts", "event_id")))
    p = (r.where(F.col("step") <= PATH_LEN)
          .groupBy("user_id", "sid")
          .agg(F.array_join(F.array_sort(F.collect_list(F.struct(
              F.col("step").alias("step"),
              F.col("event_type").alias("t")))).getField("t"), ">")
              .alias("path")))
    return (p.groupBy("path").agg(F.count("*").alias("n_sessions"))
             .orderBy(F.desc("n_sessions"), "path").limit(10))
