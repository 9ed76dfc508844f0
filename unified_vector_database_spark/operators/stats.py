"""Statistical aggregations: the Elasticsearch metric/bucket aggs
`extended_stats`, `string_stats`, `matrix_stats`, `top_hits`,
`auto_date_histogram`, `geo_centroid`, `median_absolute_deviation` and
`boxplot`, then (second section) the sibling pipeline aggs over a
date_histogram, statistical tests (`t_test`, change points) and
`geo_line`.

Reference parity: the ES backend of the reference stack
(`tests/cpu/docker-compose.yml` elasticsearch service; README.md:82
`VECTOR_DB=elastic`) exposes each of these as a first-class
aggregation. The Spark twin is a single partially-aggregated scan per
op (plus one bounded window for top_hits and one 1-row broadcast for
auto_date_histogram).

Cross-engine float determinism: every accumulated quantity is summed
as exact DECIMAL — order-independent under any partitioning — and only
converted to DOUBLE for the final closed-form moment math, which is
written as the byte-identical expression on both engines. Squares/products of the
2-decimal test values are exact 4-decimal rationals whose IEEE-double
products sit ~1e-13 from the true value, far inside the 5e-5 rounding
boundary of the DECIMAL(…,4) cast, so the casts cannot diverge.

Scale shapes of the first section (the second states its own):
- extended_stats / matrix_stats / geo_centroid / string_stats: one
  scan, map-side partial aggregation, bucket-count-sized shuffle.
  string_stats' per-character counts are 27 map-side length-diff
  expressions (no explode, no extra shuffle).
- top_hits: per-bucket window row_number over (bucket, order key) —
  the shuffle moves only the projected hit fields, and Spark 4's
  WindowGroupLimit pushes the rank<=N cut map-side.
- auto_date_histogram: two jobs by necessity (the interval depends on
  the data span) — a 1-row min/max agg broadcast into the bucketing
  scan; the ladder choice is a deterministic CASE both engines
  compute from the same two timestamps.
- median_absolute_deviation / boxplot: exact percentiles shuffle the
  group's values (bounded by event-type cardinality here); the 100 TB
  path swaps in t-digest `approx_percentile` — exact is used because
  the oracle must hash-match.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..registry import register


# ---------------------------------------------------------- extended_stats


@register("extended_stats_agg", oracle="""
WITH s AS (
  SELECT event_type,
         count(*) AS n,
         min(value) AS vmin,
         max(value) AS vmax,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
         CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS vsumsq
  FROM events GROUP BY 1)
SELECT event_type, n, vmin, vmax, vsum,
       vsumsq AS sum_of_squares,
       round(vsum / n, 6) AS avg_value,
       round(vsumsq / n - (vsum / n) * (vsum / n), 6) AS variance_pop,
       round(sqrt(greatest(vsumsq / n - (vsum / n) * (vsum / n), 0)), 6)
         AS std_dev_pop
FROM s ORDER BY event_type
""")
def extended_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `extended_stats` agg: count/min/max/sum/sum_of_squares/avg/
    variance/std per event type. Both power sums accumulate as exact
    DECIMAL (order-independent); the moments are closed-form double
    math over those two exact sums, identical on both engines."""
    ev = tables.load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.col("value").cast("decimal(18,2)"))
         .cast("double").alias("vsum"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,4)"))
         .cast("double").alias("vsumsq"))
    mean = F.col("vsum") / F.col("n")
    var = F.col("vsumsq") / F.col("n") - mean * mean
    return (agg.select(
        "event_type", "n", "vmin", "vmax", "vsum",
        F.col("vsumsq").alias("sum_of_squares"),
        F.round(mean, 6).alias("avg_value"),
        F.round(var, 6).alias("variance_pop"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_dev_pop"))
        .orderBy("event_type"))


# ------------------------------------------------------------ string_stats

# The counted alphabet: the 26 lowercase letters plus space. Counts
# come from the classic length-difference identity
# count(c) = len(text) - len(replace(text, c, '')) — integer-exact,
# map-side, no explode. Entropy is then closed-form double math over
# exact integer counts.
_ALPHABET = list(string.ascii_lowercase) + [" "]


def _char_count_sql(c: str) -> str:
    lit = "' '" if c == " " else f"'{c}'"
    return f"sum(length(text) - length(replace(text, {lit}, '')))"


@register("string_stats_agg", oracle=f"""
WITH counts AS (
  SELECT lang,
         count(*) AS n_docs,
         min(length(text)) AS min_len,
         max(length(text)) AS max_len,
         CAST(sum(length(text)) AS BIGINT) AS total_len,
         {', '.join(f'CAST({_char_count_sql(c)} AS BIGINT) AS c{i}'
                    for i, c in enumerate(_ALPHABET))}
  FROM documents GROUP BY 1),
tot AS (
  SELECT *, ({' + '.join(f'c{i}' for i in range(len(_ALPHABET)))}) AS n_chars
  FROM counts)
SELECT lang, n_docs, min_len, max_len,
       round(CAST(total_len AS DOUBLE) / n_docs, 6) AS avg_len,
       round(-({' + '.join(
           f'(CASE WHEN c{i} = 0 THEN 0.0 ELSE '
           f'(CAST(c{i} AS DOUBLE) / n_chars) * '
           f'log2(CAST(c{i} AS DOUBLE) / n_chars) END)'
           for i in range(len(_ALPHABET)))}), 6) AS entropy
FROM tot ORDER BY lang
""")
def string_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `string_stats` agg with `show_distribution`-grade character
    entropy, per language bucket: doc count, min/max/avg length, and
    the Shannon entropy of the (a-z + space) character distribution.
    27 length-diff count expressions run map-side in the scan
    (one pass over the char data, no explode/shuffle); entropy is
    exact-integer-count double math."""
    docs = tables.load(spark, sf_dir, "documents")
    cnt_cols = [
        F.sum(F.expr(
            f"length(text) - length(replace(text, {'chr(32)' if c == ' ' else repr(c)}, ''))"))
         .cast("long").alias(f"c{i}")
        for i, c in enumerate(_ALPHABET)]
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min(F.length("text")).alias("min_len"),
        F.max(F.length("text")).alias("max_len"),
        F.sum(F.length("text")).cast("long").alias("total_len"),
        *cnt_cols)
    cols = [F.col(f"c{i}") for i in range(len(_ALPHABET))]
    agg = agg.withColumn("n_chars", sum(cols[1:], cols[0]))
    ent_terms = []
    for i in range(len(_ALPHABET)):
        p = F.col(f"c{i}").cast("double") / F.col("n_chars")
        ent_terms.append(
            F.when(F.col(f"c{i}") == 0, F.lit(0.0)).otherwise(p * F.log2(p)))
    entropy = -sum(ent_terms[1:], ent_terms[0])
    return (agg.select(
        "lang", "n_docs", "min_len", "max_len",
        F.round(F.col("total_len").cast("double") / F.col("n_docs"), 6)
         .alias("avg_len"),
        F.round(entropy, 6).alias("entropy"))
        .orderBy("lang"))


# ------------------------------------------------------------ matrix_stats


@register("matrix_stats_agg", oracle="""
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sp,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
              AS DOUBLE) AS sqq,
         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4)))
              AS DOUBLE) AS spp,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4)))
              AS DOUBLE) AS sqp
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, n,
       round(sq / n, 6) AS mean_qty,
       round(sp / n, 6) AS mean_price,
       round(sqp / n - (sq / n) * (sp / n), 6) AS cov_pop,
       round((sqp / n - (sq / n) * (sp / n))
             / (sqrt(sqq / n - (sq / n) * (sq / n))
                * sqrt(spp / n - (sp / n) * (sp / n))), 6) AS corr
FROM s ORDER BY l_returnflag
""")
def matrix_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `matrix_stats` agg: covariance + correlation between
    quantity and extended price per returnflag. The five power sums
    accumulate as exact DECIMAL in one partial-agg pass; covariance
    and Pearson correlation are closed-form double math over them —
    never the engine's own covar/corr builtins, whose accumulation
    order (and algorithm) differs between engines."""
    li = tables.load(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q.cast("decimal(18,2)")).cast("double").alias("sq"),
        F.sum(p.cast("decimal(20,2)")).cast("double").alias("sp"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("sqq"),
        F.sum((p * p).cast("decimal(38,4)")).cast("double").alias("spp"),
        F.sum((q * p).cast("decimal(38,4)")).cast("double").alias("sqp"))
    n = F.col("n")
    mq, mp = F.col("sq") / n, F.col("sp") / n
    cov = F.col("sqp") / n - mq * mp
    vq = F.col("sqq") / n - mq * mq
    vp = F.col("spp") / n - mp * mp
    return (s.select(
        "l_returnflag", "n",
        F.round(mq, 6).alias("mean_qty"),
        F.round(mp, 6).alias("mean_price"),
        F.round(cov, 6).alias("cov_pop"),
        F.round(cov / (F.sqrt(vq) * F.sqrt(vp)), 6).alias("corr"))
        .orderBy("l_returnflag"))


# ---------------------------------------------------------------- top_hits

TOP_HITS_PER_BUCKET = 3


@register("top_hits_agg", oracle=f"""
WITH r AS (
  SELECT event_type, event_id, user_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rnk
  FROM events)
SELECT event_type, CAST(rnk AS INT) AS rnk, event_id, user_id, value
FROM r WHERE rnk <= {TOP_HITS_PER_BUCKET}
ORDER BY event_type, rnk
""")
def top_hits_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `top_hits` sub-aggregation: the top-N full documents inside
    each terms bucket (here: highest-value events per event type).
    One window ranked by (value desc, id); Spark 4's WindowGroupLimit
    rewrite cuts to N per group map-side before the shuffle, so the
    exchanged volume is buckets x N rows, not the corpus."""
    ev = tables.load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
    return (ev.select("event_type", "event_id", "user_id", "value")
              .withColumn("rnk", F.row_number().over(w))
              .where(F.col("rnk") <= TOP_HITS_PER_BUCKET)
              .select("event_type", F.col("rnk").cast("int").alias("rnk"),
                      "event_id", "user_id", "value")
              .orderBy("event_type", "rnk"))


# ------------------------------------------------------ auto_date_histogram

AUTO_HIST_TARGET_BUCKETS = 40


@register("auto_date_histogram", oracle=f"""
WITH b AS (
  SELECT min(ts) AS tmin, max(ts) AS tmax,
         date_diff('hour', min(ts), max(ts)) AS span_h
  FROM events),
lad AS (
  SELECT CASE WHEN span_h <= {AUTO_HIST_TARGET_BUCKETS} THEN 'hour'
              WHEN span_h <= {AUTO_HIST_TARGET_BUCKETS} * 24 THEN 'day'
              ELSE 'month' END AS unit
  FROM b)
SELECT unit,
       date_trunc(unit, ts) AS bucket_start,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, lad
GROUP BY 1, 2 ORDER BY bucket_start
""")
def auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `auto_date_histogram`: the bucket interval is chosen FROM
    the data so the result has at most ~target buckets — hour if the
    span fits, else day, else month. Two jobs by necessity: a 1-row
    min/max agg, broadcast into the bucketing scan (never a collect
    of data rows); the ladder CASE is the same deterministic
    expression on both engines."""
    ev = tables.load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("tmin"), F.max("ts").alias("tmax"))
    # span = HOUR-BOUNDARY CROSSINGS, not fractional elapsed hours:
    # DuckDB's date_diff('hour', ...) counts crossings, so the Spark
    # side truncates both endpoints to the hour first — otherwise a
    # corpus spanning 40h + 1s lands on different sides of the ladder
    # threshold in the two engines.
    span_h = (F.unix_timestamp(F.date_trunc("hour", "tmax"))
              - F.unix_timestamp(F.date_trunc("hour", "tmin"))) / 3600
    lad = bounds.select(
        F.when(span_h <= AUTO_HIST_TARGET_BUCKETS, F.lit("hour"))
         .when(span_h <= AUTO_HIST_TARGET_BUCKETS * 24, F.lit("day"))
         .otherwise(F.lit("month")).alias("unit"))
    withu = ev.crossJoin(F.broadcast(lad))
    bucket = (F.when(F.col("unit") == "hour", F.date_trunc("hour", "ts"))
               .when(F.col("unit") == "day", F.date_trunc("day", "ts"))
               .otherwise(F.date_trunc("month", "ts")))
    return (withu.groupBy("unit", bucket.alias("bucket_start"))
                 .agg(F.count("*").alias("n"),
                      F.sum(F.col("value").cast("decimal(18,2)"))
                       .cast("double").alias("total_value"))
                 .orderBy("bucket_start"))


# ------------------------------------------------------------ geo_centroid


@register("geo_centroid_agg", oracle="""
WITH geo AS (
  SELECT c_mktsegment,
         ((c_custkey * 9973) % 18000) / 100.0 - 90.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer)
SELECT c_mktsegment,
       count(*) AS n,
       round(CAST(sum(CAST(lat AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
         AS centroid_lat,
       round(CAST(sum(CAST(lon AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6)
         AS centroid_lon
FROM geo GROUP BY 1 ORDER BY 1
""")
def geo_centroid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geo_centroid` agg over the derived customer coordinates
    (same deterministic pseudo-placement as operators/geo.py): the
    mean point per market segment. Coordinates are exact 2-decimal
    rationals, so the DECIMAL(14,2) cast is lossless and the sum is
    order-independent; only the final mean is floating point."""
    from .geo import with_coords
    cust = tables.load(spark, sf_dir, "customer")
    geo = with_coords(cust)
    return (geo.groupBy("c_mktsegment")
               .agg(F.count("*").alias("n"),
                    F.round(F.sum(F.col("lat").cast("decimal(14,2)"))
                             .cast("double") / F.count("*"), 6)
                     .alias("centroid_lat"),
                    F.round(F.sum(F.col("lon").cast("decimal(14,2)"))
                             .cast("double") / F.count("*"), 6)
                     .alias("centroid_lon"))
               .orderBy("c_mktsegment"))


# ---------------------------------------------- median_absolute_deviation


@register("mad_value", oracle="""
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS median_value,
       round(mad(value), 6) AS mad_value
FROM events GROUP BY 1 ORDER BY 1
""")
def mad_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `median_absolute_deviation` agg per event type:
    median(|x - median(x)|). Spark has no MAD builtin, so it is two
    exact-percentile passes — the per-group median broadcast back
    onto the rows (group-key equi-join against a buckets-sized frame),
    then the median of the absolute deviations. The 100 TB path
    replaces both exact percentiles with t-digest approx_percentile;
    exact is required here for the hash oracle."""
    ev = tables.load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"),
        F.count("*").alias("n"))
    dev = (ev.join(F.broadcast(med), "event_type")
             .select("event_type", "n",
                     F.abs(F.col("value") - F.col("med")).alias("adev"),
                     F.col("med")))
    return (dev.groupBy("event_type")
               .agg(F.max("n").alias("n"),
                    F.round(F.max("med"), 6).alias("median_value"),
                    F.round(F.expr("percentile(adev, 0.5)"), 6)
                     .alias("mad_value"))
               .orderBy("event_type"))


# ----------------------------------------------------------------- boxplot


@register("boxplot_value", oracle="""
SELECT event_type,
       min(value) AS vmin,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(quantile_cont(value, 0.5), 6) AS q2,
       round(quantile_cont(value, 0.75), 6) AS q3,
       max(value) AS vmax,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6)
         AS iqr
FROM events GROUP BY 1 ORDER BY 1
""")
def boxplot_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `boxplot` agg per event type: min / Q1 / median / Q3 / max
    + IQR, exact linear-interpolated quantiles (Spark `percentile` ==
    DuckDB `quantile_cont`). One grouped agg; the scale path is
    approx_percentile's mergeable t-digest."""
    ev = tables.load(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.min("value").alias("vmin"),
                   F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
                   F.round(F.expr("percentile(value, 0.5)"), 6).alias("q2"),
                   F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
                   F.max("value").alias("vmax"),
                   F.round(F.expr("percentile(value, 0.75)")
                           - F.expr("percentile(value, 0.25)"), 6)
                    .alias("iqr"))
              .orderBy("event_type"))


# ======================================================================
# Pipeline/sibling aggregations and statistical tests: `stats_bucket` /
# `percentiles_bucket` /
# `serial_diff` (sibling pipeline aggs over a date_histogram), the
# `t_test` metric agg (Welch), and `geo_line`.
#
# Reference parity: ES backend of the reference stack (README.md:82
# `VECTOR_DB=elastic`); each is a named agg type in the ES search API.
#
# Scale shapes: every pipeline agg aggregates the RAW data once
# (partial-agg scan; bucket count is bounded by the date span) and then
# runs the sibling computation on bucket rows only — |days| rows, not
# events. t_test is one filtered-sum pass (two groups' power sums in
# the same partial agg). geo_line shuffles only the projected
# (sort-key, point-string) pairs and cuts each line to its first N
# points; ES itself caps geo_line at 10k points for the same reason.
#
# Float determinism: bucket totals and power sums accumulate in exact
# DECIMAL; sibling math (percentile interpolation, Welch t, diffs) runs
# on those exact values with byte-identical expressions on both
# engines. geo_line renders coordinates with fixed-format printf
# ('%.2f') — never raw double→string casts, whose shortest-roundtrip
# renderings are an engine implementation detail.
# ======================================================================


# ------------------------------------------------------------ stats_bucket

_DAILY_SQL = """
SELECT date_trunc('day', ts) AS day,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    # cast to DATE: DuckDB's date_trunc('day') yields DATE while
    # Spark's yields TIMESTAMP
    return (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
              .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total")))


@register("stats_bucket_agg", oracle=f"""
WITH d AS ({_DAILY_SQL})
SELECT count(*) AS n_buckets,
       min(total) AS min_total,
       max(total) AS max_total,
       round(CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS avg_total,
       CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM d
""")
def stats_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `stats_bucket` sibling pipeline agg: min/max/avg/sum over
    the daily-total buckets of a date_histogram. The raw scan
    aggregates once (partial agg, |days| output rows); the sibling
    stats run over bucket rows only."""
    d = _daily(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_buckets"),
        F.min("total").alias("min_total"),
        F.max("total").alias("max_total"),
        F.round(F.sum(F.col("total").cast("decimal(18,2)")).cast("double")
                / F.count("*"), 6).alias("avg_total"),
        F.sum(F.col("total").cast("decimal(18,2)")).cast("double")
         .alias("sum_total"))


# ------------------------------------------------------ percentiles_bucket


@register("percentiles_bucket_agg", oracle=f"""
WITH d AS ({_DAILY_SQL})
SELECT count(*) AS n_buckets,
       round(quantile_cont(total, 0.25), 6) AS p25,
       round(quantile_cont(total, 0.5), 6)  AS p50,
       round(quantile_cont(total, 0.75), 6) AS p75,
       round(quantile_cont(total, 0.9), 6)  AS p90
FROM d
""")
def percentiles_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `percentiles_bucket` sibling pipeline agg: exact quantiles
    of the daily bucket totals. The percentile runs on |days| rows —
    bucket-sized, never the raw events."""
    d = _daily(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_buckets"),
        F.round(F.expr("percentile(total, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(total, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(total, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(total, 0.9)"), 6).alias("p90"))


# ------------------------------------------------------------- serial_diff

SERIAL_LAG = 3


@register("serial_diff_agg", oracle=f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, day, total,
         round(total - lag(total, {SERIAL_LAG})
                 OVER (PARTITION BY event_type ORDER BY day), 6) AS diff
  FROM d)
SELECT event_type, day, total, diff FROM s
WHERE diff IS NOT NULL
ORDER BY event_type, day
""")
def serial_diff_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `serial_diff` pipeline agg (lag-k differencing for
    seasonality removal): daily total minus the total k buckets
    earlier, per event-type series. The window orders ≤|days| bucket
    rows within each bounded series partition — never raw events."""
    ev = tables.load(spark, sf_dir, "events")
    d = (ev.groupBy("event_type",
                 F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total")))
    w = W.partitionBy("event_type").orderBy("day")
    s = d.withColumn(
        "diff", F.round(F.col("total") - F.lag("total", SERIAL_LAG).over(w), 6))
    return (s.where(F.col("diff").isNotNull())
             .select("event_type", "day", "total", "diff")
             .orderBy("event_type", "day"))


# ------------------------------------------------------------------ t_test

TTEST_A = "click"
TTEST_B = "view"


@register("t_test_agg", oracle=f"""
WITH s AS (
  SELECT
    count(*) FILTER (WHERE event_type = '{TTEST_A}') AS n1,
    count(*) FILTER (WHERE event_type = '{TTEST_B}') AS n2,
    CAST(sum(CAST(value AS DECIMAL(18,2)))
         FILTER (WHERE event_type = '{TTEST_A}') AS DOUBLE) AS s1,
    CAST(sum(CAST(value AS DECIMAL(18,2)))
         FILTER (WHERE event_type = '{TTEST_B}') AS DOUBLE) AS s2,
    CAST(sum(CAST(value * value AS DECIMAL(28,4)))
         FILTER (WHERE event_type = '{TTEST_A}') AS DOUBLE) AS q1,
    CAST(sum(CAST(value * value AS DECIMAL(28,4)))
         FILTER (WHERE event_type = '{TTEST_B}') AS DOUBLE) AS q2
  FROM events)
SELECT n1, n2,
       round(s1 / n1, 6) AS mean_a,
       round(s2 / n2, 6) AS mean_b,
       round((s1 / n1 - s2 / n2)
             / sqrt((q1 - s1 * s1 / n1) / (n1 - 1) / n1
                    + (q2 - s2 * s2 / n2) / (n2 - 1) / n2), 6) AS t_stat
FROM s
""")
def t_test_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `t_test` metric agg (heteroscedastic / Welch): does mean
    event value differ between two event types? Both groups' power
    sums come from ONE filtered partial-agg pass (no second scan, no
    join); the t statistic is closed-form double math over exact
    DECIMAL sums."""
    ev = tables.load(spark, sf_dir, "events")
    a = F.col("event_type") == TTEST_A
    b = F.col("event_type") == TTEST_B
    dec = F.col("value").cast("decimal(18,2)")
    dec2 = (F.col("value") * F.col("value")).cast("decimal(28,4)")
    s = ev.agg(
        F.count_if(a).alias("n1"), F.count_if(b).alias("n2"),
        F.sum(F.when(a, dec)).cast("double").alias("s1"),
        F.sum(F.when(b, dec)).cast("double").alias("s2"),
        F.sum(F.when(a, dec2)).cast("double").alias("q1"),
        F.sum(F.when(b, dec2)).cast("double").alias("q2"))
    # try_divide throughout: DuckDB's `/` yields NULL on a zero
    # divisor (empty or singleton group), Spark's plain `/` throws
    # under ANSI — try_divide is the exact DuckDB twin
    # (functions/distance.safe_div rationale)
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.try_divide(F.col("s1"), n1)
    m2 = F.try_divide(F.col("s2"), n2)
    var1 = F.try_divide(
        F.col("q1") - F.try_divide(F.col("s1") * F.col("s1"), n1), n1 - 1)
    var2 = F.try_divide(
        F.col("q2") - F.try_divide(F.col("s2") * F.col("s2"), n2), n2 - 1)
    t = F.try_divide(m1 - m2,
                     F.sqrt(F.try_divide(var1, n1) + F.try_divide(var2, n2)))
    return s.select(
        "n1", "n2",
        F.round(m1, 6).alias("mean_a"),
        F.round(m2, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"))


# ---------------------------------------------------------------- geo_line

GEO_LINE_POINTS = 10


@register("geo_line_agg", oracle=f"""
WITH geo AS (
  SELECT c_mktsegment, c_custkey,
         printf('%.2f %.2f',
                ((c_custkey * 9973) % 18000) / 100.0 - 90.0,
                ((c_custkey * 7919) % 36000) / 100.0 - 180.0) AS pt
  FROM customer)
SELECT c_mktsegment,
       count(*) AS n_points,
       array_to_string(list(pt ORDER BY c_custkey)[1:{GEO_LINE_POINTS}], ';')
         AS line
FROM geo GROUP BY 1 ORDER BY 1
""")
def geo_line_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geo_line` agg: the track of a group's points ordered by a
    sort field, truncated to the first N (ES caps lines at 10k points
    for the same reason). Points render via fixed-format printf — raw
    double→string casts are engine-defined. The shuffle moves only
    (sort-key, point-string) pairs; the line itself is a bounded
    string, array-free for the driver canonicalizer."""
    from .geo import with_coords
    cust = with_coords(tables.load(spark, sf_dir, "customer"))
    pt = F.format_string("%.2f %.2f", F.col("lat"), F.col("lon"))
    g = (cust.select("c_mktsegment", "c_custkey", pt.alias("pt"))
             .groupBy("c_mktsegment")
             .agg(F.count("*").alias("n_points"),
                  F.array_join(
                      F.slice(
                          F.transform(
                              F.array_sort(F.collect_list(
                                  F.struct("c_custkey", "pt"))),
                              lambda s: s.getField("pt")),
                          1, GEO_LINE_POINTS),
                      ";").alias("line")))
    return g.orderBy("c_mktsegment")


# ------------------------------------------------- histogram percentile sketch

PSKETCH_BINS = 200
PSKETCH_QS = (0.5, 0.9)


@register("percentile_histogram_sketch", oracle=f"""
WITH b AS (
  SELECT min(value) AS gmin, max(value) AS gmax,
         (max(value) - min(value)) / {PSKETCH_BINS} AS width
  FROM events),
c AS (
  SELECT event_type,
         CAST(CASE WHEN width = 0 THEN 0
              ELSE least(floor((value - gmin) / width),
                         {PSKETCH_BINS - 1}) END
              AS INT) AS bin,
         count(*) AS cnt
  FROM events, b GROUP BY 1, 2),
n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
cu AS (
  SELECT c.event_type, bin, cnt, n.n,
         sum(cnt) OVER (PARTITION BY c.event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM c JOIN n USING (event_type)),
pick AS (
  SELECT event_type, n,
         min(CASE WHEN cum >= 0.5 * n AND cum - cnt < 0.5 * n THEN
             bin + (0.5 * n - (cum - cnt)) / cnt END) AS b50,
         min(CASE WHEN cum >= 0.9 * n AND cum - cnt < 0.9 * n THEN
             bin + (0.9 * n - (cum - cnt)) / cnt END) AS b90
  FROM cu GROUP BY 1, 2)
SELECT event_type, n,
       round(gmin + b50 * width, 6) AS p50_est,
       round(gmin + b90 * width, 6) AS p90_est
FROM pick, b ORDER BY event_type
""")
def percentile_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram percentile sketch — the 100 TB path that
    every exact-percentile op in this repo points at (`mad_value`,
    `boxplot_value`, `events_percentiles` docstrings all defer to a
    mergeable sketch at scale; this op IS that sketch, with a
    deterministic equi-width histogram instead of t-digest so the
    DuckDB oracle can replay it bit-for-bit). Shape: one 1-row
    min/max agg broadcast into the binning scan; bin counts are a
    partial aggregate — each executor's 200-bin histogram merges by
    ADDITION, the property approx_percentile's t-digest shares and
    exact percentile lacks (exact shuffles every VALUE; this shuffles
    at most groups x 200 bin rows regardless of corpus size). The
    quantile estimate interpolates inside the covering bin; the
    estimate sits in the same bin as the nearest-rank percentile, so
    its error vs THAT definition is bounded by one bin width (pinned
    property-wise in tests; vs linear interpolation the bound only
    holds when adjacent ranks share a bin — an empty-gap corpus can
    legitimately diverge, which is inherent to every histogram/
    t-digest sketch, not a defect of this one)."""
    ev = tables.load(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("gmin"), F.max("value").alias("gmax"))
    b = b.withColumn("width",
                     (F.col("gmax") - F.col("gmin")) / PSKETCH_BINS)
    # width = 0 (every value equal) would be an ANSI divide-by-zero;
    # the whole corpus lands in bin 0 and the estimate degenerates to
    # gmin exactly, which is the right answer.
    binned = (ev.crossJoin(F.broadcast(b))
                .select("event_type", "gmin", "width",
                        F.when(F.col("width") == 0, F.lit(0))
                         .otherwise(
                             F.least(F.floor((F.col("value") - F.col("gmin"))
                                             / F.col("width")),
                                     F.lit(PSKETCH_BINS - 1)))
                         .cast("int").alias("bin")))
    c = (binned.groupBy("event_type", "bin")
               .agg(F.count("*").alias("cnt")))
    n = c.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    w = (W.partitionBy("event_type").orderBy("bin")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cu = (c.join(F.broadcast(n), "event_type")
           .withColumn("cum", F.sum("cnt").over(w)))
    picks = []
    for q in PSKETCH_QS:
        t = F.lit(q) * F.col("n")
        # ONLY the covering bin (cum-cnt < t <= cum) interpolates —
        # later qualifying bins would contribute bin + NEGATIVE frac
        # and a bare min() would pick one of those instead.
        picks.append(F.min(F.when(
            (F.col("cum") >= t) & (F.col("cum") - F.col("cnt") < t),
            F.col("bin") + (t - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        )).alias(f"b{int(q * 100)}"))
    pick = cu.groupBy("event_type", "n").agg(*picks)
    out = pick.crossJoin(F.broadcast(b))
    return (out.select(
        "event_type", "n",
        F.round(F.col("gmin") + F.col("b50") * F.col("width"), 6)
         .alias("p50_est"),
        F.round(F.col("gmin") + F.col("b90") * F.col("width"), 6)
         .alias("p90_est"))
        .orderBy("event_type"))


# ------------------------------------------------------------- change_point


def step_change_best(t: str = "t", n: str = "n"):
    """(s, delta) struct of the split of series column `t` (length
    `n`) maximizing |mean-before − mean-after| — every split evaluates
    via one transform, then ONE fold picks the argmax (strict > keeps
    the EARLIEST max split — DuckDB's max_by under ordered unnest
    matches). Shared by change_point_agg and the ES|QL CHANGE_POINT
    command so both surfaces detect with identical expressions."""
    nn = F.col(n)
    cands = F.transform(
        F.sequence(F.lit(2), nn),
        lambda s: F.struct(
            s.alias("s"),
            F.abs(
                (F.aggregate(F.slice(t, 1, (s - 1).cast("int")),
                             F.lit(0.0), lambda acc, x: acc + x) / (s - 1))
                - (F.aggregate(
                    F.slice(t, s.cast("int"), (nn - s + 1).cast("int")),
                    F.lit(0.0), lambda acc, x: acc + x)
                   / (nn - s + 1))).alias("delta")))
    return F.aggregate(
        cands,
        F.lit(None).cast("struct<s:int,delta:double>"),
        lambda acc, c: F.when(
            acc.isNull() | (c.getField("delta") > acc.getField("delta")),
            F.struct(c.getField("s").cast("int").alias("s"),
                     c.getField("delta").alias("delta"))).otherwise(acc))


@register("change_point_agg", oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
arr AS (
  SELECT list(total ORDER BY day) AS t, list(day ORDER BY day) AS days,
         count(*) AS n
  FROM d),
sp AS (
  SELECT n, days, t,
         list_transform(range(2, n + 1), s -> struct_pack(
             s := s,
             delta := abs(list_sum(t[1:s - 1]) / (s - 1)
                          - list_sum(t[s:]) / (n - s + 1)))) AS cands
  FROM arr),
best AS (
  -- tie-break EXPLICIT: max delta, then earliest split — mirrors the
  -- Spark fold's strict-> earliest-split rule instead of relying on
  -- max_by unnest stability (ADVICE r4)
  SELECT n, days, t,
         (SELECT c FROM unnest(cands) AS u(c)
          ORDER BY c.delta DESC, c.s LIMIT 1) AS b
  FROM sp WHERE n >= 2)
SELECT CAST(n AS BIGINT) AS n_days,
       days[b.s] AS change_day,
       round(list_sum(t[1:b.s - 1]) / (b.s - 1), 6) AS mean_before,
       round(list_sum(t[b.s:]) / (n - b.s + 1), 6) AS mean_after,
       round(b.delta, 6) AS delta
FROM best
""")
def change_point_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `change_point` agg (step-change detection on a metric
    series): the split of the daily-total series maximizing the
    |mean-before − mean-after| gap. The series collapses to ONE row
    holding the ≤|days| bucket array (the raw scan aggregated first,
    as every pipeline agg here does); candidate splits evaluate as
    map-side array math over that row — O(days²) on ≤31 values, not
    a corpus operation. Ties break toward the earliest split on both
    engines (strict > in the fold; the oracle's ordered scalar
    subquery — delta DESC, s ASC — makes the same rule explicit)."""
    d = _daily(spark, sf_dir)
    arr = d.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("day").alias("day"), F.col("total").alias("total"))))
         .alias("a"))
    arr = arr.select(
        F.transform("a", lambda x: x.getField("total")).alias("t"),
        F.transform("a", lambda x: x.getField("day")).alias("days"),
        F.size("a").alias("n"))
    # fewer than 2 buckets -> no split exists; BOTH engines emit zero
    # rows (Spark's sequence(2, 1) is DESCENDING [2,1] and would
    # divide by zero; DuckDB's range(2, 2) is empty)
    arr = arr.where(F.col("n") >= 2)

    out = arr.select("t", "days", "n", step_change_best().alias("b"))
    s = F.col("b.s")
    mb = (F.aggregate(F.slice("t", 1, (s - 1).cast("int")),
                      F.lit(0.0), lambda acc, x: acc + x) / (s - 1))
    ma = (F.aggregate(F.slice("t", s.cast("int"),
                              (F.col("n") - s + 1).cast("int")),
                      F.lit(0.0), lambda acc, x: acc + x)
          / (F.col("n") - s + 1))
    return out.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.element_at("days", s).alias("change_day"),
        F.round(mb, 6).alias("mean_before"),
        F.round(ma, 6).alias("mean_after"),
        F.round(F.col("b.delta"), 6).alias("delta"))


# -------------------------------------------------- variable-width histogram

VWH_BUCKETS = 8


@register("variable_width_histogram", oracle=f"""
WITH b AS (
  SELECT list_transform(quantile_cont(value,
      [{', '.join(repr(i / VWH_BUCKETS) for i in range(1, VWH_BUCKETS))}]),
      x -> round(x, 6)) AS bnds
  FROM events),
a AS (
  SELECT CAST(len(list_filter(bnds, x -> value > x)) AS INT) AS bucket,
         value
  FROM events, b)
SELECT bucket, count(*) AS n,
       min(value) AS vmin, max(value) AS vmax,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6) AS avg_value
FROM a GROUP BY 1 ORDER BY 1
""")
def variable_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `variable_width_histogram`: buckets whose widths adapt to
    data density. Re-expressed as the classic EQUI-DEPTH histogram
    (the same structure query optimizers keep as column statistics):
    boundaries = exact quantiles at i/B, assignment = count of
    boundaries strictly below the value (map-side comparisons against
    a broadcast 1-row boundary array). The exact quantile pass is the
    oracle-parity cost; the 100 TB path computes boundaries with
    approx_percentile's mergeable t-digest and the assignment scan is
    unchanged."""
    ev = tables.load(spark, sf_dir, "events")
    # boundaries rounded to 6 dp on BOTH sides: Spark's percentile
    # and DuckDB's quantile_cont interpolate with different float
    # orderings, and an unrounded boundary within an ulp of a data
    # value flips that value's bucket between engines
    bnds = ev.agg(F.array(*[
        F.round(F.expr(f"percentile(value, {i / VWH_BUCKETS!r})"), 6)
        for i in range(1, VWH_BUCKETS)]).alias("bnds"))
    a = (ev.crossJoin(F.broadcast(bnds))
           .select(F.size(F.filter(
               "bnds", lambda x: F.col("value") > x)).cast("int")
               .alias("bucket"), "value"))
    return (a.groupBy("bucket")
             .agg(F.count("*").alias("n"),
                  F.min("value").alias("vmin"),
                  F.max("value").alias("vmax"),
                  F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                           .cast("double") / F.count("*"), 6)
                   .alias("avg_value"))
             .orderBy("bucket"))


# ------------------------------------------------------ moving_percentiles

MP_WINDOW = 7   # trailing days, current inclusive
MP_Q = 0.5


@register("moving_percentiles", oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1)
SELECT day, total,
       round(quantile_cont(total, {MP_Q!r}) OVER (
           ORDER BY day ROWS BETWEEN {MP_WINDOW - 1} PRECEDING
           AND CURRENT ROW), 6) AS p50_trailing
FROM d ORDER BY day
""")
def moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `moving_percentiles` pipeline agg: an exact trailing-window
    quantile over the daily series (p50 of the last {MP_WINDOW}
    days). The raw scan aggregates FIRST; the moving quantile then
    evaluates as map-side array math over ONE collected bucket-array
    row — sort each trailing slice, linear-interpolate at (n−1)·q —
    the repo's window-free bounded shape (a running quantile window
    over a constant partition would be an UNPARTITIONED WindowExec,
    which the plan gate rejects). The ORACLE recomputes it through
    DuckDB's windowed quantile_cont — an independent formulation of
    the same linear-interpolated quantile, so a slicing or
    interpolation bug on either side breaks the hash."""
    d = _daily(spark, sf_dir)
    arr = d.agg(F.array_sort(F.collect_list(F.struct(
        F.col("day").alias("day"), F.col("total").alias("total"))))
        .alias("a"))
    # per index i (1-based): slice of the last MP_WINDOW totals ending
    # at i, sorted; exact linear-interpolated quantile at (n-1)*q
    n = f"least(i, {MP_WINDOW})"
    lo = f"greatest(i - {MP_WINDOW} + 1, 1)"
    sl = f"array_sort(transform(slice(a, {lo}, {n}), x -> x.total))"
    idx = f"(({n}) - 1) * {MP_Q!r}"
    q = (f"element_at({sl}, cast(floor({idx}) as int) + 1) "
         f"* (1.0 - ({idx} - floor({idx}))) "
         f"+ element_at({sl}, cast(ceil({idx}) as int) + 1) "
         f"* ({idx} - floor({idx}))")
    out = arr.select(F.explode(F.expr(f"""
        transform(sequence(1, size(a)), i -> named_struct(
          'day', element_at(a, i).day,
          'total', element_at(a, i).total,
          'p50_trailing', round({q}, 6)))""")).alias("s"))
    return (out.select("s.day", "s.total", "s.p50_trailing")
               .orderBy("day"))


# ---------------------------------------- moving_fn linearWeightedAvg

MOVFN_W = 7  # trailing days, current inclusive (the moving_fn window)


@register("moving_fn_lin_wavg", oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
w AS (
  SELECT day, total,
         list(total) OVER (ORDER BY day ROWS BETWEEN {MOVFN_W - 1}
                           PRECEDING AND CURRENT ROW) AS l
  FROM d)
SELECT day, total,
       round(list_reduce(list_transform(l, (x, i) -> x * i),
                         (a, b) -> a + b)
             / (len(l) * (len(l) + 1) / 2.0), 6) AS lin_wavg
FROM w ORDER BY day
""")
def moving_fn_lin_wavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `moving_fn` with the `MovingFunctions.linearWeightedAvg`
    model: over the trailing {MOVFN_W}-day window the newest point
    weighs n, the oldest 1, so the average tracks trend with less lag
    than the unweighted mean. Same window-free bounded shape as
    moving_percentiles: aggregate the raw scan to the |days| series
    first, then evaluate every trailing slice as map-side array math
    over ONE collected bucket-array row. Weighted sum folds
    left-to-right on both engines (seeded 0.0 in Spark, first-element
    in DuckDB — identical since 0.0+x is exact), weights are exact
    small integers, so the quotient is bit-identical before the
    6 dp round."""
    d = _daily(spark, sf_dir)
    arr = d.agg(F.array_sort(F.collect_list(F.struct(
        F.col("day").alias("day"), F.col("total").alias("total"))))
        .alias("a"))
    n = f"least(i, {MOVFN_W})"
    lo = f"greatest(i - {MOVFN_W} + 1, 1)"
    sl = f"transform(slice(a, {lo}, {n}), x -> x.total)"
    num = (f"aggregate(transform({sl}, (x, j) -> x * (j + 1)), "
           f"cast(0.0 as double), (acc, x) -> acc + x)")
    den = f"(({n}) * (({n}) + 1) / 2.0)"
    out = arr.select(F.explode(F.expr(f"""
        transform(sequence(1, size(a)), i -> named_struct(
          'day', element_at(a, i).day,
          'total', element_at(a, i).total,
          'lin_wavg', round({num} / {den}, 6)))""")).alias("s"))
    return (out.select("s.day", "s.total", "s.lin_wavg")
               .orderBy("day"))


@register("moving_fn_min_max", oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1)
SELECT day, total,
       min(total) OVER (ORDER BY day ROWS BETWEEN {MOVFN_W - 1}
                        PRECEDING AND CURRENT ROW) AS mov_min,
       max(total) OVER (ORDER BY day ROWS BETWEEN {MOVFN_W - 1}
                        PRECEDING AND CURRENT ROW) AS mov_max
FROM d ORDER BY day
""")
def moving_fn_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `moving_fn` `MovingFunctions.min` / `.max` models (the two
    trivial members that close the MovingFunctions family beside
    unweightedAvg/stdDev (events_pipeline_aggs), linearWeightedAvg,
    ewma, holt and holtWinters): trailing {MOVFN_W}-day extrema of
    the daily series. Exact picks of existing doubles — no rounding
    needed. Same collected-array shape; the oracle recomputes through
    DuckDB's frame windows, an independent formulation."""
    d = _daily(spark, sf_dir)
    arr = d.agg(F.array_sort(F.collect_list(F.struct(
        F.col("day").alias("day"), F.col("total").alias("total"))))
        .alias("a"))
    sl = (f"transform(slice(a, greatest(i - {MOVFN_W} + 1, 1), "
          f"least(i, {MOVFN_W})), x -> x.total)")
    out = arr.select(F.explode(F.expr(f"""
        transform(sequence(1, size(a)), i -> named_struct(
          'day', element_at(a, i).day,
          'total', element_at(a, i).total,
          'mov_min', array_min({sl}),
          'mov_max', array_max({sl})))""")).alias("s"))
    return (out.select("s.day", "s.total", "s.mov_min", "s.mov_max")
               .orderBy("day"))


# ------------------------------------------------------------ moving_fn ewma

EWMA_ALPHA = 0.3


@register("ewma_smoothing", oracle=f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
arr AS (
  SELECT list(total ORDER BY day) AS t, list(day ORDER BY day) AS days,
         count(*) AS n
  FROM d),
r AS (
  SELECT 1 AS i, t[1] AS s FROM arr
  UNION ALL
  SELECT i + 1, {EWMA_ALPHA!r} * t[i + 1] + {1 - EWMA_ALPHA!r} * s
  FROM r, arr WHERE i < n)
SELECT days[i] AS day, t[i] AS total, round(s, 6) AS ewma
FROM r, arr ORDER BY day
""")
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `moving_fn` with the ewma model (MovingFunctions.ewma):
    s_i = α·x_i + (1−α)·s_{i−1}, seeded s_1 = x_1, over the daily
    series. The recurrence is SEQUENTIAL by definition, so both
    engines evaluate it as the same ordered chain of FP ops — Spark
    as an array fold over the one sorted bucket-array row (the
    window-free shape), DuckDB as a recursive CTE (the MMR
    precedent) — making the result bit-identical, not just
    close. Raw scan aggregates first; the fold touches ≤|days|
    values."""
    d = _daily(spark, sf_dir)
    arr = d.agg(F.array_sort(F.collect_list(F.struct(
        F.col("day").alias("day"), F.col("total").alias("total"))))
        .alias("a"))
    folded = arr.select(F.aggregate(
        "a",
        F.expr("cast(array() as array<struct<day:date,total:double,"
               "s:double>>)"),
        lambda acc, x: F.concat(acc, F.array(F.struct(
            x.getField("day").alias("day"),
            x.getField("total").alias("total"),
            F.when(F.size(acc) == 0, x.getField("total"))
             .otherwise(F.lit(EWMA_ALPHA) * x.getField("total")
                        + F.lit(1 - EWMA_ALPHA)
                        * F.element_at(acc, -1).getField("s"))
             .alias("s"))))).alias("o"))
    out = folded.select(F.explode("o").alias("s"))
    return (out.select("s.day", "s.total",
                       F.round(F.col("s.s"), 6).alias("ewma"))
               .orderBy("day"))


# ------------------------------------------------------- moving_fn holt

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


@register("holt_smoothing", oracle=f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events GROUP BY 1),
arr AS (
  SELECT list(total ORDER BY day) AS t, list(day ORDER BY day) AS days,
         count(*) AS n
  FROM d),
r AS (
  SELECT 2 AS i, t[2] AS s, t[2] - t[1] AS b FROM arr WHERE n >= 2
  UNION ALL
  SELECT i + 1,
         {HOLT_ALPHA!r} * t[i + 1] + {1 - HOLT_ALPHA!r} * (s + b),
         {HOLT_BETA!r} * (({HOLT_ALPHA!r} * t[i + 1]
                           + {1 - HOLT_ALPHA!r} * (s + b)) - s)
           + {1 - HOLT_BETA!r} * b
  FROM r, arr WHERE i < n)
SELECT days[i] AS day, t[i] AS total,
       round(s, 6) AS level, round(b, 6) AS trend
FROM r, arr ORDER BY day
""")
def holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `moving_fn` holt model (MovingFunctions.holt — double
    exponential smoothing): level s_i = α·x_i + (1−α)(s_{i−1} +
    b_{i−1}), trend b_i = β(s_i − s_{i−1}) + (1−β)b_{i−1}, seeded
    s_2 = x_2, b_2 = x_2 − x_1. Like ewma_smoothing, both engines
    evaluate the recurrence as the SAME ordered FP chain (Spark array
    fold / DuckDB recursive CTE), so level and trend are
    bit-identical before the display rounding."""
    d = _daily(spark, sf_dir)
    arr = d.agg(F.array_sort(F.collect_list(F.struct(
        F.col("day").alias("day"), F.col("total").alias("total"))))
        .alias("a")).where(F.size("a") >= 2)
    a_, b_ = HOLT_ALPHA, HOLT_BETA

    def step(acc, x):
        prev = F.element_at(acc, -1)
        first = F.size(acc) == 1
        s_new = F.when(
            first, F.lit(0.0) + x.getField("total")).otherwise(
            F.lit(a_) * x.getField("total")
            + F.lit(1 - a_) * (prev.getField("s") + prev.getField("b")))
        b_new = F.when(
            first,
            x.getField("total") - prev.getField("total")).otherwise(
            F.lit(b_) * (s_new - prev.getField("s"))
            + F.lit(1 - b_) * prev.getField("b"))
        return F.concat(acc, F.array(F.struct(
            x.getField("day").alias("day"),
            x.getField("total").alias("total"),
            s_new.alias("s"), b_new.alias("b"))))

    # seed row: the fold starts from element 1 (index 0 carried as
    # the seed context); drop it at the end (output starts at day 2,
    # exactly like the oracle's anchor row)
    folded = arr.select(F.aggregate(
        F.expr("slice(a, 2, size(a) - 1)"),
        F.expr("transform(slice(a, 1, 1), x -> named_struct("
               "'day', x.day, 'total', x.total, "
               "'s', cast(0.0 as double), 'b', cast(0.0 as double)))"),
        step).alias("o"))
    out = folded.select(F.explode(F.expr("slice(o, 2, size(o) - 1)"))
                        .alias("s"))
    return (out.select("s.day", "s.total",
                       F.round(F.col("s.s"), 6).alias("level"),
                       F.round(F.col("s.b"), 6).alias("trend"))
               .orderBy("day"))


# ------------------------------------------------- bucket_count_ks_test

KS_A = "click"
KS_B = "view"


@register("bucket_ks_test", oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(coalesce(sum(CASE WHEN event_type = '{KS_A}'
                  THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS ta,
         CAST(coalesce(sum(CASE WHEN event_type = '{KS_B}'
                  THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS tb
  FROM events GROUP BY 1),
tot AS (SELECT sum(ta) AS sa, sum(tb) AS sb, count(*) AS n FROM d),
c AS (
  SELECT day,
         sum(ta) OVER (ORDER BY day) / sa AS ca,
         sum(tb) OVER (ORDER BY day) / sb AS cb
  FROM d, tot)
SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_buckets,
       round(max(abs(ca - cb)), 6) AS ks_stat
FROM c
""")
def bucket_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `bucket_count_ks_test` pipeline agg shape: the two-sample
    Kolmogorov–Smirnov statistic between two series' daily-value
    distributions — max gap between the normalized cumulative curves.
    The raw scan aggregates both series in ONE conditional pass
    (|days| rows); the cumulative compare folds over the single
    sorted bucket array (window-free, like every pipeline agg here).
    The oracle uses DuckDB's running-sum window — an independent
    formulation of the same ECDF."""
    ev = tables.load(spark, sf_dir, "events")
    # coalesce each day's conditional sum to 0: a day with no KS_A (or
    # no KS_B) events otherwise yields NULL, which would freeze the
    # running fold below at the prefix max while the oracle's
    # NULL-skipping window keeps accumulating.
    zero = F.lit(0).cast("decimal(18,2)")
    d = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.coalesce(
                    F.sum(F.when(F.col("event_type") == KS_A,
                                 F.col("value").cast("decimal(18,2)"))),
                    zero).cast("double").alias("ta"),
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == KS_B,
                                 F.col("value").cast("decimal(18,2)"))),
                    zero).cast("double").alias("tb")))
    arr = d.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("day").alias("day"), F.col("ta").alias("ta"),
            F.col("tb").alias("tb")))).alias("a"),
        F.sum("ta").alias("sa"), F.sum("tb").alias("sb"),
        F.count("*").alias("n"))
    # fold: running (ca, cb, max|ca-cb|) over the sorted bucket array
    folded = arr.select(
        F.col("n"),
        F.aggregate(
            "a",
            F.expr("named_struct('ca', cast(0.0 as double), "
                   "'cb', cast(0.0 as double), "
                   "'ks', cast(0.0 as double))"),
            # try_divide: an all-one-type corpus has sa or sb = 0 and
            # ANSI `/` would throw; NULL then drops out of greatest()
            # so ks degrades to 0 (values identical whenever both
            # series are non-empty, which the real corpus guarantees)
            lambda acc, x: F.struct(
                (acc.getField("ca")
                 + F.try_divide(x.getField("ta"), F.col("sa")))
                .alias("ca"),
                (acc.getField("cb")
                 + F.try_divide(x.getField("tb"), F.col("sb")))
                .alias("cb"),
                F.greatest(
                    acc.getField("ks"),
                    F.abs((acc.getField("ca")
                           + F.try_divide(x.getField("ta"), F.col("sa")))
                          - (acc.getField("cb")
                             + F.try_divide(x.getField("tb"),
                                            F.col("sb")))))
                .alias("ks"))).alias("r"))
    return folded.select(
        F.col("n").cast("long").alias("n_buckets"),
        F.round(F.col("r.ks"), 6).alias("ks_stat"))


# --------------------------------------------------- holt_winters

HW_ALPHA = 0.3
HW_BETA = 0.1
HW_GAMMA = 0.2
HW_PERIOD = 7  # weekly seasonality on the daily series


def _hw_snew_sql() -> str:
    """s_i expression (referenced three times in the recursive step —
    the holt-oracle inlining pattern; byte-identical copies evaluate
    to the identical double)."""
    return (f"{HW_ALPHA!r} * (CAST(a[i + 1].t AS DOUBLE) - ch[1])"
            f" + {1 - HW_ALPHA!r} * (s + b)")


@register("holt_winters_smoothing", oracle=f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS t
  FROM events GROUP BY 1),
arr AS (SELECT list(struct_pack(day := day, t := t) ORDER BY day) AS a,
               count(*) AS n
        FROM d),
seed AS (
  SELECT
    CAST(list_sum(list_transform(a[1:{HW_PERIOD}], e -> e.t))
         AS DOUBLE) / {HW_PERIOD} AS m1,
    (CAST(list_sum(list_transform(a[{HW_PERIOD + 1}:{2 * HW_PERIOD}],
                                  e -> e.t)) AS DOUBLE) / {HW_PERIOD}
     - CAST(list_sum(list_transform(a[1:{HW_PERIOD}], e -> e.t))
            AS DOUBLE) / {HW_PERIOD}) / {HW_PERIOD} AS b0
  FROM arr),
r AS (
  SELECT {HW_PERIOD} AS i, m1 AS s, b0 AS b,
         list_transform(a[1:{HW_PERIOD}],
                        e -> CAST(e.t AS DOUBLE) - m1) AS ch,
         CAST(NULL AS DOUBLE) AS c
  FROM arr, seed WHERE n >= {2 * HW_PERIOD}
  UNION ALL
  SELECT i + 1,
         {_hw_snew_sql()},
         {HW_BETA!r} * (({_hw_snew_sql()}) - s) + {1 - HW_BETA!r} * b,
         list_append(ch[2:],
             {HW_GAMMA!r} * (CAST(a[i + 1].t AS DOUBLE)
                             - ({_hw_snew_sql()}))
             + {1 - HW_GAMMA!r} * ch[1]),
         {HW_GAMMA!r} * (CAST(a[i + 1].t AS DOUBLE)
                         - ({_hw_snew_sql()}))
           + {1 - HW_GAMMA!r} * ch[1]
  FROM r, arr WHERE i < n)
SELECT a[i].day AS day, CAST(a[i].t AS DOUBLE) AS total,
       round(s, 6) AS level, round(b, 6) AS trend,
       round(c, 6) AS seasonal
FROM r, arr WHERE c IS NOT NULL
ORDER BY day
""")
def holt_winters_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `moving_fn` holt-winters model (triple exponential
    smoothing, additive, period {HW_PERIOD}): level/trend as holt
    plus a seasonal component c_i = γ(x_i − s_i) + (1−γ)c_{{i−L}}.
    Seeds: s_L = mean(cycle 1), b_L = (mean(cycle 2) − mean(cycle 1))
    / L, c_1..L = x_i − mean(cycle 1) — cycle means derive from
    exact-DECIMAL sums, so seeding is merge-order-free. The lag-L
    reference rides a ROLLING L-slot window carried through the fold
    (Spark: array in the accumulator struct; DuckDB: a list column in
    the recursive CTE — same slots, same order), and both engines
    evaluate the same ordered FP chain, so level/trend/seasonal are
    bit-identical before display rounding. Output starts at day L+1.
    Needs ≥ 2L buckets; shorter series yield zero rows."""
    folded = _hw_folded(spark, sf_dir)
    out = folded.select(F.explode(F.expr("slice(o, 2, size(o) - 1)"))
                        .alias("s"))
    return (out.select("s.day", "s.total",
                       F.round(F.col("s.s"), 6).alias("level"),
                       F.round(F.col("s.b"), 6).alias("trend"),
                       F.round(F.col("s.c"), 6).alias("seasonal"))
               .orderBy("day"))


def _hw_folded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The holt-winters fold as a 1-row frame holding the full state
    trajectory array `o` (day, total, s, b, c, ch per step) — shared
    by the smoothing view and the k-step forecast so both read the
    IDENTICAL FP chain."""
    ev = tables.load(spark, sf_dir, "events")
    d = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
           .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("t")))
    L = HW_PERIOD
    arr = (d.agg(F.array_sort(F.collect_list(F.struct(
              F.col("day").alias("day"), F.col("t").alias("t"))))
              .alias("a"))
            .where(F.size("a") >= 2 * L))
    dec0 = "cast(0.00 as decimal(18,2))"
    m1 = (F.expr(f"aggregate(slice(a, 1, {L}), {dec0}, "
                 f"(acc, e) -> cast(acc + e.t as decimal(18,2)))")
          .cast("double") / L)
    m2 = (F.expr(f"aggregate(slice(a, {L + 1}, {L}), {dec0}, "
                 f"(acc, e) -> cast(acc + e.t as decimal(18,2)))")
          .cast("double") / L)
    with_seed = arr.select(
        "a", m1.alias("m1"), ((m2 - m1) / L).alias("b0"))
    a_, b_, g_ = HW_ALPHA, HW_BETA, HW_GAMMA

    def step(acc, e):
        prev = F.element_at(acc, -1)
        x = e.getField("t").cast("double")
        cprev = F.element_at(prev.getField("ch"), 1)
        s_new = (F.lit(a_) * (x - cprev)
                 + F.lit(1 - a_) * (prev.getField("s")
                                    + prev.getField("b")))
        b_new = (F.lit(b_) * (s_new - prev.getField("s"))
                 + F.lit(1 - b_) * prev.getField("b"))
        c_new = F.lit(g_) * (x - s_new) + F.lit(1 - g_) * cprev
        ch_new = F.concat(
            F.slice(prev.getField("ch"), 2, L - 1), F.array(c_new))
        return F.concat(acc, F.array(F.struct(
            e.getField("day").alias("day"), x.alias("total"),
            s_new.alias("s"), b_new.alias("b"), c_new.alias("c"),
            ch_new.alias("ch"))))

    seed = F.expr(
        f"transform(slice(a, {L}, 1), e -> named_struct("
        f"'day', e.day, 'total', cast(e.t as double), "
        f"'s', m1, 'b', b0, 'c', cast(null as double), "
        f"'ch', transform(slice(a, 1, {L}), "
        f"               x -> cast(x.t as double) - m1)))")
    return with_seed.select(F.aggregate(
        F.expr(f"slice(a, {L + 1}, size(a) - {L})"), seed, step)
        .alias("o"))


@register("holt_winters_forecast", oracle=f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS t
  FROM events GROUP BY 1),
arr AS (SELECT list(struct_pack(day := day, t := t) ORDER BY day) AS a,
               count(*) AS n
        FROM d),
seed AS (
  SELECT
    CAST(list_sum(list_transform(a[1:{HW_PERIOD}], e -> e.t))
         AS DOUBLE) / {HW_PERIOD} AS m1,
    (CAST(list_sum(list_transform(a[{HW_PERIOD + 1}:{2 * HW_PERIOD}],
                                  e -> e.t)) AS DOUBLE) / {HW_PERIOD}
     - CAST(list_sum(list_transform(a[1:{HW_PERIOD}], e -> e.t))
            AS DOUBLE) / {HW_PERIOD}) / {HW_PERIOD} AS b0
  FROM arr),
r AS (
  SELECT {HW_PERIOD} AS i, m1 AS s, b0 AS b,
         list_transform(a[1:{HW_PERIOD}],
                        e -> CAST(e.t AS DOUBLE) - m1) AS ch,
         CAST(NULL AS DOUBLE) AS c
  FROM arr, seed WHERE n >= {2 * HW_PERIOD}
  UNION ALL
  SELECT i + 1,
         {_hw_snew_sql()},
         {HW_BETA!r} * (({_hw_snew_sql()}) - s) + {1 - HW_BETA!r} * b,
         list_append(ch[2:],
             {HW_GAMMA!r} * (CAST(a[i + 1].t AS DOUBLE)
                             - ({_hw_snew_sql()}))
             + {1 - HW_GAMMA!r} * ch[1]),
         {HW_GAMMA!r} * (CAST(a[i + 1].t AS DOUBLE)
                         - ({_hw_snew_sql()}))
           + {1 - HW_GAMMA!r} * ch[1]
  FROM r, arr WHERE i < n),
last AS (SELECT r.s, r.b, r.ch, a[n].day AS last_day
         FROM r, arr WHERE i = n),
steps AS (SELECT unnest(range(1, {HW_PERIOD + 1})) AS h)
SELECT CAST(h AS INT) AS h,
       CAST(last_day + h * INTERVAL 1 DAY AS DATE) AS day,
       round(s + h * b + ch[h], 6) AS forecast
FROM last, steps ORDER BY h
""")
def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters k-step-ahead FORECAST (the projection R87's
    smoothing stops short of — the number a capacity planner actually
    wants): from the final fitted state, f_h = level + h·trend +
    seasonal[h] for h = 1..{HW_PERIOD}, where seasonal[h] is the
    matching slot of the last seasonal cycle (ch[h] = c_{{n+h−L}}).
    Both engines read the LAST element of the identical fold
    trajectory (the proven-bit-identical R87 chain), so the
    projection arithmetic — fresh, same order — is bit-identical
    before the display round. Output is {HW_PERIOD} rows at any
    corpus size; the plan cost is R87's one fold."""
    folded = _hw_folded(spark, sf_dir)
    last = folded.select(F.element_at("o", -1).alias("e"))
    hs = F.sequence(F.lit(1), F.lit(HW_PERIOD))
    ex = last.select(F.explode(hs).alias("h"), "e")
    return (ex.select(
                F.col("h").cast("int").alias("h"),
                F.date_add(F.col("e.day"), F.col("h")).alias("day"),
                F.round(F.col("e.s") + F.col("h") * F.col("e.b")
                        + F.element_at(F.col("e.ch"), F.col("h")), 6)
                 .alias("forecast"))
              .orderBy("h"))


# ---------------------------------------------------- weighted median

@register("weighted_median_price", oracle="""
WITH w AS (
  SELECT l_returnflag,
         l_extendedprice AS price,
         CAST(l_quantity AS DECIMAL(18,2)) AS wt,
         sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_returnflag) AS total
  FROM lineitem),
m AS (
  SELECT l_returnflag, price, total,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY price, cum) AS rn
  FROM w WHERE 2 * cum >= total)
SELECT l_returnflag,
       price AS weighted_median,
       CAST(total AS DOUBLE) AS total_weight
FROM m WHERE rn = 1 ORDER BY l_returnflag
""")
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (the weighted-percentile gap in most engines'
    builtin aggs): the smallest price whose cumulative quantity
    weight reaches half the group total — quantity-weighted so a
    10-unit line counts 10x a 1-unit line. Weights accumulate as
    exact DECIMAL and the half-total test is `2·cum ≥ total` in
    DECIMAL (integer-exact — no division, no float threshold), so
    the selected row is engine-identical even at ties.

    Scale shape: one window per group ordered by price — the exact
    form (the oracle must hash-match); group sizes here are bounded
    by the returnflag split. The 100 TB path is a weighted t-digest /
    histogram sketch (R65's shape with weight-scaled increments) —
    exactness is the reason this query sorts."""
    li = tables.load(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("decimal(18,2)")
    wcum = (W.partitionBy("l_returnflag")
             .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    wtot = W.partitionBy("l_returnflag")
    w = li.select("l_returnflag",
                  F.col("l_extendedprice").alias("price"),
                  F.sum(wt).over(wcum).alias("cum"),
                  F.sum(wt).over(wtot).alias("total"))
    m = (w.where(2 * F.col("cum") >= F.col("total"))
          .withColumn("rn", F.row_number().over(
              W.partitionBy("l_returnflag").orderBy("price", "cum"))))
    return (m.where(F.col("rn") == 1)
             .select("l_returnflag",
                     F.col("price").alias("weighted_median"),
                     F.col("total").cast("double").alias("total_weight"))
             .orderBy("l_returnflag"))


WM_BINS = 200


@register("weighted_median_sketch", oracle=f"""
WITH b AS (
  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS gmin,
         (CAST(max(l_extendedprice) AS DOUBLE)
          - CAST(min(l_extendedprice) AS DOUBLE)) / {WM_BINS} AS width
  FROM lineitem),
c AS (
  SELECT l_returnflag,
         CAST(CASE WHEN width = 0 THEN 0
              ELSE least(floor((CAST(l_extendedprice AS DOUBLE) - gmin)
                               / width), {WM_BINS - 1}) END AS INT) AS bin,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS cw
  FROM lineitem, b GROUP BY 1, 2),
t AS (SELECT l_returnflag, sum(cw) AS total FROM c GROUP BY 1),
cu AS (
  SELECT c.l_returnflag, bin, cw, total,
         sum(cw) OVER (PARTITION BY c.l_returnflag ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM c JOIN t USING (l_returnflag)),
pick AS (
  SELECT l_returnflag, total,
         min(CASE WHEN 2 * cum >= total AND 2 * (cum - cw) < total THEN
             bin + (0.5 * CAST(total AS DOUBLE)
                    - CAST(cum - cw AS DOUBLE)) / CAST(cw AS DOUBLE)
             END) AS wb
  FROM cu GROUP BY 1, 2)
SELECT l_returnflag,
       round(gmin + wb * width, 6) AS weighted_median_est,
       CAST(total AS DOUBLE) AS total_weight
FROM pick, b ORDER BY l_returnflag
""")
def weighted_median_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-median histogram sketch — the declared 100 TB path of
    `weighted_median_price` (R65's equi-width histogram with
    WEIGHT-SCALED increments: each row adds its quantity to its
    price bin instead of +1). The exact form sorts the whole table
    inside 3 returnflag partitions (the 64x sweep's only superlinear
    entry, ratio 13.6); this one is a single partial aggregate —
    executors each hold a groups×{WM_BINS}-bin weight histogram that
    merges by ADDITION, so the shuffle carries at most
    groups×{WM_BINS} rows at any corpus size, and the per-group
    cumulative window runs over ≤{WM_BINS} rows.

    Exactness discipline: bin weights and the half-total test stay
    DECIMAL (`2·cum ≥ total`, integer-exact at ties); only the
    binning and the final interpolation are IEEE doubles, computed
    with the byte-identical cast order on both engines. The estimate
    lands in the covering bin of the true weighted median, so its
    error vs the exact form is bounded by one bin width (pinned in
    tests/test_r6b_ops.py)."""
    li = tables.load(spark, sf_dir, "lineitem")
    price_d = F.col("l_extendedprice").cast("double")
    b = li.agg(F.min("l_extendedprice").cast("double").alias("gmin"),
               F.max("l_extendedprice").cast("double").alias("gmax"))
    b = b.select("gmin",
                 ((F.col("gmax") - F.col("gmin")) / WM_BINS).alias("width"))
    binned = (li.crossJoin(F.broadcast(b))
                .select("l_returnflag", "gmin", "width",
                        F.when(F.col("width") == 0, F.lit(0))
                         .otherwise(
                             F.least(F.floor((price_d - F.col("gmin"))
                                             / F.col("width")),
                                     F.lit(WM_BINS - 1)))
                         .cast("int").alias("bin"),
                        F.col("l_quantity").cast("decimal(18,2)")
                         .alias("wt")))
    c = (binned.groupBy("l_returnflag", "bin")
               .agg(F.sum("wt").alias("cw"),
                    F.first("gmin").alias("gmin"),
                    F.first("width").alias("width")))
    t = c.groupBy("l_returnflag").agg(F.sum("cw").alias("total"))
    w = (W.partitionBy("l_returnflag").orderBy("bin")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cu = (c.join(F.broadcast(t), "l_returnflag")
           .withColumn("cum", F.sum("cw").over(w)))
    covering = (F.col("cum") * 2 >= F.col("total")) \
        & ((F.col("cum") - F.col("cw")) * 2 < F.col("total"))
    frac = (F.lit(0.5) * F.col("total").cast("double")
            - (F.col("cum") - F.col("cw")).cast("double")) \
        / F.col("cw").cast("double")
    pick = (cu.groupBy("l_returnflag")
              .agg(F.min(F.when(covering, F.col("bin") + frac)).alias("wb"),
                   F.first("total").alias("total"),
                   F.first("gmin").alias("gmin"),
                   F.first("width").alias("width")))
    return (pick.select(
                "l_returnflag",
                F.round(F.col("gmin") + F.col("wb") * F.col("width"), 6)
                 .alias("weighted_median_est"),
                F.col("total").cast("double").alias("total_weight"))
                .orderBy("l_returnflag"))
