"""The 22 TPC-H query classes, Q1-Q22 (SURVEY §2.8), over the test
schema's slimmed TPC-H. Event analytics, windows and rollups live in
analytics.py.

The schema has no partsupp; lineitem lacks commitdate/receiptdate/
shipmode and customer lacks phone. Queries that need them are
re-expressed on the available columns, keeping the plan shape that
makes each class interesting.

Scale rules (see docs/SCALE.md): every dimension (region, nation, part,
supplier, customer at TPC-H ratios, 1-row scalar aggregates) is
broadcast; fact-fact joins and self-joins shuffle once on the join key
with AQE skew handling; aggregates are partial (map-side combine) by
construction. Money sums accumulate as exact DECIMAL: prices and
discounts have <=2 decimals, so volume = price*(1-disc) is exact at 4
decimals and decimal sums are order-independent — bit-identical across
engines regardless of partitioning (`round(sum_double, 2)` drifted
across a half-cent when partitioning changed). Double aggregates that
cannot be exact are rounded identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .. import tables
from ..registry import register


@register("q1_pricing", oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                             AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            AS DOUBLE)                                       AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE)           AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE)           AS sum_charge,
       round(avg(l_quantity), 4)                             AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / count(*), 4)                  AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2)))
                  AS DOUBLE) / count(*), 6)                  AS avg_disc,
       count(*)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 class: one scan, partial agg, 4-group output. The
    filter pushes to parquet; no join, one tiny shuffle."""
    li = tables.load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double").alias("sum_base_price"),
                 F.sum(disc.cast("decimal(18,4)")).cast("double")
                  .alias("sum_disc_price"),
                 F.sum((disc * (1 + F.col("l_tax"))).cast("decimal(18,6)"))
                  .cast("double").alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                          .cast("double") / F.count("*"), 4).alias("avg_price"),
                 F.round(F.sum(F.col("l_discount").cast("decimal(18,2)"))
                          .cast("double") / F.count("*"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@register("q3_topurgent", oracle="""
SELECT o_orderkey, CAST(revenue AS DOUBLE) AS revenue, order_date
FROM (
  SELECT o_orderkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue,
         CAST(o_orderdate AS DATE) AS order_date
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND l_shipdate  > TIMESTAMP '1998-01-01'
  GROUP BY o_orderkey, o_orderdate
  ORDER BY revenue DESC, o_orderkey
  LIMIT 10
)
""")
def q3_topurgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 class: customer (dim, broadcast) x orders x lineitem
    (fact join on orderkey), group + top-n. Ordering is on the ROUNDED
    revenue so both engines pick identical top rows."""
    cust = tables.load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = tables.load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = tables.load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .groupBy("o_orderkey", "o_orderdate")
              .agg(F.sum((F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
                   .alias("revenue"))
              .select("o_orderkey", "revenue",
                      F.to_date("o_orderdate").alias("order_date"))
              .orderBy(F.desc("revenue"), "o_orderkey")
              .limit(10)
              .withColumn("revenue", F.col("revenue").cast("double")))


@register("q5_region_volume", oracle="""
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""")
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 class star join: region->nation->customer broadcast
    down onto the orders/lineitem fact chain."""
    region = tables.load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = tables.load(spark, sf_dir, "nation")
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = tables.load(spark, sf_dir, "lineitem")
    dims = (cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
                .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
              .groupBy("n_name")
              .agg(F.sum((F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
                   .cast("double").alias("revenue"))
              .orderBy(F.desc("revenue"), "n_name"))


@register("q6_forecast_revenue", oracle="""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 class: pure filtered aggregate — every predicate
    pushes to the parquet scan, zero joins, one partial agg."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                     & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                     & F.col("l_discount").between(0.03, 0.07)
                     & (F.col("l_quantity") < 24))
              .agg(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                          .cast("decimal(18,4)")).cast("double")
                    .alias("revenue"),
                   F.count("*").alias("n_items")))


@register("q4_order_priority", oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 class: EXISTS -> left_semi join (probe side never
    duplicates, build side deduped by the join itself)."""
    orders = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = tables.load(spark, sf_dir, "lineitem")
    late = orders.join(
        li, (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate), "left_semi")
    return (late.groupBy("o_orderpriority")
                .agg(F.count("*").alias("order_count"))
                .orderBy("o_orderpriority"))


@register("q10_returned_revenue", oracle="""
SELECT c_custkey, c_name, n_name, CAST(revenue AS DOUBLE) AS revenue
FROM (
  SELECT c_custkey, c_name, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
  GROUP BY c_custkey, c_name, n_name
  ORDER BY revenue DESC, c_custkey
  LIMIT 20
)
""")
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 class (returned-item revenue per customer): the
    orders date filter pushes to the parquet scan; nation broadcasts
    (25 rows); customer<->orders<->lineitem shuffle on their keys with
    partial aggs before the final top-20 TakeOrdered."""
    cust = tables.load(spark, sf_dir, "customer")
    nation = tables.load(spark, sf_dir, "nation")
    orders = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = tables.load(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (cust.join(orders, cust.c_custkey == orders.o_custkey)
                .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .groupBy("c_custkey", "c_name", "n_name")
                .agg(F.sum(rev.cast("decimal(18,4)")).alias("revenue"))
                .orderBy(F.desc("revenue"), "c_custkey")
                .limit(20)
                .withColumn("revenue", F.col("revenue").cast("double")))


@register("q14_promo_share", oracle="""
SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_share,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
""")
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 class (promo revenue share): part is the dimension ->
    broadcast hash join, so the lineitem side never shuffles; one
    scalar aggregate row out."""
    part = tables.load(spark, sf_dir, "part")
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
              .agg(F.round(100.0 * F.sum(promo.cast("decimal(18,4)"))
                                    .cast("double")
                           / F.sum(rev.cast("decimal(18,4)")).cast("double"), 4)
                     .alias("promo_share"),
                   F.sum(rev.cast("decimal(18,4)")).cast("double")
                    .alias("total_revenue")))


@register("q18_large_orders", oracle="""
SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       round(o_totalprice, 2)   AS total_price,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 300
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 class (large-volume orders): the quantity rollup
    groups on the ORDER key, so the agg reuses the join's shuffle
    partitioning (no extra exchange); HAVING prunes before the
    top-20. Quantities are integral doubles -> the >300 cut is exact
    in both engines."""
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey)
                .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
                .groupBy("c_custkey", "o_orderkey", "o_orderdate",
                         "o_totalprice")
                .agg(F.sum("l_quantity").alias("_sq"))
                .where(F.col("_sq") > 300)
                .select("c_custkey", "o_orderkey",
                        F.col("o_orderdate").cast("date").alias("order_date"),
                        F.round("o_totalprice", 2).alias("total_price"),
                        F.round("_sq", 2).alias("sum_qty"))
                .orderBy(F.desc("o_totalprice"), "o_orderkey")
                .limit(20))


@register("q19_bracket_filters", oracle="""
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
""")
def q19_bracket_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 class (disjunctive bracket predicates across the
    join): per-side conjuncts (l_quantity ranges on lineitem, brand/
    size on part) are derivable and push below the join; the residual
    OR evaluates inside the join stage."""
    part = tables.load(spark, sf_dir, "part")
    li = tables.load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    br = (((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15)
           & q.between(1, 20))
          | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 30)
             & q.between(10, 35))
          | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(20, 50)
             & q.between(20, 50)))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
              .where(br)
              .agg(F.sum(rev.cast("decimal(18,4)")).cast("double")
                    .alias("revenue"),
                   F.count("*").alias("n_lines")))


# ======================================================================
# Nation-pair volume (Q7), market share (Q8), profit by
# nation/year (Q9), order-count distribution (Q13), scalar-max top
# supplier (Q15), correlated-threshold revenue (Q17), double-EXISTS
# self-join (Q21), scalar-threshold anti-join rollup (Q22).
#
# The test schema is a slimmed TPC-H (no partsupp; lineitem lacks
# commitdate/receiptdate/shipmode; customer lacks phone), so Q9/Q21/Q22
# are re-expressed on the available columns while keeping the plan shape
# that makes each query class interesting: Q9's multi-dim star, Q21's
# EXISTS + NOT EXISTS against the same fact, Q22's uncorrelated scalar
# subquery feeding a filter + anti-join.
#
# Scale rules (see docs/SCALE.md): every dimension (nation, region,
# part, supplier, 1-row scalar aggregates) is broadcast; fact-fact
# self-joins share one hash partitioning on the join key. Money sums
# use exact DECIMAL accumulation: prices/discounts have <=2 decimals,
# so volume = price*(1-disc) is exact at 4 decimals and decimal sums
# are order-independent — bit-identical across engines regardless of
# partitioning (round(sum_double, 2) drifted across a half-cent at
# sf0.01 on Q9).
# ======================================================================


def _volume() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register("q7_nation_volume", oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31') AS shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 class: bidirectional nation-pair trade volume by year.

    Plan shape: nation twice + supplier + customer are all broadcast
    (supplier/customer are ~1e-4 of lineitem at TPC-H ratios); the
    pair predicate lands after both dims are attached, so lineitem is
    scanned once with the shipdate range pushed to parquet. One
    shuffle total (the final 3-key groupBy)."""
    nat = tables.load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2"))
    sup = (tables.load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (tables.load(spark, sf_dir, "customer")
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    li = tables.load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(F.lit("1996-01-01").cast("timestamp"),
                                    F.lit("1997-12-31").cast("timestamp")))
    orders = tables.load(spark, sf_dir, "orders")
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .where(F.col("supp_nation") != F.col("cust_nation"))
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("l_year"))
              .agg(F.sum(_volume().cast("decimal(18,4)")).cast("double")
                    .alias("revenue"))
              .orderBy("supp_nation", "cust_nation", "l_year"))


@register("q8_market_share", oracle="""
SELECT o_year,
       round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_7'
                           THEN volume ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
FROM (SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN supplier  ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31') AS all_nations
GROUP BY o_year
ORDER BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 class: one nation's share of regional order volume per
    year — conditional aggregate over an 7-table star.

    Every non-fact input (part filtered to one type, supplier+nation,
    customer semi-joined to the ASIA region) broadcasts; lineitem and
    orders meet in the single fact-fact shuffle. Both sums accumulate
    as exact decimals, then one double division + round — the share
    is bit-deterministic."""
    part = tables.load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    nat = tables.load(spark, sf_dir, "nation")
    region = tables.load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_keys = (nat.join(F.broadcast(region),
                          nat.n_regionkey == region.r_regionkey)
                 .select(F.col("n_nationkey").alias("asia_nationkey")))
    cust = (tables.load(spark, sf_dir, "customer")
            .join(F.broadcast(asia_keys),
                  F.col("c_nationkey") == F.col("asia_nationkey"), "left_semi")
            .select("c_custkey"))
    sup = (tables.load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    orders = tables.load(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(F.lit("1996-01-01").cast("timestamp"),
                                     F.lit("1997-12-31").cast("timestamp")))
    li = tables.load(spark, sf_dir, "lineitem")
    vol = _volume()
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
              .groupBy(F.year("o_orderdate").alias("o_year"))
              .agg(F.sum(F.when(F.col("supp_nation") == "NATION_7", vol)
                          .otherwise(F.lit(0.0))
                          .cast("decimal(18,4)")).cast("double").alias("num"),
                   F.sum(vol.cast("decimal(18,4)")).cast("double").alias("den"))
              .select("o_year",
                      F.round(F.col("num") / F.col("den"), 6).alias("mkt_share"))
              .orderBy("o_year"))


@register("q9_profit_by_nation", oracle="""
SELECT nation, o_year,
       CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%') AS profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""")
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 class (no partsupp in the slim schema, so profit =
    discounted revenue): per supplier-nation, per order-year, over
    parts whose name matches a pattern.

    part (LIKE-filtered, broadcast) prunes lineitem early; supplier x
    nation collapses to a 2-column broadcast map; one fact-fact
    shuffle (lineitem x orders on orderkey), one groupBy shuffle."""
    part = tables.load(spark, sf_dir, "part").where(
        F.col("p_name").like("%widget%")).select("p_partkey")
    nat = tables.load(spark, sf_dir, "nation")
    sup = (tables.load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = tables.load(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
              .groupBy("nation", F.year("o_orderdate").alias("o_year"))
              .agg(F.sum(_volume().cast("decimal(18,4)")).cast("double")
                    .alias("sum_profit"))
              .orderBy(F.col("nation"), F.col("o_year").desc()))


@register("q13_order_distribution", oracle="""
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority = '1-URGENT'
      GROUP BY c_custkey) AS c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 class: distribution of per-customer order counts,
    with the filter inside the LEFT JOIN condition so zero-order
    customers survive into the c_count=0 bucket.

    Orders pre-aggregates to (custkey, cnt) BEFORE the outer join —
    at scale that turns a fact-size outer join into dim-size (one
    row per customer), and the pre-agg is partial/map-side. The outer
    join keeps customer as build side only if broadcast; at TPC-H
    ratios customers are 10x orders' distinct keys, so shuffle-hash
    on custkey is the honest plan; AQE picks it locally."""
    cust = tables.load(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (tables.load(spark, sf_dir, "orders")
                .where(F.col("o_orderpriority") == "1-URGENT")
                .groupBy("o_custkey").agg(F.count("*").alias("cnt")))
    return (cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
            .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
            .groupBy("c_count").agg(F.count("*").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@register("q15_top_supplier", oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 class: supplier(s) achieving the quarter's max
    revenue — an aggregate reused twice (per-key totals + global max).

    The revenue agg is computed once; the scalar max comes back as a
    broadcast 1-row crossJoin (no .collect(), no second scan of
    lineitem — Spark reuses the shuffle output for both consumers).
    Ties are exact because both engines compare the same rounded
    value."""
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
             .agg(F.sum(_volume().cast("decimal(18,4)")).alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    sup = tables.load(spark, sf_dir, "supplier")
    return (rev.crossJoin(F.broadcast(top))
               .where(F.col("total_revenue") == F.col("max_rev"))
               .join(F.broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
               .select("s_suppkey", "s_name",
                       F.col("total_revenue").cast("double")
                        .alias("total_revenue"))
               .orderBy("s_suppkey"))


@register("q17_small_qty_revenue", oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
       AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
""")
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 class: revenue from below-average-quantity orders of
    one brand — a correlated scalar subquery decorrelated into a
    per-key aggregate + join.

    Quantities are integer-valued doubles, so per-part sums are exact
    in FP regardless of accumulation order and the 0.2*avg threshold
    is bit-identical across engines — no rounding needed at the
    comparison. part is brand-filtered then broadcast twice (filter +
    threshold side); the per-part avg groupBy is the only shuffle.
    Decorrelation trick: because brand is a part attribute, the
    per-part average over brand-filtered rows equals the average over
    all of lineitem, so we compute it on the already-pruned side."""
    part = tables.load(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#3").select("p_partkey")
    li = (tables.load(spark, sf_dir, "lineitem")
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")))
    thr = (li.groupBy("l_partkey")
             .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr"))
             .withColumnRenamed("l_partkey", "t_partkey"))
    return (li.join(F.broadcast(thr), F.col("l_partkey") == F.col("t_partkey"))
              .where(F.col("l_quantity") < F.col("qty_thr"))
              .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                            .cast("double") / 7.0, 2).alias("avg_yearly")))


@register("q21_solo_returner", oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""")
def q21_solo_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 class (receiptdate/commitdate absent, so 'kept the
    order waiting' becomes 'was the only supplier to return'): EXISTS
    + NOT EXISTS against the same fact table, the classic double
    semi/anti self-join.

    All three lineitem legs hash-partition on l_orderkey — one
    exchange each, co-partitioned joins after. supplier x nation
    collapses to a broadcast map; the NATION_3 + returnflag filters
    prune l1 before the self-joins."""
    nat = tables.load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    sup = (tables.load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", "s_name"))
    orders = tables.load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag")
    l1 = (li.where(F.col("l_returnflag") == "R")
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")))
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (li.where(F.col("l_returnflag") == "R")
            .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")))
    return (l1.join(l2, (F.col("l_orderkey") == F.col("o2")) &
                        (F.col("l_suppkey") != F.col("s2")), "left_semi")
              .join(l3, (F.col("l_orderkey") == F.col("o3")) &
                        (F.col("l_suppkey") != F.col("s3")), "left_anti")
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
              .groupBy("s_name").agg(F.count("*").alias("numwait"))
              .orderBy(F.col("numwait").desc(), F.col("s_name"))
              .limit(10))


@register("q22_idle_customers", oracle="""
SELECT cntrycode, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (SELECT c_custkey % 7 AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                        AS DOUBLE) / count(*), 2)
                         FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2001-01-01')) AS custsale
GROUP BY cntrycode
ORDER BY cntrycode
""")
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 class (no phone column, so country code becomes a
    custkey bucket): rich customers with no recent orders — an
    uncorrelated scalar threshold + anti-join.

    The threshold is a 1-row aggregate attached by broadcast
    crossJoin (driver never collects). The avg is rounded to cents on
    BOTH engines so accumulation order can't move the cut line. The
    anti-join's right side is date-pruned at the parquet scan before
    it shuffles."""
    cust = tables.load(spark, sf_dir, "customer")
    thr = (cust.where(F.col("c_acctbal") > 0.0)
               .agg(F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                            .cast("double") / F.count("*"), 2).alias("bal_thr")))
    recent = (tables.load(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
              .select("o_custkey"))
    return (cust.crossJoin(F.broadcast(thr))
                .where(F.col("c_acctbal") > F.col("bal_thr"))
                .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
                .select((F.col("c_custkey") % 7).alias("cntrycode"), "c_acctbal")
                .groupBy("cntrycode")
                .agg(F.count("*").alias("numcust"),
                     F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                      .cast("double").alias("totacctbal"))
                .orderBy("cntrycode"))


# ======================================================================
# Q2, Q11, Q12, Q16, Q20 (SURVEY §2.8 R29-R33).
#
# The test schema is a slimmed TPC-H with no partsupp relation, so the
# partsupp-based classes are re-expressed with lineitem standing in as
# the supply relation (a part is "supplied by" the suppliers that ship
# it; its supply cost is the minimum observed unit price). Each
# re-expression keeps the plan shape that makes the query class
# interesting:
#
# - Q2: correlated min over a group (min-cost supplier per part) →
#   decorrelated as a per-part window min + equality filter.
# - Q11: group value vs a global scalar threshold (uncorrelated scalar
#   subquery) → exact-decimal total, 1-row broadcast crossJoin.
# - Q12: fact-fact join + conditional (CASE) counts per category.
# - Q16: count-distinct rollup after a NOT-IN supplier blacklist →
#   broadcast anti-join before the distinct agg.
# - Q20: nested semi-join chain (suppliers with a dominant share of a
#   part's shipped quantity) → per-pair agg, per-part window total,
#   ratio filter, distinct supplier rollup.
#
# Determinism rules (same policy as the section above): money sums
# accumulate as DECIMAL(18,4) (exact, order-independent) and cast to
# DOUBLE only in the final select; quantities are integer-valued
# doubles (sums exact); min/max over doubles are order-independent; the
# Q11 threshold divides an exact decimal total by a count in double —
# bit-identical across engines regardless of partitioning.
# ======================================================================


@register("q2_min_cost_supplier", oracle="""
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
scoped AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, supply_cost,
         min(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM supply JOIN part ON l_partkey = p_partkey
  JOIN eu_supp ON l_suppkey = s_suppkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
FROM scoped WHERE supply_cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 class: the minimum-cost supplier for each part in a
    region (supply relation re-expressed on lineitem — no partsupp in
    the slim schema; supply cost := min unit price shipped).

    Plan shape: the part scope filter and the region supplier
    semi-join are both pushed BELOW the (partkey, suppkey) aggregate,
    so the shuffle groups only in-scope rows. The correlated min is a
    window partitioned by partkey — same partitioning the agg just
    produced, so AQE plans it shuffle-free. Supplier payload joins
    back via broadcast. One real shuffle total; doubles compared for
    equality are min() results (order-independent) — deterministic."""
    part_sc = (tables.load(spark, sf_dir, "part")
               .where(F.col("p_size").between(10, 20)
                      & (F.col("p_type") == "LARGE"))
               .select("p_partkey", "p_name"))
    nat = tables.load(spark, sf_dir, "nation")
    region = (tables.load(spark, sf_dir, "region")
              .where(F.col("r_name") == "EUROPE"))
    eu = (tables.load(spark, sf_dir, "supplier")
          .join(F.broadcast(nat.join(F.broadcast(region),
                                     F.col("n_regionkey") == F.col("r_regionkey"))
                            .select("n_nationkey", "n_name")),
                F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = tables.load(spark, sf_dir, "lineitem")
    supply = (li.join(F.broadcast(part_sc),
                      F.col("l_partkey") == F.col("p_partkey"))
                .join(F.broadcast(eu.select("s_suppkey")),
                      F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
                .groupBy("p_partkey", "p_name", "l_suppkey")
                .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                      .alias("supply_cost")))
    w = W.partitionBy("p_partkey")
    return (supply.withColumn("min_cost", F.min("supply_cost").over(w))
                  .where(F.col("supply_cost") == F.col("min_cost"))
                  .join(F.broadcast(eu),
                        F.col("l_suppkey") == F.col("s_suppkey"))
                  .select("s_acctbal", "s_name", "n_name", "p_partkey",
                          "p_name", "supply_cost")
                  .orderBy(F.desc("s_acctbal"), "n_name", "s_name",
                           "p_partkey")
                  .limit(100))


@register("q11_important_parts", oracle="""
WITH val AS (
  SELECT l_partkey AS p_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS dvalue
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_8')
  GROUP BY l_partkey),
thr AS (SELECT 2.0 * (CAST(sum(dvalue) AS DOUBLE) / count(*)) AS cutoff
        FROM val)
SELECT p_partkey, CAST(dvalue AS DOUBLE) AS value
FROM val, thr
WHERE CAST(dvalue AS DOUBLE) > cutoff
ORDER BY value DESC, p_partkey
""")
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 class: parts whose shipped value (for two nations'
    suppliers) exceeds a global scalar threshold — the uncorrelated
    scalar-subquery shape. The TPC-H fraction is SF-dependent; here
    the threshold is scale-free: 2x the mean per-part value.

    Plan shape: supplier scope broadcasts into the lineitem scan; one
    shuffle builds the per-part values; the threshold is a 1-row agg
    broadcast back via crossJoin (the q15 pattern — no collect). The
    threshold divides an exact decimal total by a count, in double —
    both engines compute the identical scalar, so the cutoff
    comparison is bit-deterministic."""
    nat = (tables.load(spark, sf_dir, "nation")
           .where(F.col("n_name").isin("NATION_3", "NATION_8")))
    sup = (tables.load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
           .select("s_suppkey"))
    li = tables.load(spark, sf_dir, "lineitem")
    val = (li.join(F.broadcast(sup),
                   F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
             .groupBy(F.col("l_partkey").alias("p_partkey"))
             .agg(F.sum(_volume().cast("decimal(18,4)")).alias("dvalue")))
    thr = val.agg((F.lit(2.0) * (F.sum("dvalue").cast("double")
                                 / F.count("*"))).alias("cutoff"))
    return (val.crossJoin(F.broadcast(thr))
               .where(F.col("dvalue").cast("double") > F.col("cutoff"))
               .select("p_partkey",
                       F.col("dvalue").cast("double").alias("value"))
               .orderBy(F.desc("value"), "p_partkey"))


@register("q12_priority_by_returnflag", oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""")
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 class: fact-fact join + CASE-conditional counts per
    category (l_returnflag stands in for shipmode — the slim schema
    has no l_shipmode).

    Plan shape: the shipdate year filter is pushed to the lineitem
    parquet scan; lineitem and orders meet in one co-partitioned
    equi-join on orderkey; the conditional counts partial-aggregate
    map-side into 3 groups. Integer counts — trivially exact."""
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = tables.load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy("l_returnflag")
              .agg(F.sum(F.when(high, 1).otherwise(0))
                    .alias("high_line_count"),
                   F.sum(F.when(~high, 1).otherwise(0))
                    .alias("low_line_count"))
              .orderBy("l_returnflag"))


@register("q16_supplier_counts", oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 class: distinct-supplier counts per part attribute
    triple, excluding a blacklist (negative-balance suppliers stand in
    for the 'complaints' predicate — no comment column in the slim
    schema).

    Plan shape: the NOT IN becomes a broadcast left_anti join (the
    blacklist is a handful of keys); part scope broadcasts into the
    lineitem scan; count(DISTINCT) shuffles once on the group triple
    with a partial distinct map-side. All-integer output."""
    part_sc = (tables.load(spark, sf_dir, "part")
               .where((F.col("p_brand") != "Brand#5")
                      & (F.col("p_type") != "PROMO")
                      & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
               .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad = (tables.load(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    li = tables.load(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(part_sc),
                    F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(bad),
                    F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
              .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


@register("q20_part_promotion", oracle="""
WITH qty AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey),
flagged AS (
  SELECT l_suppkey, supp_qty,
         sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_total
  FROM qty)
SELECT DISTINCT s_name, n_name
FROM flagged JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE supp_qty > 0.5 * part_total
ORDER BY s_name
""")
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 class: suppliers holding a dominant share (>50%) of
    any scoped part's shipped quantity in a year — the nested
    semi-join-chain shape, decorrelated as agg -> per-part window
    total -> ratio filter -> distinct supplier rollup.

    Plan shape: part-name scope and the shipdate range both push into
    the lineitem scan (broadcast part, parquet filter); one shuffle
    groups (suppkey, partkey); the per-part total is a window on the
    partkey partitioning just produced. Quantities are integer-valued
    doubles, so sums and the 0.5 ratio compare are exact."""
    part_sc = (tables.load(spark, sf_dir, "part")
               .where(F.col("p_name").like("small%")).select("p_partkey"))
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    qty = (li.join(F.broadcast(part_sc),
                   F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum("l_quantity").alias("supp_qty")))
    w = W.partitionBy("l_partkey")
    nat = tables.load(spark, sf_dir, "nation")
    sup = (tables.load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", "s_name", "n_name"))
    return (qty.withColumn("part_total", F.sum("supp_qty").over(w))
               .where(F.col("supp_qty") > 0.5 * F.col("part_total"))
               .join(F.broadcast(sup),
                     F.col("l_suppkey") == F.col("s_suppkey"))
               .select("s_name", "n_name").distinct()
               .orderBy("s_name"))
