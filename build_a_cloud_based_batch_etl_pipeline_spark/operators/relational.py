"""Scan / projection / filter / TPC-H-shaped analytical queries.

The reference delegates this entire surface to BigQuery SQL over its one
loaded table (reference terraform/main.tf:63-102, SURVEY.md §2.2); here it
is supplied natively. Everything is declarative DataFrame API so Catalyst
gets predicate pushdown, column pruning, partial aggregation and join
selection for free.

Scale notes (100 TB): each query reads only the columns it projects
(parquet ReadSchema pruning), filters sit directly on scan columns
(PushedFilters), and aggregations are partial+final (map-side combine)
with AQE coalescing the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from .util import r2, r4, rbin, t, ts


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> filter -> 8-agg hash
    aggregate -> sort. The flagship query (SURVEY.md §7 step 1)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            r2(F.sum(disc_price)).alias("sum_disc_price"),
            r2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            r4(F.avg("l_quantity")).alias("avg_qty"),
            r4(F.avg("l_extendedprice")).alias("avg_price"),
            r4(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join + grouped agg + deterministic top-10.

    Join order (customer->orders, then lineitem) lets Catalyst/AQE broadcast
    the filtered customer side; at 100 TB the orders<->lineitem join shuffles
    on orderkey, which is also the aggregation key, so the agg reuses the
    join's partitioning with no extra exchange.
    """
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < ts("1999-01-01 00:00:00")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > ts("1999-01-01 00:00:00")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: star join through supplier->nation->region with the
    constant-size dims broadcast (no shuffle for region/nation at any SF)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
    )
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan+filter+single agg. All four predicates
    push down to the parquet scan; no shuffle at all (single global agg)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1997-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue per customer, top 20."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1997-07-01 00:00:00"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "filter_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#7', 'Brand#13')
      AND p_size BETWEEN 10 AND 40
      AND p_name LIKE '%bolt%'
      AND (p_type = 'ECONOMY' OR p_type = 'PROMO' OR NOT p_type = 'LARGE')
      AND p_retailprice IS NOT NULL
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate surface: IN, BETWEEN, LIKE, OR/NOT, IS NOT NULL — all as
    Column expressions that Catalyst pushes into the parquet scan."""
    part = t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_brand").isin("Brand#1", "Brand#7", "Brand#13")
        & F.col("p_size").between(10, 40)
        & F.col("p_name").like("%bolt%")
        & (
            (F.col("p_type") == "ECONOMY")
            | (F.col("p_type") == "PROMO")
            | ~(F.col("p_type") == "LARGE")
        )
        & F.col("p_retailprice").isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@query(
    "proj_computed",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
               / 100                                                  AS charge,
           CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END     AS qty_class,
           l_quantity * 2.0                                            AS double_qty
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def proj_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with computed/aliased columns and CASE WHEN. Per-row
    money rounding uses rbin (binary-faithful half-up), not F.round —
    Spark's round() re-reads the double through its shortest decimal
    string and diverges from DuckDB at half boundaries (43395.75*0.94 =
    40792.004999999997 rounded 40792.01 vs 40792.00; caught by the r8
    sf0.1 gate)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 500).select(
        "l_orderkey",
        "l_linenumber",
        rbin(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("charge"),
        F.when(F.col("l_quantity") >= 25, "bulk").otherwise("small").alias("qty_class"),
        (F.col("l_quantity") * 2.0).alias("double_qty"),
    )


@query(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition
    heap + driver merge, no full sort, no shuffle of the full table."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@query(
    "orderby_nulls",
    oracle="""
    SELECT c_custkey,
           NULLIF(c_acctbal, 0.0)  AS bal,
           c_mktsegment
    FROM customer
    WHERE c_custkey < 200
    ORDER BY bal DESC NULLS LAST, c_custkey
    """,
)
def orderby_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null ordering (nulls synthesized via
    NULLIF since the fixtures carry none)."""
    cust = t(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            F.nullif(F.col("c_acctbal"), F.lit(0.0)).alias("bal"),
            "c_mktsegment",
        )
        .orderBy(F.col("bal").desc_nulls_last(), F.col("c_custkey"))
    )
