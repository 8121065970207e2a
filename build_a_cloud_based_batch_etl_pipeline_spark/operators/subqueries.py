"""Subquery surface via the SQL API: scalar, correlated, EXISTS/NOT
EXISTS, IN/NOT IN, HAVING, CTEs (SURVEY.md §4.2 "subquery handling" —
Catalyst decorrelates these into the same joins the DataFrame API would
build; BigQuery users of the reference rely on all of them).

Each query here is ONE dialect-portable ANSI SQL string executed by both
engines: Spark runs it over temp views of the fixture tables, DuckDB runs
it verbatim as the oracle. That makes the oracle trivially faithful and
exercises SparkSQL parsing + Catalyst subquery decorrelation directly.

TPC-H-shaped where the fixture schema allows (no partsupp/comment/phone
columns exist, so q2/q4/q7/q14/q16/q18/q19/q22 are adapted to the
available columns — shapes and plan features preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..queries import REGISTRY, QuerySpec
from ..sources import load_table

_VIEW_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views of every fixture table (idempotent; events gets the
    nanos->micros normalization from load_table)."""
    for name in _VIEW_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql_query(name: str, sql: str, doc: str = "") -> None:
    """Register a query whose Spark implementation and DuckDB oracle are
    the same ANSI SQL string."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    fn.__doc__ = doc
    fn.__name__ = name
    if name in REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    REGISTRY[name] = QuerySpec(name, fn, sql, doc)


sql_query(
    "sub_scalar",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4)
               AS diff_from_avg
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.9
    """,
    doc="Uncorrelated scalar subquery in projection and predicate.",
)

sql_query(
    "sub_correlated_scalar",
    """
    SELECT p_type, p_partkey, round(p_retailprice, 2) AS price
    FROM part p
    WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                           WHERE p2.p_type = p.p_type)
    """,
    doc="TPC-H Q2-shaped correlated scalar subquery (min per correlated "
    "group) — Catalyst decorrelates to an aggregate + join.",
)

sql_query(
    "sub_exists_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped EXISTS (decorrelates to left-semi join).",
)

sql_query(
    "sub_not_exists",
    """
    SELECT c_mktsegment, count(*) AS n_inactive
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    doc="NOT EXISTS (left-anti join after decorrelation).",
)

sql_query(
    "sub_in_list",
    """
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS bal
    FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_regionkey IN (SELECT r_regionkey FROM region
                                                WHERE r_name IN ('ASIA', 'EUROPE')))
    """,
    doc="Nested IN subqueries through the dimension hierarchy.",
)

sql_query(
    "sub_having",
    """
    SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(l_quantity) > 150 AND count(*) >= 3
    """,
    doc="TPC-H Q18-shaped HAVING over grouped aggregates.",
)

sql_query(
    "sub_in_grouped",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        GROUP BY o_custkey
                        HAVING sum(o_totalprice) > 2500000)
    """,
    doc="IN over a grouped/HAVING subquery (big-spender lookup).",
)

sql_query(
    "sub_cte_chain",
    """
    WITH seg_stats AS (
        SELECT c_mktsegment, avg(c_acctbal) AS seg_avg
        FROM customer GROUP BY c_mktsegment
    ),
    rich AS (
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
        FROM customer c JOIN seg_stats s ON c.c_mktsegment = s.c_mktsegment
        WHERE c.c_acctbal > s.seg_avg * 1.8
    )
    SELECT c_mktsegment, count(*) AS n_rich,
           round(avg(c_acctbal), 4) AS avg_rich_bal
    FROM rich
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Chained CTEs referencing earlier CTEs.",
)

sql_query(
    "q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
    doc="TPC-H Q14-shaped conditional-ratio aggregate over a join.",
)

sql_query(
    "q19_or_of_ands",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    doc="TPC-H Q19-shaped OR-of-ANDs join predicate (tests predicate "
    "normalization + partial pushdown of the common join key).",
)

sql_query(
    "q22_balance_no_orders",
    """
    SELECT c_nationkey, count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-06-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="TPC-H Q22-shaped: scalar-subquery threshold + NOT EXISTS + agg.",
)

sql_query(
    "sub_lateral_topn",
    """
    SELECT r_name, n_name, bal
    FROM region r,
    LATERAL (
        SELECT n_name, round(sum(s_acctbal), 2) AS bal
        FROM nation JOIN supplier ON s_nationkey = n_nationkey
        WHERE n_regionkey = r.r_regionkey
        GROUP BY n_name
        ORDER BY sum(s_acctbal) DESC, n_name
        LIMIT 2
    ) t
    """,
    doc="Correlated LATERAL subquery with aggregate + per-row LIMIT "
    "(top-2 nations by supplier balance per region) — the lateral-join "
    "surface BigQuery users rely on; Catalyst plans it as a "
    "DomainJoin-decorrelated ranked join.",
)

sql_query(
    "q7_nation_pairs",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name <> sn.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY cn.n_name, sn.n_name, year(l_shipdate)
    ORDER BY cust_nation, supp_nation, ship_year
    """,
    doc="TPC-H Q7-shaped: two roles of the same dimension (nation twice) "
    "+ cross-nation revenue by year.",
)


sql_query(
    "sub_relational_division",
    """
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(DISTINCT o_orderpriority)
           = (SELECT count(DISTINCT o_orderpriority) FROM orders)
    """,
    doc="Relational division ('for all' quantification): customers with "
    "orders in EVERY priority class — per-group distinct count equal to "
    "the universe count. Completes the quantifier coverage "
    "(EXISTS/NOT EXISTS/IN are existential; division is universal). "
    "Catalyst plans the universe as a 1-row subquery broadcast and the "
    "division as one customer-keyed two-phase distinct aggregation.",
)
