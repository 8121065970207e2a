"""Aggregation operators: grouped aggs, distinct, rollup/cube/grouping sets,
stats, percentiles, conditional and arg-extreme aggregation
(SURVEY.md §2.2 "Aggregation" — absent from the reference, delegated to
BigQuery).

All grouped aggregations compile to partial (map-side) + final hash
aggregates; at 100 TB the shuffle carries only one row per (partition,
group), so low-cardinality group-bys like these scale with group count,
not input size. Exact distinct-count adds a second shuffle on the distinct
key; approx_count_distinct (HLL++) removes it — both surfaced here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from .util import cents, r2, r4, t, ts


@query(
    "agg_basic_stats",
    oracle="""
    SELECT c_mktsegment,
           count(*)               AS n,
           round(sum(c_acctbal), 2) AS sum_bal,
           round(avg(c_acctbal), 4) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/sum/avg/min/max per group."""
    cust = t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        r2(F.sum("c_acctbal")).alias("sum_bal"),
        r4(F.avg("c_acctbal")).alias("avg_bal"),
        r2(F.min("c_acctbal")).alias("min_bal"),
        r2(F.max("c_acctbal")).alias("max_bal"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(*)                   AS n_orders,
           count(DISTINCT o_custkey)  AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count (expands to a two-phase aggregate)."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct (rows-only: estimator values are
    engine-specific by construction, so no cross-engine oracle). The
    deterministic rsd makes the Spark result itself reproducible."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
    )


@query("agg_hll_partial_merge")
def agg_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg): per-event-type user sketches plus a
    '__all__' row whose estimate comes from MERGING the per-group
    sketches, never re-reading the data. This is the rollup capability a
    100 TB warehouse actually needs: per-partition/day sketch columns
    are stored once and unioned to any coarser grain (week, month,
    all-time) in O(groups) — an exact distinct would re-shuffle every
    raw row per grain. Rows-only: sketch estimates are engine-specific
    by construction; tests/test_operators.py pins merge-consistency
    (merged '__all__' equals the estimate of a direct global sketch
    EXACTLY — same sketch state either way) and <=5% error vs the exact
    count. Reference: no sketch surface (BigQuery delegation,
    src/load/main.py:40 — BQ's HLL_COUNT.* is the delegated analogue)."""
    events = t(spark, sf_dir, "events")
    per = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    out = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    total = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    ).select(F.lit("__all__").alias("event_type"), "approx_users")
    return out.unionByName(total)


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)                  AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals incl. grand total."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), r2(F.sum("l_quantity")).alias("sum_qty")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)                        AS n,
           round(sum(l_extendedprice), 2)  AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping combinations."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), r2(F.sum("l_extendedprice")).alias("sum_price")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT c_mktsegment, c_nationkey, count(*) AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as the
    DataFrame rollup/cube expansions)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_discount), 6)         AS var_disc,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_pq
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_extendedprice")).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        r2(F.covar_samp("l_extendedprice", "l_quantity")).alias("cov_pq"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
           round(median(o_totalprice), 4)              AS med
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). The approximate scale path is percentile_approx —
    see agg_percentile_approx."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        r4(F.percentile("o_totalprice", 0.5)).alias("p50"),
        r4(F.percentile("o_totalprice", 0.9)).alias("p90"),
        r4(F.median("o_totalprice")).alias("med"),
    )


@query("agg_percentile_approx")
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile (t-digest-style sketch; mergeable, single
    pass — the 100 TB path). Rows-only: sketch values are engine-specific."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END)
                AS BIGINT)                                         AS n_big,
           sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(round(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) / 100.0                            AS urgent_total,
           count(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
                      THEN 1 END)                                  AS n_recent
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (filtered sums/counts via CASE).

    `urgent_total` sums exact integer cents and divides once at the end:
    a float sum's partition/order-dependent rounding can land on a
    half-cent ulp boundary and flip the 2dp round between two runs of the
    SAME query (observed: driver vs local session with different shuffle
    partitioning). Long addition is associative, so the result is
    identical under any partitioning in both engines.
    """
    orders = t(spark, sf_dir, "orders")
    urgent_cents = F.when(
        F.col("o_orderpriority") == "1-URGENT",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return orders.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("o_totalprice") > 250000, 1).otherwise(0)).alias("n_big"),
        (F.sum(urgent_cents) / 100.0).alias("urgent_total"),
        F.count(
            F.when(F.col("o_orderdate") >= ts("1999-01-01 00:00:00"), 1)
        ).alias("n_recent"),
    )


@query(
    "agg_arg_extreme",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_custkey, c_acctbal) AS richest_cust,
           arg_min(c_custkey, c_acctbal) AS poorest_cust
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_arg_extreme(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregation."""
    cust = t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", "c_acctbal").alias("richest_cust"),
        F.min_by("c_custkey", "c_acctbal").alias("poorest_cust"),
    )


@query(
    "agg_global",
    oracle="""
    WITH s AS (
        SELECT count(*)                        AS n,
               count(DISTINCT l_partkey)       AS n_parts,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sc,
               sum(CAST(round(l_quantity) AS BIGINT))            AS sq
        FROM lineitem
    )
    SELECT n, n_parts,
           sc / 100.0 AS total,
           ((20000 * sq + n) // nullif(2 * n, 0)) / 10000.0 AS avg_qty
    FROM s
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (ungrouped) aggregation — single-row result.

    Exact integer core (r9 margin-sweep fix; round(avg(l_quantity), 4)
    measured margin 0.0 — the true mean sits exactly ON a 4dp half
    boundary at sf0.01): quantities are integers and prices 2dp, so both
    sums are exact bigints; `total` lands on the cents grid with no
    round() at all, and `avg_qty` is integer half-up division
    ((2*sq*1e4 + n) div (2*n)) — the boundary tie is decided by exact
    arithmetic, identically on both engines, instead of by whichever
    side of an ulp a double sum lands on."""
    li = t(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count("*").alias("n"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum(cents("l_extendedprice")).alias("sc"),
        F.sum(cents("l_quantity", 0)).alias("sq"),
    )
    return s.select(
        "n",
        "n_parts",
        (F.col("sc") / 100.0).alias("total"),
        (F.expr("(20000 * sq + n) div nullif(2 * n, 0)") / 10000.0).alias(
            "avg_qty"
        ),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*)                                AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (BigQuery STRING_AGG / LISTAGG): collect_list
    -> array_sort -> concat_ws gives a deterministic ordered result —
    collect_list alone is partition-order-dependent, which is exactly the
    nondeterminism a distributed engine must pin down before comparing or
    publishing such a column."""
    nat = t(spark, sf_dir, "nation")
    return nat.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        F.count("*").alias("n"),
    )


@query(
    "agg_value_histogram",
    oracle="""
    SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
           floor(l_extendedprice / 5000.0) * 5000.0        AS bin_lo,
           count(*)                                        AS n,
           round(avg(l_extendedprice), 4)                  AS bin_avg
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (5000-wide price bins): the binning is
    a projection (floor division), so the histogram is ONE ordinary hash
    aggregate — bins, not rows, cross the shuffle, and the shape is
    identical at any scale factor."""
    li = t(spark, sf_dir, "lineitem")
    bin_col = F.floor(F.col("l_extendedprice") / 5000.0)
    return li.groupBy(
        bin_col.alias("bin"), (bin_col * 5000.0).alias("bin_lo")
    ).agg(
        F.count("*").alias("n"),
        r4(F.avg("l_extendedprice")).alias("bin_avg"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    SELECT c_mktsegment, mode_bal, n_at_mode FROM (
        SELECT c_mktsegment, bal_bucket AS mode_bal, n AS n_at_mode,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY n DESC, bal_bucket) AS rn
        FROM (SELECT c_mktsegment,
                     CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
                     count(*) AS n
              FROM customer GROUP BY 1, 2) counts
    ) ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent balance bucket per segment) via
    count + windowed argmax with a value tie-break — built-in mode()
    breaks ties arbitrarily in BOTH engines, so a comparable pipeline
    must pin the tie order itself. Two aggregations, both keyed."""
    from pyspark.sql import Window as W

    cust = t(spark, sf_dir, "customer")
    counts = cust.groupBy(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).alias("bal_bucket"),
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("c_mktsegment").orderBy(F.col("n").desc(), "bal_bucket")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("bal_bucket").alias("mode_bal"),
            F.col("n").alias("n_at_mode"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH per_val AS (
        SELECT l_returnflag AS flag, l_extendedprice AS price,
               sum(l_quantity) AS wt
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, price, wt,
               sum(wt) OVER (
                   PARTITION BY flag ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw,
               sum(wt) OVER (PARTITION BY flag) AS tot
        FROM per_val
    )
    SELECT flag, round(min(price), 2) AS weighted_median,
           round(min(tot), 2) AS total_weight
    FROM cum WHERE cw >= tot / 2.0 GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (smallest value whose cumulative weight reaches
    half the group total; weight = quantity) — the robust-center statistic
    percentile_approx can't produce because Spark's percentile family is
    unweighted.

    The oracle's formulation — one cumulative window over every distinct
    value per group — would put an entire group's value set in ONE sorted
    window partition (3 groups here => parallelism 3, and a full sort of
    ~600k rows per group at sf0.1; measured 7.7 s). The engine instead
    runs the classic two-phase distributed median: (1) hash-agg weights
    per distinct value (map-side combined, the only full-data shuffle),
    (2) hash-agg those into ~100 fixed-width value buckets and cumsum the
    BUCKET totals (a window over ~100 rows per group), (3) locate the
    bucket where the running weight crosses half the total, then cumsum
    only THAT bucket's values with the prior buckets' weight as offset.
    The per-group sorted window touches one bucket's values instead of
    the whole value set (~1/100th), and everything after phase 1 is
    hundreds of rows.

    Determinism at double precision: weights are pre-aggregated per value
    and the quantities are integral-valued doubles, so every partial sum
    is exact and the >= tot/2 boundary decision matches the oracle's
    value-ordered fold bit-for-bit."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    per_val = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum("l_quantity").alias("wt"))

    bucketed = per_val.withColumn("wb", F.floor(F.col("price") / 1000.0))
    bw = (
        W.partitionBy("flag")
        .orderBy("wb")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bcum = (
        bucketed.groupBy("flag", "wb")
        .agg(F.sum("wt").alias("bwt"))
        .select(
            "flag",
            "wb",
            "bwt",
            F.sum("bwt").over(bw).alias("bcw"),
            F.sum("bwt").over(W.partitionBy("flag")).alias("tot"),
        )
    )
    target = (
        bcum.filter(F.col("bcw") >= F.col("tot") / 2.0)
        .groupBy("flag")
        .agg(
            F.min_by(F.struct("wb", "bcw", "bwt", "tot"), "wb").alias("s")
        )
        .select(
            "flag",
            F.col("s.wb").alias("wb"),
            (F.col("s.bcw") - F.col("s.bwt")).alias("offset"),
            F.col("s.tot").alias("tot"),
        )
    )
    vw = (
        W.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    in_bucket = bucketed.join(F.broadcast(target), ["flag", "wb"]).select(
        "flag",
        "price",
        "tot",
        (F.col("offset") + F.sum("wt").over(vw)).alias("cw"),
    )
    return (
        in_bucket.filter(F.col("cw") >= F.col("tot") / 2.0)
        .groupBy("flag")
        .agg(
            r2(F.min("price")).alias("weighted_median"),
            r2(F.min("tot")).alias("total_weight"),
        )
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH bucketed AS (
        SELECT c_mktsegment, c_acctbal,
               CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS oc,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS bucket
        FROM customer
    ),
    s AS (
        SELECT c_mktsegment, bucket,
               count(*)                 AS n,
               round(min(c_acctbal), 2) AS lo,
               round(max(c_acctbal), 2) AS hi,
               sum(oc)                  AS soc
        FROM bucketed
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, bucket, n, lo, hi,
           ((200 * soc + n) // nullif(2 * n, 0)) / 10000.0 - 1000.0
               AS bucket_avg
    FROM s
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of account balances per
    market segment — the optimizer-statistics shape: 4 buckets holding
    equal row counts with observed [lo, hi] bounds, where skewed value
    ranges get narrow buckets instead of the empty/overfull bins a
    fixed-width histogram produces (contrast agg_value_histogram).

    ntile ties are pinned by the (value, c_custkey) order, so bucket
    assignment — and therefore every per-bucket stat — is deterministic
    and engine-portable. bucket_avg is an exact integer core (r9
    margin-sweep fix; round(avg(..), 4) measured margin 1.5e-8 at
    sf0.01): balances are 2dp so the cents sum is exact bigint, shifted
    +100000 cents per row so the half-up division numerator stays
    non-negative (acctbal can be negative, and Spark `div` / DuckDB `//`
    truncate toward zero — floor only for non-negative numerators); the
    +1000.0 dollar shift is subtracted back after the exact division.
    Exact half-boundary ties therefore resolve toward +inf, decided by
    integer arithmetic identically on both engines. Scale shape: the
    window partitions on the
    segment key (never global — the guard in tests/test_plans.py), and
    only bucket rows survive the final hash aggregate. At true 100 TB
    per-segment cardinality the same statistic comes from
    approx_percentile boundaries instead of a per-row ntile; this is the
    exact small-dimension form."""
    from pyspark.sql import Window as W

    cust = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_acctbal",
            (cents("c_acctbal") + 100000).alias("oc"),
            F.ntile(4).over(w).alias("bucket"),
        )
        .groupBy("c_mktsegment", "bucket")
        .agg(
            F.count("*").alias("n"),
            r2(F.min("c_acctbal")).alias("lo"),
            r2(F.max("c_acctbal")).alias("hi"),
            F.sum("oc").alias("soc"),
        )
        .select(
            "c_mktsegment",
            "bucket",
            "n",
            "lo",
            "hi",
            (
                F.expr("(200 * soc + n) div nullif(2 * n, 0)") / 10000.0
                - 1000.0
            ).alias("bucket_avg"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (t-digest-style equal-weight centroids)
# ---------------------------------------------------------------------------

_TD_K = 128  # centroids kept per digest (rank error ~ 1/(2K) per level)
_TD_SALTS = 16  # partial digests per group (stands in for per-partition partials)


def td_compress(means, weights, k: int = _TD_K):
    """Compress weighted centroids to <= k equal-weight bins.

    Deterministic: centroids are lexsorted by (mean, weight), then binned
    by pre-centroid cumulative weight so every input order yields the same
    output. Returns (means, weights) lists sorted by mean."""
    import numpy as np

    m = np.asarray(means, dtype=np.float64)
    w = np.asarray(weights, dtype=np.int64)
    order = np.lexsort((w, m))
    m, w = m[order], w[order]
    if len(m) <= k:
        return m.tolist(), w.tolist()
    total = int(w.sum())
    cum_before = np.concatenate(([0], np.cumsum(w)[:-1]))
    bins = np.minimum((cum_before * k) // total, k - 1)
    out_m: list[float] = []
    out_w: list[int] = []
    for b in np.unique(bins):
        sel = bins == b
        ws = w[sel]
        tw = int(ws.sum())
        out_m.append(float((m[sel] * ws).sum() / tw))
        out_w.append(tw)
    return out_m, out_w


def td_quantile(means, weights, q: float) -> float:
    """Quantile estimate from a digest: midpoint-rule interpolation over
    centroid cumulative weights (each centroid's mass centered at its
    cumulative midpoint)."""
    import numpy as np

    m = np.asarray(means, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    cum = np.cumsum(w) - w / 2.0
    return float(np.interp(q * w.sum(), cum, m))


_TD_SCHEMA = "event_type string, means array<double>, weights array<bigint>"


def _td_build(pdf):
    import numpy as np
    import pandas as pd

    ms, ws = td_compress(
        pdf["v"].to_numpy(dtype=float), np.ones(len(pdf), dtype=np.int64)
    )
    return pd.DataFrame(
        {"event_type": [pdf["event_type"].iloc[0]], "means": [ms], "weights": [ws]}
    )


def _td_merge(pdf):
    import numpy as np
    import pandas as pd

    ms = np.concatenate([np.asarray(x, dtype=float) for x in pdf["means"]])
    ws = np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["weights"]])
    mm, mw = td_compress(ms, ws)
    return pd.DataFrame(
        {"event_type": [pdf["event_type"].iloc[0]], "means": [mm], "weights": [mw]}
    )


def tdigest_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level digest build over events.value: salted partial digests
    (groupBy(event_type, salt).applyInPandas — the salt stands in for
    per-partition partials so no single task ever sees a whole group),
    then a per-group merge plus a merged-of-merges '__all__' digest.
    Digest columns are (means, weights) arrays — storable, mergeable."""
    from .util import fixture_version, memo

    events = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        F.pmod(F.xxhash64("event_id"), F.lit(_TD_SALTS)).alias("salt"),
    )
    # cached: BOTH the per-type merge and the '__all__' merge consume
    # the partial digests — uncached, the raw-event shuffle and the
    # Arrow grouped-map build ran TWICE (the plan carried two _td_build
    # python stages over two full event scans for one digest set). The
    # cache holds <= K centroids per (group, salt) — KBs, not rows.
    partials = memo(
        spark,
        ("td_partials", sf_dir),
        fixture_version(spark, sf_dir, "events"),
        lambda: events.groupBy("event_type", "salt")
        .applyInPandas(_td_build, _TD_SCHEMA)
        .cache(),
    )
    merged = partials.groupBy("event_type").applyInPandas(_td_merge, _TD_SCHEMA)
    alldig = (
        partials.withColumn("event_type", F.lit("__all__"))
        .groupBy("event_type")
        .applyInPandas(_td_merge, _TD_SCHEMA)
    )
    return merged.unionByName(alldig)


@query("sketch_tdigest_quantiles")
def sketch_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (t-digest-style equal-weight centroid
    digest, K=128): per-event-type p50/p90/p99 of events.value, plus an
    '__all__' row computed by MERGING the per-group partial digests —
    never re-reading raw rows. Completes the mergeable-sketch family
    (HLL distinct counts, count-min heavy hitters, t-digest quantiles):
    store per-partition/day digest columns once, roll up to any coarser
    grain in O(centroids).

    Rows-only: centroid compression is engine-specific by construction
    (no SQL oracle can reproduce the sketch state);
    tests/test_operators.py pins determinism, <=1.5%-rank accuracy vs
    exact percentiles, and merge-path consistency ('__all__' vs a
    direct digest of all values).

    Scale shape: raw values cross the wire once, pre-compressed to
    <=K centroids per (group, salt) by an Arrow-batched grouped-map;
    every later stage moves only digests (KB per group). Reference has
    no sketch surface (BigQuery delegation, src/load/main.py:40 —
    APPROX_QUANTILES is the delegated analogue)."""
    digests = tdigest_digests(spark, sf_dir)

    def _quants(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "event_type": pdf["event_type"],
                    "p50": [
                        td_quantile(m, w, 0.50)
                        for m, w in zip(pdf["means"], pdf["weights"])
                    ],
                    "p90": [
                        td_quantile(m, w, 0.90)
                        for m, w in zip(pdf["means"], pdf["weights"])
                    ],
                    "p99": [
                        td_quantile(m, w, 0.99)
                        for m, w in zip(pdf["means"], pdf["weights"])
                    ],
                }
            )

    out = digests.mapInPandas(
        _quants, "event_type string, p50 double, p90 double, p99 double"
    )
    return out.select(
        "event_type", r4("p50").alias("p50"), r4("p90").alias("p90"), r4("p99").alias("p99")
    )


@query("agg_hll_intersection")
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: estimated audience overlap |A ∩ B| between
    every pair of event types' user sets via inclusion-exclusion over
    mergeable HLL sketches — est(A) + est(B) - est(A ∪ B), the union
    coming from hll_union (never a re-scan). This is the rollup algebra
    a 100 TB warehouse runs on STORED per-segment sketch columns:
    any pairwise overlap matrix in O(segments^2) sketch merges, zero
    raw-data passes.

    Rows-only: sketch estimates are engine-specific;
    tests/test_operators.py pins every estimate against the exact
    pairwise intersection (<= 7% relative error — two estimates and a
    union each contribute HLL error) and symmetry of the matrix.

    Scale shape: one shuffle to build per-type sketches (tiny state),
    then a broadcast self-join over the handful of sketch rows; the
    union/estimate calls are per-pair JVM sketch ops on KB payloads."""
    events = t(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_union = F.hll_sketch_estimate(
        F.hll_union("sk_a", "sk_b")
    )
    return pairs.select(
        "type_a",
        "type_b",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_union.alias("est_union"),
        (est_a + est_b - est_union).alias("est_intersection"),
    )


@query(
    "agg_skewness_kurtosis",
    oracle="""
    WITH m AS (
        SELECT l_returnflag, avg(l_extendedprice) AS mu,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    ),
    c AS (
        SELECT l.l_returnflag, m.n,
               avg(pow(l_extendedprice - mu, 2)) AS m2,
               avg(pow(l_extendedprice - mu, 3)) AS m3,
               avg(pow(l_extendedprice - mu, 4)) AS m4
        FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        GROUP BY l.l_returnflag, m.n
    )
    SELECT l_returnflag, n,
           round(m3 / pow(m2, 1.5), 4)    AS skewness,
           round(m4 / pow(m2, 2) - 3, 4)  AS excess_kurtosis
    FROM c
    """,
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth-moment shape statistics per group (population
    skewness g1 and excess kurtosis g2) — the distribution-shape half of
    the stats surface agg_stats' mean/stddev doesn't carry, and the
    inputs to any normality/heavy-tail screen.

    Deliberately TWO-PASS (group means joined back, then central-moment
    averages) rather than one-pass raw power sums: E[x^4] of 1e4-scale
    prices overflows double significance (~1e21 sums) and the central
    correction then catastrophically cancels — the two-pass form keeps
    every aggregate well-conditioned, so 4dp rounding is stable across
    engines and partitionings. Spark's skewness()/kurtosis() built-ins
    are avoided for the same cross-engine-formula reason (sample vs
    population corrections differ by dialect).

    Scale shape: two map-side-combined aggregates and one broadcast-able
    join of GROUP-level means onto the scan — the canonical two-pass
    moments pattern at any scale."""
    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    d = F.col("l_extendedprice") - F.col("mu")
    c = (
        li.join(F.broadcast(m), "l_returnflag")
        .groupBy("l_returnflag", "n")
        .agg(
            F.avg(d * d).alias("m2"),
            F.avg(d * d * d).alias("m3"),
            F.avg(d * d * d * d).alias("m4"),
        )
    )
    return c.select(
        "l_returnflag",
        "n",
        r4(F.col("m3") / F.pow("m2", 1.5)).alias("skewness"),
        r4(F.col("m4") / F.pow("m2", 2.0) - 3.0).alias("excess_kurtosis"),
    )


@query(
    "agg_covariance_corr",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               avg(l_quantity)      AS mx,
               avg(l_extendedprice) AS my,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, n,
           round(sum((l_quantity - mx) * (l_extendedprice - my)) / (n - 1),
                 4) AS covar,
           round(sum((l_quantity - mx) * (l_extendedprice - my))
                 / sqrt(sum(pow(l_quantity - mx, 2))
                        * sum(pow(l_extendedprice - my, 2))),
                 4) AS corr
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, n
    """,
)
def agg_covariance_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance and Pearson correlation between quantity and
    price per return flag — the bivariate half of the statistics
    surface (agg_stats/agg_skewness_kurtosis cover univariate moments).

    Same two-pass central-moment discipline as agg_skewness_kurtosis:
    group means joined back, then centered cross-products — NOT the
    built-in covar_samp/corr, whose one-pass updating formulas
    accumulate in engine-specific order against E[xy]-scale
    intermediates; the centered two-pass sums are well-conditioned, so
    the 4dp rounding is partition- and dialect-stable.

    Scale shape: two map-side-combined aggregates + one broadcast join
    of group-level means onto the scan."""
    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("mx"),
        F.avg("l_extendedprice").alias("my"),
        F.count(F.lit(1)).alias("n"),
    )
    dx = F.col("l_quantity") - F.col("mx")
    dy = F.col("l_extendedprice") - F.col("my")
    return (
        li.join(F.broadcast(m), "l_returnflag")
        .groupBy("l_returnflag", "n")
        .agg(
            F.sum(dx * dy).alias("sxy"),
            F.sum(dx * dx).alias("sxx"),
            F.sum(dy * dy).alias("syy"),
        )
        .select(
            "l_returnflag",
            "n",
            r4(F.col("sxy") / (F.col("n") - 1)).alias("covar"),
            r4(F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy"))).alias(
                "corr"
            ),
        )
    )


@query(
    "agg_linear_regression",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               avg(l_quantity)      AS mx,
               avg(l_extendedprice) AS my,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    ),
    s AS (
        SELECT l.l_returnflag, n, mx, my,
               sum((l_quantity - mx) * (l_extendedprice - my)) AS sxy,
               sum((l_quantity - mx) * (l_quantity - mx))      AS sxx,
               sum((l_extendedprice - my) * (l_extendedprice - my)) AS syy
        FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        GROUP BY 1, 2, 3, 4
    )
    SELECT l_returnflag, n,
           round(sxy / nullif(sxx, 0), 4)                 AS slope,
           round(my - (sxy / nullif(sxx, 0)) * mx, 4)     AS intercept,
           round((sxy * sxy) / nullif(sxx * syy, 0), 4)   AS r2
    FROM s
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS — slope, intercept, R² of extendedprice on
    quantity per return flag: the regr_slope / regr_intercept / regr_r2
    aggregate family (ANSI SQL:2003, exposed by BigQuery/Postgres/
    Trino), which the reference gets for free from its warehouse and a
    native engine must own.

    Same two-pass centered-sums discipline as agg_covariance_corr (its
    docstring carries the conditioning argument): group means joined
    back, then centered products — slope = Sxy/Sxx, intercept =
    my - slope*mx, R² = Sxy²/(Sxx*Syy), each computed with IDENTICAL
    arithmetic in both engines and rounded 4dp. Scale shape: two
    map-side-combined aggregates + one broadcast join of group means
    onto the scan — the same two scans any exact two-pass moment needs
    (the one-pass updating form is the documented-rejected alternative:
    engine-specific accumulation order against E[xy]-scale terms)."""
    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("mx"),
        F.avg("l_extendedprice").alias("my"),
        F.count(F.lit(1)).alias("n"),
    )
    dx = F.col("l_quantity") - F.col("mx")
    dy = F.col("l_extendedprice") - F.col("my")
    s = (
        li.join(F.broadcast(m), "l_returnflag")
        .groupBy("l_returnflag", "n", "mx", "my")
        .agg(
            F.sum(dx * dy).alias("sxy"),
            F.sum(dx * dx).alias("sxx"),
            F.sum(dy * dy).alias("syy"),
        )
    )
    # nullif'd divisors on BOTH engines: a zero-variance x (constant
    # column in a group) must yield NULL slope/intercept/r2, not an
    # engine-semantics-sensitive 0/0 NaN (the embed_outlier_detection
    # lesson from ADVICE r7)
    slope = F.col("sxy") / F.nullif(F.col("sxx"), F.lit(0.0))
    return s.select(
        "l_returnflag",
        "n",
        r4(slope).alias("slope"),
        r4(F.col("my") - slope * F.col("mx")).alias("intercept"),
        r4(
            F.col("sxy")
            * F.col("sxy")
            / F.nullif(F.col("sxx") * F.col("syy"), F.lit(0.0))
        ).alias("r2"),
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT grp, c,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY c, o_orderkey) AS i
        FROM cents
    ),
    s AS (
        SELECT grp,
               CAST(count(*) AS BIGINT)  AS n,
               CAST(sum(c) AS BIGINT)    AS tot,
               CAST(sum(i * c) AS BIGINT) AS ws
        FROM ranked GROUP BY grp
    )
    SELECT grp, n,
           round(tot / 100.0, 2) AS total_value,
           round(2.0 * ws / nullif(n * 1.0 * tot, 0) - (n + 1.0) / n, 4)
               AS gini
    FROM s
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value per priority class
    — the inequality / revenue-concentration statistic (0 = every order
    equal, ->1 = one order carries the group) behind whale-detection,
    crawl-domain skew reports, and partition-skew forecasting. Uses the
    rank formulation G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    ascending x.

    Cross-engine determinism is EXACT here, not rounding-guarded: the
    money column is 2dp, so ranks weight integer cents and both
    sum(i*c) and n*sum(c) are bigint arithmetic — and sum(i*c) is
    tie-order invariant (a tied value group contributes c * [sum of the
    ranks the group occupies], the same set under any intra-tie order),
    so the only float ops are the two final divisions, identical in
    both engines. Overflow headroom: i*c < n * max_cents needs
    n * 6e7 < 9.2e18, safe past 10^11 rows per group.

    Scale shape: one rank window per group (the same sort-shuffle class
    as window_ranking) + one map-side-combined aggregate. At extreme
    per-group cardinality the binned approximation (Gini from the
    agg_histogram_equidepth deciles) is the documented fallback; exact
    ranks are right wherever a per-group sort already fits the shuffle
    budget."""
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders")
    cents = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        "o_orderkey",
    )
    ranked = cents.withColumn(
        "i",
        F.row_number().over(W.partitionBy("grp").orderBy("c", "o_orderkey")),
    )
    s = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("tot"),
        F.sum(F.col("i") * F.col("c")).cast("bigint").alias("ws"),
    )
    return s.select(
        "grp",
        "n",
        F.round(F.col("tot") / 100.0, 2).alias("total_value"),
        # nullif: an all-zero-value group (dirty data) is 0/0 — NULL
        # gini beats an engine-dependent NaN (ADVICE r7 class)
        F.round(
            2.0
            * F.col("ws")
            / F.nullif(F.col("n") * 1.0 * F.col("tot"), F.lit(0.0))
            - (F.col("n") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
    )
