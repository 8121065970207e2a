"""Data-quality & table-management operators: expectation-suite
validation reports and snapshot diffing (CDC between table versions).

These are the observability/ops queries every production lakehouse runs
around the load path the reference automates (`src/load/main.py` trusts
BigQuery's load-job schema check and nothing else — SURVEY.md §3.2); a
native engine owns validation itself.

Scale notes: expectation rules are single-pass conditional aggregations
(map-side combined; one job per table, not per rule), FK rules are
key-projected anti-joins (shuffle carries only the key column), and the
snapshot diff is one full-outer sort-merge join on the snapshot key —
with both snapshots bucketed on that key (sinks.write_bucketed), the
100 TB plan is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from .util import r4, t

# ---------------------------------------------------------------------------
# dq_expectations — rule-suite validation report
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH li AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT)      AS quantity_range,
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                         THEN 1 ELSE 0 END) AS BIGINT)      AS discount_range,
           CAST(sum(CASE WHEN l_extendedprice <= 0
                         THEN 1 ELSE 0 END) AS BIGINT)      AS price_positive,
           CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                         THEN 1 ELSE 0 END) AS BIGINT)      AS returnflag_domain
    FROM lineitem
), ord AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)      AS status_domain,
           CAST(sum(CASE WHEN o_totalprice <= 0
                         THEN 1 ELSE 0 END) AS BIGINT)      AS totalprice_positive,
           CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                          OR o_orderdate >= TIMESTAMP '1999-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT)      AS orderdate_bounds,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_unique
    FROM orders
), fk_cust AS (
    SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS failed
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), fk_ord AS (
    SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS failed
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
), rules AS (
    SELECT 'lineitem.quantity_range' AS rule, n, quantity_range AS n_failed FROM li
    UNION ALL SELECT 'lineitem.discount_range', n, discount_range FROM li
    UNION ALL SELECT 'lineitem.price_positive', n, price_positive FROM li
    UNION ALL SELECT 'lineitem.returnflag_domain', n, returnflag_domain FROM li
    UNION ALL SELECT 'orders.status_domain', n, status_domain FROM ord
    UNION ALL SELECT 'orders.totalprice_positive', n, totalprice_positive FROM ord
    UNION ALL SELECT 'orders.orderdate_bounds', n, orderdate_bounds FROM ord
    UNION ALL SELECT 'orders.pk_unique', n, pk_unique FROM ord
    UNION ALL SELECT 'orders.fk_custkey', n, failed FROM fk_cust
    UNION ALL SELECT 'lineitem.fk_orderkey', n, failed FROM fk_ord
)
SELECT rule,
       CAST(n AS BIGINT)        AS n_checked,
       CAST(n_failed AS BIGINT) AS n_failed,
       round(n_failed * 1.0 / NULLIF(n, 0), 4) AS fail_rate
FROM rules
"""


def _rule_rows(agged: DataFrame, table: str, n_col: str, rules: list[str]) -> DataFrame:
    """Unpivot one table's single-pass rule counts into (rule, n, failed)."""
    stack = ", ".join(f"'{table}.{r}', {r}" for r in rules)
    return agged.selectExpr(
        f"stack({len(rules)}, {stack}) as (rule, n_failed)", f"{n_col} as n"
    ).select("rule", "n", "n_failed")


@query("dq_expectations", oracle=_DQ_ORACLE)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite validation report: one row per data-quality rule
    with checked/failed counts and the failure rate. Covers range rules,
    domain (accepted-values) rules, a primary-key uniqueness rule, and
    two referential-integrity (foreign-key) rules.

    The load side of the reference (src/load/main.py:34-60) delegates all
    validation to BigQuery's load job; this is the native-engine
    equivalent a pipeline runs before promoting a landed batch.

    Scale shape: ONE conditional-aggregation pass per table (all range +
    domain + uniqueness rules share it, map-side combined), plus one
    key-projected left-anti join per FK rule; output is bounded by the
    rule count. No per-rule table scans."""
    li = t(spark, sf_dir, "lineitem")
    ord_ = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")

    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("quantity_range"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("discount_range"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias("price_positive"),
        F.sum((~F.col("l_returnflag").isin("A", "N", "R")).cast("long")).alias(
            "returnflag_domain"
        ),
    )
    ord_agg = ord_.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")).alias(
            "status_domain"
        ),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("totalprice_positive"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("orderdate_bounds"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")))
        .cast("long")
        .alias("pk_unique"),
    )

    li_rules = _rule_rows(
        li_agg,
        "lineitem",
        "n",
        ["quantity_range", "discount_range", "price_positive", "returnflag_domain"],
    )
    ord_rules = _rule_rows(
        ord_agg,
        "orders",
        "n",
        ["status_domain", "totalprice_positive", "orderdate_bounds", "pk_unique"],
    )

    # FK rules: ONE key-projected left join per rule yields checked and
    # failed counts together (a NULL parent key == an orphan) — no
    # second scan for the denominator; the shuffle payload is one
    # BIGINT column per side.
    def fk_rule(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, rule: str) -> DataFrame:
        return (
            child.select(ckey)
            .join(
                parent.select(pkey).distinct(),
                F.col(ckey) == F.col(pkey),
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(pkey).isNull().cast("long")).alias("n_failed"),
            )
            .select(F.lit(rule).alias("rule"), "n", "n_failed")
        )

    fk_cust = fk_rule(ord_, "o_custkey", cust, "c_custkey", "orders.fk_custkey")
    fk_ord = fk_rule(li, "l_orderkey", ord_, "o_orderkey", "lineitem.fk_orderkey")

    report = li_rules.unionByName(ord_rules).unionByName(fk_cust).unionByName(fk_ord)
    return report.select(
        "rule",
        F.col("n").cast("long").alias("n_checked"),
        F.col("n_failed").cast("long").alias("n_failed"),
        r4(F.col("n_failed") / F.nullif(F.col("n"), F.lit(0))).alias("fail_rate"),
    )


# ---------------------------------------------------------------------------
# snapshot_diff — CDC between two table versions
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH old_snap AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 10 <> 7
), new_snap AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 250.0
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 10 = 9 THEN '1-URGENT'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 10 <> 3
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS order_key,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       round(o.o_totalprice, 2)  AS old_price,
       round(n.o_totalprice, 2)  AS new_price,
       o.o_orderpriority         AS old_priority,
       n.o_orderpriority         AS new_priority
FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
"""


@query("snapshot_diff", oracle=_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (table CDC): compare two versions of a table and
    emit only the delta rows, classified added / removed / changed with
    the before/after values of the compared columns.

    The two versions are derived deterministically from `orders` so the
    query is self-contained on the fixtures: the old snapshot is missing
    keys ending in 7 (they become `added`), the new snapshot drops keys
    ending in 3 (`removed`), re-prices keys ending in 5 and re-prioritises
    keys ending in 9 (`changed`); everything else is unchanged and is NOT
    emitted — the output is bounded by the delta size, not the table.

    Scale shape: one full-outer join keyed on the snapshot PK. Both
    sides project only the key + compared columns before the join, and
    with snapshots maintained as bucketed managed tables
    (sinks.write_bucketed on the PK) the sort-merge join needs no
    shuffle at any scale. Column comparison is null-safe (`<=>`), so
    NULL→value and value→NULL edits are detected."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old_snap = base.filter(F.col("o_orderkey") % 10 != 7)
    new_snap = base.filter(F.col("o_orderkey") % 10 != 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 5, F.col("o_totalprice") + 250.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 10 == 9, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )

    delta = diff_snapshots(
        old_snap, new_snap, "o_orderkey", ["o_totalprice", "o_orderpriority"]
    )
    return delta.select(
        F.col("o_orderkey").alias("order_key"),
        "change_type",
        F.round(F.col("old_o_totalprice"), 2).alias("old_price"),
        F.round(F.col("new_o_totalprice"), 2).alias("new_price"),
        F.col("old_o_orderpriority").alias("old_priority"),
        F.col("new_o_orderpriority").alias("new_priority"),
    )


def diff_snapshots(
    old_snap: DataFrame,
    new_snap: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Generic snapshot diff: full-outer join two table versions on
    `key`, classify each key as added / removed / changed (null-safe
    compare over `compare_cols` — NULL->value and value->NULL edits are
    detected), drop unchanged keys. Output: key, change_type, and
    old_<col> / new_<col> for every compared column.

    The builder behind the snapshot_diff query; also the diff engine
    for versioned tables (sinks.publish_version/read_version — diff any
    two retained versions). Output size is bounded by the delta; with
    both versions bucketed on `key` the sort-merge join plans
    shuffle-free."""
    o = old_snap.select(key, *compare_cols).alias("o")
    n = new_snap.select(key, *compare_cols).alias("n")
    ok, nk = F.col(f"o.{key}"), F.col(f"n.{key}")
    joined = o.join(n, ok == nk, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~(F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")))
    delta = joined.filter(ok.isNull() | nk.isNull() | changed)
    return delta.select(
        F.coalesce(ok, nk).alias(key),
        F.when(ok.isNull(), F.lit("added"))
        .when(nk.isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in compare_cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in compare_cols],
    )


# ---------------------------------------------------------------------------
# dq_quarantine_split — per-row rule evaluation with reason codes
# ---------------------------------------------------------------------------

_QUARANTINE_ORACLE = """
SELECT l_orderkey, l_linenumber,
       round(l_quantity, 2) AS quantity,
       round(l_discount, 2) AS discount,
       concat_ws(',',
           CASE WHEN l_quantity > 45 THEN 'qty_gt_45' END,
           CASE WHEN l_discount > 0.08 THEN 'disc_gt_008' END,
           CASE WHEN l_tax > 0.07 THEN 'tax_gt_007' END
       ) AS reasons
FROM lineitem
WHERE l_quantity > 45 OR l_discount > 0.08 OR l_tax > 0.07
"""


@query("dq_quarantine_split", oracle=_QUARANTINE_ORACLE)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine: evaluate a rule profile against every row
    and emit the failing rows with a deterministic comma-joined reason
    list (fixed rule order) — the reject-path of a validated load, the
    per-row complement of dq_expectations' suite report. The profile
    here is a deliberately strict demo profile (the fixtures pass every
    real integrity rule, which would make the reject path untestable).

    Scale shape: a single scan-side projection+filter — every rule is a
    codegen'd column expression, no shuffle at all; the valid/quarantine
    split writes as two partitioned sinks in the streaming twin
    (streaming/ingest_stream.py handles the epoch-stamped variant)."""
    li = t(spark, sf_dir, "lineitem")
    reasons = F.concat_ws(
        ",",
        F.when(F.col("l_quantity") > 45, F.lit("qty_gt_45")),
        F.when(F.col("l_discount") > 0.08, F.lit("disc_gt_008")),
        F.when(F.col("l_tax") > 0.07, F.lit("tax_gt_007")),
    )
    return (
        li.withColumn("reasons", reasons)
        .filter(F.col("reasons") != "")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity", 2).alias("quantity"),
            F.round("l_discount", 2).alias("discount"),
            "reasons",
        )
    )


# ---------------------------------------------------------------------------
# pipeline_dataset_card — corpus-level observability rollup
# ---------------------------------------------------------------------------

_CARD_ORACLE = """
WITH g AS (
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
           (length(text) - length(replace(text, ' ', '')) + 1)
               BETWEEN 50 AND 100000
             AND round((length(text)
                        - (length(text) - length(replace(text, ' ', '')) + 1)
                        + 1) * 1.0
                       / (length(text) - length(replace(text, ' ', '')) + 1), 4)
                 BETWEEN 3.0 AND 10.0
             AND round(len(list_filter(string_split(text, ' '),
                                       w -> regexp_matches(w, '[a-z]'))) * 1.0
                       / (length(text) - length(replace(text, ' ', '')) + 1), 4)
                 >= 0.8
             AND round(len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1.0
                       / (length(text) - length(replace(text, ' ', '')) + 1), 4)
                 <= 0.1 AS passes_gopher,
           lang = 'en' AS is_en,
           source,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_fp
    FROM documents
),
a AS (
    SELECT count(*)                        AS n_docs,
           sum(n_words)                    AS total_tokens,
           avg(n_words)                    AS avg_doc_tokens,
           median(n_words)                 AS p50_doc_tokens,
           avg(CASE WHEN is_en THEN 1.0 ELSE 0.0 END)           AS pct_en,
           count(DISTINCT source)          AS n_sources,
           1.0 - count(DISTINCT norm_fp) * 1.0 / NULLIF(count(*), 0) AS dup_rate,
           avg(CASE WHEN passes_gopher THEN 1.0 ELSE 0.0 END)   AS pass_rate
    FROM g
)
SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM a
UNION ALL SELECT 'avg_doc_tokens', round(avg_doc_tokens, 4) FROM a
UNION ALL SELECT 'p50_doc_tokens', round(p50_doc_tokens, 4) FROM a
UNION ALL SELECT 'pct_lang_en', round(pct_en, 4) FROM a
UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
UNION ALL SELECT 'exact_dup_rate', round(dup_rate, 4) FROM a
UNION ALL SELECT 'gopher_pass_rate', round(pass_rate, 4) FROM a
"""


@query("pipeline_dataset_card", oracle=_CARD_ORACLE)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics rollup: the one-page corpus summary every
    training-data release ships (size, token budget, length
    distribution, language mix, source diversity, duplication rate,
    quality pass rate) as (metric, value) rows.

    Composition, not reimplementation: the quality gate composes
    text.gopher_exprs — the same in-row EXPRESSION (identical rounded
    gate arithmetic) text_gopher_quality registers — into this plan's
    own single projection; the dup-rate fingerprint is
    text_fingerprint's normalized md5. One source of truth for each
    statistic, with zero extra scans: the r7 formulation joined the
    composed text_gopher_quality PLAN, which re-read the raw text
    column — 2x I/O on the most expensive column for 1x information
    (VERDICT r7 item 1).

    Scale shape: ONE raw-text pass computes every per-doc stat
    scan-side, then a single global aggregate (two expand-style
    distinct counts share it); no join anywhere; output is a constant
    8 rows at any corpus size."""
    from .text import _word_count_expr, gopher_exprs

    docs = t(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id",
        _word_count_expr("text").alias("n_words"),
        (F.col("lang") == "en").alias("is_en"),
        "source",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias(
            "norm_fp"
        ),
        gopher_exprs("text")["passes_gopher"].alias("passes_gopher"),
    )
    a = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.avg("n_words").alias("avg_doc_tokens"),
        F.median("n_words").alias("p50_doc_tokens"),
        F.avg(F.col("is_en").cast("double")).alias("pct_en"),
        F.count_distinct("source").alias("n_sources"),
        (
            F.lit(1.0)
            - F.count_distinct("norm_fp")
            * F.lit(1.0)
            / F.nullif(F.count(F.lit(1)), F.lit(0))
        ).alias("dup_rate"),
        F.avg(F.col("passes_gopher").cast("double")).alias("pass_rate"),
    )
    stack = ", ".join(
        [
            "'n_docs', cast(n_docs as double)",
            "'total_tokens', cast(total_tokens as double)",
            "'avg_doc_tokens', round(avg_doc_tokens, 4)",
            "'p50_doc_tokens', round(p50_doc_tokens, 4)",
            "'pct_lang_en', round(pct_en, 4)",
            "'n_sources', cast(n_sources as double)",
            "'exact_dup_rate', round(dup_rate, 4)",
            "'gopher_pass_rate', round(pass_rate, 4)",
        ]
    )
    return a.selectExpr(f"stack(8, {stack}) as (metric, value)")


# ---------------------------------------------------------------------------
# dq_ks_drift — distribution-drift detection (two-sample KS on a grid)
# ---------------------------------------------------------------------------

_KS_BINS = 256
_KS_A = "click"
_KS_B = "purchase"

_KS_ORACLE = f"""
WITH vals AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('{_KS_A}', '{_KS_B}')
),
b AS (
    SELECT min(value) AS mn, max(value) AS mx FROM vals
),
binned AS (
    SELECT event_type,
           least(CAST(floor((value - mn) * {_KS_BINS}.0
                            / NULLIF(mx - mn, 0.0)) AS BIGINT),
                 {_KS_BINS - 1}) AS bin
    FROM vals CROSS JOIN b
),
counts AS (
    SELECT bin,
           sum(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS cb
    FROM binned GROUP BY bin
),
cum AS (
    SELECT bin, ca, cb,
           sum(ca) OVER (ORDER BY bin) * 1.0
               / NULLIF((SELECT sum(ca) FROM counts), 0) AS fa,
           sum(cb) OVER (ORDER BY bin) * 1.0
               / NULLIF((SELECT sum(cb) FROM counts), 0) AS fb,
           (ca + 0.5) / ((SELECT sum(ca) FROM counts) + 0.5 * {_KS_BINS}.0)
               AS pa,
           (cb + 0.5) / ((SELECT sum(cb) FROM counts) + 0.5 * {_KS_BINS}.0)
               AS pb
    FROM counts
)
SELECT round(max(abs(fa - fb)), 4)  AS ks_distance,
       round(sum((pa - pb) * ln(pa / pb)), 4) AS psi,
       CAST((SELECT sum(ca) FROM counts) AS BIGINT) AS n_a,
       CAST((SELECT sum(cb) FROM counts) AS BIGINT) AS n_b
FROM cum
"""


@query("dq_ks_drift", oracle=_KS_ORACLE)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: the two-sample Kolmogorov-Smirnov
    distance AND the population stability index (PSI, Laplace-smoothed
    bin shares so empty bins can't hit ln(0)) between two segments'
    value distributions (here the 'click' vs 'purchase' event types),
    computed on a fixed 256-bin grid — the two standard drift monitors
    a production pipeline runs between yesterday's and today's feature
    distribution before trusting a batch.

    Grid-based on purpose: the exact KS statistic needs a global sort
    of every value (single-partition at 100 TB); quantizing to a fixed
    grid makes the cumulative step a window over <=256 AGGREGATED rows
    (bounded input — the only safe global window), at the cost of
    discretization error <= 1 bin of CDF resolution. Scale shape: one
    conditional-count shuffle on the bin key, then constant-size window
    + max. The global min/max is a 1-row broadcast."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    ).select("event_type", "value")
    b = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                * float(_KS_BINS)
                / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0))
            ).cast("long"),
            F.lit(_KS_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum((F.col("event_type") == _KS_A).cast("long")).alias("ca"),
        F.sum((F.col("event_type") == _KS_B).cast("long")).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    # PSI uses Laplace-smoothed bin shares (+0.5 per bin) so empty bins
    # cannot produce ln(0) — same smoothing on both engines.
    cum = counts.crossJoin(F.broadcast(tot)).select(
        (F.sum("ca").over(w) * 1.0 / F.nullif(F.col("na"), F.lit(0))).alias("fa"),
        (F.sum("cb").over(w) * 1.0 / F.nullif(F.col("nb"), F.lit(0))).alias("fb"),
        ((F.col("ca") + 0.5) / (F.col("na") + 0.5 * _KS_BINS)).alias("pa"),
        ((F.col("cb") + 0.5) / (F.col("nb") + 0.5 * _KS_BINS)).alias("pb"),
        "na",
        "nb",
    )
    return cum.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 4).alias("ks_distance"),
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
            4,
        ).alias("psi"),
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
    )


# ---------------------------------------------------------------------------
# dq_column_profile — ANALYZE-style per-column statistics report
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
    SELECT '{c}' AS column_name,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT)   AS n_distinct,
           CAST(min({c}) AS VARCHAR)             AS min_value,
           CAST(max({c}) AS VARCHAR)             AS max_value,
           (SELECT CAST(v AS VARCHAR) FROM (
                SELECT {c} AS v, count(*) AS cnt FROM orders
                WHERE {c} IS NOT NULL
                GROUP BY {c}
                ORDER BY cnt DESC, CAST({c} AS VARCHAR) LIMIT 1))
               AS top_value
    FROM orders""")
    return "\nUNION ALL\n".join(parts)


@query("dq_column_profile", oracle=_profile_oracle())
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders table: per column the
    null count, exact distinct count, min/max (rendered as strings so
    one report row type covers every column type), and the most
    frequent value (count desc, string tie-break) — the statistics a
    data catalog shows and a cost-based optimizer feeds on.

    Scale shape: the null/distinct/min-max block is ONE shared
    scan + per-column aggregates; each top-value needs its own grouped
    count (cardinality-bounded by the column's domain). At 100 TB this
    is the scheduled ANALYZE maintenance job, and the exact distinct
    swaps for approx_count_distinct — same report schema."""
    orders = t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(F.col(c))).cast("long").alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    base = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    stats = base.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) as "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )
    tops = None
    for c in _PROFILE_COLS:
        topc = (
            orders.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "v")
            .limit(1)
            .select(F.lit(c).alias("column_name"), F.col("v").alias("top_value"))
        )
        tops = topc if tops is None else tops.unionByName(topc)
    return stats.join(tops, "column_name", "left").select(
        "column_name", "n_nulls", "n_distinct", "min_value", "max_value", "top_value"
    )


# ---------------------------------------------------------------------------
# dq_freshness — ingestion-freshness / staleness report
# ---------------------------------------------------------------------------

_FRESHNESS_ORACLE = """
WITH hwm AS (SELECT max(ts) AS global_max FROM events)
SELECT event_type,
       max(ts)                           AS last_event,
       CAST(count(*) AS BIGINT)          AS n_events,
       CAST(floor((floor(epoch(global_max)) - floor(epoch(max(ts)))) / 60)
            AS BIGINT) AS minutes_behind,
       CAST(sum(CASE WHEN ts >= global_max - INTERVAL 24 HOUR
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h,
       floor((floor(epoch(global_max)) - floor(epoch(max(ts)))) / 60) > 120
           AS is_stale
FROM events CROSS JOIN hwm
GROUP BY event_type, global_max
"""


@query("dq_freshness", oracle=_FRESHNESS_ORACLE)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-freshness report: per source stream (event_type), the
    last event seen, how many minutes it lags the newest data anywhere
    (the high-water mark), last-24h volume, and a staleness flag at a
    2-hour threshold — the monitor that catches one silent upstream
    (the reference's Pub/Sub chain drops a subscription and nobody
    notices until the dashboard flatlines; this query IS the notice).

    The lag is measured against the data's own high-water mark, not
    wall clock, so the report is deterministic over a fixture and
    equally valid on a live table (the HWM then approximates now).

    Scale shape: one global-max aggregate (1 row, broadcast back via
    crossJoin) and one per-source aggregate pass — both map-side
    combined; output is one row per source."""
    ev = t(spark, sf_dir, "events")
    hwm = ev.agg(F.max("ts").alias("global_max"))
    j = ev.crossJoin(F.broadcast(hwm))
    minutes_behind = F.floor(
        (
            F.unix_timestamp(F.max("global_max"))
            - F.unix_timestamp(F.max("ts"))
        )
        / 60
    ).cast("long")
    return j.groupBy("event_type").agg(
        F.max("ts").alias("last_event"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        minutes_behind.alias("minutes_behind"),
        F.sum(
            (
                F.col("ts")
                >= F.col("global_max") - F.expr("INTERVAL 24 HOURS")
            ).cast("long")
        ).alias("n_last_24h"),
        (minutes_behind > 120).alias("is_stale"),
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS rel,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem->supplier',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema — the referential
    half of the DQ surface (dq_expectations covers row-level rules,
    this covers cross-table integrity): for each FK relationship, total
    child rows and how many reference a missing parent. A warehouse
    that ingests facts and dims from independent feeds (exactly the
    reference's per-table load functions) drifts here first.

    Scale shape (r17, guide §2.4 — share one scan per CHILD table):
    each child table is scanned ONCE and all its FK checks ride that
    scan as NOT EXISTS predicates, which Catalyst plans as existence
    joins (a BroadcastHashJoin/SortMergeJoin emitting an exists flag —
    duplicate-parent-safe with NO parent-side distinct, the same
    mechanics as the anti-join it replaces), folded into a single
    aggregate — count(1) is n_child and sum(NOT exists) per relation is
    its orphan count, reshaped to the per-relation rows by one bounded
    explode. The previous shape paid six lineitem subtrees (three
    key-projected anti-join scans + three count scans) and three
    crossJoins — measured 20 exchanges and ~1.1 s at sf0.1 vs 8
    exchanges / ~0.4 s for this plan. Small parents broadcast under AQE
    exactly as before; at 100 TB the orders-key existence join degrades
    to ONE sort-merge shuffle of lineitem — the same single big-table
    exchange the best per-relation plan paid, but the fact table is
    read once instead of six times. No driver collects."""

    def fk_report(child: DataFrame, alias: str, checks) -> DataFrame:
        """checks: [(rel, exists_sql, parent_name, parent_df)] — one
        templated aggregate over `child` (aliased `alias` for the
        correlated predicates), one explode back to
        (rel, n_child, n_orphans) rows. coalesce() covers the empty
        child table, where sum() over zero rows is NULL but the oracle's
        count-based form yields 0."""
        views = {name: df for _rel, _sql, name, df in checks}
        sums = ",\n".join(
            f"coalesce(sum(CASE WHEN NOT EXISTS ({sql}) THEN 1 ELSE 0 "
            f"END), 0) AS _orph_{i}"
            for i, (_rel, sql, _n, _df) in enumerate(checks)
        )
        agg = spark.sql(
            f"SELECT count(1) AS n_child, {sums} FROM {{child}} {alias}",
            child=child,
            **views,
        )
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rel).alias("rel"),
                            F.col("n_child").alias("n_child"),
                            F.col(f"_orph_{i}").cast("long").alias("n_orphans"),
                        )
                        for i, (rel, _sql, _n, _df) in enumerate(checks)
                    ]
                )
            ).alias("r")
        ).select("r.rel", "r.n_child", "r.n_orphans")

    def build() -> DataFrame:
        li = t(spark, sf_dir, "lineitem")
        orders = t(spark, sf_dir, "orders")
        cust = t(spark, sf_dir, "customer")
        return (
            fk_report(
                li,
                "l",
                [
                    ("lineitem->orders",
                     "SELECT 1 FROM {o} o WHERE o.o_orderkey = l.l_orderkey",
                     "o", orders),
                    ("lineitem->part",
                     "SELECT 1 FROM {p} p WHERE p.p_partkey = l.l_partkey",
                     "p", t(spark, sf_dir, "part")),
                    ("lineitem->supplier",
                     "SELECT 1 FROM {s} s WHERE s.s_suppkey = l.l_suppkey",
                     "s", t(spark, sf_dir, "supplier")),
                ],
            )
            .unionByName(fk_report(
                orders,
                "o2",
                [("orders->customer",
                  "SELECT 1 FROM {c} c WHERE c.c_custkey = o2.o_custkey",
                  "c", cust)],
            ))
            .unionByName(fk_report(
                cust,
                "c2",
                [("customer->nation",
                  "SELECT 1 FROM {n} n WHERE n.n_nationkey = c2.c_nationkey",
                  "n", t(spark, sf_dir, "nation"))],
            ))
        )

    # the analyzer pass over the three correlated-EXISTS templates is
    # ~0.7 s of per-call driver work for a byte-identical plan every
    # time — memoize the built DataFrame per fixture dir, versioned on
    # the six tables it reads so a rewritten table re-plans (the plan
    # pins each table's file listing); execution still runs in full per
    # call
    from .util import fixture_version, memo

    tables = ("lineitem", "orders", "part", "supplier", "customer", "nation")
    version = fixture_version(spark, sf_dir, *tables)
    return memo(spark, ("dq_ref_integrity_plan", sf_dir), version, build)


# ---------------------------------------------------------------------------
# dq_benford — first-significant-digit distribution test
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
    SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders
    WHERE o_totalprice >= 1
),
c AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
),
w AS (
    SELECT digit, n, sum(n) OVER () AS tot FROM c
)
SELECT digit, n,
       round(n * 1.0 / tot, 4)                    AS obs_share,
       round(log10(1.0 + 1.0 / digit), 4)         AS exp_share,
       round(tot * pow(n * 1.0 / tot - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit), 4)       AS chi2_term
FROM w
"""


@query("dq_benford", oracle=_BENFORD_ORACLE)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformance test over order
    totals — the classic fabricated-/corrupted-numeric-column screen
    (auditing lineage: Nigrini 1996; a synthetic or truncated money
    column deviates from log10(1+1/d) immediately). Emits per digit the
    observed count/share, the Benford expectation, and the chi-square
    contribution; a reviewer thresholds the chi-square sum.

    Scale shape: one map-side-combined 9-group aggregate over a single
    projected column — the cheapest possible full-scan profile — then a
    global window over the fixed 9-row digit table (bounded by
    construction, allow-listed). The per-row digit extraction is a
    string head on a bigint cast, identical in both engines (no
    float-format round-trip: floor-to-bigint first).

    Reference parity: the reference trusts BigQuery's load-job checks
    and ships no numeric-forensics pass (src/load/main.py:58-84); this
    is part of the validation family a native engine owns itself
    (SURVEY.md §2.2 DQ row)."""
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders")
    # values in [0, 1) would floor to a digit-0 row whose Benford
    # expectation log10(1 + 1/0) is infinite on both engines — the
    # first-significant-digit law is defined on magnitudes >= 1, so the
    # sub-1 tail is excluded identically on both sides (a real screen
    # would rescale such columns first)
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(W.partitionBy())
    obs = F.col("n") * 1.0 / F.col("tot")
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        counts.withColumn("tot", tot)
        .select(
            "digit",
            "n",
            F.round(obs, 4).alias("obs_share"),
            F.round(exp, 4).alias("exp_share"),
            F.round(F.col("tot") * F.pow(obs - exp, 2) / exp, 4).alias(
                "chi2_term"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dq_column_entropy — per-column Shannon entropy profile
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH melted AS (
    SELECT 'l_returnflag' AS col, l_returnflag AS val FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', l_linestatus FROM lineitem
    UNION ALL
    SELECT 'l_quantity', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
    FROM lineitem
),
c AS (
    SELECT col, val, CAST(count(*) AS BIGINT) AS n
    FROM melted GROUP BY 1, 2
),
tot AS (
    SELECT col, CAST(sum(n) AS BIGINT) AS nt,
           CAST(count(*) AS BIGINT) AS k
    FROM c GROUP BY 1
)
SELECT c.col, k AS n_distinct,
       round(-sum((n * 1.0 / nt) * ln(n * 1.0 / nt)), 4) AS entropy,
       round(CASE WHEN k = 1 THEN 0.0
                  ELSE -sum((n * 1.0 / nt) * ln(n * 1.0 / nt)) / ln(k * 1.0)
             END, 4) AS norm_entropy
FROM c JOIN tot ON c.col = tot.col
GROUP BY 1, 2
"""


@query("dq_column_entropy", oracle=_ENTROPY_ORACLE)
def dq_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and entropy normalized by ln of the distinct
    count) for the low-cardinality lineitem columns (the two categorical
    flags plus integer-valued quantity as a discrete column) — the
    information-content profile next to dq_column_profile's min/max/
    distinct stats: a near-zero normalized entropy flags a constant /
    degenerate column (dead dimension, broken upstream join), a
    near-one value a uniformly-spread key — the two ends every
    column-pruning and encoding-choice (dictionary vs raw) decision
    cares about.

    Scale shape: the melt is a scan-side stack projection (one corpus
    read for all profiled columns, not one per column), collapsing
    map-side to the (col, value) dictionary; entropy reduces the
    dictionary to one row per column. Value cardinality of categorical
    columns bounds every post-scan table."""
    li = t(spark, sf_dir, "lineitem")
    melted = li.select(
        F.expr(
            "stack(3, 'l_returnflag', l_returnflag,"
            " 'l_linestatus', l_linestatus,"
            " 'l_quantity', CAST(CAST(l_quantity AS BIGINT) AS STRING))"
            " as (col, val)"
        )
    )
    c = melted.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("col").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    p = F.col("n") * 1.0 / F.col("nt")
    return (
        c.join(F.broadcast(tot), "col")
        .groupBy("col", "k")
        .agg(F.sum(p * F.log(p)).alias("neg_h"))
        .select(
            "col",
            F.col("k").alias("n_distinct"),
            F.round(-F.col("neg_h"), 4).alias("entropy"),
            F.round(
                F.when(F.col("k") == 1, F.lit(0.0)).otherwise(
                    -F.col("neg_h") / F.log(F.col("k") * 1.0)
                ),
                4,
            ).alias("norm_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# dq_functional_dependency — candidate-FD violation profile
# ---------------------------------------------------------------------------

_FD_ORACLE = """
WITH fd1 AS (
    SELECT 'o_custkey->o_orderpriority' AS fd,
           CAST(count(*) AS BIGINT) AS n_det,
           CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(max(k) AS BIGINT) AS max_dep_per_det
    FROM (
        SELECT o_custkey, count(DISTINCT o_orderpriority) AS k
        FROM orders GROUP BY o_custkey
    )
),
fd2 AS (
    SELECT 'l_orderkey->l_returnflag' AS fd,
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(k) AS BIGINT)
    FROM (
        SELECT l_orderkey, count(DISTINCT l_returnflag) AS k
        FROM lineitem GROUP BY l_orderkey
    )
),
fd3 AS (
    SELECT 'o_orderkey->o_orderdate' AS fd,
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(k) AS BIGINT)
    FROM (
        SELECT o_orderkey, count(DISTINCT o_orderdate) AS k
        FROM orders GROUP BY o_orderkey
    )
)
SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL SELECT * FROM fd3
"""


@query("dq_functional_dependency", oracle=_FD_ORACLE)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate functional-dependency violation profile (the
    Metanome/profiling-suite primitive): for each candidate A -> B,
    how many distinct A values exist, how many map to MORE than one B
    (violations), and the worst fan-out. A key->attribute FD that holds
    (o_orderkey -> o_orderdate: 0 violations) certifies the key; a
    violated candidate (l_orderkey -> l_returnflag) quantifies how far
    a denormalization or a dedup-survivor pick would be lossy.

    Scale shape: each candidate is one two-column projected scan
    collapsing to (A, distinct-B count) map-side — the same shape as
    dq_column_profile's distinct pass — then a 4-number reduction; the
    report is constant-size. Candidates are evaluated independently
    (no cross-pair state), so widening the candidate list parallelizes
    trivially."""
    out = None
    for fd, table, det, dep in [
        ("o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
        ("l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
        ("o_orderkey->o_orderdate", "orders", "o_orderkey", "o_orderdate"),
    ]:
        per_det = (
            t(spark, sf_dir, table)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("k"))
        )
        rep = per_det.agg(
            F.lit(fd).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_det"),
            F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.max("k").cast("bigint").alias("max_dep_per_det"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out


# ---------------------------------------------------------------------------
# dq_anomaly_mad — robust (median/MAD) outlier screen
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
    WITH c AS (
        SELECT event_type AS grp, event_id,
               CAST(round(value * 100) AS BIGINT) AS cts
        FROM events
    ),
    m AS (
        SELECT grp, CAST(round(2 * median(cts)) AS BIGINT) AS med_hc
        FROM c GROUP BY grp
    ),
    d AS (
        SELECT c.grp, event_id, cts,
               abs(2 * cts - med_hc) AS dev_hc
        FROM c JOIN m USING (grp)
    ),
    mad AS (
        SELECT grp, CAST(round(2 * median(dev_hc)) AS BIGINT) AS mad_qc
        FROM d GROUP BY grp
    )
    SELECT d.grp, event_id,
           cts / 100.0 AS value,
           ((40000 * dev_hc + mad_qc) // nullif(2 * mad_qc, 0)) / 10000.0
               AS robust_z
    FROM d JOIN mad USING (grp)
    WHERE mad_qc > 0 AND 2 * dev_hc >= 5 * mad_qc
"""


@query("dq_anomaly_mad", oracle=_MAD_ORACLE)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: per-group median/MAD z-score over order
    value, flagging rows whose |value - median| is >= 5 MADs — the
    heavy-tail-safe anomaly detector (mean/stddev z-scores let one whale
    inflate sigma and mask every other outlier; the median/MAD pair has
    a 50% breakdown point). The ops twin of embed_outlier_detection's
    centroid z-score, on the events value stream (order totals are
    sums of many items — near-normal, nothing past ~2 MADs — while
    per-event values are the classic heavy-tailed metric: sf0.01
    carries ~430 genuine >=5-MAD events).

    Exact integer core throughout (the r9 margin-sweep discipline
    applied to a NEW operator up front, not retrofitted): prices are
    2dp so cents are bigint; the median of integers interpolates at
    worst to .5, so 2*median is exact in half-cents; deviations are
    bigint half-cents and the MAD re-median is exact in quarter-cents.
    Both the flag predicate (2*dev_hc >= 5*mad_qc, pure bigint — the
    flagged SET cannot flip with summation order or engine) and the
    reported z (integer half-up division) are exact; the only doubles
    are the two final display divisions, bit-identical on both engines.
    Zero-MAD groups (majority-constant values: every non-median row
    would be "infinitely" outlying) are excluded rather than flooded —
    dq_column_entropy is the right screen for those.

    Scale shape: two map-side-combined percentile aggregates over a
    bounded group count, each joined back broadcast (group-level stats
    are dims); one projected scan carries (grp, key, cents). At true
    100 TB per-group cardinality the exact median swaps for
    percentile_approx with everything downstream unchanged."""
    ev = t(spark, sf_dir, "events")
    from .util import cents

    c = ev.select(
        F.col("event_type").alias("grp"),
        "event_id",
        cents("value").alias("cts"),
    )
    m = c.groupBy("grp").agg(
        F.round(2 * F.percentile("cts", F.lit(0.5))).cast("long").alias("med_hc")
    )
    d = c.join(F.broadcast(m), "grp").withColumn(
        "dev_hc", F.abs(2 * F.col("cts") - F.col("med_hc"))
    )
    mad = d.groupBy("grp").agg(
        F.round(2 * F.percentile("dev_hc", F.lit(0.5)))
        .cast("long")
        .alias("mad_qc")
    )
    return (
        d.join(F.broadcast(mad), "grp")
        .filter(
            (F.col("mad_qc") > 0)
            & (2 * F.col("dev_hc") >= 5 * F.col("mad_qc"))
        )
        .select(
            "grp",
            "event_id",
            (F.col("cts") / 100.0).alias("value"),
            (
                F.expr("(40000 * dev_hc + mad_qc) div nullif(2 * mad_qc, 0)")
                / 10000.0
            ).alias("robust_z"),
        )
    )
