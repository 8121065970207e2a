"""Time-windowed event analytics (batch shape of the streaming surface):
tumbling / sliding windows, sessionization, keyed dedup, pivot
(SURVEY.md §2.2 "Streaming"; the streaming executions of the same shapes
live in streaming/ and are pytest-verified — these batch twins are the
oracle-checkable versions).

Scale notes: F.window() is a plain projection (bucket arithmetic) followed
by an ordinary hash aggregate — it scales like any group-by. Sessionization
is one shuffle on user_id + a per-user sort; session keys grow with users,
not events, so partitions stay balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..queries import query
from .util import cents, r2, r4, rbin, t


@query(
    "events_tumbling",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*)            AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregation (epoch-aligned, same as
    date_trunc('hour'))."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), r2(F.sum("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query(
    "events_sliding",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    x AS (
        SELECT make_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                               - off) * 1000000) AS window_start,
               value
        FROM e, UNNEST([0, 1800]) AS u(off)
    )
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM x
    GROUP BY window_start
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): every event lands in two
    overlapping windows. The oracle reproduces Spark's bucket assignment
    arithmetic explicitly (30-min-aligned start and its predecessor)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), r2(F.sum("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@query(
    "events_session",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - coalesce(lag(ts) OVER w, ts - INTERVAL 99 HOUR)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id,
           min(ts)              AS session_start,
           max(ts)              AS session_end,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag -> gap flag ->
    running-sum session id -> per-session aggregate. (Streaming twin:
    F.session_window, see streaming/.)"""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    with_sess = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        r2(F.sum("value")).alias("total_value"),
    )


@query(
    "events_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest row per (user, type).

    Deliberately a window rank, not dropDuplicates: dropDuplicates keeps an
    arbitrary (partition-order-dependent) row, which is fine for idempotent
    ingest but not for a deterministic 'first event' semantic. (Streaming
    twin: dropDuplicatesWithinWatermark, see streaming/.)
    """
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@query(
    "events_pivot",
    oracle="""
    SELECT user_id,
           count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           count(CASE WHEN event_type = 'view'     THEN 1 END) AS view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'error'    THEN 1 END) AS error
    FROM events
    GROUP BY user_id
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user into one column per event type (explicit
    value list => static schema, single aggregation pass)."""
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = ev.groupBy("user_id").pivot("event_type", types).count()
    # pivot yields NULL for absent combinations; align with COUNT's 0.
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in types],
    )


@query(
    "events_gapfill",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    spine AS (
        SELECT user_id,
               unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
                                      TIMESTAMP '2024-01-07 23:00:00',
                                      INTERVAL 1 HOUR)) AS hour
        FROM users
    ),
    hourly AS (
        SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
               round(sum(value), 2) AS hour_value,
               count(*) AS n_events
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <  TIMESTAMP '2024-01-08 00:00:00'
        GROUP BY 1, 2
    )
    SELECT s.user_id, s.hour,
           coalesce(h.n_events, 0) AS n_events,
           last_value(h.hour_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s LEFT JOIN hourly h
      ON s.user_id = h.user_id AND s.hour = h.hour
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: hourly per-user buckets over a
    fixed 3-day range, zero-filled counts, forward-filled (LOCF) values —
    the hypertable-rollup shape time-series stores provide natively.

    The dense spine is generated distributedly (distinct users x
    sequence-explode — no driver-side range loop); the left join is an
    equi-join on (user, hour); the forward fill is last(ignorenulls) over
    a per-user window. One shuffle for the hourly agg, one for the join
    (co-partitioned on user_id by AQE), one per-user sort for the fill —
    at 100 TB the spine is |users| x |buckets| rows, generated in place,
    never collected.
    """
    ev = t(spark, sf_dir, "events")
    lo, hi_incl, hi_excl = (
        "2024-01-05 00:00:00",
        "2024-01-07 23:00:00",
        "2024-01-08 00:00:00",
    )
    users = ev.select("user_id").distinct()
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit(lo).cast("timestamp"),
                F.lit(hi_incl).cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    hourly = (
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi_excl).cast("timestamp"))
        )
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            r2(F.sum("value")).alias("hour_value"),
            F.count("*").alias("n_events"),
        )
    )
    joined = spine.join(hourly, ["user_id", "hour"], "left")
    fill_w = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("hour_value", ignorenulls=True).over(fill_w).alias("filled_value"),
    )


@query(
    "events_multires_rollup",
    oracle="""
    SELECT CASE WHEN grouping(hour) = 0 THEN 'hour'
                WHEN grouping(day) = 0  THEN 'day'
                ELSE 'total' END            AS resolution,
           day, hour, event_type,
           count(*)                         AS n,
           round(sum(value), 2)             AS total_value
    FROM (SELECT event_type, value,
                 date_trunc('day',  CAST(ts AS TIMESTAMP)) AS day,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
          FROM events
          WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
            AND ts <  TIMESTAMP '2024-01-12 00:00:00') e
    GROUP BY GROUPING SETS ((day, hour, event_type), (day, event_type),
                            (event_type))
    """,
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the continuous-aggregate /
    hypertable-rollup shape): hour, day, and total resolutions for each
    event type in ONE pass via GROUPING SETS — Spark's Expand operator
    replicates each row once per grouping set BEFORE the shuffle, so the
    three resolutions cost one aggregation instead of three scans."""
    ev = t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
    )
    e = ev.select(
        "event_type",
        "value",
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
    )
    grouped = e.groupingSets(
        [["day", "hour", "event_type"], ["day", "event_type"], ["event_type"]],
        "day",
        "hour",
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        r2(F.sum("value")).alias("total_value"),
        F.grouping("day").alias("_gd"),
        F.grouping("hour").alias("_gh"),
    )
    return grouped.select(
        F.when(F.col("_gh") == 0, "hour")
        .when(F.col("_gd") == 0, "day")
        .otherwise("total")
        .alias("resolution"),
        "day",
        "hour",
        "event_type",
        "n",
        "total_value",
    )


@query(
    "events_funnel",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                FROM events),
    fv AS (
        SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
        FROM ev GROUP BY user_id
    ),
    fc AS (
        SELECT e.user_id, min(e.ts) AS first_click
        FROM ev e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click' AND e.ts > fv.first_view
        GROUP BY e.user_id
    ),
    fp AS (
        SELECT e.user_id, min(e.ts) AS first_purchase
        FROM ev e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
        GROUP BY e.user_id
    )
    SELECT (SELECT count(first_view) FROM fv) AS n_view,
           (SELECT count(*) FROM fc)          AS n_view_click,
           (SELECT count(*) FROM fp)          AS n_view_click_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view -> later click -> later
    purchase): per stage, the count of users who completed it in order.
    Three grouped aggregates chained by equi-joins — each stage's input
    shrinks to the survivors of the previous one, and every join is on
    user_id, so AQE reuses/broadcasts the small survivor sets. At 100 TB
    the first aggregate is the only big shuffle.

    The fv/fc survivor frames feed BOTH the next stage and their own
    stage count, and Catalyst expands the DAG into a tree — uncached,
    fv's full event scan+aggregate evaluated 3x and fc's 2x (the
    t-digest double-evaluation class). A cached memo entry pins each
    to one evaluation: the cached rows are one (user_id,
    timestamp) pair per SURVIVING user — strictly cheaper at any scale
    than re-scanning raw events per reference (guide §5: cache when
    recomputation costs more than the memory, with disk spill as the
    backstop)."""
    from .util import fixture_version, memo

    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    version = fixture_version(spark, sf_dir, "events")
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts")))
    fv = memo(
        spark,
        ("events_funnel_fv", sf_dir),
        version,
        lambda: ev.groupBy("user_id").agg(first_view.alias("first_view")).cache(),
    )
    fc = memo(
        spark,
        ("events_funnel_fc", sf_dir),
        version,
        lambda: (
            ev.filter(F.col("event_type") == "click")
            .join(fv.filter(F.col("first_view").isNotNull()), "user_id")
            .filter(F.col("ts") > F.col("first_view"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("first_click"))
            .cache()
        ),
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    n_view = fv.agg(F.count("first_view").alias("n_view"))
    n_click = fc.agg(F.count("*").alias("n_view_click"))
    n_purch = fp.agg(F.count("*").alias("n_view_click_purchase"))
    return n_view.crossJoin(n_click).crossJoin(n_purch)


@query(
    "events_cohort_retention",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    cohort AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        FROM ev GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM ev
    )
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, a.active_day) AS day_offset,
           count(DISTINCT a.user_id)                    AS n_active
    FROM cohort c JOIN activity a ON c.user_id = a.user_id
    WHERE date_diff('day', c.cohort_day, a.active_day) BETWEEN 0 AND 7
    GROUP BY c.cohort_day, date_diff('day', c.cohort_day, a.active_day)
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on each
    of their first 8 active days — the standard product-analytics
    retention triangle. Two aggregates (cohort assignment, distinct
    activity days) joined on user_id; both shuffles are on user_id so AQE
    plans them into one exchange reuse; the final matrix is tiny."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("active_day")
    ).distinct()
    joined = cohort.join(activity, "user_id").withColumn(
        "day_offset", F.datediff("active_day", "cohort_day")
    )
    return (
        joined.filter(F.col("day_offset").between(0, 7))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id, value, CAST(ts AS TIMESTAMP) AS ts,
               lead(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        FROM events
    ),
    held AS (
        SELECT user_id, value,
               date_diff('second', ts, next_ts) AS held_s
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           round(sum(value * held_s) / sum(held_s), 4) AS twa_value,
           CAST(sum(held_s) AS BIGINT)                 AS observed_s
    FROM held
    GROUP BY user_id
    HAVING sum(held_s) > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each reading is weighted by how
    long it was the latest value (lead(ts) - ts) — the correct average
    for irregularly-sampled series, where the arithmetic mean
    over-weights bursts. One window (lag composition) + one aggregate,
    both partitioned on user_id."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    held = (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            "value",
            (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")).alias("held_s"),
        )
    )
    return (
        held.groupBy("user_id")
        .agg(
            r4(F.sum(F.col("value") * F.col("held_s")) / F.sum("held_s")).alias(
                "twa_value"
            ),
            F.sum("held_s").alias("observed_s"),
        )
        .filter(F.col("observed_s") > 0)
    )


@query(
    "events_week_over_week",
    oracle="""
    WITH weekly AS (
        SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
               event_type,
               round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2
    )
    SELECT week, event_type, total,
           round(lag(total) OVER (PARTITION BY event_type ORDER BY week), 2)
               AS prev_total,
           round((total - lag(total) OVER (PARTITION BY event_type ORDER BY week))
                 / NULLIF(lag(total) OVER (PARTITION BY event_type ORDER BY week), 0)
                 * 100.0, 2) AS pct_change
    FROM weekly
    """,
)
def events_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movers: weekly totals per event type with the
    previous week's value and percent change — aggregate-then-window, so
    the lag runs over |weeks|x|types| rows, never raw events. (Both
    engines truncate weeks to Monday.)"""
    ev = t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").alias("week"), "event_type"
    ).agg(r2(F.sum("value")).alias("total"))
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("total").over(w)
    return weekly.select(
        "week",
        "event_type",
        "total",
        r2(prev).alias("prev_total"),
        r2((F.col("total") - prev) / F.nullif(prev, F.lit(0.0)) * 100.0).alias(
            "pct_change"
        ),
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH stats AS (
        SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts,
               avg(value)        OVER (PARTITION BY user_id) AS mu,
               stddev_samp(value) OVER (PARTITION BY user_id) AS sigma,
               count(*)          OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT event_id, user_id, ts,
           round(value, 2)                    AS value,
           round((value - mu) / sigma, 4)     AS zscore
    FROM stats
    WHERE n >= 10 AND sigma > 0 AND abs((value - mu) / sigma) > 2.5
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier detection: events whose value sits more than
    2.5 sigma from that user's own mean (users with <10 events are
    skipped — too few points for a stable baseline). Window aggregates
    over the user partition, filter on the standardized score; the
    monitoring shape that feeds alerting at any scale."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = W.partitionBy("user_id")
    mu = F.avg("value").over(w)
    sigma = F.stddev_samp("value").over(w)
    n = F.count("*").over(w)
    z = (F.col("value") - mu) / sigma
    return (
        ev.withColumn("zscore_raw", z)
        .withColumn("n", n)
        .withColumn("sigma", sigma)
        .filter((F.col("n") >= 10) & (F.col("sigma") > 0) & (F.abs("zscore_raw") > 2.5))
        .select(
            "event_id",
            "user_id",
            "ts",
            r2("value").alias("value"),
            r4("zscore_raw").alias("zscore"),
        )
    )


@query(
    "events_ohlc",
    oracle="""
    WITH ranked AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_ts,
               value,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY ts, event_id)        AS rn_open,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT event_type, bar_ts,
           round(max(CASE WHEN rn_open = 1 THEN value END), 2)  AS open,
           round(max(value), 2)                                 AS high,
           round(min(value), 2)                                 AS low,
           round(max(CASE WHEN rn_close = 1 THEN value END), 2) AS close,
           count(*)                                             AS n_events,
           round(sum(value), 2)                                 AS volume
    FROM ranked
    GROUP BY event_type, bar_ts
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type (open/high/low/close + volume) —
    the classic time-series downsampling rollup. First/last-in-bar are
    pinned by (ts, event_id) row_number in BOTH engines (first_value /
    arg_min tie semantics differ across engines; an explicit rank does
    not), then one hash aggregate per bar. The window and the aggregate
    share the same (event_type, hour) partitioning, so the bar rollup
    costs a single shuffle at any scale."""
    ev = t(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    bar = F.date_trunc("hour", F.col("ts"))
    wo = W.partitionBy("event_type", bar).orderBy("ts", "event_id")
    wc = W.partitionBy("event_type", bar).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        bar.alias("bar_ts"),
        "value",
        F.row_number().over(wo).alias("rn_open"),
        F.row_number().over(wc).alias("rn_close"),
    )
    return ranked.groupBy("event_type", "bar_ts").agg(
        r2(F.max(F.when(F.col("rn_open") == 1, F.col("value")))).alias("open"),
        r2(F.max("value")).alias("high"),
        r2(F.min("value")).alias("low"),
        r2(F.max(F.when(F.col("rn_close") == 1, F.col("value")))).alias("close"),
        F.count("*").alias("n_events"),
        r2(F.sum("value")).alias("volume"),
    )


@query(
    "events_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events
    ),
    anchored AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor,
               CAST(count(*) AS BIGINT) AS len,
               min(d) AS streak_start
        FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id, len AS longest_streak_days, streak_start
    FROM (
        SELECT user_id, len, streak_start,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY len DESC, streak_start) AS rn
        FROM streaks
    ) WHERE rn = 1
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    islands-and-gaps pattern: distinct active days, each day minus its
    per-user row_number is CONSTANT within a consecutive run (the island
    anchor), so a plain groupBy on the anchor recovers every streak with
    no self-join and no iteration. Earliest streak wins length ties.

    Scale shape: one distinct over (user, day) — map-side combined, so
    the shuffle carries active days, not raw events — then one window
    and one groupBy, all partitioned on user_id (cardinality grows with
    the data; no global ordering anywhere)."""
    ev = t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    anchored = days.select(
        "user_id",
        "d",
        F.date_sub("d", F.row_number().over(w)).alias("anchor"),
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"), F.min("d").alias("streak_start")
    )
    w2 = W.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            "streak_start",
        )
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (the Markov-chain summary
    behind next-action models and funnel diagnostics): lead() pairs each
    event with the SAME user's next event — ordered by (ts, event_id) so
    simultaneous events have a deterministic successor — then one
    group-by over the (from, to) pairs.

    Scale shape: one shuffle on user_id for the lead window; the
    transition aggregate is tiny (|event_types|^2 groups) and collapses
    map-side."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "events_inter_arrival",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               CAST(ts AS TIMESTAMP) AS ts,
               epoch(CAST(ts AS TIMESTAMP)
                     - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY CAST(ts AS TIMESTAMP), event_id))
                   AS gap_s
        FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT)   AS n_gaps,
           round(avg(gap_s), 4)           AS avg_gap_s,
           round(stddev_samp(gap_s), 4)   AS sd_gap_s,
           CAST(floor(max(gap_s)) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time statistics per event type (per user-and-type
    stream): lag() yields each event's gap to the same user's previous
    event of that type; the aggregate summarizes burstiness — the metric
    behind rate-limit tuning and session-gap selection. Deterministic
    successor order via (ts, event_id).

    Scale shape: one shuffle on (user_id, event_type) for the lag
    window, then a tiny per-type aggregate with map-side combine."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        r4(F.avg("gap_s")).alias("avg_gap_s"),
        r4(F.stddev_samp("gap_s")).alias("sd_gap_s"),
        # explicit floor: Spark's double->bigint cast truncates while
        # DuckDB's rounds — floor on both sides pins one semantics
        F.floor(F.max("gap_s")).cast("bigint").alias("max_gap_s"),
    )


@query(
    "events_latency_percentiles",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT)                   AS n,
           round(quantile_cont(value, 0.5), 4)        AS p50,
           round(quantile_cont(value, 0.95), 4)       AS p95,
           round(max(value), 4)                       AS p100
    FROM events
    GROUP BY 1, 2
    """,
)
def events_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly P50/P95/max bands per event type — the standard
    observability rollup (latency/size SLO dashboards). Exact linear
    interpolation (Spark `percentile` == DuckDB `quantile_cont`,
    verified by the hash oracle) at test scale; at 100 TB swap in
    percentile_approx, whose t-digest-style sketch merges map-side
    (agg_percentile_approx ships that path).

    Scale shape: one group-by on (hour, type) — exact percentiles hold
    each group's values, so group cardinality (hours x types), not row
    count, bounds memory; the approx variant removes even that."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # one percentile buffer for both ranks: separate
            # percentile() aggs each hold their own copy of the group's
            # values — array form sorts once, reads twice
            F.expr("percentile(value, array(0.5, 0.95))").alias("pp"),
            r4(F.max("value")).alias("p100"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            r4(F.element_at("pp", 1)).alias("p50"),
            r4(F.element_at("pp", 2)).alias("p95"),
            "p100",
        )
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 4) AS value,
           round(m.med, 4)   AS type_median,
           round((e.value - m.med) / (1.4826 * d.mad), 4) AS robust_z
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN dev d ON e.event_type = d.event_type
    WHERE d.mad > 0
      AND abs(round((e.value - m.med) / (1.4826 * d.mad), 4)) > 3.5
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: events
    whose MAD-normalized score |v - median| / (1.4826 * MAD) exceeds
    3.5 for their event type. Unlike the z-score twin
    (events_anomaly_zscore), the median/MAD baseline doesn't get dragged
    by the outliers it is hunting — the standard robust alternative.

    The threshold compares the ROUNDED score (4dp, same on both sides)
    so borderline rows cannot flip between engines.

    Scale shape: two grouped exact-median aggregations (event_type keyed
    — group count is tiny, so both results broadcast back onto the
    event scan under AQE), then a scan-side filter; output is bounded by
    the outlier rate. At 100 TB swap the exact medians for
    percentile_approx / the t-digest digests (sketch_tdigest_quantiles)
    to keep the baseline single-pass."""
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    scored = (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(dev), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn(
            "robust_z",
            F.round((F.col("value") - F.col("med")) / (1.4826 * F.col("mad")), 4),
        )
    )
    return scored.filter(F.abs(F.col("robust_z")) > 3.5).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("med", 4).alias("type_median"),
        F.col("robust_z"),
    )


@query(
    "events_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    touches AS (
        SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts
        FROM p JOIN c
          ON p.user_id = c.user_id
         AND c.cts <= p.pts
         AND c.cts > p.pts - INTERVAL 2 HOUR
    ),
    ranked AS (
        SELECT purchase_id, user_id, pts, click_id, cts,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY cts DESC, click_id DESC) AS rl,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY cts ASC, click_id ASC)  AS rf,
               count(*)     OVER (PARTITION BY purchase_id)        AS n_touches
        FROM touches
    )
    SELECT l.purchase_id, l.user_id, l.pts AS purchase_ts,
           f.click_id AS first_touch_id,
           l.click_id AS last_touch_id,
           CAST(l.n_touches AS BIGINT) AS n_touches
    FROM ranked l JOIN ranked f
      ON l.purchase_id = f.purchase_id AND l.rl = 1 AND f.rf = 1
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every purchase, the FIRST-touch and
    LAST-touch click of the same user within a 2-hour lookback window,
    plus the touch count — the first/last-touch attribution report every
    event pipeline ships. Ties (identical click timestamps) break on
    click_id, so both engines pick the same touch.

    Scale shape: a user-keyed equi-join with a bounded time-range
    residual (the 2-hour lookback caps how many clicks a purchase can
    pair with — never a full per-user cross product), then two
    row_number windows and the touch count sharing ONE purchase_id
    partitioning. Purchases with zero in-window clicks are absent by
    construction (unattributed) — the report is bounded by attributed
    conversions."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    touches = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 2 HOURS")),
    )
    wl = W.partitionBy("purchase_id").orderBy(
        F.col("cts").desc(), F.col("click_id").desc()
    )
    wf = W.partitionBy("purchase_id").orderBy("cts", "click_id")
    wc = W.partitionBy("purchase_id")
    ranked = touches.select(
        "purchase_id",
        "user_id",
        "pts",
        "click_id",
        F.row_number().over(wl).alias("rl"),
        F.row_number().over(wf).alias("rf"),
        F.count(F.lit(1)).over(wc).alias("n_touches"),
    )
    last = ranked.filter(F.col("rl") == 1).select(
        "purchase_id",
        "user_id",
        F.col("pts").alias("purchase_ts"),
        F.col("click_id").alias("last_touch_id"),
        F.col("n_touches").cast("long").alias("n_touches"),
    )
    first = ranked.filter(F.col("rf") == 1).select(
        "purchase_id", F.col("click_id").alias("first_touch_id")
    )
    return last.join(first, "purchase_id").select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "first_touch_id",
        "last_touch_id",
        "n_touches",
    )


@query(
    "events_sliding_distinct",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               time_bucket(INTERVAL 1 HOUR, ts)
                   - (o.off * INTERVAL 1 HOUR) AS win_start
        FROM events
        CROSS JOIN (SELECT unnest([0, 1]) AS off) o
    )
    SELECT win_start,
           win_start + INTERVAL 2 HOUR AS win_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM assigned
    GROUP BY win_start
    """,
)
def events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 2-hour sliding window (1-hour slide) — the
    time-window complement of window_distinct_frame's row-frame
    distinct. Every event lands in exactly 2 overlapping windows
    (window length / slide), so the explode fan-out is a constant 2x.

    Scale shape: Spark's F.window generates the window assignment
    scan-side; the exact distinct is a two-phase aggregate whose
    partial step dedups (win, user) pairs map-side before the shuffle.
    At 100 TB swap count_distinct for the HLL sketch column
    (agg_hll_partial_merge) and the windows become mergeable to any
    coarser grain."""
    ev = t(spark, sf_dir, "events")
    win = ev.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w")
    ).agg(F.count_distinct("user_id").alias("distinct_users"))
    return win.select(
        F.col("w.start").alias("win_start"),
        F.col("w.end").alias("win_end"),
        F.col("distinct_users").cast("long").alias("distinct_users"),
    )


_LTTB_BUCKET_S = 21600  # 6-hour buckets


@query(
    "events_downsample_lttb",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, event_type, ts, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS x,
               CAST(round(value * 100) AS BIGINT) AS vc,
               CAST(floor(floor(epoch(ts)) / {_LTTB_BUCKET_S}) AS BIGINT)
                   AS bucket
        FROM events
    ),
    bagg AS (
        SELECT event_type, bucket,
               CAST(sum(x) // count(*) AS BIGINT)  AS ax,
               CAST(sum(vc) // count(*) AS BIGINT) AS av
        FROM pts GROUP BY event_type, bucket
    ),
    anch AS (
        SELECT event_type, bucket,
               coalesce(lag(ax)  OVER w, ax) AS px,
               coalesce(lag(av)  OVER w, av) AS pv,
               coalesce(lead(ax) OVER w, ax) AS nx,
               coalesce(lead(av) OVER w, av) AS nv
        FROM bagg
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    ),
    scored AS (
        SELECT p.event_type, p.bucket, p.event_id, p.ts,
               round(p.value, 2) AS value,
               abs((a.px - a.nx) * (p.vc - a.pv)
                   - (a.px - p.x) * (a.nv - a.pv)) AS area,
               row_number() OVER (
                   PARTITION BY p.event_type, p.bucket
                   ORDER BY abs((a.px - a.nx) * (p.vc - a.pv)
                                - (a.px - p.x) * (a.nv - a.pv)) DESC,
                            p.event_id
               ) AS rn
        FROM pts p JOIN anch a
          ON p.event_type = a.event_type AND p.bucket = a.bucket
    )
    SELECT event_type, bucket, event_id, ts, value,
           CAST(area AS BIGINT) AS area
    FROM scored WHERE rn = 1
    """,
)
def events_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling for dashboards: one representative point
    per (series, 6-hour bucket) by largest triangle area against the
    NEIGHBOR BUCKETS' mean points — the parallel mean-anchor variant of
    LTTB (true LTTB anchors on the previously SELECTED point, a
    sequential dependency; anchoring on bucket means is the standard
    parallelization and keeps the visual-salience property). Endpoint
    buckets coalesce the missing anchor to their own mean.

    Determinism across engines: the ENTIRE area computation is integer
    arithmetic — timestamps as whole seconds, values as whole cents,
    anchors as exact FLOOR-division means (pmod-adjusted bigint div,
    matching DuckDB's flooring `//` even for negative sums) — so no
    accumulation order, rounding mode, or float
    ulp can flip the per-bucket argmax (a round(avg(..)) formulation
    failed the partition sweep: Spark's HALF_UP vs DuckDB's rounding of
    an exact .5 average diverged at shuffle.partitions=1). Area is in
    second-cent units (the 0.5 triangle factor and unit scaling drop
    out of an argmax).

    Scale shape: one (series, bucket) aggregate, a bucket-sequence
    lag/lead window over the AGGREGATED rows (bounded by bucket count),
    broadcast back onto the points via the same (series, bucket) key,
    then a per-bucket row_number. Output is one row per bucket —
    corpus-size-independent per unit time."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.unix_timestamp("ts").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        F.floor(F.unix_timestamp("ts") / _LTTB_BUCKET_S).alias("bucket"),
    )
    # FLOOR-division means, not `div` (which truncates toward zero):
    # DuckDB's `//` floors, so a negative sum (possible for vc — values
    # can be negative cents) would diverge between engines under plain
    # `div`. pmod() is non-negative for a positive divisor, so
    # (s - pmod(s, n)) is the largest multiple of n <= s and the `div`
    # is exact — floor semantics in pure bigint arithmetic (ADVICE r6).
    bagg = pts.groupBy("event_type", "bucket").agg(
        F.expr("(sum(x) - pmod(sum(x), count(*))) div count(*)")
        .cast("long")
        .alias("ax"),
        F.expr("(sum(vc) - pmod(sum(vc), count(*))) div count(*)")
        .cast("long")
        .alias("av"),
    )
    wb = W.partitionBy("event_type").orderBy("bucket")
    anch = bagg.select(
        "event_type",
        "bucket",
        F.coalesce(F.lag("ax").over(wb), F.col("ax")).alias("px"),
        F.coalesce(F.lag("av").over(wb), F.col("av")).alias("pv"),
        F.coalesce(F.lead("ax").over(wb), F.col("ax")).alias("nx"),
        F.coalesce(F.lead("av").over(wb), F.col("av")).alias("nv"),
    )
    j = pts.join(anch, ["event_type", "bucket"])
    area = F.abs(
        (F.col("px") - F.col("nx")) * (F.col("vc") - F.col("pv"))
        - (F.col("px") - F.col("x")) * (F.col("nv") - F.col("pv"))
    )
    wr = W.partitionBy("event_type", "bucket").orderBy(
        area.desc(), "event_id"
    )
    return (
        j.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "bucket",
            "event_id",
            "ts",
            F.round("value", 2).alias("value"),
            area.cast("long").alias("area"),
        )
    )


@query(
    "events_lag_features",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, day, y,
           lag(y, 1) OVER w AS lag_1,
           lag(y, 7) OVER w AS lag_7,
           round(avg(y) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS roll_mean_7,
           round(stddev_samp(y)
                     OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS roll_std_7,
           round(y - lag(y, 7) OVER w, 4) AS diff_7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature matrix for per-series forecasting:
    daily target plus lag-1/lag-7 values, trailing 7-day rolling
    mean/std, and the week-over-week difference — the standard feature
    set a gradient-boosted or linear forecaster trains on, generated
    at warehouse scale.

    Built on the ROUNDED daily target (2dp) so every downstream lag /
    rolling stat starts from bit-identical inputs in both engines;
    rolling stats round 4dp.

    Scale shape: one (series, day) aggregate (map-side combined), then
    every lag and rolling frame shares ONE series-keyed window
    partitioning over the day-level rows — the input to the windows is
    days x series, not raw events."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("y"))
    w = W.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-6, 0)
    return daily.select(
        "event_type",
        "day",
        "y",
        F.lag("y", 1).over(w).alias("lag_1"),
        F.lag("y", 7).over(w).alias("lag_7"),
        F.round(F.avg("y").over(wf), 4).alias("roll_mean_7"),
        F.round(F.stddev_samp("y").over(wf), 4).alias("roll_std_7"),
        F.round(F.col("y") - F.lag("y", 7).over(w), 4).alias("diff_7"),
    )


@query(
    "events_calendar_heatmap",
    oracle="""
    WITH s AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT)      AS hour,
               CAST(count(*) AS BIGINT)      AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               sum(CAST(round(value * 100) AS BIGINT)) AS sc
        FROM events
        GROUP BY dayofweek(ts), hour(ts)
    )
    SELECT dow, hour, n_events, n_users,
           ((200 * sc + n_events) // nullif(2 * n_events, 0)) / 10000.0
               AS avg_value
    FROM s
    """,
)
def events_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar activity heatmap: event volume, distinct users, and mean
    value per (day-of-week, hour-of-day) cell — the seasonality profile
    behind capacity planning and anomaly baselines (an hourly z-score
    without this profile flags every Monday morning).

    Dialect note: DuckDB's dayofweek() is 0=Sunday..6 while Spark's is
    1=Sunday..7 — the Spark side subtracts 1 so both engines emit the
    same 0-based day index.

    Scale shape: one 168-group aggregate, map-side combined; the
    distinct-user count is the only expand, bounded by 168 x users."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            # exact-cents sum: the value column is 2dp, so the bigint sum
            # is exact and accumulation-order invariant
            F.sum(cents("value")).alias("sc"),
        )
        .select(
            "dow",
            "hour",
            "n_events",
            "n_users",
            # r9 margin-sweep fix: the exact cell mean can sit ON a 4dp
            # half boundary (measured margin 0.0 at sf0.1), where
            # round(double, 4) decides by shortest-decimal (Spark) vs
            # binary (DuckDB). Integer half-up division decides the tie
            # in exact arithmetic, identically on both engines.
            (
                F.expr("(200 * sc + n_events) div nullif(2 * n_events, 0)")
                / 10000.0
            ).alias("avg_value"),
        )
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    m AS (
        SELECT event_type, avg(x) AS mu FROM daily GROUP BY event_type
    ),
    cu AS (
        SELECT d.event_type, day, x,
               sum(x - mu) OVER (PARTITION BY d.event_type ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cusum
        FROM daily d JOIN m ON d.event_type = m.event_type
    ),
    ranked AS (
        SELECT event_type, day, round(cusum, 2) AS cusum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(round(cusum, 2)) DESC, day)
                   AS rn
        FROM cu
    )
    SELECT event_type, day AS change_day, cusum AS peak_cusum
    FROM ranked WHERE rn = 1
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift changepoint detection per series (CUSUM): cumulative
    sum of daily deviations from the series mean; the |CUSUM| peak marks
    the most likely single change day (classic offline CUSUM estimator —
    the day the running total is furthest from where a constant-mean
    series would be). Complements events_anomaly_zscore/_mad (point
    outliers) with LEVEL-SHIFT detection.

    Cross-engine determinism: the running sum is a sequential ordered
    frame — both engines accumulate in day order, so the float result is
    bit-identical, then rounded 2dp BEFORE the argmax tie-break so
    boundary days cannot flip; ties break to the earliest day.

    Scale shape: one day-level aggregate (map-side combined), group
    means joined back broadcast, one series-partitioned ordered window
    over DAY-level rows (bounded by the calendar, not event volume),
    one argmax row per series."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(r2(F.sum("value")).alias("x"))
    m = daily.groupBy("event_type").agg(F.avg("x").alias("mu"))
    wcum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cu = daily.join(F.broadcast(m), "event_type").select(
        "event_type",
        "day",
        r2(F.sum(F.col("x") - F.col("mu")).over(wcum)).alias("cusum"),
    )
    wr = W.partitionBy("event_type").orderBy(F.abs("cusum").desc(), "day")
    return (
        cu.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("cusum").alias("peak_cusum"),
        )
    )


_EWMA_ALPHA = 0.3


@query(
    "events_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               date_diff('day', DATE '2024-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) * 1.0
                   / count(*) / 100 AS x
        FROM events GROUP BY 1, 2, 3
    ),
    anch AS (
        SELECT *, d - min(d) OVER (PARTITION BY event_type) AS d0
        FROM daily
    ),
    acc AS (
        SELECT event_type, day, x,
               sum(x * pow(1.0 / (1.0 - {_EWMA_ALPHA}), d0))
                   OVER (PARTITION BY event_type ORDER BY d0
                         ROWS UNBOUNDED PRECEDING) AS s1,
               sum(pow(1.0 / (1.0 - {_EWMA_ALPHA}), d0))
                   OVER (PARTITION BY event_type ORDER BY d0
                         ROWS UNBOUNDED PRECEDING) AS s2
        FROM anch
    )
    SELECT event_type, day,
           floor(x * 10000 + 0.5) / 10000       AS daily_avg,
           floor(s1 / s2 * 10000 + 0.5) / 10000 AS ewma
    FROM acc
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the daily mean value per
    event type (alpha = 0.3, adjusted/normalized form) — the standard
    smoothed-trend monitor line that sits next to the z-score/MAD
    anomaly twins.

    The recursive definition s_t = a*x_t + (1-a)*s_(t-1) is not
    SQL-expressible, but the closed adjusted form
    ewma_t = sum_i((1-a)^(t-i) * x_i) / sum_i((1-a)^(t-i)) is: weight
    every daily point by (1/(1-a))^d on a fixed day index and take the
    ratio of two running sums — the common (1-a)^t scale cancels in the
    division, so it is never materialized and nothing overflows (the
    weights grow to ~2e9 over a 60-day span, comfortably inside double
    range, and the ratio renormalizes the representation error). Both
    engines accumulate the SAME ordered running sums, so after the
    cancel the 4dp round is far above residual float noise.

    Scale shape: the corpus collapses to (type, day) rows in one
    map-side-combined aggregate before any window; the window is
    keyed by event_type (parallel across series) over day-level rows —
    series length, not event count, bounds the frame."""
    ev = t(spark, sf_dir, "events")
    growth = 1.0 / (1.0 - _EWMA_ALPHA)
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "value",
        )
        .withColumn("d", F.datediff("day", F.lit("2024-01-01").cast("date")))
        .groupBy("event_type", "day", "d")
        # exact-cents mean (the calendar-heatmap pattern): value is 2dp,
        # so the bigint cent sum is order-free exact in both engines —
        # a float avg() flipped daily_avg's 4dp round at sf0.001
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) * 1.0
                / F.count(F.lit(1))
                / 100
            ).alias("x")
        )
    )
    # Re-anchor the exponent per series: d0 = d - min(d) over the
    # event_type partition (ADVICE r8) — the epoch-anchored d overflowed
    # double at d ~ 1990 ((1/0.7)^d), so series past ~mid-2029 silently
    # went NaN and far-past series underflowed to an ANSI 0/0.  d0 is
    # exact integer arithmetic, identical in both engines, and the
    # common (1/(1-a))^min(d) factor cancels in s1/s2 exactly as the
    # (1-a)^t normalizer does.  Valid while the WITHIN-series span stays
    # under ~1990 days (~5.4 years of daily points); beyond that the
    # closed form needs chunked renormalization — documented limit, the
    # fixture series span ~60 days.
    wmin = W.partitionBy("event_type")
    daily = daily.withColumn("d0", F.col("d") - F.min("d").over(wmin))
    w = (
        W.partitionBy("event_type")
        .orderBy("d0")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s1 = F.sum(F.col("x") * F.pow(F.lit(growth), F.col("d0"))).over(w)
    s2 = F.sum(F.pow(F.lit(growth), F.col("d0"))).over(w)
    # rbin, not F.round: the exact-cents mean lands EXACTLY on 4dp half
    # boundaries (cents/n terminating decimals), where Spark's
    # decimal-string HALF_UP and DuckDB's binary round disagree on the
    # same double — caught by the sf0.001 sweep (values non-negative).
    return daily.select(
        "event_type",
        "day",
        rbin("x", 4).alias("daily_avg"),
        rbin(s1 / s2, 4).alias("ewma"),
    )


@query(
    "events_seasonal_strength",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hr,
               dayofweek(ts) AS dow,
               hour(ts) AS hod,
               sum(CAST(round(value * 100) AS BIGINT)) * 1.0
                   / count(*) / 100 AS x
        FROM events GROUP BY 1, 2, 3, 4
    ),
    prof AS (
        SELECT event_type, dow, hod, avg(x) AS m,
               CAST(count(*) AS BIGINT) AS cells
        FROM hourly GROUP BY 1, 2, 3
    ),
    joined AS (
        SELECT h.event_type, h.x, h.x - p.m AS resid
        FROM hourly h
        JOIN prof p ON h.event_type = p.event_type
                   AND h.dow = p.dow AND h.hod = p.hod
    ),
    g AS (
        SELECT event_type, avg(x) AS gm, CAST(count(*) AS BIGINT) AS n
        FROM joined GROUP BY 1
    )
    SELECT j.event_type, n,
           round(sum((x - gm) * (x - gm)) / n, 4)       AS var_total,
           round(sum(resid * resid) / n, 4)             AS var_resid,
           round(CASE WHEN sum((x - gm) * (x - gm)) = 0 THEN 0.0
                      ELSE greatest(0.0, 1.0 - sum(resid * resid)
                                          / sum((x - gm) * (x - gm)))
                 END, 4)                                AS seasonal_strength
    FROM joined j JOIN g ON j.event_type = g.event_type
    GROUP BY 1, 2
    """,
)
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-strength decomposition per event type (the STL-style
    Fs = max(0, 1 - Var(remainder)/Var(total)) statistic, Wang/
    Hyndman's feature-based time-series taxonomy): the hourly series is
    explained by its (day-of-week, hour-of-day) seasonal profile and
    the strength is the variance fraction that profile removes — the
    quantitative "is this series calendar-driven" gate in front of
    seasonal models and anomaly baselines (events_calendar_heatmap is
    the profile itself; this scores it).

    Arithmetic discipline: hourly means are exact-cents (bigint sums,
    order-free); the profile join is on (type, dow, hour) — 168 cells
    per type — and both variances are centered two-pass sums rounded
    4dp, far above accumulation wobble. Degenerate zero-variance series
    report strength 0 via an explicit guard on both engines (no 0/0
    NaN crossing the dialect boundary — the embed_outlier_detection
    lesson from ADVICE r7).

    Scale shape: event rows collapse to (type, hour) cells in one
    map-side-combined aggregate; everything downstream is bounded by
    series-count x hours — the profile (168 rows/type) broadcasts onto
    the hourly cells, and the final reduction is per type."""
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hr"),
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hod"),
            "value",
        )
        .groupBy("event_type", "hr", "dow", "hod")
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) * 1.0
                / F.count(F.lit(1))
                / 100
            ).alias("x")
        )
    )
    prof = hourly.groupBy("event_type", "dow", "hod").agg(
        F.avg("x").alias("m")
    )
    joined = hourly.join(
        F.broadcast(prof), ["event_type", "dow", "hod"]
    ).select("event_type", "x", (F.col("x") - F.col("m")).alias("resid"))
    g = joined.groupBy("event_type").agg(
        F.avg("x").alias("gm"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dx = F.col("x") - F.col("gm")
    agg = (
        joined.join(F.broadcast(g), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(dx * dx).alias("sst"),
            F.sum(F.col("resid") * F.col("resid")).alias("ssr"),
        )
    )
    return agg.select(
        "event_type",
        "n",
        F.round(F.col("sst") / F.col("n"), 4).alias("var_total"),
        F.round(F.col("ssr") / F.col("n"), 4).alias("var_resid"),
        F.round(
            F.when(F.col("sst") == 0, F.lit(0.0)).otherwise(
                F.greatest(F.lit(0.0), 1.0 - F.col("ssr") / F.col("sst"))
            ),
            4,
        ).alias("seasonal_strength"),
    )


@query(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) * 1.0
                   / count(*) / 100 AS x
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, x,
               lag(x, 1) OVER (PARTITION BY event_type ORDER BY d) AS p1,
               lag(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS p7
        FROM daily
    ),
    scored AS (
        SELECT event_type, x, p1, p7 FROM lagged
        WHERE p1 IS NOT NULL AND p7 IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                      AS n,
           round(avg(abs(x - p1)), 4)                    AS mae_naive,
           round(avg(abs(x - p7)), 4)                    AS mae_snaive,
           round(sqrt(avg((x - p7) * (x - p7))), 4)      AS rmse_snaive,
           round(avg(abs(x - p7)) / nullif(avg(abs(x - p1)), 0), 4) AS mase
    FROM scored GROUP BY 1
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step forecasting backtest per event series: the naive
    (yesterday) and seasonal-naive (same weekday last week) baselines
    scored with MAE / RMSE / MASE over the daily-mean series — the
    evaluation harness every forecasting pipeline runs BEFORE fitting a
    model (Hyndman & Koehler 2006: MASE < 1 means the seasonal model
    beats the naive walk, the scale-free go/no-go gate;
    events_lag_features builds the features, this scores the floor the
    model must beat).

    Both baselines share ONE series-keyed window (two lag frames over
    the same sort); daily means are exact-cents, so both engines
    difference IDENTICAL doubles and the 4dp-rounded error aggregates
    sit far above accumulation wobble. Rows without a full lag history
    are excluded identically via lag-null filters on both engines.

    Scale shape: the corpus collapses to (type, day) rows map-side
    before the window; everything after is series-length-bounded."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
            "value",
        )
        .groupBy("event_type", "d")
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) * 1.0
                / F.count(F.lit(1))
                / 100
            ).alias("x")
        )
    )
    w = W.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("p1"),
        F.lag("x", 7).over(w).alias("p7"),
    ).filter(F.col("p1").isNotNull() & F.col("p7").isNotNull())
    e1 = F.abs(F.col("x") - F.col("p1"))
    e7 = F.abs(F.col("x") - F.col("p7"))
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg(e1), 4).alias("mae_naive"),
        F.round(F.avg(e7), 4).alias("mae_snaive"),
        F.round(
            F.sqrt(F.avg((F.col("x") - F.col("p7")) * (F.col("x") - F.col("p7")))),
            4,
        ).alias("rmse_snaive"),
        # nullif: a constant series has MAE_naive = 0 and MASE is
        # undefined — NULL, not an engine-dependent 0/0 NaN
        F.round(F.avg(e7) / F.nullif(F.avg(e1), F.lit(0.0)), 4).alias("mase"),
    )


@query(
    "events_series_correlation",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) * 1.0
                   / count(*) / 100 AS x
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, avg(x) AS mu FROM daily GROUP BY 1
    ),
    paired AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.x - ma.mu AS da, b.x - mb.mu AS db
        FROM daily a
        JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
        JOIN m ma ON a.event_type = ma.event_type
        JOIN m mb ON b.event_type = mb.event_type
    )
    SELECT type_a, type_b,
           CAST(count(*) AS BIGINT) AS n_days,
           round(sum(da * db)
                 / nullif(sqrt(sum(da * da) * sum(db * db)), 0), 4)
               AS corr
    FROM paired GROUP BY 1, 2
    """,
)
def events_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between every two event types'
    daily-mean series — the co-movement matrix behind alert
    de-duplication ("these two metrics always spike together"),
    leading-indicator screens, and redundancy pruning of monitoring
    dashboards.

    Statistics discipline: exact-cents daily means (both engines
    difference identical doubles), per-type means joined back for the
    centered two-pass products (agg_covariance_corr's conditioning
    argument), nullif'd denominator so a constant series yields NULL
    correlation instead of an engine-dependent NaN, 4dp round over
    day-count-bounded sums.

    Scale shape: the corpus collapses to (type, day) cells map-side;
    the pair fan-out is the day-keyed self-join of that bounded table
    (types^2 pair rows per day, never event rows) with the |types|-row
    means broadcast on both sides — the same bounded-enumeration shape
    as text_js_divergence's source pairs."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
            "value",
        )
        .groupBy("event_type", "d")
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) * 1.0
                / F.count(F.lit(1))
                / 100
            ).alias("x")
        )
    )
    m = daily.groupBy("event_type").agg(F.avg("x").alias("mu"))
    a = daily.select(
        F.col("event_type").alias("type_a"), "d", F.col("x").alias("xa")
    ).join(
        F.broadcast(
            m.select(F.col("event_type").alias("type_a"), F.col("mu").alias("ma"))
        ),
        "type_a",
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "d", F.col("x").alias("xb")
    ).join(
        F.broadcast(
            m.select(F.col("event_type").alias("type_b"), F.col("mu").alias("mb"))
        ),
        "type_b",
    )
    da = F.col("xa") - F.col("ma")
    db = F.col("xb") - F.col("mb")
    return (
        a.join(b, "d")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.sum(da * db)
                / F.nullif(
                    F.sqrt(F.sum(da * da) * F.sum(db * db)), F.lit(0.0)
                ),
                4,
            ).alias("corr"),
        )
    )


# ---------------------------------------------------------------------------
# events_trend_theil_sen — robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

_TS_K = 10**13  # slope offset: >= max |dc| * 1e6 / dd, keeps numerators >= 0

_THEIL_SEN_ORACLE = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        FROM events
        GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               ((2 * ((b.c - a.c) * 1000000 + {_TS_K} * (b.d - a.d))
                 + (b.d - a.d)) // (2 * (b.d - a.d))) - {_TS_K} AS s_e6
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(round(2 * median(s_e6)) AS BIGINT) / 2.0 / 1000000.0
               AS slope_per_day
    FROM slopes
    GROUP BY event_type
"""


@query("events_trend_theil_sen", oracle=_THEIL_SEN_ORACLE)
def events_trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per event-type daily series — the
    median of all pairwise slopes (cents/day), the trend estimator with
    a 29% breakdown point that one spike day cannot drag the way an OLS
    slope can (agg_linear_regression is the parametric twin). The
    operational drift detector behind capacity forecasts on dirty
    telemetry.

    Exact integer core for an estimator that is a median of RATIONALS:
    each pairwise slope dc/dd is quantized per pair with half-up
    integer division onto the 1e-6 grid (numerator offset by K*dd so it
    stays non-negative — dc can be negative and div truncates toward
    zero; half_up(x + K) = half_up(x) + K for integer K), so the
    median's input is exact bigints, its .5-interpolated value is exact
    in half-units (the dq_anomaly_mad discipline), and the only float
    op is the final display division — bit-identical on both engines.
    The 1e-6 per-pair quantization perturbs the estimator far below
    reporting precision. Overflow: 2*(|dc|*1e6 + K*dd) needs
    |dc| < ~4.6e12 cents between two days — document-scale headroom.

    Scale shape: the corpus collapses map-side to (type, day) daily
    cells first; the pair self-join is CALENDAR-bounded (n_days^2/2 per
    series — 435 pairs at the fixtures' 30 days, ~500k at a 3-year
    series), never corpus-sized; one percentile aggregate per series
    ends the job. At extreme series lengths the documented fallback is
    the repeated-median variant over a day-sampled grid; exact
    Theil-Sen is right wherever days^2 fits a shuffle budget."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.sum(cents("value")).cast("long").alias("c"))
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("c").alias("c1")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("c").alias("c2"),
    )
    slopes = (
        a.join(b, (a.event_type == b.et2) & (a.d1 < b.d2))
        .select(
            "event_type",
            F.expr(
                f"((2 * ((c2 - c1) * 1000000 + {_TS_K} * (d2 - d1))"
                f" + (d2 - d1)) div (2 * (d2 - d1))) - {_TS_K}"
            ).alias("s_e6"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.round(2 * F.percentile("s_e6", F.lit(0.5))).cast("long")
            / 2.0
            / 1000000.0
        ).alias("slope_per_day"),
    )
