"""Streaming windowed aggregations with watermarks, session windows and
stateful dedup over the events stream (SURVEY.md §2.2 "Streaming" —
absent from the reference, which has no ordering/lateness handling at all).

These builders take a streaming DataFrame (readStream) and return the
transformed streaming DataFrame; tests drive them with availableNow over
staged parquet/json drops and a memory sink. The same builders accept a
batch DataFrame for plan-equivalence (minus watermark semantics), which is
how the oracle-checked batch twins in operators/events.py stay honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour tumbling windows; watermark bounds state and drops rows later
    than the threshold (late-data policy the reference lacks)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour windows sliding every 30 minutes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_aggregates(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming sessionization: session_window merges rows whose
    gaps are under the threshold, per user (batch twin: the lag/cumsum
    composition in operators/events.py events_session)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful dedup on event_id: duplicates arriving within the watermark
    horizon are dropped; state is GC'd past it (bounded memory — the
    property that makes streaming dedup feasible on an unbounded stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_with_dim(
    events: DataFrame, dim: DataFrame, on: str, hint_broadcast: bool = True
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a (slowly
    changing) dimension table. The static side is re-resolved per
    micro-batch, so dimension updates are picked up without restarting
    the stream.

    hint_broadcast=True (default) forces the broadcast — right for the
    common small-dim case and removes any stream-side shuffle. For a dim
    too large to broadcast, pass False and let the planner pick from its
    size estimate: a forced hint on a huge dim would ship the whole table
    to every executor each micro-batch."""
    d = F.broadcast(dim) if hint_broadcast else dim
    return events.join(d, on, "left")


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with right events
    of the same key that happened within [left.ts, left.ts + max_delay).

    Both sides carry watermarks and the join condition bounds event time
    in BOTH directions, which is what lets Spark GC buffered state: a
    buffered left row can be dropped once the right watermark passes
    left.ts + max_delay, and vice versa. Without the time bound the state
    store grows without limit — the property that separates a viable
    100 TB streaming join from an OOM."""
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") < F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
    ).select("l_key", "l_event_id", "r_event_id", "l_ts", "r_ts")


def asof_enrich_stream(
    spark,
    events_path: str,
    dim_table_path: str,
    out_table_path: str,
    checkpoint_path: str,
    events_schema,
    key: str = "user_id",
    time_col: str = "ts",
    dim_time_col: str = "valid_from",
    value_col: str = "tier",
    out_col: str = "tier",
) -> None:
    """Streaming as-of enrichment against a VERSIONED slowly-changing
    dimension: every streamed event is joined to the dim version in
    force AT ITS EVENT TIME — the latest dim row of the
    same key with `dim_time_col` <= event `time_col` (non-strict
    backward as-of, the operators.joins.asof_join builder — batch and
    stream sides share one implementation, so semantics cannot drift).

    The semantics that distinguish this from enrich_with_dim's plain
    stream-static join, both pinned in tests/test_streaming.py:

    - Version-boundary correctness: an event stamped exactly at a
      version's `valid_from` gets THAT version (non-strict); one second
      earlier gets the previous version; a key with no version yet in
      force gets NULL.
    - Late-data correctness: assignment depends only on EVENT TIME,
      never on arrival time. A late event replaying an old timestamp
      after the dim has gained newer versions still receives the
      version that was in force at its event time — the dim is
      re-read per micro-batch (new versions are picked up without a
      stream restart) but matched historically, which is exactly what a
      plain stream-static equi-join gets wrong (it would stamp the late
      event with the CURRENT version).

    Exactly-once: output rows land via ingest.append_idempotent keyed
    on event_id — a replayed micro-batch (crash between parquet commit
    and checkpoint commit) re-derives the same rows and the anti-join
    drops them, the same layered discipline as incremental_load.

    Scale shape: the as-of union+window shuffles each micro-batch once
    on the key; the dim read is per-batch but version-table-sized (SCD
    tables are keys x versions, not event-sized). State lives in the
    OUTPUT table, not the stream — no state store to recover."""
    from ..ingest import append_idempotent
    from ..operators.joins import asof_join
    from .ingest_stream import _drain

    def enrich(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        dim = spark.read.parquet(dim_table_path)
        src = dim.select(
            key, F.col(dim_time_col).alias(time_col), value_col
        )
        enriched = asof_join(
            batch,
            src,
            key=key,
            time_col=time_col,
            value_col=value_col,
            out_col=out_col,
            strict=False,
            direction="backward",
        )
        append_idempotent(spark, enriched, out_table_path, key="event_id")

    stream = spark.readStream.schema(events_schema).json(events_path)
    _drain(stream, checkpoint_path, enrich)


def join_streams_interval_outer(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: like
    join_streams_interval, but a left event with NO matching right event
    inside [left.ts, left.ts + max_delay) is still emitted — with null
    right columns — once the watermark proves no match can still arrive.

    The outer semantics are exactly why the time bound is mandatory
    here, not merely advisable: Spark can emit the null-completed row
    only when the right watermark passes left.ts + max_delay (the
    buffered row's match window is provably closed), so an unbounded
    join could never emit an outer result at all. Null completion is
    therefore DELAYED by watermark progress — downstream consumers see
    matches promptly and non-matches one watermark later, the standard
    streaming-outer-join contract."""
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") < F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
        "left_outer",
    ).select("l_key", "l_event_id", "r_event_id", "l_ts", "r_ts")
