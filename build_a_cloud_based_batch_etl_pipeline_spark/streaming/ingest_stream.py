"""Exactly-once incremental load via Structured Streaming file source.

Replaces the reference's event chain — GCS OBJECT_FINALIZE notification ->
Pub/Sub topic -> OIDC push -> per-file HTTP handler (reference
terraform/main.tf:260-298, src/load/main.py:58-84) — with Spark's file
source + checkpoint:

- file discovery  : the source's listing + checkpoint log (no Pub/Sub)
- delivery        : exactly-once per file (the reference chain is
                    at-least-once; redelivered notifications create
                    duplicate rows because no insertId is set,
                    src/load/main.py:40)
- batch-cron parity: trigger(availableNow=True) processes everything new
                    then stops — the Spark-native equivalent of the 6-hour
                    Cloud Scheduler tick (terraform/cloud_scheduler.tf:4)
- backpressure    : maxFilesPerTrigger bounds each micro-batch

At 100 TB scale the file-source log tracks arbitrarily many files; the
transform inside foreachBatch is ingest.stamp_posts, the batch loader's
own dedup+stamp transform, executed per micro-batch.

Every stream here runs through one availableNow runner (`_drain`), and
every state-table maintainer commits its micro-batch through one merge
helper (`_merge_into`), which carries the shared replay/lineage contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IngestConfig
from ..fsio import Fs, child
from ..schemas import POSTS_RAW


def _drain(stream: DataFrame, checkpoint_path: str, handle) -> None:
    """Run `handle(batch, epoch_id)` over every micro-batch the stream's
    source holds now, then stop (trigger availableNow), with progress
    kept in `checkpoint_path`. An exception raised by `handle` fails the
    query and surfaces here as a StreamingQueryException; the epoch it
    was handling is not checkpointed, so a restart replays it."""
    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _landing_stream(
    spark: SparkSession, cfg: IngestConfig, max_files_per_trigger: int | None
) -> DataFrame:
    """The landing zone as a file stream of raw POSTS rows: every run dir
    under `cfg.landing_uri`, at most `max_files_per_trigger` files per
    micro-batch when given."""
    reader = spark.readStream.schema(POSTS_RAW).option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(cfg.landing_uri)


def incremental_load(
    spark: SparkSession,
    cfg: IngestConfig,
    max_files_per_trigger: int | None = None,
) -> int:
    """Process all new landing files into the warehouse table, exactly once,
    then stop (availableNow). Returns rows appended in this run.

    Exactly-once is layered: the file-source checkpoint means a processed
    file is never re-READ, and the table-level idempotent append
    (ingest.append_idempotent — same code as the batch loader) means a
    replayed micro-batch or a key split across batches/files is never
    re-WRITTEN. A blind foreachBatch append would be only at-least-once:
    a crash between the parquet commit and the checkpoint commit replays
    the epoch on restart and would duplicate its rows.
    """
    from ..ingest import append_idempotent, stamp_posts

    appended = {"n": 0}
    table_path = cfg.table_path()

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        appended["n"] += append_idempotent(
            spark, stamp_posts(batch), table_path, key="id"
        )

    _drain(
        _landing_stream(spark, cfg, max_files_per_trigger),
        os.path.join(cfg.checkpoint_uri, cfg.table_name),
        write_batch,
    )
    return appended["n"]


def _checkpoint_lineage(spark: SparkSession, checkpoint_path: str) -> str:
    """Stable id for one checkpoint lineage: the query uuid Structured
    Streaming writes to `<checkpoint>/metadata` when the checkpoint is
    first created — stable across restarts of the SAME checkpoint,
    regenerated when the checkpoint is wiped or replaced. Stamped into
    epoch watermarks and epoch partition names (see `_merge_into`).
    Read in one filesystem round trip (fsio.Fs.read_text; tiny file, no
    Spark job)."""
    meta = child(checkpoint_path, "metadata")
    return json.loads(Fs(spark, meta).read_text(meta))["id"].replace("-", "")[:12]


def _atomic_swap_in(
    spark: SparkSession,
    merged: DataFrame,
    table_path: str,
    epoch_id,
    lineage: str | None = None,
) -> None:
    """Write `merged` to a staging dir and swap it over the table path —
    the local-FS stand-in for a transactional table commit. The swap is
    rename-aside (old table parked at `.old`, staging renamed in, park
    deleted — sinks.swap_dir), so no crash point destroys the previous
    state and the reader race window is two renames, not an O(files)
    delete.

    Given a `lineage`, an empty `_epoch_hwm-<lineage>-<id>` marker file
    is created INSIDE the staging dir before the swap: parquet readers
    skip `_`-prefixed paths (the `_SUCCESS` convention), and the one
    directory rename then commits data and merged-epoch watermark
    together — there is no crash point where a non-idempotent merge is
    applied but unrecorded, or recorded but unapplied. Schema-agnostic,
    unlike a sentinel row."""
    from ..sinks import swap_dir

    staging = table_path + f".epoch-{epoch_id}.staging"
    merged.write.mode("overwrite").parquet(staging)
    if lineage:
        marker = child(staging, f"_epoch_hwm-{lineage}-{int(epoch_id)}")
        Fs(spark, staging).write_text(marker, "")
    swap_dir(spark, staging, table_path)


def _table_epoch_hwm(
    spark: SparkSession, table_path: str, lineage: str
) -> int | None:
    """The merged-epoch high-water mark committed with the existing
    table at `table_path` by `_atomic_swap_in(..., lineage=...)`, or
    None for a never-stamped table.

    Epoch ids are only comparable WITHIN one checkpoint lineage, so a
    marker stamped under a different lineage (checkpoint wiped or
    replaced while the table was kept) raises instead of being
    compared: a fresh lineage restarts at epoch 0 <= the stale hwm,
    and a silent skip there would be data loss, not replay-skip."""
    marks = []
    for name in Fs(spark, table_path).listdir(table_path):
        if not name.startswith("_epoch_hwm-"):
            continue
        mark_lineage, _, epoch_s = name[len("_epoch_hwm-"):].rpartition("-")
        if mark_lineage != lineage:
            raise RuntimeError(
                f"epoch watermark at {table_path} was stamped under "
                f"checkpoint lineage '{mark_lineage or '<pre-lineage>'}' "
                f"but the running stream's lineage is '{lineage}': the "
                "checkpoint was reset or replaced without resetting the "
                "table. Epoch ids do not compare across lineages (a fresh "
                "stream's epoch 0 would be silently skipped against the "
                "stale watermark = data loss). Reset table and checkpoint "
                "together, or remove the stale _epoch_hwm-* markers after "
                "verifying the table state."
            )
        marks.append(int(epoch_s))
    return max(marks) if marks else None


def _merge_into(
    spark: SparkSession,
    table_path: str,
    checkpoint_path: str,
    epoch_id,
    delta: DataFrame,
    combine,
    replay_safe: bool = False,
) -> None:
    """Commit one micro-batch into a state table: the new state is
    `combine(current ∪ delta)` when the table exists, else `delta`, and
    it replaces the table through `_atomic_swap_in`. Every state-table
    maintainer commits through here, under one contract:

    - Recovery first: sinks.swap_recover restores a table parked by a
      crash mid-swap, so it is never mistaken for a missing table (the
      merge would then restart the state from this batch alone).
    - Replay: a crash after the swap but before the checkpoint commit
      replays the epoch on restart. With `replay_safe` the combine is
      idempotent (HLL union is register-wise max), so re-merging cannot
      change the state; nothing is read or stamped, and even a lost
      checkpoint that re-reads every file replays as a no-op. Any other
      combine (count/sum addition, digest concatenation) is NOT
      idempotent, so the swap stamps the merged epoch into the table
      (`_epoch_hwm-<lineage>-<id>`, committed in the same rename as the
      data) and an epoch at or below the table's high-water mark is
      skipped. No crash point leaves a merge applied but unrecorded or
      recorded but unapplied.
    - Lineage: the watermark is scoped to the checkpoint's query uuid
      (`_checkpoint_lineage`). A checkpoint wiped or replaced while the
      table is kept raises a lineage mismatch (`_table_epoch_hwm`)
      instead of silently skipping the fresh stream's epochs; reset
      table and checkpoint together.

    The only residual difference from a transactional format's MERGE is
    the swap's two-rename reader race, not a correctness window."""
    from ..sinks import swap_recover

    swap_recover(spark, table_path)
    lineage = None if replay_safe else _checkpoint_lineage(spark, checkpoint_path)
    merged = delta
    if Fs(spark, table_path).exists(table_path):
        if lineage is not None:
            hwm = _table_epoch_hwm(spark, table_path, lineage)
            if hwm is not None and epoch_id <= hwm:
                return  # replayed epoch, already merged
        merged = combine(spark.read.parquet(table_path).unionByName(delta))
    _atomic_swap_in(spark, merged, table_path, epoch_id, lineage=lineage)


def _sum_by(*keys: str, cols: tuple[str, ...] = ("c",)):
    """`combine` for additive state: regroup on `keys`, summing `cols`."""
    return lambda rows: rows.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in cols])


def maintain_distinct_sketch(
    spark: SparkSession,
    events_path: str,
    sketch_table_path: str,
    checkpoint_path: str,
    events_schema,
    key_col: str = "event_type",
    id_col: str = "user_id",
) -> None:
    """Streaming distinct-count maintenance with MERGEABLE HLL sketch
    columns: keep one DataSketches HLL sketch per key current as event
    files arrive; readers get approx-distinct at any time via
    hll_sketch_estimate, and coarser grains via hll_union_agg over the
    stored sketches (never re-reading raw events — the batch twin is
    agg_hll_partial_merge).

    The decisive property vs the count/sum aggregate below: HLL union is
    register-wise max, so it is IDEMPOTENT — re-merging a replayed epoch
    (crash between table rename and checkpoint commit, or a lost
    checkpoint re-reading every file) cannot change the state. The
    merge is `_merge_into(replay_safe=True)`: no epoch watermark and no
    lineage read; sketch-valued state is how streaming distinct stays
    exactly-once-equivalent at 100 TB with no watermark at all.
    tests/test_streaming.py replays the whole input from scratch and
    asserts the table is bit-stable.
    """

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        _merge_into(
            spark, sketch_table_path, checkpoint_path, epoch_id,
            batch.groupBy(key_col).agg(F.hll_sketch_agg(id_col).alias("sk")),
            lambda rows: rows.groupBy(key_col).agg(F.hll_union_agg("sk").alias("sk")),
            replay_safe=True,
        )

    stream = spark.readStream.schema(events_schema).json(events_path)
    _drain(stream, checkpoint_path, merge_batch)


def maintain_frequency_sketch(
    spark: SparkSession,
    events_path: str,
    cms_table_path: str,
    checkpoint_path: str,
    events_schema,
    key_col: str = "user_id",
) -> None:
    """Streaming frequency (count-min) sketch maintenance: keep a
    4x1024-cell CMS of `key_col` occurrences current as event files
    arrive; any key's frequency is then estimable in O(depth) lookups
    without scanning events (batch twin: text_heavy_hitters_cms).

    Merge semantics contrast with the HLL sketch above and drive the
    design: CMS cells merge by ADDITION — commutative and associative
    (per-day sketches sum into any window) but NOT idempotent, so a
    replayed epoch would double-count. The merge therefore takes
    `_merge_into`'s stamped-swap epoch guard: cells and merged-epoch
    watermark land in one rename, and replayed epochs are skipped;
    tests/test_streaming.py injects a crash on both sides of the swap
    and pins bit-identical cells.
    """
    from ..operators.text import _CMS_DEPTH, _CMS_WIDTH

    key_str = F.col(key_col).cast("string")
    fan = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(F.concat(F.lit(f"{d}:"), key_str)), 1, 8
                            ),
                            16,
                            10,
                        ).cast("bigint")
                        % _CMS_WIDTH
                    ).alias("bkt"),
                )
                for d in range(_CMS_DEPTH)
            ]
        )
    ).alias("b")

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        delta = (
            batch.select(fan)
            .select("b.d", "b.bkt")
            .groupBy("d", "bkt")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        _merge_into(
            spark, cms_table_path, checkpoint_path, epoch_id, delta,
            _sum_by("d", "bkt"),
        )

    stream = spark.readStream.schema(events_schema).json(events_path)
    _drain(stream, checkpoint_path, merge_batch)


def estimate_frequencies(
    spark: SparkSession, cms_table_path: str, keys: list
) -> dict:
    """Query side of maintain_frequency_sketch: CMS estimates for the
    given keys, driver-side — hashlib md5 computes the same buckets the
    Spark expression wrote (md5 is md5), so the sketch is queryable by
    ANY client that can read the 4096-row cell table, no Spark job
    needed. Returns {key: est}; one-sided (est >= true count)."""
    import hashlib

    from ..operators.text import _CMS_DEPTH, _CMS_WIDTH
    from ..sinks import swap_recover

    swap_recover(spark, cms_table_path)
    cells = {
        (r.d, r.bkt): r.c for r in spark.read.parquet(cms_table_path).collect()
    }
    out = {}
    for key in keys:
        ests = []
        for d in range(_CMS_DEPTH):
            h = hashlib.md5(f"{d}:{key}".encode()).hexdigest()[:8]
            bkt = int(h, 16) % _CMS_WIDTH
            ests.append(cells.get((d, bkt), 0))
        out[key] = min(ests)
    return out


def read_distinct_estimates(spark: SparkSession, sketch_table_path: str, key_col: str = "event_type") -> DataFrame:
    """Query side of maintain_distinct_sketch: per-key estimates plus a
    merged '__all__' row unioned from the stored sketches."""
    from ..sinks import swap_recover

    swap_recover(spark, sketch_table_path)
    sk = spark.read.parquet(sketch_table_path)
    per = sk.select(key_col, F.hll_sketch_estimate("sk").alias("approx_distinct"))
    total = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_distinct")
    ).select(F.lit("__all__").alias(key_col), "approx_distinct")
    return per.unionByName(total)


def maintain_running_aggregate(
    spark: SparkSession,
    events_path: str,
    agg_table_path: str,
    checkpoint_path: str,
    events_schema,
) -> None:
    """Continuous-aggregate maintenance (materialized view upkeep): keep a
    per-user totals table current as event files arrive.

    Each micro-batch is pre-aggregated (one row per user present in the
    batch — map-side combine makes this the minimum shuffle), then merged
    into the stored aggregate by full-outer union + re-aggregate and an
    atomic overwrite via a staging directory + rename. At warehouse scale
    the merge targets only the partitions whose keys appear in the batch
    (dynamic partition overwrite on a bucketed user-range partition);
    single-dir overwrite is the local-FS stand-in with the same
    semantics. State stays in the TABLE, not the stream: restarting the
    query needs no state-store recovery, and the aggregate is queryable
    mid-stream by any other session.

    Replay guard: a merge is NOT naturally idempotent (re-merging a
    replayed epoch double-counts), so replayed epochs are skipped via
    the merged-epoch high-water mark `_merge_into` commits INSIDE the
    swapped table directory. Data and watermark land in one rename, so
    there is no crash window between table rename and marker write.
    """

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        delta = batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        _merge_into(
            spark, agg_table_path, checkpoint_path, epoch_id, delta,
            _sum_by("user_id", cols=("n_events", "total_value")),
        )

    stream = spark.readStream.schema(events_schema).json(events_path)
    _drain(stream, checkpoint_path, merge_batch)


def maintain_term_counts(
    spark: SparkSession,
    docs_path: str,
    counts_table_path: str,
    checkpoint_path: str,
    docs_schema,
    text_col: str = "text",
) -> None:
    """Streaming vocabulary maintenance: keep a corpus-wide term-count
    table current as document files arrive — the streaming twin of the
    batch term-count family (text_ngram_topk / text_vocab_coverage /
    text_zipf_slope read their statistics from exactly this aggregate).

    Each micro-batch explodes its documents to terms and pre-aggregates
    (map-side combine: one row per distinct term in the batch — the
    minimum shuffle), then merges into the stored counts by addition.
    Addition is NOT idempotent, so the merge takes `_merge_into`'s
    merged-epoch watermark, like the CMS/running-aggregate maintainers:
    counts and epoch commit in one rename; replayed epochs are skipped.
    At 100 TB the stored table is vocabulary-sized (millions of rows),
    not corpus-sized — the reason this is maintainable at all.
    """

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        delta = (
            batch.select(F.explode(F.split(F.col(text_col), " ")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        _merge_into(
            spark, counts_table_path, checkpoint_path, epoch_id, delta,
            _sum_by("term"),
        )

    stream = spark.readStream.schema(docs_schema).json(docs_path)
    _drain(stream, checkpoint_path, merge_batch)


def read_top_terms(
    spark: SparkSession, counts_table_path: str, k: int = 10
) -> DataFrame:
    """Query side of maintain_term_counts: corpus top-k terms by count
    (ties broken by term) — TakeOrderedAndProject over the
    vocabulary-sized table, no full sort."""
    from ..sinks import swap_recover

    swap_recover(spark, counts_table_path)
    return (
        spark.read.parquet(counts_table_path)
        .orderBy(F.col("c").desc(), "term")
        .limit(k)
    )


def maintain_minhash_index(
    spark: SparkSession,
    docs_path: str,
    index_root: str,
    checkpoint_path: str,
    docs_schema,
) -> None:
    """Streaming maintenance of the persistent MinHash dedup index: as
    document files arrive, each micro-batch's signatures and band rows
    are appended to `{index_root}/sigs` and `{index_root}/bands` as
    atomic `epoch=<lineage>-<id>` partitions
    (sinks.commit_epoch_partition) — the accumulated corpus is indexed
    exactly once, and a NEW batch dedups against it via
    operators.dedup.dedup_against_index without recomputing one old
    signature.

    Crash/replay contract (pinned in tests/test_streaming.py): the
    partition rename is the commit point, so a replayed epoch is
    detected by directory existence and skipped PER TABLE — a crash
    between the sigs commit and the bands commit replays into
    "sigs exists (skip), bands missing (commit)", converging to the
    same state as a crash-free run. Earlier epochs' files are never
    rewritten (batch builds stay O(batch), not O(corpus)), and a
    checkpoint reset that keeps the index raises the same loud
    lineage-mismatch error as the watermarked maintainers.

    At 100 TB: signatures are 32 longs/doc and band rows 16x(3 longs)
    per doc — the index grows at ~0.4 KB/doc regardless of document
    size, the property that makes corpus-lifetime dedup state
    maintainable at all. Periodic sinks.compact_table keeps the
    per-epoch small files in check."""
    from ..operators.dedup import minhash_index_rows
    from ..sinks import commit_epoch_partition

    def index_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        lineage = _checkpoint_lineage(spark, checkpoint_path)
        sig, bands = minhash_index_rows(batch)
        commit_epoch_partition(
            spark, sig, f"{index_root}/sigs", lineage, epoch_id
        )
        commit_epoch_partition(
            spark, bands, f"{index_root}/bands", lineage, epoch_id
        )

    stream = spark.readStream.schema(docs_schema).json(docs_path)
    _drain(stream, checkpoint_path, index_batch)


def maintain_eval_gram_index(
    spark: SparkSession,
    docs_path: str,
    index_root: str,
    checkpoint_path: str,
    docs_schema,
) -> None:
    """Streaming maintenance of the persisted eval-gram decontamination
    index: as new eval/benchmark document files arrive, each
    micro-batch's distinct word-5-gram hashes append to
    `{index_root}/grams` as an atomic `epoch=<lineage>-<id>` partition
    — the same commit/replay/lineage discipline as
    maintain_minhash_index (crash between staging write and rename, a
    replayed epoch, and a checkpoint reset are all covered by
    sinks.commit_epoch_partition), so the accumulated eval corpus is
    hashed exactly once and every future training batch sweeps against
    it via operators.sampling.decontaminate_against_index."""
    from ..operators.sampling import five_gram_rows
    from ..sinks import commit_epoch_partition

    def index_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        lineage = _checkpoint_lineage(spark, checkpoint_path)
        rows = five_gram_rows(batch.select("doc_id", "text")).select(
            F.col("doc_id").alias("eval_doc"), "gh"
        )
        commit_epoch_partition(
            spark, rows, f"{index_root}/grams", lineage, epoch_id
        )

    stream = spark.readStream.schema(docs_schema).json(docs_path)
    _drain(stream, checkpoint_path, index_batch)


def maintain_pq_index(
    spark: SparkSession,
    emb_path: str,
    index_root: str,
    checkpoint_path: str,
    emb_schema,
) -> None:
    """Streaming maintenance of the persisted PQ/IVF ANN index: as new
    embedding files arrive, each micro-batch encodes against the FROZEN
    base codebooks (operators.similarity.append_pq_epoch) and commits
    one atomic `epoch=<lineage>-<id>` partition to
    `{index_root}/pq_codes_epochs` — the same commit/replay/lineage
    discipline as maintain_minhash_index, so a replayed epoch is skipped
    by partition existence and a checkpoint reset over a kept index
    raises loudly.

    The base index (codebooks + centroids + base codes) must exist
    before the stream starts — training is the offline build_pq_index
    job, never the ingest path; a missing/torn base fails the first
    batch with build_pq_index's instruction rather than training
    implicitly (half-trained codebooks would poison every epoch).
    Codebook drift is recorded per row (recon_cos) as the epoch is
    written; pq_index_drift_report / load_pq_index_incremental enforce
    the retrain-needed rule at serve time.

    At 100 TB: each epoch costs one distributed encode of the batch
    (8 bytes of codes + one float per vector) plus a directory rename —
    old epochs are never rewritten and training cost on the ingest path
    is zero, the property that keeps a corpus-lifetime ANN index
    maintainable. Periodic sinks.compact_table bounds small files."""
    from ..operators.similarity import append_pq_epoch

    def index_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        lineage = _checkpoint_lineage(spark, checkpoint_path)
        append_pq_epoch(spark, batch, index_root, lineage, epoch_id)

    stream = spark.readStream.schema(emb_schema).json(emb_path)
    _drain(stream, checkpoint_path, index_batch)


def incremental_load_clustered(
    spark: SparkSession,
    src_path: str,
    table_path: str,
    checkpoint_path: str,
    src_schema,
    partition_col: str,
    zorder_cols: list[str] | tuple[str, ...],
    key: str = "id",
) -> None:
    """Exactly-once incremental load INTO a Z-order-maintained
    hive-partitioned table — the ingest→OPTIMIZE loop a lakehouse
    schedules, composed into one stream. Per micro-batch: (1)
    idempotent-append the batch into `partition_col=<value>`
    directories (ingest.append_idempotent — a replayed epoch's keys are
    already present, so the re-append is a no-op), then (2) run
    operators.layout.zorder_maintain over ONLY the partitions this
    batch touched, re-clustering them on zorder_cols. "Touched" is the
    union of two sets:
    - the partitions that RECEIVED an append, derived from the rows
      surviving the idempotency anti-join, not the raw batch: a
      duplicate key arriving under a new partition value appends
      nothing and creates no dir, so it is not touched;
    - the raw batch's values that already have a dir, so a torn
      pre-crash append converges even when the replay has surviving
      rows (partitions appended before the crash but
      duplicate-on-replay are still re-clustered).
    Directory checks go through the Hadoop FS API (fsio.Fs) — object-
    store table URIs work.

    Crash contract (pinned in tests/test_streaming.py): every
    crash point converges across a checkpoint restart —
    - after the append, before maintenance: the replay re-appends
      nothing; the touched partitions' fingerprints still differ from
      their `_ZORDER_OK` markers, so maintenance re-clusters them now;
    - inside a partition swap: `_zorder_recover` at the head of the
      next pass restores the parked partition / discards staging, and
      the partition is still marker-dirty, so it re-clusters;
    - after maintenance, before the checkpoint commit: the replay
      appends nothing and every touched partition's marker matches its
      fingerprint — the whole epoch is a no-op pass.

    Scale shape: per epoch the append is one partitioned write of batch
    size and maintenance is O(dirty partitions × partition size) — a
    daily ingest touching 3 date partitions of 10,000 re-clusters
    those 3, never the table (`only=` keeps even the fingerprint check
    off untouched partitions; crash recovery alone sweeps the full
    listing, one readdir). The idempotency semi/anti joins broadcast
    only batch-sized key sets (ingest.append_idempotent)."""
    from ..ingest import append_idempotent
    from ..operators.layout import zorder_maintain

    def load_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.dropDuplicates([key])
        # bounded collect: one row per partition value actually appended
        _n_new, new_vals = append_idempotent(
            spark,
            batch,
            table_path,
            key=key,
            partition_by=[partition_col],
            new_values_of=partition_col,
        )
        listing = set(Fs(spark, table_path).listdir(table_path))
        appended = {f"{partition_col}={v}" for v in new_vals}
        # fail LOUD if a value's directory name doesn't match the
        # f-string form (hive path-escaping of special chars): a
        # silently-skipped entry would stay dirty forever. Since
        # `appended` only holds partitions that received an append,
        # a miss here really is path-escaping, never an
        # already-present-key skip.
        missing = appended - listing
        if missing:
            raise ValueError(
                f"partition dirs not found for {sorted(missing)} "
                "even though rows were appended under those values "
                "— the values need hive path-escaping, which the "
                "touched-partition restriction doesn't support; "
                "use path-safe partition values"
            )
        # raw values whose dir doesn't exist are duplicate keys under
        # brand-new partition values — not dirty, not an error. Extra
        # existing-but-clean entries cost one fingerprint-vs-marker
        # check each in zorder_maintain, never a re-cluster.
        touched = appended | (
            {
                f"{partition_col}={r[0]}"
                for r in batch.select(partition_col).distinct().collect()
            }
            & listing
        )
        if not touched:
            return
        zorder_maintain(spark, table_path, zorder_cols, only=touched)

    stream = spark.readStream.schema(src_schema).json(src_path)
    _drain(stream, checkpoint_path, load_batch)


def incremental_load_validated(
    spark: SparkSession,
    cfg: IngestConfig,
    quarantine_uri: str,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Validated exactly-once incremental load with a quarantine reject
    path: per micro-batch, rows failing the rule profile land in a
    quarantine table with reason codes, valid rows take the normal
    idempotent-append path. The streaming twin of the batch pair
    dq_quarantine_split (reject rows) / incremental_load (happy path).

    Rules (the POSTS contract the reference's BigQuery load enforces
    implicitly via its NOT NULL schema, terraform DDL — plus a length
    cap): non-null id, non-null userId, title <= 500 chars.

    Exactly-once on BOTH paths: valid rows go through append_idempotent
    (replay never re-writes a key); quarantine rows are committed via
    sinks.commit_epoch_partition — each epoch is one atomic
    `epoch=<lineage>-<id>` partition rename, so a replayed micro-batch
    finds its partition already present and skips (no duplicate reject
    rows), and the lineage stamp turns a checkpoint-reset-with-kept-
    table into a loud error. Returns {"appended": n, "quarantined": n}.
    """
    from ..ingest import append_idempotent, stamp_posts
    from ..sinks import commit_epoch_partition

    counts = {"appended": 0, "quarantined": 0}
    table_path = cfg.table_path()
    checkpoint_path = os.path.join(
        cfg.checkpoint_uri, cfg.table_name + "_validated"
    )

    reasons = F.concat_ws(
        ",",
        F.when(F.col("id").isNull(), F.lit("id_null")),
        F.when(F.col("userId").isNull(), F.lit("userid_null")),
        F.when(F.length("title") > 500, F.lit("title_too_long")),
    )

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        lineage = _checkpoint_lineage(spark, checkpoint_path)
        flagged = batch.withColumn("reasons", reasons)
        bad = flagged.filter(F.col("reasons") != "")
        good = flagged.filter(F.col("reasons") == "").drop("reasons")
        if commit_epoch_partition(
            spark, bad, quarantine_uri, lineage, epoch_id
        ):
            counts["quarantined"] += bad.count()
        counts["appended"] += append_idempotent(
            spark, stamp_posts(good), table_path, key="id"
        )

    _drain(
        _landing_stream(spark, cfg, max_files_per_trigger),
        checkpoint_path,
        write_batch,
    )
    return counts


def maintain_quantile_digest(
    spark: SparkSession,
    events_path: str,
    digest_table_path: str,
    checkpoint_path: str,
    events_schema,
    key_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Streaming quantile-digest maintenance: keep per-group t-digest
    centroid digests (operators.aggregates td_compress — the batch twin
    is sketch_tdigest_quantiles) current as event files arrive; any
    quantile is then answerable from the digest table in O(centroids)
    without scanning events.

    Merge semantics: each batch compresses its values to <=K centroids
    per group (Arrow grouped-map), then merges into the stored digests
    by concatenation + re-compression — commutative/associative but NOT
    idempotent (a replayed epoch would double its weight), so the merge
    takes `_merge_into`'s stamped-swap epoch guard, like the CMS
    maintainer.

    State is O(groups x K centroids) regardless of event volume — the
    reason per-day/per-partition quantile rollups stay maintainable at
    100 TB."""
    from ..operators.aggregates import _TD_SCHEMA, _td_build, _td_merge

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        delta = (
            batch.select(
                F.col(key_col).alias("event_type"),
                F.col(value_col).cast("double").alias("v"),
            )
            .groupBy("event_type")
            .applyInPandas(_td_build, _TD_SCHEMA)
        )
        _merge_into(
            spark, digest_table_path, checkpoint_path, epoch_id, delta,
            lambda rows: rows.groupBy("event_type").applyInPandas(
                _td_merge, _TD_SCHEMA
            ),
        )

    stream = spark.readStream.schema(events_schema).json(events_path)
    _drain(stream, checkpoint_path, merge_batch)


def read_quantiles(
    spark: SparkSession,
    digest_table_path: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Query side of maintain_quantile_digest: per-group quantile
    estimates from the stored centroid digests — O(groups x centroids),
    no event scan."""
    from ..operators.aggregates import td_quantile
    from ..sinks import swap_recover

    swap_recover(spark, digest_table_path)
    digests = spark.read.parquet(digest_table_path)

    def _extract(it):
        import pandas as pd

        for pdf in it:
            out = {"event_type": pdf["event_type"]}
            for q in qs:
                out[f"p{int(q * 100)}"] = [
                    td_quantile(m, w, q)
                    for m, w in zip(pdf["means"], pdf["weights"])
                ]
            yield pd.DataFrame(out)

    schema = "event_type string, " + ", ".join(
        f"p{int(q * 100)} double" for q in qs
    )
    return digests.mapInPandas(_extract, schema)


def maintain_drift_profile(
    spark: SparkSession,
    events_path: str,
    profile_table_path: str,
    checkpoint_path: str,
    events_schema,
    lo: float,
    hi: float,
    key_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Streaming drift-profile maintenance: keep the per-(key, bin)
    histogram tables the batch drift monitors (dq_ks_drift's KS + PSI,
    operators/dq.py) compute from, current as event files arrive — the
    streaming twin that closes the batch-monitor loop. Readers get KS
    distance / PSI between any two keys at any time from the stored
    256-bin tables via read_drift_stats, never re-scanning raw events.

    The grid is FIXED and caller-supplied (`lo`/`hi` — in production the
    reference/training distribution's bounds): dq_ks_drift's
    data-dependent min/max grid cannot be maintained incrementally (a
    new extreme value would re-bin every stored count), and a drift
    monitor's grid SHOULD be pinned to the reference distribution
    anyway — today's batch is binned on the same grid yesterday's was,
    or the statistic compares apples to oranges. Out-of-range values
    clamp to the edge bins, exactly like the batch monitor's `least()`
    clamp on its own grid.

    Merge semantics: bin counts merge by ADDITION — commutative and
    associative but NOT idempotent — so the merge takes `_merge_into`'s
    stamped-swap epoch guard, like the CMS maintainer
    (maintain_frequency_sketch).

    State is O(keys x 256 bins) regardless of event volume; per batch
    the work is one conditional-count shuffle on (key, bin) — the same
    shape as the batch monitor minus its global min/max pass."""
    from ..operators.dq import _KS_BINS

    if not hi > lo:
        raise ValueError(f"drift grid needs hi > lo, got [{lo}, {hi}]")
    bin_expr = F.greatest(
        F.least(
            F.floor(
                (F.col(value_col).cast("double") - F.lit(float(lo)))
                * float(_KS_BINS)
                / F.lit(float(hi) - float(lo))
            ).cast("long"),
            F.lit(_KS_BINS - 1),
        ),
        F.lit(0),
    )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        delta = (
            batch.select(F.col(key_col).alias("key"), bin_expr.alias("bin"))
            .groupBy("key", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        _merge_into(
            spark, profile_table_path, checkpoint_path, epoch_id, delta,
            _sum_by("key", "bin"),
        )

    stream = spark.readStream.schema(events_schema).json(events_path)
    _drain(stream, checkpoint_path, merge_batch)


def read_drift_stats(
    spark: SparkSession,
    profile_table_path: str,
    key_a: str,
    key_b: str,
) -> DataFrame:
    """Query side of maintain_drift_profile: KS distance + PSI between
    two keys' maintained bin tables — IDENTICAL gate arithmetic to the
    batch monitor dq_ks_drift (cumulative-share window over <=256
    aggregated rows, Laplace-smoothed PSI shares), so a threshold tuned
    on the batch monitor transfers to the stream unchanged. One row out;
    cost is O(bins), no event scan."""
    from pyspark.sql import Window as W

    from ..operators.dq import _KS_BINS
    from ..sinks import swap_recover

    swap_recover(spark, profile_table_path)
    prof = spark.read.parquet(profile_table_path)
    counts = (
        prof.filter(F.col("key").isin(key_a, key_b))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("key") == key_a, F.col("c")).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("key") == key_b, F.col("c")).otherwise(0)).alias("cb"),
        )
    )
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
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


def maintain_source_term_counts(
    spark: SparkSession,
    docs_path: str,
    counts_table_path: str,
    checkpoint_path: str,
    docs_schema,
    text_col: str = "text",
    source_col: str = "source",
) -> None:
    """Streaming maintenance of the per-source unigram distributions —
    the state behind the batch text_js_divergence domain-shift monitor
    (operators/text.py): keep (source, term, c) current as document
    files arrive, so "how far has crawl batch B drifted from domain A"
    is answerable from vocabulary-sized state instead of a full corpus
    re-scan.

    Same contract as maintain_term_counts (one key column wider): each
    micro-batch pre-aggregates map-side to one row per distinct
    (source, term) in the batch, then merges into the stored counts by
    addition under `_merge_into`'s merged-epoch watermark guard. Stored
    size is sum of per-source vocabularies, never corpus rows."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        delta = (
            batch.select(
                F.col(source_col).alias("source"),
                F.explode(F.split(F.col(text_col), " ")).alias("term"),
            )
            .filter(F.col("term") != "")
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        _merge_into(
            spark, counts_table_path, checkpoint_path, epoch_id, delta,
            _sum_by("source", "term"),
        )

    stream = spark.readStream.schema(docs_schema).json(docs_path)
    _drain(stream, checkpoint_path, merge_batch)


def read_js_divergence(
    spark: SparkSession, counts_table_path: str
) -> DataFrame:
    """Query side of maintain_source_term_counts: pairwise
    Jensen-Shannon divergence between every two sources' maintained
    unigram distributions, with EXACTLY the batch operator's
    shared-terms arithmetic (text_js_divergence's docstring carries the
    decomposition) — so the streamed state answers bit-identically to a
    batch re-scan of the same corpus (one-shot equivalence pinned in
    tests/test_streaming.py). Runs entirely on the vocabulary-sized
    state table: one term-keyed self-join + |sources|-row totals
    broadcast on both sides."""
    from ..sinks import swap_recover

    swap_recover(spark, counts_table_path)
    c = spark.read.parquet(counts_table_path)
    tot = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = c.select(
        F.col("source").alias("source_a"), "term", F.col("c").alias("ca")
    ).join(
        F.broadcast(
            tot.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
        ),
        "source_a",
    )
    b = c.select(
        F.col("source").alias("source_b"), "term", F.col("c").alias("cb")
    ).join(
        F.broadcast(
            tot.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
        ),
        "source_b",
    )
    p = F.col("ca") * 1.0 / F.col("na")
    q_ = F.col("cb") * 1.0 / F.col("nb")
    shared = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum(p).alias("sh_p"),
            F.sum(q_).alias("sh_q"),
            F.sum(
                p * F.log(2.0 * p / (p + q_)) + q_ * F.log(2.0 * q_ / (p + q_))
            ).alias("core"),
        )
    )
    import math

    # all pairs from the totals table — a fully-disjoint pair (jsd =
    # ln 2, the most-drifted case) never meets in the inner join and
    # must come from the zero-filled tails (same fix as the batch
    # operator; boundary-pinned in tests/test_streaming.py)
    pairs = (
        tot.select(F.col("source").alias("source_a"))
        .join(
            tot.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    ln2 = float(math.log(2.0))
    return (
        pairs
        .join(F.broadcast(shared), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_shared_terms", F.lit(0)).cast("bigint").alias(
                "n_shared_terms"
            ),
            F.round(
                0.5 * F.coalesce("core", F.lit(0.0))
                + 0.5
                * (
                    2.0
                    - F.coalesce("sh_p", F.lit(0.0))
                    - F.coalesce("sh_q", F.lit(0.0))
                )
                * F.lit(ln2),
                4,
            ).alias("jsd"),
        )
    )


def maintain_cooc_graph(
    spark: SparkSession,
    docs_path: str,
    index_root: str,
    checkpoint_path: str,
    docs_schema,
) -> None:
    """Streaming maintenance of the persisted TextRank co-occurrence
    graph: as document files arrive, each micro-batch's pair-count
    PARTIALS (a < b, wt within the batch) and distinct kept words
    append to `{index_root}/pairs` and `{index_root}/words` as atomic
    `epoch=<lineage>-<id>` partitions — the maintain_minhash_index
    commit/replay/lineage discipline, applied to an ADDITIVE aggregate:
    co-occurrence windows never cross documents, so summing per-batch
    partials reproduces the one-shot corpus counts exactly (bigint
    arithmetic — operators.text.textrank_from_index therefore equals
    the batch text_textrank_keywords BIT-FOR-BIT on the accumulated
    corpus; pinned in tests/test_streaming.py).

    At 100 TB: per-batch work is O(batch) tokenization + a vocabulary-
    bounded aggregate; the graph artifact grows with VOCABULARY (pair
    partials compact across epochs via sinks.compact_table or the
    reader's re-aggregate), never with corpus size — the property that
    makes corpus-lifetime keyword statistics maintainable without
    recomputing one old document."""
    from ..operators.text import cooc_pair_rows
    from ..sinks import commit_epoch_partition

    def index_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        lineage = _checkpoint_lineage(spark, checkpoint_path)
        pairs, words = cooc_pair_rows(batch.select("doc_id", "text"))
        commit_epoch_partition(
            spark, pairs, f"{index_root}/pairs", lineage, epoch_id
        )
        commit_epoch_partition(
            spark, words, f"{index_root}/words", lineage, epoch_id
        )

    stream = spark.readStream.schema(docs_schema).json(docs_path)
    _drain(stream, checkpoint_path, index_batch)
