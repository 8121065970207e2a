"""Sinks: object-store and managed-table writers (reference R3/R6
re-expressed; SURVEY.md §2.2 "Sinks").

The reference writes one JSON blob per run via a client library
(src/extract/main.py:46-49) and streams rows into BigQuery one file at a
time (src/load/main.py:40,47). Engine-native equivalents write through
Spark — partition-parallel, splittable formats, atomic per-task commit —
to any Hadoop filesystem (file://, gs://, s3a://).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_json(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Land as JSON-lines (splittable; the reference's array-blob format is
    one unsplittable task at scale)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def write_parquet_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Managed-table append (reference R6). Partition columns should be the
    dominant pruning predicate (ingest_date for event/fact data) so reads
    at 100 TB touch only relevant partitions."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — same partition-parallel, atomic-per-task commit shape as
    the parquet writer, for warehouses standardized on ORC."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: later equi-joins/aggs on bucket_col skip the
    shuffle entirely (co-located join). The 100 TB answer to repeated
    joins on the same key (e.g. lineitem x orders on orderkey)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def warehouse_format_available(spark, fmt: str) -> bool:
    """True when a DataSource for `fmt` resolves on the session classpath.

    Used by write_warehouse to decide between a native warehouse write
    (e.g. the open-source spark-bigquery-connector registers format
    "bigquery") and the managed-parquet fallback. Resolution goes through
    Spark's own DataSource.lookupDataSource so anything Spark itself can
    write to — built-ins and connector jars alike — reports available;
    the probe is wrapped because a missing provider raises rather than
    returning empty."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            fmt, spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def write_warehouse(
    df: DataFrame,
    table: str,
    fmt: str = "bigquery",
    mode: str = "append",
    fallback_root: str | None = None,
    **options,
) -> dict:
    """Warehouse-sink dispatch — the reference's BigQuery load surface
    (src/load/main.py:40,47 streams each landed file into a BQ table)
    with an explicit in-sandbox fallback (VERDICT r8 item 8: turn the
    one documented-blocked reference surface into tested dispatch).

    When the `fmt` connector is on the classpath (a real GCP deployment
    ships the spark-bigquery-connector jar), this is a partition-parallel
    `df.write.format(fmt).save(table)` — the scale-correct replacement
    for the reference's one-file-at-a-time `load_table_from_file` loop.
    Connector options (temporaryGcsBucket, writeMethod=direct, …) pass
    through via **options. Without the jar (this sandbox has none), the
    write lands in the managed parquet table `fallback_root/table` with
    identical append/overwrite semantics, so pipelines are portable
    between environments without code changes.

    Returns a small manifest dict naming which sink actually ran —
    callers (and tests) assert on it rather than on classpath guesses.
    """
    spark = df.sparkSession
    if warehouse_format_available(spark, fmt):
        w = df.write.format(fmt).mode(mode)
        for k, v in options.items():
            w = w.option(k, v)
        w.save(table)
        return {"sink": fmt, "table": table, "mode": mode}
    if fallback_root is None:
        raise ValueError(
            f"format {fmt!r} is not on the classpath and no fallback_root "
            "was given — pass fallback_root to land a managed parquet "
            "table instead"
        )
    path = f"{fallback_root.rstrip('/')}/{table.replace('.', '/')}"
    write_parquet_table(df, path, mode=mode)
    return {"sink": "parquet_fallback", "path": path, "mode": mode}


def write_sharded(
    df, path: str, target_rows_per_file: int, order_by: str | None = None
) -> int:
    """Write `df` as evenly-sized shards (~target_rows_per_file each) —
    the file-sizing step before publishing training shards, where
    downstream loaders want uniform files, not whatever task layout the
    upstream job happened to have.

    Computes the shard count from an exact count (one extra pass — at
    shard-writing time the data is about to be fully written anyway),
    then round-robin repartitions for even sizes; with `order_by`, uses a
    range repartition instead so shards are also key-ordered (enables
    shard-level pruning by the ordering key). Returns the shard count.
    """
    from pyspark.sql import functions as F  # noqa: F401

    n = df.count()
    shards = max(1, -(-n // target_rows_per_file))  # ceil div
    out = (
        df.repartitionByRange(shards, order_by)
        if order_by
        else df.repartition(shards)
    )
    out.write.mode("overwrite").parquet(path)
    return shards


def compact_table(
    spark, path: str, target_rows_per_file: int, partition_col: str | None = None
) -> int:
    """Small-file compaction: rewrite a parquet table into ~uniform files
    and atomically swap it in. Streaming/incremental appends accumulate
    one file per micro-batch task — at warehouse scale the resulting
    tiny-file population dominates scan open/seek cost and file-listing
    time, and periodic compaction is the standard fix (what OPTIMIZE does
    on a lakehouse table; here: rewrite + staged rename on plain
    parquet). Returns the file count written.

    With `partition_col`, the rewrite keeps hive partitioning
    (partitionBy) so partition pruning still works after compaction;
    rows are repartitioned on the partition column first so each output
    partition is written by as few tasks as possible (fewer files).

    Swap ordering (ADVICE r4): live dir renamed aside (path -> path.old),
    staging renamed in, THEN the old dir deleted — never delete-first.
    The reader race window shrinks from an O(files) recursive delete to
    two directory renames, and a crash mid-swap leaves the previous
    table intact under a recoverable name (`path.old` or the original)
    instead of destroying it; `swap_recover` puts it back. Exactly the
    tradeoff a 100 TB deployment wants: pay one bounded rewrite of hot
    partitions, save every later scan.
    """
    import math

    from pyspark.sql import functions as F  # noqa: F401

    swap_recover(spark, path)
    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    if partition_col:
        out = df.repartition(files, partition_col)
        writer = out.write.partitionBy(partition_col)
    else:
        out = df.repartition(files)
        writer = out.write
    staging = path + ".compact.staging"
    writer.mode("overwrite").parquet(staging)
    swap_dir(spark, staging, path)
    return files


def _must(ok: bool, action: str) -> None:
    # Hadoop FileSystem.rename/delete signal failure by returning false,
    # not raising; an unchecked false would let the swap continue into
    # the delete that destroys the only surviving copy.
    if not ok:
        raise IOError(f"table swap: {action} failed")


def swap_dir(spark, staging: str, path: str, park: str | None = None) -> None:
    """Swap a fully-written staging directory into place:
    path -> park (default `path.old`), staging -> path, delete park.

    Plain-FS rename is not transactional, so this narrows rather than
    closes the race: a reader can still catch the instant between the
    two renames (missing-table error — retryable), but never a
    half-deleted listing, and no crash point loses data: a leftover
    park dir with the live dir MISSING is a mid-swap crash artifact and
    is restored first (same logic as swap_recover — every writer path
    runs it via this function; reader paths call swap_recover
    explicitly); a leftover park WITH a live dir is post-swap debris and
    is swept. Every rename/delete result is checked — Hadoop FS signals
    failure by returning false. A lakehouse table format (Delta/Iceberg)
    is the real fix once its jars are available (SURVEY.md §2.3).

    `park` matters when `path` sits INSIDE a directory a reader lists
    (e.g. one hive partition of a live table): `path.old` would itself
    be discovered as a bogus partition, so such callers park somewhere
    discovery ignores (zorder_maintain parks under the dot-prefixed
    `<table>/.zorder_old/<entry>` — ADVICE r11)."""
    jvm = spark._jvm
    fs_conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    opath = jvm.org.apache.hadoop.fs.Path(park if park else path + ".old")
    fs = hpath.getFileSystem(fs_conf)
    if park:
        _must(fs.mkdirs(opath.getParent()), f"mkdirs parent of {park}")
    if fs.exists(opath):
        if not fs.exists(hpath):
            # mid-swap crash artifact: .old IS the table — restore, so
            # the delete below can never destroy the only copy
            _must(fs.rename(opath, hpath), f"restore {path}.old")
        else:
            _must(fs.delete(opath, True), f"sweep leftover {path}.old")
    had_live = fs.exists(hpath)
    if had_live:
        _must(fs.rename(hpath, opath), f"park {path}")
    _must(fs.rename(spath, hpath), f"swap in {staging}")
    if had_live:
        _must(fs.delete(opath, True), f"drop parked {path}.old")


def swap_recover(spark, path: str) -> bool:
    """Recover from a crash inside swap_dir: if the live dir is missing
    but `path.old` survives, rename it back. Returns True if a recovery
    happened. Idempotent; called at the head of every read-modify-write
    and reader path that consumes a swapped table (a merge that read a
    'missing' table would otherwise silently restart its state from the
    current batch alone)."""
    jvm = spark._jvm
    fs_conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    opath = jvm.org.apache.hadoop.fs.Path(path + ".old")
    fs = hpath.getFileSystem(fs_conf)
    if not fs.exists(hpath) and fs.exists(opath):
        _must(fs.rename(opath, hpath), f"restore {path}.old")
        return True
    return False


def expire_partitions(spark, path: str, partition_col: str, keep: list[str]) -> int:
    """Retention sweep over a hive-partitioned table: drop every
    `partition_col=value` directory whose value is NOT in `keep`.
    Returns the number of partitions removed.

    Deletion is directory-level — no rewrite, no scan of surviving data;
    the partition layout IS the retention index (the reason ingest lands
    under ingest_date=... in the first place). The remove is per-
    partition atomic (one directory rename/delete each); a reader racing
    the sweep sees a partition entirely or not at all, never partially.
    """
    from .fsio import Fs, child

    fs = Fs(spark, path)
    if not fs.exists(path):
        return 0
    removed = 0
    for name in fs.listdir(path):
        if not name.startswith(partition_col + "="):
            continue
        if name.split("=", 1)[1] not in keep:
            fs.delete(child(path, name))  # raises when the delete fails
            removed += 1
    return removed


def commit_epoch_partition(
    spark,
    df,
    table_path: str,
    lineage: str,
    epoch_id,
    partition_by: list[str] | None = None,
) -> bool:
    """Atomically append one micro-batch epoch to an ACCUMULATING table
    as a hive partition directory `epoch=<lineage>-<id>` — the
    append-only sibling of the stamped-swap discipline
    (streaming.ingest_stream._atomic_swap_in): where a merged aggregate
    must REWRITE its whole table per epoch, an append-only artifact
    (e.g. a MinHash signature index) only ever gains rows, so each
    epoch lands as its own partition and earlier epochs' files are
    never touched again.

    Commit protocol: write to a dot-prefixed staging dir INSIDE the
    table root (dot/underscore paths are invisible to parquet readers),
    then one atomic rename to `epoch=<lineage>-<id>`. The partition dir
    either exists completely or not at all, so a replayed epoch is
    detected by existence and skipped — returns False (True when this
    call committed). The partition value doubles as provenance: readers
    see an `epoch` string column.

    Epoch ids only compare within one checkpoint lineage (the query
    uuid, ingest_stream._checkpoint_lineage): finding partitions from a
    DIFFERENT lineage means the checkpoint was reset while the table
    was kept — a fresh stream would re-index every document under new
    partition names (duplicate rows, corrupt index), so it raises
    instead. That also means a batch-built index (the build_* helpers
    default lineage='batch') cannot be silently extended by a stream:
    initialize a stream-maintained index FROM the stream, or pass the
    stream's lineage to the batch builder — the mixed case should be a
    deliberate choice, not an accident."""
    part = f"epoch={lineage}-{int(epoch_id)}"
    jvm = spark._jvm
    fs_conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = root.getFileSystem(fs_conf)
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("epoch="):
                continue
            got_lineage = name[len("epoch="):].rpartition("-")[0]
            if got_lineage != lineage:
                raise RuntimeError(
                    f"epoch partitions at {table_path} belong to checkpoint "
                    f"lineage '{got_lineage}' but the running stream is "
                    f"'{lineage}': the checkpoint was reset or replaced "
                    "without resetting the table — a fresh stream would "
                    "re-append every epoch under new names (duplicate "
                    "rows). Reset table and checkpoint together."
                )
    ppath = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{part}")
    staging = f"{table_path}/.{part}.staging"
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    if fs.exists(ppath):
        # replayed epoch: already committed atomically. Sweep the
        # staging dir a crash-between-write-and-rename may have left —
        # invisible to readers (dot-prefixed) but permanent litter
        # otherwise, since no later attempt rewrites this epoch.
        if fs.exists(spath):
            _must(fs.delete(spath, True), f"sweep stale staging {staging}")
        return False
    w = df.write.mode("overwrite")
    if partition_by:
        # sub-partitioned epoch (e.g. the PQ codes tables' list_bucket
        # fan-out): the hive dirs nest INSIDE the atomic epoch rename,
        # so the commit point is unchanged — one directory rename
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    _must(fs.rename(spath, ppath), f"commit epoch partition {part}")
    return True


# Helper roots for purge_epoch_partitions' per-partition swaps: both
# dot-prefixed so partition discovery and parquet readers never see
# them (the zorder_maintain park discipline — ADVICE r11).
_PURGE_STAGING_ROOT = ".purge_staging"
_PURGE_PARKED_ROOT = ".purge_old"


def purge_recover(spark, table_path: str) -> int:
    """Crash recovery for purge_epoch_partitions' per-partition swaps,
    run at the head of every purge pass (and safe to run from readers).
    Returns #partitions restored. Rules mirror layout._zorder_recover:
    a `.purge_old/<entry>` whose live partition is MISSING is a
    mid-swap crash — the parked dir IS the data, restore it; one whose
    live partition exists is post-swap debris — sweep it;
    `.purge_staging/` is always discardable (data still lives in the
    original partition, or was already swapped in)."""
    from .fsio import Fs, child

    fs = Fs(spark, table_path)
    if not fs.is_dir(table_path):
        return 0
    restored = 0
    parked_root = child(table_path, _PURGE_PARKED_ROOT)
    if fs.is_dir(parked_root):
        for entry in fs.listdir(parked_root):
            live = child(table_path, entry)
            parked = child(parked_root, entry)
            if fs.exists(live):
                fs.delete(parked)
            else:
                fs.rename(parked, live)
                restored += 1
    fs.delete(child(table_path, _PURGE_STAGING_ROOT))
    return restored


def purge_epoch_partitions(
    spark,
    table_path: str,
    keys,
    key: str,
    partition_by: list[str] | None = None,
) -> int:
    """Right-to-be-forgotten delete against an APPEND-ONLY epoch table
    (the commit_epoch_partition family: MinHash sigs/bands, eval
    grams, phash rows, PQ code epochs): remove every row whose `key`
    appears in the `keys` frame, rewriting ONLY the epoch partitions
    that contain purged keys. Returns the number of rows removed.

    Append-only means committed partitions are never rewritten — by
    the MAINTAINERS. A compliance purge is the one legitimate
    exception, and it must not break the readers' invariants, so each
    affected partition is rewritten as a filtered copy of itself UNDER
    THE SAME PARTITION NAME via a staged swap (epoch identity, replay
    detection, and lineage checks all key on the name set; a purge
    changes row content, never the epoch set) — except a partition
    purged EMPTY, which is deleted outright (an empty hive dir with no
    footers would break schema inference for explicit-path readers).
    Partitions without purged keys are never touched, so purge cost is
    O(affected partitions), not O(corpus).

    Crash contract: staging and park dirs are dot-prefixed (invisible
    to readers); purge_recover at the head converges any crash point
    (restore-if-live-missing / sweep-debris / discard-staging), each
    partition swap is atomic, and a replayed purge finds the remaining
    affected partitions and converges — same discipline as
    zorder_maintain's per-partition swaps. Callers that serve from a
    VALIDATION-STAMPED read of this table must bump their stamp after
    a purge (similarity.purge_pq_index does); the stamp memoizes only
    invariant checks, but a bumped stamp re-proves them against the
    purged content.

    `partition_by` names sub-partition columns nested inside each
    epoch dir (e.g. the PQ tables' list_bucket), so the rewrite
    preserves the hive layout readers prune on."""
    from .fsio import Fs, child

    purge_recover(spark, table_path)
    fs = Fs(spark, table_path)
    if not fs.is_dir(table_path) or not any(
        n.startswith("epoch=") for n in fs.listdir(table_path)
    ):
        return 0
    keys_df = F.broadcast(keys.select(key).distinct())
    tbl = spark.read.parquet(table_path)
    hit = tbl.join(keys_df, key, "left_semi")
    n_removed = hit.count()
    if not n_removed:
        return 0
    affected = [r[0] for r in hit.select("epoch").distinct().collect()]
    staging_root = child(table_path, _PURGE_STAGING_ROOT)
    parked_root = child(table_path, _PURGE_PARKED_ROOT)
    for ep in sorted(str(e) for e in affected):
        part = f"epoch={ep}"
        live = child(table_path, part)
        kept = (
            spark.read.option("basePath", table_path)
            .parquet(live)
            .join(keys_df, key, "left_anti")
            .drop("epoch")
        )
        if not kept.head(1):
            # purged empty: drop the partition dir atomically instead
            # of swapping in a footerless husk
            fs.delete(live)
            continue
        staging = child(staging_root, part)
        w = kept.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        swap_dir(spark, staging, live, park=child(parked_root, part))
    fs.delete(staging_root)
    return n_removed


# ---------------------------------------------------------------------------
# Versioned tables (time travel on plain parquet)
# ---------------------------------------------------------------------------

_VERSION_PTR = "_VERSION"


def _vfs(spark, root: str):
    jvm = spark._jvm
    rpath = jvm.org.apache.hadoop.fs.Path(root)
    return jvm, rpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _version_dirs(spark, root: str) -> list[int]:
    jvm, fs = _vfs(spark, root)
    rpath = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(rpath):
        return []
    out = []
    for st in fs.listStatus(rpath):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def current_version(spark, root: str) -> int | None:
    """The published version: the `_VERSION` pointer file's content, or
    (pointer missing — pre-first-publish or a crash before the pointer
    flip) the newest COMPLETE version directory older than any orphan is
    unknowable on plain FS, so the fallback is the highest v= dir."""
    jvm, fs = _vfs(spark, root)
    ppath = jvm.org.apache.hadoop.fs.Path(f"{root}/{_VERSION_PTR}")
    if fs.exists(ppath):
        ins = fs.open(ppath)
        try:
            buf = bytearray()
            b = ins.read()
            while b != -1 and len(buf) < 32:
                buf.append(b)
                b = ins.read()
        finally:
            ins.close()
        return int(buf.decode("ascii").strip())
    dirs = _version_dirs(spark, root)
    return dirs[-1] if dirs else None


def publish_version(spark, df, root: str) -> int:
    """Publish `df` as the next version of a versioned table and return
    its version number — snapshot-isolated time travel on plain parquet,
    the poor-man's lakehouse commit (Delta/Iceberg jars are absent in
    this sandbox; SURVEY.md §2.3):

    - data lands in a dot-prefixed staging dir, then ONE atomic rename
      to `v=<n>` (readers never see partial files);
    - the `_VERSION` pointer file then flips to <n> (write tmp, swap).
      A crash between the two renames leaves an orphan `v=<n>` dir that
      readers ignore (pointer still says <n-1>) and the next publish
      sweeps — no crash point corrupts a published version;
    - old versions stay readable until vacuum_versions drops them, so a
      reader holding version <k> is never invalidated by a publish
      (snapshot isolation by immutability — files of a published
      version are never touched again).

    Single-writer, like every swap-committed table in this engine
    (SCALE.md "Crash-safety"): two concurrent publishers would race the
    same staging name and pointer flip — serialized publishes (one
    maintenance job / stream) are the contract; multi-writer commits
    need a lakehouse format's metadata transaction, which this sandbox
    lacks the jars for.
    """
    jvm, fs = _vfs(spark, root)
    published = current_version(spark, root)
    # sweep orphans: version dirs NEWER than the pointer are crash
    # debris from a failed publish (their pointer flip never happened)
    for v in _version_dirs(spark, root):
        if published is not None and v > published:
            _must(
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/v={v}"), True),
                f"sweep orphan v={v}",
            )
    nxt = (published or 0) + 1
    staging = f"{root}/.v{nxt}.staging"
    df.write.mode("overwrite").parquet(staging)
    _must(
        fs.rename(
            jvm.org.apache.hadoop.fs.Path(staging),
            jvm.org.apache.hadoop.fs.Path(f"{root}/v={nxt}"),
        ),
        f"commit v={nxt}",
    )
    # pointer flip: tmp write + delete + rename (Hadoop rename does not
    # replace); the pointer-missing window falls back to max v= dir,
    # which IS nxt at that point
    tmp = jvm.org.apache.hadoop.fs.Path(f"{root}/.{_VERSION_PTR}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(str(nxt).encode("ascii"))
    finally:
        out.close()
    ppath = jvm.org.apache.hadoop.fs.Path(f"{root}/{_VERSION_PTR}")
    if fs.exists(ppath):
        _must(fs.delete(ppath, False), "drop old version pointer")
    _must(fs.rename(tmp, ppath), "flip version pointer")
    return nxt


def read_version(spark, root: str, version: int | None = None):
    """Read a versioned table: the published version by default, or any
    retained historical version (time travel)."""
    v = current_version(spark, root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published version at {root}")
    if v not in _version_dirs(spark, root):
        raise FileNotFoundError(
            f"version {v} not present at {root} (vacuumed or never published); "
            f"retained: {_version_dirs(spark, root)}"
        )
    return spark.read.parquet(f"{root}/v={v}")


def vacuum_versions(spark, root: str, keep_last: int = 2) -> int:
    """Retention for versioned tables: keep the newest `keep_last`
    PUBLISHED versions (always including the pointer's current one),
    delete the rest. Returns versions removed. Directory-level deletes —
    a historical reader loses only versions older than the retention
    window, exactly the lakehouse VACUUM contract."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm, fs = _vfs(spark, root)
    published = current_version(spark, root)
    if published is None:
        return 0
    keep = {v for v in _version_dirs(spark, root) if v <= published}
    keep = set(sorted(keep)[-keep_last:]) | {published}
    removed = 0
    for v in _version_dirs(spark, root):
        if v <= published and v not in keep:
            _must(
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/v={v}"), True),
                f"vacuum v={v}",
            )
            removed += 1
    return removed


# ---------------------------------------------------------------------------
# Shard manifests (integrity at dataset handoff)
# ---------------------------------------------------------------------------

_MANIFEST = "_MANIFEST.json"


def _hash_dataset(spark, path: str):
    """Distributed per-file (size, sha256, row count) via the binaryFile
    source — one Arrow batch per file; hashing AND parquet-footer parsing
    happen on executors against the in-memory bytes, so the driver never
    reads data bytes and NO local-filesystem access is assumed: the same
    code path verifies file://, hdfs://, gs://, s3a:// datasets (ADVICE
    r6 — the old implementation globbed the driver's local disk for
    footers, silently reporting rows=-1 on any remote warehouse URI).
    Shared by write_manifest and verify_manifest so producer and consumer
    measure the same way."""
    # drop any cached file listing for this path: a consumer verifying
    # a copy that changed since an earlier read must see current sizes
    spark.catalog.refreshByPath(path)
    files_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select("path", "length", "content")
    )

    def _sha(it):
        import hashlib

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        def _rows(buf) -> int:
            try:
                return pq.ParquetFile(pa.BufferReader(buf)).metadata.num_rows
            except Exception:
                # unreadable footer IS corruption — surface as a
                # row-count mismatch instead of failing the whole pass
                return -2

        for pdf in it:
            raw = [bytes(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "length": pdf["length"],
                    "sha256": [hashlib.sha256(b).hexdigest() for b in raw],
                    "rows": [_rows(b) for b in raw],
                }
            )

    hashed, rows = {}, {}
    for r in files_df.mapInPandas(
        _sha, "path string, length long, sha256 string, rows long"
    ).collect():
        name = r.path.rsplit("/", 1)[-1]
        hashed[name] = (r.length, r.sha256)
        rows[name] = int(r.rows)
    return hashed, rows


def _manifest_io(spark, path: str):
    """(jvm, fs, Path) for manifest read/write through the Hadoop
    FileSystem API — works on any warehouse URI, like the rest of the
    swap/publish machinery."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/{_MANIFEST}")
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_manifest(spark, path: str) -> dict:
    """Write an integrity manifest next to a published parquet dataset:
    per-file byte size, sha256, and row count, plus dataset totals —
    what a training-data handoff ships so the consumer can verify the
    copy BEFORE pointing a 10k-GPU job at it. Returns the manifest dict.

    The hashing runs distributed (binaryFile source + a Python sha256
    per file — no driver reads of data bytes); row counts come from
    parquet footers via a metadata-only read. The manifest is
    `_`-prefixed so parquet readers skip it. Memory note: binaryFile
    materializes one whole file per row, so executor memory bounds the
    shard size — size shards via write_sharded's target_rows_per_file
    (a few hundred MB per shard is the usual training-data shape;
    multi-GB shards would need a chunked Hadoop-stream hasher
    instead)."""
    import json as _json

    hashed, rows = _hash_dataset(spark, path)
    manifest = {
        "files": [
            {
                "name": name,
                "bytes": int(hashed[name][0]),
                "sha256": hashed[name][1],
                "rows": int(rows.get(name, -1)),
            }
            for name in sorted(hashed)
        ],
        "n_files": len(hashed),
        "total_rows": int(sum(rows.values())),
        "total_bytes": int(sum(v[0] for v in hashed.values())),
    }
    _jvm, fs, mpath = _manifest_io(spark, path)
    out = fs.create(mpath, True)
    try:
        out.write(
            bytearray(
                _json.dumps(manifest, indent=1, sort_keys=True).encode()
            )
        )
    finally:
        out.close()
    return manifest


def verify_manifest(spark, path: str) -> dict:
    """Re-hash a dataset and compare against its shipped manifest.
    Returns {"ok": bool, "missing": [...], "extra": [...],
    "corrupt": [...]} — corrupt = size, sha256, or row-count mismatch.
    The verification a consumer runs after copying shards."""
    import json as _json

    jvm, fs, mpath = _manifest_io(spark, path)
    stream = fs.open(mpath)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    want = _json.loads(bytes(raw).decode())
    hashed, rows = _hash_dataset(spark, path)
    seen = {
        name: {
            "bytes": int(hashed[name][0]),
            "sha256": hashed[name][1],
            "rows": int(rows.get(name, -1)),
        }
        for name in hashed
    }
    wanted = {e["name"]: e for e in want["files"]}
    missing = sorted(set(wanted) - set(seen))
    extra = sorted(set(seen) - set(wanted))
    corrupt = sorted(
        n
        for n in set(wanted) & set(seen)
        if (
            wanted[n]["bytes"] != seen[n]["bytes"]
            or wanted[n]["sha256"] != seen[n]["sha256"]
            or wanted[n]["rows"] != seen[n]["rows"]
        )
    )
    return {
        "ok": not (missing or extra or corrupt),
        "missing": missing,
        "extra": extra,
        "corrupt": corrupt,
    }
