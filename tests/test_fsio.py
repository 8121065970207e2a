"""Object-store portability of the maintenance/artifact machinery
(VERDICT r12 item 1): every driver-side filesystem operation in the
Z-order loop, the clustered streaming load, and the persisted-artifact
lifecycle goes through the Hadoop FileSystem API (fsio.Fs). These tests
run the same flows against EXPLICIT `file:` URIs — the scheme-resolved
Hadoop path form an object-store deployment would use — so the FS-API
code path is exercised end to end, not just via scheme-less local
paths that happen to hit the same default filesystem."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from build_a_cloud_based_batch_etl_pipeline_spark.fsio import Fs, child


def test_fs_primitives_roundtrip(spark, tmp_path):
    uri = "file:" + str(tmp_path)
    fs = Fs(spark, uri)
    fs.mkdirs(child(uri, "d", "sub"))
    fs.write_text(child(uri, "d", "m.txt"), "abc\n")
    assert fs.read_text(child(uri, "d", "m.txt")) == "abc\n"
    assert fs.is_dir(child(uri, "d"))
    assert fs.is_file(child(uri, "d", "m.txt"))
    assert not fs.is_file(child(uri, "d"))
    names = fs.listdir(child(uri, "d"))
    assert "m.txt" in names and "sub" in names
    fs.rename(child(uri, "d"), child(uri, "e"))
    assert fs.exists(child(uri, "e", "m.txt")) and not fs.exists(
        child(uri, "d")
    )
    fs.delete(child(uri, "e"))
    assert not fs.exists(child(uri, "e"))
    fs.delete(child(uri, "nope"))  # missing + ignore_missing: no raise
    with pytest.raises(FileNotFoundError):
        fs.listdir(child(uri, "nope"))


def test_fs_read_text_cap_bounds_the_read(spark, tmp_path):
    """max_bytes bounds the READ itself (ADVICE r14: the unbounded
    toByteArray drained the entire file into one JVM byte[] before the
    python-side slice, so a mispointed call at a large file
    materialized it all): a file far bigger than the cap comes back
    capped, and a cap landing mid-multi-byte-char drops the incomplete
    tail instead of raising."""
    uri = "file:" + str(tmp_path)
    fs = Fs(spark, uri)
    big = "x" * 100_000
    fs.write_text(child(uri, "big.txt"), big)
    got = fs.read_text(child(uri, "big.txt"), max_bytes=4096)
    assert got == "x" * 4096
    # 'é' is 2 bytes in UTF-8: an odd cap splits the final char
    fs.write_text(child(uri, "multi.txt"), "é" * 100)
    got = fs.read_text(child(uri, "multi.txt"), max_bytes=7)
    assert got == "é" * 3
    # short files (every real caller) are unchanged end to end
    fs.write_text(child(uri, "small.txt"), "abc\n")
    assert fs.read_text(child(uri, "small.txt")) == "abc\n"
    # genuine mid-file corruption still raises
    out = fs._fs.create(fs._path(child(uri, "bad.bin")), True)
    try:
        out.write(b"ok\xff\xfebad" + b"y" * 10)
    finally:
        out.close()
    with pytest.raises(UnicodeDecodeError):
        fs.read_text(child(uri, "bad.bin"))


def test_fs_rename_no_nest_refuses_hdfs_nesting(spark, tmp_path):
    """Hadoop rename onto an existing directory NESTS src inside dst
    (unlike os.rename, which raises). rename_no_nest must turn that
    into a clean lose-the-race outcome: dst intact, src gone, no stray
    nested dir — the invariant persisted_artifact's publish relies on."""
    uri = "file:" + str(tmp_path)
    fs = Fs(spark, uri)
    fs.mkdirs(child(uri, "winner"))
    fs.write_text(child(uri, "winner", "keep.txt"), "w\n")
    fs.mkdirs(child(uri, "loser"))
    fs.write_text(child(uri, "loser", "x.txt"), "l\n")
    assert fs.rename_no_nest(child(uri, "loser"), child(uri, "winner")) is False
    assert fs.read_text(child(uri, "winner", "keep.txt")) == "w\n"
    assert not fs.exists(child(uri, "loser"))
    assert not fs.exists(child(uri, "winner", "loser"))
    fs.mkdirs(child(uri, "fresh"))
    assert fs.rename_no_nest(child(uri, "fresh"), child(uri, "dst")) is True
    assert fs.is_dir(child(uri, "dst"))


def test_fs_parquet_row_count_matches_footer(spark, tmp_path):
    uri = "file:" + str(tmp_path / "t")
    spark.range(123).repartition(2).write.parquet(uri)
    fs = Fs(spark, uri)
    total = sum(
        fs.parquet_row_count(child(uri, e.name))
        for e in fs.list_entries(uri)
        if e.name.endswith(".parquet")
    )
    assert total == 123


def test_fingerprint_and_footer_guard_over_file_uri(spark, sf_dir, tmp_path):
    """The footer-count cap guard and the artifact content fingerprint
    must work on non-local (Hadoop-scheme) table paths: before r13 an
    object-store table counted None (silently degrading the fail-fast
    cap to the bounded fallback) and fingerprinted as 'missing' — every
    such table COLLIDED on one artifact dir, the one way a
    content-addressed artifact could be served stale."""
    from build_a_cloud_based_batch_etl_pipeline_spark.fsio import table_fingerprint
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        _parquet_num_rows,
    )

    local = str(tmp_path / "t")
    spark.range(321).repartition(3).write.parquet(local)
    uri = "file:" + local

    # counts agree across the pyarrow (local) and Hadoop (URI) branches
    assert _parquet_num_rows(local) == 321
    assert _parquet_num_rows(uri, spark) == 321
    assert _parquet_num_rows(uri) is None  # no spark handle: old behavior

    fp_uri = table_fingerprint(uri, spark)
    assert fp_uri != "missing" and len(fp_uri) == 16
    assert table_fingerprint(uri, spark) == fp_uri  # deterministic
    # distinct tables must not collide (the old 'missing' collision)
    local2 = str(tmp_path / "t2")
    spark.range(5).write.parquet(local2)
    assert table_fingerprint("file:" + local2, spark) != fp_uri
    # rewriting the table changes the fingerprint
    spark.range(99).repartition(2).write.mode("overwrite").parquet(local)
    assert table_fingerprint(uri, spark) != fp_uri
    # genuinely absent stays 'missing'
    assert table_fingerprint("file:" + str(tmp_path / "nope"), spark) == "missing"
    # local single-file form is unchanged (persisted artifacts stay valid)
    assert table_fingerprint(f"{sf_dir}/documents.parquet") != "missing"

    # golden case: every persisted artifact dir name and stored
    # index_version IS this string, so its format is pinned byte for
    # byte — a changed byte would orphan every on-disk index
    gold = tmp_path / "gold"
    (gold / "part=1").mkdir(parents=True)
    files = {"a.parquet": b"PAR1abc", "part=1/b.parquet": b"PAR1defgh", "_SUCCESS": b""}
    for rel, data in files.items():
        (gold / rel).write_bytes(data)
        os.utime(gold / rel, ns=(1_700_000_000_123_456_789,) * 2)
    assert table_fingerprint(str(gold / "a.parquet")) == "5feb459481dd6263"
    assert table_fingerprint(str(gold)) == "68539ff66f49e250"


def test_zorder_maintain_over_file_uri(spark, tmp_path):
    """The full incremental Z-order loop against an explicit `file:`
    table URI: initial cluster, dirty-only second pass after a partial
    append, third-pass no-op, and crash-artifact healing — all through
    the Hadoop FS handles an object store would get."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.layout import (
        zorder_maintain,
    )
    from build_a_cloud_based_batch_etl_pipeline_spark.sinks import (
        write_parquet_table,
    )

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    table = "file:" + str(tmp_path / "zt_uri")
    write_parquet_table(
        orders, table, mode="overwrite", partition_by=["o_orderpriority"]
    )
    cols = ["o_custkey", "o_totalprice"]
    total = orders.count()

    r1 = zorder_maintain(spark, table, cols, n_files=2)
    assert {a for _, a, _ in r1} == {"clustered"} and len(r1) == 5
    assert sum(n for _, _, n in r1) == total

    late = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .orderBy("o_orderkey")
        .limit(50)
    )
    write_parquet_table(
        late, table, mode="append", partition_by=["o_orderpriority"]
    )
    r2 = {p: a for p, a, _ in zorder_maintain(spark, table, cols, n_files=2)}
    assert r2["o_orderpriority=1-URGENT"] == "clustered"
    assert sum(1 for a in r2.values() if a == "clustered") == 1, r2
    assert {
        a for a in zorder_maintain(spark, table, cols, n_files=2)
    } and all(a == "skipped" for _, a, _ in zorder_maintain(spark, table, cols))

    # mid-swap crash artifact staged via the FS API itself, then healed
    fs = Fs(spark, table)
    victim = "o_orderpriority=2-HIGH"
    fs.mkdirs(child(table, ".zorder_old"))
    fs.rename(child(table, victim), child(table, ".zorder_old", victim))
    r4 = {p: a for p, a, _ in zorder_maintain(spark, table, cols, n_files=2)}
    # restored in the same pass; content unchanged, so the marker still
    # matches and the partition is correctly NOT re-clustered
    assert r4[victim] == "skipped"
    df = spark.read.parquet(table)
    assert df.count() == total + 50
    assert not fs.exists(child(table, ".zorder_old", victim))


def test_pq_incremental_loader_includes_epochs_over_file_uri(spark, tmp_path):
    """ADVICE r13 (medium): load_pq_index_incremental probed the epochs
    dir with os.path.isdir — always False for an object-store or
    explicit `file:` URI index_root, so committed epoch partitions were
    SILENTLY excluded from the served index (missing vectors, no
    error). Both the flat and the distributed loader must include the
    epoch vectors when the root is a Hadoop URI."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    rng = np.random.RandomState(51)
    vecs = rng.randn(300, 64).astype("float32")
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    ).coalesce(2).write.parquet(f"{sf}/embeddings.parquet")

    root = "file:" + str(tmp_path / "pq_uri_root")
    sim.build_pq_index(spark, sf, root)
    new_df = spark.createDataFrame(
        [(1000 + i, [float(x) for x in rng.randn(64)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    assert sim.append_pq_epoch(spark, new_df, root, "batch", 1) is True

    _b, ids, _codes, _co, _a = sim.load_pq_index_incremental(spark, root)
    assert len(ids) == 320, "epoch vectors missing from the flat loader"
    assert {int(i) for i in ids if i >= 1000} == set(range(1000, 1020))

    codes_df, _bk, _ce = sim.ivf_pq_codes_df(spark, root)
    assert codes_df.count() == 320
    assert codes_df.filter("vec_id >= 1000").count() == 20


def test_fs_over_viewfs_scheme(spark, tmp_path):
    """A non-`file:` Hadoop scheme WITH a real authority — viewfs://vt/
    mounted onto a local dir — through the full Fs surface and the
    Z-order maintenance loop (VERDICT r13 item 7): a scheme-string
    assumption (authority handling, child() joins, an os.path fallback
    that 'works' because file: resolves locally) cannot hide behind
    file: here, because os.path on a viewfs:// string matches nothing."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.layout import (
        zorder_maintain,
    )
    from build_a_cloud_based_batch_etl_pipeline_spark.sinks import (
        write_parquet_table,
    )

    (tmp_path / "mnt").mkdir()
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.vt.link./data", "file://" + str(tmp_path / "mnt")
    )
    uri = "viewfs://vt/data"
    fs = Fs(spark, uri)

    # primitives: write/read/list/rename/delete + footer counts
    fs.mkdirs(child(uri, "d", "sub"))
    fs.write_text(child(uri, "d", "m.txt"), "abc\n")
    assert fs.read_text(child(uri, "d", "m.txt")) == "abc\n"
    assert fs.is_dir(child(uri, "d")) and fs.is_file(child(uri, "d", "m.txt"))
    assert set(fs.listdir(child(uri, "d"))) == {"m.txt", "sub"}
    fs.rename(child(uri, "d"), child(uri, "e"))
    assert fs.exists(child(uri, "e", "m.txt")) and not fs.exists(child(uri, "d"))
    fs.delete(child(uri, "e"))

    # the maintenance loop: initial cluster, dirty-only second pass,
    # no-op third pass — all via viewfs:// handles
    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    table = child(uri, "zt")
    write_parquet_table(
        orders, table, mode="overwrite", partition_by=["o_orderpriority"]
    )
    cols = ["o_custkey", "o_totalprice"]
    r1 = zorder_maintain(spark, table, cols, n_files=2)
    assert {a for _, a, _ in r1} == {"clustered"} and len(r1) == 5
    assert sum(n for _, _, n in r1) == orders.count()

    late = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .orderBy("o_orderkey")
        .limit(50)
    )
    write_parquet_table(
        late, table, mode="append", partition_by=["o_orderpriority"]
    )
    r2 = {p: a for p, a, _ in zorder_maintain(spark, table, cols, n_files=2)}
    assert r2["o_orderpriority=1-URGENT"] == "clustered"
    assert sum(1 for a in r2.values() if a == "clustered") == 1, r2
    assert all(
        a == "skipped" for _, a, _ in zorder_maintain(spark, table, cols, n_files=2)
    )
    assert spark.read.parquet(table).count() == orders.count() + 50


def test_clustered_load_torn_append_replay_reclusters(spark, tmp_path):
    """ADVICE r13: a torn pre-crash append replayed WITH surviving rows
    — the survivors-only touched set left the pre-crash-appended,
    duplicate-on-replay partition permanently unclustered. The raw
    batch's values (intersected with existing dirs) must be unioned in,
    so the stale partition re-clusters on the replay epoch."""
    from build_a_cloud_based_batch_etl_pipeline_spark.sinks import (
        write_parquet_table,
    )
    from build_a_cloud_based_batch_etl_pipeline_spark.streaming import (
        ingest_stream,
    )

    srcdir = tmp_path / "tornsrc"
    srcdir.mkdir()
    table = "file:" + str(tmp_path / "torn_table")
    ckpt = str(tmp_path / "torn_ckpt")
    schema = "id long, grp string, x long, y long"

    def drop(name, rows):
        with open(srcdir / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run():
        ingest_stream.incremental_load_clustered(
            spark, str(srcdir), table, ckpt, schema, "grp", ["x", "y"]
        )

    drop(
        "w1.json",
        [
            {"id": i, "grp": "a" if i % 2 else "b", "x": i, "y": i * 7 % 13}
            for i in range(40)
        ],
    )
    run()

    # simulate the torn pre-crash half of wave 2: id=200 landed in
    # grp=b (dirtying it) but the epoch never committed...
    pre_crash = spark.createDataFrame(
        [(200, "b", 1, 1)], schema
    )
    write_parquet_table(
        pre_crash, table, mode="append", partition_by=["grp"]
    )
    # ...and the replayed source batch carries that same row (now a
    # duplicate — zero appends for grp=b) PLUS a fresh survivor in
    # grp=a, so the old survivors-only derivation would skip grp=b.
    drop(
        "w2.json",
        [
            {"id": 200, "grp": "b", "x": 1, "y": 1},
            {"id": 201, "grp": "a", "x": 2, "y": 2},
        ],
    )
    run()

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.layout import (
        zorder_maintain,
    )

    # both rows landed exactly once, and grp=b was re-clustered by the
    # replay epoch — a follow-up full maintenance pass finds NOTHING
    # dirty (before the fix, grp=b reported 'clustered' here)
    df = spark.read.parquet(table)
    assert df.count() == 42
    assert df.filter("id = 200").count() == 1
    after = {p: a for p, a, _ in zorder_maintain(spark, table, ["x", "y"])}
    assert after == {"grp=a": "skipped", "grp=b": "skipped"}, after


def test_clustered_load_duplicate_key_new_partition(spark, tmp_path):
    """ADVICE r12: a replayed/duplicate key arriving under a NEW
    partition value is skipped by the idempotent append, so its
    partition dir never exists. The touched set must come from the
    rows that actually appended — the old raw-batch derivation raised
    a missing-dir error here and wedged the stream permanently. Runs
    against a `file:` table URI so the listing goes through the Hadoop
    FS API."""
    from build_a_cloud_based_batch_etl_pipeline_spark.streaming import (
        ingest_stream,
    )

    srcdir = tmp_path / "dupsrc"
    srcdir.mkdir()
    table = "file:" + str(tmp_path / "dup_table")
    ckpt = str(tmp_path / "dup_ckpt")
    schema = "id long, grp string, x long, y long"

    def drop(name, rows):
        with open(srcdir / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run():
        ingest_stream.incremental_load_clustered(
            spark, str(srcdir), table, ckpt, schema, "grp", ["x", "y"]
        )

    drop(
        "w1.json",
        [{"id": i, "grp": "a", "x": i, "y": i * 3 % 17} for i in range(40)],
    )
    run()

    # id=7 already loaded under grp=a; it now "arrives" under grp=zzz —
    # skipped by idempotency, grp=zzz dir never created. Plus one
    # genuinely new row into grp=b.
    drop(
        "w2.json",
        [
            {"id": 7, "grp": "zzz", "x": 0, "y": 0},
            {"id": 100, "grp": "b", "x": 5, "y": 6},
        ],
    )
    run()  # must NOT raise the missing-dir error

    df = spark.read.parquet(table)
    assert df.count() == 41
    assert df.filter("grp = 'zzz'").count() == 0  # dup key never lands
    assert df.filter("id = 7").count() == 1
    local = str(tmp_path / "dup_table")
    assert not os.path.exists(os.path.join(local, "grp=zzz"))
    # the genuinely-new partition was created AND clustered
    assert os.path.isfile(os.path.join(local, "grp=b", "_ZORDER_OK"))

    # wave 3: ONLY a duplicate — zero survivors, stream stays healthy
    drop("w3.json", [{"id": 100, "grp": "c", "x": 1, "y": 1}])
    run()
    assert spark.read.parquet(table).count() == 41
