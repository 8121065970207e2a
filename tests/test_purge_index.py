"""Index-aware right-to-be-forgotten (VERDICT r15 item 1): ingest's
purge_keys rewrites the BASE table, but a purged id that survives in a
persisted index keeps getting SERVED — as an ANN neighbor
(pq_codes/pq_codes_epochs), a MinHash dedup candidate (sigs/bands), a
contamination flag (eval grams), or an image near-dup (phash). These
tests pin, per family: purged ids stop being served in the SAME
session (warm validation stamp), only affected epoch partitions are
rewritten, replay removes zero, and a crash between the partition
swaps converges on the next touch."""

from __future__ import annotations

import os
import shutil

import pytest
import pyspark.sql.functions as F

from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
    dedup as dd,
    multimodal as mm,
    sampling as sp,
    similarity as sim,
)
from build_a_cloud_based_batch_etl_pipeline_spark import sinks


_EPOCH_ID_BASE = 10_000_000


@pytest.fixture()
def pq_root(spark, sf_dir, tmp_path):
    """A fresh (never shared) incremental PQ index: base trained on the
    sf_dir embeddings, plus one epoch of 50 re-idd vectors appended
    against the frozen codebooks."""
    root = str(tmp_path / "pqidx")
    sim.build_pq_index(spark, sf_dir, root)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = (
        emb.orderBy("vec_id")
        .limit(50)
        .withColumn("vec_id", F.col("vec_id") + F.lit(_EPOCH_ID_BASE))
    )
    assert sim.append_pq_epoch(spark, batch, root, "batch", 0)
    return root


def _served_nids(spark, q, root):
    return {
        r.nid for r in sim.serve_ann_ivf_pq(spark, q, root, k=5).collect()
    }


def test_pq_purge_stops_serving_and_is_replay_safe(spark, sf_dir, pq_root):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", "embedding").orderBy("vec_id").limit(25)

    nids = _served_nids(spark, q, pq_root)  # warms the validation stamp
    base_victims = sorted(n for n in nids if n < _EPOCH_ID_BASE)[:3]
    # epoch rows answer too: query the epoch vectors themselves
    q_ep = (
        emb.orderBy("vec_id")
        .limit(50)
        .select(
            (F.col("vec_id") + F.lit(_EPOCH_ID_BASE)).alias("vec_id"),
            "embedding",
        )
    )
    ep_nids = _served_nids(spark, q_ep, pq_root)
    ep_victims = sorted(n for n in ep_nids if n >= _EPOCH_ID_BASE)[:3]
    assert base_victims and ep_victims

    victims = base_victims + ep_victims
    keys = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    removed = sim.purge_pq_index(spark, pq_root, keys)
    assert removed == len(victims)

    # same session, warm memo: the stamp bump re-validates and the
    # purged ids are gone from BOTH serve paths
    assert not (_served_nids(spark, q, pq_root) & set(victims))
    assert not (_served_nids(spark, q_ep, pq_root) & set(victims))
    tiled = {
        r.nid
        for r in sim.serve_ann_ivf_pq_tiled(
            spark, q, pq_root, tile_rows=7
        ).collect()
    }
    assert tiled and not (tiled & set(victims))

    # the rows are physically gone from base and epochs
    codes = spark.read.parquet(f"{pq_root}/pq_codes")
    eps = spark.read.parquet(f"{pq_root}/pq_codes_epochs")
    assert codes.filter(F.col("vec_id").isin(victims)).count() == 0
    assert eps.filter(F.col("vec_id").isin(victims)).count() == 0
    # epoch partition NAME survived a partial purge (identity contract)
    assert sorted(
        n
        for n in os.listdir(f"{pq_root}/pq_codes_epochs")
        if n.startswith("epoch=")
    ) == ["epoch=batch-0"]

    # replay: nothing left to remove, marker monotonic
    assert sim.purge_pq_index(spark, pq_root, keys) == 0
    assert sim._pq_purge_seq(spark, pq_root) == "1"


def test_pq_purge_without_marker_bump_still_drops_resident_index(
    spark, sf_dir, pq_root
):
    """A purge that crashed after its swaps but before the purge marker
    write leaves the marker where it was; a replay then removes 0 rows
    and writes none. The driver-resident index must still stop serving
    the purged ids on the next warm call: the stamp carries the codes
    tables' file fingerprints, which the swaps changed."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_rows = [
        (r.vec_id, list(r.embedding))
        for r in emb.orderBy("vec_id").limit(25).collect()
    ]

    def served():
        out = sim.serve_ann_ivf_pq(spark, None, pq_root, q_rows=q_rows)
        assert "LocalTableScan" in (
            out._jdf.queryExecution().executedPlan().toString()
        )
        return {r.nid for r in out.collect()}

    victims = sorted(served())[:3]  # warms the resident index
    keys = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert sim.purge_pq_index(spark, pq_root, keys) == len(victims)
    os.remove(f"{pq_root}/purge_seq")  # the marker write never happened
    assert sim._pq_purge_seq(spark, pq_root) == "0"
    assert sim.purge_pq_index(spark, pq_root, keys) == 0

    nids = served()
    assert nids and not (nids & set(victims))


def test_pq_purge_emptied_epoch_partition_is_dropped(spark, sf_dir, pq_root):
    eps = spark.read.parquet(f"{pq_root}/pq_codes_epochs")
    all_ep_keys = eps.select("vec_id")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", "embedding").orderBy("vec_id").limit(10)
    _served_nids(spark, q, pq_root)  # warm stamp with the epoch present

    removed = sim.purge_pq_index(spark, pq_root, all_ep_keys)
    assert removed == 50
    # the emptied partition is deleted outright, not left as a
    # footerless husk that would break explicit-path reads
    assert not any(
        n.startswith("epoch=")
        for n in os.listdir(f"{pq_root}/pq_codes_epochs")
    )
    nids = _served_nids(spark, q, pq_root)
    assert nids and all(n < _EPOCH_ID_BASE for n in nids)


def test_pq_purge_crash_point_converges(spark, sf_dir, pq_root):
    """A crash between purge_epoch_partitions' park and swap-in leaves
    the epoch only under .purge_old; the next reader/purger touch
    restores it — no silent shrink, no data loss."""
    ep_root = f"{pq_root}/pq_codes_epochs"
    live = f"{ep_root}/epoch=batch-0"
    parked = f"{ep_root}/.purge_old/epoch=batch-0"
    os.makedirs(os.path.dirname(parked), exist_ok=True)
    shutil.move(live, parked)

    # reader path converges: the stamp listing recovers the partition
    assert sim._pq_epoch_partitions(spark, pq_root) == ("epoch=batch-0",)
    assert os.path.isdir(live) and not os.path.exists(parked)
    assert (
        spark.read.parquet(ep_root)
        .filter(F.col("vec_id") >= _EPOCH_ID_BASE)
        .count()
        == 50
    )

    # purger path converges the same crash state
    shutil.move(live, parked)
    keys = spark.createDataFrame([(_EPOCH_ID_BASE,)], "vec_id long")
    assert sim.purge_pq_index(spark, pq_root, keys) == 1
    eps = spark.read.parquet(ep_root)
    assert eps.count() == 49


def test_minhash_index_purge(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
    )
    root = str(tmp_path / "mh")
    dd.build_minhash_index(spark, docs, root)
    batch = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    hits = dd.dedup_against_index(spark, batch, root)
    index_docs = {r.index_doc for r in hits.collect()}
    assert len(index_docs) == 40  # identical text, est_jaccard 1.0

    victims = sorted(index_docs)[:10]
    keys = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    removed = dd.purge_minhash_index(spark, root, keys)
    assert removed > 0
    left = {
        r.index_doc
        for r in dd.dedup_against_index(spark, batch, root).collect()
    }
    assert left == index_docs - set(victims)
    for sub in ("sigs", "bands"):
        assert (
            spark.read.parquet(f"{root}/{sub}")
            .filter(F.col("doc_id").isin(victims))
            .count()
            == 0
        )
    assert dd.purge_minhash_index(spark, root, keys) == 0


def test_eval_gram_index_purge(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(20)
    )
    root = str(tmp_path / "eg")
    sp.build_eval_gram_index(spark, docs, root)
    train = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    flagged = {
        r.eval_doc
        for r in sp.decontaminate_against_index(spark, train, root).collect()
    }
    assert flagged
    victims = sorted(flagged)[: max(1, len(flagged) // 2)]
    keys = spark.createDataFrame([(v,) for v in victims], "eval_doc long")
    assert sp.purge_eval_gram_index(spark, root, keys) > 0
    left = {
        r.eval_doc
        for r in sp.decontaminate_against_index(spark, train, root).collect()
    }
    assert left == flagged - set(victims)
    assert sp.purge_eval_gram_index(spark, root, keys) == 0


def test_phash_index_purge(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(20)
    )
    corpus = mm.with_binary_payload(docs).select("doc_id", "payload")
    root = str(tmp_path / "ph")
    mm.build_phash_index(spark, corpus, root)
    batch = corpus.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    hits = {
        r.index_doc
        for r in mm.multimodal_dedup_against_index(
            spark, batch, root
        ).collect()
    }
    assert hits  # identical payloads: hamming 0
    victims = sorted(hits)[: max(1, len(hits) // 2)]
    keys = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    assert mm.purge_phash_index(spark, root, keys) > 0
    left = {
        r.index_doc
        for r in mm.multimodal_dedup_against_index(
            spark, batch, root
        ).collect()
    }
    assert left == hits - set(victims)
    assert mm.purge_phash_index(spark, root, keys) == 0


def test_purge_epoch_partitions_only_rewrites_affected(spark, tmp_path):
    """Partitions without purged keys are byte-untouched — purge cost
    is O(affected partitions), the property that keeps a compliance
    purge viable against a 100-TB epoch table."""
    root = str(tmp_path / "tbl")
    for e in range(3):
        df = spark.createDataFrame(
            [(e * 10 + i, f"v{e}-{i}") for i in range(5)], "id long, v string"
        )
        assert sinks.commit_epoch_partition(spark, df, root, "batch", e)

    def mtimes(part):
        d = f"{root}/{part}"
        return {
            f: os.stat(f"{d}/{f}").st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {e: mtimes(f"epoch=batch-{e}") for e in range(3)}
    keys = spark.createDataFrame([(11,), (12,)], "id long")
    assert sinks.purge_epoch_partitions(spark, root, keys, "id") == 2
    assert mtimes("epoch=batch-0") == before[0]
    assert mtimes("epoch=batch-2") == before[2]
    assert mtimes("epoch=batch-1") != before[1]
    got = sorted(r.id for r in spark.read.parquet(root).collect())
    assert got == [0, 1, 2, 3, 4, 10, 13, 14, 20, 21, 22, 23, 24]
    # staging/park helpers swept
    assert not os.path.exists(f"{root}/.purge_staging")


def test_pq_purge_bit_equals_eligible_complement(spark, sf_dir, pq_root, tmp_path):
    """Tombstone equivalence: serving the PURGED index is bit-equal to
    serving the unpurged index with `eligible` = everything minus the
    purged ids. The purge rewrite may only remove candidates — it can
    never perturb a surviving row's codes, list assignment, or the
    (-score, nid) selection order."""
    import shutil

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", "embedding").orderBy("vec_id").limit(30)
    victims = [r.vec_id for r in emb.orderBy("vec_id").limit(6).collect()]
    keys = spark.createDataFrame([(v,) for v in victims], "vec_id long")

    # unpurged twin serves with the complement as the eligible set
    all_codes = spark.read.parquet(f"{pq_root}/pq_codes").select("vec_id")
    eps_codes = spark.read.parquet(f"{pq_root}/pq_codes_epochs").select(
        "vec_id"
    )
    eligible = all_codes.unionByName(eps_codes).join(
        keys, "vec_id", "left_anti"
    )
    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(
            spark, q, pq_root, k=5, eligible=eligible
        ).collect()
    )

    purged_root = str(tmp_path / "pq_purged")
    shutil.copytree(pq_root, purged_root)
    assert sim.purge_pq_index(spark, purged_root, keys) == len(victims)
    got = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(spark, q, purged_root, k=5).collect()
    )
    assert got == want and got
