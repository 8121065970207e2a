"""ANN recall property checks for both approximate variants (hyperplane
LSH and IVF centroid bucketing):

1. On the fixture corpus — a MODERATE-similarity regime (max pairwise
   cosine ~0.5) — the tuned defaults must recover a substantial fraction
   of the exact brute-force top-5, and every pair they emit must carry
   the same exact cosine the baseline computes (approximation may LOSE
   pairs, never corrupt scores).
2. On planted near-duplicates (cosine ~1), LSH with near-dup-regime
   parameters (12 bits x 2 tables — sparse buckets) must find every
   planted pair: the actual dedup guarantee at corpus scale.
"""

from __future__ import annotations

import pytest

from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all
from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
    ann_lsh_topk,
)

REGISTRY = load_all()


def _pairs(df):
    return {(r.qid, r.nid): r.cosine for r in df.collect()}


@pytest.fixture(scope="module")
def exact(spark, sf_dir):
    return _pairs(REGISTRY["embed_cosine_topk"].fn(spark, sf_dir))


# Thresholds from the parameter sweep on sf0.001 (see similarity.py
# defaults): LSH(4,8) measured 0.644, IVF(nprobe=3) measured 0.532,
# multiprobe LSH(5,3,H1) measured 0.699 at sf0.01.
@pytest.mark.parametrize(
    "ann,min_recall",
    [
        ("embed_ann_lsh", 0.55),
        ("embed_ann_ivf", 0.45),
        ("embed_ann_lsh_multiprobe", 0.55),
    ],
)
def test_ann_recall_vs_exact(spark, sf_dir, exact, ann, min_recall):
    approx = _pairs(REGISTRY[ann].fn(spark, sf_dir))
    hits = set(exact) & set(approx)
    recall = len(hits) / len(exact)
    assert recall >= min_recall, f"{ann} recall {recall:.2f} vs exact top-5"
    # scores for recovered pairs are the exact cosine, bit-for-bit at 4dp
    for key in hits:
        assert abs(exact[key] - approx[key]) < 1e-9, f"{ann} corrupted score {key}"


@pytest.mark.parametrize(
    "ann", ["embed_ann_lsh", "embed_ann_ivf", "embed_ann_lsh_multiprobe"]
)
def test_ann_output_shape(spark, sf_dir, ann):
    df = REGISTRY[ann].fn(spark, sf_dir)
    rows = df.collect()
    assert rows, f"{ann} returned nothing"
    per_q: dict[int, int] = {}
    for r in rows:
        assert r.qid != r.nid
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
    assert max(per_q.values()) <= 5


def test_dedup_embedding_lsh_subset_and_recall(spark, sf_dir):
    """The LSH-candidate semantic dedup must emit a strict SUBSET of the
    exact pair set (exact rescore => zero false positives) at a
    deterministic fixture recall (seeded hyperplanes, fixed data)."""
    exact_pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    lsh_pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["dedup_embedding_lsh"].fn(spark, sf_dir).collect()
    }
    assert set(lsh_pairs) <= set(exact_pairs), "false positive pairs emitted"
    for k, v in lsh_pairs.items():
        assert abs(v - exact_pairs[k]) < 1e-9
    recall = len(lsh_pairs) / len(exact_pairs)
    # measured 0.59 at sf0.001 / 0.71 (24/34) at sf0.01 with the (4, 8)
    # moderate-cosine defaults; deterministic, so a drop means the
    # operator changed
    assert recall >= 0.55, f"dedup_embedding_lsh recall {recall:.2f}"


def test_embed_cosine_topk_index_guard(spark, monkeypatch):
    """The brute-force baseline must refuse an index above the broadcast
    cap instead of collecting it to the driver."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import similarity

    monkeypatch.setattr(similarity, "_MAX_INDEX_ROWS", 10)
    with pytest.raises(ValueError, match="embed_ann_lsh"):
        REGISTRY["embed_cosine_topk"].fn(spark, "/root/testdata/sf0.01")


def test_lsh_finds_planted_near_duplicates(spark):
    """Near-dup regime: 40 well-separated base vectors + a tiny-jitter
    copy of each. With 12x2 signatures (sparse buckets) LSH must emit
    every planted pair as its neighbor's top hit."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 64)
    rows = []
    for i, v in enumerate(base):
        dup = v + rng.randn(64) * 0.01  # cosine ~0.9999
        rows.append((i * 2, [float(x) for x in v]))
        rows.append((i * 2 + 1, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = _pairs(ann_lsh_topk(emb, bits=12, tables=2, k=5))
    for i in range(40):
        a, b = i * 2, i * 2 + 1
        assert (a, b) in got and (b, a) in got, f"planted pair {(a, b)} missed"
        assert got[(a, b)] > 0.99


def test_cap_bucket_occupancy_splits_degenerate_bucket(spark):
    """Unit check of the occupancy cap: a bucket with 300 members at
    cap=20 must fan out into ~ceil(300/20) hash sub-buckets, none wildly
    above the cap; a bucket under the cap stays whole with sub=0."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import (
        cap_bucket_occupancy,
    )

    rows = [(i, 0, 7) for i in range(300)] + [(1000 + i, 0, 8) for i in range(5)]
    keyed = spark.createDataFrame(rows, "vec_id: long, tbl: int, bkt: int")
    out = cap_bucket_occupancy(keyed, ["tbl", "bkt"], "vec_id", 20).collect()

    big = [r.sub for r in out if r.bkt == 7]
    small = [r.sub for r in out if r.bkt == 8]
    assert set(small) == {0}, "under-cap bucket must not split"
    n_subs = len(set(big))
    assert n_subs == 15, f"expected ceil(300/20)=15 sub-buckets, got {n_subs}"
    from collections import Counter

    occ = Counter(big)
    # hash splitting is uneven but every sub-bucket must stay near cap
    assert max(occ.values()) <= 2 * 20, f"sub-bucket blowout: {occ.most_common(3)}"


def test_lsh_occupancy_cap_bounds_degenerate_cluster(spark):
    """A planted degenerate cluster (200 near-identical vectors, all in
    one LSH bucket per table) must produce FAR fewer candidate pairs
    under a small occupancy cap than the occ^2 all-pairs set, while
    well-separated planted pairs OUTSIDE the cluster (sparse buckets,
    untouched by the cap) keep perfect recall."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
    )

    rng = np.random.RandomState(11)
    hub = rng.randn(64)
    rows = [
        (i, [float(x) for x in hub + rng.randn(64) * 0.005]) for i in range(200)
    ]
    base = rng.randn(20, 64)
    planted = []
    for j, v in enumerate(base):
        a, b = 1000 + j * 2, 1000 + j * 2 + 1
        rows.append((a, [float(x) for x in v]))
        rows.append((b, [float(x) for x in v + rng.randn(64) * 0.005]))
        planted.append((a, b))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    uncapped = lsh_candidate_pairs(
        emb, bits=12, tables=4, directed=False, occupancy_cap=10**9
    )
    capped = lsh_candidate_pairs(
        emb, bits=12, tables=4, directed=False, occupancy_cap=20
    )
    n_unc = uncapped.count()
    n_cap = capped.count()
    # the cluster contributes ~C(200,2)=19900 distinct pairs uncapped
    assert n_unc >= 19000
    assert n_cap < 0.75 * n_unc, f"cap did not prune: {n_cap} vs {n_unc}"

    got = {(r.qid, r.nid) for r in capped.collect()}
    for a, b in planted:
        assert (a, b) in got, f"cap broke sparse-bucket pair {(a, b)}"


def test_ivf_nprobe_sweep_vs_numpy_exact(spark, sf_dir, monkeypatch):
    """IVF recall against an INDEPENDENT numpy brute-force top-5 (not the
    engine's own exact query — a shared bug could hide there), swept over
    nprobe: more probed buckets can only widen each query's candidate
    set, so recall must be monotone non-decreasing in nprobe, clear the
    pinned fixture floor at the default (nprobe=3), and every emitted
    score must equal the numpy cosine at the operator's 4dp rounding."""
    import numpy as np
    import pandas as pd

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import similarity

    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = matn @ matn.T
    np.fill_diagonal(sims, -np.inf)
    exact: set[tuple[int, int]] = set()
    cosine_of: dict[tuple[int, int], float] = {}
    for qi in range(len(ids)):
        # top-5 by (cosine desc, nid asc) — the operator's tiebreak
        order = sorted(range(len(ids)), key=lambda j: (-sims[qi, j], ids[j]))[:5]
        for j in order:
            exact.add((int(ids[qi]), int(ids[j])))
        for j in range(len(ids)):
            cosine_of[(int(ids[qi]), int(ids[j]))] = sims[qi, j]

    recalls = {}
    for nprobe in (1, 2, 3):
        monkeypatch.setattr(similarity, "_IVF_NPROBE", nprobe)
        got = _pairs(REGISTRY["embed_ann_ivf"].fn(spark, sf_dir))
        for (q, n), c in got.items():
            assert abs(c - round(cosine_of[(q, n)], 4)) < 1e-9, (
                f"ivf score for {(q, n)} diverges from numpy"
            )
        recalls[nprobe] = len(set(got) & exact) / len(exact)
    assert recalls[1] <= recalls[2] + 1e-9 and recalls[2] <= recalls[3] + 1e-9, (
        f"recall not monotone in nprobe: {recalls}"
    )
    # measured 0.53 at sf0.001 with nprobe=3 (deterministic fixture)
    assert recalls[3] >= 0.45, f"ivf default-nprobe recall {recalls[3]:.2f}"


def test_pq_reconstruction_and_determinism(spark, sf_dir):
    """8x256 product quantization must reconstruct the fixture vectors
    at high cosine (measured 0.945 mean / 0.852 min) and encode
    deterministically (fixed k-means init, no RNG). Codes are a 16-char
    hex string (8 uint8 codewords) so the column is a sortable scalar."""
    out1 = REGISTRY["embed_pq_codes"].fn(spark, sf_dir).collect()
    rc = [r.recon_cos for r in out1]
    assert sum(rc) / len(rc) >= 0.9, sum(rc) / len(rc)
    assert min(rc) >= 0.8, min(rc)
    hexdigits = set("0123456789abcdef")
    assert all(len(r.codes) == 16 and set(r.codes) <= hexdigits for r in out1)
    out2 = REGISTRY["embed_pq_codes"].fn(spark, sf_dir).collect()
    assert sorted((r.vec_id, r.codes) for r in out1) == sorted(
        (r.vec_id, r.codes) for r in out2
    )


def test_pq_adc_recall_vs_exact(spark, sf_dir, exact):
    """ADC over 8-byte codes must recover a substantial share of the
    exact top-5 (measured 0.61 on the fixture — the moderate-similarity
    regime where neighbors sit barely above background)."""
    pq = {(r.qid, r.nid) for r in REGISTRY["embed_ann_pq"].fn(spark, sf_dir).collect()}
    recall = len(set(exact) & pq) / len(exact)
    assert recall >= 0.5, f"pq recall {recall:.2f}"
    per_q: dict[int, int] = {}
    for q, n in pq:
        assert q != n
        per_q[q] = per_q.get(q, 0) + 1
    assert max(per_q.values()) <= 5


def test_ivf_pq_composition_recall(spark, sf_dir, exact):
    """The composed IVF+PQ path (coarse routing, then ADC inside probed
    lists) must still recover a meaningful share of the exact top-5
    (measured 0.42 — ~the product of IVF's 0.53 routing recall and ADC's
    0.61 scoring recall) with at most 5 well-formed rows per query."""
    got = {
        (r.qid, r.nid)
        for r in REGISTRY["embed_ann_ivf_pq"].fn(spark, sf_dir).collect()
    }
    recall = len(set(exact) & got) / len(exact)
    assert recall >= 0.35, f"ivf_pq recall {recall:.2f}"
    per_q: dict[int, int] = {}
    for q, n in got:
        assert q != n
        per_q[q] = per_q.get(q, 0) + 1
    assert max(per_q.values()) <= 5


def test_ann_join_recall_and_corpus_disjointness(spark, sf_dir):
    """The two-corpus ANN join (embed_ann_join_ivf_pq) must (a) draw
    every qid from the query split and every nid from the index split —
    exactly the populations its oracled exact twin uses, which also
    pins that the scorer-side hashlib md5 membership test agrees with
    Spark's md5 split expression — and (b) recover a meaningful share
    of the exact join's top-3 (same IVF-routing x ADC-scoring recall
    regime as the single-corpus composition test)."""
    exact_rows = (
        REGISTRY["embed_topk_join_exact"].fn(spark, sf_dir).collect()
    )
    exact = {(r.qid, r.nid) for r in exact_rows}
    got_rows = REGISTRY["embed_ann_join_ivf_pq"].fn(spark, sf_dir).collect()
    got = {(r.qid, r.nid) for r in got_rows}

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.sampling import (
        _TEST_LT,
        _split_bucket,
    )
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import t

    emb = t(spark, sf_dir, "embeddings")
    qsplit = {
        r.vec_id
        for r in emb.filter(_split_bucket("vec_id") < _TEST_LT)
        .select("vec_id")
        .collect()
    }
    assert {q for q, _ in exact} == qsplit, "exact twin qid population"
    assert {q for q, _ in got} == qsplit, "ann join must answer every query"
    assert not ({n for _, n in got} & qsplit), "nid leaked from query split"
    assert not ({n for _, n in exact} & qsplit)

    recall = len(exact & got) / len(exact)
    assert recall >= 0.35, f"ann join recall {recall:.2f}"
    per_q: dict[int, int] = {}
    for q, n in got:
        assert q != n
        per_q[q] = per_q.get(q, 0) + 1
    assert max(per_q.values()) <= 3


def test_pq_adc_chunked_merge_matches_single_chunk(spark, sf_dir, monkeypatch):
    """ADC scores the index in fixed-size chunks with a per-chunk top-k
    merge (bounded scratch memory). Forcing many tiny chunks must yield
    exactly the same neighbor set and scores as the one-chunk default —
    the merge may never lose a global top-k element."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import similarity

    base = {
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_pq"].fn(spark, sf_dir).collect()
    }
    monkeypatch.setattr(similarity, "_ADC_CHUNK", 97)
    chunked = {
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_pq"].fn(spark, sf_dir).collect()
    }
    assert base == chunked


def test_pq_adc_tiny_index_under_k(spark, tmp_path):
    """An index with fewer than k vectors must not crash the top-k
    selection (argpartition kth bound): each query gets all non-self
    neighbors, scores finite."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(4, 64).astype("float32")
    df = spark.createDataFrame(
        [
            (int(i), [float(x) for x in vecs[i]], int(i % 2))
            for i in range(4)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    out = REGISTRY["embed_ann_pq"].fn(spark, sf).collect()
    assert len(out) == 4 * 3
    for r in out:
        assert r.qid != r.nid
        assert np.isfinite(r.adc_score)


def test_semantic_keep_best_invariants(spark, sf_dir):
    """Exactly one survivor per semantic cluster; the survivor is the
    longest document (ties to smallest id); cluster labels are the
    component minimum — the drop-list contract a training pipeline
    relies on."""
    rows = REGISTRY["dedup_semantic_keep_best"].fn(spark, sf_dir).collect()
    clusters: dict[int, list] = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r)
    assert sum(len(v) for v in clusters.values()) == len(rows)
    for cid, members in clusters.items():
        assert min(r.vec_id for r in members) == cid, "label != component min"
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, f"cluster {cid}: {len(keeps)} keepers"
        best = max(r.n_chars for r in members)
        assert keeps[0].n_chars == best
        assert keeps[0].vec_id == min(
            r.vec_id for r in members if r.n_chars == best
        )


def test_pq_fit_empty_table_fails_clearly(spark, tmp_path):
    """An empty embeddings table must raise a labeled error, not a numpy
    shape crash mid-kmeans."""
    import pytest as _pytest

    sf = str(tmp_path)
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")
    with _pytest.raises(ValueError, match="non-empty embeddings"):
        REGISTRY["embed_pq_codes"].fn(spark, sf)


def test_pq_fit_cache_invalidates_on_table_rewrite(spark, tmp_path):
    """_PQ_FIT_CACHE is keyed by a content fingerprint of the embeddings
    table (file names + sizes + mtimes — ADVICE r5): rewriting the
    table within one Spark application must retrain on the new corpus,
    not serve the stale memo; an untouched table must still warm-hit."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path)

    def write(seed):
        rng = np.random.RandomState(seed)
        vecs = rng.randn(8, 64).astype("float32")
        spark.createDataFrame(
            [(int(i), [float(x) for x in vecs[i]], 0) for i in range(8)],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    write(1)
    books1, _ids1, _codes1, mat1 = sim._pq_fit(spark, sf)
    assert sim._pq_fit(spark, sf)[0] is books1, "untouched table must warm-hit"
    write(2)
    _books2, _ids2, _codes2, mat2 = sim._pq_fit(spark, sf)
    assert not np.array_equal(mat1, mat2), (
        "rewritten table must invalidate the PQ memo, not serve stale codes"
    )


def test_scale_sweep_exponent_clamps_subms_timings():
    """fit_exponent must survive a sub-millisecond timing that rounds to
    0.0 (ADVICE r5: log(0) crashed the sweep) — clamped to 1 ms."""
    import importlib.util
    import pathlib

    p = pathlib.Path(__file__).resolve().parent.parent / "tools" / "scale_sweep.py"
    spec = importlib.util.spec_from_file_location("_scale_sweep_test", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    exp = mod.fit_exponent([1, 3, 10], {"1": 0.0, "3": 0.002, "10": 0.01})
    assert isinstance(exp, float) and exp > 0


def test_pq_adc_score_ties_resolve_to_smallest_nid_across_chunks(
    spark, tmp_path, monkeypatch
):
    """Planted identical vectors get identical PQ codes and exactly tied
    ADC scores; the selection contract is (-score, nid) — smallest id
    wins a tie — and must hold for ANY chunk size, including ties that
    straddle a chunk boundary (stable per-chunk selection; argpartition
    would keep an arbitrary tied subset)."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import similarity

    rng = np.random.RandomState(5)
    base = rng.randn(3, 64).astype("float32")
    rows = []
    vid = 0
    # 8 copies of each base vector -> big tie groups; interleave ids so
    # every small chunk holds members of several tie groups
    for copy in range(8):
        for b in range(3):
            rows.append((vid, [float(x) for x in base[b]], b))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    def neighbors(chunk):
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import (
            memo_clear,
        )

        monkeypatch.setattr(similarity, "_ADC_CHUNK", chunk)
        memo_clear(spark)
        out = REGISTRY["embed_ann_pq"].fn(spark, sf).collect()
        return sorted((r.qid, r.nid, r.adc_score) for r in out)

    small = neighbors(5)   # tie groups straddle chunk boundaries
    full = neighbors(10_000)
    assert small == full, "neighbor set depends on _ADC_CHUNK"
    # ids were interleaved round-robin, so group g holds ids {g, g+3,
    # g+6, ...}: every query's 5 neighbors must be the 5 SMALLEST other
    # ids of its own tie group (identical vectors -> exactly tied
    # scores -> smallest-nid wins)
    for q in range(24):
        got = sorted(n for qq, n, _ in full if qq == q)
        group = [v for v in range(24) if v % 3 == q % 3 and v != q]
        assert got == group[:5], (q, got)


def test_pq_index_build_load_query_contract(spark, tmp_path):
    """Persisted ANN index (VERDICT r6): build is idempotent (a re-run
    against unchanged embeddings is a no-op skip; a forced rebuild
    produces identical table content — training is deterministic), the
    indexed query equals the session-trained path exactly, a STALE
    index (embeddings rewritten after the build) is refused, and a torn
    index (crash between table swaps) is refused until rebuilt."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    import os

    os.makedirs(sf)
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 64).astype("float32")
    spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]], int(i % 3)) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    root = str(tmp_path / "pq_root")
    assert sim.build_pq_index(spark, sf, root) is True
    assert sim.build_pq_index(spark, sf, root) is False, "fresh -> skip"

    def table_contents():
        out = {}
        for sub in ("pq_codebooks", "ivf_centroids", "pq_codes"):
            rows = spark.read.parquet(f"{root}/{sub}").collect()
            out[sub] = sorted(tuple(r) for r in (row.asDict().items() for row in rows))
        return out

    before = table_contents()
    assert sim.build_pq_index(spark, sf, root, force=True) is True
    assert table_contents() == before, "forced rebuild must be bit-equal"

    # indexed query == session-trained query
    books, ids, codes, _coarse, _assign = sim.load_pq_index(spark, sf, root)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    got = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim._adc_topk_stream(spark, emb, books, ids, codes).collect()
    )
    b2, i2, c2, _ = sim._pq_fit(spark, sf)
    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim._adc_topk_stream(spark, emb, b2, i2, c2).collect()
    )
    assert got == want

    # stale: rewrite embeddings -> load refuses until rebuild
    vecs2 = rng.randn(40, 64).astype("float32")
    spark.createDataFrame(
        [(int(i), [float(x) for x in vecs2[i]], 0) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    import pytest

    with pytest.raises(ValueError, match="STALE"):
        sim.load_pq_index(spark, sf, root)
    assert sim.build_pq_index(spark, sf, root) is True  # rebuild converges
    sim.load_pq_index(spark, sf, root)  # now serves

    # torn: desync one table's version (crash-between-swaps stand-in)
    from pyspark.sql import functions as F

    cb = spark.read.parquet(f"{root}/pq_codebooks")
    torn = cb.withColumn("index_version", F.lit("deadbeef00000000"))
    sim._swap_write(spark, torn.coalesce(1), f"{root}/pq_codebooks")
    with pytest.raises(ValueError, match="no complete PQ index"):
        sim.load_pq_index(spark, sf, root)
    assert sim.build_pq_index(spark, sf, root) is True  # heals the tear
    sim.load_pq_index(spark, sf, root)


def test_footer_stats_versions_metadata_only(spark, tmp_path):
    """_footer_stats_versions must resolve the staleness check from
    parquet footer statistics alone (ADVICE r10: the previous
    read_table pulled one version string per vector, O(N) driver
    memory): single-version files yield that version, mixed versions
    are detected (torn), and a missing column falls back to None."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    one = str(tmp_path / "one")
    spark.createDataFrame(
        [(i, "vAAAA") for i in range(100)], "id long, index_version string"
    ).coalesce(2).write.parquet(one)
    assert sim._footer_stats_versions(one) == {"vAAAA"}

    mixed = str(tmp_path / "mixed")
    spark.createDataFrame(
        [(i, "vAAAA" if i < 50 else "vBBBB") for i in range(100)],
        "id long, index_version string",
    ).coalesce(1).write.parquet(mixed)
    got = sim._footer_stats_versions(mixed)
    assert got is not None and len(got) > 1, "mixed versions must read torn"

    nocol = str(tmp_path / "nocol")
    spark.createDataFrame([(1,)], "id long").write.parquet(nocol)
    assert sim._footer_stats_versions(nocol) is None


def test_indexed_ann_query_matches_session_path(spark, sf_dir):
    """Registry contract: embed_ann_pq_indexed (persisted artifacts)
    must return exactly embed_ann_pq's rows (same deterministic
    training, shared scorer)."""
    a = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_pq_indexed"].fn(spark, sf_dir).collect()
    )
    b = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_pq"].fn(spark, sf_dir).collect()
    )
    assert a == b


def test_indexed_ivf_pq_matches_session_path(spark, sf_dir):
    """embed_ann_ivf_pq_indexed (stored centroids + stored list
    assignments + stored codes) must return exactly embed_ann_ivf_pq's
    rows — the persisted artifact set is complete and byte-faithful."""
    a = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq_indexed"].fn(spark, sf_dir).collect()
    )
    b = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq"].fn(spark, sf_dir).collect()
    )
    assert a == b


def test_mrl_energy_curve_invariants(spark, sf_dir):
    """Energy fractions are monotone in the prefix length, end at
    exactly 1.0 for the full dimension, and stay in (0, 1]."""
    rows = {r.dim: r for r in
            REGISTRY["embed_mrl_energy"].fn(spark, sf_dir).collect()}
    assert sorted(rows) == [8, 16, 32, 64]
    n = {r.n_vectors for r in rows.values()}
    assert len(n) == 1  # every dim sees every vector
    means = [rows[d].mean_energy_frac for d in (8, 16, 32, 64)]
    assert means == sorted(means), "energy must be monotone in prefix length"
    assert rows[64].mean_energy_frac == 1.0 and rows[64].min_energy_frac == 1.0
    for r in rows.values():
        assert 0.0 < r.min_energy_frac <= r.mean_energy_frac <= 1.0


def test_diversity_quota_covers_planted_clusters(spark, tmp_path):
    """Planted 3 well-separated gaussian clusters with skewed sizes
    (100/50/5). The quota sampler must (a) assign every vector to its
    own planted cluster (tight clusters -> nearest centroid is the
    planted one), (b) cap each cluster's picks at the quota, (c) keep
    ALL of an under-quota cluster, and (d) replay identically."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        _DIVQ_QUOTA,
        sample_diversity_quota,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(3, 64) * 10.0
    rows, vid = [], 0
    sizes = {0: 100, 1: 50, 2: 5}
    for lbl, n in sizes.items():
        for _ in range(n):
            v = centers[lbl] + rng.randn(64) * 0.1
            rows.append((vid, [float(x) for x in v], lbl))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int"
    )
    emb.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = sample_diversity_quota(spark, str(tmp_path)).collect()
    planted = {r[0]: r[2] for r in rows}
    by_cluster: dict[int, list] = {}
    for r in out:
        assert r.cluster_id == planted[r.vec_id], "assignment crossed clusters"
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert set(by_cluster) == {0, 1, 2}, "a planted cluster is unrepresented"
    for lbl, picks in by_cluster.items():
        assert len(picks) == min(sizes[lbl], _DIVQ_QUOTA)
        assert sorted(p.pick_rank for p in picks) == list(range(1, len(picks) + 1))
    again = sample_diversity_quota(spark, str(tmp_path)).collect()
    assert sorted((r.vec_id, r.cluster_id) for r in again) == sorted(
        (r.vec_id, r.cluster_id) for r in out
    )


def test_multiprobe_candidates_superset_of_exact_match(spark, sf_dir):
    """At identical (bits, tables), the Hamming-1 probe set CONTAINS the
    exact-bucket match set (probe 0 is the query's own bucket), so the
    multiprobe candidate pairs must be a strict superset whenever any
    Hamming-1 collision exists — the mechanism by which fewer tables
    recover recall."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
        lsh_multiprobe_candidates,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    exact_ids = {
        (r.qid, r.nid)
        for r in lsh_candidate_pairs(emb, bits=5, tables=3).select(
            "qid", "nid"
        ).collect()
    }
    mp_ids = {
        (r.qid, r.nid)
        for r in lsh_multiprobe_candidates(emb, bits=5, tables=3).select(
            "qid", "nid"
        ).collect()
    }
    assert exact_ids <= mp_ids, "multiprobe lost exact-bucket candidates"
    assert len(mp_ids) > len(exact_ids), "no Hamming-1 collisions probed"


def test_multiprobe_occupancy_cap_asymmetric_sub(spark):
    """The multiprobe join is asymmetric (probe rows vs index rows), so
    the degenerate-bucket sub split must come from the INDEX side's
    occupancy for BOTH sides. Planted: a 200-member near-identical hub
    (one bucket per table) + 20 well-separated jitter pairs. Under a
    small cap the hub's candidate volume must collapse toward occ*cap
    while the sparse planted pairs keep perfect recall."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        lsh_multiprobe_candidates,
    )

    rng = np.random.RandomState(13)
    hub = rng.randn(64)
    rows = [
        (i, [float(x) for x in hub + rng.randn(64) * 0.005]) for i in range(200)
    ]
    base = rng.randn(20, 64)
    planted = []
    for j, v in enumerate(base):
        a, b = 1000 + j * 2, 1000 + j * 2 + 1
        rows.append((a, [float(x) for x in v]))
        rows.append((b, [float(x) for x in v + rng.randn(64) * 0.005]))
        planted.append((a, b))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    uncapped = lsh_multiprobe_candidates(emb, bits=12, tables=2, occupancy_cap=10**9)
    capped = lsh_multiprobe_candidates(emb, bits=12, tables=2, occupancy_cap=20)
    n_unc = uncapped.count()
    n_cap = capped.count()
    # hub members share their bucket in every table AND probe each
    # other's buckets: ~200*199 directed pairs uncapped
    assert n_unc >= 38_000
    assert n_cap < 0.75 * n_unc, f"cap did not prune: {n_cap} vs {n_unc}"
    got = {(r.qid, r.nid) for r in capped.select("qid", "nid").collect()}
    for a, b in planted:
        assert (a, b) in got and (b, a) in got, f"cap broke sparse pair {(a, b)}"


def test_range_search_matches_numpy_brute_force(spark, sf_dir):
    """Third-engine recompute: full pairwise cosine in numpy, same 4dp
    round before the tau comparison, exact set equality of (qid, nid)
    membership and scores."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        _RANGE_TAU,
        embed_range_search,
    )

    got = {
        (r.qid, r.nid): r.cosine
        for r in embed_range_search(spark, sf_dir).collect()
    }
    tb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(tb.column("vec_id").to_pylist())
    mat = np.array(tb.column("embedding").to_pylist(), dtype=np.float64)
    n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(n @ n.T, 4)
    want = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if i != j and sims[i, j] >= _RANGE_TAU:
                want[(ids[i], ids[j])] = sims[i, j]
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-9


def test_kmeans_step_matches_numpy_lloyd_iteration(spark, sf_dir):
    """One Lloyd iteration recomputed in numpy with the operator's
    determinism contract (6dp-rounded distances, seed-id tie-break):
    cluster sizes and centroid shifts must match; sizes sum to N."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        _KMEANS_K,
        embed_kmeans_step,
    )

    rows = {r.cluster_id: r for r in embed_kmeans_step(spark, sf_dir).collect()}
    tb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(tb.column("vec_id").to_pylist())
    mat = np.array(tb.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    seeds = mat[ids < _KMEANS_K]
    d2 = np.round(
        ((mat[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2), 6
    )
    assign = d2.argmin(axis=1)  # argmin takes first max -> seed-id tie-break
    assert sum(r.size for r in rows.values()) == len(ids)
    for c in range(_KMEANS_K):
        members = mat[assign == c]
        assert rows[c].size == len(members)
        shift = np.sqrt(((members.mean(axis=0) - seeds[c]) ** 2).sum())
        assert abs(rows[c].shift - shift) < 5e-4


def test_dim_covariance_matches_numpy(spark, sf_dir):
    """np.cov / np.corrcoef over the raw embedding matrix (third
    engine): every upper-triangle cell must match; diagonal corr == 1."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        embed_dim_covariance,
    )

    rows = {
        (r.i, r.j): r for r in embed_dim_covariance(spark, sf_dir).collect()
    }
    mat = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet")
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    n, d = mat.shape
    cov = np.cov(mat, rowvar=False, ddof=1)
    corr = np.corrcoef(mat, rowvar=False)
    assert set(rows) == {(i, j) for i in range(1, d + 1) for j in range(i, d + 1)}
    for (i, j), r in rows.items():
        assert r.n == n
        assert abs(r.covar - cov[i - 1, j - 1]) < 5e-4
        assert abs(r.corr - corr[i - 1, j - 1]) < 5e-4
    for i in range(1, d + 1):
        assert rows[(i, i)].corr == 1.0


def test_whitening_apply_identity_covariance(spark, sf_dir):
    """ZCA semantics pin (third engine = numpy): at fixture scale the
    training sample covers the whole corpus, so the whitened matrix's
    sample covariance must be ~identity (up to the eps shrink); the
    transform is symmetric (ZCA, not PCA — whitened vectors stay in
    the input basis); repeat runs are bit-identical."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        whitening_apply_vectors,
    )

    out = (
        whitening_apply_vectors(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    n_src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(out) == n_src
    Z = np.vstack([np.asarray(v) for v in out["white"]])
    assert Z.shape[1] == 64
    C = np.cov(Z, rowvar=False, ddof=1)
    d = C.shape[0]
    # diagonal ~1 (eps shrink keeps it fractionally below), off-diag ~0
    assert np.all(np.abs(np.diag(C) - 1.0) < 5e-2)
    off = C - np.diag(np.diag(C))
    assert np.max(np.abs(off)) < 5e-2

    again = (
        whitening_apply_vectors(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    Z2 = np.vstack([np.asarray(v) for v in again["white"]])
    assert np.array_equal(Z, Z2)


def test_whitening_registered_query_is_scalar_encoded(spark, sf_dir):
    """The REGISTERED embed_whitening_apply must emit only scalar
    columns (the driver canonicalizer crashes on nested cells — r9's
    one hard-signal err) and its (vec_id, dim, value) rows must be
    exactly the exploded vector helper output."""
    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        embed_whitening_apply,
        whitening_apply_vectors,
    )

    df = embed_whitening_apply(spark, sf_dir)
    for f in df.schema.fields:
        assert f.dataType.typeName() in ("long", "integer", "double"), (
            f"nested/non-scalar output column {f.name}: {f.dataType}"
        )
    out = (
        df.toPandas()
        .sort_values(["vec_id", "dim"])
        .reset_index(drop=True)
    )
    vec = (
        whitening_apply_vectors(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    Z = np.vstack([np.asarray(v) for v in vec["white"]])
    n, d = Z.shape
    assert len(out) == n * d
    assert out["dim"].min() == 0 and out["dim"].max() == d - 1
    got = out["value"].to_numpy().reshape(n, d)
    assert np.array_equal(got, Z)


def test_pca_variance_explained_matches_numpy(spark, sf_dir):
    """Spectrum pin (third engine): eigenvalues from the operator's
    4dp-cell covariance must match np.cov+eigvalsh over the raw matrix
    within the cell-rounding tolerance; shares sum to ~1e6 ppm and the
    cumulative curve is monotone; repeat runs identical."""
    import numpy as np
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        embed_pca_variance_explained,
    )

    got = sorted(
        embed_pca_variance_explained(spark, sf_dir).collect(),
        key=lambda r: r.component,
    )
    mat = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet")
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    lam = np.linalg.eigvalsh(np.cov(mat, rowvar=False, ddof=1))[::-1]
    assert len(got) == mat.shape[1]
    for r, ev in zip(got, lam):
        assert abs(r.eigenvalue - ev) < 5e-3  # 4dp cells -> O(d*5e-5) spectrum wobble
    assert abs(sum(r.var_ppm for r in got) - 1_000_000) <= len(got)
    cums = [r.cum_ppm for r in got]
    assert cums == sorted(cums)
    again = sorted(
        embed_pca_variance_explained(spark, sf_dir).collect(),
        key=lambda r: r.component,
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def _mk_gauss_corpus(spark, path: str, n: int, seed: int, id0: int = 0):
    """Write n seeded gaussian vectors as an embeddings.parquet table;
    returns the (vec_id, embedding) rows for direct numpy checks."""
    import numpy as np

    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, 64).astype("float32")
    rows = [
        (int(id0 + i), [float(x) for x in vecs[i]], int(i % 3))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(2).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
    return rows


def test_pq_incremental_epoch_append_contract(spark, tmp_path):
    """Incremental PQ-index maintenance (VERDICT r11 item 2): an
    epoch-appended batch is encoded EXACTLY as a one-shot encode of the
    same vectors against the same frozen codebooks (one-shot
    equivalence); a replayed epoch is a no-op; a torn base refuses to
    accept epochs; epochs encoded against a retrained base are refused
    at load; a re-ingested vec_id is refused at load."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    _mk_gauss_corpus(spark, sf, 600, seed=11)
    root = str(tmp_path / "pq_inc_root")
    assert sim.build_pq_index(spark, sf, root) is True

    rng = np.random.RandomState(12)
    new_vecs = rng.randn(40, 64).astype("float32")
    new_df = spark.createDataFrame(
        [(1000 + i, [float(x) for x in new_vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    assert sim.append_pq_epoch(spark, new_df, root, "batch", 1) is True
    # replay: partition exists -> skipped, nothing re-encoded
    assert sim.append_pq_epoch(spark, new_df, root, "batch", 1) is False

    books, ids, codes, coarse, assign = sim.load_pq_index_incremental(
        spark, root
    )
    assert len(ids) == 640 and sorted(ids) == list(ids)

    # one-shot equivalence: incremental rows == encoding base+new in one
    # pass against the SAME frozen codebooks
    b2, c2, version = sim.load_pq_codebooks(spark, root)
    union = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).union(new_df)
    oneshot = {
        r.vec_id: (r.codes, r.list_id)
        for r in sim.pq_encode_batch(spark, union, b2, c2, version).collect()
    }
    for i, vid in enumerate(ids):
        want_codes, want_list = oneshot[int(vid)]
        assert codes[i].tobytes().hex() == want_codes, vid
        assert int(assign[i]) == want_list, vid

    # epoch vectors survive a base-files-untouched check: committing an
    # epoch never rewrites base codes
    base_files = sorted(os.listdir(f"{root}/pq_codes"))
    sim.append_pq_epoch(
        spark,
        spark.createDataFrame(
            [(2000, [0.5] * 64)], "vec_id long, embedding array<float>"
        ),
        root,
        "batch",
        2,
    )
    assert sorted(os.listdir(f"{root}/pq_codes")) == base_files

    # torn base: desync one table's version -> epoch append refuses
    from pyspark.sql import functions as F

    cb = spark.read.parquet(f"{root}/pq_codebooks")
    good_cb = cb.collect()
    torn = cb.withColumn("index_version", F.lit("deadbeef00000000"))
    sim._swap_write(spark, torn.coalesce(1), f"{root}/pq_codebooks")
    with pytest.raises(ValueError, match="no complete PQ base index"):
        sim.append_pq_epoch(spark, new_df, root, "batch", 3)
    sim._swap_write(
        spark,
        spark.createDataFrame(good_cb).coalesce(1),
        f"{root}/pq_codebooks",
    )
    sim.load_pq_index_incremental(spark, root)  # healed

    # retrained base under existing epochs: version mismatch is refused
    _mk_gauss_corpus(spark, sf, 600, seed=99)
    assert sim.build_pq_index(spark, sf, root) is True
    with pytest.raises(ValueError, match="encoded against"):
        sim.load_pq_index_incremental(spark, root)
    with pytest.raises(ValueError, match="encoded against"):
        sim.ivf_pq_codes_df(spark, root)


def test_pq_incremental_refuses_duplicate_vec_id(spark, tmp_path):
    import os

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    rows = _mk_gauss_corpus(spark, sf, 300, seed=21)
    root = str(tmp_path / "pq_dup_root")
    sim.build_pq_index(spark, sf, root)
    # re-ingest an id already in the base
    dup = spark.createDataFrame(
        [(rows[0][0], rows[0][1])], "vec_id long, embedding array<float>"
    )
    sim.append_pq_epoch(spark, dup, root, "batch", 1)
    with pytest.raises(ValueError, match="duplicate vec_id"):
        sim.load_pq_index_incremental(spark, root)
    # the distributed loader enforces the same contract (as a groupBy
    # probe, not a driver collect)
    with pytest.raises(ValueError, match="duplicate vec_id"):
        sim.ivf_pq_codes_df(spark, root)


def test_pq_drift_rule_flags_off_manifold_epoch(spark, tmp_path):
    """The drift rule both ways: an in-distribution epoch reports
    retrain_needed=false and serves; an off-manifold epoch (one-hot
    spike vectors, measured ~0.59 mean recon-cos vs the 0.70 floor)
    reports retrain_needed=true, the incremental loader REFUSES it, and
    allow_drift=True serves it deliberately."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    _mk_gauss_corpus(spark, sf, 600, seed=31)
    root = str(tmp_path / "pq_drift_root")
    sim.build_pq_index(spark, sf, root)

    rng = np.random.RandomState(32)
    good = rng.randn(40, 64).astype("float32")
    sim.append_pq_epoch(
        spark,
        spark.createDataFrame(
            [(3000 + i, [float(x) for x in good[i]]) for i in range(40)],
            "vec_id long, embedding array<float>",
        ),
        root,
        "batch",
        1,
    )
    rep = {
        r.epoch: r for r in sim.pq_index_drift_report(spark, root).collect()
    }
    assert rep["batch-1"].retrain_needed is False
    assert rep["batch-1"].mean_recon_cos > sim._PQ_DRIFT_FLOOR
    sim.load_pq_index_incremental(spark, root)  # serves

    spikes = np.eye(64, dtype="float32")[:40]
    sim.append_pq_epoch(
        spark,
        spark.createDataFrame(
            [(4000 + i, [float(x) for x in spikes[i]]) for i in range(40)],
            "vec_id long, embedding array<float>",
        ),
        root,
        "batch",
        2,
    )
    rep = {
        r.epoch: r for r in sim.pq_index_drift_report(spark, root).collect()
    }
    assert rep["batch-1"].retrain_needed is False
    assert rep["batch-2"].retrain_needed is True
    assert rep["batch-2"].mean_recon_cos < sim._PQ_DRIFT_FLOOR
    with pytest.raises(ValueError, match="drift"):
        sim.load_pq_index_incremental(spark, root)
    books, ids, codes, coarse, assign = sim.load_pq_index_incremental(
        spark, root, allow_drift=True
    )
    assert len(ids) == 680
    # the distributed loader applies the identical rule (it IS the
    # report's retrain_needed column) and the identical override
    with pytest.raises(ValueError, match="drift"):
        sim.ivf_pq_codes_df(spark, root)
    codes_df, _b, _c = sim.ivf_pq_codes_df(spark, root, allow_drift=True)
    assert codes_df.count() == 680

    # report and loader share one rule (ADVICE r12: the loader
    # hardcoded the floor and compared the unrounded mean): at a floor
    # UNDER the off-manifold epoch's measured mean, the report says
    # retrain_needed=false for both epochs — so the loader, given the
    # SAME floor, must serve without allow_drift.
    low = float(rep["batch-2"].mean_recon_cos) - 0.01
    rep_low = {
        r.epoch: r
        for r in sim.pq_index_drift_report(spark, root, floor=low).collect()
    }
    assert all(not r.retrain_needed for r in rep_low.values())
    _b, ids_low, _c, _co, _a = sim.load_pq_index_incremental(
        spark, root, floor=low
    )
    assert len(ids_low) == 680


def test_sharded_ivf_pq_bit_equals_indexed_and_serves_beyond_cap(
    spark, sf_dir, monkeypatch
):
    """The sharded serving path (VERDICT r13's one demand): codes stay
    a list_id-clustered DataFrame, queries broadcast, per-shard ADC
    winners reduce to the global top-k. Must be (a) BIT-IDENTICAL to
    the flat broadcast path embed_ann_ivf_pq_indexed (and therefore to
    the session-trained embed_ann_ivf_pq and its recall pins), and
    (b) still answering — identically — when _MAX_INDEX_ROWS is forced
    below the corpus size, where the flat loader must REFUSE."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq_indexed"].fn(spark, sf_dir).collect()
    )
    got = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq_sharded"].fn(spark, sf_dir).collect()
    )
    assert got == want

    # corpus now "exceeds" the broadcast cap: flat refuses loudly...
    monkeypatch.setattr(sim, "_MAX_INDEX_ROWS", 10)
    with pytest.raises(ValueError, match="broadcast cap"):
        REGISTRY["embed_ann_ivf_pq_indexed"].fn(spark, sf_dir).collect()
    # ...the sharded server answers, bit-identically (it never consults
    # the index-side cap — no driver collect of a single code row)
    got_beyond = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq_sharded"].fn(spark, sf_dir).collect()
    )
    assert got_beyond == want


def test_sharded_query_batch_cap_refuses(spark, sf_dir, monkeypatch):
    """The sharded path's ONLY bounded side is the query batch: above
    _MAX_QUERY_ROWS it refuses with tiling advice instead of silently
    broadcasting an unbounded batch."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    monkeypatch.setattr(sim, "_MAX_QUERY_ROWS", 10)
    with pytest.raises(ValueError, match="query batch exceeds"):
        REGISTRY["embed_ann_ivf_pq_sharded"].fn(spark, sf_dir).collect()


def test_tiled_serving_bit_equals_untiled_beyond_query_cap(
    spark, sf_dir, monkeypatch
):
    """serve_ann_ivf_pq_tiled (VERDICT r14 item 3 — the helper the
    batch-cap refusal points at): with _MAX_QUERY_ROWS forced below
    |Q|, the one-batch server REFUSES while the tiled server answers
    bit-identically to the uncapped single batch — every query lands
    in exactly one hash tile, per-query top-k is independent, so the
    union of tile results IS the global answer. Also pinned: the
    registered query (>=3 genuine tiles at any SF) equals the untiled
    registered query, and tiling composes with the dynamic label
    filter."""
    import math

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq_sharded"].fn(spark, sf_dir).collect()
    )
    got_reg = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_ivf_pq_tiled"].fn(spark, sf_dir).collect()
    )
    assert got_reg == want and want

    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", "embedding")
    monkeypatch.setattr(sim, "_MAX_QUERY_ROWS", 40)
    with pytest.raises(ValueError, match="query batch exceeds"):
        sim.serve_ann_ivf_pq(spark, q, root).collect()
    got = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq_tiled(spark, q, root).collect()
    )
    assert got == want

    # composes with the per-query dynamic label filter
    n_labels = emb.select("label").distinct().count()
    nprobe = min(
        sim._IVFPQ_NLIST, math.ceil(sim._IVFPQ_NPROBE * n_labels)
    )
    flat_lab = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_same_label_ivf_pq"].fn(spark, sf_dir).collect()
    )
    got_lab = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq_tiled(
            spark,
            emb.select("vec_id", "embedding", "label"),
            root,
            k=3,
            nprobe=nprobe,
            label_of=emb.select("vec_id", "label"),
        ).collect()
    )
    assert got_lab == flat_lab and got_lab


def test_pq_serving_validates_once_per_index_state(
    spark, tmp_path, monkeypatch
):
    """Validate once, serve many (VERDICT r14 item 1): every full-codes
    refusal aggregate of the distributed loader (the duplicate-vec_id
    groupBy, the epoch-version distinct, the drift report) lives in
    _validate_pq_codes, and ivf_pq_codes_df memoizes its pass on the
    (index_version, epoch partition set, drift policy) stamp — so a
    second serve call against an unchanged index runs NO full-codes
    aggregate, while a new epoch (stamp change) re-proves the
    invariants exactly once, and a different drift policy is a
    different stamp (a pass under allow_drift must not satisfy the
    stricter no-drift contract)."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    rows = _mk_gauss_corpus(spark, sf, 300, seed=51)
    root = str(tmp_path / "pq_memo_root")
    sim.build_pq_index(spark, sf, root)
    q = spark.createDataFrame(
        [(v, e) for v, e, _l in rows[:20]],
        "vec_id long, embedding array<float>",
    )

    calls = []
    real = sim._validate_pq_codes

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(sim, "_validate_pq_codes", counting)

    out1 = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(spark, q, root).collect()
    )
    assert calls == [1]
    out2 = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(spark, q, root).collect()
    )
    assert calls == [1], "second serve against an unchanged index must not re-validate"
    assert out2 == out1 and out1

    # an epoch landing changes the stamp: exactly one revalidation
    rng = np.random.RandomState(52)
    vecs = rng.randn(10, 64).astype("float32")
    new_df = spark.createDataFrame(
        [(9000 + i, [float(x) for x in vecs[i]]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    sim.append_pq_epoch(spark, new_df, root, "batch", 1)
    sim.serve_ann_ivf_pq(spark, q, root).collect()
    assert calls == [1, 1]
    sim.serve_ann_ivf_pq(spark, q, root).collect()
    assert calls == [1, 1]

    # drift policy is part of the stamp, not ignored by it
    sim.serve_ann_ivf_pq(spark, q, root, allow_drift=True).collect()
    assert calls == [1, 1, 1]


def test_sharded_probe_set_prunes_partitions_and_stays_bit_equal(
    spark, tmp_path, monkeypatch
):
    """Probed-list pruning is real, not asserted (VERDICT r14 item 2):
    pq_codes persists hive-partitioned by list_bucket = list_id %
    _PQ_LIST_BUCKETS, and the sharded scorer turns the request batch's
    union-of-probed-lists into predicates — list_bucket IN (...) on
    the partition column, list_id IN (...) on the data column. Proven
    three ways on a sparse batch (1 query, nprobe=2, 16 lists): (a)
    the executed plan carries the PartitionFilters clause, (b) the
    scan's own metrics report fewer partitions/files read than exist
    on disk, (c) the pruned answer is bit-equal to scoring with NO
    probe predicate at the same nprobe (candidates only ever come from
    probed lists)."""
    import os

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    rows = _mk_gauss_corpus(spark, sf, 400, seed=61)
    root = str(tmp_path / "pq_prune_root")
    sim.build_pq_index(spark, sf, root)

    # physics: the codes table is genuinely hive-partitioned on disk
    buckets_on_disk = sorted(
        n
        for n in os.listdir(f"{root}/pq_codes")
        if n.startswith("list_bucket=")
    )
    assert len(buckets_on_disk) > 4

    q = spark.createDataFrame(
        [(v, e) for v, e, _l in rows[:1]],
        "vec_id long, embedding array<float>",
    )
    # the index is under the resident cap: force the sharded placement
    monkeypatch.setattr(sim, "_MAX_INDEX_ROWS", 10)
    out = sim.serve_ann_ivf_pq(spark, q, root, k=3, nprobe=2)
    got = sorted((r.qid, r.nid, r.adc_score) for r in out.collect())
    assert got

    # (a) plan: the partition-column predicate reached the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_bucket" in plan
    assert "list_id" in plan.split("PushedFilters", 1)[1].split("\n")[0]

    # (b) metrics: the executed scan read <= nprobe partitions, fewer
    # than live on disk (walk through the AQE wrappers to the scan)
    def find_scans(node):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name:
            return [node]
        if "AdaptiveSparkPlan" in name:
            return find_scans(node.executedPlan())
        if "QueryStage" in name:
            return find_scans(node.plan())
        found = []
        ch = node.children()
        for i in range(ch.size()):
            found += find_scans(ch.apply(i))
        return found

    scans = find_scans(out._jdf.queryExecution().executedPlan())
    assert scans, "expected a parquet scan leaf"
    n_parts = int(scans[0].metrics().apply("numPartitions").value())
    n_files = int(scans[0].metrics().apply("numFiles").value())
    total_files = sum(
        1
        for b in buckets_on_disk
        for f in os.listdir(f"{root}/pq_codes/{b}")
        if f.endswith(".parquet")
    )
    assert 0 < n_parts <= 2 < len(buckets_on_disk)
    assert n_files < total_files

    # (c) bit-equality with the un-pruned scorer at the same nprobe:
    # score the SAME batch against the codes table stripped of the
    # partition column (no bucket predicate possible), same kernel
    codes_df, books, coarse = sim.ivf_pq_codes_df(spark, root)
    flat_codes = codes_df.select("vec_id", "codes", "list_id")
    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim._ivf_adc_topk_sharded(
            spark, flat_codes, q, books, coarse, k=3, nprobe=2
        ).collect()
    )
    assert got == want


def _placement_rows(df):
    """(qid, nid, adc_score) rows in (qid, nid) order, NaN as None so a
    zero query's NaN scores compare equal."""
    return sorted(
        ((r.qid, r.nid, None if r.adc_score != r.adc_score else r.adc_score)
         for r in df.collect()),
        key=lambda t: t[:2],
    )


def test_resident_and_sharded_placements_are_bit_equal(
    spark, tmp_path, monkeypatch
):
    """serve_ann_ivf_pq's two placements return equal (qid, nid,
    adc_score) rows on seeded random batches over a base+epoch index:
    nprobe overrides, k larger than a probed list, a zero query vector
    and a query whose id is in the corpus (self-exclusion). A batch
    over the candidate budget moves to the sharded placement."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    rows = _mk_gauss_corpus(spark, sf, 300, seed=71)
    root = str(tmp_path / "pq_placement_root")
    sim.build_pq_index(spark, sf, root)
    rng = np.random.RandomState(72)
    sim.append_pq_epoch(
        spark,
        spark.createDataFrame(
            [(7000 + i, rng.randn(64).tolist()) for i in range(30)],
            "vec_id long, embedding array<double>",
        ),
        root, "batch", 1,
    )
    # 330 codes over 16 lists (~21 a list): at nprobe=1, k=40 exceeds
    # the probed list
    for seed, k, nprobe in ((1, 5, None), (2, 40, 1), (3, 3, 16)):
        rng = np.random.RandomState(seed)
        batch = [(9000 + i, rng.randn(64).tolist()) for i in range(12)]
        batch.append((9100, [0.0] * 64))
        v, e, _l = rows[rng.randint(len(rows))]
        batch.append((v, [x + 1e-3 for x in e]))
        q = spark.createDataFrame(batch, "vec_id long, embedding array<double>")
        resident = sim.serve_ann_ivf_pq(spark, q, root, k=k, nprobe=nprobe)
        assert "LocalTableScan" in (
            resident._jdf.queryExecution().executedPlan().toString()
        )
        with monkeypatch.context() as m:
            m.setattr(sim, "_MAX_INDEX_ROWS", 10)
            sharded = sim.serve_ann_ivf_pq(spark, q, root, k=k, nprobe=nprobe)
            want = _placement_rows(sharded)
        got = _placement_rows(resident)
        assert got == want and got
        if nprobe == 1:
            per_q = [sum(1 for t in got if t[0] == qid) for qid, _e in batch]
            assert min(per_q) < k
        assert all(n != v for qid, n, _s in got if qid == v)
        assert any(s is None for qid, _n, s in got if qid == 9100)

    # the batch's candidate count bounds the resident placement too:
    # 330 codes x nprobe 3 / 16 lists ~ 62 a query, so a budget of 100
    # keeps one query resident and sends two to the sharded scorer
    monkeypatch.setattr(sim, "_RESIDENT_MAX_CANDIDATES", 100)
    for n_q, local in ((1, True), (2, False)):
        out = sim.serve_ann_ivf_pq(spark, None, root, q_rows=batch[:n_q])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("LocalTableScan" in plan) == local
    want = _placement_rows(out)
    monkeypatch.setattr(sim, "_RESIDENT_MAX_CANDIDATES", 10**9)
    resident = sim.serve_ann_ivf_pq(spark, None, root, q_rows=batch[:2])
    assert _placement_rows(resident) == want and want


def test_resident_index_follows_epoch_appends_without_memo_clear(
    spark, tmp_path
):
    """A served index that gains an epoch answers from it on the next
    call in the same session: the epoch listing is in the stamp, so the
    resident entry is rebuilt in place — one entry per index root."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
        util,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    _mk_gauss_corpus(spark, sf, 300, seed=81)
    root = str(tmp_path / "pq_resident_epoch_root")
    sim.build_pq_index(spark, sf, root)
    rng = np.random.RandomState(82)
    vecs = [rng.randn(64).tolist() for _ in range(10)]
    q = spark.createDataFrame(
        [(20_000 + i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    def entries():
        return [
            key for key in util._MEMO
            if key[1] == "ivf_pq_resident" and key[2] == root
        ]

    before = {r.nid for r in sim.serve_ann_ivf_pq(spark, q, root).collect()}
    assert before and all(n < 300 for n in before)
    assert len(entries()) == 1
    sim.append_pq_epoch(
        spark,
        spark.createDataFrame(
            [(10_000 + i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        ),
        root, "batch", 1,
    )
    after = {r.nid for r in sim.serve_ann_ivf_pq(spark, q, root).collect()}
    # each query's own vector is now in the index, under a new id
    assert {10_000 + i for i in range(10)} <= after
    assert len(entries()) == 1


def test_sharded_empty_query_batch_returns_empty(spark, sf_dir):
    """An empty request batch is a legal serving input (ADVICE r14:
    collect() of zero rows gave a 1-D empty array and np.linalg.norm
    raised AxisError): the sharded server returns an empty DataFrame
    with the output schema, matching the flat scorer's tolerance."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.serve_ann_ivf_pq(
        spark, emb.select("vec_id", "embedding").limit(0), root
    )
    assert out.columns == ["qid", "nid", "adc_score"]
    assert out.count() == 0


def test_sharded_label_of_duplicates_do_not_duplicate_candidates(
    spark, sf_dir
):
    """label_of rows are deduplicated before joining the codes shards
    (ADVICE r14: the eligible path did .distinct() but label_of did
    not, so duplicate (vec_id, label) rows duplicated code rows AFTER
    the loader's vec_id-uniqueness probe already ran): a label_of fed
    the same mapping three times serves bit-identically to once."""
    import math

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_labels = emb.select("label").distinct().count()
    nprobe = min(
        sim._IVFPQ_NLIST, math.ceil(sim._IVFPQ_NPROBE * n_labels)
    )
    lab = emb.select("vec_id", "label")
    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(
            spark,
            emb.select("vec_id", "embedding", "label"),
            root,
            k=3,
            nprobe=nprobe,
            label_of=lab,
        ).collect()
    )
    tripled = lab.unionByName(lab).unionByName(lab)
    got = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(
            spark,
            emb.select("vec_id", "embedding", "label"),
            root,
            k=3,
            nprobe=nprobe,
            label_of=tripled,
        ).collect()
    )
    assert got == want and got


def test_sharded_filtered_serving_matches_flat_filtered(spark, sf_dir):
    """Metadata-filtered search through the SHARDED server: the
    eligible-set semi-join (pre-filtered lists, no driver-side mask
    array) with the same selectivity-scaled probe budget must
    reproduce the flat masked path embed_ann_filtered_ivf_pq
    bit-for-bit — the filtered API keeps working when the codes table
    outgrows the broadcast cap."""
    import math

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    flat = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_filtered_ivf_pq"].fn(spark, sf_dir).collect()
    )
    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eligible = emb.filter(
        emb.label.isin(*sim._FILTER_LABELS)
    ).select("vec_id")
    sel = max(eligible.count() / emb.count(), 1.0 / sim._IVFPQ_NLIST)
    nprobe = math.ceil(sim._IVFPQ_NPROBE / sel)
    shard = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(
            spark,
            emb.select("vec_id", "embedding"),
            root,
            k=3,
            nprobe=nprobe,
            eligible=eligible,
        ).collect()
    )
    assert shard == flat and shard


def test_sharded_two_corpus_join_matches_flat(spark, sf_dir):
    """The two-corpus ANN JOIN through the SHARDED server: the index
    corpus becomes the `eligible` set (a semi-join on the codes table,
    not a corpus-length driver mask), queries are the other corpus —
    must reproduce embed_ann_join_ivf_pq bit-for-bit, so the
    embedding-join surface also survives the corpus outgrowing the
    broadcast cap."""
    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.sampling import (
        _TEST_LT,
        _split_bucket,
    )

    flat = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_join_ivf_pq"].fn(spark, sf_dir).collect()
    )
    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bucket = _split_bucket("vec_id")
    queries = emb.filter(bucket < _TEST_LT).select("vec_id", "embedding")
    eligible = emb.filter(~(bucket < _TEST_LT)).select("vec_id")
    shard = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(
            spark, queries, root, k=3, eligible=eligible
        ).collect()
    )
    assert shard == flat and shard


def test_sharded_same_label_serving_matches_flat_dynamic(spark, sf_dir):
    """PER-QUERY dynamic label filtering through the SHARDED server:
    candidate labels join onto the codes shards, query labels ride the
    broadcast, and with the flat path's label-count-scaled probe
    budget the result must reproduce embed_ann_same_label_ivf_pq
    bit-for-bit — the dynamic-filter API survives the corpus
    outgrowing the broadcast cap."""
    import math

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    flat = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in REGISTRY["embed_ann_same_label_ivf_pq"].fn(spark, sf_dir).collect()
    )
    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_labels = emb.select("label").distinct().count()
    nprobe = min(
        sim._IVFPQ_NLIST, math.ceil(sim._IVFPQ_NPROBE * n_labels)
    )
    shard = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(
            spark,
            emb.select("vec_id", "embedding", "label"),
            root,
            k=3,
            nprobe=nprobe,
            label_of=emb.select("vec_id", "label"),
        ).collect()
    )
    assert shard == flat and shard
    # every emitted pair shares a label (the dynamic-filter contract)
    lab = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(lab[q] == lab[n] for q, n, _ in shard)


def test_sharded_serving_with_epochs_matches_flat_incremental(spark, tmp_path):
    """serve_ann_ivf_pq over a base+epoch index: the distributed loader
    (ivf_pq_codes_df) + sharded scorer must reproduce the flat
    incremental loader + broadcast scorer bit-for-bit, and
    include_epochs=False must serve only base vectors."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    _mk_gauss_corpus(spark, sf, 600, seed=41)
    root = str(tmp_path / "pq_shard_root")
    sim.build_pq_index(spark, sf, root)
    rng = np.random.RandomState(42)
    new_vecs = rng.randn(40, 64).astype("float32")
    new_df = spark.createDataFrame(
        [(5000 + i, [float(x) for x in new_vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    sim.append_pq_epoch(spark, new_df, root, "batch", 1)

    books, ids, codes, coarse, assign = sim.load_pq_index_incremental(
        spark, root
    )
    flat = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim._ivf_adc_topk_stream(
            spark, new_df, books, ids, codes, coarse, assign
        ).collect()
    )
    shard = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq(spark, new_df, root).collect()
    )
    assert shard == flat and shard

    # base-only serving: no epoch vector may appear as a neighbor
    base_only = sim.serve_ann_ivf_pq(
        spark, new_df, root, include_epochs=False
    ).collect()
    assert base_only and all(r.nid < 5000 for r in base_only)


def test_pq_incremental_registered_queries(spark, sf_dir):
    """The registered fixture queries: embed_ann_pq_incremental serves
    base+epochs as one index whose row set covers every query vector
    with k neighbors (same shape contract as embed_ann_ivf_pq), and
    embed_pq_index_drift reports both fixture epochs in-distribution
    (retrain_needed=false — held-out recon ~0.81 vs floor 0.70) and is
    deterministic across calls."""
    reg = load_all()
    out = reg["embed_ann_pq_incremental"].fn(spark, sf_dir).collect()
    assert out, "incremental ANN must return neighbors"
    per_q: dict[int, int] = {}
    for r in out:
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
        assert r.qid != r.nid
    assert max(per_q.values()) <= 5

    # |Q| is bounded to the NEWEST epoch (VERDICT r12 item 2): every
    # query id comes from the fixture's batch-2 slice, while neighbors
    # may come from anywhere in base+epochs (the whole served index).
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.sampling import (
        _TEST_LT,
        _split_bucket,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bucket = _split_bucket("vec_id")
    newest = {
        r[0]
        for r in emb.filter((bucket < _TEST_LT) & ~(bucket < "0d"))
        .select("vec_id")
        .collect()
    }
    assert newest, "fixture newest-epoch slice must be non-empty"
    assert set(per_q) == newest, (
        "query set must be exactly the newest epoch's vectors"
    )
    all_ids = {r[0] for r in emb.select("vec_id").collect()}
    assert {r.nid for r in out} <= all_ids
    assert any(r.nid not in newest for r in out), (
        "neighbors must be served from the full base+epoch index"
    )

    drift = reg["embed_pq_index_drift"].fn(spark, sf_dir).collect()
    assert [r.epoch for r in drift] == ["batch-1", "batch-2"]
    assert all(r.retrain_needed is False for r in drift)
    assert all(r.mean_recon_cos > 0.70 for r in drift)
    again = reg["embed_pq_index_drift"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in drift]


def test_filtered_search_predicate_and_recall(spark, sf_dir):
    """Metadata-filtered vector search: every ANN-emitted neighbor must
    satisfy the attribute predicate (pre-filtered lists can't leak a
    filtered-out candidate), each query gets at most k=3 neighbors, and
    recall@3 vs the oracled exact twin clears the same floor class as
    the unfiltered IVF-PQ paths (measured 0.61 at sf0.001 with the
    selectivity-scaled probe count)."""
    import pyarrow.parquet as pq

    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        _FILTER_LABELS,
    )

    reg = load_all()
    exact = {}
    for r in reg["embed_topk_filtered"].fn(spark, sf_dir).collect():
        exact.setdefault(r.qid, set()).add(r.nid)
    ann = {}
    for r in reg["embed_ann_filtered_ivf_pq"].fn(spark, sf_dir).collect():
        ann.setdefault(r.qid, set()).add(r.nid)
        assert r.qid != r.nid

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "label"]
    )
    label_of = dict(
        zip(tbl.column("vec_id").to_pylist(), tbl.column("label").to_pylist())
    )
    allowed = set(_FILTER_LABELS)
    for qid, nids in ann.items():
        assert len(nids) <= 3
        for nid in nids:
            assert label_of[nid] in allowed, (qid, nid, label_of[nid])
    for qid, nids in exact.items():
        for nid in nids:
            assert label_of[nid] in allowed

    hits = sum(len(ann.get(q, set()) & want) for q, want in exact.items())
    total = sum(len(want) for want in exact.values())
    recall = hits / total
    assert recall >= 0.45, f"filtered ANN recall@3 too low: {recall:.3f}"
    # determinism across calls
    again = {}
    for r in reg["embed_ann_filtered_ivf_pq"].fn(spark, sf_dir).collect():
        again.setdefault(r.qid, set()).add(r.nid)
    assert again == ann


def test_pq_retrain_clears_drift_and_crash_orders_safely(spark, tmp_path):
    """The retrain closure of the drift loop: a drifted epoch makes the
    incremental loader refuse; after the drifted batch also lands in
    the live table (the ingest pipeline's invariant), retrain_pq_index
    rebuilds the base from the live table and clears the epochs — the
    loader then serves every vector exactly once. The crash window
    between rebuild and epoch-clear is REFUSED (version mismatch), not
    silently served, and re-running the retrain converges."""
    import os
    import shutil

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    _mk_gauss_corpus(spark, sf, 500, seed=51)
    root = str(tmp_path / "pq_retrain_root")
    sim.build_pq_index(spark, sf, root)

    # an off-manifold batch arrives: epoch-append flags drift
    spikes = np.eye(64, dtype="float32")[:30]
    batch = spark.createDataFrame(
        [(5000 + i, [float(x) for x in spikes[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    sim.append_pq_epoch(spark, batch, root, "batch", 1)
    with pytest.raises(ValueError, match="drift"):
        sim.load_pq_index_incremental(spark, root)

    # the same batch lands in the live table (ingest invariant), plus
    # label column to match the table schema
    spark.createDataFrame(
        [(5000 + i, [float(x) for x in spikes[i]], 0) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("append").parquet(f"{sf}/embeddings.parquet")

    # crash window: simulate rebuild-done/clear-not-run by retraining
    # with the epoch dir restored afterwards
    ep_backup = str(tmp_path / "ep_backup")
    shutil.copytree(f"{root}/pq_codes_epochs", ep_backup)
    assert sim.retrain_pq_index(spark, sf, root) is True
    shutil.copytree(ep_backup, f"{root}/pq_codes_epochs")
    with pytest.raises(ValueError, match="encoded against"):
        sim.load_pq_index_incremental(spark, root)  # refused, not silent
    # re-run converges: rebuild skips (fresh), clear completes
    assert sim.retrain_pq_index(spark, sf, root) is False
    books, ids, codes, coarse, assign = sim.load_pq_index_incremental(
        spark, root
    )
    assert len(ids) == 530 and len(set(ids)) == 530
    assert not os.path.isdir(f"{root}/pq_codes_epochs")


def test_pq_retrain_refuses_uncovered_epochs(spark, tmp_path):
    """ADVICE r12 (medium): retrain_pq_index must never clear epoch
    partitions whose vectors the rebuilt base does NOT cover — if the
    ingest invariant is violated (epoch batches never landed in the
    live embeddings table), an unguarded clear silently drops those
    vectors from the served index with a success return. The refusal
    must leave the epochs intact, and landing the missing batch in the
    table makes the same call succeed."""
    import os

    import numpy as np

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    _mk_gauss_corpus(spark, sf, 400, seed=52)
    root = str(tmp_path / "pq_refuse_root")
    sim.build_pq_index(spark, sf, root)

    # epoch batch that NEVER lands in the live table (invariant broken)
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(25, 64)).astype("float32")
    sim.append_pq_epoch(
        spark,
        spark.createDataFrame(
            [(9000 + i, [float(x) for x in vecs[i]]) for i in range(25)],
            "vec_id long, embedding array<float>",
        ),
        root,
        "batch",
        1,
    )
    with pytest.raises(ValueError, match="retrain refused"):
        sim.retrain_pq_index(spark, sf, root)
    # the one data-loss path is refused WITHOUT destroying the epochs
    assert os.path.isdir(f"{root}/pq_codes_epochs")

    # land the batch in the table -> same call now rebuilds and clears
    spark.createDataFrame(
        [(9000 + i, [float(x) for x in vecs[i]], 0) for i in range(25)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("append").parquet(f"{sf}/embeddings.parquet")
    assert sim.retrain_pq_index(spark, sf, root) is True
    assert not os.path.isdir(f"{root}/pq_codes_epochs")
    _books, ids, _codes, _coarse, _assign = sim.load_pq_index_incremental(
        spark, root
    )
    assert len(ids) == 425 and 9000 in set(ids)


def test_same_label_search_agreement_and_recall(spark, sf_dir):
    """Per-query dynamic filtered search: every pair emitted by BOTH
    paths joins vectors of the same label; the ANN twin's recall@3 vs
    the oracled exact twin clears the IVF-PQ floor class (measured 0.71
    at sf0.001 with the label-count-scaled probe budget); and the exact
    path never emits a self-pair or more than 3 neighbors."""
    import pyarrow.parquet as pq

    reg = load_all()
    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "label"]
    )
    label_of = dict(
        zip(tbl.column("vec_id").to_pylist(), tbl.column("label").to_pylist())
    )

    exact = {}
    for r in reg["embed_topk_same_label"].fn(spark, sf_dir).collect():
        assert r.qid != r.nid
        assert label_of[r.qid] == label_of[r.nid], (r.qid, r.nid)
        exact.setdefault(r.qid, set()).add(r.nid)
    assert max(len(v) for v in exact.values()) <= 3

    ann = {}
    for r in reg["embed_ann_same_label_ivf_pq"].fn(spark, sf_dir).collect():
        assert r.qid != r.nid
        assert label_of[r.qid] == label_of[r.nid], (r.qid, r.nid)
        ann.setdefault(r.qid, set()).add(r.nid)
    assert max(len(v) for v in ann.values()) <= 3

    hits = sum(len(ann.get(q, set()) & want) for q, want in exact.items())
    total = sum(len(want) for want in exact.values())
    recall = hits / total
    assert recall >= 0.45, f"same-label ANN recall@3 too low: {recall:.3f}"


def test_tiled_serving_materialized_path(spark, sf_dir, tmp_path):
    """The many-tile escape hatch (VERDICT r15 item 2): at or above
    materialize_at tiles the server pre-writes the tiled queries as a
    `_tile`-partitioned table and appends per-tile top-ks to a staged
    output instead of chaining unionByName. Pinned: (a) bit-equality
    with the in-plan loop path under a forced high tile count, (b) the
    per-tile query read is partition-PRUNED to its own tile directory,
    (c) a batch whose duplicate-id multiplicity exceeds tile_rows is
    refused up front (duplicates hash to the same tile at every tile
    count — ADVICE r15's unbounded doubling loop), (d) the staged
    output is a flat scan — lineage independent of the tile count."""
    import pyspark.sql.functions as F

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", "embedding")
    n = q.count()
    tile_rows = max(1, n // 12)  # forces >= 12 tiles

    want = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq_tiled(
            spark, q, root, tile_rows=tile_rows, materialize_at=10**9
        ).collect()
    )
    work = str(tmp_path / "tiles")
    got = sorted(
        (r.qid, r.nid, r.adc_score)
        for r in sim.serve_ann_ivf_pq_tiled(
            spark, q, root, tile_rows=tile_rows, materialize_at=2,
            work_dir=work,
        ).collect()
    )
    assert got == want and got

    # (b) the per-tile read shape the serve loop uses carries a
    # partition filter on _tile — only that tile's directory is opened
    tile0 = spark.read.parquet(f"{work}/queries").filter(
        F.col("_tile") == 0
    )
    plan = tile0._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_tile" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]

    # (d) the returned frame scans the staged output — no union chain
    out = sim.serve_ann_ivf_pq_tiled(
        spark, q, root, tile_rows=tile_rows, materialize_at=2,
        work_dir=str(tmp_path / "tiles2"),
    )
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()

    # (c) duplicate ids beyond the tile limit are refused, not looped
    five = q.orderBy("vec_id").limit(5)
    dup = five.unionByName(five).unionByName(five)
    with pytest.raises(ValueError, match="repeated"):
        sim.serve_ann_ivf_pq_tiled(spark, dup, root, tile_rows=2)


def test_label_of_conflicting_labels_refused(spark, sf_dir):
    """A label_of mapping a vec_id to MORE THAN ONE label violates the
    serve contract (labels are a function of vec_id): previously a
    documented caller obligation, now a one-aggregate refusal under the
    serve's amortized probe (ADVICE r15). Duplicate (vec_id, label)
    ROWS with agreeing labels stay legal — the distinct collapses
    them."""
    import pyspark.sql.functions as F

    from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
        similarity as sim,
    )

    root = sim._pq_index_artifact(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select("vec_id", "embedding", "label").orderBy("vec_id").limit(5)

    good = emb.select("vec_id", "label")
    # agreeing duplicates: legal
    sim.serve_ann_ivf_pq(
        spark, q, root, k=3, label_of=good.unionByName(good)
    ).collect()

    conflicted = good.unionByName(
        good.limit(1).withColumn("label", F.col("label") + F.lit(1))
    )
    with pytest.raises(ValueError, match="more than one label"):
        sim.serve_ann_ivf_pq(
            spark, q, root, k=3, label_of=conflicted
        ).collect()
