"""The pure-numpy scoring kernels behind every similarity scorer, pinned
without a SparkSession: the (-score, id) tie contract, the edge cases of
top-k selection, and the bit-exactness of ADC scoring under chunking."""

from __future__ import annotations

import numpy as np

from build_a_cloud_based_batch_etl_pipeline_spark.operators import (
    vector_kernels as vk,
)


def _books_codes(seed: int = 7, n: int = 300, m: int = 8, k: int = 16):
    rng = np.random.RandomState(seed)
    books = rng.randn(m, k, 8)
    codes = rng.randint(0, k, size=(n, m)).astype(np.uint8)
    q = vk.normalize(rng.randn(5, m * 8))
    return q, books, codes


def test_ties_resolve_to_smallest_id():
    scores = np.array([0.5, 0.9, 0.9, 0.1, 0.9])
    ids = np.array([40, 30, 10, 0, 20])
    assert vk.topk_by_score_then_id(scores, ids, 3).tolist() == [2, 4, 1]
    # 2-D: every row under the same contract, ids shared by the rows
    two = vk.topk_by_score_then_id(np.stack([scores, -scores]), ids, 2)
    assert two.tolist() == [[2, 4], [3, 0]]


def test_sorted_ids_fast_path_matches_lexsort():
    rng = np.random.RandomState(3)
    scores = np.round(rng.rand(4, 50), 1)  # many ties
    for ids in (np.arange(50), rng.permutation(50)):
        got = vk.topk_by_score_then_id(scores, ids, 7)
        for r in range(4):
            want = np.lexsort((ids, -scores[r]))[:7]
            assert got[r].tolist() == want.tolist()


def test_k_larger_than_candidates_and_empty():
    ids = np.array([3, 1])
    assert vk.topk_by_score_then_id(np.array([0.2, 0.2]), ids, 5).tolist() == [1, 0]
    empty = vk.topk_by_score_then_id(np.array([]), np.array([], dtype=np.int64), 5)
    assert empty.size == 0
    only_self = vk.topk_by_score_then_id(np.array([1.0]), np.array([7]), 3, exclude=7)
    assert only_self.size == 0


def test_self_exclusion_keeps_positions_into_full_arrays():
    scores = np.array([1.0, 0.4, 0.8, 0.8])
    ids = np.array([5, 6, 8, 7])
    top = vk.topk_by_score_then_id(scores, ids, 2, exclude=5)
    assert top.tolist() == [3, 2]
    assert 5 not in ids[vk.topk_by_score_then_id(scores, ids, 4, exclude=5)]


def test_nan_scores_rank_last():
    scores = np.array([np.nan, 0.1, 0.3])
    assert vk.topk_by_score_then_id(scores, np.array([0, 1, 2]), 3).tolist() == [2, 1, 0]


def test_adc_scores_bit_equal_per_m_accumulation():
    q, books, codes = _books_codes()
    lut = vk.adc_lut(q, books)
    want = np.zeros((len(q), len(codes)))
    for m in range(codes.shape[1]):
        want += lut[:, m, codes[:, m]]
    got = vk.adc_scores(lut, codes)
    assert got.tobytes() == want.tobytes()
    # one query's (M, K) table gives that query's row, bit for bit
    assert vk.adc_scores(lut[2], codes).tobytes() == want[2].tobytes()
    # the LUT is the per-subspace inner product with each codeword
    m, c = 3, int(codes[0, 3])
    assert np.isclose(lut[0, m, c], q[0, m * 8 : (m + 1) * 8] @ books[m, c])


def test_chunked_flat_adc_equals_unchunked():
    """The flat scorer's chunked merge: per-chunk top-(k+1), then the
    (-score, id) top-k of the union, equals one top-k over the whole
    index for every chunk size (self rows excluded at the merge)."""
    q, books, codes = _books_codes(n=257)
    codes[100:140] = codes[0]  # a large tie group straddling chunks
    ids = np.arange(len(codes), dtype=np.int64)
    qids = np.array([0, 5, 120, 300, 256])
    lut = vk.adc_lut(q, books)
    k = 5

    def flat(chunk):
        out = []
        pos, sc = [], []
        for lo in range(0, len(ids), chunk):
            s = vk.adc_scores(lut, codes[lo : lo + chunk])
            top = vk.topk_by_score_then_id(s, ids[lo : lo + chunk], k + 1)
            pos.append(top + lo)
            sc.append(np.take_along_axis(s, top, axis=1))
        pos, sc = np.concatenate(pos, axis=1), np.concatenate(sc, axis=1)
        for b in range(len(q)):
            top = vk.topk_by_score_then_id(sc[b], ids[pos[b]], k, exclude=qids[b])
            out.append([(int(ids[pos[b][t]]), sc[b][t]) for t in top])
        return out

    whole = flat(len(ids))
    for chunk in (1, 5, 6, 97):
        assert flat(chunk) == whole
    assert all(len(row) == k for row in whole)
    assert all(n != qid for row, qid in zip(whole, qids) for n, _ in row)


def test_ivf_adc_topk_equals_brute_force_and_shards():
    """The per-query IVF-ADC loop: each query's top k over its probed
    lists (minus itself, within its label) equals a brute-force scan of
    those candidates, for every LUT block size; and splitting the lists
    across two shards, each with the lists it holds, then keeping the
    top k of the union loses nothing."""
    q, books, codes = _books_codes(n=200)
    rng = np.random.RandomState(11)
    ids = np.sort(rng.choice(10_000, len(codes), replace=False))
    lists = rng.randint(0, 6, len(codes))
    labs = rng.randint(0, 2, len(codes))
    coarse = vk.normalize(rng.randn(6, q.shape[1]))
    qids = np.array([ids[3], 10_001, ids[50], 10_002, 10_003])
    qlabs = np.array([0, 1, 1, 0, 1])
    probes = vk.ivf_probes(q, coarse, 2)
    members = {li: np.flatnonzero(lists == li) for li in range(6)}
    lut = vk.adc_lut(q, books)
    k = 7
    for qlab, lab in ((None, None), (qlabs, labs)):
        want = []
        for b in range(len(q)):
            ok = np.isin(lists, probes[b]) & (ids != qids[b])
            if lab is not None:
                ok &= lab == qlab[b]
            s = vk.adc_scores(lut[b], codes[ok])
            top = np.lexsort((ids[ok], -s))[:k]
            want += [(int(qids[b]), int(ids[ok][t]), s[t]) for t in top]
        for block in (1, 2, 1024):
            got = vk.ivf_adc_topk(
                q, qids, probes, books, members, ids, codes, k, qlab, lab, block
            )
            assert list(zip(*(a.tolist() for a in got))) == want
        shards = []
        for held in ({0, 2, 4}, {1, 3, 5}):
            rows = np.flatnonzero(np.isin(lists, list(held)))
            sub = {li: np.flatnonzero(lists[rows] == li) for li in held}
            qid, nid, s = vk.ivf_adc_topk(
                q, qids, probes, books, sub, ids[rows], codes[rows], k,
                qlab, None if lab is None else lab[rows],
            )
            shards += list(zip(qid.tolist(), nid.tolist(), s.tolist()))
        merged = []
        for b in qids.tolist():
            mine = sorted((t for t in shards if t[0] == b), key=lambda t: (-t[2], t[1]))
            merged += mine[:k]
        assert merged == want
