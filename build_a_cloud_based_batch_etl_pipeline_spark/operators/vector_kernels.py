"""Pure-numpy vector scoring kernels shared by every exact and ANN scorer
in similarity.py (no pyspark import: the Spark wrappers ship these to
the Python workers inside their mapInPandas/applyInPandas closures).

- normalize               L2-normalize the rows of a matrix
- adc_lut                 per-query PQ lookup table, LUT[b, m, k]
- adc_scores              asymmetric-distance scores of PQ codes via the LUT
- topk_by_score_then_id   the engine's one (-score, id) top-k tie contract
- ivf_probes              the nprobe nearest coarse lists of each query
- ivf_adc_topk            the per-query IVF-ADC top-k loop of every
                          IVF-PQ placement (flat, sharded, resident)

Parameters that tests vary (chunk sizes, code width) are arguments, never
module globals here: a worker imports this module fresh, so a global
patched on the driver would not reach it.
"""

from __future__ import annotations

import numpy as np


def normalize(mat):
    """Rows of `mat` divided by their L2 norms (a zero row becomes NaN)."""
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def adc_lut(q, books):
    """LUT[b, m, k] = <q_b restricted to subspace m, codeword k of m> for
    normalized queries q (b, M * SUB) and codebooks books (M, K, SUB)."""
    m, _, sub = books.shape
    return np.einsum("bms,mks->bmk", q.reshape(len(q), m, sub), books)


def adc_scores(lut, codes):
    """sum_m LUT[..., m, codes[n, m]] for every coded vector n.

    lut is (M, K) for one query -> (n,) scores, or (b, M, K) for a batch
    -> (b, n). The M lookups are added to 0.0 one subspace at a time in
    the order m = 0..M-1, so every score is bit-identical however the
    index is chunked or filtered (a .sum over the M axis may reorder the
    additions)."""
    out = np.zeros(lut.shape[:-2] + (len(codes),))
    for m in range(codes.shape[1]):
        out += lut[..., m, codes[:, m]]
    return out


def topk_by_score_then_id(scores, ids, k, exclude=None):
    """Positions of the k best candidates under the engine's single total
    order: score descending, ties to the smallest id, then to the earlier
    position. NaN scores rank last.

    scores is (n,) or (b, n), with ids (n,) aligned to its last axis; the
    result is (min(k, n),) or (b, min(k, n)) positions, best first. For a
    1-D candidate list, `exclude` drops the candidates carrying that id
    (the query itself in a corpus self-join) before selection; positions
    still index the full arrays.

    A full stable sort, never argpartition: argpartition keeps an
    arbitrary subset of the ties at the k boundary, and the chunked and
    sharded scorers rely on every partial top-k being a prefix of the
    same total order."""
    ids = np.asarray(ids)
    if exclude is not None:
        keep = np.flatnonzero(ids != exclude)
        return keep[topk_by_score_then_id(scores[keep], ids[keep], k)]
    if ids.size > 1 and not (ids[:-1] <= ids[1:]).all():
        perm = np.argsort(ids, kind="stable")
        return perm[topk_by_score_then_id(scores[..., perm], ids[perm], k)]
    return np.argsort(-scores, axis=-1, kind="stable")[..., :k]


def ivf_probes(q, coarse, nprobe):
    """(b, nprobe) coarse-list ids of each normalized query, nearest
    first: one batched argsort over the query-centroid similarities."""
    return np.argsort(-(q @ coarse.T), axis=1)[:, :nprobe]


def ivf_adc_topk(q, qids, probes, books, members, ids, codes, k,
                 qlabs=None, labs=None, block=1024):
    """Per-query IVF-ADC top-k: (qid, nid, score) arrays, best first per
    query, scores unrounded.

    members maps a list id to positions into ids/codes/labs; a probed
    list it lacks (another shard's) adds nothing. Query bi scores its
    probed lists' members minus its own id (and, with labels, only
    labs == qlabs[bi]) through one LUT per `block` queries, which
    bounds the block x M x K table, and keeps topk_by_score_then_id."""
    out_q, out_n, out_s = [], [], []
    for lo in range(0, len(q), block):
        lut = adc_lut(q[lo : lo + block], books)
        for bi in range(lo, min(lo + block, len(q))):
            hit = [members[p] for p in probes[bi] if p in members]
            if not hit:
                continue
            cand = np.concatenate(hit)
            keep = ids[cand] != qids[bi]
            if labs is not None:
                keep &= labs[cand] == qlabs[bi]
            cand = cand[keep]
            if not len(cand):
                continue
            s = adc_scores(lut[bi - lo], codes[cand])
            top = topk_by_score_then_id(s, ids[cand], k)
            out_q.append(np.full(len(top), qids[bi], dtype=np.int64))
            out_n.append(ids[cand[top]])
            out_s.append(s[top])
    if not out_q:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_s)
