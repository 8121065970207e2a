"""Pure-numpy vector scoring kernels shared by every exact and ANN scorer
in similarity.py (no pyspark import: the Spark wrappers ship these to
the Python workers inside their mapInPandas/applyInPandas closures).

- normalize               L2-normalize the rows of a matrix
- adc_lut                 per-query PQ lookup table, LUT[b, m, k]
- adc_scores              asymmetric-distance scores of PQ codes via the LUT
- topk_by_score_then_id   the engine's one (-score, id) top-k tie contract

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
