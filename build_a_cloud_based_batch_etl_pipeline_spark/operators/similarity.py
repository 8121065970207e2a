"""Embedding similarity search (north-star extension; `embeddings` fixture,
array<float> x 64 dims).

- embed_norms             per-vector L1/L2 norms                   (oracled)
- embed_cosine_topk       exact brute-force top-k, guarded index   (oracled)
- embed_centroids         per-label centroid, long format          (oracled)
- dedup_embedding_cosine  exact near-dup pairs, block equi-join    (oracled)
- dedup_embedding_lsh     LSH-candidate near-dup pairs             (rows-only)
- embed_ann_lsh           random-hyperplane LSH approximate top-k  (rows-only)
- embed_ann_ivf           IVF centroid-bucketed approximate top-k  (rows-only)

Scale strategy: brute-force cosine is O(N^2 d) — it is the *baseline and
verifier*. Two sub-quadratic paths ship, sharing the same candidate-join
shape: LSH (hyperplane sign-bits bucket each vector; pairs share a
bucket, so the join is an equi-join whose fan-out tracks bucket occupancy,
tunable via bits/tables) and IVF (bucket = nearest centroid from a small
codebook, probe-n on the query side). Vector math is built-in
zip_with/aggregate folds in whole-stage codegen, or Arrow-batched BLAS in
the brute-force scorer — no per-row Python anywhere. Every exact and ANN
scorer is a thin Spark wrapper over the pure-numpy kernels in
vector_kernels.py (normalize, ADC lookup tables and scores, and the one
(-score, id) top-k tie contract). Recall properties:
tests/test_similarity.py.
"""

from __future__ import annotations

from collections import namedtuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import table_fingerprint
from ..queries import query
from ..sources import table_path
from .util import (
    attach_sub,
    cap_bucket_occupancy,
    fixture_version,
    hint_label_map,
    memo,
    over_cap_sizes,
    rbin,
    spread_small_input,
    t,
)
from . import vector_kernels as vk

_DIM = 64

# Hard cap on the brute-force index side that embed_cosine_topk may
# collect-and-broadcast: 100k x 64 float64 ~= 51 MiB. Above this the
# operator refuses and points at the ANN paths.
_MAX_INDEX_ROWS = 100_000


def _decode_hex_codes(hex_codes):
    """(n, _PQ_M) uint8 array from a sequence of fixed-width hex code
    strings via ONE bulk fromhex — the per-row bytes.fromhex loop this
    replaces was pure Python overhead on the index-load path (guide
    §4.2). The reshape pins the EXPECTED width: with
    mixed-width rows (corrupt or mixed-version artifact) a reshape to
    (n, -1) could still divide cleanly and silently misalign every
    subsequent row's codes, where this raises."""
    import numpy as np

    if not len(hex_codes):
        return np.empty((0, _PQ_M), dtype=np.uint8)
    buf = np.frombuffer(bytes.fromhex("".join(hex_codes)), dtype=np.uint8)
    if buf.size != len(hex_codes) * _PQ_M:
        raise ValueError(
            f"PQ code width drift: {len(hex_codes)} rows decode to "
            f"{buf.size} bytes, expected {len(hex_codes) * _PQ_M} "
            f"({_PQ_M} bytes/code) — mixed-width or corrupt codes table"
        )
    return buf.reshape(len(hex_codes), _PQ_M)


def _index_layout(ids, hex_codes, lists):
    """(ids, decoded codes, list ids) ordered by vec_id: the one
    driver-side IVF-PQ index layout, shared by the flat loaders and the
    resident serving placement."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    codes = _decode_hex_codes([hex_codes[i] for i in order])
    return ids[order], codes, np.asarray(lists, dtype=np.int64)[order]


def _parquet_num_rows(path: str, spark: SparkSession | None = None) -> int | None:
    """Total row count from parquet footer metadata (file or directory
    tree of part files) — driver-side and O(files), no Spark job. None
    when the path yields no readable parquet file (caller falls back to
    a bounded limit-collect). The directory walk is RECURSIVE: a
    partitioned table nests part files under key=value subdirectories,
    and a top-level-only listing would return an empty file list whose
    sum() of 0 sails under the index cap and defeats the fail-fast
    guard.

    Local paths use the pyarrow fast path; a non-local path (object
    store / `file:` URI) falls back to the Hadoop FileSystem walk +
    the bundled parquet-hadoop footer reader when `spark` is given, so
    an object-store table keeps the fail-fast cap instead of degrading
    to the bounded limit-collect."""
    import os

    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _dirs, names in os.walk(path)
                for f in names
                if f.endswith(".parquet")
            ]
            if not files:
                return None
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if os.path.isfile(path) and path.endswith(".parquet"):
            return pq.ParquetFile(path).metadata.num_rows
        if spark is not None:
            from ..fsio import Fs, child

            fs = Fs(spark, path)
            if fs.exists(path):
                if fs.is_file(path):
                    names = [path] if path.endswith(".parquet") else []
                else:
                    names = [
                        child(path, rel)
                        for rel, _sz, _mt in fs.walk_files(path)
                        if rel.endswith(".parquet")
                    ]
                if names:
                    return sum(fs.parquet_row_count(n) for n in names)
        return None
    except Exception:
        return None


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays (left-to-right
    fold, matching the oracle's per-index sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def blas_pair_scores(
    pairs: DataFrame,
    keep: list[str],
    a_col: str = "ea",
    b_col: str = "eb",
    out_col: str = "cosine",
    decimals: int | None = 4,
) -> DataFrame:
    """Arrow-batched row-wise cosine over a candidate-pair DataFrame:
    keeps `keep` columns and appends `out_col`.

    Spark's higher-order-function folds (zip_with/aggregate) run
    INTERPRETED per element, not in whole-stage codegen — scoring 2M
    64-dim candidate pairs through the fold formulation measured 22 s at
    sf0.1 vs ~1 s through this scorer (einsum dot + vectorized norms per
    Arrow batch). Norms are recomputed per pair here; that is 3 cheap
    vectorized 64-wide ops per row, still ~20x faster than one
    interpreted fold, and it removes the JVM-side norm-attach column
    (itself an interpreted fold per vector).

    decimals=None skips rounding (for internal orderings like IVF
    centroid assignment); the default 4dp matches cosine()/the oracles.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (arrow batches arrive as pandas)
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [pairs.schema[c] for c in keep]
        + [T.StructField(out_col, T.DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf[a_col]), dtype=np.float64)
            Bm = np.array(list(pdf[b_col]), dtype=np.float64)
            num = np.einsum("ij,ij->i", A, Bm)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(Bm, axis=1)
            out = pdf[keep].copy()
            cos = num / den
            out[out_col] = np.round(cos, decimals) if decimals is not None else cos
            yield out

    return pairs.mapInPandas(score, out_schema)


@query(
    "embed_norms",
    oracle="""
    SELECT vec_id, label,
           len(embedding) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
           round(list_sum(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 4)                 AS l1
    FROM embeddings
    """,
)
def embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norms (L1/L2) as codegen'd array folds."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 4).alias("l2"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))
            ),
            4,
        ).alias("l1"),
    )


@query(
    "embed_cosine_topk",
    oracle="""
    WITH u AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid, nid,
               round(dp / (x.nrm * y.nrm), 4) AS cosine
        FROM dots
        JOIN norms x ON qid = x.vec_id
        JOIN norms y ON nid = y.vec_id
    )
    SELECT qid, nid, cosine FROM (
        SELECT qid, nid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 neighbors per vector.

    Rank orders by the *rounded* cosine with vec_id tie-break so the
    ordering is bit-deterministic across engines. This is the ANN ground
    truth; embed_ann_lsh is the sub-quadratic path.
    """
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ids, mat_n = _collect_bounded_index(
        spark, sf_dir, emb, "embed_cosine_topk",
        "Use the sub-quadratic ANN operators embed_ann_lsh / embed_ann_ivf "
        "for unbounded corpora.",
    )
    return _exact_cosine_stream(spark, emb, ids, mat_n, len(ids), k=5)


def _collect_bounded_index(
    spark: SparkSession, sf_dir: str, df: DataFrame, who: str, alternative: str
):
    """(ids, L2-normalized float64 matrix) of the (vec_id, embedding) rows
    of `df`, the bounded index side every exact scorer broadcasts.

    Brute force is O(|Q| x |X| x d), so the index side must be the
    bounded one: the row cap is checked against the embeddings table's
    parquet FOOTERS driver-side (no Spark job), and an over-cap corpus
    fails fast, naming `who` and the scale path `alternative`, instead
    of collecting to the driver. Unreadable footers (non-parquet source)
    degrade to a bounded limit-collect."""
    import numpy as np

    n_rows = _parquet_num_rows(table_path(sf_dir, "embeddings"), spark)
    if n_rows is not None and n_rows <= _MAX_INDEX_ROWS:
        rows = df.collect()
    else:
        rows = df.limit(_MAX_INDEX_ROWS + 1).collect()
    if len(rows) > _MAX_INDEX_ROWS:
        raise ValueError(
            f"{who} is the exact bounded-index baseline: index side exceeds "
            f"the {_MAX_INDEX_ROWS}-row cap "
            f"(~{_MAX_INDEX_ROWS * _DIM * 8 // 2**20} MiB broadcast). "
            f"{alternative}"
        )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, vk.normalize(mat)


_COSINE_SCHEMA = "qid long, nid long, cosine double"


def _exact_cosine_stream(
    spark: SparkSession,
    q: DataFrame,
    ids,
    mat_n,
    n_queries: int | None,
    k: int | None = None,
    tau: float | None = None,
) -> DataFrame:
    """Exact rounded-cosine neighbors of every (vec_id, embedding) row of
    `q` against the broadcast bounded index (ids, mat_n): its top-k under
    (-cosine, nid), or, with `tau`, every pair at cosine >= tau. Self
    pairs (nid == qid) never match.

    Each Arrow batch of queries is scored with ONE BLAS matmul against
    the broadcast matrix, then rounded to 4dp before selection, so ties
    break on the rounded value exactly as the oracles do. A one-split
    query input is spread over at most ceil(n_queries / 256) tasks
    (util.spread_small_input); per-query results never depend on the
    partitioning."""
    import numpy as np
    import pandas as pd

    # one broadcast, not two: each is a driver->executor round trip
    b_index = spark.sparkContext.broadcast((ids, mat_n))

    def score(batches):
        nids, nmat = b_index.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = np.round(vk.normalize(q) @ nmat.T, 4)
            qids = pdf["vec_id"].to_numpy(dtype=np.int64)
            if tau is not None:
                rows, pos = np.nonzero(
                    (sims >= tau) & (nids[None, :] != qids[:, None])
                )
            else:
                picks = [
                    vk.topk_by_score_then_id(sims[i], nids, k, exclude=qid)
                    for i, qid in enumerate(qids)
                ]
                rows = np.repeat(np.arange(len(qids)), [len(p) for p in picks])
                pos = np.concatenate(picks)
            yield pd.DataFrame(
                {"qid": qids[rows], "nid": nids[pos], "cosine": sims[rows, pos]}
            )

    return spread_small_input(q, "vec_id", n_rows=n_queries).mapInPandas(
        score, _COSINE_SCHEMA
    )


@query(
    "embed_centroids",
    oracle="""
    WITH u AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim_pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT label, dim_pos, round(avg(v), 6) AS centroid_val
    FROM u GROUP BY label, dim_pos
    """,
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long format (label, dim, value): posexplode ->
    group avg. Long format keeps the oracle comparable and the shuffle
    payload scalar."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim_pos"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH u AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dp / (x.nrm * y.nrm), 4) AS cosine
    FROM dots
    JOIN norms x ON id_a = x.vec_id
    JOIN norms y ON id_b = y.vec_id
    WHERE round(dp / (x.nrm * y.nrm), 4) >= 0.42
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.42, unordered
    id_a < id_b) — the semantic-dedup member of the dedup family
    (exact/minhash/simhash/ngram-jaccard cover the lexical side).

    EXACT all-unordered-pairs comparison expressed as a *triangle block
    equi-join* instead of a `id_a < id_b` theta join: vectors land in
    B = 8 blocks by vec_id; the lo-role side replicates each vector to
    the (blk, j >= blk) pair-keys, the hi-role side to (i <= blk, blk);
    joining on the single int pair-key yields every unordered pair
    exactly once (same-block pairs de-duped by id order). The plan is a
    plain shuffled equi-join over B(B+1)/2 = 36 evenly-sized keys — no
    cartesian/BNLJ, ~(B+1)/2 = 4.5x replication through one shuffle,
    bounded per-task compare count, parallelism tunable via B. The
    comparison count is still inherently O(N^2) (an exact low-threshold
    similarity join cannot prune without false negatives); at corpus
    scale with a *near-dup* threshold the sub-quadratic operator is
    dedup_embedding_lsh below, which bucket-generates candidates and
    exact-rescores only those.

    The filter sits on the *rounded* cosine so both engines make
    identical boundary decisions.

    Scoring runs as a cogrouped Arrow/BLAS matmul per pair-key — the
    block structure hands each task two dense sub-matrices, so the
    n_a x n_b score block is ONE numpy matmul instead of 64-element
    zip_with/aggregate folds per pair (higher-order-function folds are
    interpreted, not codegen'd: the fold formulation measured 22 s vs
    ~1 s for 2M pairs at sf0.1). Only pairs at/above the threshold
    leave the task, so the shuffle-out is the match set, not the N^2
    score matrix.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    B = 8
    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("blk", F.pmod("vec_id", F.lit(B)).cast("int"))
    )
    lo = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("blk").alias("blk_a"),
        F.explode(
            F.transform(
                F.sequence(F.col("blk"), F.lit(B - 1)),
                lambda j: F.col("blk") * B + j,
            )
        ).alias("pk"),
    )
    hi = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("blk").alias("blk_b"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("blk")),
                lambda i: i * B + F.col("blk"),
            )
        ).alias("pk"),
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_block(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if not len(lpdf) or not len(rpdf):
            return empty
        A = np.array(list(lpdf["ea"]), dtype=np.float64)
        Bm = np.array(list(rpdf["eb"]), dtype=np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = Bm / np.linalg.norm(Bm, axis=1, keepdims=True)
        sims = np.round(An @ Bn.T, 4)
        ida = lpdf["ida"].to_numpy()
        idb = rpdf["idb"].to_numpy()
        # per pair-key blk_a <= blk_b by construction; same-block keys
        # dedup unordered pairs by id order
        mask = sims >= 0.42
        if lpdf["blk_a"].iat[0] == rpdf["blk_b"].iat[0]:
            mask &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        a, b = ida[ii], idb[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cosine": sims[ii, jj],
            }
        )

    return (
        lo.groupBy("pk")
        .cogroup(hi.groupBy("pk"))
        .applyInPandas(score_block, out_schema)
    )


# Deterministic pseudo-random hyperplanes for LSH (seeded, engine-side
# literals — no RNG at runtime, resumable and cross-run stable).
#
# Default bits/tables are tuned to the similarity regime being searched:
# few bits + many tables (coarse buckets, high union-recall) suit
# moderate-cosine top-k like the fixture corpus (max pairwise cosine
# ~0.5); many bits + few tables (e.g. 12x2) suit true near-duplicate
# regimes (cosine >= 0.8), where collisions stay rare for unrelated docs
# and candidate volume tracks the real duplicate density. Parameter
# sweep that produced these defaults: recall 0.64 @ (4, 8) vs 0.003 @
# (12, 2) on the fixture's exact top-5.
_LSH_BITS = 4
_LSH_TABLES = 8
# Per-(table, bucket) occupancy bound for candidate generation: members of
# an over-full bucket are re-split on a secondary id hash so the compare
# count per bucket is ~occ*cap, not occ^2. 10k members * 10k compares *
# 8 tables ~= 1e9 scored pairs per degenerate cluster — bounded and
# spreadable across executors, where occ^2 on a 1M-member cluster would be
# 1e12 in ONE key.
_LSH_BUCKET_CAP = 10_000


def _plane(table: int, bit: int) -> list[float]:
    # Splitmix-style integer scramble -> [-1, 1) floats, fixed seed.
    vals = []
    x = (table * 1013904223 + bit * 1664525 + 12345) & 0xFFFFFFFFFFFFFFFF
    for _ in range(_DIM):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        vals.append(((x >> 11) / float(1 << 53)) * 2.0 - 1.0)
    return vals


def _lsh_keyed(emb: DataFrame, bits: int, tables: int) -> DataFrame:
    """(vec_id, tbl, bkt): each vector id exploded to its `bits`-bit
    hyperplane sign-bucket in each of `tables` tables. Ids only — the
    candidate join dedupes on id pairs first and attaches vectors+norms
    afterwards (see lsh_candidate_pairs).

    All tables' sign bits come from ONE Arrow-batched matmul against the
    stacked (dim x tables*bits) plane matrix — the per-bit JVM
    formulation was tables*bits interpreted 64-element dot folds per
    vector (higher-order folds don't enter codegen; measured ~4x wall
    on the sf0.1 ANN queries). The plane matrix is a ~1 KiB
    deterministic constant baked into the task closure, not a join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(
        [_plane(tb, j) for tb in range(tables) for j in range(bits)],
        dtype=np.float64,
    ).T  # (dim, tables*bits)
    weights = np.tile(np.array([1 << j for j in range(bits)]), tables)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("bkt", T.IntegerType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            signs = (V @ planes) > 0  # (n, tables*bits), table-major
            n = len(pdf)
            bkts = (
                (signs * weights).reshape(n, tables, bits).sum(axis=2).astype(np.int32)
            )
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), tables),
                    "tbl": np.tile(np.arange(tables, dtype=np.int32), n),
                    "bkt": bkts.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(assign, out_schema)


def lsh_candidate_pairs(
    emb: DataFrame,
    bits: int,
    tables: int,
    directed: bool = True,
    occupancy_cap: int = _LSH_BUCKET_CAP,
    cache_key: tuple | None = None,
) -> DataFrame:
    """LSH candidate generation shared by ANN search and semantic dedup:
    pairs sharing a (table, bucket), deduped across tables. Directed
    (qid, nid) both ways for top-k search; undirected qid < nid for
    pair dedup. An equi-join on the bucket key — fan-out tracks bucket
    occupancy, never N^2, and occupancy itself is bounded: buckets above
    `occupancy_cap` members are re-split on a secondary id hash
    (cap_bucket_occupancy) so a degenerate corpus — thousands of
    near-identical vectors sharing one bucket — costs ~occ*cap compares
    instead of occ^2.

    Cross-table dedup happens on the (qid, nid) id pairs BEFORE the
    vectors are attached: a distinct over rows carrying the embedding
    arrays would shuffle 64-float payloads as grouping keys; id-only
    distinct shuffles two longs per candidate, then two narrow joins
    attach each vector exactly once per pair (norms are computed in the
    vectorized scorer — blas_pair_scores — not as JVM fold columns)."""
    # Cached: the cap's bucket-sizes subtree and both self-join sides read
    # the keyed table; the cache avoids recomputing the hyperplane dot
    # products. Rows are (vec_id, tbl, bkt) — three ints per table entry.
    # Registry queries pass cache_key = (memo key, version) so repeat
    # invocations (bench runs 3x; the keyed table depends only on
    # emb/bits/tables) reuse ONE cache entry until the table changes;
    # ad-hoc callers (tests, planted frames) cache per-call.
    if cache_key is not None:
        keyed_cached = memo(
            emb.sparkSession,
            (*cache_key[0], bits, tables),
            cache_key[1],
            lambda: _lsh_keyed(emb, bits, tables).cache(),
        )
    else:
        keyed_cached = _lsh_keyed(emb, bits, tables).cache()
    keyed = cap_bucket_occupancy(keyed_cached, ["tbl", "bkt"], "vec_id", occupancy_cap)
    cond = (
        F.col("a.vec_id") != F.col("b.vec_id")
        if directed
        else F.col("a.vec_id") < F.col("b.vec_id")
    )
    ids = (
        keyed.alias("a")
        .join(keyed.alias("b"), ["tbl", "bkt", "sub"])
        .filter(cond)
        .select(
            F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid")
        )
        .distinct()
    )
    qside = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("ea")
    )
    nside = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("eb")
    )
    return ids.join(qside, "qid").join(nside, "nid")


def ann_lsh_topk(
    emb: DataFrame,
    bits: int = _LSH_BITS,
    tables: int = _LSH_TABLES,
    k: int = 5,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Core LSH ANN: (vec_id, embedding) -> top-k (qid, nid, cosine).

    Each vector gets a `bits`-bit sign signature per table; candidates
    share a (table, bucket); exact cosine re-scores candidates only.
    Bucket fan-out replaces the N^2 cross join of embed_cosine_topk.
    """
    from pyspark.sql import Window as W

    cand = lsh_candidate_pairs(emb, bits, tables, directed=True, cache_key=cache_key)
    scored = blas_pair_scores(cand, ["qid", "nid"])
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cosine")
    )


@query("embed_ann_lsh")
def embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH (rows-only;
    recall + score-fidelity vs the exact baseline asserted in
    tests/test_similarity.py, including a planted-near-duplicate check
    with near-dup-regime parameters)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    version = fixture_version(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, cache_key=(("lsh_keyed", sf_dir), version))


# Multiprobe defaults: more bits (finer buckets => lower per-bucket
# occupancy) with FEWER tables, recovering the lost collisions by probing
# each query's Hamming-1 neighbor buckets instead of adding tables. Probe
# rows are (qid, tbl, bkt) ints — the fan-out costs bits+1 id-rows per
# table entry, while each extra TABLE costs a full extra signature matmul
# AND an extra keyed-row per vector. Parameter sweep on the fixture's
# exact top-5 (same harness as the 4x8 default's): recall 0.699 @ (5, 3,
# Hamming-1) vs 0.688 @ (4, 8, exact-match) with 3/8 the keyed rows and
# 15/32 the plane-matmul columns.
_MP_BITS = 5
_MP_TABLES = 3
_MP_NPROBE = 6  # probed buckets per (query, table): own + nprobe-1 flips


def _lsh_keyed_mp(
    emb: DataFrame, bits: int, tables: int, nprobe: int
) -> DataFrame:
    """(vec_id, tbl, bkt, probes): _lsh_keyed plus, per (vector, table),
    the XOR masks of the `nprobe` most-likely probe buckets in
    Lv-et-al. margin order — mask 0 (the own bucket) first, then the
    single-plane flips ordered by |projection margin| ascending (the
    planes the vector sat closest to, i.e. the votes most likely
    wrong). Computed inside the same Arrow matmul batch that signs the
    buckets; the masks are `nprobe` small ints per keyed row, so the
    probe budget is explicit data, not a bits-dependent expansion."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(
        [_plane(tb, j) for tb in range(tables) for j in range(bits)],
        dtype=np.float64,
    ).T  # (dim, tables*bits)
    weights = np.tile(np.array([1 << j for j in range(bits)]), tables)
    n_flip = min(nprobe - 1, bits)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("bkt", T.IntegerType()),
            T.StructField("probes", T.ArrayType(T.IntegerType())),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            proj = V @ planes  # (n, tables*bits), table-major
            signs = proj > 0
            n = len(pdf)
            bkts = (
                (signs * weights).reshape(n, tables, bits).sum(axis=2).astype(np.int32)
            )
            # margin order per (vector, table): planes with the smallest
            # |projection| are the likeliest wrong votes -> probe those
            margins = np.abs(proj).reshape(n, tables, bits)
            order = np.argsort(margins, axis=2)[:, :, :n_flip]
            masks = (1 << order).astype(np.int32)  # (n, tables, n_flip)
            zero = np.zeros((n, tables, 1), dtype=np.int32)
            probe_masks = np.concatenate([zero, masks], axis=2).reshape(
                n * tables, n_flip + 1
            )
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), tables),
                    "tbl": np.tile(np.arange(tables, dtype=np.int32), n),
                    "bkt": bkts.reshape(-1),
                    "probes": list(probe_masks),
                }
            )

    return emb.mapInPandas(assign, out_schema)


def lsh_multiprobe_candidates(
    emb: DataFrame,
    bits: int,
    tables: int,
    occupancy_cap: int = _LSH_BUCKET_CAP,
    nprobe: int = _MP_NPROBE,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Multiprobe LSH candidates (Lv et al. 2007): each query probes its
    own sign-bucket plus the `nprobe - 1` Hamming-1 buckets whose
    planes it sat CLOSEST to (smallest |projection margin| — the votes
    most likely wrong), so near-misses still meet without another
    table. The probe fan-out is id-only rows — (qid, tbl, bkt) ints,
    exploded scan-side, never vectors — and the join stays a bucket
    equi-join: fan-out tracks occupancy x probes, never N^2.

    The probe budget is FIXED at nprobe, not all `bits` flips: under
    the bits ~ log2 N occupancy rule an all-flips probe multiplies
    candidate volume by (1 + bits) ~ log N — the r8 sweep measured that
    as e = 1.35 vs 1.11 for the exact-match path. Margin-ordered
    fixed-budget probing is the paper's actual scheme and keeps
    candidates/query at nprobe x occupancy x tables — constant under
    the occupancy rule, so total work is linear. At the tuned defaults
    (bits = 5, nprobe = 6) the probe set equals all-flips exactly, so
    fixture recall is unchanged.

    Occupancy safety is ASYMMETRIC here: `sub` must split a degenerate
    bucket identically for probe rows and index rows, so both sides
    attach it from the INDEX side's over-cap table (over_cap_sizes /
    attach_sub — a probe-side count would partition the same bucket
    differently and matching pairs would never meet). Each probe then
    compares against ~cap members of an over-full bucket, the same
    occ*cap bound as the symmetric path.

    100 TB shape vs the exact-match path: same keyed/matmul machinery,
    but tables (the expensive axis: one (dim x bits) matmul slab + one
    keyed row per vector each) trade for probes (the cheap axis:
    nprobe - 1 extra int rows per table entry)."""
    if cache_key is not None:
        keyed = memo(
            emb.sparkSession,
            (*cache_key[0], "mp", bits, tables, nprobe),
            cache_key[1],
            lambda: _lsh_keyed_mp(emb, bits, tables, nprobe).cache(),
        )
    else:
        keyed = _lsh_keyed_mp(emb, bits, tables, nprobe).cache()
    plain = keyed.select("vec_id", "tbl", "bkt")
    sizes = over_cap_sizes(plain, ["tbl", "bkt"], occupancy_cap)
    index = attach_sub(plain, sizes, ["tbl", "bkt"], "vec_id").select(
        F.col("vec_id").alias("nid"), "tbl", "bkt", "sub"
    )
    probes = attach_sub(
        keyed.select(
            F.col("vec_id").alias("qid"),
            "tbl",
            F.explode(
                F.transform(
                    "probes", lambda mask: F.col("bkt").bitwiseXOR(mask)
                )
            ).alias("bkt"),
        ),
        sizes,
        ["tbl", "bkt"],
        "qid",
    )
    ids = (
        probes.join(index, ["tbl", "bkt", "sub"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    qside = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("ea"))
    nside = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("eb"))
    return ids.join(qside, "qid").join(nside, "nid")


def ann_lsh_topk_multiprobe(
    emb: DataFrame,
    bits: int = _MP_BITS,
    tables: int = _MP_TABLES,
    k: int = 5,
    nprobe: int = _MP_NPROBE,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Multiprobe LSH ANN: (vec_id, embedding) -> top-k (qid, nid,
    cosine). Same exact-rescore contract as ann_lsh_topk — candidates
    can be missed, scores are never approximate."""
    from pyspark.sql import Window as W

    cand = lsh_multiprobe_candidates(
        emb, bits, tables, nprobe=nprobe, cache_key=cache_key
    )
    scored = blas_pair_scores(cand, ["qid", "nid"])
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cosine")
    )


@query("embed_ann_lsh_multiprobe")
def embed_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via multiprobe hyperplane LSH
    (rows-only; recall + subset-of-exact-scores pinned vs the exact
    baseline in tests/test_similarity.py). The scale-path variant of
    embed_ann_lsh: same recall regime with fewer tables — less keyed
    shuffle volume and signature compute — by probing Hamming-1
    neighbor buckets on the query side (see lsh_multiprobe_candidates
    for the cost model; SCALE.md records the measured growth exponent
    next to the exact-match bits-rule row)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    version = fixture_version(spark, sf_dir, "embeddings")
    return ann_lsh_topk_multiprobe(emb, cache_key=(("lsh_mp", sf_dir), version))


@query("dedup_embedding_lsh")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic semantic dedup: LSH bucket candidates + exact cosine
    rescore at the same 0.42 threshold as dedup_embedding_cosine
    (rows-only; tests assert the output is a SUBSET of the exact pairs —
    the rescore step means zero false positives — and pin the
    deterministic fixture recall).

    This is the 100 TB path for the semantic-dedup family: candidate
    volume tracks bucket occupancy (equi-join on (table, bucket)), never
    N^2, and recall is tuned via bits/tables for the target similarity
    regime — true near-duplicates (cosine >= ~0.9) collide with far
    fewer tables than this fixture's moderate-cosine (<= ~0.51) pairs.
    """
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    version = fixture_version(spark, sf_dir, "embeddings")
    cand = lsh_candidate_pairs(
        emb, _LSH_BITS, _LSH_TABLES, directed=False,
        cache_key=(("lsh_keyed", sf_dir), version),
    )
    scored = blas_pair_scores(cand, ["qid", "nid"]).select(
        F.col("qid").alias("id_a"), F.col("nid").alias("id_b"), "cosine"
    )
    return scored.filter(F.col("cosine") >= 0.42)


_IVF_NPROBE = 3


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic codebook: per-label mean vector as (cl, centroid),
    built distributedly (posexplode -> per-dim avg -> re-assemble array
    ordered by dim). The fixture's labels stand in for an offline
    k-means codebook; in production the codebook is a small trained
    table of the same shape (the persisted ivf_centroids artifact).
    Shared by embed_ann_ivf (coarse quantizer) and
    sample_diversity_quota (coverage sampling strata)."""
    return (
        t(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("centroid")
        )
        .select(F.col("label").alias("cl"), "centroid")
    )


@query("embed_ann_ivf")
def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via IVF (inverted-file) bucketing —
    the centroid-based alternative to hyperplane LSH (rows-only; recall
    vs the exact baseline asserted in tests/test_similarity.py).

    Coarse quantizer: the per-label centroids (the fixture's labels stand
    in for an offline k-means codebook; in production the codebook is a
    small trained table, same shape). Index vectors are assigned to their
    nearest centroid; queries probe the NPROBE nearest centroids; exact
    cosine re-scores only in-bucket pairs. Every step is a DataFrame op:
    the codebook is a broadcast crossJoin (nlist rows), assignment is a
    windowed argmin, and the candidate join is an equi-join on the
    centroid id — O(N * nlist) assignment + bucketed pairs, never N^2.
    """
    from pyspark.sql import Window as W

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = label_centroids(spark, sf_dir)

    # Assignment scores go through the vectorized scorer (raw, unrounded —
    # it is an internal ordering, and rounding could flip a near-tie
    # assignment); the N x nlist fan-out stays a broadcast crossJoin of
    # the tiny codebook, and the argmin window ranks an ID-ONLY frame —
    # carrying the 64-float embedding through the per-vector window
    # shuffle was half the query's bytes for no information.
    import numpy as np
    import pandas as pd

    assigned = blas_pair_scores(
        emb.crossJoin(F.broadcast(cent)).select("vec_id", "embedding", "cl", "centroid"),
        ["vec_id", "cl"],
        a_col="embedding",
        b_col="centroid",
        out_col="csim",
        decimals=None,
    )
    w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cl")
    choice = memo(
        spark,
        ("ivf_choice", sf_dir, _IVF_NPROBE),
        fixture_version(spark, sf_dir, "embeddings"),
        lambda: assigned.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= _IVF_NPROBE)
        .select("vec_id", F.col("cl").alias("bucket"), "crn")
        .cache(),
    )
    # b_ix alias: both cogroup sides descend from `choice`, and Spark's
    # ambiguous-self-join check needs the two key lineages told apart.
    ixv = (
        choice.filter(F.col("crn") == 1)
        .join(emb, "vec_id")
        .select(
            F.col("bucket").alias("b_ix"),
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("eb"),
        )
    )
    qv = choice.join(emb, "vec_id").select(
        "bucket", F.col("vec_id").alias("qid"), F.col("embedding").alias("ea")
    )

    # Per-bucket cogrouped matmul: each task gets one bucket's query and
    # index sub-matrices, scores them in ONE BLAS call, and emits only
    # each query's in-bucket top-5 — the shuffle moves N + NPROBE*N
    # vectors grouped by bucket, never the ~occ^2 scored-pair stream a
    # bucket equi-join would materialize. A pair (qid, nid) occurs in
    # exactly one bucket (nid indexes only under its argmin centroid), so
    # no cross-bucket dedup exists; the global top-5 is a window over the
    # <= NPROBE*5 in-bucket winners per query. In-bucket ordering uses
    # the SAME (rounded cosine desc, nid) key as the final window, so
    # the two-phase selection is exact.
    def bucket_topk(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "qid": pd.Series(dtype="int64"),
                "nid": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if not len(qpdf) or not len(ipdf):
            return empty
        Q = vk.normalize(np.array(list(qpdf["ea"]), dtype=np.float64))
        X = vk.normalize(np.array(list(ipdf["eb"]), dtype=np.float64))
        sims = np.round(Q @ X.T, 4)
        qid = qpdf["qid"].to_numpy()
        nid = ipdf["nid"].to_numpy()
        frames = []
        for r in range(len(qid)):
            top = vk.topk_by_score_then_id(sims[r], nid, 5, exclude=qid[r])
            keep = top[np.isfinite(sims[r][top])]
            frames.append(
                pd.DataFrame(
                    {"qid": qid[r], "nid": nid[keep], "cosine": sims[r][keep]}
                )
            )
        return pd.concat(frames) if frames else empty

    scored = (
        qv.groupBy("bucket")
        .cogroup(ixv.groupBy("b_ix"))
        .applyInPandas(bucket_topk, _COSINE_SCHEMA)
    )
    w2 = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", "cosine")
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH scaled AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) / 127.0
                   AS scale,
               embedding
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label, scale,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) / scale)
                                        AS BIGINT)) AS qv
        FROM scaled
    )
    SELECT vec_id, label, scale,
           CAST(len(qv) AS INT)                                   AS n_dims,
           CAST(list_sum(qv) AS BIGINT)                           AS q_sum,
           CAST(list_max(list_transform(qv, v -> abs(v))) AS BIGINT)
                                                                  AS q_absmax
    FROM q
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4x memory/bandwidth
    compression step before an ANN index is built or vectors are shipped
    to a trainer: scale = max|x| / 127, q_i = round(x_i / scale), so
    every component lands in [-127, 127] with the vector's own dynamic
    range preserved. Output is the compare-friendly summary per vector
    (scale, component sum, |q|max — q_absmax <= 127 IS the invariant);
    production keeps the int8 array column itself.

    Scale shape: pure projection, zero shuffles, linear scans. The scale
    factor is staged as its own column so the quantizing lambda reads a
    computed value instead of re-folding the 64-element abs-max once per
    component (CollapseProject would inline it)."""
    emb = t(spark, sf_dir, "embeddings")
    absmax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    scaled = emb.select(
        "vec_id", "label", "embedding", (absmax / F.lit(127.0)).alias("scale")
    )
    qv = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / F.col("scale")).cast("long"),
    )
    q = scaled.select("vec_id", "label", "scale", qv.alias("qv"))
    return q.select(
        "vec_id",
        "label",
        "scale",
        F.size("qv").cast("int").alias("n_dims"),
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.array_max(F.transform("qv", lambda v: F.abs(v))).alias("q_absmax"),
    )


@query(
    "embed_pool_reduce",
    oracle="""
    WITH p AS (
        SELECT vec_id,
               list_transform(
                   generate_series(0, 15),
                   g -> round(
                       (((CAST(embedding[4 * g + 1] AS DOUBLE)
                          + CAST(embedding[4 * g + 2] AS DOUBLE))
                          + CAST(embedding[4 * g + 3] AS DOUBLE))
                          + CAST(embedding[4 * g + 4] AS DOUBLE)) / 4.0,
                       6)
               ) AS pooled
        FROM embeddings
    )
    SELECT vec_id,
           generate_subscripts(pooled, 1) AS pool_pos,
           unnest(pooled)                 AS pooled_val
    FROM p
    """,
)
def embed_pool_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooling dimensionality reduction 64 -> 16 (each output dim
    averages a contiguous block of 4) — the cheap deterministic
    projection used to shrink vectors before a coarse ANN pass or
    byte-budgeted export; unlike a learned/random projection it needs no
    matrix state, so it stays a pure zero-shuffle projection.

    The addition runs in the same left-assoc order in both engines
    ((a+b)+c)+d, so the 6dp round is wobble-free. Long (vec_id,
    pool_pos, pooled_val) output keeps the oracle hash scalar; the
    explode multiplies rows 16x but never crosses a shuffle boundary."""
    emb = t(spark, sf_dir, "embeddings")
    pooled = emb.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 15), g -> round("
            " (((CAST(element_at(embedding, 4 * g + 1) AS DOUBLE)"
            "   + CAST(element_at(embedding, 4 * g + 2) AS DOUBLE))"
            "   + CAST(element_at(embedding, 4 * g + 3) AS DOUBLE))"
            "   + CAST(element_at(embedding, 4 * g + 4) AS DOUBLE)) / 4.0, 6))"
        ).alias("pooled"),
    )
    return pooled.select(
        "vec_id", F.posexplode("pooled").alias("pos", "pooled_val")
    ).select("vec_id", (F.col("pos") + 1).alias("pool_pos"), "pooled_val")


# Product quantization geometry: 64 dims -> 8 subspaces x 8 dims, 256
# codewords per subspace (8-bit codes, 8 bytes/vector — a 32x
# compression of the float32 vector; measured on the fixture:
# reconstruction cosine 0.945 mean / 0.852 min, ADC recall@5 0.61 vs
# exact, on par with the LSH/IVF variants). Codebooks are TRAINED
# driver-side on a bounded sample (the same bounded-index discipline as
# embed_cosine_topk); ENCODING is distributed.
_PQ_M = 8
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 256
_PQ_KMEANS_ITERS = 10
_PQ_TRAIN_ROWS = 4096
# ADC scores the index in columns of this many vectors so scratch memory
# is (arrow_batch x _ADC_CHUNK) doubles (~2.5 GB worst case at the 10k
# default batch), bounded independently of index size.
_ADC_CHUNK = 32_768


def _pq_assign(sub, cent):
    """Nearest-codeword ids for one subspace: |x-c|^2 via the matmul
    identity — O(N*K) memory, one BLAS call."""
    d2 = (
        (sub * sub).sum(axis=1)[:, None]
        - 2.0 * (sub @ cent.T)
        + (cent * cent).sum(axis=1)[None, :]
    )
    return d2.argmin(axis=1)


def _pq_train_codebooks(mat):
    """Deterministic per-subspace k-means (fixed init = first K distinct
    rows in input order, fixed iteration count, float64) -> codebook
    array of shape (M, K, SUB). No RNG state anywhere."""
    import numpy as np

    books = []
    for m in range(_PQ_M):
        sub = mat[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        cent = sub[: _PQ_K].copy()
        for _ in range(_PQ_KMEANS_ITERS):
            assign = _pq_assign(sub, cent)
            for k in range(_PQ_K):
                members = sub[assign == k]
                if len(members):
                    cent[k] = members.mean(axis=0)
        books.append(cent)
    return np.stack(books)


def _pq_fit(spark: SparkSession, sf_dir: str):
    """Broadcastable (codebooks, ids, codes) trained+encoded from the
    embeddings table, L2-normalized so ADC inner product approximates
    cosine. Bounded by the same footer guard as embed_cosine_topk.

    Memoized per (applicationId, sf_dir, PQ shape) via util.memo —
    codebooks are a trained artifact, deterministic given the corpus
    (fixed k-means init, no RNG), and the four PQ queries share them in
    a warm session instead of re-running driver k-means per
    invocation. The version is the embeddings table's fingerprint
    (file names + sizes + mtimes, fsio.table_fingerprint), so
    rewriting or regenerating the table within one application
    rebuilds the entry instead of silently serving stale codes."""
    return memo(
        spark,
        ("pq_fit", sf_dir, _PQ_M, _PQ_K, _PQ_TRAIN_ROWS),
        fixture_version(spark, sf_dir, "embeddings"),
        lambda: _pq_fit_build(spark, sf_dir),
    )


def _pq_fit_build(spark: SparkSession, sf_dir: str):
    import numpy as np

    n_index = _parquet_num_rows(table_path(sf_dir, "embeddings"), spark)
    if n_index is not None and n_index > _MAX_INDEX_ROWS:
        raise ValueError(
            f"embed_ann_pq's ADC index exceeds the {_MAX_INDEX_ROWS}-row "
            "broadcast cap; at that scale combine PQ codes with IVF "
            "bucketing (see SCALE.md) instead of a flat scan."
        )
    rows = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .limit(_MAX_INDEX_ROWS + 1)
        .collect()
    )
    if len(rows) > _MAX_INDEX_ROWS:
        raise ValueError("embed_ann_pq: unreadable footers and over-cap corpus")
    if not rows:
        raise ValueError(
            "PQ training needs a non-empty embeddings table "
            f"(nothing at {table_path(sf_dir, 'embeddings')})"
        )
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    books = _pq_train_codebooks(mat[:_PQ_TRAIN_ROWS])
    codes = np.empty((len(ids), _PQ_M), dtype=np.uint8)
    for m in range(_PQ_M):
        sub = mat[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        codes[:, m] = _pq_assign(sub, books[m]).astype(np.uint8)
    return (books, ids, codes, mat)


@query("embed_pq_codes")
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: every vector compressed to 8
    8-bit codewords, emitted as a 16-char hex string (one sortable
    scalar per row — array columns are kept to intermediate stages so
    downstream canonicalizers can sort/hash the result). Rows-only;
    reconstruction quality is pinned in tests/test_similarity.py:
    PQ-reconstructed cosine vs the true vector must stay high, and
    encoding must be deterministic.

    Scale shape: codebook training is a bounded driver-side step (same
    guard discipline as the exact-topk index); encoding is a pure
    mapInPandas projection over the distributed table — each executor
    holds only the broadcast (M x K x SUB) codebook, and the output is
    8 bytes of codes per vector: the representation that lets a
    100 TB-corpus ANN index live in RAM."""
    import numpy as np
    from pyspark.sql import types as T

    books, _, _, _ = _pq_fit(spark, sf_dir)
    b_books = spark.sparkContext.broadcast(books)
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.StringType()),
            T.StructField("recon_cos", T.DoubleType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        bk = b_books.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            codes = np.empty((len(mat), _PQ_M), dtype=np.int64)
            recon = np.empty_like(mat)
            for m in range(_PQ_M):
                sub = mat[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                codes[:, m] = _pq_assign(sub, bk[m])
                recon[:, m * _PQ_SUB : (m + 1) * _PQ_SUB] = bk[m][codes[:, m]]
            rn = recon / np.linalg.norm(recon, axis=1, keepdims=True)
            rcos = np.round(np.einsum("ij,ij->i", mat, rn), 4)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": ["".join("%02x" % c for c in row) for row in codes],
                    "recon_cos": rcos,
                }
            )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInPandas(encode, out_schema)


@query(
    "embed_pq_coverage",
    oracle="""
    SELECT vec_id,
           CAST(8 AS INT)        AS n_codes,
           CAST(TRUE AS BOOLEAN) AS recon_ok
    FROM embeddings
    """,
)
def embed_pq_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled projection of the PQ encode pipeline: the codes
    themselves come from driver-trained k-means (not SQL-expressible,
    so embed_pq_codes stays rows-only), but THESE invariants are
    derivable and hash-checked against DuckDB — exactly one output row
    per embeddings row (no drops, no dupes through mapInPandas), every
    code string is 8 codewords (16 hex chars) wide, and every vector
    reconstructs at cosine >= 0.5 (measured min 0.85 at sf0.001; the
    floor is deliberately loose so it pins 'reconstruction did not
    collapse', not a fixture-specific constant). The tight recall /
    reconstruction bounds live in tests/test_similarity.py."""
    out = embed_pq_codes(spark, sf_dir)
    return out.select(
        "vec_id",
        (F.length("codes") / F.lit(2)).cast("int").alias("n_codes"),
        (F.col("recon_cos") >= F.lit(0.5)).alias("recon_ok"),
    )


@query("embed_ann_pq")
def embed_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors by PQ asymmetric-distance computation
    (ADC): the query stays full-precision, the index is 8-byte PQ codes,
    and each query scores the whole index through an (M x K) lookup
    table — 8 table lookups + adds per candidate instead of a 64-dim
    dot product (rows-only; recall vs the exact baseline pinned in
    tests/test_similarity.py).

    Scale shape: queries stream through mapInPandas in Arrow batches;
    each executor holds the broadcast codes matrix (8 bytes/vector — a
    billion-vector index is ~8 GB, exactly why PQ exists) and scores
    with two numpy gathers per subspace. The index is scored in
    fixed-size column chunks with a running per-chunk top-k merge, so
    peak scratch memory is (batch x _ADC_CHUNK) floats regardless of
    index size — the dense (batch x index) matrix never materializes.
    The fixture-scale flat ADC scan becomes IVF-bucketed ADC at corpus
    scale (probe nprobe buckets, same lookup-table math per bucket)."""
    books, ids, codes, _ = _pq_fit(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # queries ARE the index corpus here, so |Q| = len(ids), already known
    return _adc_topk_stream(spark, emb, books, ids, codes, n_queries=len(ids))


def _adc_topk_stream(
    spark: SparkSession,
    emb: DataFrame,
    books,
    ids,
    codes,
    k: int = 5,
    n_queries: int | None = None,
) -> DataFrame:
    """Chunked flat-ADC top-k scoring of a query stream against a
    PQ-coded index — the scorer shared by embed_ann_pq (session-trained
    artifacts) and embed_ann_pq_indexed (artifacts loaded from the
    persisted index tables), so the two paths cannot drift.

    The index is scored in columns of _ADC_CHUNK vectors: under the
    (-score, nid) total order a global top-k element is inside its own
    chunk's top-(k+1) (k+1 so the self row can be dropped later), so
    merging per-chunk winners loses nothing and the output is identical
    for every chunk size. n_queries (the caller-known query count) sizes
    the spread of a one-split query input; None keeps its partitioning."""
    import numpy as np

    if n_queries is not None:
        emb = spread_small_input(emb, "vec_id", n_rows=n_queries)
    # read on the driver: the closure carries this value to the workers
    chunk = _ADC_CHUNK
    b_all = spark.sparkContext.broadcast((books, ids, codes))

    def score(batches):
        import pandas as pd

        bk, index_ids, index_codes = b_all.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = vk.normalize(np.array(list(pdf["embedding"]), dtype=np.float64))
            qids = pdf["vec_id"].to_numpy(dtype=np.int64)
            lut = vk.adc_lut(q, bk)
            cand_pos, cand_sc = [], []
            for lo in range(0, len(index_ids), chunk):
                hi = min(lo + chunk, len(index_ids))
                sc = vk.adc_scores(lut, index_codes[lo:hi])
                top = vk.topk_by_score_then_id(sc, index_ids[lo:hi], k + 1)
                cand_pos.append(top + lo)
                cand_sc.append(np.take_along_axis(sc, top, axis=1))
            pos = np.concatenate(cand_pos, axis=1)
            sc = np.concatenate(cand_sc, axis=1)
            out_q, out_n, out_s = [], [], []
            for bi in range(len(q)):
                s, nids = sc[bi], index_ids[pos[bi]]
                top = vk.topk_by_score_then_id(s, nids, k, exclude=qids[bi])
                # a zero query vector scores NaN everywhere: no neighbors
                top = top[s[top] > -np.inf]
                out_q.extend([qids[bi]] * len(top))
                out_n.extend(nids[top])
                out_s.extend(np.round(s[top], 4))
            yield pd.DataFrame(
                {"qid": out_q, "nid": np.array(out_n, dtype=np.int64),
                 "adc_score": out_s}
            )

    return emb.mapInPandas(score, "qid long, nid long, adc_score double")


_IVFPQ_NLIST = 16
_IVFPQ_NPROBE = 3


def _n_probe(nprobe: int | None) -> int:
    """Lists probed per query: the override, or _IVFPQ_NPROBE, capped
    at the list count."""
    return min(_IVFPQ_NLIST, _IVFPQ_NPROBE if nprobe is None else int(nprobe))

# Hive-partition fan-out of the PERSISTED codes tables: pq_codes (and
# each epoch partition) is written partitioned by
# list_bucket = list_id % _PQ_LIST_BUCKETS, so a sharded serve whose
# probe set is sparse (nprobe * |Q| << nlist) prunes unprobed buckets
# at the PARTITION level — the scan never opens their files. A
# bucket, not raw list_id, because production nlist scales with the
# corpus (the nlist ~ N rule) and one directory per inverted list
# would melt the file listing; 16 buckets bounds directory fan-out
# while the residual within-bucket selectivity is still enforced by
# the pushed list_id IN (...) data filter (row-group stats).
_PQ_LIST_BUCKETS = 16


def _ivfpq_fit(spark: SparkSession, sf_dir: str):
    """PQ fit + a coarse quantizer: deterministic k-means (nlist
    centroids, fixed init) over the normalized vectors, plus each index
    vector's bucket assignment. Everything broadcastable."""
    import numpy as np

    books, ids, codes, mat = _pq_fit(spark, sf_dir)
    coarse = mat[:_IVFPQ_NLIST].copy()
    for _ in range(_PQ_KMEANS_ITERS):
        assign = _pq_assign(mat, coarse)
        for k in range(_IVFPQ_NLIST):
            members = mat[assign == k]
            if len(members):
                coarse[k] = members.mean(axis=0)
    assign = _pq_assign(mat, coarse)
    return books, ids, codes, coarse, assign


@query("embed_ann_ivf_pq")
def embed_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the FAISS-style memory-bound ANN recipe
    end-to-end (rows-only; recall vs exact pinned in
    tests/test_similarity.py): a coarse quantizer routes each query to
    its NPROBE nearest inverted lists, and only vectors in those lists
    are scored, via the same 8-byte-code ADC lookup tables as
    embed_ann_pq. Candidate volume per query drops to ~NPROBE/NLIST of
    the corpus while the per-candidate cost is 8 table adds.

    Scale shape: the flat-ADC caveat on embed_ann_pq is exactly what
    this fixes — at corpus scale the inverted lists shard across
    executors (bucket -> partition), each holding only its lists' codes;
    here, fixture-scale, the lists live in one broadcast with bucket
    masks. Training (PQ codebooks + coarse centroids) stays the bounded
    driver-side step; scoring streams queries through mapInPandas."""
    books, ids, codes, coarse, assign = _ivfpq_fit(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_adc_topk_stream(
        spark, emb, books, ids, codes, coarse, assign, n_queries=len(ids)
    )


def _ivf_adc_topk_stream(
    spark: SparkSession,
    emb: DataFrame,
    books,
    ids,
    codes,
    coarse,
    assign,
    k: int = 5,
    index_mask=None,
    index_labels=None,
    nprobe: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-routed ADC top-k scoring — the scorer shared by
    embed_ann_ivf_pq (session-trained artifacts),
    embed_ann_ivf_pq_indexed (persisted artifacts, including the stored
    per-vector list assignment), embed_ann_join_ivf_pq (index_mask
    restricts the candidates to the index corpus),
    embed_ann_filtered_ivf_pq (metadata predicate as the mask) and
    embed_ann_same_label_ivf_pq (per-query label filter), so the paths
    cannot drift.

    index_mask: optional bool array aligned to `ids`; only masked-True
    index vectors are eligible neighbors. It folds into the
    once-per-task inverted-list grouping, so the per-query path pays
    nothing for it.

    index_labels: optional int array aligned to `ids`; when given, the
    query frame carries a `label` column and each query only sees
    candidates with its own label (one vectorized compare per query).

    nprobe: probe-count override (default _IVFPQ_NPROBE). Masked
    searches probe MORE lists to keep the eligible-candidate pool at
    the unmasked size — the standard selectivity compensation (callers
    scale by 1/selectivity; measured on the filtered query: recall@3
    0.42 at nprobe=3 -> 0.61 at nprobe=10 for a ~30% predicate).

    n_queries: the caller-known query count, which sizes the spread of
    a one-split query input (the scorer is CPU-bound and per-query
    independent, so partitioning never changes results); None keeps the
    input's partitioning."""
    import numpy as np

    if n_queries is not None:
        emb = spread_small_input(emb, "vec_id", n_rows=n_queries)
    if index_mask is None:
        index_mask = np.ones(len(ids), dtype=bool)
    n_probe = _n_probe(nprobe)
    block = _SHARD_Q_BLOCK
    b_all = spark.sparkContext.broadcast(
        (books, ids, codes, coarse, assign, index_mask, index_labels)
    )

    def score(batches):
        import pandas as pd

        bk, index_ids, index_codes, cents, bucket_of, eligible, labs = (
            b_all.value
        )
        # inverted-list members grouped ONCE per task, so candidate
        # lookup is a concatenate of precomputed position arrays instead
        # of a per-query rescan of the whole index
        members = {
            li: np.flatnonzero((bucket_of == li) & eligible)
            for li in range(len(cents))
        }
        for pdf in batches:
            if not len(pdf):
                continue
            q = vk.normalize(np.array(list(pdf["embedding"]), dtype=np.float64))
            qids = pdf["vec_id"].to_numpy(dtype=np.int64)
            qlabs = (
                pdf["label"].to_numpy(dtype=np.int64) if labs is not None else None
            )
            qid, nid, s = vk.ivf_adc_topk(
                q, qids, vk.ivf_probes(q, cents, n_probe), bk, members,
                index_ids, index_codes, k, qlabs, labs, block,
            )
            yield pd.DataFrame(
                {"qid": qid, "nid": nid.astype(np.int64), "adc_score": np.round(s, 4)}
            )

    return emb.mapInPandas(score, "qid long, nid long, adc_score double")


@query(
    "dedup_semantic_keep_best",
    oracle="""
    WITH RECURSIVE u AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT id_a, id_b
        FROM dots
        JOIN norms x ON id_a = x.vec_id
        JOIN norms y ON id_b = y.vec_id
        WHERE round(dp / (x.nrm * y.nrm), 4) >= 0.42
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL
        SELECT id_b, id_a FROM edges
    ),
    reach(vec_id, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, r.r FROM reach r JOIN und e ON e.src = r.vec_id
    ),
    labels AS (SELECT vec_id, min(r) AS cluster_id FROM reach GROUP BY vec_id),
    q AS (
        SELECT l.vec_id, l.cluster_id, d.n_chars
        FROM labels l JOIN documents d ON d.doc_id = l.vec_id
    ),
    mx AS (
        SELECT cluster_id, max(n_chars) AS best_chars
        FROM q GROUP BY cluster_id
    ),
    keepers AS (
        SELECT q.cluster_id, min(q.vec_id) AS keep_id
        FROM q JOIN mx ON q.cluster_id = mx.cluster_id
                      AND q.n_chars = mx.best_chars
        GROUP BY q.cluster_id
    )
    SELECT q.vec_id, q.cluster_id, q.n_chars,
           q.vec_id = k.keep_id AS keep
    FROM q JOIN keepers k ON q.cluster_id = k.cluster_id
    """,
)
def dedup_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup with canonical selection: the exact
    embedding-cosine near-dup pairs (dedup_embedding_cosine, >= 0.42)
    become edges, min-label propagation assigns every vector a
    component, and within each component exactly ONE document survives —
    the longest (n_chars as the quality proxy), ties to the smallest id.
    Singletons keep themselves. Output (vec_id, cluster_id, n_chars,
    keep) is the drop-list a training pipeline applies before packing.

    Scale shape: the pair graph comes from the sub-quadratic LSH
    candidate path at corpus scale (dedup_embedding_lsh — same edge
    semantics, documented recall); components iterate only over
    edge-participant nodes (|E|-bounded, like dedup_clusters); the
    keep-choice is one windowed argmax per cluster, partitioned on
    cluster_id. DuckDB oracle recomputes the whole chain (exact dots ->
    recursive-CTE components -> per-cluster argmax) independently."""
    from pyspark.sql import Window as W

    from .dedup import propagate_min_label

    edges = memo(
        spark,
        ("semantic_edges", sf_dir),
        fixture_version(spark, sf_dir, "embeddings"),
        lambda: dedup_embedding_cosine(spark, sf_dir)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .cache(),
    )
    members = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    nodes = members.select("doc_id", F.col("doc_id").alias("label"))
    linked = propagate_min_label(nodes, edges)
    vecs = t(spark, sf_dir, "embeddings").select("vec_id")
    # deterministic cold/warm plan pin, size-gated (same rationale as
    # dedup_clusters — VERDICT r6 item 1 + ADVICE r7 broadcast bound)
    hinted = hint_label_map(linked)
    labels = (
        vecs.join(hinted, vecs.vec_id == hinted.doc_id, "left")
        .select("vec_id", F.coalesce("label", "vec_id").alias("cluster_id"))
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "n_chars"
    )
    q = labels.join(docs, "vec_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "vec_id")
    return (
        q.withColumn("rn", F.row_number().over(w))
        .select(
            "vec_id", "cluster_id", "n_chars", (F.col("rn") == 1).alias("keep")
        )
    )


# ---------------------------------------------------------------------------
# Persisted ANN index artifacts (VERDICT r5 item 3): the production shape
# is offline build -> managed index tables -> online queries that only
# LOAD. Three crash-safe tables under one root, each carrying the
# content fingerprint of the embeddings table they were built from as
# `index_version`:
#   {root}/pq_codebooks  (m, k, centroid, index_version)    M*K rows
#   {root}/ivf_centroids (list_id, centroid, index_version) NLIST rows
#   {root}/pq_codes      (vec_id, codes, list_id, index_version)
# Codebook/centroid training is the bounded driver step (_pq_fit /
# _ivfpq_fit); ENCODING is distributed (mapInPandas over the embeddings
# table) — at corpus scale the codes table is the only big artifact and
# it is written by executors, never collected.
# ---------------------------------------------------------------------------


def pq_index_version(sf_dir: str, spark: SparkSession | None = None) -> str:
    """The version a fresh index build would carry: the embeddings
    table's content fingerprint. Staleness == stored != this."""
    return table_fingerprint(table_path(sf_dir, "embeddings"), spark)


def _swap_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    from ..sinks import swap_dir, swap_recover

    swap_recover(spark, path)
    staging = path + ".staging"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    swap_dir(spark, staging, path)


def _footer_stats_versions(path: str) -> set[str] | None:
    """Distinct index_version values per parquet footer statistics.

    Reads ONLY file metadata (row-group min/max for the index_version
    column) — no data pages — so cost is O(files x row_groups)
    regardless of row count. Returns None when any row group lacks
    usable statistics (caller falls back to a Spark distinct). A row
    group whose min != max already proves >1 version, which the caller
    treats as torn, so {min, max} is exact for the single-version
    staleness decision."""
    import os

    import pyarrow.parquet as pq

    # recursive: pq_codes nests part files under list_bucket=N hive
    # dirs (a top-level-only listing would return None and silently
    # demote every load to the Spark-job fallback). Hidden/underscore
    # DIRECTORIES are pruned like hidden files (ADVICE r15: a crashed
    # writer's _temporary/ left under pq_codes would otherwise
    # contribute half-written footers to the version decision — Spark's
    # own readers skip those paths, so the footer fast path must too).
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        files.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    if not files:
        return None
    versions: set[str] = set()
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        try:
            col_idx = meta.schema.names.index("index_version")
        except ValueError:
            return None
        for rg in range(meta.num_row_groups):
            stats = meta.row_group(rg).column(col_idx).statistics
            if stats is None or not stats.has_min_max:
                return None
            versions.add(stats.min)
            versions.add(stats.max)
            if len(versions) > 1:
                return versions  # torn either way; stop scanning
    return versions or None


def _stored_index_version(spark: SparkSession, index_root: str) -> str | None:
    """The common index_version across the three tables, or None when
    any table is missing or the versions disagree (mid-build crash —
    rebuild, which is idempotent, to converge)."""
    from ..sinks import swap_recover

    import os

    jvm = spark._jvm
    fs_conf = spark._jsc.hadoopConfiguration()
    versions = set()
    for sub in ("pq_codebooks", "ivf_centroids", "pq_codes"):
        path = f"{index_root}/{sub}"
        swap_recover(spark, path)
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        if not hpath.getFileSystem(fs_conf).exists(hpath):
            return None
        vs = None
        if os.path.isdir(path):
            # the check runs on EVERY index load, so read the version
            # from parquet FOOTER STATISTICS (min/max per row group)
            # instead of a Spark job per table (3 jobs = ~0.6 s of pure
            # overhead per warm query at fixture scale). Metadata-only:
            # no data pages are decoded, so driver memory stays O(files
            # x row-groups) even when pq_codes holds one version string
            # per vector (ADVICE r10: the previous read_table pulled the
            # whole column, O(N) at real corpus scale). Spark remains
            # the fallback for object-store paths, missing stats, and
            # anything pyarrow cannot read.
            try:
                vs = _footer_stats_versions(path)
            except Exception:
                vs = None
        if vs is None:
            try:
                vs = {
                    r.index_version
                    for r in spark.read.parquet(path)
                    .select("index_version")
                    .distinct()
                    .collect()
                }
            except Exception:
                return None
        if len(vs) != 1:
            return None
        versions |= vs
    return versions.pop() if len(versions) == 1 else None


def build_pq_index(
    spark: SparkSession, sf_dir: str, index_root: str, force: bool = False
) -> bool:
    """Offline ANN index build: train PQ codebooks + IVF coarse
    centroids (bounded driver k-means, deterministic), then encode the
    corpus DISTRIBUTEDLY and persist all three tables crash-safely
    (staging + sinks.swap_dir each). Returns True when a build ran,
    False when the stored index already matches the live embeddings
    fingerprint (idempotent skip — rerunning the build job is free).

    Crash contract: each table swap is atomic; a crash between table
    swaps leaves versions disagreeing, which _stored_index_version
    reports as None -> the next build run rewrites all three (identical
    content — training is deterministic), and load_pq_index refuses to
    serve the torn state meanwhile."""
    version = pq_index_version(sf_dir, spark)
    if not force and _stored_index_version(spark, index_root) == version:
        return False
    books, _ids, _codes, _mat = _pq_fit(spark, sf_dir)
    _books2, _ids2, _codes2, coarse, _assign = _ivfpq_fit(spark, sf_dir)

    # books.shape[1] may be < _PQ_K on a corpus smaller than the
    # codebook (k-means init takes the first K distinct rows)
    cb_df = spark.createDataFrame(
        [
            (m, k, [float(x) for x in books[m, k]], version)
            for m in range(_PQ_M)
            for k in range(books.shape[1])
        ],
        "m int, k int, centroid array<double>, index_version string",
    )
    _swap_write(spark, cb_df.coalesce(1), f"{index_root}/pq_codebooks")

    ivf_df = spark.createDataFrame(
        [
            (li, [float(x) for x in coarse[li]], version)
            for li in range(_IVFPQ_NLIST)
        ],
        "list_id int, centroid array<double>, index_version string",
    )
    _swap_write(spark, ivf_df.coalesce(1), f"{index_root}/ivf_centroids")

    codes_df = _encode_codes_df(spark, sf_dir, books, coarse, version)
    _swap_write(
        spark,
        codes_df.withColumn(
            "list_bucket", F.pmod("list_id", F.lit(_PQ_LIST_BUCKETS))
        ),
        f"{index_root}/pq_codes",
        partition_by=["list_bucket"],
    )
    return True


def pq_encode_batch(
    spark: SparkSession, emb: DataFrame, books, coarse, version: str
) -> DataFrame:
    """Distributed PQ encode + IVF assignment of ONE batch of vectors
    against FROZEN artifacts: each executor holds the broadcast
    (M x K x SUB) codebooks + (NLIST x DIM) centroids and emits
    (vec_id, 16-hex codes, list_id, recon_cos, index_version) — the
    shape that writes a billion-vector codes table without any driver
    collect. Shared by the one-shot build (build_pq_index) and the
    incremental maintainer (append_pq_epoch), so a batch-built and an
    epoch-appended codes row are byte-identical for the same vector.

    recon_cos is the cosine between the vector and its PQ
    reconstruction (concatenated codewords) — the per-row quality
    signal the drift rule aggregates: a batch the frozen codebooks no
    longer represent well shows a low epoch mean, flagging retrain
    instead of silently degrading ANN recall."""
    import numpy as np
    from pyspark.sql import types as T

    b = spark.sparkContext.broadcast((books, coarse))
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.StringType()),
            T.StructField("list_id", T.IntegerType()),
            T.StructField("recon_cos", T.DoubleType()),
            T.StructField("index_version", T.StringType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        bk, cents = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            codes = np.empty((len(mat), _PQ_M), dtype=np.int64)
            recon = np.empty_like(mat)
            for m in range(_PQ_M):
                sub = mat[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                codes[:, m] = _pq_assign(sub, bk[m])
                recon[:, m * _PQ_SUB : (m + 1) * _PQ_SUB] = bk[m][codes[:, m]]
            lists = _pq_assign(mat, cents)
            rcos = (mat * recon).sum(axis=1) / np.maximum(
                np.linalg.norm(recon, axis=1), 1e-12
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": ["".join("%02x" % c for c in row) for row in codes],
                    "list_id": lists.astype(np.int32),
                    "recon_cos": np.round(rcos, 4),
                    "index_version": version,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(encode, out_schema)


def _encode_codes_df(
    spark: SparkSession, sf_dir: str, books, coarse, version: str
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pq_encode_batch(spark, emb, books, coarse, version)


def _read_index_rows(
    spark: SparkSession, index_root: str, sub: str, cols: list[str]
) -> list[tuple]:
    """Rows of one index table as python tuples. The artifacts are
    driver-side by design (they get broadcast), so read with pyarrow
    directly when the index lives on a local path — one C++ scan
    instead of a Spark job + row collect per table (~3x faster load at
    fixture scale). Spark read remains the fallback for object-store
    paths."""
    import os

    path = f"{index_root}/{sub}"
    if os.path.isdir(path):
        try:
            import pyarrow.dataset as ds

            # hive partitioning so an epoch-partitioned table exposes
            # its `epoch` directory column; harmless on flat tables
            tb = ds.dataset(
                path, format="parquet", partitioning="hive"
            ).to_table(columns=cols)
            return list(zip(*(tb.column(c).to_pylist() for c in cols)))
        except Exception:
            pass
    return [
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(path).select(*cols).collect()
    ]


def _load_codebook_arrays(spark: SparkSession, index_root: str):
    """(books, coarse) numpy arrays from the persisted codebook/centroid
    tables — no completeness/staleness policy here; callers decide
    which check applies (load_pq_index: version == live fingerprint;
    the incremental loader: internal consistency only)."""
    import numpy as np

    cb = _read_index_rows(spark, index_root, "pq_codebooks", ["m", "k", "centroid"])
    n_k = max(k for _m, k, _c in cb) + 1  # may be < _PQ_K on tiny corpora
    books = np.zeros((_PQ_M, n_k, _PQ_SUB))
    for m, k, cent in cb:
        books[m, k] = cent
    ivf = _read_index_rows(spark, index_root, "ivf_centroids", ["list_id", "centroid"])
    coarse = np.zeros((_IVFPQ_NLIST, _DIM))
    for li, cent in ivf:
        coarse[li] = cent
    return books, coarse


def load_pq_index(spark: SparkSession, sf_dir: str, index_root: str):
    """Query-side load of the persisted index: returns (books, ids,
    codes, coarse, assign) numpy artifacts, REFUSING a stale or torn
    index — stored index_version must equal the live embeddings
    fingerprint across all three tables (the staleness column VERDICT
    r5 asked for, enforced rather than advisory). Bounded by the same
    footer guard as the in-session path."""
    stored = _stored_index_version(spark, index_root)
    live = pq_index_version(sf_dir, spark)
    if stored is None:
        raise ValueError(
            f"no complete PQ index at {index_root} (missing table or "
            "mixed versions from a mid-build crash) — run build_pq_index"
        )
    if stored != live:
        raise ValueError(
            f"PQ index at {index_root} is STALE: built from embeddings "
            f"version {stored}, live table is {live} — rebuild before "
            "serving (a silently-stale ANN index returns wrong neighbors)"
        )
    n = _parquet_num_rows(f"{index_root}/pq_codes", spark)
    if n is not None and n > _MAX_INDEX_ROWS:
        raise ValueError(
            f"persisted codes table exceeds the {_MAX_INDEX_ROWS}-row "
            "broadcast cap; shard the inverted lists across executors "
            "(SCALE.md) instead of a flat load"
        )

    books, coarse = memo(
        spark,
        ("pq_codebook_arrays", index_root),
        stored,
        lambda: _load_codebook_arrays(spark, index_root),
    )
    rows = _read_index_rows(
        spark, index_root, "pq_codes", ["vec_id", "codes", "list_id"]
    )
    ids, codes, assign = _index_layout(*([r[i] for r in rows] for i in range(3)))
    return books, ids, codes, coarse, assign


def _pq_index_artifact(spark: SparkSession, sf_dir: str) -> str:
    """The persisted PQ/IVF index dir, content-addressed on the
    embeddings table fingerprint (util.persisted_artifact: crash-safe
    publish, cross-session reuse, superseded-fingerprint pruning; it
    survives the session and is never orphaned by memo eviction). The
    fingerprint carries the storage-layout tag: an artifact built
    before the list_bucket partitioning is a DIFFERENT dir, so layout
    changes rebuild instead of serving a prune-less index."""
    from .util import persisted_artifact

    return persisted_artifact(
        spark,
        "pq_index",
        sf_dir,
        f"{pq_index_version(sf_dir, spark)}-pb{_PQ_LIST_BUCKETS}",
        lambda tmp: build_pq_index(spark, sf_dir, tmp),
    )


@query("embed_ann_pq_indexed")
def embed_ann_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline-build / online-query ANN split, end to end
    (rows-only; equality with the session-trained embed_ann_pq and
    rebuild idempotence pinned in tests/test_similarity.py): the index
    is built ONCE into persisted pq_codebooks / ivf_centroids /
    pq_codes tables (memoized per content fingerprint — warm calls,
    including bench's repeat runs, skip training entirely and pay only
    load + score), then queries stream against the LOADED artifacts
    through the shared chunked-ADC scorer. Training cost lives in the
    build job, not the query path — the split a production ANN service
    actually runs."""
    root = _pq_index_artifact(spark, sf_dir)
    books, ids, codes, _coarse, _assign = load_pq_index(spark, sf_dir, root)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # queries ARE the index corpus here, so |Q| = len(ids), already known
    return _adc_topk_stream(spark, emb, books, ids, codes, n_queries=len(ids))


@query("embed_ann_ivf_pq_indexed")
def embed_ann_ivf_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ from the PERSISTED index (rows-only; exact equality with
    the session-trained embed_ann_ivf_pq pinned in
    tests/test_similarity.py): coarse routing uses the stored
    ivf_centroids table and the stored per-vector list assignment
    (pq_codes.list_id), ADC uses the stored codebooks/codes — the full
    artifact set exercised end to end, completing what
    embed_ann_pq_indexed covers for the flat scan. Same build
    artifact, so a warm session (or bench repeat) pays load + score
    only."""
    root = _pq_index_artifact(spark, sf_dir)
    books, ids, codes, coarse, assign = load_pq_index(spark, sf_dir, root)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_adc_topk_stream(
        spark, emb, books, ids, codes, coarse, assign, n_queries=len(ids)
    )


# ---------------------------------------------------------------------------
# Incremental PQ-index maintenance (VERDICT r11 item 2): every other
# persisted index (MinHash, eval-gram, phash) grows by epoch-appends;
# this gives the PQ/IVF index the same twin. New batches encode against
# the FROZEN base codebooks into atomic `epoch=<lineage>-<id>`
# partitions under `{index_root}/pq_codes_epochs`
# (sinks.commit_epoch_partition — same replay/lineage discipline as
# maintain_minhash_index), so the accumulated corpus is encoded exactly
# once and old epochs are never rewritten. Frozen codebooks eventually
# stop representing new data; the drift rule below flags retrain-needed
# from the per-row recon_cos column instead of silently degrading
# recall. Streaming maintenance: ingest_stream.maintain_pq_index.
# Reference has no vector surface at all (SURVEY.md §2.2); the pattern
# follows FAISS's add-with-frozen-codebooks + periodic retrain practice
# (Johnson et al. 2017, §4).
# ---------------------------------------------------------------------------

# Epoch-mean reconstruction-cosine floor below which the frozen
# codebooks are declared stale for that batch. Measured on the fixture:
# HELD-OUT epochs drawn from the training distribution reconstruct at
# ~0.81 mean / ~0.74 min (the oft-quoted 0.945 is in-sample — K=256
# codewords over <=2000 training rows partially memorizes), while an
# off-manifold batch (one-hot spike vectors) lands ~0.59. 0.70 splits
# the two regimes with ~0.1 margin on both sides (tests pin both
# directions; the registered drift query pins the negative at 3 SFs).
_PQ_DRIFT_FLOOR = 0.70


def load_pq_codebooks(spark: SparkSession, index_root: str):
    """(books, coarse, version) from a COMPLETE base index, refusing a
    missing or torn one — encoding a batch against half-written
    codebooks would poison every epoch built from them."""
    stored = _stored_index_version(spark, index_root)
    if stored is None:
        raise ValueError(
            f"no complete PQ base index at {index_root} (missing table "
            "or mixed versions from a mid-build crash) — run "
            "build_pq_index before appending epochs"
        )
    # the completeness/staleness probe above runs per call (footer
    # stats, no job), but the array READ is memoized per
    # (index_root, version): the base is content-addressed — a rebuild
    # changes `stored` and misses the memo — so a serving process pays
    # the two codebook-table collect jobs once per index version, not
    # per request batch (the same soundness argument as the
    # validate-once stamp; books+coarse are O(M*K*SUB + NLIST*DIM)
    # doubles, ~0.6 MB of driver memory per live version).
    books, coarse = memo(
        spark,
        ("pq_codebook_arrays", index_root),
        stored,
        lambda: _load_codebook_arrays(spark, index_root),
    )
    return books, coarse, stored


def append_pq_epoch(
    spark: SparkSession,
    batch: DataFrame,
    index_root: str,
    lineage: str = "batch",
    epoch_id: int = 0,
) -> bool:
    """Encode one NEW batch of vectors against the frozen base codebooks
    and commit it as an atomic epoch partition of
    `{index_root}/pq_codes_epochs`. Returns True when this call
    committed, False on a replayed epoch (partition already present —
    exactly-once without reading a row of it).

    Scale shape: encoding is the distributed pq_encode_batch map (no
    driver collect); the commit is one directory rename. Base codebooks
    are O(M*K*SUB + NLIST*DIM) doubles (~0.6 MB here) loaded from
    footer-guarded parquet — constant in corpus size, so a 100-TB codes
    table grows one bounded epoch at a time while training cost stays
    zero on the ingest path."""
    from ..sinks import commit_epoch_partition

    books, coarse, version = load_pq_codebooks(spark, index_root)
    rows = pq_encode_batch(spark, batch, books, coarse, version).withColumn(
        "list_bucket", F.pmod("list_id", F.lit(_PQ_LIST_BUCKETS))
    )
    return commit_epoch_partition(
        spark,
        rows,
        f"{index_root}/pq_codes_epochs",
        lineage,
        epoch_id,
        partition_by=["list_bucket"],
    )


def pq_index_drift_report(
    spark: SparkSession, index_root: str, floor: float = _PQ_DRIFT_FLOOR
) -> DataFrame:
    """Per-epoch codebook-drift report over the incremental codes table:
    (epoch, n_vectors, mean_recon_cos, min_recon_cos, retrain_needed).
    retrain_needed is the drift rule — epoch mean below the floor means
    the frozen codebooks no longer represent that batch and the base
    index should be retrained (build_pq_index force=True) rather than
    silently serving degraded ADC scores. One vocabulary-bounded
    aggregate over the epochs table; never reads the base codes."""
    from ..sinks import purge_recover

    purge_recover(spark, f"{index_root}/pq_codes_epochs")
    epochs = spark.read.parquet(f"{index_root}/pq_codes_epochs")
    return (
        epochs.groupBy("epoch")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("recon_cos"), 4).alias("mean_recon_cos"),
            F.round(F.min("recon_cos"), 4).alias("min_recon_cos"),
        )
        .withColumn("retrain_needed", F.col("mean_recon_cos") < floor)
        .orderBy("epoch")
    )


def load_pq_index_incremental(
    spark: SparkSession,
    index_root: str,
    allow_drift: bool = False,
    floor: float = _PQ_DRIFT_FLOOR,
):
    """Query-side load of base + epoch-appended codes as ONE servable
    artifact set (books, ids, codes, coarse, assign) — the incremental
    twin of load_pq_index. Refuses, loudly:

    - a missing/torn base (via load_pq_codebooks);
    - an epoch whose index_version differs from the base codebooks'
      (it was encoded against RETRAINED codebooks — its codes index
      into the wrong codeword tables, so ADC scores would be garbage);
    - a duplicate vec_id across base+epochs (an id re-ingested with
      possibly different content — serving either row silently is
      wrong; the append-only corpus contract is ids are unique);
    - unless allow_drift, any epoch the drift rule flags — a pipeline
      acknowledges drift explicitly (and schedules a retrain) instead
      of inheriting degraded recall. The decision IS
      pq_index_drift_report's own retrain_needed column (same `floor`
      passed through), so the report and the loader cannot disagree
      about a boundary epoch — ADVICE r12 flagged a hardcoded floor
      over the unrounded mean, ADVICE r13 a banker's-vs-HALF_UP
      rounding gap in the re-derivation; evaluating the rule in one
      place retires the whole divergence class.

    The staleness-vs-live-table check of load_pq_index deliberately
    does NOT apply: an incremental index OUTLIVES its base fingerprint
    by design — its freshness contract is 'base + committed epochs
    cover the ingested corpus', enforced by the maintainer's
    exactly-once epoch commits, not by re-fingerprinting."""
    from ..fsio import Fs

    books, coarse, version = load_pq_codebooks(spark, index_root)
    rows = _read_index_rows(
        spark, index_root, "pq_codes", ["vec_id", "codes", "list_id"]
    )
    rows = [(r[0], r[1], r[2]) for r in rows]
    ep_path = f"{index_root}/pq_codes_epochs"
    # Hadoop-FS probe, not os.path.isdir (ADVICE r13): on an
    # object-store or explicit file: URI index_root the os probe is
    # always False, so committed epochs would be SILENTLY excluded from
    # the served index — the one silent-degradation path in the loader.
    if Fs(spark, index_root).is_dir(ep_path):
        from ..sinks import purge_recover

        purge_recover(spark, ep_path)
        ep_rows = _read_index_rows(
            spark,
            index_root,
            "pq_codes_epochs",
            ["vec_id", "codes", "list_id", "recon_cos", "index_version", "epoch"],
        )
        bad = {r[5] for r in ep_rows if r[4] != version}
        if bad:
            raise ValueError(
                f"epochs {sorted(bad)} at {ep_path} were encoded against "
                f"codebook version != {version} (base was retrained "
                "after they were appended) — rebuild the epochs or the "
                "base; mixed-codebook codes cannot be served"
            )
        if not allow_drift:
            # the drift decision is pq_index_drift_report's OWN output
            # (ADVICE r13: re-deriving it here with python round() —
            # banker's rounding over a python-order sum — could refuse
            # a boundary epoch the report said retrain_needed=false;
            # one aggregate, one rounding, zero divergence)
            drifted = {
                r["epoch"]
                for r in pq_index_drift_report(spark, index_root, floor)
                .filter("retrain_needed")
                .collect()
            }
            if drifted:
                raise ValueError(
                    f"epochs {sorted(drifted)} fail the codebook-drift "
                    f"floor (mean recon_cos < {floor}): the "
                    "frozen codebooks no longer represent that data — "
                    "retrain via build_pq_index(force=True) (or pass "
                    "allow_drift=True to serve degraded scores "
                    "deliberately)"
                )
        rows += [(r[0], r[1], r[2]) for r in ep_rows]
    if len(rows) > _MAX_INDEX_ROWS:
        raise ValueError(
            f"base+epoch codes exceed the {_MAX_INDEX_ROWS}-row "
            "broadcast cap; shard the inverted lists across executors "
            "(SCALE.md) instead of a flat load"
        )
    seen = {r[0] for r in rows}
    if len(seen) != len(rows):
        raise ValueError(
            "duplicate vec_id across base+epochs — an id was re-ingested; "
            "the append-only index contract requires globally unique ids"
        )
    ids, codes, assign = _index_layout(*([r[i] for r in rows] for i in range(3)))
    return books, ids, codes, coarse, assign


def retrain_pq_index(spark: SparkSession, sf_dir: str, index_root: str) -> bool:
    """The retrain step the drift rule points at: rebuild the base index
    from the LIVE embeddings table (which, in the ingest pipeline,
    already contains every epoch-appended batch — ingest lands vectors
    in the table AND encodes them into the index), then clear the
    now-superseded epoch partitions. Returns True when a rebuild ran.

    Crash ordering is deliberate: the base rebuild swaps in FIRST, so a
    crash before the epoch clear leaves epochs whose index_version
    mismatches the new codebooks — load_pq_index_incremental REFUSES
    that state loudly (never serves a vector twice or against the wrong
    codebooks), and re-running this function converges (the rebuild is
    an idempotent skip, the clear completes). Clearing first would
    instead open a window where the index silently lacks the epoch
    vectors. Pinned in tests/test_similarity.py.

    force=False is load-bearing: under the ingest invariant the live
    table gained the epoch batches, so its fingerprint differs from
    the stored version and the rebuild runs; on a crash-retry where
    the rebuild already landed, it skips instead of re-training —
    that skip IS the idempotence.

    The epoch clear is guarded by a coverage assertion (ADVICE r12):
    before deleting, every epoch vec_id must be present in the rebuilt
    base's pq_codes. Under the ingest invariant that always holds
    (epoch batches landed in the live table too, so the rebuild
    re-encoded them) — but if the invariant is violated (the
    table-append stream lags the index-maintenance stream, or epochs
    were appended from batches never landed in the table), an
    unguarded clear would silently DROP those vectors from the served
    index with a success return: the one data-loss path everything
    else here refuses loudly. The check is one driver-side column read
    of each table, both already bounded by the broadcast-index cap."""
    from ..fsio import Fs

    ran = build_pq_index(spark, sf_dir, index_root)
    ep_path = f"{index_root}/pq_codes_epochs"
    fs = Fs(spark, index_root)
    if fs.exists(ep_path):
        epoch_ids = {
            r[0] for r in _read_index_rows(
                spark, index_root, "pq_codes_epochs", ["vec_id"]
            )
        }
        base_ids = {
            r[0] for r in _read_index_rows(
                spark, index_root, "pq_codes", ["vec_id"]
            )
        }
        orphaned = epoch_ids - base_ids
        if orphaned:
            raise ValueError(
                f"retrain refused: {len(orphaned)} epoch vec_ids (e.g. "
                f"{sorted(orphaned)[:5]}) are absent from the rebuilt "
                "base index — the ingest invariant (every epoch batch "
                "also landed in the live embeddings table) is violated; "
                "clearing the epochs now would silently drop those "
                "vectors from the served index. Land the missing "
                "batches in the table and re-run retrain_pq_index."
            )
        fs.delete(ep_path)
    return ran


def purge_pq_index(
    spark: SparkSession, index_root: str, keys: DataFrame, key: str = "vec_id"
) -> int:
    """Right-to-be-forgotten delete against the persisted IVF-PQ index
    (VERDICT r15 item 1: ingest.purge_keys rewrites the BASE TABLE, but
    without this the purged vec_ids survived in pq_codes and
    pq_codes_epochs and serve_ann_ivf_pq kept returning them as
    neighbors — the engine's own guarantees composing wrong). Removes
    every code row whose vec_id appears in `keys` from the base codes
    table (filtered staged-swap rewrite, list_bucket layout preserved)
    and from each affected epoch partition
    (sinks.purge_epoch_partitions — same-name rewrite, so epoch
    identity/replay/lineage contracts hold), then bumps the purge
    sequence marker so the serve path's validate-once stamp misses and
    re-proves the invariants against the purged content. Returns the
    number of code rows removed.

    Codebooks/centroids are NOT retrained: a PQ codebook is a trained
    aggregate over the corpus, not a row store — the purged vector's
    influence on centroids is the same class of residue as on any
    trained model, and the compliance contract here is 'the id is no
    longer stored or served'. Idempotent (replay removes 0) and
    crash-convergent: each swap is atomic, purge_recover runs at the
    head of every purge and epoch-table read path, and re-running
    finishes whatever a crash interrupted. Reference anchor: the
    reference has no purge at all (its idempotent-load discipline in
    src/load/main.py:40 is the nearest state-hygiene analogue); engine
    scope per SURVEY §2.2."""
    from ..fsio import Fs
    from ..sinks import purge_epoch_partitions, swap_recover

    keys_df = F.broadcast(keys.select(key).distinct())
    base_path = f"{index_root}/pq_codes"
    swap_recover(spark, base_path)
    removed = 0
    fs = Fs(spark, index_root)
    if fs.is_dir(base_path):
        base = spark.read.parquet(base_path)
        n_hit = base.join(keys_df, key, "left_semi").count()
        if n_hit:
            kept = base.join(keys_df, key, "left_anti")
            _swap_write(
                spark,
                kept,
                base_path,
                partition_by=(
                    ["list_bucket"] if "list_bucket" in base.columns else None
                ),
            )
            removed += n_hit
    ep_path = f"{index_root}/pq_codes_epochs"
    if fs.is_dir(ep_path):
        removed += purge_epoch_partitions(
            spark, ep_path, keys, key, partition_by=["list_bucket"]
        )
    if removed:
        seq = int(_pq_purge_seq(spark, index_root)) + 1
        fs.write_text(f"{index_root}/purge_seq", str(seq))
    return removed


def _pq_purge_seq(spark: SparkSession, index_root: str) -> str:
    """The index's purge sequence marker ('0' before any purge) — one
    O(1) control-file read per serve call, folded into the validation
    stamp so a purge invalidates the memoized validation pass: epoch
    NAMES are unchanged by a same-name purge rewrite, so without this
    the stamp could not tell purged content from the content it
    validated."""
    from ..fsio import Fs

    p = f"{index_root}/purge_seq"
    fs = Fs(spark, index_root)
    try:
        return fs.read_text(p).strip() if fs.is_file(p) else "0"
    except Exception:
        return "0"


# ---------------------------------------------------------------------------
# IVF-PQ online serving, two placements of one kernel
# (vk.ivf_adc_topk) with bit-equal rows. Up to _MAX_INDEX_ROWS code
# rows, the validated index is held on the driver and a request runs
# no Spark job. Above it, the codes table stays a DataFrame clustered
# by list_id, the bounded QUERY batch broadcasts, each task scores its
# own lists and per-shard winners reduce to the global top-k in one
# window: no cap on corpus size. The shard shape is FAISS's IVF
# sharding (Johnson et al. 2017 §5) as a DataFrame.
# ---------------------------------------------------------------------------

# Cap on the QUERY batch a sharded search may broadcast (the mirror of
# _MAX_INDEX_ROWS: 100k x 64 float64 ~= 51 MiB). A serving batch is
# bounded by construction; a bigger offline all-pairs job should tile
# its queries across several calls.
_MAX_QUERY_ROWS = 100_000


def _query_rows(q_df: DataFrame | None, q_cols, q_rows: list | None = None):
    """A serve call's query rows, collected from q_df when not given,
    refused above _MAX_QUERY_ROWS."""
    if q_rows is None:
        q_rows = q_df.select(*q_cols).limit(_MAX_QUERY_ROWS + 1).collect()
    if len(q_rows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"query batch exceeds the {_MAX_QUERY_ROWS}-row broadcast "
            "cap — tile the queries across multiple sharded searches "
            "via serve_ann_ivf_pq_tiled (the CODES side is unbounded "
            "here; only the per-call query batch broadcasts)"
        )
    return q_rows

# Queries LUT-ed per block by every IVF-ADC placement: bounds the
# transient B x M x K table to ~16 MiB (1024 x 8 x 256 doubles) no
# matter how large the query batch is.
_SHARD_Q_BLOCK = 1024

# Probe-set pruning only engages when the batch's probed-list union is
# genuinely sparse: above this many lists the IN (...) literal lists
# would bloat the plan (a 100k-query batch can probe |Q| x nprobe
# lists) while pruning little — the dense case reads most of the
# corpus anyway, so the guard skips the predicates and scans as before.
_PRUNE_MAX_LISTS = 4096

# Tile count above which serve_ann_ivf_pq_tiled pre-writes the tiled
# queries as a `_tile`-partitioned table and appends per-tile results
# to a staged output instead of chaining unionByName: the in-plan loop
# re-scans the query table per tile (the _tile hash is computed, so no
# pushdown prunes it) and grows plan lineage O(ntiles) — fine for a
# handful of tiles, a planner/driver tax at the many-hundreds-of-tiles
# scale.
_TILE_MATERIALIZE_AT = 8


def _pq_epoch_partitions(
    spark: SparkSession, index_root: str
) -> tuple[str, ...]:
    """Sorted epoch partition names under pq_codes_epochs (empty when
    the dir is absent) — the epoch-high-water half of the validation
    stamp. One driver-side directory listing, O(#epochs), never a row
    read: epochs are append-only (sinks.commit_epoch_partition never
    rewrites a committed partition), so the NAME SET identifies the
    epoch contents exactly; the base half of the stamp is the
    index_version fingerprint (a rebuilt base is a new version)."""
    from ..fsio import Fs
    from ..sinks import purge_recover

    ep_path = f"{index_root}/pq_codes_epochs"
    fs = Fs(spark, index_root)
    if not fs.is_dir(ep_path):
        return ()
    # converge any crashed purge swap before listing: a parked
    # partition with its live dir missing would otherwise vanish from
    # the stamp (and the served union) until the purge is re-run
    purge_recover(spark, ep_path)
    return tuple(
        sorted(n for n in fs.listdir(ep_path) if n.startswith("epoch="))
    )


def _validate_pq_codes(
    spark: SparkSession,
    index_root: str,
    version: str,
    codes: DataFrame,
    eps: DataFrame | None,
    epochs: tuple[str, ...],
    allow_drift: bool,
    floor: float,
) -> bool:
    """The full-codes refusal aggregates of the distributed loader —
    every check a Spark aggregate, so the contract holds at any corpus
    size. Split out of ivf_pq_codes_df so serving can run it ONCE per
    (index_version, epoch set) instead of per request batch (ADVICE
    r14: the duplicate-vec_id groupBy is a full-table shuffle — the
    right contract at load time, the wrong tax per online query batch).
    `eps` is the caller's OWN stamped-epoch-partition read (never a
    fresh directory scan — ADVICE r15: an epoch committed between the
    stamp listing and a re-scan here would be validated but not
    served, letting the memoized stamp and the served data disagree);
    the drift check is likewise restricted to the stamped `epochs`.
    Raises on violation; returns True so the caller can memoize the
    pass."""
    if eps is not None:
        bad = [
            r[0]
            for r in eps.filter(F.col("index_version") != version)
            .select("epoch")
            .distinct()
            .orderBy("epoch")
            .collect()
        ]
        if bad:
            raise ValueError(
                f"epochs {bad} at {index_root}/pq_codes_epochs were "
                f"encoded against codebook version != {version} (base "
                "was retrained after they were appended) — rebuild the "
                "epochs or the base; mixed-codebook codes cannot be "
                "served"
            )
        if not allow_drift:
            stamped = [e.split("=", 1)[1] for e in epochs]
            drifted = [
                r["epoch"]
                for r in pq_index_drift_report(spark, index_root, floor)
                .filter(F.col("epoch").cast("string").isin(stamped))
                .filter("retrain_needed")
                .collect()
            ]
            if drifted:
                raise ValueError(
                    f"epochs {sorted(drifted)} fail the codebook-drift "
                    f"floor (mean recon_cos < {floor}): the frozen "
                    "codebooks no longer represent that data — retrain "
                    "via build_pq_index(force=True) (or pass "
                    "allow_drift=True to serve degraded scores "
                    "deliberately)"
                )
    if codes.groupBy("vec_id").count().filter("count > 1").head(1):
        raise ValueError(
            "duplicate vec_id across base+epochs — an id was "
            "re-ingested; the append-only index contract requires "
            "globally unique ids"
        )
    return True


def ivf_pq_codes_df(
    spark: SparkSession,
    index_root: str,
    include_epochs: bool = True,
    allow_drift: bool = False,
    floor: float = _PQ_DRIFT_FLOOR,
):
    """(codes DataFrame clustered by list_id, books, coarse) — the
    DISTRIBUTED twin of load_pq_index / load_pq_index_incremental: the
    same refusal contract, but every check runs as a Spark aggregate
    over the codes table instead of a driver collect, so it holds at
    any corpus size:

    - missing/torn base: load_pq_codebooks (codebooks are O(M*K*SUB),
      constant in corpus size);
    - an epoch encoded against retrained codebooks: a distinct
      aggregate over (epoch, index_version);
    - drifted epochs (unless allow_drift): THE pq_index_drift_report
      aggregate itself — one rule, one rounding, so the report and
      this loader can never disagree about a boundary epoch (the
      divergence class ADVICE r13 flagged in the flat loader);
    - duplicate vec_id across base+epochs: one groupBy-count probe.

    VALIDATE ONCE, SERVE MANY: the aggregates run once per (index,
    drift policy) and validation stamp — (index_version, sorted epoch
    partition names, purge sequence), the memo version — and are
    skipped while the stamp matches, so
    a query service calling serve_ann_ivf_pq per request batch pays
    the O(corpus) checks only on the first touch of a new index
    version or epoch set. The stamp is sound because the base is
    content-addressed (a rebuild changes index_version, read per call
    from footer STATS, not rows) and epochs are append-only atomic
    partitions (a new epoch changes the name set; a committed one is
    never rewritten). The memo is per-application (util.memo), so a
    fresh serving process re-proves the invariants exactly once."""
    st = _ivf_pq_state(spark, index_root, include_epochs, allow_drift, floor)
    return _prepare_serve_codes(spark, st, None, None), st.books, st.coarse


# One validated index state: the codes plan, its footer row count, the
# codebooks and coarse centroids, and the memo key/stamp they live under.
_PQState = namedtuple("_PQState", "codes n_codes books coarse root policy stamp")


def _ivf_pq_state(
    spark: SparkSession,
    index_root: str,
    include_epochs: bool = True,
    allow_drift: bool = False,
    floor: float = _PQ_DRIFT_FLOOR,
) -> _PQState:
    """The body of ivf_pq_codes_df before its spread: the per-call
    staleness probe (footer-stat version, epoch listing, purge marker;
    no job) and the stamp-memoized, validated codes plan."""
    books, coarse, version = load_pq_codebooks(spark, index_root)
    epochs = (
        _pq_epoch_partitions(spark, index_root) if include_epochs else ()
    )
    stamp = (
        version,
        epochs,
        # a same-name purge rewrite keeps the epoch names: the purge
        # marker and the codes tables' file fingerprints both see it,
        # the latter also when a purge crashed before its marker write
        _pq_purge_seq(spark, index_root),
        table_fingerprint(f"{index_root}/pq_codes", spark),
        table_fingerprint(f"{index_root}/pq_codes_epochs", spark)
        if epochs
        else None,
    )

    def _build_codes():
        # read the STAMPED partitions explicitly (basePath keeps the
        # epoch hive column), not the whole directory: an
        # epoch committed between the stamp listing and a directory
        # re-scan would be served under the older stamp for that call;
        # pinning the read to the listed partitions makes the stamp,
        # the validation, and the served union cover the identical
        # epoch set by construction
        base = spark.read.parquet(f"{index_root}/pq_codes")
        ep_root = f"{index_root}/pq_codes_epochs"
        eps = (
            spark.read.option("basePath", ep_root).parquet(
                *[f"{ep_root}/{e}" for e in epochs]
            )
            if epochs
            else None
        )
        # carry the list_bucket PARTITION column through when every
        # table in play has it (current layout), so the sharded
        # scorer's probe-set predicate prunes whole hive partitions at
        # the scan; a pre-bucketing index (or mixed old/new
        # base+epochs) degrades to the pushed list_id data filter —
        # correct, just less prunable
        cols = ["vec_id", "codes", "list_id"]
        if "list_bucket" in base.columns and (
            eps is None or "list_bucket" in eps.columns
        ):
            cols.append("list_bucket")
        c = base.select(*cols)
        if eps is not None:
            c = c.unionByName(eps.select(*cols))
        _validate_pq_codes(
            spark, index_root, version, c, eps, epochs, allow_drift, floor
        )
        return c, _pq_codes_row_count(spark, index_root, epochs)

    # PLAN memoized with the stamp as its version: a query service
    # re-enters this loader per request batch, and rebuilding the
    # identical read (directory listing + schema resolution + union +
    # validation, all py4j round trips) per call is measurable serve
    # latency. The stamp addresses the underlying bytes exactly as for
    # validation (content-addressed base, append-only epoch name set,
    # purge sequence), so reusing the plan handle can never serve rows
    # the stamp does not cover; the validation runs inside the same
    # memo — one entry, one lifecycle.
    policy = (bool(allow_drift), None if allow_drift else float(floor))
    codes, n_codes = memo(
        spark, ("ivf_pq_codes_plan", index_root, *policy), stamp, _build_codes
    )
    return _PQState(codes, n_codes, books, coarse, index_root, policy, stamp)


def _pq_codes_row_count(
    spark: SparkSession, index_root: str, epochs=()
) -> int | None:
    """Total persisted code rows (base + the given epoch partitions)
    from parquet footer metadata — driver-side, O(files), no job; None
    when any piece is unreadable (callers fall back to the uncapped
    spread gate)."""
    n = _parquet_num_rows(f"{index_root}/pq_codes", spark)
    if n is None:
        return None
    for e in epochs:
        ne = _parquet_num_rows(f"{index_root}/pq_codes_epochs/{e}", spark)
        if ne is None:
            return None
        n += ne
    return n


def _ivf_adc_score_sharded(
    spark: SparkSession,
    codes_df: DataFrame,
    q_df: DataFrame,
    books,
    coarse,
    k: int = 5,
    nprobe: int | None = None,
    same_label: bool = False,
    q_rows: list | None = None,
) -> DataFrame:
    """The scoring half of _ivf_adc_topk_sharded: broadcast the bounded
    query batch, score shard-locally with the same LUT kernel and
    (-score, nid) selection as _ivf_adc_topk_stream, and return the
    per-shard winners as (qid, nid, score_raw) — UNREDUCED. Split out
    so the tiled server can union several tiles' shard winners and pay
    the global window reduce (and its exchange + rounding stage) ONCE
    instead of once per tile; per-query top-k is independent across
    queries, so reducing the union is bit-equal to reducing per tile.

    q_rows: pre-collected query rows (vec_id, embedding[, label], ...)
    — the tiled server collects the whole pinned batch in ONE driver
    job and slices it per tile instead of paying one collect job per
    tile; rows beyond index 1 (2 with label) are ignored."""
    import numpy as np

    q_cols = ["vec_id", "embedding"] + (["label"] if same_label else [])
    q_rows = _query_rows(q_df, q_cols, q_rows)
    if not q_rows:
        # an empty request batch gets an empty result with the scoring
        # schema, matching the flat scorer (and never reaches the norm,
        # which raises on a 0x0 array)
        return spark.createDataFrame(
            [], "qid long, nid long, score_raw double"
        )
    qmat = vk.normalize(np.array([r[1] for r in q_rows], dtype=np.float64))
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qlabs = (
        np.array([r[2] for r in q_rows], dtype=np.int64)
        if same_label
        else None
    )
    # IVF routing runs once, on the driver, and the union of probed
    # lists becomes a predicate on the codes table: list_bucket IN
    # (...) prunes hive partitions, list_id IN (...) row groups.
    probes = vk.ivf_probes(qmat, coarse, _n_probe(nprobe))
    probed = [int(x) for x in np.unique(probes)]
    if len(probed) <= _PRUNE_MAX_LISTS and len(probed) < coarse.shape[0]:
        # sparse probe set: prune. Dense batches (every list probed, or
        # an IN list big enough to bloat the plan) scan unfiltered —
        # the predicates would skip nothing worth their planning cost.
        if "list_bucket" in codes_df.columns:
            buckets = sorted({p % _PQ_LIST_BUCKETS for p in probed})
            codes_df = codes_df.filter(F.col("list_bucket").isin(buckets))
        codes_df = codes_df.filter(F.col("list_id").isin(probed))
    b = spark.sparkContext.broadcast((books, qids, qmat, qlabs, probes))
    block = _SHARD_Q_BLOCK

    def score_shard(batches):
        import pandas as pd

        bk, q_ids, q, q_labs, probes = b.value
        # materialize THIS SHARD's codes (a shard is whole inverted
        # lists, corpus/nshards rows — the quantity sized to executor
        # memory; never the full table)
        ids_l, codes_l, lists_l, labs_l = [], [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            ids_l.append(pdf["vec_id"].to_numpy(np.int64))
            # ONE bulk hex decode per batch (codes are fixed-width _PQ_M
            # bytes; the shared helper pins that width so drift raises
            # instead of mis-scoring) instead of a per-row Python loop —
            # guide §4.2: hand whole batches to native code; the join +
            # fromhex run at C speed.
            codes_l.append(_decode_hex_codes(pdf["codes"]))
            lists_l.append(pdf["list_id"].to_numpy(np.int64))
            if q_labs is not None:
                labs_l.append(pdf["label"].to_numpy(np.int64))
        if not ids_l:
            return
        bucket_of = np.concatenate(lists_l)
        members = {
            int(li): np.flatnonzero(bucket_of == li)
            for li in np.unique(bucket_of)
        }
        # shard-local top-k under the SAME (-score, nid) total order as
        # the final reduce: the global top-k is a subset of the union
        # of shard top-ks, so the reduce loses nothing
        qid, nid, s = vk.ivf_adc_topk(
            q, q_ids, probes, bk, members, np.concatenate(ids_l),
            np.concatenate(codes_l), k, q_labs,
            np.concatenate(labs_l) if q_labs is not None else None, block,
        )
        if len(qid):
            yield pd.DataFrame({"qid": qid, "nid": nid, "score_raw": s})

    return codes_df.mapInPandas(
        score_shard, "qid long, nid long, score_raw double"
    )


def _ivf_adc_reduce_topk(part: DataFrame, k: int = 5) -> DataFrame:
    """The reduce half of _ivf_adc_topk_sharded: global per-query top-k
    over shard winners under the engine-wide (-score, nid) total order.
    Raw (unrounded) scores travel through the reduce and are rounded by
    the identical numpy round at the very end, so the output is
    bit-equal to the broadcast scorer's for the same artifacts.

    The rounding is np_round4, identical to the broadcast scorer's
    np.round: F.round would round half-up where numpy rounds
    half-to-even, and a boundary score would differ between paths."""
    from pyspark.sql.window import Window

    from .udfs import np_round4

    w = Window.partitionBy("qid").orderBy(
        F.col("score_raw").desc(), F.col("nid").asc()
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", np_round4("score_raw").alias("adc_score"))
    )


def _ivf_adc_topk_sharded(
    spark: SparkSession,
    codes_df: DataFrame,
    q_df: DataFrame | None,
    books,
    coarse,
    k: int = 5,
    nprobe: int | None = None,
    same_label: bool = False,
    q_rows: list | None = None,
) -> DataFrame:
    """IVF-routed ADC top-k with the CODES side distributed: the
    sharded scoring pass (_ivf_adc_score_sharded) composed with the
    global window reduce (_ivf_adc_reduce_topk) — see the two halves
    for the kernel and rounding contracts."""
    return _ivf_adc_reduce_topk(
        _ivf_adc_score_sharded(
            spark, codes_df, q_df, books, coarse,
            k=k, nprobe=nprobe, same_label=same_label, q_rows=q_rows,
        ),
        k=k,
    )


def serve_ann_ivf_pq(
    spark: SparkSession,
    q_df: DataFrame | None,
    index_root: str,
    include_epochs: bool = True,
    allow_drift: bool = False,
    k: int = 5,
    nprobe: int | None = None,
    eligible: DataFrame | None = None,
    label_of: DataFrame | None = None,
    q_rows: list | None = None,
) -> DataFrame:
    """Online ANN serving against a persisted (optionally
    epoch-appended) IVF-PQ index — the entry point a query service
    calls per request batch. Every call runs the loader's staleness
    probe (and, on a new stamp, its refusal contract) and collects the
    query batch to the driver; then one of two placements scores, with
    bit-equal rows:

    - driver-resident (_resident_ivf_pq) when the footer count of
      base+epoch codes is within _MAX_INDEX_ROWS, the batch's candidate
      count is within _RESIDENT_MAX_CANDIDATES and no filter is given:
      the result is a pandas-built local frame, so no job runs beyond
      collecting q_df;
    - sharded (_serve_sharded) otherwise.

    q_rows: (vec_id, embedding[, label]) rows already on the driver
    (the /ann route) in place of q_df: a resident call runs no job.

    eligible: optional (vec_id) DataFrame restricting the candidate
    side, the sharded twin of the flat path's index_mask: a semi-join
    before the list_id clustering, so lists are pre-filtered and never
    under-fill k. Callers compensate selectivity via `nprobe`.

    label_of: optional (vec_id, label) DataFrame switching on the
    per-query label filter (the flat scorer's index_labels): q_df then
    carries a `label` column and each query only matches candidates
    sharing it. Callers scale `nprobe` by the label count. Both filters
    are pinned bit-equal to the flat path in tests/test_similarity.py."""
    import pandas as pd

    st = _ivf_pq_state(spark, index_root, include_epochs, allow_drift)
    same_label = label_of is not None
    rows = _query_rows(
        q_df, ["vec_id", "embedding"] + (["label"] if same_label else []), q_rows
    )
    resident = (
        _resident_ivf_pq(spark, st, len(rows), nprobe)
        if eligible is None and not same_label
        else None
    )
    if resident is None:
        return _serve_sharded(
            spark, None, st, k, nprobe, eligible, label_of, rows
        )
    qid, nid, score = _resident_topk(resident, rows, k, nprobe)
    return spark.createDataFrame(
        pd.DataFrame({"qid": qid, "nid": nid, "adc_score": score}),
        "qid long, nid long, adc_score double",
    )


# Candidate budget of one driver-resident request (|Q| x code rows x
# nprobe / nlist ADC scores): resident scoring uses one driver core,
# the sharded scorer every core after ~0.7 s of job overhead. Measured
# crossover on a 4-core host, both placements forced and warm: ~6.5M
# at 100k code rows (|Q| ~350), ~7.4M at 20k (tools/scale_sweep.py
# --only serve_ann_ivf_pq_nearcap).
_RESIDENT_MAX_CANDIDATES = 6_000_000


def _resident_ivf_pq(
    spark: SparkSession, st: _PQState, n_q: int, nprobe: int | None
):
    """(ids sorted, decoded codes, per-list member positions, books,
    coarse) held on the driver, or None (sharded placement) above
    either cap or with an unreadable footer count. One memo entry per
    index root and drift policy, built by one collect of the validated
    codes plan and replaced when the stamp changes."""
    if st.n_codes is None or st.n_codes > _MAX_INDEX_ROWS:
        return None
    nlist = st.coarse.shape[0]
    if n_q * st.n_codes * _n_probe(nprobe) > _RESIDENT_MAX_CANDIDATES * nlist:
        return None

    def build():
        import numpy as np

        pdf = st.codes.select("vec_id", "codes", "list_id").toPandas()
        ids, codes, lists = _index_layout(
            pdf["vec_id"], list(pdf["codes"]), pdf["list_id"]
        )
        members = {
            int(li): np.flatnonzero(lists == li) for li in np.unique(lists)
        }
        return ids, codes, members, st.books, st.coarse

    return memo(spark, ("ivf_pq_resident", st.root, *st.policy), st.stamp, build)


def _resident_topk(resident, rows: list, k: int, nprobe: int | None):
    """(qid, nid, adc_score) arrays for driver-side query rows against
    a resident index: the shared kernel, rounded with the np.round of
    np_round4 so the rows are bit-equal to the sharded reduce's."""
    import numpy as np

    ids, codes, members, books, coarse = resident
    if not rows:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    q = vk.normalize(np.array([r[1] for r in rows], dtype=np.float64))
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qid, nid, s = vk.ivf_adc_topk(
        q, qids, vk.ivf_probes(q, coarse, _n_probe(nprobe)), books, members,
        ids, codes, k, block=_SHARD_Q_BLOCK,
    )
    return qid, nid, np.round(s, 4)


def _serve_sharded(
    spark: SparkSession,
    q_df: DataFrame | None,
    st: _PQState,
    k: int = 5,
    nprobe: int | None = None,
    eligible: DataFrame | None = None,
    label_of: DataFrame | None = None,
    q_rows: list | None = None,
) -> DataFrame:
    """serve_ann_ivf_pq's sharded placement: the prepared codes side
    composed with the sharded scorer and its window reduce."""
    return _ivf_adc_topk_sharded(
        spark,
        _prepare_serve_codes(spark, st, eligible, label_of),
        q_df,
        st.books,
        st.coarse,
        k=k,
        nprobe=nprobe,
        same_label=label_of is not None,
        q_rows=q_rows,
    )


def _prepare_serve_codes(
    spark: SparkSession,
    st: _PQState,
    eligible: DataFrame | None,
    label_of: DataFrame | None,
) -> DataFrame:
    """The candidate side of a sharded serve, shared by the one-batch
    and tiled entry points: the validated codes plan, optional eligible
    semi-join / label attach, clustered by list_id."""
    codes_df = st.codes
    if eligible is not None:
        codes_df = codes_df.join(
            eligible.select("vec_id").distinct(), "vec_id", "left_semi"
        )
    if label_of is not None:
        # distinct: duplicate (vec_id, label) rows would duplicate code
        # rows after the loader's uniqueness probe. A vec_id with two
        # labels is refused by one aggregate, memoized per index with
        # label_of's analyzed plan as version (a plan does not
        # fingerprint content: data mutated under the same plan is
        # re-probed only after memo_clear or a restart).
        labs = label_of.select("vec_id", "label").distinct()
        plan = label_of._jdf.queryExecution().analyzed().toString()

        def _probe_labels() -> bool:
            bad = labs.groupBy("vec_id").count().filter("count > 1").head(1)
            if bad:
                raise ValueError(
                    f"label_of maps vec_id {bad[0]['vec_id']} to more "
                    "than one label — labels must be a function of "
                    "vec_id; a conflicted mapping would duplicate that "
                    "id's code rows and emit nondeterministic "
                    "duplicate candidates"
                )
            return True

        memo(spark, ("label_of_unique", st.root), plan, _probe_labels)
        codes_df = codes_df.join(labs, "vec_id")
    # spread only an under-split scan (spread_small_input's gate, capped
    # by the unfiltered footer count, an upper bound on what the filters
    # leave): scoring is correct under any sharding of the code rows,
    # and the persisted layout is already partitioned by list_bucket
    return spread_small_input(codes_df, "list_id", n_rows=st.n_codes)


def serve_ann_ivf_pq_tiled(
    spark: SparkSession,
    q_df: DataFrame,
    index_root: str,
    include_epochs: bool = True,
    allow_drift: bool = False,
    k: int = 5,
    nprobe: int | None = None,
    eligible: DataFrame | None = None,
    label_of: DataFrame | None = None,
    tile_rows: int | None = None,
    materialize_at: int | None = None,
    work_dir: str | None = None,
) -> DataFrame:
    """The query-tiling path the sharded server's batch-cap refusal
    points at (VERDICT r14 item 3): an offline all-pairs job whose
    query side exceeds the _MAX_QUERY_ROWS broadcast cap splits the
    queries into hash tiles of at most `tile_rows` (default: the cap)
    and runs one sharded search per tile against the SAME prepared
    codes side — the index is validated once (the loader's stamp memo)
    and the eligible/label joins are planned once, not per tile.

    The union of the per-tile top-ks IS the global answer, bit-equal
    to an uncapped single batch (pinned in tests/test_similarity.py
    with _MAX_QUERY_ROWS forced below |Q|): every query lands in
    exactly one tile (pmod of xxhash64(vec_id)), and per-query top-k
    is independent across queries — no cross-tile reduce exists to
    get wrong. Tile fan-out is guaranteed, not expected: tile counts
    are checked with one aggregate over the query table and the tile
    count doubles until every tile fits, so a skewed id set can never
    smuggle an over-cap batch into the broadcast.

    Scale shape: driver traffic is O(|Q|) total across tiles (each
    tile collects once, exactly what the untiled path pays per batch);
    the codes side stays distributed and is re-scanned per tile with
    that tile's OWN probe-set pruning predicates — sparse tiles skip
    unprobed list_bucket partitions independently. Below
    `materialize_at` tiles (default _TILE_MATERIALIZE_AT) the in-plan
    loop re-scans the checkpointed query blocks per tile and unions
    the per-tile top-ks — O(ntiles x |Q|) cheap row reads, dominated
    by the ADC scoring. At or above it the documented escape hatch is
    real (VERDICT r15 item 2): the tiled queries are written ONCE as a
    `_tile`-partitioned parquet table (one pass — no per-tile rescan),
    each tile's read is partition-PRUNED to its own directory, and
    per-tile results append to a staged output table instead of an
    O(ntiles) unionByName lineage chain — plan size and driver memory
    stay O(1) in the tile count, so a many-hundreds-of-tiles offline
    job is planner-safe. Both paths are bit-equal (pinned in
    tests/test_similarity.py). `work_dir` overrides where the
    materialized path stages its two tables (default: a fresh temp
    dir, which must outlive consumption of the returned DataFrame —
    the result reads from the staged output)."""
    import math

    limit = int(tile_rows) if tile_rows is not None else _MAX_QUERY_ROWS
    if limit <= 0:
        raise ValueError("tile_rows must be positive")
    limit = min(limit, _MAX_QUERY_ROWS)
    # pin the query rows to ONE evaluation BEFORE anything derives from
    # them — including the batch-size count and the small-vs-distributed
    # branch gate below (ADVICE r15/r16): the tiled frame is read once
    # for the skew count and once per tile filter, so a
    # non-deterministic q_df (limit without orderBy, sample(),
    # rand()-derived ids) could otherwise assign rows to different tiles
    # across evaluations — silently dropping or duplicating queries —
    # and a pre-pin count could under-estimate what the collect later
    # pulls. localCheckpoint materializes the batch on the executors
    # (O(|Q|) rows — the same quantity the untiled path would broadcast)
    # and truncates lineage, so every downstream scan (and the count)
    # sees the identical rows; the blocks are freed with the RDD at GC /
    # session end. eager=False fuses the pin into the count's job (the
    # count touches every partition, so every partition is computed
    # exactly once and stored then) — one job round trip instead of two
    # on the per-request-batch latency path.
    q_df = q_df.localCheckpoint(eager=False)
    n = q_df.count()
    st = _ivf_pq_state(spark, index_root, include_epochs, allow_drift)
    codes_df = _prepare_serve_codes(spark, st, eligible, label_of)
    books, coarse = st.books, st.coarse
    same_label = label_of is not None
    if n <= limit:
        return _ivf_adc_topk_sharded(
            spark, codes_df, q_df, books, coarse,
            k=k, nprobe=nprobe, same_label=same_label,
        )
    q_cols = ["vec_id", "embedding"] + (["label"] if same_label else [])
    rows_all: list | None = None
    nt = max(1, math.ceil(n / limit))
    mat_at = (
        _TILE_MATERIALIZE_AT if materialize_at is None else int(materialize_at)
    )
    # the small-batch collect only pays off when the per-tile loop will
    # actually consume the collected slices: at nt >= mat_at the
    # materialized path rebuilds tiles from the pinned frame, so the
    # O(|Q|) driver collect (and its hash column) would be pure waste
    # (ADVICE r16)
    if n <= 2 * _MAX_QUERY_ROWS and nt < mat_at:
        # small-batch path: ONE collect of the pinned rows — with the
        # Spark-computed xxhash64 tile hash appended — replaces the
        # recount job, the duplicate-multiplicity job, the
        # per-doubling histogram jobs AND the per-tile collect jobs:
        # every tiling statistic is driver arithmetic over the
        # collected hash column (Python `%` on a positive modulus
        # equals Spark's pmod for int64 inputs), and the per-tile
        # query slices feed the scorer directly. Driver traffic is
        # O(|Q|) either way; holding it simultaneously is bounded to
        # 2x the untiled batch footprint — larger batches take the
        # distributed-stats branch below (guide §1.2/§5: the driver
        # should do almost no data work, and at serving granularity
        # each avoided job round trip is latency).
        from collections import Counter

        rows_all = q_df.select(
            *q_cols, F.xxhash64(F.col("vec_id")).alias("_h")
        ).collect()
        n = len(rows_all)
        if n <= limit:
            return _ivf_adc_topk_sharded(
                spark, codes_df, q_df, books, coarse,
                k=k, nprobe=nprobe, same_label=same_label,
            )
        dup_max = max(Counter(r[0] for r in rows_all).values())
        if dup_max > limit:
            raise ValueError(
                f"query batch has a vec_id repeated {dup_max} times, "
                f"more than tile_rows={limit}: duplicate ids always "
                "land in the same hash tile, so no tile count can "
                "satisfy the limit — deduplicate the query ids (or "
                "raise tile_rows)"
            )
        nt = max(1, math.ceil(n / limit))
        while max(Counter(r[-1] % nt for r in rows_all).values()) > limit:
            if nt > max(4 * n, 64):
                raise ValueError(
                    f"tile fan-out failed to converge at nt={nt} for "
                    f"{n} query rows (tile_rows={limit})"
                )
            nt *= 2
        return _serve_tiles(
            spark, codes_df, q_df, books, coarse, k, nprobe, same_label,
            nt, rows_all, materialize_at, work_dir,
        )
    # distributed-stats branch (batches too large to hold on the
    # driver at once): ONE fused stats job per doubling attempt (was: a
    # recount job + a duplicate-multiplicity job + one histogram job
    # per doubling). A single chained-rollup aggregate returns the
    # exact pinned row count, the max duplicate-vec_id multiplicity,
    # and the max tile occupancy at nt, 2*nt and 4*nt simultaneously —
    # valid because pmod(h, nt) == pmod(pmod(h, 4*nt), nt) when nt
    # divides 4*nt, so the coarser histograms aggregate exactly from
    # the finer one. All rollup rows stay distributed; only the final
    # one-row summary is collected.
    def _tile_stats(nt0: int):
        t4 = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(4 * nt0))
        b4 = (
            q_df.groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy(t4.alias("t4"))
            .agg(F.sum("c").alias("n4"), F.max("c").alias("d4"))
        )
        b2 = b4.groupBy(F.pmod(F.col("t4"), F.lit(2 * nt0)).alias("t2")).agg(
            F.sum("n4").alias("n2"),
            F.max("d4").alias("d2"),
            F.max("n4").alias("m4"),
        )
        b1 = b2.groupBy(F.pmod(F.col("t2"), F.lit(nt0)).alias("t1")).agg(
            F.sum("n2").alias("n1"),
            F.max("d2").alias("d1"),
            F.max("m4").alias("m4"),
            F.max("n2").alias("m2"),
        )
        return b1.agg(
            F.sum("n1").alias("n"),
            F.max("d1").alias("dup_max"),
            F.max("n1").alias("m1"),
            F.max("m2").alias("m2"),
            F.max("m4").alias("m4"),
        ).collect()[0]

    while True:
        st = _tile_stats(nt)
        n = st["n"] or 0  # exact count of the PINNED rows
        if n <= limit:
            return _ivf_adc_topk_sharded(
                spark, codes_df, q_df, books, coarse,
                k=k, nprobe=nprobe, same_label=same_label,
            )
        # rows sharing a vec_id hash to the same tile at EVERY tile
        # count, so a batch whose max duplicate-id multiplicity exceeds
        # the tile limit can never be split — refuse up front with the
        # real cause instead of doubling forever (ADVICE r15: the
        # unbounded loop was a driver hang running a count job per
        # iteration)
        if st["dup_max"] > limit:
            raise ValueError(
                f"query batch has a vec_id repeated {st['dup_max']} "
                f"times, more than tile_rows={limit}: duplicate ids "
                "always land in the same hash tile, so no tile count "
                "can satisfy the limit — deduplicate the query ids "
                "(or raise tile_rows)"
            )
        if st["m1"] <= limit:
            break
        if st["m2"] <= limit:
            nt *= 2
            break
        if st["m4"] <= limit:
            nt *= 4
            break
        if nt * 4 > max(4 * n, 64):
            # backstop: with distinct 64-bit hashes and nt tiles >> n
            # rows, an over-limit tile is astronomically unlikely —
            # reaching here means something violated the assumptions
            # (e.g. a q_df mutated under the checkpoint); refuse loudly
            # rather than loop.
            raise ValueError(
                f"tile fan-out failed to converge at nt={nt * 4} for "
                f"{n} query rows (tile_rows={limit})"
            )
        nt *= 8
    return _serve_tiles(
        spark, codes_df, q_df, books, coarse, k, nprobe, same_label,
        nt, None, materialize_at, work_dir,
    )


def _serve_tiles(
    spark: SparkSession,
    codes_df: DataFrame,
    q_df: DataFrame,
    books,
    coarse,
    k: int,
    nprobe: int | None,
    same_label: bool,
    nt: int,
    rows_all: list | None,
    materialize_at: int | None,
    work_dir: str | None,
) -> DataFrame:
    """The per-tile execution half of serve_ann_ivf_pq_tiled, after the
    tile count `nt` is fixed. `rows_all` is the small-batch path's
    already-collected pinned rows (tile hash appended as the last
    field); None means slice the checkpointed frame per tile with
    filter+collect jobs instead."""
    mat_at = (
        _TILE_MATERIALIZE_AT if materialize_at is None else int(materialize_at)
    )
    if nt < mat_at:
        # union the RAW per-tile shard winners and pay the global
        # window reduce once: queries partition across tiles (a qid
        # lives in exactly one tile), so one per-qid top-k over the
        # union is bit-equal to reducing per tile — and the plan drops
        # from one exchange + sort + window + Arrow rounding stage PER
        # TILE to one of each TOTAL (guide §2.4: two operations keyed
        # the same way share one exchange).
        by_tile: dict[int, list] | None = None
        if rows_all is not None:
            by_tile = {}
            for r in rows_all:
                by_tile.setdefault(r[-1] % nt, []).append(r)
        out = None
        for i in range(nt):
            rows_i = None
            tile_q = None
            if by_tile is not None:
                rows_i = by_tile.get(i)
                if not rows_i:
                    continue  # empty tile contributes nothing
            else:
                tile_q = q_df.filter(
                    F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nt)) == i
                )
            part = _ivf_adc_score_sharded(
                spark, codes_df, tile_q, books, coarse,
                k=k, nprobe=nprobe, same_label=same_label,
                q_rows=rows_i,
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            out = spark.createDataFrame(
                [], "qid long, nid long, score_raw double"
            )
        return _ivf_adc_reduce_topk(out, k=k)
    # many-tile path: stage the tiles once, append results per tile.
    # The query table is written exactly once (`_tile`-partitioned);
    # each iteration's read carries a PartitionFilters clause on _tile
    # (asserted in tests), so a tile scan opens only its own directory.
    # Results land via append writes — the returned DataFrame is a flat
    # scan of the output table, independent of nt, and the per-tile
    # jobs run eagerly here (an offline many-tile sweep, not a latency
    # path).
    import tempfile

    tiled = q_df.withColumn(
        "_tile", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nt))
    )
    work = work_dir or tempfile.mkdtemp(prefix="ann_tiles_")
    q_path = f"{work}/queries"
    out_path = f"{work}/topk"
    tiled.write.partitionBy("_tile").mode("overwrite").parquet(q_path)
    out_schema = "qid long, nid long, adc_score double"
    for i in range(nt):
        tile_q = (
            spark.read.parquet(q_path)
            .filter(F.col("_tile") == i)
            .drop("_tile")
        )
        part = _ivf_adc_topk_sharded(
            spark, codes_df, tile_q, books, coarse,
            k=k, nprobe=nprobe, same_label=same_label,
        )
        part.write.mode("append").parquet(out_path)
    # explicit schema: a degenerate sweep where every tile wrote zero
    # rows leaves no footers to infer from
    return spark.read.schema(out_schema).parquet(out_path)


@query("embed_ann_ivf_pq_sharded")
def embed_ann_ivf_pq_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving on the sharded placement, whatever the index size
    (rows-only: PQ code arithmetic is not SQL-expressible). Its rows
    equal embed_ann_ivf_pq_indexed's, pinned in tests/test_similarity.py
    also with _MAX_INDEX_ROWS below the corpus size, where the flat
    loader refuses: the codes table stays a DataFrame clustered by
    list_id, the query batch broadcasts, each shard scores its own
    lists and a window reduce keeps the global (-score, nid) top-k.
    Corpus size is unbounded; the reduce input is |Q| x k x nshards."""
    root = _pq_index_artifact(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _serve_sharded(spark, emb, _ivf_pq_state(spark, root))


@query("embed_ann_ivf_pq_tiled")
def embed_ann_ivf_pq_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-TILED sharded IVF-PQ serving (rows-only: PQ code
    arithmetic is not SQL-expressible; bit-equality with
    embed_ann_ivf_pq_sharded — and with the untiled path under
    _MAX_QUERY_ROWS forced below |Q|, where the one-batch server
    REFUSES — is pinned in tests/test_similarity.py): the query corpus
    splits into hash tiles sized to always force >=3 tiles at any SF,
    each tile broadcasts as its own bounded batch against the SAME
    once-validated distributed codes table, and the union of per-tile
    top-ks is the exact global answer (queries partition across tiles;
    per-query top-k is independent).

    Scale shape: this closes the last bounded side of the serving
    design — corpus size is unbounded (sharded codes) AND query-set
    size is unbounded (tiling), with driver traffic O(|Q|) total and
    per-tile probe-set partition pruning on the codes scan. Reference:
    no vector surface (SURVEY.md §2.2)."""
    import math

    from ..sources import table_path

    root = _pq_index_artifact(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # footer row count, not a count() job: the tile-size bound only
    # needs |Q| and the parquet metadata already has it driver-side —
    # the served top-k union is invariant to the tile count anyway.
    n = _parquet_num_rows(table_path(sf_dir, "embeddings"), spark)
    if n is None:
        n = emb.count()
    # tile_rows = 0.4|Q|: ceil(n/0.4n) = 3 still FORCES >=3 tiles at
    # any SF, and the ~20% headroom over n/3 lets the hash-occupancy
    # convergence loop accept nt=3 — at exactly ceil(n/3) the maximum
    # tile occupancy (n/3 + O(sqrt n) hash variance) always overflowed
    # the limit and the loop doubled to SIX tiles, twice the scans /
    # broadcasts / Python stages the row is meant to measure (r17; the
    # served union is bit-equal at any nt, pinned in
    # tests/test_similarity.py).
    return serve_ann_ivf_pq_tiled(
        spark, emb, root, tile_rows=max(1, math.ceil(n * 2 / 5))
    )


def _pq_inc_fixture_root(spark: SparkSession, sf_dir: str) -> str:
    """Persisted incremental-index fixture: base index trained+built on
    the 'already ingested' ~90% of the embeddings corpus (md5 buckets
    >= '1a'), then two later batches (buckets < '0d' and ['0d','1a'))
    epoch-appended against the frozen codebooks — the accumulated state
    a nightly ingest leaves behind. Content-addressed on the embeddings
    fingerprint (util.persisted_artifact), so warm calls pay load+score
    only and a rewritten fixture rebuilds instead of serving stale
    codes."""
    import shutil
    import tempfile

    from .sampling import _TEST_LT, _split_bucket
    from .util import persisted_artifact

    def build(tmp: str) -> None:
        emb = t(spark, sf_dir, "embeddings")
        bucket = _split_bucket("vec_id")
        workdir = tempfile.mkdtemp(prefix="pq_inc_base_")
        try:
            # stage the base corpus as its own table dir so the
            # one-shot builder trains/encodes on exactly that slice
            base_sf = f"{workdir}/basecorpus"
            emb.filter(~(bucket < _TEST_LT)).write.parquet(
                f"{base_sf}/embeddings.parquet"
            )
            build_pq_index(spark, base_sf, tmp)
            new = emb.filter(bucket < _TEST_LT)
            append_pq_epoch(
                spark, new.filter(bucket < "0d"), tmp, "batch", 1
            )
            append_pq_epoch(
                spark, new.filter(~(bucket < "0d")), tmp, "batch", 2
            )
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    (fp,) = fixture_version(spark, sf_dir, "embeddings")
    return persisted_artifact(
        spark, "pq_inc_index", sf_dir, f"{fp}-pb{_PQ_LIST_BUCKETS}", build
    )


@query("embed_ann_pq_incremental")
def embed_ann_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained ANN index, end to end (rows-only: PQ
    code arithmetic is not SQL-expressible — one-shot equivalence,
    replay safety, torn-base/version-mismatch refusal, and the drift
    flag are pinned in tests/test_similarity.py and
    tests/test_streaming.py): the deterministic md5 split plays time —
    the base corpus (~90%) was indexed offline (codebooks trained +
    codes built), two later ingest batches were epoch-appended against
    the FROZEN codebooks, and the NEWEST batch's vectors now query
    IVF-ADC top-k over base+epochs as one index.

    |Q| is bounded to the newest epoch on purpose: the
    incremental-maintenance question is "are the vectors that just
    arrived well-served by the frozen index?", asked once per ingest
    batch — so query cost is O(|batch| × nprobe × list size) and, under
    the production nlist ~ N rule (SCALE.md, pinned by the
    embed_ann_ivf sweep row at e~0.1), constant per query vector,
    where scoring all N corpus vectors against N/nlist-member lists
    would grow with the corpus (a measured scaling exponent of 1.32
    at fixed nlist). No vector is
    ever encoded twice; training cost is zero on the ingest path — the
    maintenance shape that holds when the codes table is 100 TB and a
    day's ingest is 0.1% of it. Reference: no vector/index surface
    (SURVEY.md §2.2); FAISS-style add-then-periodic-retrain (Johnson
    et al. 2017)."""
    import hashlib

    from .sampling import _TEST_LT, _split_bucket

    root = _pq_inc_fixture_root(spark, sf_dir)
    books, ids, codes, coarse, assign = load_pq_index_incremental(spark, root)
    # newest epoch = the fixture's batch-2 slice (md5 buckets
    # ['0d','1a')) — the same deterministic predicate
    # _pq_inc_fixture_root appended it with
    bucket = _split_bucket("vec_id")
    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter((bucket < _TEST_LT) & ~(bucket < "0d"))
    )
    # |Q| estimate for sizing the scorer spread, without a job: the
    # index ids in the newest-epoch md5 buckets (Spark's
    # md5(cast(vec_id as string)) equals hashlib md5 of the decimal
    # string). It equals the filter's row count only while the index
    # covers the embeddings table; it never affects results.
    n_q = sum(
        1
        for i in ids
        if "0d" <= hashlib.md5(str(int(i)).encode()).hexdigest()[:2] < _TEST_LT
    )
    return _ivf_adc_topk_stream(
        spark, emb, books, ids, codes, coarse, assign, n_queries=n_q
    )


# Filtered vector search: the metadata-predicate restriction every
# production vector store exposes (candidates must satisfy an attribute
# filter, here `label IN (1,4,7)` ~ 30% of the corpus). The exact twin
# is fully oracled; the ANN twin folds the predicate into the same
# once-per-task inverted-list grouping as the corpus restriction of the
# two-corpus join — zero per-query filter cost.
_FILTER_LABELS = (1, 4, 7)


@query(
    "embed_topk_filtered",
    oracle=f"""
    WITH u AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
        WHERE b.label IN {_FILTER_LABELS}
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid, nid, round(dp / (x.nrm * y.nrm), 4) AS cosine
        FROM dots
        JOIN norms x ON qid = x.vec_id
        JOIN norms y ON nid = y.vec_id
    )
    SELECT qid, nid, cosine FROM (
        SELECT qid, nid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def embed_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact metadata-FILTERED vector search: cosine top-3 per query
    vector among only the candidates satisfying an attribute predicate
    (label IN {1,4,7}) — the filtered-search API every vector store
    exposes (fully oracled; ground truth for the ANN twin
    embed_ann_filtered_ivf_pq).

    Scale shape: the predicate PRUNES the broadcast index side before
    it is built (~30% of corpus rows collected under the same
    footer-guarded cap as embed_cosine_topk), so filtering makes the
    exact path cheaper, never wider. Queries stream through the shared
    Arrow/BLAS scorer. Reference: no vector surface (SURVEY.md §2.2)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    cand = emb.filter(F.col("label").isin(*_FILTER_LABELS))
    ids, mat_n = _collect_bounded_index(
        spark, sf_dir, cand.select("vec_id", "embedding"),
        "embed_topk_filtered",
        "Use embed_ann_filtered_ivf_pq for unbounded corpora.",
    )
    # every vector queries, so |Q| is the whole table's footer count
    n_q = _parquet_num_rows(table_path(sf_dir, "embeddings"), spark)
    return _exact_cosine_stream(
        spark, emb.select("vec_id", "embedding"), ids, mat_n, n_q, k=3
    )


@query("embed_ann_filtered_ivf_pq")
def embed_ann_filtered_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN search via the PERSISTED IVF-PQ index
    (rows-only: ADC arithmetic is not SQL-expressible; every emitted
    neighbor satisfying the predicate, plus recall vs the oracled exact
    twin embed_topk_filtered, are pinned in tests/test_similarity.py):
    the attribute predicate (label IN {1,4,7}) becomes a boolean mask
    over the stored index and folds into the once-per-task
    inverted-list grouping — per query the path is identical to
    unfiltered IVF-ADC, the pre-filtered-lists strategy (vs
    post-filtering top-k, which under-fills k at selective predicates).

    Scale shape: same constant-size broadcast artifacts as
    embed_ann_ivf_pq_indexed; the label column rides the driver-side
    index load (one pyarrow column scan). At 100 TB the mask becomes a
    predicate on the sharded codes table — filtered and unfiltered
    search share storage. Reference: no vector surface (SURVEY.md
    §2.2); pre-filtered IVF per FAISS's IDSelector practice."""
    import numpy as np

    root = _pq_index_artifact(spark, sf_dir)
    books, ids, codes, coarse, assign = load_pq_index(spark, sf_dir, root)
    lab_rows = _read_index_rows(
        spark, sf_dir, "embeddings.parquet", ["vec_id", "label"]
    )
    label_of = {int(v): int(lb) for v, lb in lab_rows}
    mask = np.array(
        [label_of.get(int(v)) in set(_FILTER_LABELS) for v in ids], dtype=bool
    )
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # selectivity compensation: probe 1/selectivity more lists so the
    # ELIGIBLE candidate pool matches the unmasked search's (recall@3
    # measured 0.42 -> 0.61 at sf0.001 for this ~30% predicate)
    import math

    sel = max(float(mask.mean()), 1.0 / _IVFPQ_NLIST)
    nprobe = math.ceil(_IVFPQ_NPROBE / sel)
    return _ivf_adc_topk_stream(
        spark,
        emb,
        books,
        ids,
        codes,
        coarse,
        assign,
        n_queries=len(ids),
        k=3,
        index_mask=mask,
        nprobe=nprobe,
    )


@query(
    "embed_topk_same_label",
    oracle="""
    WITH u AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dp
        FROM u a JOIN u b
          ON a.i = b.i AND a.label = b.label AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid, nid, round(dp / (x.nrm * y.nrm), 4) AS cosine
        FROM dots
        JOIN norms x ON qid = x.vec_id
        JOIN norms y ON nid = y.vec_id
    )
    SELECT qid, nid, cosine FROM (
        SELECT qid, nid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def embed_topk_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY dynamically filtered exact search: each vector's top-3
    cosine neighbors among vectors sharing ITS OWN label — the
    per-tenant / per-language / per-collection retrieval shape, where
    the predicate differs per query row (vs embed_topk_filtered's one
    static predicate). Fully oracled (label-equality join + windowed
    top-k in SQL).

    Scale shape: label is a PARTITIONING key, not a broadcast filter —
    applyInPandas groups the corpus by label and brute-forces within
    each group, so there is NO driver collect and NO broadcast cap:
    parallelism = |labels|, per-task memory = group size (the blocked
    exact-search discipline of dedup_embedding_cosine; a label group
    too big for one task is exactly the case the ANN twin's per-query
    masking serves). One shuffle on label. Reference: no vector
    surface (SURVEY.md §2.2)."""
    import numpy as np
    import pandas as pd

    def topk_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"qid": [], "nid": [], "cosine": []})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = vk.normalize(np.array(list(pdf["embedding"]), dtype=np.float64))
        sims = np.round(mat @ mat.T, 4)
        picks = [
            vk.topk_by_score_then_id(sims[i], ids, 3, exclude=ids[i])
            for i in range(len(ids))
        ]
        rows = np.repeat(np.arange(len(ids)), [len(p) for p in picks])
        pos = np.concatenate(picks)
        return pd.DataFrame(
            {"qid": ids[rows], "nid": ids[pos], "cosine": sims[rows, pos]}
        )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    return emb.groupBy("label").applyInPandas(topk_group, _COSINE_SCHEMA)


@query("embed_ann_same_label_ivf_pq")
def embed_ann_same_label_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query dynamically filtered ANN via the PERSISTED IVF-PQ
    index (rows-only: ADC arithmetic; label agreement of every emitted
    pair and recall vs the oracled exact twin embed_topk_same_label are
    pinned in tests/test_similarity.py): the scorer carries the stored
    index's label array, and each query's eligible-candidate mask is
    `labels[cand] == its own label` — applied per query AFTER the
    per-task inverted-list grouping, the dynamic-filter counterpart of
    embed_ann_filtered_ivf_pq's static fold. Probes are
    selectivity-scaled exactly as the static path (each label is ~10%
    of the corpus here, so every list is probed — at that selectivity
    a production deployment label-PARTITIONS the codes table instead,
    which is the exact twin's applyInPandas shape; the dynamic mask
    earns its keep when labels are many and the filter is per-query).

    Scale shape: one extra int64 per index vector rides the broadcast;
    per-query cost adds one vectorized label compare. At 100 TB with
    few labels, partition the codes table by label; with many sparse
    labels, this masked path is the one that works."""
    import math

    import numpy as np

    root = _pq_index_artifact(spark, sf_dir)
    books, ids, codes, coarse, assign = load_pq_index(spark, sf_dir, root)
    lab_rows = _read_index_rows(
        spark, sf_dir, "embeddings.parquet", ["vec_id", "label"]
    )
    label_of = {int(v): int(lb) for v, lb in lab_rows}
    index_labels = np.array([label_of[int(v)] for v in ids], dtype=np.int64)
    n_labels = max(1, len(set(index_labels.tolist())))
    nprobe = min(_IVFPQ_NLIST, math.ceil(_IVFPQ_NPROBE * n_labels))
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    return _ivf_adc_topk_stream(
        spark, emb, books, ids, codes, coarse, assign,
        k=3, index_labels=index_labels, nprobe=nprobe,
    )


# Hybrid retrieval: reciprocal-rank fusion of a lexical ranking and a
# vector ranking — the fusion step every hybrid (BM25 + embedding)
# search stack runs (Cormack et al. 2009). Fixed query terms and the
# corpus-centroid query vector keep both retrievers deterministic and
# fully SQL-expressible, so the WHOLE fusion is oracled.
_RRF_TERMS = ("vector", "join", "filter")
_RRF_K = 60
_RRF_LIST = 100
_RRF_TOPN = 20


@query(
    "hybrid_rrf_fusion",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    lex AS (
        SELECT doc_id, count(*) AS lex_score
        FROM tok WHERE w IN {_RRF_TERMS}
        GROUP BY doc_id
    ),
    lex_top AS (
        SELECT doc_id, lex_score FROM lex
        ORDER BY lex_score DESC, doc_id LIMIT {_RRF_LIST}
    ),
    lex_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY lex_score DESC, doc_id) AS rl
        FROM lex_top
    ),
    u AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT i, round(avg(v), 6) AS c FROM u GROUP BY i),
    cn AS (SELECT sqrt(sum(c * c)) AS cnrm FROM cent),
    dots AS (
        SELECT vec_id, sum(v * c) AS dp, sqrt(sum(v * v)) AS vnrm
        FROM u JOIN cent USING (i) GROUP BY vec_id
    ),
    cos AS (
        SELECT vec_id,
               round(dp / (vnrm * (SELECT cnrm FROM cn)), 4) AS cosine
        FROM dots
    ),
    vec_top AS (
        SELECT vec_id, cosine FROM cos
        ORDER BY cosine DESC, vec_id LIMIT {_RRF_LIST}
    ),
    vec_rank AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS rv
        FROM vec_top
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
               COALESCE(1000000000 // ({_RRF_K} + rl), 0)
                 + COALESCE(1000000000 // ({_RRF_K} + rv), 0) AS rrf_ppb,
               COALESCE(rl, 0) AS lex_rank,
               COALESCE(rv, 0) AS vec_rank
        FROM lex_rank l FULL OUTER JOIN vec_rank v ON l.doc_id = v.vec_id
    )
    SELECT doc_id, rrf_ppb, lex_rank, vec_rank FROM fused
    ORDER BY rrf_ppb DESC, doc_id LIMIT {_RRF_TOPN}
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009), fully oracled: a LEXICAL retriever (docs ranked by
    query-term token count for the fixed query {vector, join, filter})
    and a VECTOR retriever (docs ranked by cosine to the 6dp-rounded
    corpus centroid — both engines fuse identical inputs) each produce
    a deterministic top-100 list; per-list ranks convert to bigint
    reciprocal-rank points 1e9 div (60 + rank) — integer division, so
    fusion arithmetic is bit-exact cross-engine — and the summed score
    ranks the final top-20. A doc missing from one list contributes 0
    from it (rank columns report 0), the standard RRF treatment.

    Scale shape: each retriever ends in TakeOrderedAndProject (top-100
    per-partition heaps + driver merge, never a global sort); the
    row_number windows rank 100-row bounded lists (aggregates below —
    the token-count groupBy and the dot-product fold); the fusion is a
    full-outer join of two 100-row sets. The centroid is one 64-cell
    aggregate collected driver-side (constant) and folded in-row via
    zip_with — embedding arrays never shuffle. At 100 TB the retriever
    lists come from the BM25 index and the ANN index respectively;
    fusion cost is O(list x retrievers) regardless of corpus size.
    Reference: no retrieval surface at all (SURVEY.md §2.2)."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
    )
    lex_top = (
        tok.filter(F.col("w").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("lex_score"))
        .orderBy(F.desc("lex_score"), "doc_id")
        .limit(_RRF_LIST)
    )
    lex_rank = lex_top.withColumn(
        "rl",
        F.row_number().over(Window.orderBy(F.desc("lex_score"), "doc_id")),
    ).select("doc_id", "rl")

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = (
        emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "i", "v"
            )
        )
        .groupBy("i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
        .collect()
    )
    cent = [0.0] * _DIM
    for r in cent_rows:
        cent[r.i] = float(r.c)
    cnrm = sum(c * c for c in cent) ** 0.5
    cent_col = F.array(*[F.lit(c) for c in cent])
    cos = emb.select(
        "vec_id",
        F.round(
            dot(F.col("embedding"), cent_col)
            / (l2_norm(F.col("embedding")) * F.lit(cnrm)),
            4,
        ).alias("cosine"),
    )
    vec_top = cos.orderBy(F.desc("cosine"), "vec_id").limit(_RRF_LIST)
    vec_rank = vec_top.withColumn(
        "rv",
        F.row_number().over(Window.orderBy(F.desc("cosine"), "vec_id")),
    ).select(F.col("vec_id").alias("vdoc"), "rv")

    pts = "bigint(1000000000) div (%d + %s)"
    fused = (
        lex_rank.join(
            vec_rank, lex_rank["doc_id"] == vec_rank["vdoc"], "full_outer"
        )
        .select(
            F.coalesce("doc_id", "vdoc").alias("doc_id"),
            (
                F.coalesce(F.expr(pts % (_RRF_K, "rl")), F.lit(0))
                + F.coalesce(F.expr(pts % (_RRF_K, "rv")), F.lit(0))
            ).alias("rrf_ppb"),
            F.coalesce("rl", F.lit(0)).alias("lex_rank"),
            F.coalesce("rv", F.lit(0)).alias("vec_rank"),
        )
    )
    return fused.orderBy(F.desc("rrf_ppb"), "doc_id").limit(_RRF_TOPN)


@query("embed_pq_index_drift")
def embed_pq_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-drift report over the incrementally-maintained PQ index
    (rows-only: recon_cos is PQ arithmetic; the flag's firing threshold
    is pinned both ways in tests/test_similarity.py): per epoch-append,
    the mean/min reconstruction cosine of that batch under the FROZEN
    base codebooks and whether the drift rule demands a retrain. The
    fixture's two epochs are drawn from the training distribution, so
    both report retrain_needed=false — the positive case (a batch the
    codebooks cannot represent) is exercised in tests where the corpus
    can be synthetic. One bounded aggregate; the base codes are never
    read."""
    root = _pq_inc_fixture_root(spark, sf_dir)
    return pq_index_drift_report(spark, root).select(
        "epoch",
        "n_vectors",
        "mean_recon_cos",
        "min_recon_cos",
        "retrain_needed",
    )


@query(
    "embed_topk_join_exact",
    oracle=f"""
    WITH split AS (
        SELECT vec_id, embedding,
               substring(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a' AS is_q
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, is_q,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM split
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.is_q AND NOT b.is_q
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid, nid, round(dp / (x.nrm * y.nrm), 4) AS cosine
        FROM dots
        JOIN norms x ON qid = x.vec_id
        JOIN norms y ON nid = y.vec_id
    )
    SELECT qid, nid, cosine FROM (
        SELECT qid, nid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def embed_topk_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-corpus similarity JOIN: cosine top-3 index-corpus
    neighbors for every query-corpus vector. The deterministic md5
    split plays two tables — 'queries' (buckets < '1a', ~10%) join
    against 'index' (the rest), the new-batch-vs-warehouse shape of a
    retrieval or decontamination pass. This is the oracled ground
    truth the ANN join (embed_ann_join_ivf_pq) is recall-pinned
    against.

    Scale shape: same bounded-broadcast BLAS contract as
    embed_cosine_topk — the INDEX corpus must fit the
    {_MAX_INDEX_ROWS}-row broadcast cap (footer-guarded, fails fast);
    beyond that the production path is the IVF-PQ join twin, whose
    index shards. Queries stream through mapInPandas in Arrow
    batches; brute force is O(|Q| x |X| x d) by definition. The splits
    are disjoint, so the scorer's self-pair exclusion never fires."""
    from .sampling import _TEST_LT, _split_bucket

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_q = _split_bucket("vec_id") < _TEST_LT
    ids, mat_n = _collect_bounded_index(
        spark, sf_dir, emb.filter(~is_q), "embed_topk_join_exact",
        "Use embed_ann_join_ivf_pq for unbounded corpora.",
    )
    n_total = _parquet_num_rows(table_path(sf_dir, "embeddings"), spark)
    n_q = None if n_total is None else n_total - len(ids)
    return _exact_cosine_stream(spark, emb.filter(is_q), ids, mat_n, n_q, k=3)


@query("embed_ann_join_ivf_pq")
def embed_ann_join_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN similarity JOIN between two corpora via the PERSISTED IVF-PQ
    index (rows-only: ADC arithmetic is not SQL-expressible; recall vs
    the exact join twin and corpus-disjointness are pinned in
    tests/test_similarity.py): query-corpus vectors (md5 split, ~10%)
    stream against the stored index, coarse-routed to NPROBE inverted
    lists whose members are RESTRICTED to the index corpus — the
    embedding-join surface SURVEY §2.2 names (two-table top-k, the
    retrieval/decontamination join), built from the same artifact set
    as embed_ann_ivf_pq_indexed so a warm session pays load + score
    only.

    Scale shape: identical to embed_ann_ivf_pq — constant-size
    codebooks/centroids broadcast, 8-byte codes per index vector, the
    corpus restriction folds into the once-per-task inverted-list
    grouping (zero per-query cost). At 100 TB the inverted lists shard
    by bucket; the mask becomes a partition predicate on the stored
    codes table. Reference: no similarity/vector surface (BigQuery
    delegation, src/load/main.py:40)."""
    import hashlib

    import numpy as np

    from .sampling import _TEST_LT, _split_bucket

    root = _pq_index_artifact(spark, sf_dir)
    books, ids, codes, coarse, assign = load_pq_index(spark, sf_dir, root)
    # same md5-bucket membership as the Spark-side split expression:
    # Spark's md5(cast(vec_id as string)) == hashlib md5 of the decimal
    # string (pinned by the disjointness test against the exact twin)
    in_query_corpus = np.array(
        [
            hashlib.md5(str(i).encode()).hexdigest()[:2] < _TEST_LT
            for i in ids
        ]
    )
    emb = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(_split_bucket("vec_id") < _TEST_LT)
    )
    return _ivf_adc_topk_stream(
        spark,
        emb,
        books,
        ids,
        codes,
        coarse,
        assign,
        k=3,
        index_mask=~in_query_corpus,
        # |Q| = the query-corpus bucket count, already on the driver
        n_queries=int(in_query_corpus.sum()),
    )


_MRL_DIMS = [8, 16, 32, 64]


@query(
    "embed_mrl_energy",
    oracle="""
    WITH u AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    per AS (
        SELECT d.dim, u.vec_id,
               CAST(round(sum(CASE WHEN u.i <= d.dim THEN v * v ELSE 0 END)
                          / NULLIF(sum(v * v), 0), 6) AS DECIMAL(12, 6))
                   AS frac
        FROM u CROSS JOIN (VALUES (8), (16), (32), (64)) AS d(dim)
        GROUP BY 1, 2
    )
    SELECT CAST(dim AS INT)                        AS dim,
           CAST(count(frac) AS BIGINT)             AS n_vectors,
           round(CAST(sum(frac) AS DOUBLE) / count(frac), 4)
                                                   AS mean_energy_frac,
           round(CAST(min(frac) AS DOUBLE), 4)     AS min_energy_frac
    FROM per GROUP BY dim
    """,
)
def embed_mrl_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality curve (Kusupati et al. 2022,
    public MRL paper): for each prefix length d in {8, 16, 32, 64},
    the fraction of every vector's L2 energy captured by its first d
    dimensions — the metric that decides how far an embedding column
    can be truncated (for cheaper ANN candidate generation or storage
    tiers) before similarity degrades. Output: one row per d with the
    corpus mean and worst-case fraction.

    Cross-engine float discipline: the per-vector fraction is rounded
    to 6dp and cast DECIMAL(12,6) BEFORE the corpus aggregate, so the
    sum both engines compute is exact decimal arithmetic over identical
    summands — order-independent, unlike a float sum over 5k rows whose
    4th decimal can flip with partition order. The mean divides the
    exact sum as a double at the very end.

    Scale shape: per-vector energies are one in-row fold over the
    array (prefix energies share the staged total), the 4-dim fan-out
    is an in-row explode, and the only shuffle is the 4-group
    aggregate — map-side combined to 4 rows per partition."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sq = lambda x: x.cast("double") * x.cast("double")  # noqa: E731
    tot = F.aggregate("embedding", F.lit(0.0), lambda a, x: a + sq(x))
    staged = emb.select("vec_id", "embedding", tot.alias("tot"))

    def frac(d: int):
        e_d = F.aggregate(
            F.slice("embedding", 1, d), F.lit(0.0), lambda a, x: a + sq(x)
        )
        return (
            F.round(e_d / F.nullif(F.col("tot"), F.lit(0.0)), 6)
            .cast("decimal(12,6)")
            .alias("frac")
        )

    rows = staged.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).cast("int").alias("dim"), frac(d))
                    for d in _MRL_DIMS
                ]
            )
        ).alias("r")
    ).select("r.dim", "r.frac")
    return rows.groupBy("dim").agg(
        F.count("frac").alias("n_vectors"),
        F.round(
            F.sum("frac").cast("double") / F.count("frac"), 4
        ).alias("mean_energy_frac"),
        F.round(F.min("frac").cast("double"), 4).alias("min_energy_frac"),
    )


@query(
    "embed_dim_stats",
    oracle="""
    WITH u AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT CAST(dim AS INT)           AS dim,
           CAST(count(*) AS BIGINT)   AS n,
           round(avg(v), 4)           AS mean,
           round(stddev_samp(v), 4)   AS std,
           round(min(v), 4)           AS lo,
           round(max(v), 4)           AS hi
    FROM u GROUP BY dim
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding column (mean
    / std / min / max per coordinate) — the normalization-and-sanity
    report a training pipeline computes before whitening, quantizing
    (embed_quantize_int8's scale factors come exactly from these
    ranges), or monitoring embedding drift per dimension.

    Scale shape: posexplode fans each vector into (dim, value) rows —
    a constant x-dim blowup — then ONE map-side-combined aggregate
    keyed on the (tiny) dimension index. Output is dim rows regardless
    of corpus size. The explode ships only the float value, never the
    whole vector, through the shuffle."""
    emb = t(spark, sf_dir, "embeddings")
    u = emb.select(F.posexplode("embedding").alias("pos", "v"))
    return (
        u.groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col("v").cast("double")), 4).alias("mean"),
            F.round(F.stddev_samp(F.col("v").cast("double")), 4).alias("std"),
            F.round(F.min(F.col("v").cast("double")), 4).alias("lo"),
            F.round(F.max(F.col("v").cast("double")), 4).alias("hi"),
        )
    )


@query(
    "embed_outlier_detection",
    oracle="""
    WITH u AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, i, avg(v) AS c FROM u GROUP BY label, i
    ),
    dist AS (
        SELECT u.vec_id, u.label,
               round(sqrt(sum((u.v - cent.c) * (u.v - cent.c))), 4) AS d
        FROM u JOIN cent ON u.label = cent.label AND u.i = cent.i
        GROUP BY u.vec_id, u.label
    ),
    stats AS (
        SELECT label, avg(d) AS mu, stddev_samp(d) AS sd
        FROM dist GROUP BY label
    )
    SELECT vec_id, dist.label AS label, d AS dist_to_centroid,
           round((d - mu) / nullif(sd, 0), 4) AS z,
           round((d - mu) / nullif(sd, 0), 4) > 2.0 AS is_outlier
    FROM dist JOIN stats ON dist.label = stats.label
    """,
)
def embed_outlier_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier screening per cluster label: every vector's
    euclidean distance to its label centroid, z-scored within the label;
    z > 2 flags vectors that sit far from their own cluster — the
    mislabeled/garbage-embedding sweep run before similarity indexes are
    built (an outlier poisons its inverted list's centroid and drags
    recall for the whole bucket).

    Determinism: distances are rounded 4dp BEFORE the per-label
    mean/stddev so both engines z-score identical inputs; the gate
    compares the ROUNDED z. Degenerate labels guard (ADVICE r7): a
    2-member label has both members equidistant from the midpoint
    centroid, so sd is exactly 0.0 and (d-mu)/sd would be 0/0 -> NaN —
    and NaN comparison semantics DIFFER between Spark and DuckDB, so
    the divisor is nullif'd on BOTH sides: degenerate labels get NULL z
    and NULL is_outlier instead of engine-dependent NaN flags.

    Scale shape: one posexplode pass feeds both the centroid aggregate
    (label x dim cells — tiny) and the distance aggregate; centroids
    broadcast back onto the (vec, dim) rows; the label-level moment
    stats are a second tiny aggregate broadcast onto per-vector rows.
    Everything shuffles scalars keyed by (label, dim) or vec_id — the
    embedding arrays themselves never move."""
    emb = t(spark, sf_dir, "embeddings")
    u = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "v")
    ).select("vec_id", "label", "i", F.col("v").cast("double").alias("v"))
    cent = u.groupBy("label", "i").agg(F.avg("v").alias("c"))
    dist = (
        u.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))),
                4,
            ).alias("d")
        )
    )
    stats = dist.groupBy("label").agg(
        F.avg("d").alias("mu"), F.stddev_samp("d").alias("sd")
    )
    z = F.round((F.col("d") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)), 4)
    return dist.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        F.col("d").alias("dist_to_centroid"),
        z.alias("z"),
        (z > 2.0).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Cluster-quota diversity sampling (VERDICT r7 item 4): the coverage
# selection step that complements SemDeDup's keep-best — instead of keeping
# the single best per duplicate cluster, draw an equal-size uniform sample
# from EVERY semantic cluster so the selected set spans the embedding space
# (prototype/diversity selection; cf. the cluster-balanced sampling used by
# public data-curation pipelines). Cluster assignment is deterministic
# nearest-centroid over the same codebook embed_ann_ivf quantizes with, and
# the within-cluster draw is a seeded md5 hash order — so the whole
# operator is DuckDB-oracled end to end.
_DIVQ_QUOTA = 32
_DIVQ_SEED = "divq1:"


@query(
    "sample_diversity_quota",
    oracle=f"""
    WITH u AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label AS cl, i, avg(v) AS c FROM u GROUP BY label, i
    ),
    dots AS (
        SELECT u.vec_id, cent.cl,
               sum(u.v * cent.c) AS dot,
               sum(u.v * u.v)    AS vv,
               sum(cent.c * cent.c) AS cc
        FROM u JOIN cent ON u.i = cent.i
        GROUP BY u.vec_id, cent.cl
    ),
    sim AS (
        SELECT vec_id, cl, round(dot / sqrt(vv * cc), 4) AS csim FROM dots
    ),
    assign AS (
        SELECT vec_id, cl, csim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cl) AS rn
        FROM sim
    ),
    pick AS (
        SELECT vec_id, cl AS cluster_id, csim,
               row_number() OVER (PARTITION BY cl
                                  ORDER BY md5('{_DIVQ_SEED}'
                                               || CAST(vec_id AS VARCHAR)),
                                           vec_id) AS pick_rank
        FROM assign WHERE rn = 1
    )
    SELECT cluster_id, vec_id, csim, pick_rank
    FROM pick WHERE pick_rank <= {_DIVQ_QUOTA}
    """,
)
def sample_diversity_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quota sampling for diversity/coverage: assign every
    vector to its nearest codebook centroid (rounded-4dp cosine,
    centroid id breaks ties — identical decisions on both engines),
    then keep a uniform seeded-hash draw of up to _DIVQ_QUOTA vectors
    PER cluster. Output (cluster_id, vec_id, csim, pick_rank) is the
    coverage sample: every region of the embedding space contributes,
    no cluster dominates — the complement of dedup_semantic_keep_best's
    winner-per-duplicate-cluster.

    Determinism: no RNG — the within-cluster order is md5(seed ||
    vec_id), so the draw replays identically on any engine and any
    cluster size, and a grown corpus only appends to (never reshuffles)
    a cluster's existing picks ordering.

    Scale shape: codebook = label_centroids (nlist rows, broadcast);
    assignment fan-out is the same broadcast crossJoin + vectorized
    Arrow scorer embed_ann_ivf uses (O(N * nlist), id-only argmin
    window); the quota draw is a cluster-partitioned window — each
    partition ranks one cluster's members, no global sort anywhere. In
    production the codebook swaps for the persisted ivf_centroids
    artifact (same schema); assignment and draw are unchanged."""
    from pyspark.sql import Window as W

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = label_centroids(spark, sf_dir)
    scored = blas_pair_scores(
        emb.crossJoin(F.broadcast(cent)).select("vec_id", "embedding", "cl", "centroid"),
        ["vec_id", "cl"],
        a_col="embedding",
        b_col="centroid",
        out_col="csim",
        decimals=4,
    )
    wa = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cl")
    assigned = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cl").alias("cluster_id"), "csim")
    )
    draw = F.md5(F.concat(F.lit(_DIVQ_SEED), F.col("vec_id").cast("string")))
    wp = W.partitionBy("cluster_id").orderBy(draw, "vec_id")
    return (
        assigned.withColumn("pick_rank", F.row_number().over(wp).cast("long"))
        .filter(F.col("pick_rank") <= _DIVQ_QUOTA)
        .select("cluster_id", "vec_id", "csim", "pick_rank")
    )


_RANGE_TAU = 0.4


@query(
    "embed_range_search",
    oracle=f"""
    WITH u AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM u GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    )
    SELECT qid, nid, cosine FROM (
        SELECT qid, nid, round(dp / (x.nrm * y.nrm), 4) AS cosine
        FROM dots
        JOIN norms x ON qid = x.vec_id
        JOIN norms y ON nid = y.vec_id
    ) WHERE cosine >= {_RANGE_TAU}
    """,
)
def embed_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact radius (range) similarity search: every directed neighbor
    pair with cosine >= tau — the fixed-threshold retrieval API that
    complements top-k (dedup candidate generation, recall auditing of
    the ANN paths, near-duplicate blocklists all want "everything this
    similar", not "the 5 best").

    Same bounded-index BLAS plumbing as embed_cosine_topk (footer-
    guarded collect, one broadcast, one matmul per Arrow batch); the
    filter compares the ROUNDED cosine on both engines so a boundary
    pair cannot flip membership. Output size is data-dependent (unlike
    top-k) — the tau-band count is exactly what the operator reports.
    For unbounded corpora the scale path is the LSH/IVF candidate
    generation feeding the same exact rescore, as in
    dedup_embedding_lsh."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ids, mat_n = _collect_bounded_index(
        spark, sf_dir, emb, "embed_range_search",
        "Use LSH/IVF candidates + exact rescore for unbounded corpora.",
    )
    # |Q| = |index| here (self range-search)
    return _exact_cosine_stream(spark, emb, ids, mat_n, len(ids), tau=_RANGE_TAU)


_KMEANS_K = 8


@query(
    "embed_kmeans_step",
    oracle=f"""
    WITH u AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS seed_id, i, v FROM u WHERE vec_id < {_KMEANS_K}
    ),
    d2 AS (
        SELECT u.vec_id, s.seed_id,
               round(sum((u.v - s.v) * (u.v - s.v)), 6) AS d2
        FROM u JOIN seeds s ON u.i = s.i
        GROUP BY 1, 2
    ),
    assign AS (
        SELECT vec_id, seed_id AS cluster_id FROM (
            SELECT vec_id, seed_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, seed_id) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    centroid AS (
        SELECT a.cluster_id, u.i, avg(u.v) AS m
        FROM assign a JOIN u ON a.vec_id = u.vec_id
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
        FROM assign GROUP BY 1
    )
    SELECT c.cluster_id, sizes.size,
           round(sqrt(sum((c.m - s.v) * (c.m - s.v))), 4) AS shift
    FROM centroid c
    JOIN seeds s ON c.cluster_id = s.seed_id AND c.i = s.i
    JOIN sizes ON sizes.cluster_id = c.cluster_id
    GROUP BY 1, 2
    """,
)
def embed_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration of k-means (k = 8, seeds =
    vec_id 0..7): assign every vector to its nearest seed by squared L2,
    recompute the element-wise mean centroid per cluster, and report
    (cluster_id, size, centroid shift) — the clustering-primitive
    building block under IVF training (similarity's PQ/IVF trainers run
    this loop driver-side over a SAMPLE; this is the distributed
    full-corpus step a billion-vector training pass needs).

    Determinism across engines: distances are ROUNDED (6dp) before the
    argmin and ties break on seed_id, so an accumulation-order ulp in
    the 64-term sum cannot flip an assignment; the centroid mean is the
    only cross-engine float aggregate and the 4dp-rounded shift is far
    above its noise. Scale shape: the assignment is a broadcast of k
    seed vectors (k rows) against one corpus scan; the recompute
    shuffles (cluster, dim) partial sums — k*64 scalar cells, never
    vectors; no iteration loop lives in this operator (a trainer calls
    it repeatedly, checkpointing assignments)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = F.broadcast(
        emb.filter(F.col("vec_id") < _KMEANS_K).select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("seed_vec"),
        )
    )
    d2 = (
        emb.crossJoin(seeds)
        .select(
            "vec_id",
            "seed_id",
            "embedding",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        "seed_vec",
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, z: acc + z,
                ),
                6,
            ).alias("d2"),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy("d2", "seed_id")
    )
    assigned = (
        d2.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("cluster_id"), "embedding")
    )
    cells = assigned.select(
        "cluster_id", F.posexplode("embedding").alias("i", "v")
    ).select("cluster_id", (F.col("i") + 1).alias("i"), F.col("v").cast("double").alias("v"))
    centroid = cells.groupBy("cluster_id", "i").agg(F.avg("v").alias("m"))
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    seed_cells = seeds.select(
        F.col("seed_id").alias("cluster_id"),
        F.posexplode("seed_vec").alias("j", "sv"),
    ).select(
        "cluster_id", (F.col("j") + 1).alias("i"), F.col("sv").cast("double").alias("sv")
    )
    return (
        centroid.join(F.broadcast(seed_cells), ["cluster_id", "i"])
        .groupBy("cluster_id")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("m") - F.col("sv")) * (F.col("m") - F.col("sv")))),
                4,
            ).alias("shift")
        )
        .join(F.broadcast(sizes), "cluster_id")
        .select("cluster_id", "size", "shift")
    )


_COV_SCALE = 16777216.0  # 2^24: exact (exponent-shift) double multiply
_COV_SCALE_SQ = 281474976710656.0  # 2^48


@query(
    "embed_dim_covariance",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 16777216.0 + 0.5)
                        AS BIGINT)) AS vq
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, generate_subscripts(vq, 1) AS i, unnest(vq) AS v
        FROM q
    ),
    m AS (
        SELECT i, CAST(count(*) AS BIGINT) AS n, sum(v) AS sv
        FROM u GROUP BY i
    ),
    cells AS (
        SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS spp
        FROM u a
        JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    nums AS (
        SELECT c.i, c.j, mi.n,
               mi.n * c.spp - mi.sv * mj.sv AS num
        FROM cells c
        JOIN m mi ON mi.i = c.i
        JOIN m mj ON mj.i = c.j
    )
    SELECT a.i, a.j, a.n,
           floor(CAST(a.num AS DOUBLE)
                 / nullif(CAST(a.n AS DOUBLE) * (a.n - 1)
                          * 281474976710656.0, 0.0)
                 * 10000 + 0.5) / 10000 AS covar,
           floor(CAST(a.num AS DOUBLE)
                 / nullif(sqrt(CAST(di.num AS DOUBLE)
                               * CAST(dj.num AS DOUBLE)), 0.0)
                 * 10000 + 0.5) / 10000 AS corr
    FROM nums a
    JOIN nums di ON di.i = a.i AND di.j = a.i
    JOIN nums dj ON dj.i = a.j AND dj.j = a.j
    """,
)
def embed_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension-pair sample covariance and Pearson correlation of
    the embedding matrix (upper triangle, i <= j) — the d x d second-
    moment statistics every whitening / ZCA / PCA / quantizer-rotation
    step consumes, and the redundancy diagnostic (a near-1 off-diagonal
    corr means two dimensions carry one signal).

    Exact integer core (the r8 driver fail, and its fix): the old form
    rounded sum((a-mu_a)(b-mu_b)) — a partition-order-dependent double
    sum — at 4dp, and one cell sat ~1.9e-8 from a rounding half-
    boundary, so a different host flipped the last ulp and rounded the
    other way (passed both local SF gates, failed the driver's).  Now
    every value is quantized IN-ROW onto a 2^-24 grid with the rbin
    three-IEEE-op form floor(v*2^24 + 0.5) — the multiply is an exact
    exponent shift, so the bigint grid cell depends only on the input
    float, never on order — and all aggregates are exact integer sums
    (decimal(38,0) here, hugeint in DuckDB).  The moment identity
    n*Sxy = n*sum(ab) - sum(a)*sum(b) keeps the numerator an exact
    integer, identical on every engine/host/partitioning; the single
    final division is the only float op, followed by the rbin 4dp form
    (floor-based, valid for either sign since BOTH engines use the
    identical formula).  n*Sxx >= 0 holds exactly (Cauchy-Schwarz on
    integers), and zero-variance dimensions null the corr divisor via
    nullif on both sides (ANSI DIVIDE_BY_ZERO guard); n <= 1 nulls
    covar the same way.  Quantization perturbs the statistics by
    ~2^-24 relative — far below the 4dp output — and the numpy pin in
    tests/test_similarity.py still holds at 5e-4.

    Scale shape — why this works at billions of vectors: per-dim totals
    are one posexplode aggregate (d scalar rows, broadcast); each
    vector expands to its d(d+1)/2 pair products inside the projection,
    so the only shuffle is the map-side-combined (i, j) cell aggregate
    — d(d+1)/2 integer cells total (2080 for d=64), ARRAYS NEVER
    SHUFFLE.  Worst-case magnitude: |v|<=16 => |vq|<=2^28, products
    <=2^56 (bigint-safe per row), and the decimal(38,0) cell sums hold
    to ~1e9 rows with 2^10 headroom.  Two corpus scans (totals,
    products) — the same count as the old two-pass centered form.

    DuckDB oracle mirrors the integer arithmetic through a vec_id
    self-join — quadratic-in-d row fan-out is fine at oracle scale and
    the hugeint sums match the decimal cells exactly."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * _COV_SCALE + F.lit(0.5)
            ).cast("long"),
        ).alias("vq")
    )
    u = q.select(F.posexplode("vq").alias("i0", "v")).select(
        (F.col("i0") + 1).alias("i"), "v"
    )
    m = u.groupBy("i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(28,0)")).alias("sv"),
    )
    d = F.size("vq")
    prods = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), d),
                    lambda i: F.transform(
                        F.sequence(i, d),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at("vq", i) * F.element_at("vq", j)
                            ).cast("decimal(28,0)").alias("p"),
                        ),
                    ),
                )
            )
        ).alias("c"),
    ).select("c.i", "c.j", "c.p")
    cells = prods.groupBy("i", "j").agg(F.sum("p").alias("spp"))
    mi = m.select("i", "n", F.col("sv").alias("svi"))
    mj = m.select(F.col("i").alias("j"), F.col("sv").alias("svj"))

    def _build_nums() -> DataFrame:
        return (
            cells.join(F.broadcast(mi), "i")
            .join(F.broadcast(mj), "j")
            .select(
                "i",
                "j",
                "n",
                (
                    F.col("n").cast("decimal(10,0)") * F.col("spp")
                    - F.col("svi") * F.col("svj")
                ).alias("num"),
            )
            .cache()
        )

    # d(d+1)/2 scalar cells (2080 at d=64) referenced three times (main
    # branch + both diag broadcasts) — memoized and cached so the
    # corpus-scan product pipeline runs once, not three times
    nums = memo(
        spark,
        ("dim_cov_nums", sf_dir),
        fixture_version(spark, sf_dir, "embeddings"),
        _build_nums,
    )
    diag = nums.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("k"), F.col("num").alias("dnum")
    )
    den_cov = F.nullif(
        F.col("n").cast("double") * (F.col("n") - 1) * F.lit(_COV_SCALE_SQ),
        F.lit(0.0),
    )
    den_corr = F.nullif(
        F.sqrt(F.col("dii").cast("double") * F.col("djj").cast("double")),
        F.lit(0.0),
    )
    return (
        nums.join(
            F.broadcast(diag)
            .withColumnRenamed("k", "i")
            .withColumnRenamed("dnum", "dii"),
            "i",
        )
        .join(
            F.broadcast(diag)
            .withColumnRenamed("k", "j")
            .withColumnRenamed("dnum", "djj"),
            "j",
        )
        .select(
            "i",
            "j",
            "n",
            rbin(F.col("num").cast("double") / den_cov, 4).alias("covar"),
            rbin(F.col("num").cast("double") / den_corr, 4).alias("corr"),
        )
    )


# ---------------------------------------------------------------------------
# embed_whitening_apply — ZCA whitening (train driver-side, apply distributed)
# ---------------------------------------------------------------------------

_WHITEN_TRAIN_ROWS = 4096
_WHITEN_EPS = 1e-5


def whitening_apply_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA-whitened embeddings — the consumer of the second-moment
    statistics embed_dim_covariance profiles: decorrelate and
    unit-variance the dimensions (W = U diag(1/sqrt(l+eps)) U^T from
    the eigendecomposition of the training covariance; the symmetric
    square root keeps whitened vectors in the ORIGINAL basis, unlike
    PCA whitening) so downstream cosine/quantization treats every
    direction equally — the standard pre-step before PQ/IVF training
    and embedding-space drift comparison.

    Build/apply split (the PQ codebook discipline, similarity.py
    _pq_fit_build): the transform is TRAINED on a deterministic
    bounded sample — the _WHITEN_TRAIN_ROWS lowest-xxhash64(vec_id)
    rows, an order-free uniform draw that is identical on every
    host/partitioning — collected to the driver (bounded by the limit,
    d x d eigh is microseconds at d=64), then mu and W broadcast and
    APPLIED to the full corpus in Arrow batches (mapInPandas, one
    (batch x d) @ (d x d) BLAS matmul per batch — no per-row Python).
    At 100 TB the apply pass streams; only the 4096-row sample ever
    reaches the driver.

    Rows-only: the eigendecomposition is not SQL-expressible.
    tests/test_similarity.py pins the semantics instead: the whitened
    training sample's covariance is ~identity (off-diagonals below
    tolerance), the transform is symmetric (ZCA), and repeat runs are
    bit-identical (outputs rounded 6dp after float64 BLAS).

    Reference: no embedding surface (BigQuery delegation; BQ ML's
    TRANSFORM clause is the delegated analogue)."""
    import numpy as np
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # vec_id tie-break: equal hashes must not make the sample SET or its
    # row ORDER run-dependent — numpy's sums are order-dependent, so a
    # permuted X would wobble mu/W in the last ulp between sessions
    train = (
        emb.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .limit(_WHITEN_TRAIN_ROWS)
        .collect()
    )
    X = np.array([r.embedding for r in train], dtype=np.float64)
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False)
    lam, U = np.linalg.eigh(cov)
    W = (U * (1.0 / np.sqrt(np.maximum(lam, 0.0) + _WHITEN_EPS))) @ U.T
    b_mu = spark.sparkContext.broadcast(mu)
    b_w = spark.sparkContext.broadcast(W)

    def apply_batches(batches):
        for pdf in batches:
            M = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Z = np.round((M - b_mu.value) @ b_w.value.T, 6)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "white": list(Z)}
            )

    return emb.mapInPandas(
        apply_batches, schema="vec_id bigint, white array<double>"
    )


@query("embed_whitening_apply")
def embed_whitening_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered scalar encoding of whitening_apply_vectors (which
    holds the full semantics docstring): posexplode the whitened
    vector to one (vec_id, dim, value) row per dimension — the
    embed_dim_stats long shape.  The registry's output contract is
    scalar columns only: the external driver canonicalizes results by
    sorting a pandas frame over ALL columns, which crashes on
    list-valued cells (r9 CORRECTNESS err: TypeError unhashable type
    'list'), so no registered query may emit a nested column.
    Pipelines that want the vector form call whitening_apply_vectors
    directly; the explode is a zero-shuffle narrow transform, so the
    scale shape (bounded driver-side train, streamed Arrow apply) is
    unchanged.

    Rows-only: the eigendecomposition is not SQL-expressible; the ZCA
    property pins live in tests/test_similarity.py against the vector
    helper, plus a scalar-encoding consistency pin for this view.

    Reference: no embedding surface (BigQuery delegation)."""
    return whitening_apply_vectors(spark, sf_dir).select(
        "vec_id", F.posexplode("white").alias("dim", "value")
    )


@query("embed_pca_variance_explained")
def embed_pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA eigen-spectrum of the embedding covariance — the
    variance-explained curve that answers "how many dimensions does
    this embedding actually use?" (intrinsic-dimensionality check
    before choosing PQ sub-spaces, MRL truncation levels, or a
    whitening eps; a spectrum where 8 of 64 components carry 99% of
    variance means the index should be built very differently from a
    flat one). Completes the second-moment family: embed_dim_covariance
    (cells) -> embed_whitening_apply (transform) -> this (spectrum).

    The d x d covariance is assembled driver-side from
    embed_dim_covariance's EXACT integer-core cells (d(d+1)/2 = 2080
    bounded rows — a constant-size collect, same class as the codebook
    reads) and eigendecomposed with numpy; output is one row per
    component with the eigenvalue, per-component variance share (ppm),
    and the cumulative curve. Rows-only: eigendecomposition is not
    SQL-expressible; tests/test_similarity.py pins the spectrum against
    an independent np.cov + eigvalsh over the raw matrix and repeat
    determinism (outputs rounded 6dp).

    Scale shape: all corpus-sized work happens inside
    embed_dim_covariance's scalar-cell aggregate (arrays never
    shuffle); this adds one bounded collect + an O(d^3) driver eigh
    (microseconds at d=64) + a d-row createDataFrame."""
    import numpy as np

    rows = embed_dim_covariance(spark, sf_dir).select("i", "j", "covar").collect()
    d = max(r.j for r in rows)
    C = np.zeros((d, d))
    for r in rows:
        C[r.i - 1, r.j - 1] = r.covar
        C[r.j - 1, r.i - 1] = r.covar
    lam = np.linalg.eigvalsh(C)[::-1]
    lam = np.maximum(lam, 0.0)  # clip tiny negative eigenvalues (4dp cells)
    tot = float(lam.sum())
    out, cum = [], 0
    for k, ev in enumerate(lam, start=1):
        ppm = int(round(1_000_000 * float(ev) / tot)) if tot > 0 else 0
        cum += ppm
        out.append((k, float(np.round(ev, 6)), ppm, cum))
    return spark.createDataFrame(
        out, "component int, eigenvalue double, var_ppm bigint, cum_ppm bigint"
    )
