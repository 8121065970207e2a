#!/usr/bin/env python
"""Three-point scale sweep for the hottest pipeline operators (VERDICT r3
item 2; third point + measured exponent per VERDICT r4 item 5): run each
at sf0.1 and at synthetic 3x and 10x fixtures, and fit the growth
exponent e in t ~ scale^e by least-squares on log t vs log scale. The
sf0.1 bench alone cannot see a super-linear term; two points bound the
ratio; THREE points show whether the parameter rules (bits~log2 N,
nlist~N, occupancy caps) actually bend the curve or just move it.

Fixture construction (built in a temp dir, nothing outside the repo or
/tmp is touched):

- documents x k: copy j of each doc gets every word suffixed with _j and
  doc_id shifted by j*10^7. Per-doc shingle/gram volume (the CPU driver)
  is identical to the original, within-copy near-dup structure replicates
  exactly, and CROSS-copy similarity is zero — so the true output (dup
  pairs, contaminated docs) scales exactly k-fold and a fair linearity
  measurement is possible. A naive byte-duplicate would plant k-clique
  duplicates whose PAIR count grows ~k^2/2-fold — superlinear in the
  answer itself, not in the engine.
- embeddings x k: copy 0 is the original; copies 1..k-1 are fresh seeded
  gaussians (same row count/dim) with LABELS SHIFTED per copy
  (label + j*100). The shift makes the per-label IVF codebook grow with
  the corpus — nlist ~ N, constant vectors per inverted list — which is
  the configuration a k-fold deployment would actually run (the IVF
  analog of the LSH bits rule; holding nlist fixed while N grows makes
  the candidate join definitionally quadratic for ANY inverted-file
  index). LSH bucket geometry: bits(scale) = 4 + round(log2 scale), so
  bucket count tracks corpus size and per-bucket occupancy — and thus
  per-bucket compare cost — stays constant. Holding bits fixed while the
  corpus grows is definitionally quadratic for ANY LSH and measures the
  parameter mistake, not the engine.
- ingest: the e2e batch is synthetic already; 10k / 30k / 100k posts.

Usage: python tools/scale_sweep.py [--runs 2] [--points 1,3,10]
Prints one JSON line: {"queries": {name: {"t": {"1": s, "3": s,
"10": s}, "exponent": e}}, ...}; e == 1.0 is perfectly linear. The
log-log fit attributes fixed per-query overhead (Spark's ~0.3-1 s
scheduling floor) to the workload, so measured exponents UNDER-state
asymptotic growth at these sizes for the fast operators; they are an
upper-confidence check for super-linearity, not a throughput model.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/root/testdata/sf0.1"


def build_fixture(workdir: str, scale: int) -> str:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(workdir, f"sf1x{scale}")
    os.makedirs(out, exist_ok=True)

    docs = pq.read_table(os.path.join(SF1, "documents.parquet"))
    pdf = docs.to_pandas()
    parts = []
    for k in range(scale):
        cp = pdf.copy()
        if k:
            sfx = f"_{k}"
            cp["text"] = [
                " ".join(w + sfx for w in t.split()) for t in cp["text"]
            ]
            cp["doc_id"] = cp["doc_id"] + k * 10_000_000
            cp["n_chars"] = cp["text"].str.len()
        parts.append(cp)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(big, preserve_index=False),
        os.path.join(out, "documents.parquet"),
    )

    emb = pq.read_table(os.path.join(SF1, "embeddings.parquet")).to_pandas()
    dim = len(emb["embedding"].iloc[0])
    eparts = [emb]
    for k in range(1, scale):
        rng = np.random.RandomState(1000 + k)
        cp = emb.copy()
        cp["vec_id"] = cp["vec_id"] + k * 10_000_000
        # shifted labels => the per-label IVF codebook (nlist) tracks the
        # corpus size, holding vectors-per-inverted-list constant
        cp["label"] = cp["label"] + k * 100
        cp["embedding"] = [
            row.astype(np.float32) for row in rng.randn(len(emb), dim)
        ]
        eparts.append(cp)
    bige = pd.concat(eparts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(bige, preserve_index=False),
        os.path.join(out, "embeddings.parquet"),
    )
    return out


def timed(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def fit_exponent(points: list[int], times: dict[str, float]) -> float:
    """Least-squares slope of log t on log scale — the measured growth
    exponent (1.0 == linear, 2.0 == quadratic)."""
    xs = [math.log(p) for p in points]
    # clamp to 1ms: timings are rounded to 3dp, and log(0.0) from a
    # sub-millisecond run would crash the whole sweep
    ys = [math.log(max(times[str(p)], 1e-3)) for p in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 2)


def print_partial(results: dict) -> None:
    """Stream each finished entry to stderr so a wall-clock kill of the
    sweep loses at most the in-flight operator, not the whole run
    (learned r7: a 3500 s timeout ate a 55-minute sweep's entire
    output)."""
    import sys as _sys

    last = list(results)[-1]
    print(
        f"PARTIAL {json.dumps({last: results[last]})}",
        file=_sys.stderr,
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--points", default="1,3,10")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated substring filters: run only matching rows "
        "(targeted re-measurement after touching one family — the full "
        "sweep is ~an hour)",
    )
    args = ap.parse_args()
    points = sorted({int(p) for p in args.points.split(",")} | {1})
    only = [s.strip() for s in args.only.split(",")] if args.only else None

    def want(name: str) -> bool:
        return only is None or any(s in name for s in only)

    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all
    from build_a_cloud_based_batch_etl_pipeline_spark.session import get_spark
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
        ann_lsh_topk,
    )
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import t as tbl

    spark = get_spark("scale_sweep")
    reg = load_all()

    def materialize(df):
        df.write.mode("overwrite").format("noop").save()

    workdir = tempfile.mkdtemp(prefix="scale_sweep_")
    results: dict[str, dict] = {}
    try:
        fixture = {1: SF1}
        for p in points:
            if p != 1:
                fixture[p] = build_fixture(workdir, p)

        sweep_queries = [
            "decontaminate_ngram_overlap",
            "dedup_minhash_pairs",
            "text_tfidf",
            "doc_chunk_cdc",
            "text_heavy_hitters_cms",
            # nlist tracks corpus size via the label shift above
            "embed_ann_ivf",
            # r6: repeated-span islands (suffixed copies share nothing
            # cross-copy, so true spans — and the rep-gram table — scale
            # exactly k-fold) and the incremental-index dedup query side
            # (the fingerprint-keyed memo makes run 1 pay the index
            # build; min-of-runs then measures the warm query path, the
            # cost a production batch actually pays).
            "dedup_repeated_spans",
            "dedup_incremental_index",
            # r6 additions: inverted-index build (vocab scales k-fold —
            # suffixed copies share no terms — so the dictionary agg and
            # the per-term top-posting window must both stay linear),
            # positional phrase search (postings are filtered to the two
            # phrase terms before the adjacency join: cost is the scan +
            # a candidate set that scales with the phrase's own
            # frequency, not the corpus), and the dataset-card rollup
            # (one pass + one global aggregate — the constant-output
            # observability query must not hide a super-linear distinct).
            "text_inverted_index",
            "text_phrase_search",
            "pipeline_dataset_card",
            # BM25 scoring touches only the query terms' postings after
            # the shared tf shuffle; the Bloom confusion build/probe is
            # one explode + a broadcast bitset join — both must track
            # the corpus linearly.
            "text_bm25_rank",
            "decontaminate_bloom_confusion",
            # r7: the ITERATIVE-GRAPH operator (VERDICT r6 item 4) —
            # convergence-loop operators are the classic 100x-scale
            # surprise. The suffixed copies share nothing cross-copy, so
            # the duplicate graph replicates k-fold with UNCHANGED
            # component diameters: round count must stay constant and
            # per-round shuffle volume must scale linearly, i.e. a
            # measured exponent ~1. (the memo makes min-of-runs time
            # the propagation loop + cluster joins on a warm edge set —
            # the edge-build cost is dedup_minhash_pairs' own sweep row.)
            "dedup_clusters",
            # r8: DSIR importance weights (one (doc,bucket) tf shuffle +
            # 4096-row bounded bucket stats — must track the token
            # stream linearly) and the centroid-quota diversity sampler
            # (assignment is the same N x nlist fan-out as
            # embed_ann_ivf under the label-shift rule; the quota draw
            # is a cluster-partitioned window).
            "sample_importance_weights",
            "sample_diversity_quota",
            # r8 session additions: PMI collocations (suffixed copies
            # share no terms, so the cached pair dictionary scales
            # exactly k-fold — the one-scan + vocab-bounded-derivations
            # shape must stay linear), source-pair JS divergence (the
            # term-keyed dictionary self-join grows k-fold in terms
            # while the pair fan-out stays |sources|^2-bounded), and the
            # distributed Lloyd iteration (N x k seed fan-out + the
            # (cluster, dim) scalar-cell shuffle — both linear in N).
            "text_collocation_pmi",
            "text_js_divergence",
            "embed_kmeans_step",
            # r9: the two consumers of the persisted edge artifact. The
            # suffixed copies replicate the dup graph k-fold with zero
            # cross-copy edges, so the 5 fixed integer power iterations
            # see k-fold nodes/edges with unchanged degree structure
            # (rounds constant by construction -> exponent ~1), and the
            # triangle population scales exactly k-fold. As with
            # dedup_incremental_index, run 1 pays the fingerprint-keyed
            # edge-artifact build; min-of-runs measures the warm query
            # path a production batch pays.
            "dedup_pagerank",
            "dedup_triangle_count",
            # r11: the two-corpus ANN join over the persisted IVF-PQ
            # index. The md5 split keeps |Q| ~ N/10 as the corpus
            # replicates, the index mask keeps candidates in the other
            # corpus, and nlist is constant — so per-query probe lists
            # grow ~k and total cost ~k^2/nlist... except the fixture's
            # fresh-gaussian copies keep per-list occupancy balanced, so
            # the measured exponent isolates the |Q| x per-probe-cost
            # product (expected ~super-linear toward e~2 at FIXED nlist;
            # the production rule — like bits~log2 N for LSH — is
            # nlist ~ N, which the IVF sweep row above measures at
            # e~0.1; this row documents the parameter-mistake cost for
            # the join the same way the r4 fixed-bits LSH row did).
            # Run 1 pays the fingerprint-keyed index build; min-of-runs
            # measures the warm query path.
            "embed_ann_join_ivf_pq",
            # r12: the incrementally-maintained ANN index (base build on
            # ~90% + two epoch appends against frozen codebooks, all
            # inside the fingerprint-keyed artifact build paid by run 1;
            # min-of-runs measures warm load+union+score). Same
            # fixed-nlist caveat as the join row: the registered query
            # holds nlist constant, so the measured exponent documents
            # the parameter-mistake cost; the production rule stays
            # nlist ~ N (the embed_ann_ivf row measures that at e~0.1).
            "embed_ann_pq_incremental",
            # r12: exact filtered search. The label-shifted copies keep
            # only copy-0 labels inside the predicate, so the broadcast
            # candidate side stays CONSTANT as the corpus replicates
            # while queries grow k-fold — expected e~1 dominated by the
            # query-side scan (the realistic regime: a selective filter
            # makes exact search CHEAPER per corpus growth, which is
            # why the exact path is the production choice whenever the
            # filtered pool fits the broadcast cap).
            "embed_topk_filtered",
        ]
        sweep_queries = [n for n in sweep_queries if want(n)]
        for name in sweep_queries:
            fn = reg[name].fn
            ts = {
                str(p): timed(lambda: materialize(fn(spark, fixture[p])), args.runs)
                for p in points
            }
            results[name] = {"t": ts, "exponent": fit_exponent(points, ts)}
            print_partial(results)

        run_graph = want("graph_components")
        # Iterative component labeling on a CONTROLLED synthetic graph
        # (VERDICT r6 item 4, second iterative-graph row). A data-driven
        # edge set is the wrong instrument here: the gaussian embedding
        # copies produce a near-critical random cosine graph whose giant
        # component's diameter EXPLODES with k — the sweep then measures
        # a graph phase transition, not the engine (found r7: the 10x
        # point ran 30+ min in pointer-doubling escalation). Instead the
        # fixture replicates a fixed component mix k-fold — per copy
        # 2000 5-cliques (the realistic mass-dup shape) and 40 paths of
        # 25 nodes (diameter 24 > the plain cap of 15, so every run
        # exercises the doubling ESCALATION path end-to-end): rounds are
        # k-invariant by construction, per-round shuffle volume is
        # k-proportional, so the measured exponent isolates exactly the
        # "rounds x shuffle growth" question.
        import pandas as _pd

        from build_a_cloud_based_batch_etl_pipeline_spark.operators.dedup import (
            propagate_min_label,
        )
        from pyspark.sql import functions as F

        def graph_fixture(k: int):
            rows = []
            for c in range(2000 * k):  # 5-cliques
                base = c * 5
                rows += [
                    (base + i, base + j)
                    for i in range(5)
                    for j in range(i + 1, 5)
                ]
            off = 2000 * k * 5
            for c in range(40 * k):  # 25-node paths
                base = off + c * 25
                rows += [(base + i, base + i + 1) for i in range(24)]
            pdf = _pd.DataFrame(rows, columns=["doc_a", "doc_b"])
            return spark.createDataFrame(pdf).repartition(32).cache()

        def components(edges) -> None:
            members = (
                edges.select(F.col("doc_a").alias("doc_id"))
                .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            nodes = members.select("doc_id", F.col("doc_id").alias("label"))
            materialize(propagate_min_label(nodes, edges))

        if run_graph:
            ts = {}
            for p in points:
                edges = graph_fixture(p)
                edges.count()  # materialize the cache outside the clock
                ts[str(p)] = timed(lambda: components(edges), args.runs)
                edges.unpersist()
            results["graph_components(cliques+chains, escalation path)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # ann_lsh: bits tracks corpus size (see module docstring).
        def ann(sf_dir: str, bits: int):
            emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
            materialize(
                ann_lsh_topk(emb, bits=bits, tables=8, cache_key=("sweep", sf_dir, bits))
            )

        if want("embed_ann_lsh(bits~log N)"):
            ts = {
                str(p): timed(
                    lambda: ann(fixture[p], 4 + round(math.log2(p))), args.runs
                )
                for p in points
            }
            results["embed_ann_lsh(bits~log N)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # multiprobe variant (r8, VERDICT r7 item 5): same bits rule +1
        # (finer buckets than the exact-match path can afford), tables
        # pinned at 3 — Hamming-1 probes recover the recall the extra
        # bits lose, so the per-vector signature/shuffle cost is CONSTANT
        # in N (3 keyed rows) instead of 8, and only the id-only probe
        # fan-out grows with bits (log N).
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
            ann_lsh_topk_multiprobe,
        )

        def ann_mp(sf_dir: str, bits: int):
            emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
            materialize(
                ann_lsh_topk_multiprobe(
                    emb, bits=bits, tables=3,
                    cache_key=("sweep_mp", sf_dir, bits),
                )
            )

        if want("embed_ann_lsh_multiprobe"):
            ts = {
                str(p): timed(
                    lambda: ann_mp(fixture[p], 5 + round(math.log2(p))),
                    args.runs,
                )
                for p in points
            }
            results["embed_ann_lsh_multiprobe(bits~log N, tables=3)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # ingest e2e: 10k -> 100k posts through extract -> landing -> load.
        import json as _json

        from build_a_cloud_based_batch_etl_pipeline_spark import ingest
        from build_a_cloud_based_batch_etl_pipeline_spark.config import IngestConfig

        def ingest_run(n_posts: int) -> None:
            payload = _json.dumps(
                [
                    {"userId": i % 97, "id": i, "title": f"t{i}", "body": "x" * 80}
                    for i in range(n_posts)
                ]
            ).encode()
            wd = tempfile.mkdtemp(prefix="sweep_ingest_", dir=workdir)
            cfg = IngestConfig(
                source_url="fake://posts",
                landing_uri=f"{wd}/landing",
                warehouse_uri=f"{wd}/warehouse",
                checkpoint_uri=f"{wd}/ckpt",
            )
            ingest.extract_to_landing(spark, cfg, fetcher=lambda url: payload)
            assert ingest.load_landing_to_table(spark, cfg) == n_posts

        if want("ingest_e2e"):
            ts = {
                str(p): timed(lambda: ingest_run(10_000 * p), args.runs)
                for p in points
            }
            results["ingest_e2e"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # r14: the sharded ANN serving path (VERDICT r13's demand).
        # |Q| is FIXED (200 vectors) while the corpus replicates, so
        # the measured exponent isolates the serving architecture's
        # corpus term: each task groups its own shard's lists once
        # (linear in shard size) and scores |Q| x nprobe probed lists
        # (~|Q| x nprobe x N/nlist candidates — linear in N at the
        # fixture's CONSTANT nlist; the production nlist ~ N rule,
        # measured at e~0.1 by the embed_ann_ivf row, would make the
        # per-query term constant). The reduce is |Q| x k x nshards
        # rows, corpus-independent. Run 1 pays the one-time index
        # build (driver-bounded training + distributed encode);
        # min-of-runs measures the warm serving path a request batch
        # pays.
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.similarity import (
            build_pq_index,
            serve_ann_ivf_pq,
        )

        if want("serve_ann_ivf_pq"):

            def serve_run(p: int) -> None:
                root = os.path.join(workdir, f"srv_idx_x{p}")
                build_pq_index(spark, fixture[p], root)  # warm: skips
                q = (
                    tbl(spark, fixture[p], "embeddings")
                    .select("vec_id", "embedding")
                    .orderBy("vec_id")
                    .limit(200)
                )
                materialize(serve_ann_ivf_pq(spark, q, root))

            ts = {
                str(p): timed(lambda: serve_run(p), args.runs)
                for p in points
            }
            results["serve_ann_ivf_pq(sharded, |Q|=200, nlist const)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # r15 (VERDICT r14 item 8): the OTHER serving axis — corpus
        # FIXED (the x1 fixture + its already-built index), |Q| scaled
        # 200 x p. The r14 row proved the corpus term (e=0.02 at fixed
        # |Q|); this row confirms the query term the reduce shape
        # predicts — per-query work is nprobe probed lists x constant
        # list size plus the |Q| x k x nshards reduce, both LINEAR in
        # |Q| (the 1024-query LUT block bounds transient memory, not
        # time). e >> 1 here would mean the broadcast/LUT path hides a
        # super-linear query term the fixed-|Q| row could never see.
        if want("serve_ann_ivf_pq_qscale"):

            def serve_q_run(p: int) -> None:
                root = os.path.join(workdir, "srv_idx_x1")
                build_pq_index(spark, fixture[1], root)  # warm: skips
                q = (
                    tbl(spark, fixture[1], "embeddings")
                    .select("vec_id", "embedding")
                    .orderBy("vec_id")
                    .limit(200 * p)
                )
                materialize(serve_ann_ivf_pq(spark, q, root))

            ts = {
                str(p): timed(lambda: serve_q_run(p), args.runs)
                for p in points
            }
            results["serve_ann_ivf_pq_qscale(sharded, corpus fixed, |Q|=200xp)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # r14 (VERDICT r13 item 4): the delta-maintained BPE trainer.
        # The shared suffixed-copy fixture is unusable here twice over:
        # `w_3` fails _bpe_vocab's ^[a-z]+$ filter (scaled copies would
        # add ZERO vocabulary), and the synthetic corpus has only ~31
        # distinct alpha words — any sweep on it times Spark's
        # scheduling floor. This fixture builds a REAL vocabulary:
        # 60k seeded pseudo-words (3-10 letters) per copy, letter-tag
        # suffixed per copy so the distinct-word table — the quantity
        # per-round trainer cost is bounded by — grows exactly k-fold
        # with preserved length/pair structure, zipf-ish repetition
        # (word i appears ~8000/(i+1) times) so merge selection has
        # realistic skew. 60k (600k words at the 10x point) is sized so
        # a FULL pair recount is real work (~5M exploded pairs at 10x)
        # instead of Spark's ~0.4 s/round scheduling floor — a 4k-word
        # draft of this fixture measured BOTH trainers flat at e~0.0
        # because 16 rounds of fixed job overhead swamped the vocab
        # term entirely. Runs are COLD by construction (memo + cache
        # cleared per run, which is why these rows run LAST): the
        # trainer IS the artifact build, so a warm min-of-runs would
        # time a dict lookup. Two rows on the SAME fixtures: the
        # delta trainer (pair table maintained with deltas from only
        # merge-affected words — expected near-flat: per-round work is
        # the affected slice + a vocabulary-bounded fold) vs the naive
        # full-recount trainer (16 x full pair recount + full rewrite —
        # expected to grow with vocab). The GAP is the measurement the
        # 'production shape' claim rests on.
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.text import (
            bpe_merges,
            bpe_merges_delta,
        )
        from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import (
            memo_clear,
        )

        def bpe_fixture(k: int) -> str:
            import numpy as npl
            import pandas as pdl

            out = os.path.join(workdir, f"bpe_x{k}")
            if os.path.isdir(out):
                return out
            os.makedirs(out)
            rng = npl.random.RandomState(7)
            letters = list("abcdefghijklmnopqrstuvwxyz")
            base = [
                "".join(rng.choice(letters, size=rng.randint(3, 11)))
                for _ in range(60_000)
            ]
            rows = []
            did = 0
            for j in range(k):
                sfx = "" if j == 0 else "q" + chr(ord("a") + j - 1)
                stream = []
                for i, w in enumerate(base):
                    stream += [w + sfx] * max(1, 8000 // (i + 1))
                rng.shuffle(stream)
                for lo in range(0, len(stream), 200):
                    rows.append((did, " ".join(stream[lo : lo + 200])))
                    did += 1
            pdl.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
                os.path.join(out, "documents.parquet"), index=False
            )
            return out

        def bpe_cold(trainer, d: str) -> None:
            memo_clear(spark)
            trainer(spark, d)

        if want("text_bpe_merge_table_delta"):
            ts = {
                str(p): timed(
                    lambda: bpe_cold(bpe_merges_delta, bpe_fixture(p)),
                    args.runs,
                )
                for p in points
            }
            results["text_bpe_merge_table_delta(cold, vocab x k)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        if want("bpe_merges_full_recount"):
            ts = {
                str(p): timed(
                    lambda: bpe_cold(bpe_merges, bpe_fixture(p)), args.runs
                )
                for p in points
            }
            results["bpe_merges_full_recount(cold, vocab x k)"] = {
                "t": ts, "exponent": fit_exponent(points, ts)
            }
            print_partial(results)

        # The PRODUCTION axis for a BPE trainer is k (merge rounds,
        # ~30000 in real tokenizers), not corpus size — per-round cost
        # is vocabulary-bounded for BOTH trainers (rows above), but the
        # naive trainer's round r recomputes its r-deep lazy
        # regexp-chain from scratch (argmax is its only action), so its
        # TOTAL cost is O(k^2) vocabulary scans, while the delta
        # trainer materializes per-round state and pays O(k) rounds of
        # bounded work. This row measures exactly that: both trainers,
        # cold, on the FIXED 60k-word fixture, k in {16, 64, 256} —
        # exponent ~1 is the delta claim, superlinear is the naive
        # chain.
        if want("bpe_trainer_k_sweep"):
            d1 = bpe_fixture(1)
            ks = [16, 64, 256]
            for label, trainer in [
                ("delta", bpe_merges_delta),
                ("full_recount", bpe_merges),
            ]:
                ts = {
                    str(kk): timed(
                        lambda kk=kk: bpe_cold(
                            lambda s, d: trainer(s, d, k=kk), d1
                        ),
                        args.runs,
                    )
                    for kk in ks
                }
                results[f"bpe_{label}(cold, 60k vocab, k in 16/64/256)"] = {
                    "t": ts, "exponent": fit_exponent(ks, ts)
                }
                print_partial(results)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps({"points": points, "runs": args.runs, "queries": results}))


if __name__ == "__main__":
    main()
