"""Plan-shape regression freeze: every registered query's static plan
must not SHUFFLE MORE than the committed PLANS.md records for it.

The other plan tests assert hand-picked properties for a few queries;
this one mechanically freezes the exchange budget for the WHOLE
registry, so an innocent-looking refactor that sneaks an extra shuffle
into any of the 200+ queries fails CI instead of surviving until a
bench regression. Fewer exchanges than recorded is fine (an
improvement — regenerate PLANS.md to tighten the budget); more is a
regression. Compared at sf0.01, the same scale PLANS.md is generated
at, because join-strategy choices (and so exchange counts) are
data-size dependent. Every memo entry (util.memo_clear) is evicted
before EVERY query, exactly like `tools/explain.py --all --write` does
when generating PLANS.md: committed budgets are COLD-session plans
(what a fresh CI run sees). A warm plan compared against a cold budget
is nondeterministic: warm caches change Catalyst's size estimates
(dedup_clusters can plan fewer exchanges warm than cold), and a warm
memo decides whether bpe_merges training re-runs during plan
construction and materializes the vocab cache (pack_token_bins_bpe
can plan one exchange fewer memoized than retrained)."""

from __future__ import annotations

import re

from build_a_cloud_based_batch_etl_pipeline_spark import plans
from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import memo_clear
from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

SF_PLANS = "/root/testdata/sf0.01"


def _committed_budgets() -> dict[str, int]:
    budgets = {}
    for line in open("PLANS.md"):
        # a query whose whole summary is zeros prints as a bare name
        # (budget 0); anything else is `name k=v k=v ...`
        m = re.match(r"^([a-z]\w+)(\s+\w+=\d+)*\s*$", line)
        if not m or line.startswith(("the ", "at ", "plans", "shuffle")):
            continue
        name = m.group(1)
        ex = re.search(r"exchanges=(\d+)", line)
        budgets[name] = int(ex.group(1)) if ex else 0
    return budgets


def test_no_query_exceeds_committed_shuffle_budget(spark):
    budgets = _committed_budgets()
    assert len(budgets) > 150, "PLANS.md parse failed"
    registry = load_all()
    # PLANS.md must stay in sync with the registry (regenerate via
    # `python tools/explain.py --all` after adding queries)
    missing = sorted(set(registry) - set(budgets))
    assert not missing, f"queries missing from PLANS.md: {missing}"
    over = []
    for name, spec in registry.items():
        # cold-plan semantics, identical to PLANS.md generation
        memo_clear(spark)
        df = spec.fn(spark, SF_PLANS)
        # identical counting to tools/explain.py summarize(): substring
        # count over executedPlan().toString()
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = plan.count("Exchange")
        if got > budgets[name]:
            over.append((name, budgets[name], got))
    assert not over, f"shuffle budget exceeded (name, budget, got): {over}"


def test_cache_once_queries_plan_identically_cold_and_warm(spark):
    """Plan-determinism guard for the query family that shares memoized
    cached subtrees (util.memo):
    the physical join strategies must be IDENTICAL whether the shared
    subtree is cold (fresh session, nothing materialized) or warm
    (another family member already ran and cached it). Without pinned
    join hints, Catalyst's size estimate for an InMemoryRelation subtree
    differs from the un-materialized plan's estimate and can flip
    broadcast<->sort-merge — which is exactly how dedup_clusters' warm-
    captured 4-exchange budget rotted against its 6-exchange cold plan
    once. Any query added to the memoized-cache family must keep this
    green (pin the strategy with F.broadcast()/hints, don't rely on
    estimates)."""
    from tools.explain import summarize

    registry = load_all()
    family = [
        "dedup_clusters",
        "dedup_clusters_doubling",
        "dedup_cluster_stats",
        "dedup_minhash_pairs",
        "dedup_ngram_jaccard",
        "dedup_ngram_containment",
        "dedup_simhash",
        "dedup_semantic_keep_best",
        # memoized-cache owners outside the dedup family with a
        # single-reference cached subtree
        "text_heavy_hitters_cms",
        "dedup_embedding_lsh",
    ]
    # NOT in the family: dedup_triangle_count and embed_ann_ivf
    # reference their cached subtree MULTIPLE times, so the cold
    # (un-materialized) plan textually duplicates the subtree and the
    # warm plan legally RE-PLANS the outer joins around a known-small
    # InMemoryRelation (broadcast where cold estimated sort-merge) —
    # that is AQE doing its job, not budget rot: the budget gate
    # measures cold-evicted plans on both the generation and test
    # sides, so their committed budgets cannot drift with session
    # history.

    def _shape(name):
        df = registry[name].fn(spark, SF_PLANS)
        s = summarize(df._jdf.queryExecution().executedPlan().toString())
        # JOIN STRATEGIES only, not exchange counts: a warm
        # InMemoryRelation does not preserve its subtree's output
        # partitioning, so the warm plan legally re-shuffles above the
        # cache scan (+1 exchange, same strategies). The budget gate is
        # immune — it measures cold, like PLANS.md generation. What must
        # never flip with cache temperature is the JOIN ALGORITHM.
        return {
            k: s[k] for k in ("broadcast_joins", "sortmerge_joins", "bnlj")
        }

    mismatches = []
    for name in family:
        memo_clear(spark)
        cold = _shape(name)
        # materialize every memoized subtree the query registered,
        # then re-plan: this is the "another query ran first" session
        registry[name].fn(spark, SF_PLANS).count()
        warm = _shape(name)
        if cold != warm:
            mismatches.append((name, cold, warm))
    memo_clear(spark)
    assert not mismatches, (
        "cold/warm physical plans diverge (pin the join strategy): "
        f"{mismatches}"
    )
