#!/usr/bin/env python
"""Plan inspector: print the physical-plan summary (and optionally the
full formatted plan) for any registered query — the iterate-on-the-plan
loop the engine was built with.

Usage: python tools/explain.py q1_pricing_summary [--full] [--sf DIR]
       python tools/explain.py --all          # summary table for all
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def summarize(plan: str) -> dict[str, int]:
    return {
        "exchanges": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "hash_aggs": plan.count("HashAggregate"),
        "sorts": plan.count("Sort "),
        "bnlj": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "codegen_spans": plan.count("WholeStageCodegen"),
        "python_stages": plan.count("MapInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--full", action="store_true", help="print formatted plan")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--write",
        action="store_true",
        help="regenerate PLANS.md (requires --all)",
    )
    args = ap.parse_args()

    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all
    from build_a_cloud_based_batch_etl_pipeline_spark.session import get_spark

    registry = load_all()
    names = list(registry) if args.all else args.names
    if not names:
        print("give query names or --all; known:", ", ".join(sorted(registry)))
        return 1
    from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import (
        memo_clear,
    )

    spark = get_spark("explain")
    lines = []
    for name in names:
        # Evict every memo entry (util.memo_clear) so every committed
        # plan/budget is the COLD-session plan — the one a fresh
        # pytest/CI run sees. Warm caches change Catalyst's size
        # estimates and can flip broadcast<->SMJ, so a budget captured
        # warm can miss the cold plan. Warm MEMOS change whether a
        # driver-side training loop runs during plan construction,
        # which decides whether a memoized cached subtree is
        # MATERIALIZED at plan time (pack_token_bins_bpe can plan one
        # exchange fewer when bpe_merges is memoized — lazy vocab
        # cache — than when training re-runs and materializes it).
        memo_clear(spark)
        df = registry[name].fn(spark, args.sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        s = summarize(plan)
        line = f"{name:32s} " + " ".join(f"{k}={v}" for k, v in s.items() if v)
        lines.append(line.rstrip())
        print(line)
        if args.full:
            df.explain("formatted")
    if args.write:
        if not args.all:
            print("--write requires --all (PLANS.md is the full registry)")
            return 1
        header = (
            "# PLANS — physical-plan summary per registered query\n\n"
            "Auto-generated by `python tools/explain.py --all --write` at\n"
            "sf0.01 (static plans, pre-AQE-finalization, COLD memo\n"
            "state per query — the plan a fresh session sees). Columns:\n"
            "shuffle exchanges, join strategies, aggregates, sorts,\n"
            "cartesian/BNLJ (allow-listed ones only), Python (Arrow)\n"
            "stages. The no-cartesian and broadcast guardrails in\n"
            "tests/test_plans.py assert the load-bearing properties\n"
            "mechanically.\n\n```\n"
        )
        with open("PLANS.md", "w") as f:
            f.write(header + "\n".join(sorted(lines)) + "\n```\n")
        print(f"wrote PLANS.md ({len(lines)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
