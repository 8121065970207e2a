"""spread_small_input's row-counted sizing (r17, VERDICT r16 items 1/3).

The gate must (a) spread an under-split tiny input only up to
ceil(n_rows / rows-per-task) partitions — never core count — (b) merge
an OVER-split tiny input down to the same cap with a narrow coalesce,
(c) leave a production-shaped input (row target >= parallelism) exactly
as the legacy gate did, and (d) never change results (the scorers are
per-row independent; partition invariance is pinned by the perturb gate
and the ANN bit-equality tests — here we pin the partition counts the
sizing decides).
"""

from __future__ import annotations

from build_a_cloud_based_batch_etl_pipeline_spark.operators.util import (
    _SPREAD_ROWS_PER_TASK,
    spread_small_input,
)


def _df_with_partitions(spark, n_rows: int, n_parts: int):
    return spark.range(n_rows).repartition(n_parts).selectExpr(
        "id as vec_id", "id as v"
    )


def test_row_cap_limits_spread_of_tiny_input(spark):
    par = spark.sparkContext.defaultParallelism
    n = 2 * _SPREAD_ROWS_PER_TASK  # tiny: cap = 2 partitions
    df = _df_with_partitions(spark, n, 1)
    out = spread_small_input(df, "vec_id", n_rows=n)
    assert out.rdd.getNumPartitions() == min(2, par)
    # results unchanged (same rows, any partitioning)
    assert sorted(r.vec_id for r in out.collect()) == list(range(n))


def test_row_cap_coalesces_oversplit_tiny_input(spark):
    par = spark.sparkContext.defaultParallelism
    n = 2 * _SPREAD_ROWS_PER_TASK
    target = min(2, par)
    df = _df_with_partitions(spark, n, par)  # over-split for its size
    out = spread_small_input(df, "vec_id", n_rows=n)
    assert out.rdd.getNumPartitions() == target
    # coalesce, not a shuffle: the plan must carry no Exchange above
    # the repartition the fixture itself created (a shuffle merge such
    # as repartition(2, "vec_id") would add a second one)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" in plan
    # an adaptive plan that has run prints its final and initial plans;
    # count the Exchange nodes of the plan that executes
    assert plan.split("== Initial Plan ==")[0].count("Exchange") == 1


def test_row_cap_inert_when_target_reaches_parallelism(spark):
    """A production-shaped call (ceil(n/256) >= cores) must behave
    exactly like the legacy gate: an already-split input is untouched
    in BOTH directions (no repartition, no coalesce)."""
    par = spark.sparkContext.defaultParallelism
    n = (par + 3) * _SPREAD_ROWS_PER_TASK  # target > par -> cap inert
    df = _df_with_partitions(spark, 64, par + 2)  # "already split"
    out = spread_small_input(df, "vec_id", n_rows=n)
    assert out.rdd.getNumPartitions() == par + 2


def test_legacy_gate_unchanged_without_row_count(spark):
    par = spark.sparkContext.defaultParallelism
    one = _df_with_partitions(spark, 32, 1)
    assert spread_small_input(one, "vec_id").rdd.getNumPartitions() == par
    wide = _df_with_partitions(spark, 32, par + 1)
    assert (
        spread_small_input(wide, "vec_id").rdd.getNumPartitions() == par + 1
    )
