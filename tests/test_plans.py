"""Physical-plan guardrails (SURVEY.md §7 step 7): correctness tests prove
the rows are right; these prove the PLAN is the one designed for 100 TB —
filters pushed into scans, columns pruned, constant dims broadcast, no
accidental cartesian products, top-N without a global sort."""

from __future__ import annotations

from build_a_cloud_based_batch_etl_pipeline_spark import plans
from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all

REGISTRY = load_all()


def _df(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir)


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    assert plans.has_pushed_filters(df)


def test_q1_column_pruning(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    schemas = plans.scans_read_columns(df)
    assert schemas, "no parquet scan found"
    # q1 needs 7 of lineitem's 11 columns; the scan must not read the rest
    assert all("l_partkey" not in s and "l_suppkey" not in s for s in schemas)


def test_q6_no_shuffle_single_agg(spark, sf_dir):
    # global agg: one partial/final exchange only
    df = _df(spark, sf_dir, "q6_forecast_revenue")
    assert plans.count_shuffles(df) <= 1


def test_broadcast_dims_use_broadcast_join(spark, sf_dir):
    df = _df(spark, sf_dir, "join_broadcast_dims")
    assert plans.uses_broadcast_join(df)
    assert not plans.has_cartesian_or_bnlj(df)


def test_q5_star_join_broadcasts_dims(spark, sf_dir):
    df = _df(spark, sf_dir, "q5_region_revenue")
    assert plans.uses_broadcast_join(df)


def test_range_band_join_is_not_nested_loop(spark, sf_dir):
    """The bucketized band join must plan as an equi (hash/merge) join —
    the naive theta formulation would be BroadcastNestedLoopJoin."""
    df = _df(spark, sf_dir, "join_range_band")
    assert not plans.has_cartesian_or_bnlj(df)


def test_orderby_limit_uses_topk_not_global_sort(spark, sf_dir):
    df = _df(spark, sf_dir, "orderby_limit")
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_wholestage_codegen_active(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    # AQE tags codegen regions only in the finalized plan -> execute first
    df.collect()
    assert plans.wholestage_codegen_spans(df) >= 1


# Queries whose plan contains a cartesian/BNLJ ON PURPOSE:
# - join_cross: the cross-join operator itself.
# - q11_important_stock, q15_top_supplier, text_tfidf: 1-row global
#   aggregate joined back via broadcast crossJoin (the scalar-threshold
#   pattern — O(1) broadcast, strictly better than a driver collect).
# - embed_ann_ivf: the nearest-centroid assignment broadcasts the tiny
#   codebook (nlist rows) against every vector — O(N * nlist) by design.
# - events_funnel: final assembly crossJoins three 1-row stage counts.
INTENTIONAL_CROSS = {
    "join_cross",
    "q11_important_stock",
    "q15_top_supplier",
    "text_tfidf",
    "embed_ann_ivf",
    "events_funnel",
    # 1-row corpus-total / normalizer aggregates broadcast back onto
    # per-source rows (same scalar-threshold pattern as q11/q15/tfidf)
    "sample_domain_mix",
    "sample_temperature_mix",
    "text_unigram_logprob",
    "text_heavy_hitters_cms",
    "sample_balanced_classes",
    # composes text_unigram_logprob, inheriting its 1-row corpus-total
    # broadcast crossJoin
    "text_filter_funnel",
    # 1-row bounds/boundaries aggregates broadcast back onto the scan
    # (min/max grid for the Morton key; decile boundaries for binning)
    "zorder_key",
    "feature_quantile_bins",
    # 1-row (N, avgdl) BM25 constants broadcast onto the postings scan
    "text_bm25_rank",
    # 1-row corpus totals (n_tok, n_pair) broadcast onto the
    # vocabulary-bounded pair dictionary
    "text_collocation_pmi",
    # k-row (k=8) seed-vector broadcast against the corpus scan — the
    # nearest-seed assignment join
    "embed_kmeans_step",
    # 1-row position-ordered means-array broadcast onto the corpus scan
    # (in-row centering before the (i, j) cell aggregate)
    "embed_dim_covariance",
    # |sources|^2-bounded pair enumeration (source_a < source_b theta
    # join over the broadcast totals table) so fully-disjoint pairs are
    # reported at jsd = ln 2
    "text_js_divergence",
    # pairwise sketch self-join over the handful of per-type sketch
    # rows (type_a < type_b theta predicate on a broadcast of O(types))
    "agg_hll_intersection",
    # 1-row global min/max bounds + totals broadcasts for the KS grid
    "dq_ks_drift",
    # 1-row ingestion high-water-mark broadcast onto the event scan
    "dq_freshness",
    # 1-row average-balance threshold broadcast onto the customer scan
    # (TPC-H Q22's correlated scalar subquery, decorrelated)
    "q22_global_sales_opportunity",
    # five (total x orphans) 1-row count pairs assembled by crossJoin
    # (the events_funnel constant-assembly pattern)
    "dq_referential_integrity",
    # 1-row (nq, np) smoothing-total aggregate broadcast onto the 4096
    # bucket rows (DSIR log-ratio table — scalar-threshold pattern)
    "sample_importance_weights",
    "sample_dsir_resample",
    # nearest-centroid assignment broadcasts the tiny codebook against
    # every vector (same O(N * nlist) fan-out as embed_ann_ivf)
    "sample_diversity_quota",
    # 1-row weight-sum total broadcast onto the |sources| inventory rows
    # (the q11/q15 scalar-threshold pattern)
    "sample_mixture_plan",
    # same shape with BPE-token inventories (r12)
    "sample_mixture_plan_bpe",
}


def test_no_query_plans_cartesian(spark, sf_dir):
    """No registered query may contain an unintended cartesian product /
    BNLJ — the exceptions above are cartesian by design."""
    offenders = []
    for name, spec in REGISTRY.items():
        if name in INTENTIONAL_CROSS:
            continue
        df = spec.fn(spark, sf_dir)
        if plans.has_cartesian_or_bnlj(df):
            offenders.append(name)
    assert not offenders, f"cartesian/BNLJ in: {offenders}"


def test_cms_estimation_is_join_free_single_shuffle(spark, sf_dir):
    """CMS estimation must be a pure map over the term table: the
    filled 4x1024 sketch rides as one packed string literal (r11 —
    replacing the broadcast estimation join, whose per-run broadcast
    exchange was ~2/3 of warm latency), so the only exchange left is
    the term-count aggregation itself. A join or a second shuffle here
    means the constant-size-sketch lookup regressed to data motion."""
    df = _df(spark, sf_dir, "text_heavy_hitters_cms")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "CMS estimation must not join"
    # the one term-count exchange prints twice in a COLD plan (once in
    # the memoized cached subtree's definition, once under its scan), so the
    # textual count is <=2 for <=1 unique shuffle
    assert plans.count_shuffles(df) <= 2


def test_cdc_chunking_single_shuffle_key(spark, sf_dir):
    """CDC chunking keys every exchange on doc_id (window + chunk agg
    reuse the same partitioning family); there must be no join and no
    cartesian anywhere in the plan."""
    df = _df(spark, sf_dir, "doc_chunk_cdc")
    assert not plans.has_cartesian_or_bnlj(df)
    assert plans.count_shuffles(df) <= 2


def test_asof_variants_single_shuffle(spark, sf_dir):
    """The as-of variants keep the union+window shape: bounded shuffles
    on the partition key (plus AQE read), never a join node. The nearest
    composition runs TWO directed passes, so its bound is doubled — its
    scale claim ('no range-join explosion') is exactly this assert."""
    for name, bound in (
        ("join_asof_forward", 2),
        ("join_asof_tolerance", 2),
        ("join_asof_nearest", 4),
    ):
        df = _df(spark, sf_dir, name)
        assert not plans.has_cartesian_or_bnlj(df), name
        assert plans.count_shuffles(df) <= bound, name


# Queries allowed to plan a GLOBAL window (Window without partitionBy):
# each must consume a bounded input — an aggregate over a constant-bound
# key domain, or a dimension-table scan — never raw fact rows. SCALE.md
# "Windows" documents each case.
GLOBAL_WINDOW_BOUNDED = {
    # cumulative coverage over the distinct-term vocabulary (aggregate
    # below the window; bounded by vocabulary size, not corpus size)
    "text_vocab_coverage",
    # BPE pair ranking over the alphabet^2-bounded pair-count table
    # (aggregate below the window; same boundedness argument)
    "text_bpe_pair_stats",
    # range frame over the supplier dim (bounded dim scan, stated in its
    # docstring)
    "window_range_frame",
    # ratio-to-report grand total over nation-level aggregates (<= 25
    # rows below the window)
    "window_ratio_to_report",
    # Zipf rank over the distinct-term vocabulary (aggregate below the
    # window; same boundedness argument as text_vocab_coverage)
    "text_zipf_slope",
    # cumulative CDF over the fixed 256-bin KS grid (aggregate below
    # the window; bounded by the bin count, not event volume)
    "dq_ks_drift",
    # grand total over the fixed 9-row first-digit table (aggregate
    # below the window; bounded by construction)
    "dq_benford",
    # ntile quartiles over CUSTOMER-level aggregates (aggregate below
    # the window: |C| rows, not |O|; docstring states the
    # approx-percentile swap for |C| beyond one node)
    "customer_rfm_segments",
    # r12: both RRF per-list rank windows sit over top-100
    # TakeOrderedAndProject outputs — 100-row bounded lists by literal
    # limit (the lexical branch also has the token-count groupBy below;
    # the vector branch's centroid aggregate is a driver-side collect,
    # so its boundedness proof is the limit itself)
    "hybrid_rrf_fusion",
}

_BOUNDED_DIM_SCANS = ("supplier", "nation", "region")


def test_global_windows_only_over_bounded_inputs(spark, sf_dir):
    """Mechanical sweep (VERDICT r4 item 8): every Window-without-
    partition in the registry must be allow-listed AND its child subtree
    must contain an aggregate or scan only bounded dim tables — so a
    future query cannot silently add an unbounded global sort over fact
    data."""
    offenders, unbounded = [], []
    for name, spec in REGISTRY.items():
        gw = plans.global_window_subtrees(spec.fn(spark, sf_dir))
        if not gw:
            continue
        if name not in GLOBAL_WINDOW_BOUNDED:
            offenders.append(name)
            continue
        for ln, sub in gw:
            has_agg = any("Aggregate" in s for s in sub)
            # a literal LIMIT below the window bounds its input by
            # construction regardless of corpus size (r12: the RRF
            # rank windows sit over TakeOrderedAndProject top-100
            # lists — per-partition heaps, no global sort)
            has_limit = any(
                "GlobalLimit" in s or "TakeOrderedAndProject" in s
                for s in sub
            )
            scans = [
                s for s in sub if "FileScan" in s or "Scan parquet" in s
            ]
            dims_only = scans and all(
                any(d in s for d in _BOUNDED_DIM_SCANS) for s in scans
            )
            if not (has_agg or has_limit or dims_only):
                unbounded.append((name, ln.strip()[:100]))
    assert not offenders, f"unlisted global windows in: {offenders}"
    assert not unbounded, f"global window over unbounded input: {unbounded}"


def test_wspec_global_detection_is_structural():
    """The global-window detector must parse the spec's argument list,
    not regex-match a bare column: a global window ordered by an
    expression containing parens/commas (cast, function call) was the
    ADVICE r5 false negative."""
    g = plans._wspec_is_global
    # partitioned: first top-level arg is a bare partition column
    assert not g("Window [rank() ...], [windowspecdefinition(grp#3, x#1 ASC NULLS FIRST, specifiedwindowframe(...))]")
    # partitioned by an EXPRESSION (parens in the partition column)
    assert not g("Window [...windowspecdefinition(cast(grp#3 as bigint), x#1 ASC NULLS FIRST, specifiedwindowframe(RangeFrame, a, b))]")
    # global, bare ordered column
    assert g("Window [...windowspecdefinition(x#1 ASC NULLS FIRST, specifiedwindowframe(...))]")
    # global, ordered by a parenthesised expression — the false negative
    assert g("Window [...windowspecdefinition(cast(x#1 as double) ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))]")
    # global, ordered by a multi-arg function call
    assert g("Window [...windowspecdefinition(round(x#1, 2) DESC NULLS LAST, specifiedwindowframe(...))]")
    # global, frame only (no ordering)
    assert g("Window [...windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$()))]")
    # no window spec at all
    assert not g("Project [x#1]")


def test_global_window_subtrees_catches_expression_ordering(spark):
    """End-to-end: a global window ordered by a cast EXPRESSION must be
    flagged by global_window_subtrees (it silently slipped through the
    r5 regex)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("s", F.col("id").cast("string"))
    flagged = plans.global_window_subtrees(
        df.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("s").cast("double"))),
        )
    )
    assert flagged, "global window ordered by cast(...) must be detected"
    partitioned = plans.global_window_subtrees(
        df.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(F.col("s").cast("double")).orderBy("id")
            ),
        )
    )
    assert not partitioned, "partitioned-by-expression spec is not global"


def test_interval_overlap_join_is_not_nested_loop(spark, sf_dir):
    """The bucketized interval-overlap join must plan as an equi join on
    (part, bucket) with the overlap predicate as residual — the naive
    theta formulation would be a BNLJ."""
    df = _df(spark, sf_dir, "join_interval_overlap")
    assert not plans.has_cartesian_or_bnlj(df)


def test_quarantine_split_zero_shuffle(spark, sf_dir):
    """Row-level rule evaluation is scan-side only: no exchange at all."""
    df = _df(spark, sf_dir, "dq_quarantine_split")
    assert plans.count_shuffles(df) == 0


def test_snapshot_diff_projects_before_join(spark, sf_dir):
    """The snapshot diff's scans must read only the key + compared
    columns (projection pushed below the full-outer join)."""
    df = _df(spark, sf_dir, "snapshot_diff")
    schemas = plans.scans_read_columns(df)
    assert schemas
    assert all(
        "o_custkey" not in s and "o_orderdate" not in s for s in schemas
    )
    assert not plans.has_cartesian_or_bnlj(df)


def test_dq_expectations_single_pass_per_table(spark, sf_dir):
    """All range/domain/uniqueness rules of one table share ONE scan +
    aggregation pass; only the two FK anti-joins add scans. lineitem is
    scanned at most twice (rule pass + FK child), never once per rule."""
    df = _df(spark, sf_dir, "dq_expectations")
    plan = plans.physical_plan(df)
    import re

    # formatted plans list each scan twice (tree + numbered details);
    # count the numbered headers. Budget: lineitem rules + orders rules
    # + 2 FK left-joins (child + parent side each) = 6 scans for 10
    # rules — never one scan per rule.
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n_scans <= 6, plan
