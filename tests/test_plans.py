"""Physical-plan regression tests: the optimizations the engine's 100 TB
posture depends on must survive refactors — filter pushdown into the parquet
scan, column pruning, dimension broadcasts, top-k via TakeOrderedAndProject,
semi/anti join strategies."""

from __future__ import annotations

import re

import pytest

from universal_aws_data_pipeline_spark.plans.catalog import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name,needles",
    [
        # filter + 7-column projection push into the lineitem scan
        ("q01_pricing_summary", ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate", "HashAggregate"]),
        ("q02_segment_projection", ["PushedFilters: [IsNotNull(c_mktsegment)"]),
        # dims broadcast; top-k never materializes a full sort
        ("q03_topk_unshipped", ["BroadcastHashJoin", "TakeOrderedAndProject"]),
        ("q04_region_revenue", ["BroadcastHashJoin"]),
        ("q17_cosine_topk", ["TakeOrderedAndProject"]),
        ("q21_semi_join", ["LeftSemi"]),
        ("q22_anti_join", ["LeftAnti"]),
        ("q25_promo_revenue", ["BroadcastHashJoin", "PushedFilters"]),
    ],
)
def test_plan_contains(spark, sf_dir, name, needles):
    plan = _plan(spark, sf_dir, name)
    missing = [n for n in needles if n not in plan]
    assert not missing, f"{name}: expected plan fragments missing: {missing}"


def test_q01_column_pruning(spark, sf_dir):
    m = re.search(r"ReadSchema: (\S+)", _plan(spark, sf_dir, "q01_pricing_summary"))
    assert m, "no ReadSchema in plan"
    read_cols = set(re.findall(r"(\w+):", m.group(1)))
    # only the 7 referenced columns are read — an 11-column lineitem scan
    # for this query would be a pruning regression
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols


def test_q04_single_big_shuffle(spark, sf_dir):
    """The star join's only shuffle pair should be lineitem⋈orders; all four
    dimension joins broadcast."""
    plan = _plan(spark, sf_dir, "q04_region_revenue")
    # all four dimension joins broadcast; at tiny SF the planner may also
    # broadcast the orders side (5th) — never fewer than 4
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_q15_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q15_neardup_minhash_lsh")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q18_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_cosine_pairs_blocked")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_scaling_tables_not_forced_broadcast(spark, sf_dir):
    """Customer/supplier/part grow with SF (~15B customer rows at 100 TB): the
    catalog must not FORCE-broadcast them. With size-based broadcasting off
    (threshold -1), any BroadcastHashJoin left is a hint — only the fixed-size
    dims (region: 5 rows, nation: 25 rows) may appear as build sides."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # q04: exactly the 2 hinted dims broadcast; customer/supplier shuffle
        plan = _plan(spark, sf_dir, "q04_region_revenue")
        assert plan.count("BroadcastHashJoin") == 2
        assert plan.count("SortMergeJoin") == 3  # li*o, *customer, *supplier
        for name, n_hinted in [("q03_topk_unshipped", 0), ("q23_rollup", 1), ("q38_pivot_revenue", 1)]:
            p = _plan(spark, sf_dir, name)
            assert p.count("BroadcastHashJoin") == n_hinted, f"{name}: forced broadcast crept back in"
        # part joins (q25/q31) are size-based only
        assert "BroadcastHashJoin" not in _plan(spark, sf_dir, "q25_promo_revenue")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q47_cube_single_scan(spark, sf_dir):
    """CUBE compiles to one Expand + aggregate over ONE orders scan — not a
    union of four GROUP BYs (four scans)."""
    plan = _plan(spark, sf_dir, "q47_cube_revenue")
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1


def test_q50_profile_single_scan(spark, sf_dir):
    """The whole-table column profile reads customer ONCE (multi-distinct
    via Expand), not once per profiled column."""
    plan = _plan(spark, sf_dir, "q50_column_profile")
    assert plan.count("FileScan parquet") == 1


def test_q53_broadcast_scalar_and_anti(spark, sf_dir):
    """The scalar-average threshold arrives as a broadcast (1 row) and the
    NOT EXISTS is a LeftAnti join — no per-row subquery execution."""
    plan = _plan(spark, sf_dir, "q53_rich_inactive_customers")
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_q46_no_global_window(spark, sf_dir):
    """Shard packing must never plan an unpartitioned data-wide window (a
    single task holding the corpus): every Window node keys on _pid."""
    plan = _plan(spark, sf_dir, "q46_token_shards")
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "_pid" in m.group(0) or "_pid" in m.group(1)


def test_q45_sample_filter_is_map_side(spark, sf_dir):
    """Hash sampling is a pure filter over the scan: no shuffle (Exchange)
    anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q45_hash_sample")
    assert "Exchange" not in plan


def test_q69_pair_filter_pushes_to_dims(spark, sf_dir):
    """Q7's OR-of-pairs can't push as written; the rewrite pre-filters the
    nation dims (In(n_name) reaches the nation scans) and broadcasts only
    those. With size-based broadcast off, exactly the 2 nation joins are
    broadcast — supplier/customer/orders shuffle."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "q69_nation_pair_volume")
        assert plan.count("BroadcastHashJoin") == 2
        assert "In(n_name" in plan  # pair filter reached the nation scan
        assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q71_envelopes_push_to_both_scans(spark, sf_dir):
    """The hoisted per-side envelopes of the Q19 disjunction must reach BOTH
    parquet scans — brand IN-list on part, quantity range on lineitem."""
    plan = _plan(spark, sf_dir, "q71_bracket_revenue")
    assert "In(p_brand" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan and "LessThanOrEqual(l_quantity,30.0)" in plan


def test_q72_topk_and_agg_before_join(spark, sf_dir):
    """Q18 shape: top-k is TakeOrderedAndProject (no global sort), and the
    lineitem aggregate runs BEFORE any join (aggregate-then-join)."""
    plan = _plan(spark, sf_dir, "q72_large_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("SortMergeJoin", "").replace("SortAggregate", "")
    agg_pos = plan.find("HashAggregate")
    join_pos = min(p for p in (plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin")) if p >= 0)
    assert agg_pos > join_pos  # plan prints top-down: joins appear above the agg they consume


def test_q74_exists_decorrelates_to_semi(spark, sf_dir):
    """The correlated EXISTS must compile to a LeftSemi join (with the
    l_shipdate > o_orderdate residual), never a per-row subquery."""
    plan = _plan(spark, sf_dir, "q74_priority_exists")
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q77_grouping_sets_single_scan(spark, sf_dir):
    """GROUPING SETS compiles to one Expand + aggregate over ONE orders
    scan — not a 3-way union of separate GROUP BYs."""
    plan = _plan(spark, sf_dir, "q77_grouping_sets")
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 3  # orders + customer + nation, once each


def test_q78_bm25_no_explode_topk(spark, sf_dir):
    """BM25 for a fixed query must stay row-local: no Generate (explode)
    node anywhere, the corpus stats join is a broadcast, and the top-k is
    TakeOrderedAndProject — never a full sort."""
    plan = _plan(spark, sf_dir, "q78_bm25_topk")
    assert "Generate" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q79_linkage_blocked_not_allpairs(spark, sf_dir):
    """Record linkage must candidate via the blocking-key equi-join —
    a cartesian/nested-loop pair enumeration is the scale failure mode."""
    plan = _plan(spark, sf_dir, "q79_fuzzy_entity_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q81_skew_profile_single_scan_topk(spark, sf_dir):
    """The skew profiler reads events once (per-key agg + 1-row stats both
    hang off the same aggregate) and cuts the top-k with
    TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "q81_key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FileScan parquet") == 2  # per_key agg + stats reuse the scan pair


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_analysis_smoke(spark, sf_dir, name):
    """Analysis-only smoke over the whole catalog (VERDICT r2, item 7):
    resolving the schema forces Catalyst analysis, so type-mismatch breaks
    (exactly the shape of the r2 q33 TIMESTAMP_NTZ regression) surface in
    seconds without executing any data."""
    df = QUERIES[name].fn(spark, sf_dir)
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize(
    "name,needles",
    [
        # top-20 never materializes a full sort; dims broadcast
        ("q83_returned_item_report", ["TakeOrderedAndProject", "BroadcastHashJoin"]),
        # returnflag + date filters reach the scans
        ("q83_returned_item_report", ["PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"]),
        # outer join keeps the residual as a join predicate, not a post-filter
        ("q85_order_count_distribution", ["LeftOuter"]),
        # scalar max arrives via broadcast (Catalyst plans the equality
        # against the 1-row max as a BroadcastHashJoin on the normalized
        # float key) — never a single-partition global window
        ("q86_top_revenue_supplier", ["BroadcastHashJoin", "BroadcastExchange"]),
        # exclusion is a broadcast anti join
        ("q87_part_supplier_stats", ["BroadcastHashJoin", "LeftAnti"]),
        # IN-subquery collapses to LeftSemi; p_name prefix pushes into part scan
        ("q88_bulk_shippers", ["LeftSemi", "StringStartsWith(p_name,hot)"]),
        ("q89_sole_returning_supplier", ["LeftSemi", "TakeOrderedAndProject"]),
    ],
)
def test_new_tpch_plan_contains(spark, sf_dir, name, needles):
    plan = _plan(spark, sf_dir, name)
    for needle in needles:
        assert needle in plan, f"{name}: expected {needle!r} in plan:\n{plan}"


@pytest.mark.parametrize(
    "name,needles",
    [
        # theta filter is map-side: Filter sits directly on the scan, before
        # any exchange, and the scan reads only (user_id, event_type)
        ("q90_theta_distinct_sketch", ["< 1073741824", "ReadSchema: struct<user_id:bigint,event_type:string>"]),
        # rank <= 16 pushes into per-partition top-n combines
        ("q91_stratified_topn_sample", ["WindowGroupLimit", "Partial"]),
        # z-interleave is map-only into partial aggregation; 2-column scan
        ("q92_zorder_cells", ["partial_count", "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"]),
        # rolling sketch: KMV threshold prunes map-side on the scan, and the
        # 7-day window kernel is an explode of the [0..6] day offsets
        ("q97_rolling_distinct_sketch", ["< 1073741824", "explode([0,1,2,3,4,5,6])"]),
        # gap fill: per-user day grid from sequence(); the daily-aggregate
        # side broadcasts into the grid join (never a shuffle of the grid)
        ("q100_timeseries_gapfill", ["explode(sequence(", "BroadcastHashJoin", "LeftOuter"]),
    ],
)
def test_r3_extension_plan_contains(spark, sf_dir, name, needles):
    plan = _plan(spark, sf_dir, name)
    for needle in needles:
        assert needle in plan, f"{name}: expected {needle!r} in plan:\n{plan}"


def test_q97_explodes_sketch_not_events(spark, sf_dir):
    """The 7-day rolling window must be answered by exploding the tiny
    (day, kmv-hash) SKETCH table — the explode's direct child is the
    distinct aggregate, so the 7x row multiplication happens after events
    has been collapsed to |days|x|k| sketch rows, never on raw events."""
    lines = _plan(spark, sf_dir, "q97_rolling_distinct_sketch").splitlines()
    gen = next(i for i, ln in enumerate(lines) if "explode([0,1,2,3,4,5,6])" in ln)
    assert "HashAggregate" in lines[gen + 1], "\n".join(lines[gen : gen + 3])


def test_q100_gapfill_window_is_per_user(spark, sf_dir):
    """The fill-forward window must partition by user_id — a global (empty
    partitionBy) window would funnel the whole grid through one task."""
    plan = _plan(spark, sf_dir, "q100_timeseries_gapfill")
    for line in plan.splitlines():
        if "Window [" in line:
            assert "[user_id" in line.split("windowspecdefinition")[1].split(",")[0] or \
                ", [user_id" in line, f"window not user-scoped: {line}"


@pytest.mark.parametrize("name", ["q94_token_budget_selection", "q96_training_prep_pipeline"])
def test_budget_selection_no_global_window(spark, sf_dir, name, monkeypatch):
    """The stratified prefix sum must range-partition and window on
    (_pid, stratum) — never a bare Window.partitionBy(lang) (one task per
    language) or a global single-partition window. The production path
    localCheckpoints the ranged plan (single-execution barrier), which
    truncates lineage out of the final plan string — patch the seam to
    identity so the full un-truncated plan is assertable."""
    from universal_aws_data_pipeline_spark.operators import sampling

    monkeypatch.setattr(sampling, "_materialize", lambda df: df)
    plan = _plan(spark, sf_dir, name)
    assert "rangepartitioning" in plan, plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "_pid" in line, f"window not partition-scoped: {line}"


def test_q98_bucketed_join_shuffle_free(spark, sf_dir):
    """With broadcast disabled (forcing the join shape that matters at
    100 TB, where neither fact side broadcasts), the pre-bucketed tables
    join WITHOUT any Exchange between the scans and the join — the only
    shuffle in the plan is the final group-by."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "q98_bucketed_colocated_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "Bucketed: true" in plan
    join_part = plan.split("Join", 1)[1]
    assert "Exchange hashpartitioning(l_orderkey" not in join_part
    assert "Exchange hashpartitioning(o_orderkey" not in join_part


# ---------------------------------------------------------------- round 4 ops
def test_q101_span_dedup_single_shuffle_no_sort_window(spark, sf_dir):
    """One exchange on the span key; the keep-first owner is a min-over-
    partition window with NO ORDER BY — no per-group sort operator, and
    never a groupBy+self-join (two exchanges of the span table)."""
    plan = _plan(spark, sf_dir, "q101_span_dedup_profile")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") == 0, "span ownership must not be a self-join"
    assert "Window" in plan


def test_q102_heavy_hitters_candidates_broadcast(spark, sf_dir):
    """Pass 2's recount restricts to pass-1 candidates via a BROADCAST
    semi-join — the exploded token stream itself must never shuffle on the
    token key before that filter."""
    plan = _plan(spark, sf_dir, "q102_heavy_hitters")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan  # pass-1 miner


def test_q104_quantized_ann_no_join_on_corpus(spark, sf_dir):
    """The literal query set explodes per corpus row (Generate) — multi-query
    scoring costs ONE corpus scan and no join/shuffle on the corpus side;
    the only exchanges are the per-query top-k windows."""
    plan = _plan(spark, sf_dir, "q104_quantized_ann")
    assert "Generate explode" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan, f"unexpected {j} in quantized ANN plan"


def test_runtime_bloom_filter_injects_on_selective_fact_fact_join(spark, sf_dir):
    """Spark's runtime row-level filtering (InjectRuntimeFilter) is ON by
    default in this engine's sessions: a selective dimension-side predicate
    becomes a bloom_filter_might_contain() guard on the fact scan, pruning
    shuffle input at runtime — the 100 TB lever for fact-fact joins whose
    selective side isn't known until runtime. Local fixtures sit under the
    10 GiB application-side default, so the test lowers that threshold to
    prove the machinery fires; at target scale the defaults trigger it
    unaided. Confs are restored afterwards — nothing leaks into the session.
    """
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "1b")
        spark.conf.set(keys[1], "-1")  # force a shuffle join; bloom filters don't apply to broadcasts
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(F.col("o_totalprice") > 400000)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected on the fact scan"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q105_cutoff_window_runs_on_histogram_not_rows(spark, sf_dir):
    """The cumulative window must consume the (lang, quality) HISTOGRAM
    aggregate — never per-document rows (a corpus-dominating language would
    pin a whole-row window to one task). In the physical plan the Window's
    subtree therefore contains a HashAggregate below it."""
    plan = _plan(spark, sf_dir, "q105_quality_calibration")
    assert "Window" in plan
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], "window input is not aggregated"
    assert "BroadcastHashJoin" in plan  # cutoff table broadcast back


def test_q106_rebalance_is_broadcast_and_map_side(spark, sf_dir):
    """Rates are a |langs|-row broadcast; the corpus side must see one scan
    + filter with no shuffle on document rows (the groupBy for counts is
    lang-sized)."""
    plan = _plan(spark, sf_dir, "q106_temperature_rebalance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q107_rrf_legs_use_takeordered(spark, sf_dir):
    """Both retrieval legs keep their top-k via TakeOrderedAndProject (k-row
    heaps per task), and the fusion's joins touch only the k-row lists."""
    plan = _plan(spark, sf_dir, "q107_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_q109_cohort_all_hash_aggregates(spark, sf_dir):
    """Cohort triangle: three hash aggregations + one equi-join on user_id,
    never a window over raw events and never a cartesian."""
    plan = _plan(spark, sf_dir, "q109_cohort_triangle")
    assert plan.count("HashAggregate") >= 4  # distinct + cohort-min + final (partial+final pairs)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q110_containment_no_cartesian_prefix_join(spark, sf_dir):
    """Containment candidates come from the prefix equi-join — never an
    all-pairs product; verification joins back on doc ids."""
    plan = _plan(spark, sf_dir, "q110_containment_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # rarity ranking window (per-doc partitions)


@pytest.mark.parametrize(
    "name", ["q75_jaccard_prefix_filter", "q110_containment_dedup"]
)
def test_ppjoin_exact_verify_stage_survives(spark, sf_dir, name):
    """The exact string-space verification join is LOAD-BEARING for the
    q75/q110 recall contract (VERDICT r13 item 1): the digest-space
    pre-verification keeps false negatives in the documented ~1e-11
    collision class ONLY because every survivor is re-verified (and its
    output similarity computed) on the true shingle arrays. Pin both
    stages in the physical plan so a future retune cannot silently drop
    the exact stage and widen the contract: the digest pre-filter
    intersects the ``dx_*`` long arrays, the exact verify intersects the
    ``sh_*`` string arrays."""
    plan = _plan(spark, sf_dir, name)
    assert re.search(r"array_intersect\(dx_a", plan), plan  # digest pre-verify
    assert re.search(r"array_intersect\(sh_a", plan), plan  # exact string verify


def test_ppjoin_digest_explode_is_linear(spark, sf_dir):
    """The prefix miner explodes a digest-set COLUMN. Exploded as an
    expression, the digest array was carried past the explode and the
    projection above re-ran ``size(array_distinct(..))`` once per exploded
    row: quadratic in document length. (q75 runs the same miner but
    checkpoints its prefix table, so its final plan shows no explode.)"""
    plan = _plan(spark, sf_dir, "q110_containment_dedup")
    assert "Generate explode(" in plan, plan
    assert "explode(array_distinct(" not in plan, plan


@pytest.mark.parametrize(
    "name,needles",
    [
        # the rule battery is a pure projection over a 2-column scan
        ("q111_gopher_rules", ["ReadSchema: struct<doc_id:bigint,text:string>"]),
        # bloom probe is an Arrow-vectorized eval; only suspects reach the
        # confirming LeftAnti join
        ("q112_bloom_dedup", ["ArrowEvalPython", "LeftAnti"]),
        # the 256-row DSIR model broadcasts back onto the token stream
        ("q113_dsir_weights", ["BroadcastHashJoin"]),
    ],
)
def test_r5_extension_plan_contains(spark, sf_dir, name, needles):
    plan = _plan(spark, sf_dir, name)
    for needle in needles:
        assert needle in plan, f"{name}: expected {needle!r} in plan:\n{plan}"


def test_q111_gopher_is_map_only(spark, sf_dir):
    """The whole rule battery must stay inside one map stage — any Exchange
    means a signal accidentally grew a shuffle."""
    assert "Exchange" not in _plan(spark, sf_dir, "q111_gopher_rules")


def test_q112_confirm_join_sees_only_bloom_hits(spark, sf_dir):
    """The anti-join's streamed side must be the bloom-HIT filter — novel
    docs (bloom misses) bypass the join entirely; that asymmetry is the
    entire point of the fast path."""
    plan = _plan(spark, sf_dir, "q112_bloom_dedup")
    # the probe column is projected into pythonUDF references physically:
    # the join-free union leg keeps misses (Filter NOT pythonUDF), the
    # anti-join's streamed input keeps hits (Filter pythonUDF)
    assert "Filter NOT pythonUDF" in plan
    assert re.search(r"Filter pythonUDF\d+#\d+: boolean", plan), plan


def test_q114_span_surgery_ownership_window_has_no_sort(spark, sf_dir):
    """Span ownership is min-over-partition — windowspecdefinition must carry
    an empty ORDER BY (a sorted window would re-introduce the per-group span
    sort the q101 retune removed), and spans shuffle as 60-bit digests, not
    raw span strings."""
    plan = _plan(spark, sf_dir, "q114_span_surgery")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "specifiedwindowframe(RowFrame" in line or "unspecifiedframe" in line.lower() or \
                re.search(r"windowspecdefinition\(dig\w*#\d+L, ", line), line
    assert "conv(substring(md5(" in plan  # digest computed before the exchange


def test_r5_graph_and_sketch_plans(spark, sf_dir):
    """q115 ends on checkpointed ranks (iterations never re-execute); q116's
    wedge/closing joins are equi-joins (degree orientation, no cartesian);
    q117's probe lookup broadcasts the bounded cell table."""
    p115 = _plan(spark, sf_dir, "q115_trade_pagerank")
    assert "Scan ExistingRDD" in p115  # localCheckpoint cut the iterative lineage
    for name in ("q115_trade_pagerank", "q116_copurchase_triangles", "q117_countmin_freq"):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    p117 = _plan(spark, sf_dir, "q117_countmin_freq")
    assert "BroadcastHashJoin" in p117  # probes join the depth*width cell table
    # q119: theta filter reaches the scan (map-side prune), totals broadcast,
    # overlap is an equi-join on the hash — no cartesian pair explosion
    p119 = _plan(spark, sf_dir, "q119_audience_overlap")
    assert "CartesianProduct" not in p119 and "BroadcastNestedLoopJoin" not in p119
    assert "BroadcastHashJoin" in p119


def test_q217_ladder_sizes_via_broadcast_not_window(spark, sf_dir):
    """k_anonymize_ladder's rung class sizes must come from a bounded
    groupBy-count broadcast-joined back, never a count window partitioned
    by the rung key: coarse rungs (the nationkey rung has 25 classes)
    would buffer 1/|classes| of the table in one task's window frame at
    any scale (round-10 verdict item 1; the q105/q135 convention)."""
    plan = _plan(spark, sf_dir, "q217_k_anonymize_ladder")
    assert "Window" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # one size attach per keyed rung
