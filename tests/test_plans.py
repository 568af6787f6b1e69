"""Physical-plan assertions: the scale properties the engine is designed
around must be visible in the plan, not just hoped for.

- small dims broadcast (no shuffle join for star lookups);
- filters and column projections reach the parquet scan (PushedFilters /
  ReadSchema), so row groups prune and unused columns are never read;
- aggregates run partial+final (map-side combine before the shuffle);
- the hot path stays inside whole-stage codegen (no row-at-a-time Python);
- the inverted-index jaccard join is a hash join, never a cartesian
  product.

These run at sf0.001 — plan shape is scale-invariant, which is the point.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    return {
        name: QUERIES[name](spark, SF_DIR)
        for name in [
            "star_join_broadcast",
            "pricing_summary",
            "flagship_mom_pivot",
            "ext_ngram_jaccard",
            "ext_cosine_topk",
            "groupby_avg",
        ]
    }


def test_star_join_broadcasts_small_dims(plans):
    plan = plan_of(plans["star_join_broadcast"])
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "small dims must broadcast, not shuffle"


def test_pricing_summary_pushes_filter_to_scan(plans):
    plan = plan_of(plans["pricing_summary"])
    assert "PushedFilters: [" in plan
    # the filter is on l_shipdate: it must reach the parquet reader
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, f"expected l_shipdate pushdown, got [{pushed}]"


def test_pricing_summary_prunes_columns(plans):
    plan = plan_of(plans["pricing_summary"])
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # lineitem has 16 columns; the summary touches 7 — a full-width scan
    # means pruning broke
    assert "l_orderkey" not in read_schema, read_schema
    assert "l_comment" not in read_schema, read_schema


def test_aggregates_are_partial_then_final(plans):
    plan = plan_of(plans["groupby_avg"])
    # partial + final hash aggregate = map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2, plan


def test_hot_paths_have_wholestage_codegen(plans):
    for name in ("pricing_summary", "flagship_mom_pivot", "groupby_avg"):
        df = plans[name]
        df.collect()  # AQE only finalizes (and codegens) stages on execution
        plan = plan_of(df)
        # "*(n)" prefixes mark WholeStageCodegen stages in simpleString
        assert "*(" in plan, f"{name} fell out of codegen: {plan}"
        assert "BatchEvalPython" not in plan, f"{name} has a row-python stage"
        assert "ArrowEvalPython" not in plan, f"{name} has a pandas-udf stage"


def test_ngram_jaccard_is_hash_join_not_cartesian(plans):
    plan = plan_of(plans["ext_ngram_jaccard"])
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cosine_topk_broadcasts_query_side(plans):
    plan = plan_of(plans["ext_cosine_topk"])
    assert "Broadcast" in plan, plan


def test_ingest_chain_stays_jvm_side(spark):
    """The whole wide->long ingest chain is native expressions: no Python
    eval nodes anywhere in the plan."""
    df = QUERIES["ingest_e2e"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_topk_plans_as_take_ordered(spark):
    """orderBy + limit must plan as TakeOrderedAndProject (per-partition
    heaps), never a global sort materialization."""
    df = QUERIES["topk_revenue"](spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_contamination_broadcasts_benchmark_side(spark):
    df = QUERIES["ext_contamination"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rollup_is_single_expand_pass(spark):
    """ROLLUP must plan as ONE Expand + aggregate, not one scan per level."""
    df = QUERIES["rollup_revenue"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed_table pays the shuffle once at write; a join on the
    bucket key then plans WITHOUT any Exchange."""
    from be_analytic_etl_spark.sources import write_bucketed_table

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed_table(orders, "t_orders_b", buckets=4, bucket_cols=["o_orderkey"])
    write_bucketed_table(
        lineitem, "t_lineitem_b", buckets=4, bucket_cols=["l_orderkey"]
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_orders_b").join(
                spark.table("t_lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = plan_of(joined)
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, f"bucketed join still shuffles: {plan}"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


# --- round-2 operators ------------------------------------------------------


def test_asof_join_single_exchange_on_key(spark):
    """The union+window as-of join must shuffle exactly once (on the key),
    never expand into a range join."""
    from be_analytic_etl_spark.operators.asof import asof_join
    from be_analytic_etl_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events")
    l = ev.select("user_id", "ts", "value")
    r = ev.groupBy("user_id", "ts").agg(F.max("value").alias("v"))
    plan = plan_of(asof_join(l, r, on=["user_id"], right_cols=["v"]))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # no join node at all: the match is carried by a window, not a join
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_salted_join_keys_include_salt(spark):
    from be_analytic_etl_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    plan = plan_of(salted_join(li, orders, on=["k"], salt_n=4))
    assert "__salt" in plan, "join must key on (k, __salt)"


def test_large_orders_broadcasts_having_set(spark):
    plan = plan_of(QUERIES["large_orders"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_gapfill_and_components_stay_jvm_side(spark):
    for name in ("ext_gapfill", "ext_dedup_groups", "ext_asof_join", "funnel"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_range_join_is_hash_join_not_nested_loop(spark):
    plan = plan_of(QUERIES["ext_range_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning at planning time) — zero data files of other
    partitions are even opened."""
    from be_analytic_etl_spark.sources import write_partitioned

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    write_partitioned(
        orders, out, partition_cols=["o_year"],
        zorder_cols=("o_orderkey", "o_custkey"),
    )
    df = spark.read.parquet(out).filter(F.col("o_year") == 1996)
    plan = plan_of(df)
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_year" in pf, plan
    # and the result is right
    n = df.count()
    want = orders.filter(F.col("o_year") == 1996).count()
    assert n == want > 0


def test_cube_is_single_expand_single_scan(spark):
    plan = plan_of(QUERIES["cube_revenue"](spark, SF_DIR))
    assert plan.count("Expand") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_small_quantity_broadcasts_per_part_averages(spark):
    plan = plan_of(QUERIES["small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_pipeline_stays_jvm_side_and_cartesian_free(spark):
    df = QUERIES["ext_pipeline_e2e"](spark, SF_DIR)
    plan = plan_of(df)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan, bad


# --- round-2 batch-2 queries ------------------------------------------------


@pytest.fixture(scope="module")
def plans2(spark):
    return {
        name: QUERIES[name](spark, SF_DIR)
        for name in [
            "custdist",
            "disjunctive_parts",
            "returned_revenue",
            "promo_revenue",
            "ext_stratified_sample",
            "ext_chunk_dedup",
            "ext_triangles",
            "ext_zscore_outliers",
        ]
    }


def test_custdist_keeps_outer_join_with_compound_condition(plans2):
    opt = optimized_of(plans2["custdist"])
    # the join must stay outer (an inner join would drop zero-order
    # customers from the distribution)...
    assert "LeftOuter" in opt, opt
    # ...and Catalyst pushes the right-side-only priority predicate BELOW
    # the join (legal for the null-supplying side, becomes a scan filter)
    # instead of leaving it above (which would turn the join inner).
    below_join = opt.split("Join LeftOuter", 1)[1]
    assert "o_orderpriority" in below_join, opt
    above_join = opt.split("Join LeftOuter", 1)[0]
    assert "o_orderpriority" not in above_join, opt


def test_disjunctive_parts_pushes_derived_conjuncts(plans2):
    plan = plan_of(plans2["disjunctive_parts"])
    # Catalyst must extract scan-level conjuncts from the OR-of-ANDs:
    # l_quantity's union range reaches the lineitem scan...
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_quantity" in pushed or "p_brand" in pushed, plan
    # ...and the join itself stays a broadcast hash join on the equi-key
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_returned_revenue_is_take_ordered_not_global_sort(plans2):
    plan = plan_of(plans2["returned_revenue"])
    assert "TakeOrderedAndProject" in plan, plan


def test_promo_revenue_single_aggregate_pass(plans2):
    plan = plan_of(plans2["promo_revenue"])
    # both conditional sums ride one partial+final aggregate (no second scan)
    assert plan.count("Scan parquet") == 2, plan  # lineitem + part, once each


def test_stratified_sample_single_exchange(plans2):
    df = plans2["ext_stratified_sample"]
    df.collect()
    # AQE plan strings repeat the tree under "== Initial Plan =="; count
    # exchanges in the final plan only
    plan = plan_of(df).split("== Initial Plan ==")[0]
    # rank + per-stratum quota share one window partitioning -> one shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_new_ops_stay_out_of_python(plans2):
    for name in ("ext_chunk_dedup", "ext_triangles", "ext_zscore_outliers"):
        df = plans2[name]
        df.collect()
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan, f"{name} has a row-python stage"
        assert "ArrowEvalPython" not in plan, f"{name} has a pandas-udf stage"


def test_triangles_no_cartesian(plans2):
    plan = plan_of(plans2["ext_triangles"])
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# --- round-2 batch-3 queries (Q9/Q11/Q16/Q20 analogues) ---------------------


def test_nation_profit_one_fact_fact_shuffle_rest_broadcast(spark):
    plan = plan_of(QUERIES["nation_profit"](spark, SF_DIR))
    # part/supplier/nation always broadcast (at test SF even orders fits
    # under the threshold, which is the right call — only lineitem-orders
    # may legitimately co-shuffle at scale)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    # the p_name filter prunes the broadcast build side before the join
    assert "bolt" in plan, plan


def test_important_parts_threshold_is_broadcast_not_window(spark):
    plan = plan_of(QUERIES["important_parts"](spark, SF_DIR))
    # the nation-total threshold joins back as a broadcast, never a
    # single-partition global window
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_supplier_variety_anti_join_is_broadcast(spark):
    plan = plan_of(QUERIES["supplier_variety"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_volume_suppliers_semi_join_chain(spark):
    plan = plan_of(QUERIES["volume_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_repetition_and_corr_stay_jvm_side(spark):
    for name in ("ext_repetition", "ext_corr_matrix"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_corr_matrix_single_scan(spark):
    plan = plan_of(QUERIES["ext_corr_matrix"](spark, SF_DIR))
    # all 14 moments ride one partial+final aggregate over one scan
    assert plan.count("Scan parquet") == 1, plan


def test_semantic_neardup_blocked_not_cartesian(spark):
    plan = plan_of(QUERIES["ext_semantic_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_shards_single_exchange(spark):
    df = QUERIES["ext_pack_shards"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    # one shuffle: the per-bucket window partitioning
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_oov_rate_broadcasts_vocab(spark):
    plan = plan_of(QUERIES["ext_oov_rate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dedup_jvm_side_no_cartesian(spark):
    df = QUERIES["ext_incremental_dedup"](spark, SF_DIR)
    plan = plan_of(df)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan, bad


def test_profile_has_no_expand(spark):
    """profile(): one branch per column, each a single-distinct two-phase
    aggregate — the N-distincts-in-one-agg formulation Expands every row
    N+1 ways before aggregating, a 6x row multiplication at any scale."""
    plan = plan_of(QUERIES["ext_profile"](spark, SF_DIR))
    assert "Expand" not in plan
    # each branch scans only its own column
    assert plan.count("Scan parquet") >= 5


def test_profile_branches_prune_to_single_column(spark):
    plan = plan_of(QUERIES["ext_profile"](spark, SF_DIR))
    for col in ["l_orderkey", "l_quantity", "l_extendedprice"]:
        assert f"ReadSchema: struct<{col}:" in plan, plan[:500]


def test_decontaminate_anti_join_broadcasts(spark):
    """The flagged-id set is benchmark-sized: the corpus-side anti join
    must broadcast it, never shuffle the corpus on doc_id."""
    plan = plan_of(QUERIES["ext_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_rollup_refresh_broadcasts_affected_buckets(spark):
    """Invalidation refresh: the affected-bucket set (|delta buckets|
    rows) broadcasts into the anti join against the groups-sized state —
    O(delta + groups), with partial aggregation on both agg passes."""
    plan = plan_of(QUERIES["ext_rollup_refresh"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the only join in the query is the anti join — it must not be a
    # shuffle join of state vs affected buckets
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_incremental_agg_partial_aggregation(spark):
    """Each partition's reduction is map-side combined before its shuffle
    (the mergeable-partial design depends on it)."""
    plan = plan_of(QUERIES["ext_incremental_agg"](spark, SF_DIR))
    assert "HashAggregate" in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_ivf_pq_scan_is_cell_equijoin_not_corpus_bnl(spark):
    """ivf_pq_ann's ADC scan must hash-join on the probed cell — the
    whole point of composing IVF with PQ. Standalone pq_ann's plan is a
    broadcast nested loop over the full corpus; the composed plan must
    not be."""
    plan = plan_of(QUERIES["ext_ivf_pq_ann"](spark, SF_DIR))
    assert "BroadcastHashJoin [cell" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_topk_is_takeordered_and_ratio_table_broadcasts(spark):
    """DSIR: the top-k must be TakeOrdered (never a global sort of the
    scored corpus) and the bucket ratio table must broadcast onto the
    scoring pass."""
    plan = plan_of(QUERIES["ext_dsir_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_fusion_no_cartesian_no_python(spark):
    plan = plan_of(QUERIES["ext_rrf_fusion"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_zorder_zvalue_is_map_side_expression(spark):
    """The Morton key must fold into a projection over the scan — no
    join, no Python, nothing but the window shuffle for NTILE."""
    plan = plan_of(QUERIES["ext_zorder_skipping"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_dau_wau_is_explode_not_range_join(spark):
    """The trailing-7-day WAU must come from a constant 7x map-side
    explode of each (user, day) row, never a days x user-days range
    join — the latter plans as a broadcast nested loop whose compare
    cost is |user-days| x |calendar days| at scale."""
    plan = plan_of(QUERIES["ext_dau_wau"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan, plan


def test_ngram_novelty_first_doc_is_groupby_join_not_window(spark):
    """min(doc_id) per gram-hash must be a partial-aggregable groupBy
    joined back on __h — a partition window over __h cannot be split
    by AQE, so the hottest boilerplate 5-gram would land every one of
    its rows in ONE sort task at 100x scale (round-6 judge finding)."""
    plan = plan_of(QUERIES["ext_ngram_novelty"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmins_single_corpus_scan(spark):
    """The k-mins sketch must read the events table exactly ONCE: row
    counts fold into the same slot aggregation and the ALL merge reads
    the lazy-checkpointed sketch frame, never the corpus again."""
    plan = plan_of(QUERIES["ext_kmins_distinct"](spark, SF_DIR))
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_tdigest_single_rank_window(spark):
    """The t-digest panel's unpartitioned windows run ONLY over bounded
    frames: the value histogram's rank pass, the histogram's cumulative
    span, and the <= delta cluster span — never the corpus. Four
    window passes max (rank pass, histogram span, cluster span, and the
    cluster build's own rank pass), and the total row count must come
    from an agg + broadcast, not a further single-task window pass."""
    plan = plan_of(QUERIES["ext_tdigest_panel"](spark, SF_DIR))
    assert 1 <= plan.count("Window") <= 4, plan
    assert "BroadcastExchange" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_mann_kendall_pair_join_is_bounded_broadcast(spark):
    """The MK pair fold is a deliberate bounded BNL over the CALENDAR-
    bounded daily frame (broadcast side = days, corpus-independent);
    the corpus itself must be scanned once into the checkpointed daily
    frame, never nested-looped."""
    plan = plan_of(QUERIES["ext_mann_kendall"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 1, plan


def test_acf_no_self_join(spark):
    """ACF lags must come from LEAD columns over the bounded daily
    window — no daily-frame self-join, one corpus scan."""
    plan = plan_of(QUERIES["ext_acf"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 1, plan


def test_cliffs_delta_single_corpus_scan_no_cartesian(spark):
    """Cliff's delta reads documents ONCE into the (source, n_chars)
    histogram; global + per-source cumulative windows and the delta
    fold all run on that bounded frame."""
    plan = plan_of(QUERIES["ext_cliffs_delta"](spark, SF_DIR))
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_theil_sen_pair_join_is_bounded_broadcast(spark):
    """Theil-Sen's slope pairs are the deliberate calendar-bounded BNL
    (the Mann-Kendall shape): one corpus scan into the checkpointed
    daily frame, broadcast pair side, no cartesian."""
    plan = plan_of(QUERIES["ext_theil_sen"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 1, plan


def test_levene_corpus_collapses_before_median_windows(spark):
    """Brown-Forsythe: ONE documents scan into the (source, score)
    histogram; medians/deviations/F all run on the checkpointed
    bounded frame (windows are per-source over histogram cells)."""
    plan = plan_of(QUERIES["ext_levene"](spark, SF_DIR))
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_token_lorenz_decile_lookup_is_bounded(spark):
    """The decile-to-block lookup is a 10 x |values| bounded non-equi
    join over the histogram — never a corpus-sized nested loop."""
    plan = plan_of(QUERIES["ext_token_lorenz"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


# --- round-11 additions ------------------------------------------------------


def test_round11_panels_stay_jvm_side_and_cartesian_free(spark):
    """Every round-11 addition must plan without row-Python stages or
    cartesian products; the bounded scalar-fold broadcasts are the only
    nested loops (adjudicated in plans/lint.py BNL_ALLOWLIST)."""
    for name in (
        "ext_survival_curve",
        "ext_inter_arrival",
        "ext_binseg_changepoint",
        "ext_ljung_box",
        "ext_session_paths",
        "ext_effect_size_power",
        "ext_srm_check",
        "ext_odds_ratio",
        "ext_rater_agreement",
        "ext_gopher_rules",
        "ext_negative_sampling",
        "ext_capture_recapture",
        "ext_mattr",
        "ext_random_projection",
        "ext_hhi",
    ):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_mattr_single_explode_no_window_materialization(spark):
    """The windowless MATTR must read documents ONCE, explode ONCE, and
    carry no per-window array build — the closed-form contribution is
    plain integer arithmetic after one LAG window."""
    plan = plan_of(QUERIES["ext_mattr"](spark, SF_DIR))
    assert plan.count("Generate explode") + plan.count("Generate posexplode") == 1, plan
    assert "collect_list" not in plan, plan


def test_random_projection_partial_aggregates(spark):
    """The JL projection's per-vector sums must combine map-side
    (partial + final hash aggregate) — the posexplode partial-agg shape
    that replaced the 6x-slower interpreted lambda folds."""
    plan = plan_of(QUERIES["ext_random_projection"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_hhi_joins_are_shuffle_or_broadcast_hash(spark):
    plan = plan_of(QUERIES["ext_hhi"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_round13_registrations_stay_jvm_side_and_cartesian_free(spark):
    """The three r13 promotions plan without row-Python stages or
    cartesian products; their nested loops are the two adjudicated
    bounded-BNL shapes (plans/lint.py BNL_ALLOWLIST: binseg2's
    calendar-bounded prefix-pair grid, fdr_bh's single-row moment
    fold)."""
    for name in (
        "two_proportion_panel",
        "binseg2_changepoint",
        "fdr_bh_panel",
    ):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_two_proportion_single_scan_partial_agg(spark):
    """A/B panel: one events scan (per-user day-0 conversion -> one
    grouped fold); the variant counts partial-aggregate before the
    single-row shuffle."""
    plan = plan_of(QUERIES["two_proportion_panel"](spark, SF_DIR))
    assert plan.count("Scan parquet") <= 1, plan
    assert "partial" in plan.lower(), plan


def test_binseg2_pair_grid_is_bounded_broadcast(spark):
    """The (t1 < t2) prefix-pair grid joins broadcast on the
    calendar-bounded side (the Mann-Kendall shape) — the corpus is
    scanned once into the checkpointed daily frame, never
    nested-looped."""
    plan = plan_of(QUERIES["binseg2_changepoint"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") <= 1, plan
