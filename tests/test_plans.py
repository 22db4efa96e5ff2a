"""Physical-plan shape assertions — the 100 TB posture, checked in CI.

Correctness says the operators compute the right rows; these tests pin
the *plans*: filters reach the parquet scan, projections prune the read
schema, dimension joins broadcast, aggregates are partial+final, and
co-bucketed tables join without a shuffle. A regression here is a silent
10-100× slowdown at scale even though every oracle still matches.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.registry import load_all
from azure_batch_map_reduce_spark.sources.files import write_bucketed

REGISTRY = load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in explained


def test_column_pruning_reads_only_needed_columns(spark, sf_dir):
    df = REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # 7 needed columns of lineitem's 12 — the scan schema must not
    # contain the unused FK/linenumber columns.
    read_schema = [l for l in explained.splitlines() if "ReadSchema" in l][0]
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unused not in read_schema


def test_dimension_join_broadcasts(spark, sf_dir):
    plan = plan_of(REGISTRY["q21_revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_aggregate_is_partial_then_final(spark, sf_dir):
    plan = plan_of(REGISTRY["q01_pricing_summary"].fn(spark, sf_dir))
    # Two HashAggregate nodes around the exchange = map-side combine.
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # Under AQE the physical plan is only finalized at execution time
    # (the pre-execution AdaptiveSparkPlan has no codegen subtrees yet),
    # so run the query and inspect the final executed plan.
    df = REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    # The executed plan marks codegen'd operators with a "*(stageId)"
    # prefix; both HashAggregates and the Filter/Project must carry one.
    plan = plan_of(df)
    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    assert re.search(r"\*\(\d+\) Filter", plan)


def test_semi_join_plans_as_semi(spark, sf_dir):
    plan = plan_of(REGISTRY["q22_semi_join"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    write_bucketed(
        t["orders"].select("o_orderkey", "o_orderpriority"),
        "b_orders", ["o_orderkey"], n_buckets=4,
    )
    write_bucketed(
        t["lineitem"].select(
            F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
        ),
        "b_lineitem", ["o_orderkey"], n_buckets=4,
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cobucketed_join_has_no_shuffle(spark, sf_dir, bucketed_tables):
    """The pay-the-shuffle-once layout: two tables bucketed 4×4 on the
    join key sort-merge-join with ZERO Exchange in the plan."""
    bo, bl = bucketed_tables
    joined = (
        spark.table(bl)
        .join(spark.table(bo).hint("merge"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice").alias("total"))
    )
    plan = plan_of(joined)
    assert "SortMergeJoin" in plan
    join_section = plan.split("HashAggregate")[-1]  # below the final agg
    assert "Exchange hashpartitioning" not in join_section
    # And the result is right: matches the unbucketed computation.
    t = load_tables(spark, sf_dir)
    expected = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice").alias("total"))
    )
    got = {r["o_orderpriority"]: round(r["total"], 2) for r in joined.collect()}
    want = {r["o_orderpriority"]: round(r["total"], 2) for r in expected.collect()}
    assert got == want


def test_salted_join_splits_hot_keys(spark, sf_dir):
    """Salting must actually spread a hot key: the salted fact side gets
    8 distinct (key, salt) combinations for a key with ≥8 rows."""
    from azure_batch_map_reduce_spark.operators.skew import salted_join

    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    hot = (
        li.groupBy("l_orderkey").count().orderBy(F.desc("count")).first()
    )
    if hot["count"] < 4:
        pytest.skip("fixture has no multi-row orderkey")
    salted = li.withColumn(
        "_salt", F.pmod(F.hash(F.col("l_linenumber")), F.lit(8))
    ).filter(F.col("l_orderkey") == hot["l_orderkey"])
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts >= min(4, hot["count"])


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A fact table written partitionBy(key) joined to a filtered dim on
    that key must scan only the surviving partitions: the parquet scan's
    PartitionFilters carries a dynamicpruning subquery fed by the dim —
    directory-level skipping, the 100 TB payoff of partitioned layout."""
    from azure_batch_map_reduce_spark.sources.files import write_parquet

    t = load_tables(spark, sf_dir)
    d = str(tmp_path / "orders_p")
    write_parquet(t["orders"], d, partition_by=["o_orderpriority"])
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 1), ("5-LOW", 0)],
        "o_orderpriority string, keep int",
    )
    j = (
        fact.join(dim.filter(F.col("keep") == 1), "o_orderpriority")
        .groupBy("o_orderpriority")
        .count()
    )
    explained = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in explained
    # And the pruned result is still exact.
    got = {r["o_orderpriority"]: r["count"] for r in j.collect()}
    want = {
        r["o_orderpriority"]: r["count"]
        for r in t["orders"]
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert got == want


def test_asof_helpers_agree_with_q27(spark, sf_dir):
    """Both as-of implementations (union+window JVM form, cogrouped
    merge_asof pandas form) must reproduce q27's oracle-checked result."""
    from azure_batch_map_reduce_spark.operators.joins import (
        asof_join,
        asof_join_pandas,
    )

    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("last_click_ts")
    )
    expected = sorted(
        (r["event_id"], r["last_click_ts"])
        for r in REGISTRY["q27_asof_join"].fn(spark, sf_dir).collect()
    )
    for impl in (asof_join, asof_join_pandas):
        got = sorted(
            (r["event_id"], r["last_click_ts"])
            for r in impl(
                purchases, clicks, on="ts", by="user_id",
                value_cols=["last_click_ts"],
            ).collect()
        )
        assert got == expected, impl.__name__


def test_curation_queries_never_shuffle_the_big_side(spark, sf_dir):
    # q74: the 8-row centroid table broadcasts; the corpus is map-only.
    plan = plan_of(REGISTRY["q74_centroid_assign"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # q79: hydration joins the 5-row top-k against documents broadcast —
    # the documents fact table must not be exchanged for the join.
    plan79 = plan_of(REGISTRY["q79_retrieval_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan79
    assert "CartesianProduct" not in plan79


def test_pii_scrub_is_map_only_before_rollup(spark, sf_dir):
    # Exactly ONE exchange (the per-source rollup): redaction itself
    # must not introduce a shuffle.
    plan = plan_of(REGISTRY["q54_pii_scrub"].fn(spark, sf_dir))
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1


def test_contamination_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = plan_of(REGISTRY["q69_contamination_check"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", "") \
        or "BroadcastNestedLoopJoin" not in plan
    # Gram matching must plan as a hash equi-join (broadcast or shuffled).
    assert "HashJoin" in plan


def test_bm25_is_map_side_with_takeordered(spark, sf_dir):
    """BM25 scoring must stay in map-side expressions: no token explode
    shuffle, corpus stats broadcast, top-k as TakeOrdered (heaps), not
    a global Sort."""
    plan = plan_of(REGISTRY["q107_bm25_retrieval"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Generate explode" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_gapfill_broadcasts_hourly_onto_grid(spark, sf_dir):
    """The outer join of grid←hourly must be a broadcast hash join (the
    post-agg hourly table is grain-bounded), never sort-merge."""
    plan = plan_of(REGISTRY["q104_gapfill_resample"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_skew_profile_uses_takeordered_not_global_sort(spark, sf_dir):
    plan = plan_of(REGISTRY["q105_key_skew_profile"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_priority_sample_is_one_scan_takeordered(spark, sf_dir):
    """Priority sampling must be hash math + per-partition heaps: one
    parquet scan, no exchange other than the top-k gather."""
    plan = plan_of(REGISTRY["q112_priority_sample"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_fuzzy_join_is_equi_on_block_key(spark, sf_dir):
    """The fuzzy join must hash-join on the block key with levenshtein
    as a residual filter — a nested-loop plan would be N² at scale."""
    plan = plan_of(REGISTRY["q111_fuzzy_blocked_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quality_audit_fk_rules_are_anti_joins(spark, sf_dir):
    plan = plan_of(REGISTRY["q110_quality_audit"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_zorder_value_is_codegen_map_side(spark, sf_dir):
    """Z-value bit math must be pure map-side expression work with only
    the rollup exchange — one scan, partial+final agg, no join. (The
    AQE pre-execution plan hides WholeStageCodegen wrappers, so assert
    the shape that implies codegen: projection straight into a
    two-phase HashAggregate.)"""
    df = REGISTRY["q115_zorder_layout"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2 and "partial_count" in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The LATERAL subquery must decorrelate into a ranked-window plan
    (WindowGroupLimit prunes to k rows per group BEFORE the shuffle) —
    never a per-outer-row nested-loop re-execution."""
    plan = plan_of(REGISTRY["q116_lateral_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_simjoin_has_no_cartesian(spark, sf_dir):
    # q150's whole point: candidates come from an EQUI join on prefix
    # tokens, never a cartesian/nested-loop pair enumeration.
    df = REGISTRY["q150_prefix_filter_simjoin"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_broadcasts_both_dims(spark, sf_dir):
    # q153: supplier and nation must broadcast into the lineitem scan
    # side — a shuffle join on the fact table here is the 100 TB bug.
    df = REGISTRY["q153_pareto_coverage"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2


def test_interval_sweep_is_single_shuffle_no_join(spark, sf_dir):
    # q155 replaces the O(n^2) overlap join with a sweep: the plan may
    # join the tiny per-supplier peak table back, but must never form
    # interval PAIRS via nested-loop or cartesian products.
    df = REGISTRY["q155_interval_concurrency"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_exact_pass_is_semi_filtered(spark, sf_dir):
    # q158: the exact count must be restricted to sketch candidates via
    # a broadcast semi join — counting the full token stream unfiltered
    # would defeat the sketch.
    df = REGISTRY["q158_heavy_hitters"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan


def test_partitioned_sink_scan_prunes_partitions(spark, sf_dir):
    # q173: the year predicate must land in PartitionFilters (directory
    # pruning), not survive as a post-scan filter on data rows.
    df = REGISTRY["q173_partitioned_sink_pruning"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in explained.splitlines() if "PartitionFilters" in l]
    assert pf and "order_year" in pf[0]


def test_pit_join_is_one_window_no_range_join(spark, sf_dir):
    # q166: the PIT lookup must be the union+carry-forward window — a
    # range/theta join between facts and versions would be quadratic in
    # version overlap.
    df = REGISTRY["q166_point_in_time_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_knn_broadcasts_query_side(spark, sf_dir):
    # q169: the small query set must broadcast against the train side.
    df = REGISTRY["q169_knn_classify"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_order_count_distribution_aggregates_below_join(spark, sf_dir):
    """q180: orders must collapse to customer grain BEFORE the outer
    join — the join's build input is an Aggregate, not the raw fact."""
    opt = optimized_of(REGISTRY["q180_order_count_distribution"].fn(spark, sf_dir))
    join_pos = opt.index("Join")
    agg_below = opt.index("Aggregate", join_pos)
    assert agg_below > join_pos  # an Aggregate sits under the join subtree


def test_rolling_corr_is_single_data_shuffle(spark, sf_dir):
    """q182: all six rolling moments share ONE window over one
    user_id exchange; the only other exchange is the presentation
    sort's range partitioning."""
    plan = plan_of(REGISTRY["q182_rolling_corr"].fn(spark, sf_dir))
    assert plan.count("Window") == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_golden_record_reuses_window_exchange_for_agg(spark, sf_dir):
    """q181: the survivorship window and the per-key aggregation hash
    on the same dup_key — Catalyst must not add a second hash
    exchange for the groupBy."""
    plan = plan_of(REGISTRY["q181_golden_record"].fn(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_shuffle_hash_hint_yields_shj_build_on_dim(spark, sf_dir):
    """q185: the SHUFFLE_HASH hint must materialize as a
    ShuffledHashJoin (no sort of the fact side)."""
    plan = plan_of(REGISTRY["q185_shuffle_hash_join"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """Scale posture: when a selective dimension filter feeds a SHUFFLE
    join (broadcast unavailable — the 100 TB fact⋈fact case), Spark's
    runtime bloom filter must inject a pre-shuffle semi-filter on the
    fact side (bloom_filter_agg on the build, might_contain on the
    probe). This is the engine's answer to the reference's total lack
    of pushdown — the filter crosses the join at runtime."""
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        t = load_tables(spark, sf_dir)
        part = t["part"].where(F.col("p_brand") == "Brand#11")
        df = (
            t["lineitem"]
            .join(part, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        opt = optimized_of(df)
        assert "bloom_filter_agg" in opt and "might_contain" in opt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            prev_scan,
        )


def test_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """q206: the year predicate sits on the dim side only; the fact
    scan must carry a dynamicpruning PartitionFilter (files of
    non-matching years never listed)."""
    plan = plan_of(REGISTRY["q206_dynamic_partition_pruning"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_decayed_score_is_pure_partial_final_agg(spark, sf_dir):
    """q199: no window, no join — two HashAggregates around one
    exchange, TakeOrdered for the top-50."""
    plan = plan_of(REGISTRY["q199_decayed_activity_score"].fn(spark, sf_dir))
    assert "Window" not in plan and "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_item_cf_pair_generation_is_equi_join(spark, sf_dir):
    """q212: basket pair generation must be an equi-join on the order
    key (the < predicate is a residual filter) — never a cartesian
    product; and the support floor survives as a filter on the pair
    aggregate."""
    df = REGISTRY["q212_item_cf_cosine"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    opt = optimized_of(df)
    assert "(n_ab" in opt and ">= 3" in opt


def test_date_spine_broadcasts_onto_daily_rollup(spark, sf_dir):
    """q213: the |days|-row spine joins the day-grain aggregate — a
    broadcast join, never a fact-sized shuffle join."""
    plan = plan_of(REGISTRY["q213_date_spine"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Unpartitioned-window bans (round-2): these queries were rewritten from
# global-window forms to the ranks.py sample-sort decomposition. An
# unpartitioned Window funnels every row through ONE task at any scale —
# a reintroduction is a silent 100 TB killer even though every oracle
# still matches, so the ban is pinned here per query.

GLOBAL_WINDOW_FREE = [
    "q139_ks_two_sample",
    "q167_mutual_information",
    "q171_lift_curve",
    "q235_rfm_segmentation",
    "q236_distributed_rank",
    # Bounded-grain global windows replaced by the rank_small sorted-array
    # aggregate so the whole bench headline set plans zero WindowExec-
    # without-partition nodes (these three were the remaining warners).
    "q73_ivf_ann",
    "q190_hybrid_rrf_retrieval",
    "q202_vocab_dictionary",
    # Round-2 additions, window-free by construction (struct-max /
    # TakeOrdered / broadcast-join shapes).
    "q239_bpe_merge_training",
    "q240_temperature_mixing",
    "q241_hard_negative_mining",
    "q242_pq_ann",
    "q243_kmeans_lloyd_step",
    "q244_group_kfold_split",
    "q245_matryoshka_fidelity",
    "q246_bpe_compression_rate",
    "q249_exact_quantiles_distributed",
    "q255_distributed_auc",
    # Round-3: prefix-max sweep moved onto distributed_running_extremum
    # (the last data-sized unpartitioned window flagged by the r2 verdict).
    "q162_skyline",
]


@pytest.mark.parametrize(
    "name", ["q73_ivf_ann", "q242_pq_ann", "q243_kmeans_lloyd_step"]
)
def test_vector_assignment_never_shuffles_corpus(spark, sf_dir, name):
    """The ANN/codebook family assigns vectors map-side against a 1-row
    broadcast codebook array. A regression to the vectors×centroids
    expansion shows up as a hash exchange keyed on vec_id — the
    corpus-sized shuffle these rewrites removed."""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan, name


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes print as `Window [exprs], [partition], [order]`;
    the unpartitioned form has only two bracket groups."""
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ").strip()
        if s.startswith("Window ") and s.count("], [") == 1:
            hits.append(s)
    return hits


@pytest.mark.parametrize("name", GLOBAL_WINDOW_FREE)
def test_no_unpartitioned_window(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    offenders = _unpartitioned_windows(optimized_of(df))
    assert not offenders, f"{name} has global window(s): {offenders}"


def test_distributed_rank_single_range_shuffle(spark, sf_dir):
    """q236: the data-grain path must shuffle exactly once (the range
    exchange); the offsets side is broadcast. A second full exchange on
    the data grain means the pid trick regressed to a window shuffle."""
    plan = plan_of(REGISTRY["q236_distributed_rank"].fn(spark, sf_dir))
    assert "Exchange rangepartitioning" in plan
    assert "BroadcastHashJoin" in plan


def test_group_limit_applied_before_join(spark, sf_dir):
    """q237: the rank<=2 filter must compile to WindowGroupLimit (heap
    per group, map-side Partial + post-shuffle Final) — not a full
    window materialization — and the join must stay equi (no nested
    loop)."""
    df = REGISTRY["q237_window_group_limit_topk"].fn(spark, sf_dir)
    opt = optimized_of(df)
    assert "WindowGroupLimit" in opt
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------------------
# Round-3 additions (q256-q264): candidate generation must stay equi-keyed.


@pytest.mark.parametrize(
    "name",
    [
        "q258_semantic_cluster_dedup",   # pairs equi on cluster label
        "q260_substring_shingle_overlap",  # pairs equi on shingle key
    ],
)
def test_r3_pair_generation_never_cartesian(spark, sf_dir, name):
    """The r3 dedup operators form candidate pairs via bucketed
    equi-joins (cluster label / shingle key). A CartesianProduct here
    is the all-pairs blow-up these designs exist to avoid."""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_q256_pair_grain_broadcasts(spark, sf_dir):
    """Bradley-Terry's iteration-2 term join runs at type-pair grain
    against the broadcast s1 table — the data-grain shuffle is the one
    user_id lag exchange, nothing else."""
    plan = plan_of(REGISTRY["q256_bradley_terry_preferences"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q257_lm_joins_are_equi(spark, sf_dir):
    """The bigram-occurrence -> model join must be an equi hash join on
    the bigram key; V is the only nested-loop (1-row broadcast)."""
    plan = plan_of(REGISTRY["q257_bigram_lm_filter"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q259_topk_uses_window_group_limit(spark, sf_dir):
    """rank<=8 over the scored candidates must compile to
    WindowGroupLimit (per-group heap, map-side partial) — not a full
    window materialization of every candidate."""
    opt = optimized_of(REGISTRY["q259_rag_context_assembly"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in opt


def test_q262_diff_is_single_outer_join(spark, sf_dir):
    """The snapshot diff is ONE full-outer SortMergeJoin/ShuffledHash
    at doc-id grain; content hashes must be computed below the join
    (projection side), never via a second corpus pass."""
    plan = plan_of(REGISTRY["q262_corpus_version_diff"].fn(spark, sf_dir))
    assert plan.count("FullOuter") >= 1
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-3 additions (q273-q283): broadcast-dictionary joins, pair-free
# aggregation shapes, TakeOrdered top-k.


@pytest.mark.parametrize(
    "name",
    [
        "q273_segment_boilerplate_removal",  # boiler set joins equi on segment
        "q274_positional_inverted_index",    # postings equi on term
        "q276_kmv_overlap_estimate",         # exact-audit equi on bigram
        "q281_gazetteer_span_match",         # spans equi on phrase
        "q283_ngram_novelty_curve",          # first-seen equi on bigram
    ],
)
def test_r3b_joins_never_cartesian(spark, sf_dir, name):
    """Every round-3b corpus operator generates candidates through an
    equi-keyed join (segment/term/bigram/phrase); a CartesianProduct is
    the all-pairs blow-up the key exists to avoid. (1-row scalar
    broadcasts — corpus size, n_pairs — are BroadcastNestedLoop by
    construction and allowed.)"""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    ["q274_positional_inverted_index", "q281_gazetteer_span_match"],
)
def test_r3b_dictionary_joins_broadcast(spark, sf_dir, name):
    """The term-head table (q274) and the phrase gazetteer (q281) are
    orders of magnitude smaller than the corpus — their joins must plan
    as BroadcastHashJoin so candidate matching never shuffles the
    corpus."""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, name


def test_q278_is_pair_free(spark, sf_dir):
    """Fellegi-Sunter u-estimation uses the C(n,2) identity at group
    grain — the plan must contain NO join at the customer-pair grain:
    only aggregates plus the 3-row weight-table broadcast."""
    plan = plan_of(REGISTRY["q278_fellegi_sunter_weights"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # partial+final aggregation for both field-grain rollups
    assert plan.count("HashAggregate") >= 4


def test_q280_probe_join_broadcasts_no_corpus_shuffle(spark, sf_dir):
    """Multi-probe candidate generation joins the corpus against the
    7-row probe table — broadcast, with top-k as TakeOrdered: the
    corpus must reach the result without a single Exchange hash
    partitioning on a corpus-sized key."""
    df = REGISTRY["q280_multiprobe_lsh_ann"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q282_schedule_head_is_take_ordered(spark, sf_dir):
    """The WFQ merge's first-40 must be a TakeOrderedAndProject (map-side
    heaps), never a global sort of the corpus."""
    plan = plan_of(REGISTRY["q282_wfq_interleave_schedule"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# Round-3b additions (q284-q295): bounded-grain folds fed by equi-joins,
# broadcast model tables, sketch-grain rollups.


@pytest.mark.parametrize(
    "name",
    [
        "q284_lsh_s_curve_tuning",        # pairs equi on source; hist broadcast
        "q291_weak_supervision_lf_summary",  # pairs equi on doc_id
        "q293_ndcg_retrieval_eval",       # queries broadcast onto corpus scan
        "q294_sliding_hll_union",         # range join at DAY grain only
    ],
)
def test_r3c_no_cartesian(spark, sf_dir, name):
    """Candidate/term generation must stay keyed (source, doc_id, day)
    or ride a broadcast — a CartesianProduct at corpus grain is the
    blow-up these shapes exist to avoid."""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_q285_histogram_is_partial_final_and_audit_rides_ranks(spark, sf_dir):
    """The quantile sketch must aggregate partial+final at bin grain
    and its exact audit must use the range-shuffle rank primitive, not
    Spark's single-reducer exact percentile."""
    plan = plan_of(REGISTRY["q285_mergeable_quantile_histogram"].fn(spark, sf_dir))
    assert "Percentile" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "RangePartitioning" in plan or "rangepartitioning" in plan.lower()


def test_q288_q289_plans_are_map_side(spark, sf_dir):
    """The masking/FIM planners are per-document expression work: no
    join in q289 at all; q288 only re-attaches doc-grain totals."""
    plan289 = plan_of(REGISTRY["q289_fim_split_plan"].fn(spark, sf_dir))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan289
    plan288 = plan_of(REGISTRY["q288_span_corruption_plan"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan288


def test_q290_fold_runs_at_cell_grain(spark, sf_dir):
    """LPT packing aggregates the corpus to cells first; the greedy
    fold is a single-row array expression, so the plan has no join or
    window at vector grain."""
    plan = plan_of(REGISTRY["q290_lpt_shard_balancing"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# Round-3d additions (q296-q303).


@pytest.mark.parametrize(
    "name",
    [
        "q296_adamic_adar_links",      # pairs equi on shared part, deg-capped
        "q297_winnowing_fingerprints",  # pairs equi on fingerprint, df-capped
        "q300_speculative_draft_acceptance",  # model joins equi on w1
        "q303_phrase_query_positional",  # postings equi on doc_id
    ],
)
def test_r3d_joins_stay_keyed(spark, sf_dir, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_q302_sketches_are_bounded_aggregates(spark, sf_dir):
    """Join-size estimation must never execute the joins it prices at
    data grain beyond the exact-audit paths: the sketch inner product
    joins 128-cell tables cell-to-cell."""
    plan = plan_of(REGISTRY["q302_cms_join_size_estimate"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 6  # 3 sketches partial+final


def test_q299_global_rank_sees_only_survivors(spark, sf_dir):
    """The global uncertainty rank runs after the per-source cap, so
    the unpartitioned window's input is <= 2 x |sources| rows — assert
    the filter sits below the second window."""
    df = REGISTRY["q299_active_learning_batch"].fn(spark, sf_dir)
    opt = optimized_of(df)
    # two Window operators with the rn_src filter between them.
    # "Window [" excludes WindowGroupLimit nodes — keeping
    # bounded_order's constant partition key (round 4) lets Catalyst
    # insert a WindowGroupLimit heap above the global rank too, which
    # a bare find("Window") would miscount.
    first_win = opt.find("Window [")
    assert first_win != -1
    second_win = opt.find("Window [", first_win + 8)
    assert second_win != -1
    assert "rn_src" in opt[:second_win]


# ---------------------------------------------------------------------------
# Round-3f additions (q322-q330).


@pytest.mark.parametrize(
    "name",
    [
        "q323_bh_fdr_control",         # cells x gstats are 1-row broadcasts
        "q324_mcnemar_paired_eval",    # pure map + single-row aggregate
        "q325_prefix_cache_sharing",   # explode + keyed rollups only
        "q326_tokenizer_fertility",    # stateless map + lang rollup
        "q327_jl_projection_distortion",  # shifted-key equi-join on vec_id
    ],
)
def test_r3f_no_cartesian(spark, sf_dir, name):
    """The new stats/LLM shapes stay keyed or broadcast — never a
    data-sized CartesianProduct (1-row broadcast cross joins are
    BroadcastNestedLoop, which is fine)."""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_q322_km_heavy_lifting_is_aggregated_before_window(spark, sf_dir):
    """Kaplan-Meier's ordered windows must run on the bounded life
    table (bin grain), i.e. above at least two partial+final
    aggregates (per-customer extrema, bin rollup) — never over the
    customer population."""
    plan = plan_of(REGISTRY["q322_kaplan_meier_survival"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_q328_q329_broadcast_the_small_side(spark, sf_dir):
    """TPC-H Q3/Q18 analogs: both queries' join inputs GROW with the
    data (Q3's segment slice is 1/5 of customer, Q18's HAVING
    survivors ~0.1% of orders), so neither carries a forced broadcast
    hint (the q329/ADVICE-r3 rule): AQE promotes from runtime sizes
    while they fit. The static pins are therefore no-cartesian +
    TakeOrdered (never a global sort)."""
    p328 = plan_of(REGISTRY["q328_shipping_priority"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p328
    assert "TakeOrderedAndProject" in p328
    p329 = plan_of(REGISTRY["q329_large_volume_orders"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p329
    assert "TakeOrderedAndProject" in p329


def test_q330_exists_compiles_to_semi_join(spark, sf_dir):
    """The EXISTS lateness audit must plan as a LEFT SEMI join (each
    order emitted at most once) with the year filter pushed to the
    orders scan."""
    df = REGISTRY["q330_late_shipment_priority"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    assert "PushedFilters" in plan


# ---------------------------------------------------------------------------
# Round-3g additions (q331-q339).


@pytest.mark.parametrize(
    "name",
    [
        "q331_column_masking_policy",   # stateless map + segment rollup
        "q333_conformal_prediction",    # rank primitive + 5-row broadcasts
        "q334_quantile_treatment_effect",  # rank primitive + 18-row targets
        "q336_uplift_qini_curve",       # rank primitive + 10-row curve
        "q338_epoch_shuffle_plan",      # 3-row epoch broadcast, doc equi-join
        "q339_power_analysis_sample_size",  # single partial+final aggregate
    ],
)
def test_r3g_no_cartesian(spark, sf_dir, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_q331_rls_predicate_pushes_to_scan(spark, sf_dir):
    """The row-level-security filter must reach the parquet scan as a
    pushed filter, not run post-scan."""
    plan = plan_of(REGISTRY["q331_column_masking_policy"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan


def test_q332_candidate_joins_run_at_vocab_grain(spark, sf_dir):
    """SymSpell candidate generation joins variant tables derived from
    the counted VOCABULARY — the corpus-grain token stream feeds only
    the count aggregate, so the plan has exactly one corpus-grain
    aggregation subtree and no cartesian product."""
    plan = plan_of(
        REGISTRY["q332_symspell_typo_correction"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan


def test_q334_rank_rides_range_partitioning(spark, sf_dir):
    """The QTE quantiles must use the sample-sort rank primitive (range
    shuffle), not a global single-partition window."""
    plan = plan_of(
        REGISTRY["q334_quantile_treatment_effect"].fn(spark, sf_dir)
    )
    assert "rangepartitioning" in plan.lower()


def test_q337_probe_set_broadcasts_and_windows_are_partitioned(spark, sf_dir):
    """KNN-Shapley: the 20-query probe set must broadcast (corpus never
    shuffles for scoring) and every window must be PARTITIONED by
    query — no 'No Partition Defined' global gather."""
    df = REGISTRY["q337_knn_shapley_valuation"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Broadcast" in plan
    opt = optimized_of(df)
    specs = opt.split("windowspecdefinition(")[1:]
    assert specs, "expected window specs in the optimized plan"
    for spec in specs:
        assert spec.startswith("qid"), spec[:80]


# ---- round-4 scale-posture fixes (r3 verdict tasks 3-6) ----


def test_q260_doc_grain_sizes_join_is_not_forced_broadcast(spark, sf_dir):
    """q260: the sizes table is DOC-grain (one row per surviving
    document) — at 100 TB it must never be force-broadcast. With the
    auto-broadcast threshold disabled, a forced hint would still
    surface as a BroadcastExchange; the fixed plan must show none
    (AQE may legitimately re-introduce one at runtime from observed
    sizes — the pin is that the STATIC plan carries no forced hint)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = REGISTRY["q260_substring_shingle_overlap"].fn(spark, sf_dir)
        plan = plan_of(df)
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q162_price_join_back_is_shuffle_equi(spark, sf_dir):
    """q162: the sweep table is distinct-price grain — the very table
    whose growth justified the distributed prefix-max, so the
    join-back must be a plain shuffle equi-join, not a forced
    broadcast. With auto-broadcast off, the only broadcasts left in
    the plan are the ≤|partitions|-row offset tables inside
    ``distributed_running_extremum``; the price join itself must
    compile to a SortMergeJoin."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = REGISTRY["q162_skyline"].fn(spark, sf_dir)
        plan = plan_of(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q284_sample_is_fixed_size_per_source(spark, sf_dir):
    """q284: the tuning histogram must be fed from a FIXED-SIZE
    per-source sample (corpus-size-free pair join), pinned two ways:
    the analyzed plan filters on a row_number bound (rank-k selection,
    not a constant-RATE doc_id %% filter), and the sampled doc count
    never exceeds m × |sources|."""
    from azure_batch_map_reduce_spark.functions.dedup import _SCURVE_SAMPLE_M

    df = REGISTRY["q284_lsh_s_curve_tuning"].fn(spark, sf_dir)
    opt = optimized_of(df)
    assert "row_number" in opt
    t = load_tables(spark, sf_dir)
    n_sources = t["documents"].select("source").distinct().count()
    total = df.agg(F.max("n_pairs_total")).first()[0]
    m = _SCURVE_SAMPLE_M
    # all pairs are within-source: total pairs <= |sources| * C(m, 2)
    assert total <= n_sources * m * (m - 1) // 2


# ---------------------------------------------------------------------------
# Round-4 TPC-H classics (q348-q352).


def test_q348_topk_is_take_ordered_with_broadcast_dim(spark, sf_dir):
    """Q10 analog: 20-row cut must be TakeOrdered (no global sort of
    the customer rollup) and nation must broadcast."""
    plan = plan_of(REGISTRY["q348_returned_item_customers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q351_disjunction_reaches_the_scans(spark, sf_dir):
    """Q19 analog: the OR-of-ANDs must decompose — the part-only
    disjunct prunes the broadcast dim scan, and the lineitem scan
    keeps an Or'd quantity predicate (PushedFilters), so neither side
    is scanned unfiltered at 100 TB."""
    df = REGISTRY["q351_disjunctive_predicate_revenue"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [l for l in explained.splitlines() if "PushedFilters" in l]
    assert any("Or(" in l for l in pushed), pushed


@pytest.mark.parametrize(
    "name",
    [
        "q349_ship_delay_priority_mix",     # CASE-sums in one partial+final agg
        "q350_promo_revenue_share",         # broadcast part dim, month grain
        "q352_inactive_high_balance",       # 1-row threshold + anti-join
    ],
)
def test_r4_tpch_no_cartesian(spark, sf_dir, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q353_q355_rank_stats_ride_range_partitioning(spark, sf_dir):
    """Mann-Whitney / Spearman midranks must ride the window-free
    running-sum primitive (range exchange + broadcast offsets), never
    a global window over data-sized distinct values."""
    for name in ("q353_mann_whitney_u", "q355_spearman_rank_correlation"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = plan_of(df)
        assert "Exchange rangepartitioning" in plan, name
        assert "CartesianProduct" not in plan, name
        offenders = _unpartitioned_windows(optimized_of(df))
        assert not offenders, (name, offenders)


def test_q354_propensity_joins_broadcast(spark, sf_dir):
    """IPS weights come from (bucket x action)-grain count tables —
    broadcast joins onto the event stream; no cartesian, no window."""
    df = REGISTRY["q354_ips_offpolicy_eval"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q356_model_tables_broadcast_no_cartesian(spark, sf_dir):
    """DSIR: the 64-row log-ratio model must broadcast into the
    (doc, bucket) score join and the 50-row cut must be TakeOrdered."""
    plan = plan_of(REGISTRY["q356_dsir_importance_resampling"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q357_chunk_first_occurrence_dedup",  # chunk-grain argmin equi-join
        "q358_encoding_corruption_audit",     # stateless map + source rollup
        "q359_largest_remainder_allocation",  # |sources|-grain + 1-row bcast
    ],
)
def test_r4_curation_no_cartesian(spark, sf_dir, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q362_row_diff_confined_to_flagged_ranges(spark, sf_dir):
    """Anti-entropy: digest rollups are partial+final at range grain
    and the row-level diff joins through a broadcast of the flagged
    bucket list — the table itself is never pair-joined."""
    plan = plan_of(REGISTRY["q362_merkle_antientropy_repair"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_q363_budget_cut_rides_range_partitioning(spark, sf_dir):
    """Knapsack selection: the cumulative-token cut must use the
    window-free running sum (range exchange + broadcast offsets), not
    a global window over doc-grain rows."""
    df = REGISTRY["q363_token_budget_knapsack"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    offenders = _unpartitioned_windows(optimized_of(df))
    assert not offenders, offenders


def test_q376_planner_is_exact_and_contiguous(spark, sf_dir):
    """Range-partition planner invariants: partitions cover the key
    space contiguously (hi_key < next lo_key), weights sum to the
    total row count, and the cumulative rides the range exchange (no
    global window)."""
    df = REGISTRY["q376_range_partition_planner"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange rangepartitioning" in plan
    offenders = _unpartitioned_windows(optimized_of(df))
    assert not offenders, offenders
    rows = df.collect()
    total = load_tables(spark, sf_dir)["lineitem"].count()
    assert sum(r["weight"] for r in rows) == total
    for a, b in zip(rows, rows[1:]):
        assert a["hi_key"] < b["lo_key"]


def test_q399_band_probe_is_delta_sided(spark, sf_dir):
    """Incremental near-dup (q399): BOTH band-bucket equi-joins must
    have a side filtered to the delta slice (doc_id % 10 = 7) so
    base-vs-base bucket pairs are never materialized — the defining
    cost property of incremental maintenance. Walks the optimized
    logical plan: every Join whose condition touches the band key has
    the delta-modulus predicate in at least one subtree."""
    from azure_batch_map_reduce_spark.catalog import load_tables as _lt
    from azure_batch_map_reduce_spark.functions.dedup import (
        _band_frame,
        _hash48,
        _inc_band_candidates,
        _minhash_exprs,
        _trigram_rows,
    )

    docs = _lt(spark, sf_dir)["documents"]
    tri = _trigram_rows(docs)
    ids = tri.select("doc_id", _hash48(F.col("s")).alias("wid"))
    bands = _band_frame(ids.groupBy("doc_id").agg(*_minhash_exprs(F.col("wid"))))
    cand = _inc_band_candidates(bands)

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    root = cand._jdf.queryExecution().optimizedPlan()
    band_joins = [
        n
        for n in walk(root)
        if n.nodeName() == "Join" and "bkey" in n.condition().toString()
    ]
    assert len(band_joins) == 2, [j.condition().toString() for j in band_joins]
    for j in band_joins:
        sides = [j.left().toString(), j.right().toString()]
        assert any("% 10) = 7" in s for s in sides), (
            "band join has no delta-sided probe:\n" + j.condition().toString()
        )


def test_minhash_signatures_read_the_persisted_shingle_sets(spark, sf_dir):
    """`_minhash_signatures` builds the trigram rows once: the minhash
    aggregate `mh` reads the persisted shingle sets `w`, so its
    optimized logical plan has no Window (the lead() pass of
    `_trigram_rows`) of its own — only w's InMemoryRelation."""
    from azure_batch_map_reduce_spark.functions.dedup import _minhash_signatures

    mh, w = _minhash_signatures(load_tables(spark, sf_dir)["documents"])

    def walk(node):
        yield node.nodeName()
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    try:
        names = list(walk(mh._jdf.queryExecution().optimizedPlan()))
    finally:
        w.unpersist()
    assert "InMemoryRelation" in names, names
    assert "Window" not in names, names


def test_aqe_skew_join_splits_hot_key(spark, sf_dir):
    """r5 verdict task 6: adversarial skew fixture for q404's hot-key
    join. Forces the 100 TB regime at test scale — broadcast OFF (so
    the join is a real shuffle join) and AQE skew thresholds lowered to
    fixture sizes — then asserts (a) OptimizeSkewedJoin actually split
    the hot partition (`skew=true` in the final adaptive plan) and
    (b) the design-time counter, `salted_join`, yields the identical
    aggregate on the same fixture."""
    from azure_batch_map_reduce_spark.operators.skew import salted_join

    t = load_tables(spark, sf_dir)
    # Fan the fact out to 16 map tasks first: AQE splits a skewed
    # REDUCE partition by dividing its MAP outputs among extra tasks,
    # so a single-mapper shuffle (one tiny fixture file) is
    # indivisible and the rule silently declines. At 100 TB there are
    # always thousands of mappers; the repartition recreates that.
    fact = (
        t["lineitem"]
        .select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit(1))
            .otherwise(F.col("l_suppkey"))
            .alias("account"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
        )
        .repartition(16)
    )
    dim = t["supplier"].select(
        F.col("s_suppkey").alias("account"), "s_nationkey"
    )

    def rollup(joined):
        return [
            (r["nation_key"], r["n_items"], r["revenue"])
            for r in joined.groupBy(
                F.col("s_nationkey").alias("nation_key")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.round(F.sum("rev"), 2).alias("revenue"),
            )
            .orderBy("nation_key")
            .collect()
        ]

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        joined = fact.join(dim, "account")
        # Execute THIS frame (each derived frame has its own
        # QueryExecution — the rollup's run would leave this one
        # unexecuted and its adaptive plan non-final).
        joined.collect()
        plain = rollup(joined)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE did not split the hot partition:\n" + plan[:2000]
        )
        salted = rollup(
            salted_join(fact, dim, key="account", n_salt=8, salt_basis="rev")
        )
        assert salted == plain
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q406_single_watermark_above_union(spark, sf_dir, tmp_path):
    """q406's defining plan property: ONE EventTimeWatermark node
    sitting ABOVE a 3-way union of streaming sources. Per-source
    watermarks would min-combine under multipleWatermarkPolicy and a
    lagging shard would hold every window open — so the pin asserts
    exactly one watermark node in the analyzed plan and that the union
    (3 streaming leaves) is entirely BELOW it."""
    from azure_batch_map_reduce_spark.catalog import load_tables as _lt

    ev = _lt(spark, sf_dir)["events"].select("event_id", "event_type", "ts", "value")
    srcs = []
    for i in range(3):
        src = str(tmp_path / f"feed{i}")
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(src)
        srcs.append(src)
    schema = spark.read.parquet(srcs[0]).schema

    merged = None
    for src in srcs:
        s = spark.readStream.schema(schema).parquet(src)
        merged = s if merged is None else merged.unionByName(s)
    agg = (
        merged.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    root = agg._jdf.queryExecution().analyzed()
    nodes = list(walk(root))
    wm = [n for n in nodes if n.nodeName() == "EventTimeWatermark"]
    assert len(wm) == 1, [n.nodeName() for n in nodes]
    # All 3 streaming leaves live below the single watermark node.
    leaves_below_wm = [
        n for n in walk(wm[0]) if "StreamingRelation" in n.nodeName()
    ]
    assert len(leaves_below_wm) == 3, [n.nodeName() for n in nodes]


def test_q62_result_invariant_to_join_strategy(spark, sf_dir):
    """q62's band-bucket join carries no broadcast hint, so at fixture
    scale Catalyst may broadcast it while the 100 TB regime is a
    shuffle join. The q404 discipline: don't just pin the forced
    regime's PLAN — pin that the RESULT is identical under it, so the
    pair set the dedup finds is independent of the physical join
    strategy AQE happens to pick at any scale."""
    normal = sorted(
        tuple(r)
        for r in REGISTRY["q62_minhash_lsh_neardup"].fn(spark, sf_dir).collect()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = REGISTRY["q62_minhash_lsh_neardup"].fn(spark, sf_dir)
        plan = plan_of(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        forced = sorted(tuple(r) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert forced == normal


def test_q407_dp_release_is_single_aggregate(spark, sf_dir):
    """The DP release must stay one partial+final count aggregate with
    noise as scalar expressions on GROUP-grain rows: no window, no
    join, no second fact scan (the audit columns reuse the same agg),
    and the customer scan pruned to the two needed columns."""
    df = REGISTRY["q407_dp_noisy_count_release"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "Join" not in explained
    # formatted explain mentions each node twice (tree + detail): one
    # scan node = 2 mentions, the partial+final pair = 4.
    assert explained.count("Scan parquet") == 2
    read_schema = [l for l in explained.splitlines() if "ReadSchema" in l][0]
    assert "c_nationkey" in read_schema and "c_acctbal" in read_schema
    assert "c_name" not in read_schema and "c_address" not in read_schema
    assert explained.count("HashAggregate") == 4


def test_q411_writethrough_returns_bare_scan(spark, sf_dir):
    """r8 verdict task 3 pin: the write-through restart drill's RETURN
    value must be a lazy scan of the written reconciliation table —
    no aggregate, no join, no collect-shaped LocalRelation riding
    above it (the whole point is zero session rows through the
    driver). One scan node = 2 mentions in formatted explain."""
    df = REGISTRY["q411_restart_writethrough_sink"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert explained.count("Scan parquet") == 2
    assert "HashAggregate" not in explained
    assert "Join" not in explained
    assert "LocalTableScan" not in explained
    assert "/final" in explained


def test_q422_pass_at_k_is_single_aggregate(spark, sf_dir):
    """pass@k must stay ONE partial+final count aggregate to problem
    grain with the combinatorics as scalar expressions (the q407
    release shape): one events scan, no join, no window, and the scan
    pruned to the two consumed columns."""
    df = REGISTRY["q422_pass_at_k_eval"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "Join" not in explained
    assert explained.count("Scan parquet") == 2
    read_schema = [l for l in explained.splitlines() if "ReadSchema" in l][0]
    assert "user_id" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_q425_mg_windows_are_bounded_and_audit_join_broadcasts(
    spark, sf_dir
):
    """The sketch's rank windows run per source / over the ≤ k·sources
    merged counters — never a corpus-wide unpartitioned window (the
    bounded_order contract keeps the WindowExec warning a binary
    signal) — and the exact-count audit join must broadcast the
    k-row summary side, not shuffle the vocabulary."""
    df = REGISTRY["q425_misra_gries_heavy_hitters"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in explained
    assert "BroadcastHashJoin" in explained


def test_q427_watermark_is_explode_plus_single_aggregate(spark, sf_dir):
    """The detector must stay one bigram explode + one partial+final
    doc-grain aggregate with the z-test as scalar math: one documents
    scan, no join, no window, scan pruned to (doc_id, text)."""
    df = REGISTRY["q427_text_watermark_detection"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "Join" not in explained
    assert explained.count("Scan parquet") == 2
    assert explained.count("HashAggregate") == 4
    read_schema = [l for l in explained.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema


def test_q428_python_source_pushes_equality_keeps_residual(spark, sf_dir):
    """The Python data source must receive the EqualTo predicate
    (PushedFilters on the BatchScan) while the non-equality residual
    stays as a Filter node above it — both pushdown routes in one
    plan."""
    df = REGISTRY["q428_python_datasource_scan"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BatchScan abmr_docs_meta" in explained
    assert "PushedFilters: [EqualTo(source,src1)]" in explained
    assert "Filter" in explained  # lang <> 'zh' evaluated above the scan
    assert "NOT (lang" in explained or "isnotnull(lang" in explained


def test_q429_dbscan_candidates_are_equi_join_not_cartesian(spark, sf_dir):
    """The grid candidate generator must plan as an equi-join on the
    3x3 cell keys — any CartesianProduct / nested-loop here is the
    all-pairs blowup the grid exists to avoid."""
    df = REGISTRY["q429_grid_dbscan_clusters"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in explained
    assert "BroadcastNestedLoopJoin" not in explained


def test_q430_kcore_has_no_global_window(spark, sf_dir):
    """The rank cut must come from the window-free distributed rank,
    never a global WindowExec (the zero-warning budget)."""
    df = REGISTRY["q430_kcore_decomposition"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "Window" not in explained.replace("WindowGroupLimit", "")


def test_q431_randomized_response_plan_shape(spark, sf_dir):
    """One lang-grain rollup over broadcast L-row lang tables: no
    window anywhere, the lang-index join broadcast, scans pruned to
    (doc_id, lang) — the text payload must never be read."""
    df = REGISTRY["q431_randomized_response_frequency"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "BroadcastHashJoin" in explained
    for line in explained.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line, line


def test_q435_wasserstein_scan_prunes_text(spark, sf_dir):
    """The coupling needs only (source, n_chars): every documents scan
    must prune the text payload, and the only window is the
    source-partitioned cumulative sum (never a global window)."""
    df = REGISTRY["q435_wasserstein_source_drift"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for line in explained.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line, line
    assert "partitionBy" not in explained  # formatted shows specs inline
    assert "WindowExec: No Partition" not in explained


def test_q436_em_joins_broadcast_the_count_tables(spark, sf_dir):
    """The held-out frame joins the train count tables by BROADCAST
    (vocab-bounded sides), and no window appears anywhere."""
    from azure_batch_map_reduce_spark.registry import REGISTRY as R

    df = R["q436_deleted_interpolation_em"].fn(spark, sf_dir)
    # the returned frame is a literal table (driver-folded lambda
    # path); pin the shape of the E-step aggregation input instead
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained


def test_q439_step_is_single_scan_single_aggregate(spark, sf_dir):
    """r11 verdict task 4's plan pin: one DP-SGD step = ONE corpus
    scan with the feature map, gradient, norm, and clip all fused into
    it, then one partial+final aggregate on the 4-dim grain — no
    joins, no windows, no second scan, no new shuffles vs q433's step
    (formatted explain mentions each node twice: 1 scan = 2, the
    partial+final pair = 4)."""
    from azure_batch_map_reduce_spark.functions.curation import (
        _dpsgd_examples,
        _dpsgd_step_frame,
        _qc_obs,
    )

    df = _dpsgd_step_frame(_dpsgd_examples(_qc_obs(spark, sf_dir), [0.0] * 4))
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "Join" not in explained
    assert explained.count("Scan parquet") == 2
    assert explained.count("HashAggregate") == 4
    read_schema = [l for l in explained.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "n_chars" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_q440_langid_model_joins_are_broadcast(spark, sf_dir):
    """The NB scoring join must BROADCAST the bounded model/prior
    frames into the gram stream (no shuffle of the corpus on the gram
    key beyond its own aggregates); no window functions; the ONLY
    sort-merge joins are the doc_id-keyed argmax joins (score frame ⋈
    per-doc max — both sides data-sized and co-partitioned, the
    correct shape), never a gram- or lang-keyed one."""
    df = REGISTRY["q440_naive_bayes_langid_training"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "CartesianProduct" not in explained
    assert "BroadcastHashJoin" in explained
    # At most the two argmax joins sort-merge (x2 formatted mentions
    # each), keyed on the doc grain (the correct co-partitioned shape).
    assert explained.count("SortMergeJoin") <= 4
    assert "hashpartitioning(doc_id" in explained
    spark.catalog.clearCache()


def test_q443_viterbi_plan_shape(spark, sf_dir):
    """The segmentation BUILD plan: no window functions, the model
    join is broadcast, and the DP fold runs above a doc-grain
    aggregate (no per-position shuffle). Since r14 the built lattice
    is localCheckpointed into the session-shared component store, so
    the build shape is pinned on the un-checkpointed composition and
    the RELEASED frame is separately pinned to ride the checkpoint
    (no parquet re-scan above it — the sharing that cut the family's
    four identical rebuilds)."""
    from azure_batch_map_reduce_spark.functions.text import (
        _ulm_block_arrays,
        _ulm_cnts,
        _ulm_model0,
        _ulm_pl,
    )

    pl = _ulm_pl(spark, sf_dir)
    build = _ulm_block_arrays(pl, _ulm_model0(_ulm_cnts(pl)))
    explained = build._sc._jvm.PythonSQLUtils.explainString(
        build._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "BroadcastHashJoin" in explained
    assert "SortMergeJoin" not in explained
    assert "CartesianProduct" not in explained

    df = REGISTRY["q443_unigram_lm_viterbi_segmentation"].fn(spark, sf_dir)
    released = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan ExistingRDD" in released
    assert "Scan parquet" not in released
    spark.catalog.clearCache()


def test_q445_exact_substring_no_window_no_cartesian(spark, sf_dir):
    """Exact-substring coverage: the duplicated-window detection is
    equi-join machinery only — no window, no cartesian; the gram key
    in every exchange is the 8-byte hash, never the 40-char string
    (ReadSchema keeps text out of the shuffled columns: the window
    hash is computed before the exchange)."""
    df = REGISTRY["q445_exact_substring_dup_coverage"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowExec" not in explained
    assert "CartesianProduct" not in explained
    assert "hashpartitioning(gh" in explained
    spark.catalog.clearCache()


def test_q460_decode_is_constant_job_count(spark, sf_dir):
    """r13 verdict task 6's pin: the greedy decode walks its chain
    driver-side from ONE model-grain policy collect — the corpus is
    aggregated once and the Spark job count is a CONSTANT (policy,
    start, release, + the persisted model's materialization), not
    O(steps). The old shape ran one job per decode step (13 jobs);
    this pins the ceiling low enough that a per-step collect regression
    fails loudly."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup("q460pin", "decode job-count pin")
    try:
        df = REGISTRY["q460_greedy_bigram_decoding"].fn(spark, sf_dir)
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == 12
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("q460pin")
    # AQE materializes each query stage as its own job, so even the
    # 3-action shape books ~17 jobs cold (catalog load + bg build
    # stages + policy + start + release). The pin is the ceiling: the
    # per-step shape added one full job PER decode step (+12); 20
    # fails loudly on any regression to per-step collects while
    # tolerating AQE's stage-per-job accounting.
    assert 0 < len(jobs) <= 20, f"decode ran {len(jobs)} jobs: {jobs}"
    # Released frame is a LocalRelation walk — no corpus scan above it.
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan parquet" not in explained
