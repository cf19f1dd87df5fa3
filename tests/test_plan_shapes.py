"""Plan-shape assertions (SURVEY.md §5.5): guard that the declarative
plans keep their scale-critical physical properties — predicate pushdown,
column pruning, broadcast joins, top-k without a global sort."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonbigdata_for_students_spark.plans import REGISTRY
from amazonbigdata_for_students_spark.sources.readers import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_down(spark, sf_small):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_small):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_small)
    plan = plan_of(df)
    # ReadSchema must not include unused columns like l_partkey/l_suppkey
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_partkey" not in read_schema
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def _last_executed_plan(spark) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    return store.executionsList(n - 1, 1).head().physicalPlanDescription()


def test_bench_timed_q1_keeps_its_aggregates(spark, sf_small):
    """bench.py times q1 through its noop sink, whose executed plan still
    computes every sum; a count() over the same DataFrame prunes them all."""
    import bench

    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_small)
    bench.materialise(df)
    timed = _last_executed_plan(spark)
    assert "partial_sum(" in timed and "l_tax" in timed  # sum_charge kept
    df.count()
    assert "sum(" not in _last_executed_plan(spark)


def test_spine_rows_come_from_the_timed_pass(spark, sf_oracle, monkeypatch):
    """run_spine times the noop sink and takes each query's row count from
    an Observation on that same pass: DataFrame.count is never called, and
    the active session's shuffle width is untouched."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "llm_spine_bench.py")
    spec = importlib.util.spec_from_file_location("llm_spine_bench", path)
    spine = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spine)

    names = ["q1_pricing_summary", "projection_rename"]
    dfs = {n: REGISTRY[n].fn(spark, sf_oracle) for n in names}
    want = {n: len(df.collect()) for n, df in dfs.items()}

    def no_count(self):
        raise AssertionError("run_spine must not call DataFrame.count")

    # the session's concrete DataFrame class, which defines its own count
    monkeypatch.setattr(type(dfs[names[0]]), "count", no_count)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    (rec,) = spine.run_spine(names, [("sf0.01", sf_oracle)])
    assert rec["rows"] == want
    # the shared session's runtime conf is left as it was found
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_projection_prunes_scan(spark, sf_small):
    df = REGISTRY["projection_rename"].fn(spark, sf_small)
    read_schema = plan_of(df).split("ReadSchema: ")[1].split("\n")[0]
    assert "o_orderstatus" not in read_schema
    assert "o_totalprice" in read_schema


def test_dim_join_is_broadcast(spark, sf_small):
    # No forced hint anymore — AQE must still pick BHJ at runtime for the
    # 2-column customer projection at this SF.
    df = REGISTRY["join_broadcast_enrich"].fn(spark, sf_small)
    df.collect()
    assert "BroadcastHashJoin" in plan_of(df)


def test_no_forced_broadcast_of_scaling_tables(spark, sf_small):
    """VERDICT r2 item 2: customer/supplier/HAVING-derived sets scale with
    the data, so they must not carry explicit broadcast hints (a hint
    overrides AQE's size check and OOMs the driver at 100×). With both
    static and adaptive broadcast thresholds disabled, any remaining
    BroadcastHashJoin can only come from an explicit hint — q5/q7 must
    show exactly their constant-size dim hints (nation/region), q18 none.
    """
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        expected_hinted_bhj = {
            "join_broadcast_enrich": 0,
            "q3_shipping_priority": 0,
            "q18_large_orders": 0,
            "q5_local_supplier_volume": 2,  # nation + region only
            "q7_nation_volume": 2,  # the two nation role-views only
            "q4_order_priority": 0,
            "q8_market_share": 3,  # nation x2 + region only
            "q9_profit_by_nation": 1,  # nation only
            "q13_order_distribution": 0,
            "q16_part_supplier_variety": 0,
            "q17_small_quantity_revenue": 0,
            "q21_waiting_supplier": 1,  # nation only
        }
        for name, n_expected in expected_hinted_bhj.items():
            df = REGISTRY[name].fn(spark, sf_small)
            df.collect()
            # executed AQE plans print "final plan\n== Initial Plan ==\n..." —
            # count hints in the final section only
            plan = plan_of(df).split("== Initial Plan ==")[0]
            n_bhj = plan.count("BroadcastHashJoin")
            assert n_bhj == n_expected, f"{name}: {n_bhj} hinted BHJ, want {n_expected}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q21_self_joins_stay_hashed(spark, sf_small):
    """The EXISTS/NOT-EXISTS pair joins on l_orderkey equality with a
    suppkey *inequality* residual — the planner must keep both as hash
    joins on the equi-key, never degrade to a nested-loop/cartesian stage
    (which would be quadratic in lineitem at scale)."""
    df = REGISTRY["q21_waiting_supplier"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_anti_join_is_broadcast(spark, sf_small):
    df = REGISTRY["clk_filter_suspicious"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "LeftAnti, BuildRight" in plan


def test_bucketed_join_eliminates_join_shuffle(spark, sf_small):
    # J7 scale path: both sides bucketed on the join key → the join itself
    # must not re-shuffle either fact table; only the final aggregate may.
    df = REGISTRY["join_bucketed_colocated"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert "SelectedBucketsCount" in plan  # both scans are bucket-aware


def test_topk_avoids_global_sort(spark, sf_small):
    df = REGISTRY["sort_topk"].fn(spark, sf_small)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_range_join_stays_hash_join(spark, sf_small):
    # The equi conjunct must anchor a hash join; a nested-loop/cartesian
    # here would explode at scale.
    df = REGISTRY["join_range"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_buckets_join_derives_equi_key(spark, sf_small):
    # The pure-range interval join must run as a broadcast HASH join on the
    # derived day bucket — a nested-loop over events x windows is the plan
    # this operator exists to avoid.
    df = REGISTRY["join_interval_buckets"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_hash_split_is_map_only(spark, sf_small):
    # Deterministic train/test split must stay a map-only pass — any
    # Exchange here means the split depends on data movement.
    df = REGISTRY["split_train_test"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_sample_single_aggregation(spark, sf_small):
    # The draw + audit must ride ONE aggregation: exactly one shuffle,
    # partial/final combine, no join.
    df = REGISTRY["sample_stratified"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_token_sharding_avoids_global_window(spark, sf_small):
    # The two-pass prefix sum must not funnel the corpus through a single
    # unpartitioned window (SinglePartition exchange over the full table);
    # only the #partitions-row offsets frame may do that.
    df = REGISTRY["shard_by_token_budget"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    # the doc-level window is partitioned by _part, never a global sort
    assert "Window [" in plan or "RunningWindowFunction" in plan or "Window" in plan
    # pass-2 locality comes from hash partitioning on the DETERMINISTIC
    # id-range bucket (_part is a pure function of doc_id; sampling-based
    # rangepartitioning is banned here — two executions of the subtree can
    # sample different boundaries and decouple the offsets branch from the
    # window branch, the corpus_build_pipeline_v4 sf1 regression)
    assert "hashpartitioning(_part" in plan
    assert "rangepartitioning(doc_id" not in plan


def test_wholestage_codegen_on_hot_path(spark, sf_small):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_small)
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "Found 1 WholeStageCodegen subtrees" in codegen or "WholeStageCodegen" in codegen


def test_partial_aggregation_before_shuffle(spark, sf_small):
    # A7: partial→final hash aggregation (map-side combine).
    df = REGISTRY["agg_count_per_key"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2


def test_events_filter_pushdown_survives_ts_conversion(spark, sf_small):
    # The nanos→timestamp conversion must not block pushdown of other cols.
    ev = load_table(spark, sf_small, "events").filter(F.col("event_type") == "purchase")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan_of(ev)


def test_partitioned_sink_readback_prunes_partitions(spark, sf_small):
    # S6: the day=5 predicate must resolve against directory names
    # (PartitionFilters), not row-level filtering of all 30 days.
    df = REGISTRY["src_partitioned_sink_prune"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "PartitionFilters:" in plan
    assert "(day" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_dim_csv_join_is_broadcast(spark, sf_small):
    # S4: the CSV-loaded dimension side must broadcast, never shuffle.
    df = REGISTRY["src_dim_csv_broadcast"].fn(spark, sf_small)
    assert "BroadcastHashJoin" in plan_of(df)


def test_mm_frame_sample_expansion_is_jvm_side(spark, sf_small):
    # The row-multiplying explode must be a native Generate node, not a
    # Python UDF in the expansion path.
    df = REGISTRY["mm_frame_sample"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan


_MM_PER_ROW_DECODES = (
    "mm_feature_extract", "mm_wav_stats", "mm_resize_grid", "mm_ppm_stats",
    "mm_wav_decimate", "mm_patchify_vit", "mm_image_ahash",
    "mm_goertzel_tone", "mm_image_dhash", "mm_wav_silence_ratio",
)


def test_mm_per_row_decodes_run_as_one_python_map(spark, sf_small):
    # Each per-row media decode is a single map over Arrow batches: one
    # Python map node, and no per-row Python UDF evaluation beside it.
    import re

    for name in _MM_PER_ROW_DECODES:
        plan = plan_of(REGISTRY[name].fn(spark, sf_small))
        assert len(re.findall(r"\bMapIn(?:Pandas|Arrow) ", plan)) == 1, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_dynamic_partition_pruning_on_partitioned_layout(spark, sf_small):
    # DPP: a dim-side filter must prune fact partitions at runtime via a
    # dynamic pruning subquery, not scan all days.
    import pyspark.sql.functions as F

    from amazonbigdata_for_students_spark.plans import sources_ops

    fact = spark.read.parquet(sources_ops._part_sink_fixture(spark, sf_small))
    dim = spark.range(1, 31).select(
        F.col("id").cast("int").alias("day"), (F.col("id") % 7 == 0).alias("special")
    )
    joined = fact.join(dim, "day").filter(F.col("special"))
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(day" in plan


def test_aqe_converts_smj_to_broadcast_at_runtime(spark, sf_small):
    # With planning-time broadcast disabled, AQE must still convert the
    # shuffle join to broadcast at runtime once it sees the small size —
    # the safety net for misestimated dim tables at scale.
    import pyspark.sql.functions as F
    from amazonbigdata_for_students_spark.sources.readers import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # planning-time broadcast off; runtime (adaptive) threshold on —
        # isolates the AQE conversion path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        li = load_table(spark, sf_small, "lineitem")
        orders = load_table(spark, sf_small, "orders").filter(F.col("o_orderstatus") == "O")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        j.collect()  # run so AQE finalizes the plan
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_aqe_splits_skewed_join_partition(spark, sf_small):
    # Hot keys (bot IPs by construction in the reference workload) must
    # not serialize one reducer: with skew thresholds scaled to test data,
    # AQE splits the oversized partition (SortMergeJoin(skew=true)).
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # Toy-scale calibration: the hot partition is ~89 KiB compressed.
        # CoalesceShufflePartitions runs BEFORE OptimizeSkewedJoin, so at
        # the session's scale-adaptive initial width (8x cores, r11) the
        # coalesced median rises to ~advisory and 89 KiB stops counting as
        # skewed. Pin the initial width to the pre-r11 value here — the
        # capability under test (split a partition >> factor x median and
        # >> threshold) is unchanged at real scale, where skewed partitions
        # dwarf the advisory size.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "8",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        assert j.collect()[0].n == 500_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


import re


def _shuffles(df) -> list[str]:
    """Shuffle exchanges in the AQE-final plan (BroadcastExchange excluded)."""
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    return re.findall(r"(?<!Broadcast)Exchange (\w+[^,]*)", final)


def test_q6_single_exchange_scan_probe(spark, sf_small):
    """PLANS.md claim: q6 is the scan-bandwidth probe — its only exchange
    is the final aggregate's partial->final pair."""
    assert len(_shuffles(REGISTRY["q6_forecast_revenue"].fn(spark, sf_small))) == 1


def test_merge_upsert_single_data_shuffle(spark, sf_small):
    """MERGE shape: the union adds no exchange; the only DATA-carrying
    shuffle is the latest-version-per-key window's, keyed on the merge
    key (the new-key batch's 1-row max aggregate may add a
    SinglePartition exchange of per-partition maxes — constant bytes)."""
    sh = _shuffles(REGISTRY["merge_upsert_scd1"].fn(spark, sf_small))
    data_shuffles = [s for s in sh if s.startswith("hashpartitioning")]
    assert len(data_shuffles) == 1
    assert "c_custkey" in data_shuffles[0]


def test_profile_table_single_scan(spark, sf_small):
    """All per-column statistics in ONE pass over the data: a single
    FileScan; the aggregate's exchanges carry only distinct groups and
    the 1-row final — never a second read of the table."""
    df = REGISTRY["profile_table"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1
    assert len(_shuffles(df)) <= 2


def test_deterministic_shuffle_no_global_sort(spark, sf_small):
    """The training shuffle must sort per shard (window partitioned on
    shard), never via a single global ordering."""
    df = REGISTRY["shuffle_deterministic"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange ") == 1
    assert "rangepartitioning" not in final.lower()


def test_q19_residuals_push_to_both_scans(spark, sf_small):
    """Catalyst must derive pushable residuals of the OR-of-ANDs: the
    quantity union reaches the lineitem scan, the brand/size union the
    part scan."""
    plan = plan_of(REGISTRY["q19_disjunctive_revenue"].fn(spark, sf_small))
    pushed = [s.split("\n")[0] for s in plan.split("PushedFilters: ")[1:]]
    assert any("l_quantity" in p for p in pushed)
    assert any("p_brand" in p and "p_size" in p for p in pushed)


def test_bloom_runtime_filter_injected(spark, sf_small):
    """join_bloom_prefilter's reason to exist: with broadcast off and the
    app-side scan threshold lowered, InjectRuntimeFilter must push a
    might_contain(xxhash64(l_orderkey)) predicate into the fact scan."""
    from amazonbigdata_for_students_spark.sources.readers import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_small, "lineitem")
        o = load_table(spark, sf_small, "orders").filter(F.col("o_totalprice") > 400000)
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        assert "might_contain" in plan_of(j)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_hash_hint_materializes(spark, sf_small):
    """join_shuffle_hash_hint's point: the hint must yield a
    ShuffledHashJoin (hash build on the hinted side), not the SMJ default
    with its double sort."""
    df = REGISTRY["join_shuffle_hash_hint"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lateral_join_is_decorrelated(spark, sf_small):
    """A correlated LATERAL top-k must compile to one ranked-window join
    (WindowGroupLimit), never a per-outer-row nested loop."""
    df = REGISTRY["sql_lateral_join"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curriculum_has_no_global_data_window(spark, sf_small):
    """The distributed-ntile decomposition: any SinglePartition exchange
    must sit over the value-domain histogram (aggregated rows), never
    over the raw per-document stream."""
    df = REGISTRY["curriculum_stage_assign"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    # the per-doc row_number window partitions by the score value
    assert "windowspecdefinition(n_chars" in plan
    # no ntile over an empty partition spec (the single-partition form)
    assert "ntile" not in plan


def test_cache_reuse_reads_in_memory_relation(spark, sf_small):
    """The cached aggregate must serve both consumers from the in-memory
    columnar relation — the second consumer's plan reads
    InMemoryTableScan, not a second FileScan+aggregate."""
    import pyspark.sql.functions as F

    from amazonbigdata_for_students_spark.sources.readers import load_table

    agg = (
        load_table(spark, sf_small, "events").groupBy("event_type").count().cache()
    )
    try:
        agg.count()  # materialize
        consumer = agg.orderBy(F.col("count").desc()).limit(1)
        consumer.collect()
        assert "InMemoryTableScan" in plan_of(consumer)
    finally:
        agg.unpersist()


def test_kmv_sketch_uses_window_group_limit(spark, sf_small):
    """The per-set top-k ranking must compile to WindowGroupLimit (partial
    top-k before the shuffle) — only k rows per set survive any exchange,
    the property that makes the sketch mergeable at scale."""
    df = REGISTRY["agg_kmv_intersection"].fn(spark, sf_small)
    df.collect()
    assert "WindowGroupLimit" in plan_of(df)


def test_ohlc_resample_single_exchange(spark, sf_small):
    """The bar window and the bar aggregate share (event_type, bar)
    partitioning — the whole query is ONE hash exchange over the scan;
    a second exchange means the agg stopped reusing the window's
    clustering."""
    import re

    df = REGISTRY["timeseries_resample_ohlc"].fn(spark, sf_small)
    df.collect()
    # AQE's toString appends an "Initial Plan" section — count only the
    # final adaptive plan or every exchange double-counts
    final = plan_of(df).split("Initial Plan")[0]
    n_ex = len(re.findall(r"Exchange hashpartitioning", final))
    assert n_ex == 1, f"expected 1 hash exchange, plan has {n_ex}"


def test_geo_salted_broadcasts_hot_set_no_bnlj(spark, sf_small):
    """The hot-cell set joins as a broadcast (it is grid-bounded), and the
    salted equi-join must never degrade to a nested-loop join."""
    df = REGISTRY["geo_radius_join_salted"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoop" not in plan


def test_kneser_ney_vocab_sides_broadcast(spark, sf_small):
    """The prefix-marginal / continuation / type-total tables are all
    vocabulary-bounded; after the one corpus-wide bigram count they must
    join as broadcasts, never as extra fact-sized shuffles, and nothing
    may degrade to a nested-loop join (the ntypes side is a 1-row
    cross join, which Spark plans as BNLJ on a literal — allowed only
    for that single-row side)."""
    import re

    df = REGISTRY["lm_kneser_ney_bigram"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("BroadcastHashJoin") >= 2
    # the only allowed nested-loop is the 1-row ntypes cross join
    assert final.count("BroadcastNestedLoopJoin") <= 1
    # the bigram count is localCheckpointed: its four consumers must read
    # the materialized RDD, never re-scan documents (a FileScan here means
    # the corpus explode+shuffle runs once per consumer — the 4x bug the
    # session review caught)
    assert final.count("FileScan") == 0
    assert final.count("ExistingRDD") >= 4
    # vocab-sized aggregate exchanges only — no fact-sized re-shuffles
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 2


def test_pattern_funnel_single_shuffle(spark, sf_small):
    """Journey assembly is one user_id-keyed aggregation: exactly one
    data exchange (plus AQE reads), and the regex scoring is a map-only
    projection over the aggregated rows."""
    import re

    df = REGISTRY["clk_pattern_funnel"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1


def test_span_dedup_partial_agg_before_span_shuffle(spark, sf_small):
    """The corpus-wide span count must partial-aggregate map-side before
    its exchange (the span stage is the dominant shuffle), and the
    coverage window must key on doc_id — no global window."""
    df = REGISTRY["dedup_span_ngrams"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    # map-side partial count BEFORE the span exchange (the dominant shuffle)
    assert "partial_count" in final
    # the coverage window is doc_id-partitioned — a global window would
    # print an empty windowspecdefinition partition list
    assert "windowspecdefinition(doc_id" in final
    # the tokenize+explode subtree is localCheckpointed: both span
    # consumers read the RDD; any FileScan here means it re-ran
    assert final.count("FileScan") == 0


def test_containment_span_collapse_plan_shape(spark, sf_small):
    """The r7 span collapse's scale claims, pinned in the executed plan:
    the checkpointed shingle stream + census mean zero FileScans survive
    (no corpus re-explode per consumer), the pair join stays a shingle
    hash join, and nothing degrades to CartesianProduct. (At gate scale
    the heavy set is empty, so AQE collapses the whole collapse subtree
    — including the 1-row mean-df broadcast — to empty relations; the
    invariants below hold in both the idle and engaged regimes.)"""
    df = REGISTRY["dedup_shingle_containment"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0  # sh + census read from ExistingRDD
    assert "hashpartitioning(shingle" in final  # equality pair join keyed
    assert "CartesianProduct" not in final


def test_span_corruption_is_map_only(spark, sf_small):
    # T5 span corruption derives every array (block mask, span starts,
    # sentinel prefix counts) from the doc's own token list via
    # higher-order functions — any Exchange or Python eval node means the
    # objective prep stopped being pure scan bandwidth.
    df = REGISTRY["seq_span_corruption"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_auc_runs_on_score_histogram(spark, sf_small):
    """The AUC query's scale claim: the raw corpus shuffles ONCE (the
    per-score groupBy, with map-side partial aggregation); the unkeyed
    window and final aggregate run on the <=1001-row histogram behind a
    SinglePartition exchange, never on rows."""
    df = REGISTRY["eval_auc_mannwhitney"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("hashpartitioning(score") == 1
    assert "partial_sum" in final  # map-side combine before the shuffle
    assert "windowspecdefinition(score" in final


def test_confusion_and_kappa_scan_corpus_once(spark, sf_small):
    """Both eval queries fan their class-arity cell table out to 2-3
    consumers; the localCheckpoint must absorb the fan-out so the corpus
    is scanned exactly once (the checkpoint job), never per consumer."""
    for name in ("eval_confusion_f1", "eval_cohens_kappa"):
        df = REGISTRY[name].fn(spark, sf_small)
        df.collect()
        final = plan_of(df).split("Initial Plan")[0]
        assert final.count("FileScan") == 0, name  # cells read from RDD


def test_pmi_counts_once_then_vocab_bounded(spark, sf_small):
    """PMI's scale claim: the corpus explode+count happens once (the
    checkpointed pair table feeds both the total and the marginals), and
    the top-k is TakeOrdered, not a global sort."""
    df = REGISTRY["lm_pmi_collocations"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0  # pair table read from ExistingRDD
    assert "TakeOrderedAndProject" in final


def test_wordpiece_census_not_rescanned(spark, sf_small):
    """The greedy loop's barrier checkpoints mean the executed plan reads
    the word census from RDDs — a FileScan would be the corpus re-tokenized
    under one of the unrolled steps."""
    df = REGISTRY["tokenizer_wordpiece_apply"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0
    assert "TakeOrderedAndProject" in final


def test_jl_projection_single_full_pass(spark, sf_small):
    """The JL recall audit must not run the 64->16 projection twice: the
    score table is checkpointed (both top-k consumers read it back), and
    the only FileScans left are the main quantize pass plus the
    TakeOrdered(1) query-row probe."""
    df = REGISTRY["vec_random_projection_recall"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0  # scored read from ExistingRDD


def test_leakage_audit_single_shuffle(spark, sf_small):
    """The leakage audit's cost profile must equal the dedup it audits:
    map-only signatures + split expression, one shuffle on the band key,
    no join anywhere."""
    df = REGISTRY["split_leakage_audit"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "hashpartitioning(band_key" in plan
    assert "Join" not in plan


def test_cumulative_distinct_windows_days_only(spark, sf_small):
    """The running count-distinct reformulation: row-sized shuffles key on
    user_id then day; the only unpartitioned window runs on the per-day
    series (calendar-bounded)."""
    df = REGISTRY["win_cumulative_distinct"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "hashpartitioning(user_id" in plan
    assert "windowspecdefinition(d" in plan


def test_zipf_topk_is_take_ordered(spark, sf_small):
    df = REGISTRY["corpus_zipf_slope"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_dynamic_partition_pruning_fires(spark, sf_small):
    """The DPP query's reason to exist: the executed plan must carry a
    dynamicpruningexpression on the hour partition column (runtime
    pruning from the broadcast dim), and the partitioned scan must not
    enumerate all hour directories statically."""
    df = REGISTRY["join_dynamic_partition_pruning"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan


def test_pit_join_is_keyed_not_cartesian(spark, sf_small):
    """The point-in-time join must distribute on the user key with the
    interval as a residual filter — a range-only condition would
    degenerate to BroadcastNestedLoop/Cartesian and die at scale."""
    df = REGISTRY["join_point_in_time"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "user_id" in plan.split("Join")[1][:400]


def test_weighted_median_no_global_sort(spark, sf_small):
    """Exact weighted median must stay per-group: the window partitions
    by the group key (no unpartitioned WindowExec over row-sized data)
    and no global Sort precedes the aggregate."""
    df = REGISTRY["agg_weighted_median"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "windowspecdefinition(l_returnflag" in plan


def test_rake_word_join_broadcasts_and_takes_topk(spark, sf_small):
    """RAKE's phrase-word scoring join must broadcast the
    vocabulary-bounded word table, the phrase table must not be
    recomputed per consumer (checkpoint: zero FileScans survive), and
    the ranking is TakeOrdered."""
    df = REGISTRY["txt_rake_keywords"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "BroadcastHashJoin" in final
    assert final.count("FileScan") == 0
    assert "TakeOrderedAndProject" in final


def test_kl_filter_bias_single_scan(spark, sf_small):
    """The per-source gate census feeds both the totals and the KL
    terms; the checkpoint must absorb the fan-out (one corpus scan)."""
    df = REGISTRY["mix_kl_filter_bias"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0


def test_skyline_broadcasts_front_and_never_cartesian(spark, sf_small):
    # The front-price set must reach the wide part table as a broadcast
    # hash join — pairwise dominance (cartesian/NLJ) must never appear.
    df = REGISTRY["skyline_pareto_front"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # column pruning: the part scan must not read p_name/p_type
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "p_name" not in read_schema and "p_retailprice" in read_schema


def test_concurrent_peak_consumers_read_checkpoints_only(spark, sf_small):
    # iv/edges/run are localCheckpointed: every downstream consumer reads
    # the checkpointed reduction, so the final plan contains ZERO events
    # FileScans (the one real scan ran once, under the checkpoint) — the
    # guard against any consumer re-deriving from the source.
    df = REGISTRY["timeseries_concurrent_peak"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan


def test_cusum_consumers_read_checkpoint_and_broadcast_mu(spark, sf_small):
    df = REGISTRY["timeseries_cusum_changepoint"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan
    assert "BroadcastHashJoin" in plan


def test_winsorize_broadcasts_thresholds_two_pushdown_scans(spark, sf_small):
    # The deliberate shape: histogram pass + clamp pass = exactly two
    # events scans, both pruned to the 2 live columns, thresholds
    # broadcast back.
    df = REGISTRY["quality_winsorize"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 2, plan
    assert "BroadcastHashJoin" in plan
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n")[0]
        assert "props" not in schema and "user_id" not in schema


def test_theil_sen_pairs_join_reads_checkpoint_not_source(spark, sf_small):
    # The grid self-join must consume the checkpointed cells, not re-run
    # the events scan per side: zero FileScans in the executed plan.
    df = REGISTRY["timeseries_theil_sen"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan


def test_kaplan_meier_windows_duration_table_only(spark, sf_small):
    """K-M's ordered windows must run AFTER the per-user lifetime
    aggregate: the horizon and the censor marking both read the
    CHECKPOINTED spans table (no events rescan survives), and the 1-row
    horizon is broadcast."""
    df = REGISTRY["eval_kaplan_meier"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "BroadcastNestedLoopJoin" in final  # broadcast 1-row horizon
    assert final.count("FileScan") == 0


def test_decision_stump_histogram_then_top1(spark, sf_small):
    """The stump scans once into the checkpointed per-VALUE histogram
    (totals, cumulatives, and the final report all derive from it — no
    documents rescan survives), and takes the argmax via TakeOrdered."""
    df = REGISTRY["eval_decision_stump"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "TakeOrderedAndProject" in final
    assert final.count("FileScan") == 0


def test_cross_correlation_reads_count_grid_once(spark, sf_small):
    """Both lag-join sides derive from the checkpointed (type x hour)
    count grid: after materialization no FileScan survives — the raw
    event volume is never rescanned per lag."""
    df = REGISTRY["timeseries_cross_correlation"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0


def test_item_cosine_joins_supports_after_aggregation(spark, sf_small):
    """Support joins must hit the pair table AFTER aggregation (pairs
    flow, not order-rows), reading the checkpointed distinct-membership
    table; top-k is TakeOrdered."""
    df = REGISTRY["rec_item_cosine"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0
    assert "TakeOrderedAndProject" in final


def test_sprt_walk_is_partitioned_by_day(spark, sf_small):
    """The SPRT walk's running sum and row_number must partition by
    day — an unpartitioned window over raw events would serialize the
    whole stream through one task."""
    df = REGISTRY["eval_sprt_boundary"].fn(spark, sf_small)
    assert "windowspecdefinition(day" in plan_of(df)


def test_bollinger_windows_grid_partitioned_by_type(spark, sf_small):
    """Bollinger's rolling stats run over the (type x hour) count grid,
    partitioned by event_type, after a map-side-combined count — the
    window never sees raw events."""
    df = REGISTRY["timeseries_bollinger_breach"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "windowspecdefinition(event_type" in plan
    assert plan.count("FileScan") == 1


def test_clustering_coefficient_reads_checkpoints_no_cartesian(spark, sf_small):
    """All per-node tally paths read the checkpointed pairs/oriented
    tables (no re-enumeration of the lineitem self-join) and every join
    is keyed."""
    df = REGISTRY["graph_clustering_coefficient"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0
    assert "CartesianProduct" not in final


def test_pareto_abc_single_partition_only_for_subtotals(spark, sf_small):
    """The two-pass prefix sum may move ONLY constant-size tables
    through one task: the #buckets-row offsets window and the 1-row
    grand-total aggregate — never the part dimension."""
    # (the rangepartitioning itself sits inside global_prefix's
    # checkpoint lineage, invisible from the outer plan; the oracle
    # match is its witness — partition-local prefixes + offsets only
    # equal the global prefix when the range partitioner ordered the
    # partitions)
    df = REGISTRY["agg_pareto_abc"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("Exchange SinglePartition") <= 2
    assert final.count("FileScan") == 0  # both passes read the checkpoint


def test_average_precision_reads_prefix_checkpoint(spark, sf_small):
    """AP's aggregate consumes the two-pass-ranked table via its
    checkpoint — no documents rescan survives, and only the subtotal
    table (one SinglePartition exchange) ever funnels through one
    task."""
    df = REGISTRY["eval_average_precision"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0
    # two legitimate 1-task funnels: the #buckets-row offsets window and
    # the final global aggregate's partial merge — both constant-size
    assert final.count("Exchange SinglePartition") <= 2


def test_cumulative_gains_totals_and_deciles_share_checkpoint(spark, sf_small):
    """Both consumers of the ranking (the 1-row totals and the decile
    buckets) read the checkpointed ranged table; the cumulative window
    runs over the 10-row decile table only."""
    df = REGISTRY["eval_cumulative_gains"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0


def test_heaps_law_two_scans_one_conditional_aggregate(spark, sf_small):
    """Heaps': the ranking pass reads its checkpoint, the explode pass
    is the single surviving corpus scan, and all 8 checkpoints evaluate
    in ONE conditional aggregate (no per-checkpoint rescan: exactly one
    FileScan in the final plan)."""
    df = REGISTRY["txt_heaps_law"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 1


def test_bootstrap_all_replicates_one_map_pass(spark, sf_small):
    """All 40 Poisson replicates must ride ONE map-side-combined
    aggregate over ONE events scan — no explode, no join, no shuffle
    beyond the single partial-merge funnel."""
    df = REGISTRY["eval_bootstrap_ci"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode: conditional sums only


def test_latency_percentiles_partition_by_cell_no_collect_list(spark, sf_small):
    """The exact percentile rank must run partitioned by the
    (type, hour) cell, with no collect_list buffering a cell's values."""
    df = REGISTRY["ops_latency_percentiles"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "windowspecdefinition(event_type" in plan
    assert "collect_list" not in plan


def test_mann_kendall_pair_join_reads_grid_checkpoint(spark, sf_small):
    """The O(grid^2) pair join and both correction aggregates must read
    the checkpointed count grid — the raw event volume is scanned
    exactly once, never per consumer."""
    df = REGISTRY["timeseries_mann_kendall"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0
    assert "CartesianProduct" not in final


def test_decayed_engagement_broadcast_horizon_takeordered(spark, sf_small):
    """One scan + broadcast 1-row horizon + map-side-combined user sum
    + TakeOrdered — the cheapest full-corpus recency shape."""
    df = REGISTRY["win_decayed_engagement"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FileScan") == 2  # ev + horizon pass, no third consumer


def test_k_anonymity_count_of_counts_reads_checkpoint(spark, sf_small):
    """The size histogram and the total both read the checkpointed
    quasi-identifier group table — documents scanned once."""
    df = REGISTRY["dq_k_anonymity"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0


def test_fertility_broadcasts_vocab_segmentation(spark, sf_small):
    """The segmentation join must broadcast the vocabulary-sized word
    table — the (lang, word) counts never shuffle against it."""
    df = REGISTRY["tokenizer_fertility"].fn(spark, sf_small)
    assert "BroadcastHashJoin" in plan_of(df)


def test_assoc_rules_prunes_before_support_joins(spark, sf_small):
    """Apriori property in the plan: the min-support filter must sit ON
    the pair aggregate (count >= threshold inside/above the HashAggregate),
    before the two support joins — only frequent pairs flow."""
    df = REGISTRY["assoc_rules_lift"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "TakeOrderedAndProject" in final
    assert final.count("FileScan") == 0  # all paths read the dp checkpoint


def test_pr_curve_windows_histogram_only(spark, sf_small):
    """The PR sweep's ordered window must run over the checkpointed
    score histogram (arity-bounded), never over documents — no corpus
    rescan survives."""
    df = REGISTRY["eval_pr_curve"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0


def test_lsh_audit_candidates_filter_token_join(spark, sf_small):
    """The exact-Jaccard intersection must be keyed (token equi-join,
    no cartesian), with the candidate table checkpointed so both the
    intersection and the histogram read one LSH pass."""
    df = REGISTRY["dedup_lsh_precision_audit"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_holt_winters_single_shuffle_fold(spark, sf_small):
    """The HW fold must ride one (type, day) aggregate + one series-key
    shuffle — no joins, one scan; the recurrence runs inside the
    aggregate expression."""
    df = REGISTRY["timeseries_holt_winters"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_power_analysis_is_one_global_aggregate(spark, sf_small):
    """Sample sizing is one scan + one conditional global aggregate —
    no join, no window."""
    df = REGISTRY["eval_power_analysis"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Window" not in plan


def test_lexical_diversity_map_only(spark, sf_small):
    """TTR/MATTR are per-row higher-order expressions: zero exchanges."""
    df = REGISTRY["txt_lexical_diversity"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_twap_chunked_broadcasts_chunk_table(spark, sf_small):
    """The cross-chunk stitch must be a BROADCAST join of the tiny
    chunk-firsts table (types x chunks rows), and both windows must be
    (type, chunk)-partitioned or chunk-table-sized — no single-partition
    event-level window (that is the wall the query exists to remove)."""
    df = REGISTRY["timeseries_twap_chunked"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_slo_burn_halo_no_global_window(spark, sf_small):
    """The rolling burn must run partitioned by week (halo rows), never
    as a global single-partition window over the hour grid."""
    df = REGISTRY["ops_slo_burn_rate"].fn(spark, sf_small)
    plan = plan_of(df)
    # every Window operator carries a partition spec (no 'Window [..], []'
    # empty-partition form, which Spark logs as the single-partition WARN)
    for line in plan.splitlines():
        if "Window [" in line:
            assert "windowspecdefinition(_wk" in line or "partitionBy" in line, line
    assert plan.count("FileScan") == 2  # own + halo read of the same cells


def test_rolling_wau_one_fact_shuffle_then_bounded(spark, sf_small):
    """Event volume must collapse to DISTINCT (user, day) before any
    window; the only windows after the per-user segment pass run over
    the bounded day spine."""
    df = REGISTRY["clk_rolling_wau"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # the per-user lag/cumsum windows are user-partitioned
    assert "windowspecdefinition(user_id" in plan


def test_jaccard_linkpred_keyed_wedges_no_cartesian(spark, sf_small):
    """Candidate wedges must be enumerated map-side from the per-node
    sorted neighbor arrays (codegen combinations under a Generate) — no
    cartesian, no capped-adjacency self-join, no per-node window sort
    (r11: that window + self-join were the 133 GB-spill wall at
    sf10gs); the existing-edge removal must be an anti join."""
    df = REGISTRY["graph_jaccard_linkpred"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final
    assert "LeftAnti" in final
    # wedge enumeration is a Generate(explode) over the array table
    assert "Generate explode" in final
    # the only window left is the 50-row output rank — the per-node
    # adjacency cap must not be a window sort
    assert "windowspecdefinition(n#" not in final


def test_hits_halfsteps_are_keyed_joins(spark, sf_small):
    """Each HITS half-step is one keyed join + one aggregate off the
    checkpointed edge list; the max-normalizations ride 1-row broadcast
    grafts, so the only nested-loop joins allowed are those scalar
    crossJoins (guarded: every one must be BroadcastNestedLoopJoin,
    never CartesianProduct)."""
    df = REGISTRY["graph_hits"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_tost_is_one_global_aggregate(spark, sf_small):
    """TOST is one scan + one 4-sum global aggregate + scalar algebra —
    no join, no window."""
    df = REGISTRY["eval_tost_equivalence"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Window" not in plan


# --- round-9 waves 7-8 + tail additions ---------------------------------------


def test_max_drawdown_windows_per_type(spark, sf_small):
    """Running-max/ppm windows run per event_type over the bounded daily
    grid — never a single-partition global window — and the trough
    argmax is a broadcast of the tiny per-type worst table."""
    df = REGISTRY["timeseries_max_drawdown"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "windowspecdefinition(event_type" in plan
    assert "CartesianProduct" not in plan


def test_availability_nines_no_window(spark, sf_small):
    """The nines scorecard is hour-cell aggregate -> global aggregate —
    one scan, no window, no join."""
    df = REGISTRY["ops_availability_nines"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Window" not in plan and "Join" not in plan


def test_diff_in_diff_bounds_broadcast_no_window(spark, sf_small):
    """DiD is two scans (bounds + cells) stitched by a 1-row broadcast
    graft; the estimator itself is a 4-cell conditional aggregate —
    no window, no cartesian."""
    df = REGISTRY["eval_diff_in_diff"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cuped_single_user_shuffle(spark, sf_small):
    """CUPED's only data-sized shuffle is the per-user aggregate; theta
    rides a 1-row broadcast, and there is no window anywhere."""
    df = REGISTRY["eval_cuped_adjustment"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_qini_window_runs_on_score_cells(spark, sf_small):
    """The cumulative window must consume the score-bucketed curve table
    (post-aggregate), never raw user rows: exactly one scan feeds a
    user-keyed aggregate, then a score aggregate, then the window."""
    df = REGISTRY["eval_qini_uplift"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Window" in plan
    # window input is the aggregated cells: the plan nests the window
    # above at least two HashAggregate pairs (user, then score)
    assert plan.count("HashAggregate") >= 4


def test_fleiss_kappa_one_scan_no_join(spark, sf_small):
    """The rater panel is per-row column algebra + one constant-width
    global aggregate."""
    df = REGISTRY["eval_fleiss_kappa"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Window" not in plan


def test_kendall_tau_bounded_pair_join(spark, sf_small):
    """The pair count is a non-equi self-join of the <=25-row rank table
    (broadcast nested loop, never CartesianProduct); rank windows run
    over the same bounded table."""
    df = REGISTRY["eval_kendall_tau"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_l_diversity_broadcasts_dimension(spark, sf_small):
    """The orders-customer join must broadcast the dimension; the
    histogram runs over the QI-bounded class table off one checkpoint."""
    # The checkpoint hides the join subtree from the final plan, so the
    # pin has two halves: (a) the histogram and the total share ONE
    # materialization of the QI class table (no FileScan above the
    # checkpoint — same shape pin as dq_k_anonymity), and (b) the
    # class-table fragment itself — rebuilt without the checkpoint —
    # broadcasts the customer dimension.
    df = REGISTRY["dq_l_diversity"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert final.count("FileScan") == 0
    assert "CartesianProduct" not in final
    # the dimension join carries NO forced hint (customer scales with
    # sf) — AQE must still pick BHJ at this SF when the fragment runs
    o = load_table(spark, sf_small, "orders")
    c = load_table(spark, sf_small, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    cells.collect()
    assert "BroadcastHashJoin" in plan_of(cells).split("Initial Plan")[0]


def test_rbo_rankings_are_takeordered(spark, sf_small):
    """Both top-10 rankings must plan as TakeOrdered (per-partition
    top-k + 10-row merge), never a global Sort of the corpus."""
    df = REGISTRY["retrieval_rbo_overlap"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_minhash_broadcasts_bench_bands(spark, sf_small):
    """The benchmark band table is |benchmark|-bounded and must
    broadcast; the corpus side reaches the join as 2 band keys per doc
    (map-only signatures — no explode-shuffle of tokens)."""
    df = REGISTRY["decontaminate_minhash"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_nsp_pairs_map_only(spark, sf_small):
    """Pair construction is per-document explode + array slices:
    zero exchanges, zero joins."""
    df = REGISTRY["seq_nsp_pairs"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_vocab_coverage_rank_is_range_partitioned(spark, sf_small):
    """The type ranking must use the two-pass distributed prefix shape
    (repartitionByRange over the vocab table), and the K probe must be
    a broadcast join — no single-partition corpus window."""
    df = REGISTRY["tokenizer_vocab_coverage"].fn(spark, sf_small)
    df.collect()
    plan = plan_of(df)
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_fellegi_sunter_blocked_candidates_broadcast_weights(spark, sf_small):
    """FS scoring must ride the blocked candidate join (never all-pairs)
    and broadcast the 1-row weight table onto the pair stream: no
    CartesianProduct anywhere in the final plan."""
    df = REGISTRY["er_fellegi_sunter"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_krippendorff_one_scan_no_join(spark, sf_small):
    """Alpha is per-row vote algebra + one 4-sum global aggregate."""
    df = REGISTRY["eval_krippendorff_alpha"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Window" not in plan


def test_dedup_weighted_band_keyed_no_cartesian(spark, sf_small):
    """Soft-dedup weights reuse the map-only signature stage (source
    rides the scan): the only data-sized join is the band-size attach,
    plus the 1-row total graft — no pairwise expansion, no doc_id join
    back to documents."""
    df = REGISTRY["mix_dedup_weighted"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_forecast_mase_keyed_lag_joins_no_window(spark, sf_small):
    """Both forecast legs are keyed self-joins of the bounded daily-cell
    table — no window, no cartesian."""
    df = REGISTRY["eval_forecast_mase"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "Window" not in final
    assert "CartesianProduct" not in final


def test_dominant_period_argmax_over_acf_table(spark, sf_small):
    """The argmax adds only bounded joins over the #series x 24 ACF
    table (broadcast), and inherits the ACF's keyed lag join — no
    cartesian anywhere."""
    df = REGISTRY["timeseries_dominant_period"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_rouge_pairs_keyed_gram_joins(spark, sf_small):
    """Pair scoring must stay member->canonical (linear) with gram
    joins keyed on (doc, gram) — no all-pairs expansion, no cartesian."""
    df = REGISTRY["eval_rouge_pairs"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_auc_delong_runs_on_score_histogram(spark, sf_small):
    """DeLong must inherit the Mann-Whitney shape: one scan, one
    score-histogram shuffle, windows over the <=1001-bucket table —
    never a row-pair join."""
    df = REGISTRY["eval_auc_delong"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan


def test_croston_fold_in_codegen_no_window(spark, sf_small):
    """Croston folds inside codegen over per-user demand arrays: one
    filtered scan, two keyed aggregates, no window, no join."""
    df = REGISTRY["timeseries_croston"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Window" not in plan and "Join" not in plan
    assert "PushedFilters" in plan and "purchase" in plan


def test_log_loss_one_scan_no_join(spark, sf_small):
    """Log loss is one scan + one 3-sum global aggregate."""
    df = REGISTRY["eval_log_loss"].fn(spark, sf_small)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Window" not in plan


def test_wl_refinement_keyed_rounds_no_cartesian(spark, sf_small):
    """Each WL round is one keyed edge-label join + one collect-sorted
    aggregate off the checkpointed edge list — no cartesian anywhere."""
    df = REGISTRY["graph_wl_refinement"].fn(spark, sf_small)
    df.collect()
    final = plan_of(df).split("Initial Plan")[0]
    assert "CartesianProduct" not in final


def test_exposure_parity_top20_is_takeordered(spark, sf_small):
    """The ranking must materialize only its top-20 (TakeOrdered), with
    the corpus-share aggregate and the 1-row total grafts broadcast."""
    # the checkpointed expo/pop hide the ranking subtree from the final
    # plan (the dq_l_diversity pin lesson), so the pin has two halves:
    # the executed whole stays cartesian-free, and the ranking fragment
    # itself — rebuilt without the checkpoint — is a TakeOrdered top-20,
    # never a global sort.
    df = REGISTRY["retrieval_exposure_parity"].fn(spark, sf_small)
    df.collect()
    assert "CartesianProduct" not in plan_of(df).split("Initial Plan")[0]
    d = load_table(spark, sf_small, "documents")
    frag = d.select("doc_id", "lang", "n_chars").orderBy(
        F.col("n_chars").desc(), "doc_id"
    ).limit(20)
    assert "TakeOrderedAndProject" in plan_of(frag)


def test_whatif_candidates_are_exactly_all_connected_leftdeep_orders():
    """Brute-force mirror of the candidate set: over all 24 permutations
    of the O-C-N-R chain, keep those where every prefix is connected in
    the path graph (no cross joins) — the hardcoded _WHATIF_CANDS must
    be exactly that set, or the audit silently ranks a subset."""
    from itertools import permutations

    from amazonbigdata_for_students_spark.plans.extensions import (
        _WHATIF_CANDS,
        _WHATIF_EDGES,
    )

    def connected(seq):
        joined = {seq[0]}
        for nxt in seq[1:]:
            if not any(
                nxt in k and (set(k) & joined) for k in _WHATIF_EDGES
            ):
                return False
            joined.add(nxt)
        return True

    expected = {
        "".join(p) for p in permutations("OCNR") if connected(p)
    }
    assert set(_WHATIF_CANDS) == expected
    assert len(_WHATIF_CANDS) == len(set(_WHATIF_CANDS)) == 8


def test_v7_final_plan_runs_on_narrow_checkpoint_not_text(spark, sf_small):
    """The r10 v7 restructure's contract: everything past the banded
    checkpoint is narrow — the final plan (quarantine joins + 3-row
    accounting) must contain NO file scan of documents and NO tokenizer
    expression; the corpus text was consumed entirely inside the one
    checkpointed signature scan."""
    from amazonbigdata_for_students_spark.plans import REGISTRY

    df = REGISTRY["corpus_build_pipeline_v7"].fn(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "BatchScan" not in plan
    assert "split(lower(trim" not in plan  # TOKENS() must not reappear


def test_vector_assign_stages_have_no_pervec_window(spark, sf_small):
    """The r10 vector-lane scale fix's contract: no assignment stage may
    shuffle the N x K crossJoin output through a per-vector window — at
    sf100 the SemDeDup seam's window exchange was ~15 TB and never
    completed. Every argmin runs inside the scan (_seed_cells'
    least(struct), _argmin_arrow, SemDeDup's Arrow matmul), so the
    executed plans must contain NO window over vec_id anywhere (windows
    keyed on other columns — nprobe ranking etc. — stay legal)."""
    for name in (
        "vec_ann_ivf_topk",
        "vec_ann_ivf_kmeans_topk",
        "vec_ann_pq_topk",
        "vec_ann_recall_curve",
        "dedup_semantic_clusters",
    ):
        df = REGISTRY[name].fn(spark, sf_small)
        df.collect()
        plan = plan_of(df)
        assert "windowspecdefinition(vec_id" not in plan, name


def test_kmeans_recompute_has_no_explode(spark, sf_small):
    """The r11 Lloyd recompute cut (VERDICT r10 item 4): centroid means
    are `dim` flat avg aggregates over v[i] — partial-combined map-side,
    K rows per partition into the exchange — never the old
    posexplode -> groupBy(cid, pos) shape that shuffled N x dim rows per
    iteration (128M exchange rows per round at sf100). Pin: the trained
    centroids' plan contains no Generate (explode) and no collect_list."""
    from amazonbigdata_for_students_spark.plans.vectors import (
        _argmin_arrow,
        _as_double,
        _kmeans_centroids,
    )

    e = load_table(spark, sf_small, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    cents, inertia = _kmeans_centroids(e, k=8, iters=2)
    assert len(inertia) == 2 and inertia[1] <= inertia[0] * (1 + 1e-9)
    # the loop localCheckpoints each round; assert on the UPDATE shape
    # itself (one un-checkpointed recompute over the assigned frame)
    rows = [(r["cid"], list(r["cv"])) for r in cents.collect()]
    assigned = _argmin_arrow(e, [(0, rows)], carry=["vec_id", "v"]).select(
        "vec_id", "v", F.col("_cid0").alias("cid")
    )
    dim = len(rows[0][1])
    upd = assigned.groupBy("cid").agg(
        *[F.avg(F.col("v")[i]).alias(f"_m{i}") for i in range(dim)]
    )
    upd.collect()
    plan = plan_of(upd)
    for banned in ("Generate", "collect_list", "windowspecdefinition"):
        assert banned not in plan, banned
    assert "partial_avg" in plan or "HashAggregate" in plan


def test_semantic_assignment_is_arrow_map_only(spark, sf_small):
    """SemDeDup's seed assignment must be the Arrow matmul (map-only).
    The census query consumes `cell` through its localCheckpoint, so the
    final executed plan reads ExistingRDD — assert the assignment shape
    on the cell DataFrame itself (pre-materialization): one MapInArrow
    over the quantized scan, NO exchange, NO join, NO window — the
    proof that assignment shuffles nothing at any N."""
    from amazonbigdata_for_students_spark.plans.vectors import (
        _as_double,
        semantic_cells_drops,
    )

    e = load_table(spark, sf_small, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    cell, _ = semantic_cells_drops(e, checkpoint=False)
    exec_plan = plan_of(cell)
    assert "MapInArrow" in exec_plan or "ArrowEvalPython" in exec_plan
    for banned in ("Exchange", "Join", "windowspecdefinition"):
        assert banned not in exec_plan, banned
