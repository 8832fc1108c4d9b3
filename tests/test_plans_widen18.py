"""Physical-plan pins for the widen18-20 batches (bool/bit aggs,
nth_value windows, basket lift, HHI, BFS closure, degree profile,
pro-rata calendarization, late-arriving dim, hashed cross).
"""

from __future__ import annotations

from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

from .conftest import SF_MED

all_queries()


def _final_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_MED)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    return p.split("== Initial Plan ==")[0]


def test_bool_bit_aggs_partial_final(spark):
    # algebraic aggs must pre-aggregate map-side: partial + final
    # HashAggregate pair, no Expand, no window scaffolding
    p = _final_plan(spark, "d_bool_bit_aggs")
    assert "partial" in p.lower()
    assert "Expand" not in p


def test_nth_value_single_user_shuffle(spark):
    # every window (nth_value ×2, first/last ignoreNulls, row_number,
    # count) must share ONE user_id exchange
    p = _final_plan(spark, "e_nth_value_window")
    assert p.count("Exchange hashpartitioning(user_id") == 1
    assert "EvalPython" not in p


def test_basket_lift_no_cartesian_on_data(spark):
    # the pair self-join is an equi-join on okey; the only nested-loop
    # allowed is the broadcast of the single-row global order count
    p = _final_plan(spark, "q_basket_lift")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_hhi_broadcast_dims_no_smj(spark):
    p = _final_plan(spark, "d_hhi_concentration")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_closure_edge_build_broadcasts_dims(spark):
    # the closure itself is localCheckpoint'ed (lineage truncation is
    # the point of the loop), so pin the scale-bound stage — the edge
    # build — directly: supplier + 2× nation broadcast, no cartesian
    from parking_violations_data_pipeline_spark.queries.joins import _trade_edges

    df = _trade_edges(spark, SF_MED)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 3
    # the final closure plan may only contain checkpoint scans + agg
    pf = _final_plan(spark, "c_transitive_closure")
    assert "CartesianProduct" not in pf


def test_degree_profile_no_cartesian(spark):
    p = _final_plan(spark, "q_graph_degree_profile")
    assert "CartesianProduct" not in p


def test_prorata_is_pure_map_plus_one_shuffle(spark):
    # sequence+posexplode is a Generate (map-side); the ONLY exchange
    # is the final month rollup — no join anywhere
    p = _final_plan(spark, "q_prorata_monthly")
    assert "Generate" in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_late_dim_both_joins_broadcast(spark):
    p = _final_plan(spark, "etl_late_arriving_dim")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_hashed_cross_broadcast_and_no_python(spark):
    p = _final_plan(spark, "l_hashed_cross")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_nested_shred_jvm_side_generate(spark):
    # build → from_json → explode must stay JVM-side (no EvalPython);
    # the flatten is a Generate
    p = _final_plan(spark, "h_nested_shred")
    assert "EvalPython" not in p
    assert "Generate" in p


def test_scd2_pit_equi_join_with_residual(spark):
    # the interval predicate must ride as a residual on a broadcast
    # EQUI join on the business key — never a nested-loop over facts
    p = _final_plan(spark, "c_scd2_point_in_time")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_rolling_median_single_shuffle_bounded_frame(spark):
    p = _final_plan(spark, "e_rolling_median")
    assert p.count("Exchange hashpartitioning(event_type") == 1
    assert "specifiedwindowframe(RowFrame, -4, currentrow" in p
    assert "EvalPython" not in p


def test_lambda_quantifiers_codegen_no_generate(spark):
    # exists/forall/zip_with must run as higher-order expressions —
    # no explode (Generate) and no Python in the plan
    p = _final_plan(spark, "h_lambda_quantifiers")
    assert "Generate" not in p
    assert "EvalPython" not in p


def test_abc_part_rollup_before_global_window(spark):
    # the data-sized stage is the part-grain rollup; the global
    # running-sum window runs AFTER reduction (single partition over
    # |parts| rows, not |lineitem|)
    p = _final_plan(spark, "d_abc_classification")
    assert "partial" in p.lower()  # map-side combine on the rollup
    assert p.count("Exchange SinglePartition") >= 1


def test_price_volume_bridge_broadcast_part(spark):
    p = _final_plan(spark, "q_price_volume_bridge")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_gram_build_is_distributed_and_bounded_collect(spark):
    # the data-sized stage (Gram build) must partial-aggregate
    # map-side over 64 keys; only dims² cells reach the driver
    from parking_violations_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF_MED, "embeddings")
    src = e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("i0", "x")
    ).select(
        "vec_id", (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    a, b = src.alias("a"), src.alias("b")
    gram = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("r"), F.col("b.i").alias("c"))
        .agg(F.expr("sum(a.q * b.q) div 1000000").alias("g"))
    )
    rows = gram.collect()
    assert len(rows) == 64
    p = gram._jdf.queryExecution().executedPlan().toString()
    assert "partial" in p.lower()


def test_modality_router_single_pass(spark):
    # one mapInPandas (ArrowEvalPython/MapInPandas) pass — not one
    # scan per modality
    p = _final_plan(spark, "m_modality_router")
    assert p.count("MapInPandas") == 1
    assert p.count("Scan ") <= 2  # single source scan (+reuse)


def test_gini_rollup_then_per_nation_window(spark):
    # customer-grain rollup reduces BEFORE the rank window; window
    # partitions by nation (never a global single-partition sort)
    p = _final_plan(spark, "d_gini_coefficient")
    assert "partial" in p.lower()
    assert "Exchange hashpartitioning(nk" in p
    assert "BroadcastHashJoin" in p


def test_changepoint_windows_at_hourly_grain(spark):
    # running sums run AFTER the hour rollup — the Window sits above
    # a HashAggregate, so per-window state is O(hours) not O(events)
    p = _final_plan(spark, "e_changepoint_meanshift")
    assert "Window" in p and "HashAggregate" in p
    assert "EvalPython" not in p


def test_life_table_single_user_shuffle(spark):
    p = _final_plan(spark, "q_user_life_table")
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_random_projection_broadcast_signs(spark):
    # the 64×8 sign matrix must broadcast; projection is explode +
    # equi-join + aggregate — no EvalPython, no cartesian over DATA
    p = _final_plan(spark, "j_random_projection")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_seq_pattern_user_rollup_before_pair_join(spark):
    # users compress to ≤5 rows BEFORE the pair join (HashAggregate
    # below the join), keeping the blow-up bounded at 25/user
    p = _final_plan(spark, "q_seq_pattern_support")
    assert "CartesianProduct" not in p
    assert "partial" in p.lower()


def test_elasticity_broadcast_part_no_smj(spark):
    p = _final_plan(spark, "q_price_elasticity")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_vocab_growth_single_distinct_no_rescans(spark):
    # first-seen attribution: ONE distinct over (doc, type) + one
    # aggregate — no per-prefix rescan joins
    p = _final_plan(spark, "t_vocab_growth")
    assert "Generate" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_file_metadata_one_file_per_partition(spark):
    # the clustered write invariant the query itself asserts: every
    # hive partition holds exactly one file
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["a_file_metadata_audit"].fn(spark, SF_MED).collect()
    assert len(rows) == 5
    assert all(r["n_files"] == 1 for r in rows)


def test_rank_shift_windows_over_rollup(spark):
    # rank windows sit above the brand×year HashAggregate, not over
    # lineitem grain
    p = _final_plan(spark, "q_brand_rank_shift")
    assert "BroadcastHashJoin" in p
    assert "partial" in p.lower()


def test_retention_prune_reads_only_retained_partitions(spark):
    # after the directory drop, re-read must not reference pruned days
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["etl_retention_prune"].fn(spark, SF_MED).collect()
    assert len(rows) == 7  # exactly the retained window
    days = [r["day_id"] for r in rows]
    assert max(days) - min(days) == 6


def test_exactly_once_replay_no_duplicates(spark):
    # second run against the same checkpoint must add zero rows:
    # totals equal the single-pass batch aggregate
    from pyspark.sql import functions as F

    from parking_violations_data_pipeline_spark.catalog import load_table
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    out = REGISTRY["s_exactly_once_replay"].fn(spark, SF_MED)
    streamed = out.agg(F.sum("n").alias("n")).collect()[0]["n"]
    batch = load_table(spark, SF_MED, "events").count()
    assert streamed == batch


def test_pyds_write_manifest_matches_shards(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["a_python_datasource_write"].fn(spark, SF_MED).collect()
    assert len(rows) == 5
    assert all(r["manifest_ok"] for r in rows)


def test_span_corruption_no_explode_no_python(spark):
    # masking accounting runs as higher-order filters over index
    # sequences — no Generate, no Python
    p = _final_plan(spark, "t_span_corruption")
    assert "Generate" not in p
    assert "EvalPython" not in p


def test_chat_template_jvm_string_ops(spark):
    p = _final_plan(spark, "t_chat_template")
    assert "EvalPython" not in p
    assert "Generate" not in p


def test_vwap_partial_agg(spark):
    p = _final_plan(spark, "q_vwap_monthly")
    assert "partial" in p.lower()
    assert "Join" not in p


def test_backlog_aging_broadcast_anchor(spark):
    p = _final_plan(spark, "q_backlog_aging")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row anchor only


def test_cusum_fold_jvm_side_over_hourly_arrays(spark):
    # the reset-recursion folds per-key hourly arrays JVM-side; no
    # Python, and the array build sits above an hourly HashAggregate
    p = _final_plan(spark, "e_cusum_alarms")
    assert "EvalPython" not in p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_skyline_two_windows_no_dominance_join(spark):
    # the O(n²) dominance anti-join must NOT appear: only windows
    p = _final_plan(spark, "q_skyline_parts")
    assert "Join" not in p
    assert p.count("Window") >= 1


def test_tukey_fences_broadcast_back(spark):
    p = _final_plan(spark, "d_outlier_tukey")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_hash_chain_fold_jvm_side(spark):
    # chain recursion folds per-day ordered arrays — no Python; and
    # tamper-evidence: digests differ across days (no accidental
    # constant folding)
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    df = REGISTRY["etl_hash_chain_ledger"].fn(spark, SF_MED)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in p
    rows = df.collect()
    hashes = [r["chain_hash"] for r in rows]
    assert len(set(hashes)) == len(hashes)


def test_peak_detection_hourly_grain_single_shuffle(spark):
    p = _final_plan(spark, "e_peak_detection")
    assert "EvalPython" not in p
    # windows sit above the hourly HashAggregate
    assert "HashAggregate" in p


def test_trade_balance_broadcast_dims(spark):
    p = _final_plan(spark, "q_trade_balance")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_autocorrelation_windows_at_hourly_grain(spark):
    # three lag branches all window the COMPRESSED hourly series
    p = _final_plan(spark, "e_autocorrelation")
    assert "EvalPython" not in p
    assert "Union" in p


def test_drawdown_two_stacked_windows_one_sort(spark):
    p = _final_plan(spark, "e_max_drawdown")
    assert p.count("Exchange SinglePartition") <= 2
    assert "Window" in p


def test_ddl_catalog_roundtrip_and_cleanup(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["a_sql_ddl_catalog"].fn(spark, SF_MED).collect()
    assert len(rows) == 5 and all(r["catalog_ok"] for r in rows)
    # DROP TABLE ran: the managed table must be gone
    assert "ddl_ledger" not in [t.name for t in spark.catalog.listTables()]


def test_interval_union_day_partitioned_sweep(spark):
    # the sweep must partition by day — no global single-partition
    # sort over raw events
    p = _final_plan(spark, "e_interval_union_coverage")
    assert "Exchange hashpartitioning(d" in p
    assert "EvalPython" not in p


def test_bollinger_integer_test_no_sqrt(spark):
    # the breach predicate is cross-multiplied integers — no sqrt /
    # stddev in the plan
    p = _final_plan(spark, "e_bollinger_breaches")
    assert "sqrt" not in p.lower()
    assert "stddev" not in p.lower()
    # hourly rollup shuffles (event_type, h); the window re-keys to
    # event_type — exactly two hash exchanges, both at hourly grain
    assert p.count("Exchange hashpartitioning(event_type") == 2


def test_cross_sell_broadcast_dims(spark):
    p = _final_plan(spark, "q_cross_sell_matrix")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_kendall_pairs_bounded_by_rollup(spark):
    # the all-pairs join runs over the 25-row nation rollup, below a
    # partial-aggregated reduction of the fact table
    p = _final_plan(spark, "d_kendall_tau")
    assert "partial" in p.lower()
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p


def test_mmr_distributed_scan_bounded_collect(spark):
    # the query-vs-corpus relevance scan must be a broadcast join +
    # aggregate; only the k-candidate matrix reaches the driver
    from pyspark.sql import functions as F

    from parking_violations_data_pipeline_spark.catalog import load_table

    e = load_table(spark, SF_MED, "embeddings")
    src = e.select("vec_id", F.posexplode(F.col("embedding")).alias("i0", "x")).select(
        "vec_id", (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    qv = src.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("q").alias("qq")
    )
    rel = (
        src.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), F.col("i") == F.col("qi"))
        .groupBy("vec_id").agg(F.expr("sum(q * qq) div 1000000").alias("rel"))
    )
    rel.collect()
    p = rel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    # result is deterministic and diversity-shifted: picks differ from
    # the pure-relevance top-5 only via the integer MMR rule
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["j_mmr_rerank"].fn(spark, SF_MED).collect()
    assert [r["pick"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["vec_id"] for r in rows}) == 5


def test_cramers_v_windows_over_cell_table(spark):
    p = _final_plan(spark, "d_cramers_v")
    assert "EvalPython" not in p
    assert "partial" in p.lower()  # cell counts pre-aggregate map-side


def test_share_of_hierarchy_broadcast_dims(spark):
    p = _final_plan(spark, "q_share_of_hierarchy")
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_chunked_replay_accumulates_across_batches(spark):
    from pyspark.sql import functions as F

    from parking_violations_data_pipeline_spark.catalog import load_table
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    out = REGISTRY["s_chunked_replay"].fn(spark, SF_MED)
    streamed = out.agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    batch = load_table(spark, SF_MED, "events").count()
    assert streamed == batch


def test_incremental_dedup_docfreq_pruned_posting_join(spark):
    # the posting self-join must run over the PRUNED gram table — the
    # df<=20 semi-join sits below the candidate join; no cartesian
    p = _final_plan(spark, "t_incremental_dedup")
    assert "CartesianProduct" not in p
    assert "Generate" in p


def test_bitemporal_broadcast_version_join(spark):
    p = _final_plan(spark, "c_bitemporal_asof")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sma_crossover_hourly_grain(spark):
    p = _final_plan(spark, "e_sma_crossover")
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_theil_sen_pairs_over_compressed_series(spark):
    # pairwise slopes join the COMPRESSED daily series (partial agg
    # below the join) — time-bounded, never event-bounded
    p = _final_plan(spark, "e_theil_sen")
    assert "partial" in p.lower()
    assert "EvalPython" not in p


def test_p_chart_decimal_exact_no_doubles(spark):
    # the control-limit test must run in decimal, not double: no
    # sqrt/stddev in the plan, pooled totals broadcast
    p = _final_plan(spark, "q_returns_p_chart")
    assert "sqrt" not in p.lower()
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the 1-row pooled totals


def test_abc_xyz_rollups_before_global_window(spark):
    p = _final_plan(spark, "q_abc_xyz_matrix")
    assert "partial" in p.lower()
    assert "sqrt" not in p.lower()  # CoV classes via cross-mult, no σ


def test_hard_negatives_broadcast_anchors(spark):
    p = _final_plan(spark, "j_hard_negative_mining")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_schema_drift_measured_from_footers(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = {r["col_name"]: r["drift"] for r in
            REGISTRY["etl_schema_drift_monitor"].fn(spark, SF_MED).collect()}
    assert rows == {
        "event_id": "unchanged", "user_id": "unchanged",
        "cents": "removed", "amount_milli": "added", "event_type": "added",
    }


def test_diff_in_diff_broadcast_part(spark):
    p = _final_plan(spark, "q_diff_in_diff")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_fano_integer_only(spark):
    p = _final_plan(spark, "e_fano_burstiness")
    assert "sqrt" not in p.lower()
    assert "EvalPython" not in p


def test_grouped_map_ols_arrow_path(spark):
    # the fit runs through FlatMapGroupsInPandas (Arrow), above the
    # hourly rollup — Python sees O(hours) rows per group, not events
    p = _final_plan(spark, "k_grouped_map_ols")
    assert "FlatMapGroupsInPandas" in p
    assert "HashAggregate" in p


def test_record_linkage_blocked_join_no_cartesian(spark):
    p = _final_plan(spark, "h_record_linkage")
    assert "CartesianProduct" not in p
    # blocking is an equi-join on (nation, band)
    assert "Join" in p


def test_csv_parse_modes_measured(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = {r["mode"]: r for r in REGISTRY["a_csv_parse_modes"].fn(spark, SF_MED).collect()}
    assert rows["PERMISSIVE"]["n_rows"] == 100 and rows["PERMISSIVE"]["n_bad"] == 20
    assert rows["DROPMALFORMED"]["n_rows"] == 80
    assert rows["FAILFAST"]["failed"] is True


def test_scenario_sweep_single_scan_broadcast_grid(spark):
    # 5 scenarios must NOT mean 5 scans: one lineitem scan, grid
    # broadcast, partial agg absorbs the 5x explode
    p = _final_plan(spark, "q_scenario_sweep")
    assert p.count("Scan parquet") + p.count("FileScan parquet") <= 1 or p.count("lineitem") <= 2
    assert "BroadcastNestedLoopJoin" in p  # the 5-row grid cross join
    assert "partial" in p.lower()


def test_forecast_wape_single_type_shuffle(spark):
    p = _final_plan(spark, "e_forecast_wape")
    assert "EvalPython" not in p
    assert p.count("Exchange hashpartitioning(event_type") == 2  # rollup + lag window


def test_pmi_cells_windows_over_cell_table(spark):
    p = _final_plan(spark, "d_pmi_cells")
    assert "partial" in p.lower()


def test_moments_decimal_wide_sums(spark):
    # power sums must accumulate in decimal (wide), not double
    p = _final_plan(spark, "d_moments_exact")
    assert "decimal(38,0)" in p
    assert "EvalPython" not in p


def test_zscore_broadcast_dim_stats(spark):
    p = _final_plan(spark, "j_embedding_zscore")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_km_curve_monotone_nonincreasing(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["e_km_survival_curve"].fn(spark, SF_MED).collect()
    surv = [r["survival_ppm"] for r in rows]
    assert surv == sorted(surv, reverse=True)  # S(t) never increases
    assert rows[-1]["survival_ppm"] == 0  # everyone churns by the last age
    p = _final_plan(spark, "e_km_survival_curve")
    assert "EvalPython" not in p


def test_reconciliation_digest_order_free_and_green(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["etl_reconciliation_digest"].fn(spark, SF_MED).collect()
    assert len(rows) == 16
    assert all(r["reconciled"] for r in rows)


def test_brand_switching_rollup_then_window(spark):
    p = _final_plan(spark, "q_brand_switching_matrix")
    assert "partial" in p.lower()
    assert "CartesianProduct" not in p


def test_drill_across_no_fact_to_fact_join(spark):
    # both facts aggregate to day grain BEFORE any join: every join
    # input side sits above a HashAggregate, spine is a Generate
    p = _final_plan(spark, "c_drill_across")
    assert "Generate" in p
    assert "CartesianProduct" not in p


def test_otif_bool_and_at_order_grain(spark):
    p = _final_plan(spark, "q_otif_rate")
    assert "partial" in p.lower()
    assert "EvalPython" not in p


def test_join_fanout_single_shuffle_no_double_join(spark):
    # the audit derives from per-key counts, not from materializing
    # the join output twice
    p = _final_plan(spark, "c_join_fanout_audit")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2  # the two 1-row scalars


def test_same_store_single_rollup(spark):
    p = _final_plan(spark, "q_same_store_growth")
    assert "partial" in p.lower()
    assert "Join" not in p  # pivot via conditional agg, no self-join


def test_filtered_knn_strategies_diverge_sanely(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["j_filtered_knn"].fn(spark, SF_MED).collect()[0]
    assert r["n_pre"] == 5                       # pre-filter always fills k
    assert r["n_post"] <= 5                      # post-filter can lose results
    assert 0 <= r["recall_ppm"] <= 1_000_000


def test_asof_forward_single_shuffle(spark):
    # the forward direction reuses the union+window operator: ONE
    # event_type exchange serves the carry window
    p = _final_plan(spark, "c_asof_forward")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_service_level_windows_over_rollup(spark):
    p = _final_plan(spark, "q_service_level_stock")
    assert "partial" in p.lower()
    assert "BroadcastHashJoin" in p


def test_lorenz_customer_rollup_first(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["q_lorenz_curve"].fn(spark, SF_MED).collect()
    shares = [r["spend_share_ppm"] for r in rows]
    assert shares == sorted(shares)          # Lorenz curve is nondecreasing
    # curve sits under the diagonal — up to divide-the-divisor ppm
    # slack (cum div (tot div 1e6) rounds the quotient UP when the
    # divisor floors, so the top decile can read a few ppm above 1e6)
    assert all(
        r["spend_share_ppm"] <= r["pop_share_ppm"] + 1000 for r in rows
    )


def test_orc_roundtrip_green(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    assert len(REGISTRY["a_orc_roundtrip"].fn(spark, SF_MED).collect()) == 5


def test_wma_explicit_lags_hourly_grain(spark):
    p = _final_plan(spark, "e_weighted_moving_avg")
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_quantile_shift_rank_exact_no_rescans(spark):
    p = _final_plan(spark, "d_quantile_shift")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "EvalPython" not in p


def test_code_detector_cross_mult_routing(spark):
    p = _final_plan(spark, "j_code_detector")
    assert "EvalPython" not in p
    assert "Generate" not in p  # features via translate/length, no explode


def test_skyline3d_pairs_on_rollup_only(spark):
    # the pairwise dominance join runs over the 25-row nation rollup
    p = _final_plan(spark, "q_skyline_3d_nations")
    assert "partial" in p.lower()


def test_seasonal_index_monthly_grain(spark):
    p = _final_plan(spark, "d_seasonal_index")
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_late_data_drop_keeps_exactly_two_quartiles(spark):
    from pyspark.sql import functions as F

    from parking_violations_data_pipeline_spark.catalog import load_table
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    out = REGISTRY["s_late_data_drop"].fn(spark, SF_MED)
    streamed = out.agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    total = load_table(spark, SF_MED, "events").count()
    # reverse replay under a 1h watermark: quarters 1-2 drop (with the
    # measured one-batch propagation lag), 3-4 survive
    assert streamed == total // 2


def test_coreset_gains_monotone_nonincreasing(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["t_coreset_greedy_coverage"].fn(spark, SF_MED).collect()
    gains = [r["new_types"] for r in rows]
    assert gains == sorted(gains, reverse=True)  # submodularity
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_capture_recapture_estimator_sane(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["d_capture_recapture"].fn(spark, SF_MED).collect()[0]
    assert r["n_both"] > 0
    assert r["within_30pct"] is True


def test_bloom_prescreen_exact_contract(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["t_bloom_prescreen"].fn(spark, SF_MED).collect()[0]
    assert r["no_false_negatives"] is True      # the Bloom guarantee
    assert r["n_flagged"] >= r["n_true_dupes"]  # flags ⊇ true dupes
    p = _final_plan(spark, "t_bloom_prescreen")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_partition_balance_contract(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["a_partition_balance"].fn(spark, SF_MED).collect()[0]
    assert r["n_partitions"] == 8 and r["balanced"] is True


def test_attribution_single_user_copartition(spark):
    p = _final_plan(spark, "q_attribution_touch")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_rag_pack_no_driver_loop(spark):
    # density-greedy packing is pure windows — no collect-based loop
    p = _final_plan(spark, "q_rag_context_pack")
    assert "Window" in p
    assert "EvalPython" not in p


def test_xbar_r_integer_only(spark):
    p = _final_plan(spark, "e_xbar_r_chart")
    assert "sqrt" not in p.lower() and "stddev" not in p.lower()


def test_sft_lint_jvm_strings(spark):
    p = _final_plan(spark, "t_sft_lint")
    assert "EvalPython" not in p


def test_nested_views_filters_pushed_through(spark):
    # the status filter defined in the BOTTOM view must reach the scan
    p = _final_plan(spark, "a_nested_views")
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]" in p


def test_revenue_bridge_conserves(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["q_revenue_bridge_saas"].fn(spark, SF_MED).collect()[0]
    assert r["conserves"] is True
    assert r["starting"] + r["new_rev"] + r["expansion"] - r["contraction"] - r["churned"] == r["ending"]


def test_binary_encoding_injective(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["h_binary_encoding"].fn(spark, SF_MED).collect()[0]
    assert r["n_distinct_b64"] == r["n_rows"] == r["n_distinct_hex"]
    assert r["total_hex_chars"] % 2 == 0


def test_session_sensitivity_monotone_and_single_pass(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["q_session_gap_sensitivity"].fn(spark, SF_MED).collect()[0]
    assert r["sessions_15m"] >= r["sessions_30m"] >= r["sessions_60m"]
    p = _final_plan(spark, "q_session_gap_sensitivity")
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_edit1_blocked_not_allpairs(spark):
    # the candidate join is an equi-join on deletion variants
    p = _final_plan(spark, "h_edit1_neighborhood_join")
    assert "CartesianProduct" not in p
    assert "Generate" in p
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["h_edit1_neighborhood_join"].fn(spark, SF_MED).collect()[0]
    assert r["n_pairs"] > 0 and r["max_dist"] <= 1


def test_vocab_overlap_rollup_bounded_pairs(spark):
    p = _final_plan(spark, "d_source_vocab_overlap")
    assert "CartesianProduct" not in p
    assert "partial" in p.lower()


def test_sigma_bands_decimal_no_sigma_double(spark):
    p = _final_plan(spark, "d_sigma_bands")
    assert "sqrt" not in p.lower() and "stddev" not in p.lower()
    assert "decimal(38,0)" in p


def test_merge_idempotency_holds(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["etl_merge_idempotency"].fn(spark, SF_MED).collect()[0]
    assert r["idempotent"] is True


def test_intrinsic_dimension_sane(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["j_intrinsic_dimension"].fn(spark, SF_MED).collect()[0]
    assert r["n_points"] > 0
    assert 1 <= r["id_estimate"] <= 64  # bounded by ambient dimension


def test_json_inference_contract(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = {r["col_name"]: r["inferred_type"]
            for r in REGISTRY["a_json_schema_inference"].fn(spark, SF_MED).collect()}
    assert rows["amount"] == "double" and rows["tags"] == "string"


def test_python_stream_source_drains_all_batches(spark):
    from pyspark.sql import functions as F

    from parking_violations_data_pipeline_spark.registry import REGISTRY

    out = REGISTRY["a_python_datasource_stream"].fn(spark, SF_MED)
    total = out.agg(F.sum("n_rows").alias("n")).collect()[0]["n"]
    assert total == 365 * 5  # every offset-tracked batch delivered


def test_hapax_single_rollup(spark):
    p = _final_plan(spark, "t_hapax_profile")
    assert "partial" in p.lower()
    assert "EvalPython" not in p


def test_peak_concurrency_day_partitioned_sweep(spark):
    p = _final_plan(spark, "e_peak_concurrency")
    assert "Exchange hashpartitioning(d" in p
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["e_peak_concurrency"].fn(spark, SF_MED).collect()[0]
    assert r["max_peak"] >= 1


def test_fifo_cogs_partition_window_and_conservation(spark):
    from pyspark.sql import functions as F

    from parking_violations_data_pipeline_spark.registry import REGISTRY

    df = REGISTRY["q_fifo_cogs"].fn(spark, SF_MED)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(l_partkey" in p
    r = df.agg(
        F.sum("units_matched").alias("m"), F.sum("units_left").alias("l")
    ).collect()[0]
    assert r["m"] >= 0 and r["l"] >= 0  # clamped allocation never negative


def test_crosslang_fingerprint_equijoin(spark):
    p = _final_plan(spark, "t_crosslang_dupes")
    assert "CartesianProduct" not in p


def test_column_change_profile_rates(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = {r["col_name"]: r for r in
            REGISTRY["etl_column_change_profile"].fn(spark, SF_MED).collect()}
    assert rows["c_nationkey"]["n_changed"] == 0        # untouched column
    assert rows["c_mktsegment"]["n_changed"] > 0        # 1-in-7 relabel
    assert rows["c_acctbal"]["n_changed"] > 0           # 1-in-11 shift


def test_durbin_watson_integer_only_and_sane(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    df = REGISTRY["d_durbin_watson"].fn(spark, SF_MED)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "sqrt" not in p.lower()
    rows = df.collect()
    assert all(0 <= r["dw_micro"] <= 4_000_000 for r in rows)  # DW ∈ [0, 4]


def test_array_set_ops_inclusion_exclusion(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["h_array_set_ops"].fn(spark, SF_MED).collect()[0]
    assert r["inclusion_exclusion_ok"] is True


def test_epoch_shuffle_orders_differ_and_reproduce(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    a = {r["epoch"]: r["order_checksum"]
         for r in REGISTRY["t_epoch_shuffle"].fn(spark, SF_MED).collect()}
    b = {r["epoch"]: r["order_checksum"]
         for r in REGISTRY["t_epoch_shuffle"].fn(spark, SF_MED).collect()}
    assert a == b                       # reproducible on re-run
    assert len(set(a.values())) == 3    # each epoch a distinct permutation


def test_completeness_watermark_freezes_at_first_gap(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["etl_completeness_watermark"].fn(spark, SF_MED).collect()
    for r in rows:
        assert r["watermark_day"] is not None
        # watermark can never exceed the span
        assert r["n_days_spanned"] >= 1


def test_runs_test_integer_band(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    df = REGISTRY["d_runs_test"].fn(spark, SF_MED)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "sqrt" not in p.lower()
    rows = df.collect()
    assert all(r["verdict"] in ("random", "patterned") for r in rows)
    assert all(r["n_runs"] <= r["n_above"] + r["n_below"] for r in rows)


def test_volume_anomaly_robust_stats(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["etl_volume_anomaly"].fn(spark, SF_MED).collect()[0]
    assert r["median_daily_rows"] > 0 and r["mad_rows"] >= 0
    assert 0 <= r["n_anomalous_days"] <= r["n_days"]


def test_hash_census_conservation(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["d_hash_collision_census"].fn(spark, SF_MED).collect()[0]
    assert r["n_distinct_prefixes"] <= 65536
    assert r["n_colliding_keys"] <= r["n_keys"]


def test_latency_user_keyed_join_no_cartesian(spark):
    p = _final_plan(spark, "q_click_to_purchase_latency")
    assert "CartesianProduct" not in p


def test_csv_quoting_all_cases_roundtrip(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["a_csv_quoting_roundtrip"].fn(spark, SF_MED).collect()
    assert len(rows) == 5 and all(r["roundtrip_ok"] for r in rows)


def test_matryoshka_recall_bounded(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["j_matryoshka_recall"].fn(spark, SF_MED).collect()[0]
    assert 0 <= r["n_overlap"] <= r["k"] == 10


def test_progress_metrics_account_for_rows(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["s_progress_metrics"].fn(spark, SF_MED).collect()[0]
    assert r["metrics_account_for_all_rows"] is True


def test_paired_ttest_sufficient_stats(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    r = REGISTRY["d_ttest_paired"].fn(spark, SF_MED).collect()[0]
    assert r["n"] == 25  # all brands present both years in the fixture


def test_brand_entry_curve_monotone(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    rows = REGISTRY["q_brand_entry_curve"].fn(spark, SF_MED).collect()
    cums = [r["cum_brands"] for r in rows]
    assert cums == sorted(cums) and cums[-1] == 25


def test_time_to_milestone_single_user_shuffle(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY

    df = REGISTRY["q_time_to_milestone"].fn(spark, SF_MED)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(user_id") == 1
    r = df.collect()[0]
    assert r["median_hours"] is None or r["median_hours"] <= r["p90_hours"]
