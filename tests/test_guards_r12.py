"""Round-12 broadcast-hint guard (VERDICT r11 'Next round' item 1).

Round 11 proved (q5) that a hard-coded F.broadcast on a frame that
SCALES with the corpus is a guaranteed job death at 100 TB: the forced
build side crosses the 8 GB / 512M-row broadcast-relation cap and the
job aborts, where an un-hinted plan would fall back to a shuffle join.
Round 12 swept the remaining ~60 corpus-scaling hint sites onto the
size-gated catalog.maybe_broadcast (or an in-code row-count gate where
no sf_dir is in scope). This test pins the discipline mechanically,
mirroring tests/test_guards_r6.py: every surviving unconditional
`F.broadcast(...)` call site must be classified here with the reason
its build side is BOUNDED (1-row scalars, constant-cardinality dims,
literal relations, k-bounded codebooks, schema-bounded group keys).

A new unlisted site fails with instructions; a stale entry (site
removed or converted to maybe_broadcast) also fails, so the inventory
tracks reality in both directions.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "parking_violations_data_pipeline_spark"

# (relpath-under-package, enclosing function) -> why the build side is bounded
BROADCAST_ALLOWED: dict[tuple[str, str], str] = {
    ('catalog.py', 'maybe_broadcast'):
        'the size gate itself (hints only under SPARK_GRAFT_BCAST_MAX_BYTES)',
    ('operators/ann_index.py', 'pq_index_query'):
        'codebook/centroid/top-k frame (k-bounded by the ANN contract)',
    ('operators/dedup.py', 'exact_jaccard_pairs'):
        'exact-baseline branch only: per-doc size table is corpus-scaling, but the branch is the documented bounded-n ground-truth path (the O(posting-list^2) self-join it feeds dominates first); candidates/LSH path is the scale path and has no such broadcast',
    ('operators/similarity.py', 'pq_adc_knn'):
        'codebook/centroid/top-k frame (k-bounded by the ANN contract); cand is the <=few-hundred-row shortlist',
    ('operators/similarity.py', 'similarity_self_join'):
        '1-row raise_error guard frame',
    ('operators/text.py', 'tf_idf'):
        'size-gated in code: hint applied only when n_docs <= SPARK_GRAFT_BCAST_MAX_DOCS (vocabulary scales with the corpus)',
    ('plans/etl.py', 'enrich_codes'):
        'violation-code lookup: bounded by the code vocabulary (reference data, not corpus-scaling)',
    ('plans/etl.py', 'enrich_geo_bins'):
        'geo bin table: bounded by the division geometry (reference data)',
    ('queries/baseline.py', 'q5_region_revenue'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/corpus.py', 'd_skew_profile'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/corpus.py', 'j_bm25'):
        'df is per-term doc frequency FILTERED to 3 literal terms; stats is 1-row',
    ('queries/corpus.py', 'j_unigram_logprob'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/extras.py', 'c_nullsafe_join'):
        'distinct kmod in {0..4, NULL} - 6 values by construction',
    ('queries/extras.py', 'd_mad_robust'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/extras.py', 'etl_merge_upsert'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/extras.py', 'etl_winsorize'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/geo.py', 'geo_bbox_join'):
        'literal / driver-built local relation (bounded by construction); total is 1-row',
    ('queries/geo.py', 'geo_density_core'):
        'cell-grid relation: bounded by the fixed city grid geometry (32x32 cells), not the corpus; aagg/total are 1-row',
    ('queries/geo.py', 'geo_knn_grid'):
        'query-cell ring frame: bounded queries x 9 ring offsets',
    ('queries/geo.py', 'geo_polygon_join'):
        'literal / driver-built local relation (bounded by construction)',
    ('queries/geo.py', 's_geofence_alerts'):
        'literal / driver-built local relation (bounded by construction)',
    ('queries/growth.py', 'e_user_stickiness'):
        'per-month MAU: bounded by the calendar horizon, not corpus rows',
    ('queries/growth.py', 't_dedup_end_to_end'):
        '1-row scalar aggregate (scalar-broadcast pattern) x3',
    ('queries/layout_ops.py', 'etl_sorted_write_clustering'):
        '1-row scalar aggregate (scalar-broadcast pattern) x2',
    ('queries/mining.py', 'e_anomaly_zscore'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/mining.py', 'j_embedding_quantize'):
        'per-dimension min/max (embedding dim-bounded, 64 rows)',
    ('queries/mining.py', 'q_rfm_segments'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/pipeline_ops.py', 't_source_mix'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/relational.py', 'c_range_join'):
        'literal / driver-built local relation (bounded by construction)',
    ('queries/scalars.py', 'h_fuzzy_match'):
        'literal / driver-built local relation (bounded by construction)',
    ('queries/scalars.py', 'h_hash_digest'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/scalars.py', 'h_misc_funcs'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/sketches.py', 'd_count_min_topk'):
        'CMS sketch matrix: literal depth x width',
    ('queries/sketches.py', 'd_hll_sketch_union'):
        '1-row scalar aggregate (scalar-broadcast pattern) x2',
    ('queries/text.py', 'j_langid_classify'):
        'language profiles: top_k=8 terms per language (bounded)',
    ('queries/text.py', 'j_length_percentile_filter'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/text.py', 'j_oov_rate'):
        'vocab LIMIT 25 (bounded)',
    ('queries/tpch_extra.py', 'q15_top_supplier'):
        '1-row scalar aggregate (scalar-broadcast pattern); s joins AFTER the 1-row max filter (<= ties rows)',
    ('queries/tpch_extra.py', 'q22_idle_customers'):
        'pos is 1-row; n is the nation dim',
    ('queries/tpch_extra.py', 'q7_volume_shipping'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/tpch_extra.py', 'q8_market_share'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/tpch_extra.py', 'q9_product_profit'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/tpch_rest.py', 'q11_important_stock'):
        'n is the nation dim; tot is 1-row',
    ('queries/tpch_rest.py', 'q20_dominant_suppliers'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/tpch_rest.py', 'q2_min_cost_supplier'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/vectors.py', 'j_nearest_centroid'):
        'codebook/centroid/top-k frame (k-bounded by the ANN contract)',
    ('queries/windows.py', 'e_rolling_active_users'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/llm_data.py', 'j_batch_knn'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector)',
    ('queries/business.py', 'q_topn_other_rollup'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/features.py', 'l_grouped_split'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/features.py', 'l_target_encode_loo'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang); glob is 1-row',
    ('queries/llm_data.py', 'j_bigram_logprob'):
        'vocab here is the 1-row countDistinct aggregate (bg_counts/ctx are size-gated)',
    ('queries/business.py', 'q_trade_pagerank'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/aggregations.py', 'd_hhi_concentration'):
        'n is the nation dim; tot is per-nation (<=25 rows)',
    ('queries/business.py', 'q_basket_lift'):
        'brand_n is per-brand (schema-bounded brands); n_orders is 1-row',
    ('queries/joins.py', '_trade_edges'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/features.py', 'l_hashed_cross'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/aggregations.py', 'd_gini_coefficient'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/llm_data.py', 'j_random_projection'):
        'projection seed matrix (k x dim literals)',
    ('queries/analytics.py', 'q_seq_pattern_support'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/training.py', 't_vocab_growth'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/business.py', 'q_backlog_aging'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/analytics.py', 'q_seasonality_profile'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/training.py', 't_lang_balance_resample'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/aggregations.py', 'd_outlier_tukey'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/business.py', 'q_trade_balance'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/aggregations.py', 'd_kendall_tau'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/business.py', 'q_cross_sell_matrix'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/llm_data.py', 'j_mmr_rerank'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector)',
    ('queries/business.py', 'q_share_of_hierarchy'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/training.py', 't_incremental_dedup'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/business.py', 'q_returns_p_chart'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/llm_data.py', 'j_hard_negative_mining'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector)',
    ('queries/training.py', 't_perplexity_buckets'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/scalars.py', 'h_record_linkage'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/business.py', 'q_scenario_sweep'):
        'literal / driver-built local relation (bounded by construction)',
    ('queries/llm_data.py', 'j_embedding_zscore'):
        'per-dimension stats (embedding dim-bounded, 64 rows)',
    ('queries/joins.py', 'c_join_fanout_audit'):
        '1-row scalar aggregate (scalar-broadcast pattern) x2',
    ('queries/llm_data.py', 'j_filtered_knn'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector); t_label is 1-row',
    ('queries/aggregations.py', 'd_quantile_shift'):
        'literal decile grid (9 rows)',
    ('queries/business.py', 'q_skyline_3d_nations'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/joins.py', 'c_dpp_partition_pruned_join'):
        'dim is nation filtered to one region (<=5 rows)',
    ('queries/etl.py', 'etl_zorder_cluster'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/aggregations.py', 'd_price_endings'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/training.py', 't_bloom_prescreen'):
        'cutoff is 1-row; words is the 64-slot bloom word table (literal)',
    ('queries/windows.py', 'e_xbar_r_chart'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/aggregations.py', 'd_sigma_bands'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/aggregations.py', 'd_source_vocab_overlap'):
        'per-source vocab sizes (schema-bounded sources)',
    ('queries/aggregations.py', 'd_durbin_watson'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/training.py', 't_epoch_shuffle'):
        'literal / driver-built local relation (bounded by construction)',
    ('queries/aggregations.py', 'd_runs_test'):
        'bounded by group-key cardinality (schema-bounded enum: event_type/returnflag/segment/brand/source/lang)',
    ('queries/etl.py', 'etl_volume_anomaly'):
        '1-row scalar aggregate (scalar-broadcast pattern) x2',
    ('queries/llm_data.py', 'j_matryoshka_recall'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector)',
    ('queries/llm_data.py', 'j_hamming_knn'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector)',
    ('queries/aggregations.py', 'd_simpson_paradox'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/reshape.py', 'b_transpose_frame'):
        'transposed metric spine (one row per metric name, schema-bounded)',
    ('queries/llm_data.py', 'j_label_confusion'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/etl.py', 'stage'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/llm_data.py', 'j_ivf_pq'):
        'codebook/centroid/top-k frame (k-bounded by the ANN contract); shortlist is LIMIT 200',
    ('queries/analytics.py', 'q_multi_touch_attribution'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/joins.py', 'c_denormalize_obt'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('queries/business.py', 'q_price_index'):
        '1-row scalar aggregate (scalar-broadcast pattern)',
    ('queries/llm_data.py', 'j_retrieval_metrics'):
        'query/probe/anchor parameter frame (bounded by contract, <=10 rows or 1 vector)',
    ('queries/business.py', 'q_capstone_report'):
        'constant-cardinality dim (region/nation, <=25 rows by schema)',
    ('streaming/jobs.py', 'stream_static_join'):
        'literal / driver-built local relation (bounded by construction)',
}


def _scan() -> set[tuple[str, str]]:
    sites: set[tuple[str, str]] = set()
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        tree = ast.parse(p.read_text())

        class V(ast.NodeVisitor):
            def __init__(self) -> None:
                self.stack = ["<module>"]

            def visit_FunctionDef(self, n: ast.FunctionDef) -> None:
                self.stack.append(n.name)
                self.generic_visit(n)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, n: ast.Call) -> None:
                f = n.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "broadcast"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "F"
                ):
                    sites.add((rel, self.stack[-1]))
                self.generic_visit(n)

        V().visit(tree)
    return sites


def test_every_unconditional_broadcast_is_classified():
    unlisted = _scan() - set(BROADCAST_ALLOWED)
    assert not unlisted, (
        "NEW unclassified F.broadcast site(s) — an unconditional hint on "
        "a corpus-scaling frame is a guaranteed 100-TB broadcast-cap "
        "death. Either route it through catalog.maybe_broadcast (size-"
        "gated) or add the site here with the bound that makes it safe: "
        f"{sorted(unlisted)}"
    )


def test_broadcast_inventory_has_no_stale_entries():
    stale = set(BROADCAST_ALLOWED) - _scan()
    assert not stale, (
        "Stale broadcast-inventory entries (site removed or converted "
        f"to maybe_broadcast) — delete them: {sorted(stale)}"
    )
