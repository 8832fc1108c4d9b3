"""Scale smoke: replicate the sf0.1 fixtures 10× (key-shifted, so join
cardinalities stay realistic) into .tmp/scale10 and time the heaviest
operators at ~6M lineitem rows / 1M events / 20k vectors.

This is the 'would the plan survive a scale-up' check: each timed query
should grow roughly linearly with input (shuffle-bound ops ~n log n),
not quadratically. Run:  python scripts/scale_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parking_violations_data_pipeline_spark.catalog import load_table  # noqa: E402
from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries  # noqa: E402
from parking_violations_data_pipeline_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "scale10")
COPIES = int(os.environ.get("SCALE_COPIES", "10"))

KEY_SHIFTS = {
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
SMALL_AS_IS = ("region", "nation", "supplier", "part")


def build(spark) -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in SMALL_AS_IS:
        load_table(spark, SRC, t).write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
    for t, shifts in KEY_SHIFTS.items():
        base = load_table(spark, SRC, t)
        if COPIES <= 100:
            parts = []
            for i in range(COPIES):
                d = base
                for col, stride in shifts.items():
                    d = d.withColumn(col, F.col(col) + F.lit(i * stride))
                parts.append(d)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            # large COPIES: a COPIES-way union tree makes Catalyst
            # planning itself the bottleneck. One broadcast crossJoin
            # against a replica index + arithmetic key shift produces
            # the identical rows from a single scan with an O(1) plan.
            rep = F.broadcast(
                spark.range(COPIES).withColumnRenamed("id", "_rep")
            )
            # repartition the SMALL base before exploding — the shuffle
            # moves MBs, and the ×COPIES blow-up then lands spread over
            # 64 balanced writer tasks instead of a handful of huge ones
            out = base.repartition(64).crossJoin(rep)
            for col, stride in shifts.items():
                out = out.withColumn(
                    col, F.col(col) + F.col("_rep") * F.lit(stride)
                )
            out = out.drop("_rep")
        # events.ts was normalized to TimestampType by the catalog; write as-is
        out.write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")


def main() -> None:
    spark = get_spark(app_name="scale-smoke")
    all_queries()
    if not os.path.exists(f"{OUT}/lineitem.parquet") or os.environ.get("SCALE_REBUILD"):
        shutil.rmtree(OUT, ignore_errors=True)
        t0 = time.perf_counter()
        build(spark)
        print(f"# built {COPIES}x dataset in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    heavy = [
        "q1_pricing_summary",      # 6M-row scan+agg
        "q5_region_revenue",       # 6-way join at 6M rows
        "c_sort_merge_join",       # large-large SMJ
        "q_window_rank",           # window over 1.5M orders
        "q_sessionize",            # two window passes over 1M events
        "q_word_count",            # explode over 50k docs
        "q_knn_cosine",            # cosine over 20k vectors
        "j_minhash_lsh_neardup",   # full LSH dedup pipeline over 50k docs
        "g_dedup_exact",           # 12M-row distinct
        # round-2 continuation additions
        "q9_product_profit",       # LIKE-filtered 4-way join, nation x year agg
        "q13_customer_distribution",  # outer-join double aggregation at 1.5M orders
        "t_contamination",         # shingle explode + broadcast bench join, 50k docs
        "t_repetition_signals",    # two explode+groupBy passes over 50k docs
        "t_sequence_pack",         # ordered cum-sum + bin agg over 50k docs
        "etl_scd2_merge",          # SCD2 merge over 15k-member dimension
        # round-3 additions
        "q2_min_cost_supplier",    # per-(part,supp) min + min join-back
        "q21_waiting_suppliers",   # fact-fact semi + anti self-references
        "q_supplier_scorecard",    # one-scan multi-metric + rank
        "j_doc_chunk",             # 50k docs -> ~210k chunk explode
        "j_unigram_logprob",       # token explode + vocab broadcast join
        "j_token_entropy",         # stacked (doc,w)->doc aggregations
        "e_anomaly_zscore",        # hour-grid z-scores over 1M events
        "j_embedding_quantize",    # posexplode 20k x 64 + range broadcast
        "q_rfm_segments",          # per-customer 3-way threshold scoring
        "d_value_histogram",       # cents-exact equi-width histogram
        # round-3 session additions (widen3)
        "t_dup_ngram_fraction",    # distinct 5-grams -> docfreq join-back, 50k docs
        "t_chunk_dedup",           # corpus-wide keep-first window on chunk text
        "l_feature_assembly",      # 3 PIT features on one user_id shuffle, 1M events
        "j_shingle_containment",   # posting-list directed containment pairs
        "c_interval_overlap_join", # day-equi hash join + overlap residual
        "t_lang_balance_resample", # per-lang rank + broadcast quota
        "e_rolling_corr",          # trailing-100-row corr over 1M events
        # round-3 session additions (widen4-6)
        "d_ks_drift",              # ECDF prefix-sum at distinct-value grain, 1M events
        "t_perplexity_buckets",    # per-lang unigram LM + tercile ntile, 50k docs
        "c_dpp_partition_pruned_join",  # 6M-row partitioned write + DPP join re-read
        "etl_zorder_cluster",      # morton coding + 16-file clustered write + re-read
        "e_locf_interpolate",      # spine explode + two-sided fills per user
        "e_value_streaks",         # islands at value grain over 1M events
        # round-3 session additions (widen9-13)
        "c_bloom_pruned_join",     # shuffle-join shape the runtime bloom attaches to
        "q_ohlc_bars",             # two rank passes + agg on ONE hour shuffle, 1M events
        "e_rolling_active_users",  # bounded 7x explode at (user,day) grain
        "q_funnel_windowed",       # three user-key stage joins over 1M events
        "d_weighted_median",       # prefix-sum at distinct-value grain, 6M rows
        "l_target_encode_loo",     # broadcast cat stats onto 1.5M orders
        "l_quantile_binning",      # distinct-value-grain equi-depth bins
        "l_grouped_split",         # md5 split + leakage audit over 1M events
        "d_partial_agg_merge",     # explicit 2-level mergeable agg, 6M rows
        "t_bpe_pair_counts",       # char-pair Generate over 50k docs
        "j_bigram_logprob",        # lag-window adjacency + vocab^2 broadcast model
        # round-3 session additions (widen18-23)
        "q_prorata_monthly",       # bounded <=5x sequence explode at 1.5M orders
        "q_basket_lift",           # per-order bounded pair blow-up + ppm ratios
        "h_nested_shred",          # JSON build->parse round-trip over 6M lines
        "d_abc_classification",    # part-grain rollup then single-partition window
        "e_nth_value_window",      # 5 windows on one user shuffle, 1M events
        "c_transitive_closure",    # 5-way edge build + bounded BFS loop
        "j_gram_power_iteration",  # 20k x 64 outer-product cells -> 64-key agg
        "e_rolling_median",        # bounded 5-row frame re-eval over 400k rows
        "c_scd2_point_in_time",    # broadcast versioned dim, residual interval
        "m_modality_router",       # single mapInPandas pass over 500k docs
        # widen25-34 additions
        "j_random_projection",     # 20k x 64 explode + broadcast sign matrix
        "q_seq_pattern_support",   # <=5-row/user rollup before the pair join
        "t_vocab_growth",          # first-seen trigram attribution, 500k docs
        "e_interval_union_coverage",  # day-partitioned sweep over 1M events
        "e_bollinger_breaches",    # rolling integer sufficient sums, hourly grain
        "q_cross_sell_matrix",     # distinct-buyer (seg,brand) over 6M lines
        "etl_hash_chain_ledger",   # per-day md5 chain folds over 1M events
        "j_mmr_rerank",            # corpus dot scan + bounded k^2 driver loop
        "q_trade_balance",         # 5-way cross-border edge build
        "d_outlier_tukey",         # rank windows at event grain per type
        # widen36-46 additions
        "t_incremental_dedup",     # docfreq-pruned posting join, incoming vs existing
        "h_record_linkage",        # blocked linkage over 1.5M customers
        "q_abc_xyz_matrix",        # part rollup + global share window + CoV classes
        "q_brand_switching_matrix",  # (cust,brand,year) rollup + argmax windows
        "q_otif_rate",             # order-grain bool_and over 6M lines
        "c_drill_across",          # two fact rollups + conformed date spine
        "q_scenario_sweep",        # 5x broadcast grid over 6M lines, one scan
        "e_forecast_wape",         # lag-168 over hourly series
        "etl_reconciliation_digest",  # md5-XOR bucket digests + physical rewrite
        "j_embedding_zscore",      # 20k x 64 explode + broadcast dim stats
        # round-4 additions (widen73-80)
        "q_triangle_count",        # degree-oriented wedge join over co-purchase graph
        "j_hamming_knn",           # sign-bit Hamming scan over 200k vectors
        "j_pq_adc",                # PQ codebook build + ADC scan + exact re-rank
        "c_range_join_binned",     # hour-binned interval equi-join, no equi key
        "t_bpe_merge_rounds",      # 3 merge-recount rounds over 500k docs
        "k_cogrouped_map",         # cogrouped Arrow reconcile, 1.5M orders x 6M lines
        "d_spearman_rho",          # two global rank windows over 150k customers
        "e_record_breaks",         # 1-preceding running max over 1M events
        # round-4 additions (widen84-99)
        "j_ivf_pq",                # IVF + residual PQ + ADC + exact re-rank
        "e_dtw_kernel",            # bounded-DP pandas kernel per type pair
        "q_capstone_report",       # 6-table star, 2 rollup grains, 3 windows
        "d_powerlaw_slope",        # co-purchase degree log-log regression
        "etl_ivm_retract",         # weighted-delta view maintenance + recompute
        "c_asof_nearest",          # per-user argmin nearest-event join
        "q_multi_touch_attribution",  # per-user path window + credit conservation
        "q_littles_law",           # global boundary sweep integral
        "e_haar_energy",           # 5-level halving fold from one day rollup
        "t_preference_pairs",      # two rank windows + rank-equality self-join
        "t_fim_split",             # md5-conv splits + substring over 500k docs
    ]
    # SCALE_ONLY=name1,name2 restricts the registered-query sweep (the
    # operator-level section below still runs unless SCALE_OPS=0) — the
    # 100x run (SCALE_COPIES=100) uses this to time the top-20 heaviest
    # ops without re-running the full ~100-entry list.
    only = os.environ.get("SCALE_ONLY")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        missing = [n for n in wanted if n not in heavy and n not in REGISTRY]
        if missing:
            raise SystemExit(f"SCALE_ONLY names not found: {missing}")
        heavy = wanted
    times = {}
    for name in heavy:
        t0 = time.perf_counter()
        n = REGISTRY[name].fn(spark, OUT).count()
        times[name] = {"sec": round(time.perf_counter() - t0, 2), "rows": n}
        print(f"# {name}: {times[name]}", file=sys.stderr)

    # round-2 scale paths, timed at the OPERATOR level: the registered
    # j_ann_lsh / j_sim_self_join_lsh queries compute an exact O(n²)
    # ground truth IN-PLAN for their acceptance invariant (bounded-n by
    # design, gate-scale only) — at scale only the approximate operator
    # itself runs, so that is what must stay sub-quadratic here.
    from parking_violations_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, OUT, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in row["embedding"]]
    from parking_violations_data_pipeline_spark.operators import dedup as DD
    from parking_violations_data_pipeline_spark.operators.graph import dedup_clusters

    def _survivorship_on_lsh_pairs() -> int:
        from parking_violations_data_pipeline_spark.operators.graph import (
            connected_components,
        )

        d = load_table(spark, OUT, "documents")
        pairs = DD.minhash_lsh_neardups(d, threshold=0.5)
        labels = connected_components(pairs, src="id_a", dst="id_b")
        member = labels.groupBy("node").agg(F.min("label").alias("cluster_id"))
        from pyspark.sql.window import Window

        ranked = member.join(
            d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
        ).withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "node")
            ),
        )
        return ranked.filter(F.col("rn") == 1).count()

    def _cc_on_lsh_pairs() -> int:
        # the 100-TB dup-clustering path: pairs from MinHash+LSH (the
        # scalable finder), then CC label propagation — the registered
        # t_dup_clusters query instead uses the bounded-n exact-Jaccard
        # ground-truth pair finder, which is quadratic by design.
        d = load_table(spark, OUT, "documents")
        pairs = DD.minhash_lsh_neardups(d, threshold=0.5)
        return dedup_clusters(pairs).count()

    op_level = [
        ("op:cc_dup_clusters_lsh", _cc_on_lsh_pairs),
        (
            "op:ann_lsh_multiprobe",
            lambda: S.ann_lsh(e, qv, k=10, num_planes=8, probe_hamming=2).count(),
        ),
        (
            "op:sim_self_join_lsh_capped",
            lambda: S.similarity_self_join(
                e, 0.3, use_lsh=True, max_bucket=5000
            ).count(),
        ),
        (
            # round-3: survivorship over the SCALABLE pair finder (the
            # registered t_dedup_survivorship uses the bounded-n exact
            # ground-truth pairs, quadratic by design at gate scale)
            "op:survivorship_lsh",
            lambda: _survivorship_on_lsh_pairs(),
        ),
    ]
    if os.environ.get("SCALE_OPS") == "0":
        op_level = []  # SCALE_OPS=0 skips the operator-level section
    for label, fn in op_level:
        t0 = time.perf_counter()
        n = fn()
        times[label] = {"sec": round(time.perf_counter() - t0, 2), "rows": n}
        print(f"# {label}: {times[label]}", file=sys.stderr)
    print(json.dumps({"copies": COPIES, "src": SRC, "queries": times}))
    spark.stop()


if __name__ == "__main__":
    main()
