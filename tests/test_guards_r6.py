"""Round-6 guard-inventory lint (VERDICT r5 'Next round' item 7).

Walks the package AST and asserts every `crossJoin` / `collect` call
site is classified. Until now the "every cartesian is bounded, every
collect is driver-safe" discipline was convention enforced by audit;
this test pins it mechanically so a future entry cannot silently add
a scale-killer.

Classification rules:
  * a `crossJoin(F.broadcast(...))` is auto-classified broadcast-scalar
    (the scalar-subquery pattern: a 1-row/tiny aggregate broadcast onto
    every row — no shuffle, no cartesian blow-up) and needs no listing;
  * every OTHER crossJoin site must appear in CROSSJOIN_ALLOWED with a
    reason (bounded input, in-plan cap, or guard);
  * every `collect` site must appear in COLLECT_ALLOWED with a reason
    (rows bounded by design: codebooks, seeds, per-day censuses, k²
    candidate matrices, scalar audit rows).

A new unlisted site fails with instructions. A STALE entry (listed but
no longer present) also fails, so the inventory tracks reality in both
directions.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "parking_violations_data_pipeline_spark"

# (relpath-under-package, enclosing function) -> reason the site is safe
CROSSJOIN_ALLOWED: dict[tuple[str, str], str] = {
    ("operators/similarity.py", "similarity_self_join"): "exact all-pairs branch: lazily guarded by exact_cap in-plan (raise_error past 20k); LSH twin is the scale path",
    ("queries/analytics.py", "q_funnel"): "funnel stages joined onto a 1-row total frame (scalar pattern, un-broadcast side is 1 row)",
    ("queries/pipeline_ops.py", "t_dup_graph_stats"): "cluster-size histogram x 1-row total: both cartesian sides bounded (distinct sizes, scalar)",
    ("queries/relational.py", "c_cross_join"): "C6 entry: cartesian IS the semantics; both sides bounded by design (region x priority, 5x5)",
    ("queries/analytics.py", "q_funnel_windowed"): "stage frames vs 1-row bounds frame (scalar pattern)",
    ("queries/aggregations.py", "d_poisson_bootstrap_ci"): "resample replicates: B=200 literal-range frame x per-group stats (bounded B x groups)",
    ("queries/setops.py", "g_symmetric_diff"): "1-row count frames combined for the audit verdict (scalar pattern x3)",
    ("queries/etl.py", "etl_deletion_vectors"): "1-row manifest/scalar frames folded into the audit row",
    ("queries/analytics.py", "q_merge_intervals"): "1-row total frame onto merged-interval summary (scalar pattern)",
    ("queries/windows.py", "e_underwater_duration"): "1-row peak frame onto the drawdown series (scalar pattern)",
    ("queries/training.py", "t_consistent_sample"): "1-row threshold/total frames (scalar pattern x2)",
    ("queries/reshape.py", "b_three_valued_logic"): "VALUES truth-table literals: 3x3 bounded cartesian by construction",
    ("queries/llm_data.py", "j_random_projection"): "seed-matrix frame (k x dim literals) onto vectors: bounded side is the projection seed",
    ("queries/setops.py", "g_except_all"): "1-row count frame for the multiplicity audit (scalar pattern)",
    ("queries/etl.py", "etl_zorder_cluster"): "1-row min/max bounds frame for bit-interleave normalization (scalar pattern)",
    ("queries/business.py", "q_triangle_count"): "1-row totals folded into the closure-ratio verdict (scalar pattern x3)",
    ("queries/llm_data.py", "j_kmeans_purity"): "k-row centroid frame onto vectors: bounded side is k centroids",
    ("queries/business.py", "q_network_reciprocity"): "1-row edge-count frame (scalar pattern)",
    ("queries/llm_data.py", "j_ivf_pq"): "k x m codebook rows onto shortlist: bounded side is the PQ codebook",
    ("queries/etl.py", "etl_medallion"): "1-row layer-count frames folded into the lineage audit",
    ("queries/reshape.py", "b_cached_reuse"): "1-row aggregate of the cached frame re-joined (scalar pattern)",
    ("queries/analytics.py", "q_multi_touch_attribution"): "1-row journey-total frame (scalar pattern)",
    ("queries/analytics.py", "q_littles_law"): "1-row horizon frame (scalar pattern)",
    ("queries/windows.py", "s_append_mode"): "1-row watermark-bound frame (scalar pattern)",
}

COLLECT_ALLOWED: dict[tuple[str, str], str] = {
    ("operators/ann_index.py", "_append_locked"): "persisted centroids (n_lists rows) + per-batch and merged list stats (n_lists rows each); ann_index_append's body, moved under the r11 path lock",
    ("operators/ann_index.py", "ann_index_query"): "index metadata only: n_lists centroid rows + list stats (corpus-size-independent)",
    ("operators/ann_index.py", "ann_index_search"): "eager top-k result (k rows) via ann_index_query's bounded plan; the collect is the point — snapshot validation needs execution BETWEEN two manifest reads",
    ("operators/ann_index.py", "ann_index_write"): "final list stats (n_lists rows, capped by the 4*sqrt(n) rule for ivf) for the manifest total",
    ("operators/ann_index.py", "_read_stats"): "list stats: n_lists rows for ivf (sqrt-rule-capped), isin-pruned probe candidates for lsh",
    ("operators/ann_index.py", "pq_index_query"): "m x n_codes codebook rows + `shortlist` candidate ids (<= a few hundred by contract)",
    ("operators/similarity.py", "ivf_build"): "k centroid rows + k seed rows per round (k<=256 by contract)",
    ("operators/similarity.py", "pq_build"): "m x k codebook rows (<=4096 floats) per round",
    ("queries/sketches.py", "d_count_min_topk"): "CMS sketch: depth x width counter matrix (literal dims)",
    ("queries/etl.py", "etl_orphan_gc"): "manifest + orphan file lists: file counts, not rows",
    ("queries/llm_data.py", "j_gram_power_iteration"): "dim-length eigenvector per iteration (64 floats)",
    ("queries/etl.py", "etl_retention_prune"): "per-partition retention census (days, not rows)",
    ("queries/scans.py", "a_python_datasource_write"): "1-row totals for the manifest cross-check",
    ("queries/scans.py", "a_sql_ddl_catalog"): "SHOW TABLES catalog rows (bounded by DDL count)",
    ("queries/llm_data.py", "j_mmr_rerank"): "N_CAND candidate rows + k x k pairwise sims (literal caps)",
    ("queries/scans.py", "a_analyze_stats"): "ANALYZE TABLE stats rows (one per column)",
    ("queries/scans.py", "a_csv_parse_modes"): "corrupt-record probe rows (fixture-bounded literal file)",
    ("queries/training.py", "t_coreset_greedy_coverage"): "candidate coreset: literal cap rows for the greedy",
    ("queries/scans.py", "a_partition_balance"): "per-partition row-count census (num partitions rows)",
    ("queries/etl.py", "etl_column_change_profile"): "per-column drift summary (one row per column)",
    ("queries/scans.py", "a_binary_files"): "at most 5 doc blobs written as local files (doc_id < 5)",
    ("queries/training.py", "t_bpe_merge_rounds"): "single argmax pair per merge round (1 row x rounds)",
    ("queries/business.py", "q_trade_pagerank"): "nation-graph edges: schema-bounded <= 25x24 rows at every SF (local-relation rebuild replaces a leaked persist)",
    ("queries/business.py", "_trade_edges_local"): "top-3-per-nation edges: schema-bounded <= 75 rows at every SF (local-relation rebuild replaces a leaked persist)",
    ("queries/joins.py", "c_transitive_closure"): "top-3-per-nation edges: schema-bounded <= 75 rows at every SF; BFS closure runs driver-side over them (r11 opt — replaced a ~25-job Spark loop)",
    ("queries/ordering.py", "f_keyset_pagination"): "one page of k rows per iteration (keyset contract)",
    ("queries/llm_data.py", "j_kmeans_purity"): "k centroids per Lloyd round + k purity rows",
    ("queries/llm_data.py", "update"): "k centroid rows inside the Lloyd update helper",
    ("queries/reshape.py", "b_cached_reuse"): "1-row scalar audit of the cached aggregate",
    ("queries/windows.py", "e_dtw_kernel"): "two fixed-length daily series (bounded day counts)",
    ("queries/windows.py", "e_haar_energy"): "power-of-two padded daily series (bounded day count)",
    ("queries/etl.py", "etl_partition_plan_lpt"): "per-day load census for the driver-side LPT greedy",
}


def _is_broadcast(arg: ast.expr) -> bool:
    return (
        isinstance(arg, ast.Call)
        and (
            (isinstance(arg.func, ast.Attribute) and arg.func.attr == "broadcast")
            or (isinstance(arg.func, ast.Name) and arg.func.id == "broadcast")
        )
    )


def _scan() -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    cross: set[tuple[str, str]] = set()
    coll: set[tuple[str, str]] = set()
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
                if isinstance(f, ast.Attribute):
                    if f.attr == "crossJoin" and not (
                        n.args and _is_broadcast(n.args[0])
                    ):
                        cross.add((rel, self.stack[-1]))
                    elif f.attr == "collect":
                        coll.add((rel, self.stack[-1]))
                self.generic_visit(n)

        V().visit(tree)
    return cross, coll


def test_every_nonbroadcast_crossjoin_is_classified():
    cross, _ = _scan()
    unlisted = cross - set(CROSSJOIN_ALLOWED)
    assert not unlisted, (
        "NEW unclassified crossJoin site(s) — a cartesian without a "
        "broadcast-scalar shape is a 100-TB risk. Either wrap the small "
        "side in F.broadcast(...) (scalar pattern) or add the site to "
        f"CROSSJOIN_ALLOWED with a bounded/capped reason: {sorted(unlisted)}"
    )


def test_every_collect_is_classified():
    _, coll = _scan()
    unlisted = coll - set(COLLECT_ALLOWED)
    assert not unlisted, (
        "NEW unclassified collect site(s) — driver-side collection must "
        "be provably bounded (codebooks, censuses, scalar audits). Add "
        f"to COLLECT_ALLOWED with the bound: {sorted(unlisted)}"
    )


def test_inventory_has_no_stale_entries():
    cross, coll = _scan()
    stale_cross = set(CROSSJOIN_ALLOWED) - cross
    stale_coll = set(COLLECT_ALLOWED) - coll
    assert not stale_cross and not stale_coll, (
        "Stale inventory entries (site removed or refactored) — delete "
        f"them so the inventory tracks reality: cross={sorted(stale_cross)} "
        f"collect={sorted(stale_coll)}"
    )
