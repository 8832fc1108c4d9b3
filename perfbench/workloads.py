"""The benchmark's workloads: which registry entries run, and on what input.

Every workload is a closed loop with one client: the next op is sent only
after the previous one has been collected. An op is one registry entry
run end to end, `REGISTRY[name].fn(spark, dir)` followed by `collect()`.
Within a pass every op runs once, in an order shuffled by the seed. Why
each workload was chosen, and which layer metrics it should and should
not move, is in perfbench/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

from datagen import Sizes


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    sizes: Sizes


# Timed passes per run. The count does not depend on speed, so a change
# that makes ops faster is compared over the same passes, not rewarded with
# an extra, warmer one. Four is also one ABBA block of a traced run.
PASSES = 4

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="analytics",
            ops=(
                "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
                "q_window_rank", "q_distinct_parts", "q_events_hourly",
                "q_sessionize", "q_word_count",
            ),
            # single-file tables: every scan is one task
            sizes=Sizes.at_scale(0.01),
        ),
        Workload(
            name="pipeline",
            ops=(
                "etl_clean_shape", "etl_incremental_append",
                "etl_parquet_partitioned", "etl_csv_roundtrip",
                "s_tumbling_window", "q_knn_cosine", "j_minhash_lsh_neardup",
            ),
            # the fact tables as four part files each, so scans fan out
            sizes=Sizes.at_scale(0.02, files=(("events", 4), ("orders", 4), ("lineitem", 4))),
        ),
    )
}
