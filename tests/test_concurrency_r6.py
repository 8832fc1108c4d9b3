"""Round-6 concurrency pin: a Spark driver is a legitimate job server —
multiple queries submitted from threads share one session. Registry
entries must be safe under that pattern: scratch paths and temp views
must not collide, and results must equal sequential execution.

(Cross-PROCESS isolation is separately guaranteed by the pid suffix in
catalog.scratch; this covers same-process thread concurrency.)
"""

from __future__ import annotations

import threading
import traceback

SF = "/root/testdata/sf0.001"

# deliberately spans the risky surfaces: filesystem scratch + manifest
# commits (etl_*, a_time_travel_versions), temp views (b_lateral_alias),
# Arrow UDF workers (k_pandas_udf, m_bmp_decode), plain SQL
NAMES = [
    "q1_pricing_summary",
    "etl_csv_roundtrip",
    "a_time_travel_versions",
    "b_lateral_alias",
    "k_pandas_udf",
    "m_bmp_decode",
]


def _norm(rows):
    return sorted(repr(tuple(r)) for r in rows)


def test_concurrent_entries_match_sequential(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

    all_queries()
    seq = {n: _norm(REGISTRY[n].fn(spark, SF).collect()) for n in NAMES}

    errors: dict[str, str] = {}
    results: dict[str, list] = {}

    def run(n: str) -> None:
        try:
            results[n] = _norm(REGISTRY[n].fn(spark, SF).collect())
        except Exception:  # noqa: BLE001
            errors[n] = traceback.format_exc(limit=3)

    threads = [threading.Thread(target=run, args=(n,)) for n in NAMES]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, f"concurrent execution raised: {errors}"
    mismatched = [n for n in NAMES if results[n] != seq[n]]
    assert not mismatched, f"concurrent results differ from sequential: {mismatched}"
