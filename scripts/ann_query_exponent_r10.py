"""Query-ONLY scale exponent for the persisted ANN index, re-measured
at the round-10 list-count rule (verdict item 4).

The round-9 protocol scaled n_lists linearly with the corpus (n/200:
1024 lists at 100x, 8192 at 1000x) — the regime that makes the
driver-side O(n_lists) metadata reads linear in the corpus. Round 10
pins the production sizing instead: **n_lists ~ sqrt(n)** (512 lists at
100x = 200k vectors, 2048 at 1000x = 2M — the IVF-classic recall/
latency optimum, and the bound ann_index_write now ENFORCES for ivf
mode). LSH mode is measured (map-only assignment; ivf's per-centroid
similarity columns don't compile at thousands of centroids), and the
round-10 query path additionally prunes the stats read to the bounded
multi-probe candidate set, so the driver never materializes all lists
even when a caller ignores the rule.

At sqrt-n lists the probed-row mass grows ~sqrt(10) per decade
(rows/list ~ sqrt(n)), so the expected query exponent is ~0.5 on the
scan component and lower in practice while fixed submission overhead
dominates. Corpus salting protocol identical to round 9
(scripts/ann_query_exponent.py — per-replica direction mixing so
replicas don't collapse into their base vector's bucket).

Writes SCALE_EXPONENTS_ANN_r10.json. Run on an idle box.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from parking_violations_data_pipeline_spark.operators import ann_index as AI  # noqa: E402
from parking_violations_data_pipeline_spark.operators import similarity as S  # noqa: E402
from parking_violations_data_pipeline_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1/embeddings.parquet"
WORK = "/tmp/ann_exp_r10"
SCALES = {100: 512, 1000: 2048}  # rep -> n_lists (~sqrt(n) rule)
N_PROBE = 8
REPEATS = 7


def salted_corpus(spark, rep: int) -> str:
    out = f"{WORK}/x{rep}/corpus_src"
    if os.path.exists(f"{out}/_SUCCESS"):
        return out
    base = spark.read.parquet(BASE).select("vec_id", "embedding").filter(
        F.col("embedding").isNotNull()
    )
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    mixed = (
        base.crossJoin(reps)
        .select(
            (F.col("vec_id") * rep + F.col("rep")).alias("vec_id"),
            # per-component pseudo-random direction mixing (see the
            # round-9 script's rationale: sinusoidal noise spans a 2-D
            # subspace and collapses the sign space)
            F.expr(
                "transform(cast(embedding as array<double>), (x, i) -> "
                "0.4d * x + 0.6d * sin(cast(pmod("
                "rep * 131071 + vec_id * 524287 + i * 8191, 1000003"
                ") as double)))"
            ).alias("embedding"),
        )
    )
    mixed.write.mode("overwrite").parquet(out)
    return out


def main() -> None:
    spark = get_spark(app_name="ann-exp-r10")
    qrow = spark.read.parquet(BASE).filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in qrow["embedding"]]

    report: dict = {
        "protocol": (
            "salted sf0.1 embeddings (2000 base x rep, direction-mixed); "
            "LSH index, n_lists ~ sqrt(n) (512 @ 100x, 2048 @ 1000x) — "
            "the round-10 list-count rule; build once per scale (wall "
            "reported, untimed in the query metric); query = "
            f"ann_index_query(k=10, n_probe={N_PROBE}), {REPEATS} repeats, "
            "min + median reported; exponent = log10(t_1000/t_100) on mins"
        ),
        "scales": {},
    }
    for rep, n_lists in SCALES.items():
        src = salted_corpus(spark, rep)
        corpus = spark.read.parquet(src)
        n = corpus.count()
        idx = f"{WORK}/x{rep}/index"
        t0 = time.perf_counter()
        if AI.read_manifest(idx) is None:
            AI.ann_index_write(corpus, idx, mode="lsh", n_lists=n_lists)
        build_s = time.perf_counter() - t0

        # probed-row mass, for the scan claim; the stats read here uses
        # the same candidate-pruned path the query does
        meta = spark.read.parquet(f"{idx}/meta").head()
        order = S.lsh_probe_order(qv, int(meta["num_planes"]))
        stats = AI._read_stats(spark, idx, candidates=order)
        probed = [p for p in order if p in stats][:N_PROBE]
        probed_rows = sum(stats[p] for p in probed)

        ts = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            AI.ann_index_query(spark, idx, qv, k=10, n_probe=N_PROBE).collect()
            ts.append(time.perf_counter() - t0)
        report["scales"][str(rep)] = {
            "n_vectors": n,
            "n_lists": n_lists,
            "nonempty_lists_probed_window": len(stats),
            "probed_rows": probed_rows,
            "build_s": round(build_s, 2),
            "query_s_min": round(min(ts), 4),
            "query_s_med": round(statistics.median(ts), 4),
            "query_s_all": [round(t, 4) for t in ts],
        }
        print(rep, report["scales"][str(rep)], flush=True)

    t100 = report["scales"]["100"]["query_s_min"]
    t1000 = report["scales"]["1000"]["query_s_min"]
    report["exponent_query_only_min"] = round(math.log10(t1000 / t100), 3)
    m100 = report["scales"]["100"]["query_s_med"]
    m1000 = report["scales"]["1000"]["query_s_med"]
    report["exponent_query_only_med"] = round(math.log10(m1000 / m100), 3)
    out = Path(__file__).resolve().parent.parent / "SCALE_EXPONENTS_ANN_r10.json"
    out.write_text(json.dumps(report, indent=2) + "\n")
    print("exponent(min):", report["exponent_query_only_min"],
          "exponent(med):", report["exponent_query_only_med"])
    print("wrote", out)
    spark.stop()


if __name__ == "__main__":
    main()
