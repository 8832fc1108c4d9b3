"""Query-ONLY scale exponent for the persisted ANN index (round-9
verdict item 2).

Round 8 measured ivf_knn at exponent 1.033 — but that surface retrains
k-means per call, so the number was build+query. Here the index is
built ONCE per scale (amortized, reported separately) and the timed
region is ann_index_query alone: metadata read → driver-side probe
ranking → scan of the probed list directories → exact top-k.

Corpus: the sf0.1 embeddings (2000 × 64-dim) salted to 100× and 1000×
with per-replica direction mixing (v' = 0.7·x + 0.3·cos(a·rep + b·i),
deterministic, expression-level) so replicas do NOT collapse into
their base vector's hash bucket — bucket occupancy grows with corpus
size the way a real corpus's would, not as 1000-deep replica stacks.

Index: LSH mode with the list count scaled to the corpus
(target ~200 rows/list: 1024 lists at 100×, 8192 at 1000×) — the
regime where query cost tracks probed-row mass, which stays ~flat as
n grows. n_probe pinned at 8 both scales (fixed probe schedule; the
auto-widen path is exercised by the registry entry, not here).

Writes SCALE_EXPONENTS_ANN_r9.json. Run on an idle box.
"""

from __future__ import annotations

import json
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
WORK = "/tmp/ann_exp_r9"
SCALES = {100: 1024, 1000: 8192}  # rep -> n_lists (~200 rows/list)
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
            # noise-dominant AND genuinely high-dimensional: the sf0.1
            # embeddings are label-clustered, so their hyperplane sign
            # patterns collapse to ~20 buckets, and any sinusoidal
            # noise cos(phase + w*i) spans only the 2-D subspace
            # {cos(wi), sin(wi)} — both earlier attempts measured
            # 20/1024 and 26/8192 nonempty lists with probed mass ×9.3.
            # sin() of an integer hash mix is per-COMPONENT
            # pseudo-random, so replica directions fill the sign space
            # and rows/list stays ~flat as n grows — the regime the
            # query-only exponent claim is about.
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
    spark = get_spark(app_name="ann-exp-r9")
    qrow = spark.read.parquet(BASE).filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in qrow["embedding"]]

    report: dict = {
        "protocol": (
            "salted sf0.1 embeddings (2000 base x rep, direction-mixed); "
            "LSH index, n_lists ~ n/200; build once per scale (wall "
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
        if not os.path.exists(f"{idx}/meta/_SUCCESS"):
            AI.ann_index_write(corpus, idx, mode="lsh", n_lists=n_lists)
        build_s = time.perf_counter() - t0

        # probed-row mass, for the scan-flatness claim
        stats = {
            int(r["list_id"]): int(r["n_rows"])
            for r in spark.read.parquet(f"{idx}/lists").collect()
        }
        meta = spark.read.parquet(f"{idx}/meta").head()
        order = S.lsh_probe_order(qv, int(meta["num_planes"]))
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
            "nonempty_lists": len(stats),
            "probed_rows": probed_rows,
            "build_s": round(build_s, 2),
            "query_s_min": round(min(ts), 4),
            "query_s_med": round(statistics.median(ts), 4),
            "query_s_all": [round(t, 4) for t in ts],
        }
        print(rep, report["scales"][str(rep)])

    import math

    t100 = report["scales"]["100"]["query_s_min"]
    t1000 = report["scales"]["1000"]["query_s_min"]
    report["exponent_query_only_min"] = round(math.log10(t1000 / t100), 3)
    m100 = report["scales"]["100"]["query_s_med"]
    m1000 = report["scales"]["1000"]["query_s_med"]
    report["exponent_query_only_med"] = round(math.log10(m1000 / m100), 3)
    out = Path(__file__).resolve().parent.parent / "SCALE_EXPONENTS_ANN_r9.json"
    out.write_text(json.dumps(report, indent=2) + "\n")
    print("exponent(min):", report["exponent_query_only_min"],
          "exponent(med):", report["exponent_query_only_med"])
    print("wrote", out)
    spark.stop()


if __name__ == "__main__":
    main()
