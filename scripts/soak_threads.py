"""Full-registry threaded job-server soak (round-7 item 3, VERDICT r6).

A real job server runs arbitrary query mixes concurrently in ONE
SparkSession. test_concurrency_r6.py pins a fast subset; this script
runs the ENTIRE registry twice — once sequentially, once from N worker
threads draining a shared queue — and diffs every entry's canonical
result hash between the two runs. Any diff is a thread-safety bug
(shared temp-view collisions, scratch-path races, session-conf
mutation, non-reentrant driver-side state).

Entries already defend per-process scratch (catalog.scratch appends the
PID) but NOT per-thread; entries that write scratch inside one process
must either be idempotent or thread-isolated — this soak is the proof.

Usage:
    python scripts/soak_threads.py [sf_dir] [--threads=N] [--out=FILE]
"""

from __future__ import annotations

import hashlib
import json
import queue
import sys
import threading
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

from tests.oracle_harness import canon  # noqa: E402


def result_hash(name: str, pdf) -> str:
    c = canon(name, "spark", pdf)
    payload = c.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.md5(payload).hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    n_threads = 6
    out = None
    for a in sys.argv[1:]:
        if a.startswith("--threads="):
            n_threads = int(a.split("=", 1)[1])
        elif a.startswith("--out="):
            out = a.split("=", 1)[1]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()
    names = sorted(qs)

    # streaming entries run REAL micro-batch jobs against per-process
    # scratch checkpoints; two concurrent starts of the same query name
    # in one process would race on the checkpoint dir. A job server
    # serializes same-name streaming jobs too — model that by running
    # each name ONCE per phase (the queue already guarantees it).

    def run_one(name: str):
        return qs[name](spark, sf_dir).toPandas()

    print(f"phase 1: sequential baseline over {len(names)} entries")
    t0 = time.perf_counter()
    seq_hash: dict[str, str] = {}
    seq_err: dict[str, str] = {}
    for name in names:
        try:
            seq_hash[name] = result_hash(name, run_one(name))
        except Exception as e:  # noqa: BLE001
            seq_err[name] = f"{type(e).__name__}: {e}"
    t_seq = time.perf_counter() - t0
    print(f"  sequential: {len(seq_hash)} ok, {len(seq_err)} err, {t_seq:.0f}s")

    print(f"phase 2: {n_threads}-thread soak, shared queue")
    q: queue.Queue[str] = queue.Queue()
    for name in names:
        q.put(name)
    thr_hash: dict[str, str] = {}
    thr_err: dict[str, str] = {}
    lock = threading.Lock()

    def worker():
        while True:
            try:
                name = q.get_nowait()
            except queue.Empty:
                return
            try:
                h = result_hash(name, run_one(name))
                with lock:
                    thr_hash[name] = h
            except Exception as e:  # noqa: BLE001
                with lock:
                    thr_err[name] = f"{type(e).__name__}: {e}\n" + traceback.format_exc(limit=3)
            finally:
                q.task_done()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=worker, daemon=True) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    t_thr = time.perf_counter() - t0
    print(f"  threaded: {len(thr_hash)} ok, {len(thr_err)} err, {t_thr:.0f}s")

    diffs = []
    for name in names:
        if name in seq_err and name in thr_err:
            continue  # consistently failing is a gate problem, not a race
        if name in seq_err or name in thr_err:
            diffs.append(
                {
                    "entry": name,
                    "kind": "error-asymmetry",
                    "seq": seq_err.get(name, "ok"),
                    "thr": thr_err.get(name, "ok")[:400],
                }
            )
        elif seq_hash[name] != thr_hash[name]:
            diffs.append(
                {"entry": name, "kind": "hash-diff", "seq": seq_hash[name], "thr": thr_hash[name]}
            )

    result = {
        "sf_dir": sf_dir,
        "threads": n_threads,
        "entries": len(names),
        "seq_errors": seq_err,
        "thr_errors": {k: v[:400] for k, v in thr_err.items()},
        "seq_seconds": round(t_seq, 1),
        "thr_seconds": round(t_thr, 1),
        "diffs": diffs,
    }
    if out:
        Path(out).write_text(json.dumps(result, indent=1))
        print(f"wrote {out}")
    if diffs:
        print(f"{len(diffs)} DIFFS:")
        for d in diffs:
            print(" ", d["entry"], d["kind"])
        return 1
    if seq_err:
        print(f"note: {len(seq_err)} entries errored in BOTH phases (not a race): {sorted(seq_err)}")
    print(f"0 diffs across {len(names)} entries ({n_threads} threads)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
