"""Round-11 verdict item 1: concurrent append ‖ compact ‖ query soak
for the persisted ANN index.

The round-10 kill-point tests proved crash consistency; this file
proves WRITER and READER concurrency, which round 10 only reasoned
about:

  * N appender threads and a compactor thread mutate one index at the
    same time. Round-11 hardening serializes them on `_path_lock` —
    without it two writers derive the same next_epoch off the committed
    manifest and each one's orphan cleanup rmtree's the other's rows.
  * Reader threads run `ann_index_search` (the snapshot-validated eager
    query) continuously throughout. Every result must be a COMMITTED
    snapshot:
      - contains every base row always (nothing ever disappears);
      - batch atomicity: each appended batch is all-in or all-out;
      - per-thread monotonic growth: committed snapshots only grow
        (appends add rows, compaction preserves them), so a reader can
        never observe a smaller row set after a larger one;
  * afterwards NO EPOCH IS LOST: the full-probe result equals
    brute-force over base ∪ every appended batch, and the manifest's
    total_rows matches.

Sizing: lsh mode (map-only assignment — append cost is one tiny Spark
write), 4 lists (2 planes — the multi-probe schedule is bounded at
Hamming ≤ 2, so 2 planes is the largest LSH index whose schedule
reaches EVERY bucket; at 3 planes the Hamming-3 complement bucket is
by design never probed), base 120 rows + 8 batches × 25 rows, dim 8. Each id
range is distinct so set algebra identifies batches exactly. k is
larger than the total row count and every list is probed, so a query
returns the entire committed row set — set equality IS snapshot
equality.
"""

from __future__ import annotations

import json
import random
import threading

import pytest

from parking_violations_data_pipeline_spark.operators import ann_index as AI

DIM = 8
N_BASE = 120
N_BATCHES = 8
BATCH = 25
K = N_BASE + N_BATCHES * BATCH + 10  # > any committed row count
N_PROBE = 4  # 2^2 planes: multi-probe covers Hamming 0+1+2 = ALL 4 buckets


def _vecs(seed: int, start_id: int, n: int):
    rng = random.Random(seed)
    return [
        (start_id + i, [rng.uniform(-1, 1) for _ in range(DIM)])
        for i in range(n)
    ]


def _batch_ids(b: int) -> set:
    start = 1000 * (b + 1)
    return set(range(start, start + BATCH))


@pytest.fixture(scope="module")
def soak(spark, tmp_path_factory):
    """Run the whole soak once; tests assert on its recorded outcomes."""
    path = str(tmp_path_factory.mktemp("annconc") / "idx")
    base = _vecs(7, 0, N_BASE)
    spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(path + "_base")
    AI.ann_index_write(
        spark.read.parquet(path + "_base"), path, mode="lsh", n_lists=4
    )

    batches = [_vecs(100 + b, 1000 * (b + 1), BATCH) for b in range(N_BATCHES)]
    qvec = [1.0] + [0.0] * (DIM - 1)

    writers_done = threading.Event()
    errors: list[str] = []
    observations: dict[int, list[frozenset]] = {0: [], 1: []}
    compact_stats: list[dict] = []

    def appender(thread_batches):
        try:
            for rows in thread_batches:
                df = spark.createDataFrame(
                    rows, "vec_id long, embedding array<double>"
                )
                AI.ann_index_append(df, path)
        except Exception as e:  # noqa: BLE001
            errors.append(f"append: {e}")

    def compactor():
        try:
            # interleave with the appends: compact whenever at least one
            # new epoch is committed, until writers finish
            last = 0
            while not writers_done.is_set():
                man = AI.read_manifest(path)
                if man and int(man["epoch"]) > last:
                    st = AI.ann_index_compact(spark, path)
                    compact_stats.append(st)
                    last = int(st["epoch"])
                writers_done.wait(0.05)
        except Exception as e:  # noqa: BLE001
            errors.append(f"compact: {e}")

    def reader(slot: int):
        try:
            while not writers_done.is_set():
                rows = AI.ann_index_search(
                    spark, path, qvec, k=K, n_probe=N_PROBE
                )
                observations[slot].append(
                    frozenset(int(r["vec_id"]) for r in rows)
                )
        except Exception as e:  # noqa: BLE001
            errors.append(f"read: {e}")

    threads = (
        [
            threading.Thread(target=appender, args=(batches[i::4],))
            for i in range(4)
        ]
        + [threading.Thread(target=compactor)]
        + [threading.Thread(target=reader, args=(s,)) for s in (0, 1)]
    )
    appenders = threads[:4]
    for t in threads:
        t.start()
    for t in appenders:
        t.join(timeout=600)
    writers_done.set()
    for t in threads[4:]:
        t.join(timeout=600)

    return {
        "path": path,
        "errors": errors,
        "observations": observations,
        "compactions": compact_stats,
        "base_ids": frozenset(i for i, _ in base),
        "all_vecs": base + [r for b in batches for r in b],
        "qvec": qvec,
    }


def test_no_thread_errors(soak):
    assert soak["errors"] == []


def test_some_concurrency_actually_happened(soak):
    # the soak must have exercised the race: at least one compaction ran
    # while appends were in flight, and readers observed >1 snapshot
    assert len(soak["compactions"]) >= 1
    distinct = {o for obs in soak["observations"].values() for o in obs}
    assert len(distinct) >= 2, "readers never saw the index grow"


def test_every_observation_is_a_committed_snapshot(soak):
    base = soak["base_ids"]
    for slot, obs in soak["observations"].items():
        for seen in obs:
            assert base <= seen, f"reader {slot} lost base rows"
            for b in range(N_BATCHES):
                bids = _batch_ids(b)
                inter = seen & bids
                assert inter in (set(), bids), (
                    f"reader {slot} saw a TORN batch {b}: "
                    f"{len(inter)}/{BATCH} rows"
                )


def test_snapshots_grow_monotonically_per_reader(soak):
    for slot, obs in soak["observations"].items():
        for prev, cur in zip(obs, obs[1:]):
            assert prev <= cur, (
                f"reader {slot} observed a SHRINKING snapshot: "
                f"{sorted(prev - cur)[:5]} disappeared"
            )


def test_no_epoch_lost_final_state(spark, soak):
    # full-probe search == brute force over base ∪ all batches
    rows = AI.ann_index_search(
        spark, soak["path"], soak["qvec"], k=K, n_probe=N_PROBE
    )
    got = {int(r["vec_id"]) for r in rows}
    want = {i for i, _ in soak["all_vecs"]}
    assert got == want, (
        f"missing={sorted(want - got)[:10]} extra={sorted(got - want)[:10]}"
    )
    man = AI.read_manifest(soak["path"])
    assert man["total_rows"] == len(want)


def test_final_topk_values_match_brute_force(spark, soak):
    import math

    qv = soak["qvec"]

    def cos(v):
        num = sum(a * b for a, b in zip(v, qv))
        den = math.sqrt(sum(a * a for a in v)) * math.sqrt(
            sum(b * b for b in qv)
        )
        return num / den if den else None

    brute = sorted(
        ((round(cos(v), 4), i) for i, v in soak["all_vecs"]),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [
        (float(r["sim"]), int(r["vec_id"]))
        for r in AI.ann_index_search(
            spark, soak["path"], qv, k=10, n_probe=N_PROBE
        )
    ]
    assert got == [(s, i) for s, i in brute]


def test_single_writer_lock_is_actually_held(soak, spark):
    # regression pin for the round-11 fix: both mutators must acquire
    # the per-path lock (an unserialized pair shares next_epoch and
    # deletes each other's rows). Hold the lock and assert a writer
    # blocks rather than proceeding.
    path = soak["path"]
    lock = AI._path_lock(path)
    df = spark.createDataFrame(
        _vecs(999, 90000, 3), "vec_id long, embedding array<double>"
    )
    entered = threading.Event()

    def try_append():
        AI.ann_index_append(df, path)
        entered.set()

    with lock:
        t = threading.Thread(target=try_append)
        t.start()
        assert not entered.wait(timeout=1.0), (
            "ann_index_append proceeded while another writer held the "
            "path lock"
        )
    t.join(timeout=600)
    assert entered.is_set()
    man = AI.read_manifest(path)
    assert json.dumps(man)  # manifest still parses after the churn


def test_build_once_can_call_writers_without_self_deadlock(spark, tmp_path):
    # Round-11 close found this the hard way: build_once holds
    # _path_lock(path) across its build_fn, and the production
    # composite builds (queries/llm_data.py) call ann_index_write +
    # ann_index_append INSIDE it. With a non-reentrant Lock the nested
    # acquire in ann_index_append waits on the lock its own thread
    # holds — the geoskew sweep's stale-index rebuild hung forever
    # (plain threading.Lock; now RLock). Every fresh-index test passed
    # because the deadlock only fires on the build/rebuild path.
    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        _vecs(11, 0, 40), "vec_id long, embedding array<double>"
    )
    extra = spark.createDataFrame(
        _vecs(12, 1000, 10), "vec_id long, embedding array<double>"
    )

    def build():
        AI.ann_index_write(base, path, mode="lsh", n_lists=4)
        AI.ann_index_append(extra, path)  # nested same-thread acquire

    done = threading.Event()

    def run():
        AI.build_once(path, build, fingerprint="t")
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    assert done.wait(timeout=300), (
        "build_once deadlocked calling ann_index_append from its "
        "build_fn — _path_lock must be reentrant"
    )
    man = AI.read_manifest(path)
    assert man is not None and int(man["total_rows"]) == 50
