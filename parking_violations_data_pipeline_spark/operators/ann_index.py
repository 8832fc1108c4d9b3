"""Persisted ANN index: build once → query many (SURVEY.md §2 J8).

The round-8 verdict's watch item #1: `similarity.ivf_knn` retrains its
k-means quantizer on every invocation, so its measured "query path"
exponent (1.033) was really build+query — linear in corpus size. The
production shape separates the surfaces:

  * `ann_index_write(embeddings, path, ...)` — ONE pass that assigns
    every vector an inverted-list id (IVF k-means, or hyperplane-LSH
    for unbounded list counts where assignment is map-only) and writes
    the corpus parquet **partitioned by (list_id, epoch)**, plus tiny
    metadata tables (centroids / list stats). This is the amortized
    cost.
  * `ann_index_query(spark, path, qv, ...)` — reads the metadata
    (bounded, see "list-count rule" below), ranks the probe lists
    DRIVER-side, and scans ONLY the probed partition directories via
    the `basePath` option — the file listing itself touches n_probe
    directories, not all 2^H of them, so query cost tracks the probed-
    list row mass, not the corpus (measured:
    SCALE_EXPONENTS_ANN_r9.json / _r10.json).

Crash consistency (round-10): every state transition commits through
`_MANIFEST`, a tiny JSON at the index root replaced atomically
(os.replace — on HDFS/S3 the analog is a rename / conditional put).
The manifest records the committed `epoch` and the current stats
directory (`lists_v{N}`). `ann_index_append` writes the new rows into
epoch=N+1 partition subdirectories and the merged stats into a FRESH
`lists_v{N+1}` dir, and only then swings the manifest. Readers filter
`epoch <= manifest.epoch` (a partition filter, pruned at planning), so
a crash at ANY point between the corpus append and the manifest commit
leaves readers on the exact pre-append snapshot — no stale-stats /
unreachable-rows window. A retried append deletes the orphaned
uncommitted epoch dirs before re-writing.

List-count rule (round-10): `ann_index_query` collects the centroid
and list-stats tables driver-side, which is O(n_lists) rows. For
mode='ivf' the write path therefore ENFORCES n_lists ≤ max(64, 4·√n) —
the classic IVF sizing (recall/latency optimum is ~√n lists; 4·√n
leaves headroom) — so the driver-side metadata stays ~√corpus, i.e.
~4M rows even at 10¹² vectors. mode='lsh' list counts may scale
linearly (assignment is map-only), so there the query PRUNES the stats
read to the bounded multi-probe candidate set (1 + H + C(H,2) ids)
with an isin-pushed filter instead of collecting all 2^H rows.

Zero-norm and NULL vectors are DROPPED at write/append time (their
cosine against every centroid is NULL — try_divide by a zero norm —
so they are directionless: no centroid assignment or sign-bit
signature is meaningful, and every query ranks them last/NULL anyway).
The drop (`similarity.drop_directionless`, shared with the LSH
self-join) is documented behavior, not data loss by accident; keep
such rows in a side table upstream if they must be retrievable.

Assignment, the LSH probe schedule and the exact re-rank are the
`similarity` module's (`assign_centroids`, `lsh_bucket`,
`lsh_probe_order`, `knn_bruteforce`), so an indexed query ranks its
candidates exactly as the in-memory ANN paths do.

All index artifacts are plain parquet + one JSON manifest — readable
by any engine, no driver-side state survives the session
(cluster-restart-safe).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.functions.vector import sq_l2_to
from parking_violations_data_pipeline_spark.operators import similarity as S

# one lock per index path: the concurrency soak runs the same registry
# entry from 6 threads; without this, two threads could race the
# build-if-absent check and interleave partitioned writes
# REENTRANT by design: build_once holds the path lock across its
# build_fn, and composite builds call the public writers
# (ann_index_write + ann_index_append) from inside it — a plain Lock
# self-deadlocks on that same-thread nesting (found by the round-11
# close: the geoskew sweep's stale-index rebuild hung forever at
# ann_index_append's acquire). RLock keeps the actual contract —
# serialize DIFFERENT writer threads per path — while same-thread
# nesting just recurses.
_BUILD_LOCKS: dict[str, threading.RLock] = {}
_BUILD_LOCKS_GUARD = threading.Lock()


def _path_lock(path: str) -> threading.RLock:
    with _BUILD_LOCKS_GUARD:
        return _BUILD_LOCKS.setdefault(path, threading.RLock())


# ---------------------------------------------------------------- manifest

def _manifest_path(path: str) -> str:
    return os.path.join(path, "_MANIFEST")


def read_manifest(path: str) -> dict | None:
    """Committed index state, or None for a pre-manifest (round-9)
    layout. Driver-side file read — corpus-size-independent."""
    try:
        with open(_manifest_path(path)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _commit_manifest(path: str, man: dict) -> None:
    """Atomic commit: write-to-temp + os.replace. Readers see either
    the old manifest or the new one, never a torn write. (HDFS analog:
    create + rename; S3: conditional put.)"""
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f)
    os.replace(tmp, _manifest_path(path))


def _stats_dir(path: str, man: dict | None) -> str:
    """Resolve the committed list-stats directory. Pre-manifest
    indexes keep the round-9 fixed `lists/` location."""
    if man is None:
        return f"{path}/lists"
    return f"{path}/{man['stats_dir']}"


def ann_index_write(
    embeddings: DataFrame,
    path: str,
    mode: str = "ivf",
    n_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build and persist the inverted-list index. mode='ivf' trains the
    DataFrame-native k-means coarse quantizer (n_lists enforced ≤
    max(64, 4·√n) — see module docstring); mode='lsh' derives list_id
    from 2^ceil(log2(n_lists)) hyperplane sign bits — assignment is a
    map-only column, so the list count can scale with the corpus (the
    exponent-measurement path; the query side prunes its stats read to
    the probe candidates, so driver memory stays bounded).

    Layout under `path`:
      corpus/     (id, vec) parquet, partitionBy(list_id, epoch)
      lists_v0/   (list_id, n_rows) — which lists exist + stats
      centroids/  (list_id, centroid) — ivf mode only
      meta/       single row: mode, n_lists, num_planes, dim
      _MANIFEST   {"epoch": 0, "stats_dir": "lists_v0", "total_rows": n}
                  committed LAST (atomic os.replace) — the index does
                  not exist to manifest-aware readers until it is
                  complete.

    Returns a small stats dict (driver-side, corpus-size-independent).
    """
    spark = embeddings.sparkSession
    base = S.drop_directionless(embeddings, vec_col)
    dim_row = base.select(F.size(vec_col).alias("d")).head()
    if dim_row is None or dim_row["d"] is None:
        raise ValueError("ann_index_write: corpus has no non-NULL vectors")
    dim = int(dim_row["d"])

    # a rebuild over a previous (possibly crashed) index must not
    # inherit its orphans: clear everything — the manifest commit below
    # is what makes the new state visible. Blast-radius guard (round-11
    # ADVICE): only delete a directory that is recognizably a prior
    # index (manifest / meta / corpus present) or empty; a mistyped
    # path pointing at an unrelated directory raises instead of
    # irrecoverably wiping it.
    if os.path.isdir(path):
        looks_like_index = (
            os.path.exists(_manifest_path(path))
            or os.path.isdir(os.path.join(path, "meta"))
            or os.path.isdir(os.path.join(path, "corpus"))
        )
        if not looks_like_index and os.listdir(path):
            raise ValueError(
                f"ann_index_write: refusing to overwrite {path!r} — the "
                "directory exists, is non-empty, and does not look like "
                "a prior index (no _MANIFEST, meta/, or corpus/). Delete "
                "it explicitly or point at a fresh path."
            )
        shutil.rmtree(path)

    if mode == "ivf":
        n = base.count()
        cap = max(64, int(4 * math.sqrt(max(n, 1))))
        if n_lists > cap:
            raise ValueError(
                f"ann_index_write: n_lists={n_lists} exceeds the IVF "
                f"list-count rule max(64, 4*sqrt(n))={cap} for n={n} "
                "rows. ann_index_query collects the centroid/stats "
                "tables driver-side (O(n_lists) rows); at ~sqrt(n) "
                "lists that stays bounded at any corpus size. Use "
                "mode='lsh' if the list count must scale linearly "
                "with the corpus."
            )
        _, cents = S.ivf_build(
            base, k=n_lists, iters=iters, id_col=id_col, vec_col=vec_col
        )
        # assign ROW-WISE with the trained centroids, NOT by joining
        # ivf_build's (id, cluster) frame back on the id: duplicate ids
        # multiply under that join (2 copies -> 4 corpus rows; caught
        # by the dupkeys sweep), and the row-wise argmax fold is
        # map-only — no shuffle at all on the assignment.
        listed = S.assign_centroids(
            base.select(id_col, vec_col), vec_col, cents, "list_id"
        )
        num_planes = 0
        local_df(
            spark,
            [(ci, c) for ci, c in enumerate(cents)],
            "list_id int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        actual_lists = len(cents)
    elif mode == "lsh":
        num_planes = max(1, math.ceil(math.log2(max(n_lists, 2))))
        listed = S.lsh_bucket(
            base, num_planes, vec_col, "list_id", dim=dim
        ).select(id_col, vec_col, "list_id")
        actual_lists = 1 << num_planes
    else:
        raise ValueError(f"ann_index_write: unknown mode {mode!r}")

    # repartition by list BEFORE the partitioned write: without it,
    # every write task emits a file into every directory it sees rows
    # for (tasks × lists tiny files — at 8192 lists that is a
    # small-files explosion); hashed on the partition key each
    # directory gets ~one file. This is the write-time investment the
    # query-side pruning pays back.
    listed.withColumn("epoch", F.lit(0)).repartition(
        F.col("list_id")
    ).write.mode("overwrite").partitionBy("list_id", "epoch").parquet(
        f"{path}/corpus"
    )
    stats = listed.groupBy("list_id").agg(F.count("*").alias("n_rows"))
    stats.write.mode("overwrite").parquet(f"{path}/lists_v0")
    local_df(
        spark,
        [(mode, actual_lists, num_planes, dim)],
        "mode string, n_lists int, num_planes int, dim int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    stat_rows = spark.read.parquet(f"{path}/lists_v0").collect()
    _commit_manifest(
        path,
        {
            "epoch": 0,
            "min_epoch": 0,
            "stats_dir": "lists_v0",
            "total_rows": int(sum(r["n_rows"] for r in stat_rows)),
        },
    )
    return {"mode": mode, "n_lists": actual_lists, "dim": dim,
            "nonempty_lists": len(stat_rows)}


def _read_stats(
    spark: SparkSession, path: str, candidates: list[int] | None = None
) -> dict[int, int]:
    """Committed list stats as {list_id: n_rows}. `candidates` prunes
    the read to an isin-pushed candidate set (the LSH multi-probe
    schedule) so the driver never materializes all 2^H rows."""
    sd = _stats_dir(path, read_manifest(path))
    df = spark.read.parquet(sd)
    if candidates is not None:
        df = df.filter(F.col("list_id").isin([int(c) for c in candidates]))
    return {int(r["list_id"]): int(r["n_rows"]) for r in df.collect()}


def ann_index_query(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted index: pick the n_probe most promising
    inverted lists driver-side (centroid ranking for ivf, multi-probe
    Hamming schedule for lsh), then scan ONLY those partition
    directories (basePath read — the file listing never touches the
    other lists) and rank candidates by exact cosine. No training, no
    full-corpus job: query cost is the probed-lists row mass plus one
    tiny metadata read. Only epochs ≤ the manifest's committed epoch
    are visible (partition filter — uncommitted append dirs are pruned
    at planning, so a concurrent/crashed append can never leak)."""
    man = read_manifest(path)
    meta = spark.read.parquet(f"{path}/meta").head()
    mode, num_planes = meta["mode"], int(meta["num_planes"])
    if mode == "ivf":
        # O(n_lists) driver read — bounded by the write-side 4·sqrt(n)
        # rule (module docstring): every centroid is needed to rank.
        cents = spark.read.parquet(f"{path}/centroids").collect()
        ranked = sorted(
            cents,
            key=lambda r: (
                -S.py_cosine([float(x) for x in r["centroid"]], query_vec),
                r["list_id"],
            ),
        )
        probe_order = [int(r["list_id"]) for r in ranked]
        stats = _read_stats(spark, path)
    else:
        probe_order = S.lsh_probe_order(query_vec, num_planes)
        # lsh list counts may scale with the corpus: prune the stats
        # read to the bounded probe schedule (isin pushed to parquet)
        stats = _read_stats(spark, path, candidates=probe_order)

    # intersect with lists that actually exist (empty buckets have no
    # directory; a read of a missing path would fail, and including
    # them in the listing would defeat the pruning anyway). The lists
    # stats are already on the driver, so n_probe=None auto-widens FOR
    # FREE: take probe lists in ranked order until their cumulative row
    # count covers ~4k candidates (a tiny corpus spread over many lists
    # can't even return k rows from a fixed 4 probes — the same
    # widening ivf_knn does with a limit-peek job, here with zero jobs).
    # An explicit n_probe pins the scan fraction; the caller owns the
    # recall trade.
    ranked_present = [p for p in probe_order if p in stats]
    if n_probe is None:
        probes, cum = [], 0
        for p in ranked_present:
            if cum >= 4 * k and len(probes) >= 4:
                break
            probes.append(p)
            cum += stats[p]
    else:
        probes = ranked_present[:n_probe]
    if not probes:
        return spark.createDataFrame([], f"{id_col} long, sim double")
    corpus = f"{path}/corpus"
    cand = (
        spark.read.option("basePath", corpus)
        .parquet(*[f"{corpus}/list_id={p}" for p in probes])
    )
    if man is not None:
        # partition filter: planning-time pruning of any epoch dir
        # newer than the committed manifest (crash/concurrency safety)
        # or older than min_epoch (epochs superseded by a compaction —
        # a crash between the compaction commit and its GC step leaves
        # both copies on disk, and this bound is what keeps the stale
        # one invisible rather than double-counted)
        cand = cand.filter(
            (F.col("epoch") >= int(man.get("min_epoch", 0)))
            & (F.col("epoch") <= int(man["epoch"]))
        )
    return S.knn_bruteforce(cand, query_vec, k, id_col, vec_col)


def ann_index_search(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_retries: int = 5,
) -> list:
    """Snapshot-validated EAGER query (round-11): plan + collect under
    optimistic concurrency control, safe against a compaction racing
    the read.

    `ann_index_query` is lazy — it pins the committed manifest at plan
    time, but the caller collects later. A compaction that commits and
    GCs between those two moments deletes the planned snapshot's epoch
    dirs: execution then either raises FileNotFoundError or, worse,
    silently returns rows from a partial directory listing whose new
    epoch the stale `epoch <= e0` filter excludes. This wrapper closes
    the window the way table formats do (Iceberg/Delta snapshot reads):

      1. read the manifest (snapshot S, epoch e0);
      2. plan + collect;
      3. re-read the manifest; if its min_epoch > e0, a compaction
         superseded S mid-read — the rows on disk for S are no longer
         guaranteed complete, so DISCARD and retry against the new
         snapshot. Appends never move min_epoch, so pure-append churn
         validates on the first pass.

    A FileNotFound-class execution error is treated as the same race
    (retry). Bounded by max_retries; with compactions far rarer than
    reads (the production shape) the expected retry count is ~0."""
    for attempt in range(max_retries + 1):
        man0 = read_manifest(path)
        try:
            rows = ann_index_query(
                spark, path, query_vec, k=k, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col,
            ).collect()
        except Exception as e:  # noqa: BLE001 — Py4J wraps the real class
            msg = str(e)
            if attempt < max_retries and (
                "FileNotFound" in msg or "PATH_NOT_FOUND" in msg
                or "does not exist" in msg
            ):
                continue
            raise
        man1 = read_manifest(path)
        if (
            man0 is not None
            and man1 is not None
            and int(man1.get("min_epoch", 0)) > int(man0["epoch"])
            and attempt < max_retries
        ):
            continue  # snapshot compacted away mid-read
        return rows
    raise RuntimeError(
        f"ann_index_search: no stable snapshot after {max_retries} "
        f"retries at {path!r} — compactions are outrunning reads"
    )


def ann_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental index maintenance: assign a NEW batch of vectors to
    the EXISTING inverted lists (ivf: argmax-cosine against the
    persisted centroids — `assign_centroids`, as ivf_build uses,
    so an appended row lands exactly where a full rebuild with these
    centroids would put it; lsh: the map-only sign-bit column) and
    append-write into the partitioned corpus under a NEW epoch. No
    retraining, no rewrite of existing partitions: this is the
    streaming-ingest shape — a micro-batch sink can call it per epoch.

    Two-phase commit (crash-consistent, round-10):
      1. delete orphan `epoch={next}` dirs left by a crashed prior
         attempt (their rows were never committed — retry-safe);
      2. write the batch rows into corpus/list_id=*/epoch={next};
      3. write merged stats into a FRESH `lists_v{next}` directory
         (the committed `lists_v{cur}` is never touched);
      4. atomically swing `_MANIFEST` to {epoch: next, stats_dir:
         lists_v{next}}.
    A crash at any point before step 4 leaves readers exactly on the
    old snapshot: the epoch partition filter hides the new corpus
    rows, and the manifest still points at the old stats — corpus and
    stats can never be observed out of sync (kill-point test:
    tests/test_ann_crash_r10.py).

    Duplicate ids are allowed (the index stores rows, not keys);
    deduplicate upstream if ids must be unique. Zero-norm/NULL vectors
    are dropped (module docstring).

    Writer concurrency: the body runs under `_path_lock(path)`, which
    serializes IN-PROCESS writers (append/append, append/compact) —
    without it two writers derive the same next_epoch off the committed
    manifest and each one's step-1 orphan cleanup deletes the other's
    in-flight rows. Across PROCESSES the contract is single-writer
    (take an external lease — e.g. a storage conditional-put — before
    mutating); readers need no coordination in either case."""
    with _path_lock(path):
        return _append_locked(new_vectors, path, id_col, vec_col)


def _append_locked(
    new_vectors: DataFrame, path: str, id_col: str, vec_col: str
) -> dict:
    spark = new_vectors.sparkSession
    man = read_manifest(path)
    if man is None:
        raise ValueError(
            "ann_index_append: no _MANIFEST at "
            f"{path!r} — build with ann_index_write first (pre-manifest "
            "round-9 indexes must be rebuilt before appending)"
        )
    cur_epoch = int(man["epoch"])
    next_epoch = cur_epoch + 1
    meta = spark.read.parquet(f"{path}/meta").head()
    mode, num_planes, dim = (
        meta["mode"], int(meta["num_planes"]), int(meta["dim"])
    )
    base = S.drop_directionless(new_vectors, vec_col)
    if mode == "ivf":
        cents = [
            [float(x) for x in r["centroid"]]
            for r in spark.read.parquet(f"{path}/centroids")
            .orderBy("list_id")
            .collect()
        ]
        listed = S.assign_centroids(
            base.select(id_col, vec_col), vec_col, cents, "list_id"
        )
    elif mode == "lsh":
        listed = S.lsh_bucket(
            base, num_planes, vec_col, "list_id", dim=dim
        ).select(id_col, vec_col, "list_id")
    else:
        raise ValueError(f"ann_index_append: unknown mode {mode!r}")

    # step 1: clear orphans from a crashed attempt at this epoch
    # (driver-side listing of n_lists directory names — on HDFS this
    # is a globStatus + delete)
    corpus = f"{path}/corpus"
    if os.path.isdir(corpus):
        for d in os.listdir(corpus):
            orphan = os.path.join(corpus, d, f"epoch={next_epoch}")
            if d.startswith("list_id=") and os.path.isdir(orphan):
                shutil.rmtree(orphan)
    stats_next = f"{path}/lists_v{next_epoch}"
    if os.path.isdir(stats_next):
        shutil.rmtree(stats_next)

    # step 2: corpus rows under the UNCOMMITTED epoch
    listed.withColumn("epoch", F.lit(next_epoch)).repartition(
        F.col("list_id")
    ).write.mode("append").partitionBy("list_id", "epoch").parquet(corpus)

    # step 3: merged stats into a fresh versioned dir (driver-side
    # merge is O(n_lists + touched lists) — corpus-size-independent)
    batch = {
        int(r["list_id"]): int(r["n"])
        for r in listed.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    }
    merged = _read_stats(spark, path)
    for lid, n in batch.items():
        merged[lid] = merged.get(lid, 0) + n
    local_df(
        spark, sorted(merged.items()), "list_id int, n_rows bigint"
    ).write.mode("overwrite").parquet(stats_next)

    # step 4: the commit point (min_epoch carried forward — resetting
    # it after a compaction would resurrect stale pre-compaction
    # epochs that a crashed GC left on disk)
    _commit_manifest(
        path,
        {
            "epoch": next_epoch,
            "min_epoch": int(man.get("min_epoch", 0)),
            "stats_dir": f"lists_v{next_epoch}",
            "total_rows": int(sum(merged.values())),
        },
    )
    return {"appended_rows": sum(batch.values()), "touched_lists": len(batch)}


def ann_index_compact(spark: SparkSession, path: str) -> dict:
    """Compact a multi-epoch index back to one file set per list.

    Streaming ingest (a foreachBatch sink calling ann_index_append per
    micro-batch) leaves one epoch subdirectory per batch under every
    touched list — after 10k micro-batches the probed-directory
    listing itself becomes the query bottleneck (the classic streaming
    small-files problem). Compaction rewrites the COMMITTED rows into
    a single fresh epoch and raises the manifest's `min_epoch` so
    readers see exactly the same row set through one directory level:

      1. read the committed corpus (min_epoch ≤ epoch ≤ epoch — the
         normal reader view), rewrite it under epoch = cur+1
         (repartitioned by list: ~one file per list);
      2. rewrite stats into lists_v{cur+1} (row-identical content; the
         fresh dir keeps the versioned-stats invariant);
      3. atomically commit {epoch: cur+1, min_epoch: cur+1} — the ONE
         visibility flip: before it readers see the old epochs, after
         it only the compacted copy;
      4. best-effort delete the now-invisible epoch dirs (< min_epoch).
         A crash during step 4 leaves orphans that are already
         invisible (partition filter) and are re-collected by the next
         compaction's step 4.

    Crash at any point before step 3 leaves readers on the exact old
    snapshot (same argument as ann_index_append).

    Writer concurrency: the body runs under `_path_lock(path)` — an
    in-process append racing an unserialized compact would share a
    next_epoch and each side's orphan cleanup would delete the other's
    rows (round-11 ADVICE). Cross-process, the contract is
    single-writer (external lease); readers are unaffected — they see
    one committed manifest or the other. Post-commit GC (step 4) can
    still race a reader that planned its scan just before the flip; on
    object stores, defer GC by a reader-timeout grace period."""
    with _path_lock(path):
        return _compact_locked(spark, path)


def _compact_locked(spark: SparkSession, path: str) -> dict:
    man = read_manifest(path)
    if man is None:
        raise ValueError(
            f"ann_index_compact: no _MANIFEST at {path!r} — build with "
            "ann_index_write first"
        )
    cur, lo = int(man["epoch"]), int(man.get("min_epoch", 0))
    next_epoch = cur + 1
    corpus = f"{path}/corpus"
    committed = (
        spark.read.option("basePath", corpus).parquet(corpus)
        .filter((F.col("epoch") >= lo) & (F.col("epoch") <= cur))
        .drop("epoch")
    )
    # clear a crashed prior attempt at this epoch, then write the
    # compacted copy UNCOMMITTED (same choreography as append step 1-2)
    if os.path.isdir(corpus):
        for d in os.listdir(corpus):
            orphan = os.path.join(corpus, d, f"epoch={next_epoch}")
            if d.startswith("list_id=") and os.path.isdir(orphan):
                shutil.rmtree(orphan)
    stats_next = f"{path}/lists_v{next_epoch}"
    if os.path.isdir(stats_next):
        shutil.rmtree(stats_next)
    committed.withColumn("epoch", F.lit(next_epoch)).repartition(
        F.col("list_id")
    ).write.mode("append").partitionBy("list_id", "epoch").parquet(corpus)
    stats = dict(_read_stats(spark, path))
    local_df(
        spark, sorted(stats.items()), "list_id int, n_rows bigint"
    ).write.mode("overwrite").parquet(stats_next)
    _commit_manifest(
        path,
        {
            "epoch": next_epoch,
            "min_epoch": next_epoch,
            "stats_dir": f"lists_v{next_epoch}",
            "total_rows": int(man["total_rows"]),
        },
    )
    # step 4: GC the invisible epochs (driver-side dir walk, O(lists ×
    # old epochs) names — on HDFS a globStatus+delete)
    removed = 0
    for d in os.listdir(corpus):
        if not d.startswith("list_id="):
            continue
        for ed in os.listdir(os.path.join(corpus, d)):
            if ed.startswith("epoch=") and int(ed.split("=", 1)[1]) < next_epoch:
                shutil.rmtree(os.path.join(corpus, d, ed))
                removed += 1
    # ... and the superseded lists_v* stats dirs: every append creates a
    # fresh one, so a streaming ingest would otherwise accumulate one
    # dead dir per micro-batch forever (round-11 ADVICE). Crash-safe for
    # the same reason as the epoch GC: anything but the committed
    # stats_dir is already invisible to manifest readers.
    removed_stats = 0
    keep = f"lists_v{next_epoch}"
    for d in os.listdir(path):
        if d.startswith("lists_v") and d != keep:
            shutil.rmtree(os.path.join(path, d))
            removed_stats += 1
    return {"epoch": next_epoch, "gc_epoch_dirs": removed,
            "gc_stats_dirs": removed_stats,
            "total_rows": int(man["total_rows"])}


def pq_index_write(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist the PQ index: codes relation (id, sub, code — 8 bytes a
    vector at m=8), the m×n_codes codebook, and the float corpus for
    exact re-rank. Training (pq_build's Lloyd rounds) happens here,
    once; pq_index_query never trains."""
    codes, book = S.pq_build(
        embeddings, m=m, k=n_codes, iters=iters, id_col=id_col, vec_col=vec_col
    )
    spark = embeddings.sparkSession
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    local_df(
        spark,
        [(s, c, v) for (s, c), v in sorted(book.items())],
        "sub int, code int, cent array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebook")
    embeddings.filter(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    ).write.mode("overwrite").parquet(f"{path}/corpus")
    local_df(
        spark, [(m, n_codes)], "m int, n_codes int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return {"m": m, "n_codes": n_codes}


def pq_index_query(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a persisted PQ index + exact re-rank. The
    query→codebook distance table is computed driver-side (m×n_codes
    floats, corpus-independent) and broadcast; the codes scan reads 8
    bytes a vector; the exact re-rank fetches ONLY the shortlist rows
    from the corpus via an `isin` filter that parquet row-group stats
    can prune on — no full float scan in the query path."""
    mrow = spark.read.parquet(f"{path}/meta").head()
    m = int(mrow["m"])
    book_rows = spark.read.parquet(f"{path}/codebook").collect()
    sub_len = len(query_vec) // m
    rows = []
    for r in book_rows:
        s, c = int(r["sub"]), int(r["code"])
        qs = query_vec[s * sub_len : (s + 1) * sub_len]
        d2 = sum((a - b) * (a - b) for a, b in zip(qs, r["cent"]))
        rows.append((s, c, round(d2, 6)))
    dtab = local_df(spark, rows, "sub int, code int, d2 double")
    adc = (
        spark.read.parquet(f"{path}/codes")
        .join(F.broadcast(dtab), ["sub", "code"])
        .groupBy("id")
        .agg(F.round(F.sum("d2"), 4).alias("adc"))
    )
    # bounded collect: `shortlist` ids (≤ a few hundred by contract) —
    # the literal isin list is what lets the corpus read prune
    cand_ids = [
        r["id"] for r in adc.orderBy("adc", "id").limit(shortlist).collect()
    ]
    if not cand_ids:
        return spark.createDataFrame([], f"{id_col} long, d2 double")
    rerank = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col(id_col).isin(cand_ids))
        .select(id_col, F.round(sq_l2_to(F.col(vec_col), query_vec), 4).alias("d2"))
    )
    return rerank.orderBy("d2", id_col).limit(k)


def build_once(path: str, build_fn, fingerprint: str | None = None) -> None:
    """Thread-safe build-if-absent. The completion marker is a sentinel
    written BY THIS FUNCTION after build_fn() fully returns — never a
    side effect of the build itself. (Round-9 used meta/_SUCCESS, which
    composite builds like write+append create BEFORE the append runs;
    a concurrent thread's pre-lock check could then see a half-built
    index. The sentinel closes that window: it exists only after the
    whole build_fn completed.)

    `fingerprint` ties the build to its input corpus (e.g.
    catalog.fixture_stamp): a sentinel whose recorded fingerprint mismatches
    triggers a rebuild under the lock, so a regenerated fixture can
    never be served results from a stale persisted index. The sentinel
    is removed before rebuilding — a crash mid-rebuild leaves no
    valid-looking marker."""
    sentinel = os.path.join(path, ".build_done")
    want = fingerprint if fingerprint is not None else ""

    def _done() -> bool:
        try:
            with open(sentinel) as f:
                return f.read() == want
        except FileNotFoundError:
            return False

    if _done():
        return
    with _path_lock(path):
        if _done():
            return
        if os.path.exists(sentinel):
            os.remove(sentinel)  # stale fingerprint: invalidate first
        build_fn()
        os.makedirs(path, exist_ok=True)
        tmp = sentinel + ".tmp"
        with open(tmp, "w") as f:
            f.write(want)
        os.replace(tmp, sentinel)
