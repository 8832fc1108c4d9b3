"""SparkSession factory tuned for this environment (SURVEY.md §7 M0).

Local mode for tests/bench; the conf layout is written for a real
multi-executor cluster (AQE on, skew-join on, adaptive partition
coalescing) — at 100 TB only `shuffle.partitions` and memory sizing
change, both overridable via env/kwargs.

The one static conf that matters for latency is the whole-stage-codegen
class cache (`CODEGEN_CACHE_MAX_ENTRIES`, see `get_spark`): at Spark's
default of 100 every warm pass recompiles the engine's generated classes.
Static confs are fixed when the JVM's first session is built, so only a
session built by `get_spark` gets it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: the JVM-wide LRU of compiled
# whole-stage-codegen classes, keyed by generated source. Spark's default
# of 100 is just under each workload's working set (distinct classes per
# pass, local[4]): perfbench analytics 117, pipeline 114, bench.py's nine
# headliners 124 at sf0.001. Between two uses of a class come most of a
# pass's other classes, so an LRU of 100 has often evicted it: a warm pass
# recompiled 26-62 classes on analytics, 38-77 on pipeline and 88 on the
# headliners, at ~18-25 ms each. At 1000 a warm pass compiles 0.
# Running each of the 501 registry entries three times (sf0.001) made
# 5,949 classes, 5,655 of them on first calls (~11 per entry), while
# Metaspace grew 71 -> 289 MB, Spark's own lazily loaded classes
# included, so one class costs <= ~37 KB and the cache stays under
# ~40 MB. A hit returns the class compiled from byte-identical
# source, so results cannot change.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "parking_violations_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's required confs.

    Required everywhere:
      - legacy.parquet.nanosAsLong: the shipped fixtures store
        events.ts as timestamp[us], but older fixtures stored it as
        timestamp[ns], which Spark 4 refuses by default
        (PARQUET_TYPE_ILLEGAL — measured, FIXTURES.md); with this conf
        it reads as bigint ns, which catalog.normalize_ts converts.
      - session.timeZone=UTC: keeps timestamp semantics identical to the
        DuckDB oracle (naive-UTC parquet values).

    Set here only, because it is static:
      - codegen.cache.maxEntries=CODEGEN_CACHE_MAX_ENTRIES, so a warm
        pass reuses its compiled classes instead of recompiling them
        (measurements at the constant). `extra_conf` can override it,
        but only if this call builds the JVM's first session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local bench scale: a handful of partitions beats 200 (BASELINE.md);
        # on a real cluster pass ~2-3x total cores instead. For stages
        # shuffling >> executor memory, ALSO set
        # adaptive.coalescePartitions.parallelismFirst=false +
        # advisoryPartitionSizeInBytes=64m: the parallelismFirst default
        # re-coalesces post-shuffle partitions to defaultParallelism, so
        # raising shuffle.partitions alone cannot shrink per-task sorts
        # (measured: SMJ at 600M rows, reduce-stage spill 21.5 GB at any
        # partition count until parallelismFirst=false; SCALE_EXPONENTS_r8).
        shuffle_partitions = max(8, min(int(cpus) * 2, 64)) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs the engine relies on, on a session
    we did not create (the driver builds its own SparkSession).

    Static confs cannot be set at runtime, so a session built elsewhere
    (the driver's own, or `scripts/driver_gate.py`'s vanilla session)
    keeps Spark's codegen class cache of 100 entries and recompiles on
    warm runs; results are the same, only slower."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
