"""Timestamp helpers that are safe for BOTH timestamp types.

The driver fixtures' ``events.ts`` is parquet ``timestamp[us]`` with
``isAdjustedToUTC=false``; a vanilla Spark 4 session (the driver builds
its own, ``spark.sql.parquet.inferTimestampNTZ.enabled=true`` by
default) therefore reads it as TIMESTAMP_NTZ, while an engine-built
session may read TIMESTAMP. ``F.unix_micros`` accepts only TIMESTAMP —
round-2 driver gate broke on exactly this (CORRECTNESS_r02:
q_sessionize / e_time_range_frames, DATATYPE_MISMATCH on NTZ input).

``epoch_us`` is the one sanctioned way to get epoch microseconds from
an event-time column: cast to TIMESTAMP first (no-op when already LTZ;
session-tz interpretation when NTZ). The engine pins
``spark.sql.session.timeZone=UTC`` on every session it touches
(session.ensure_engine_confs, invoked by catalog.load_table), so the
NTZ→LTZ cast is the exact naive-UTC reading DuckDB's ``epoch_us``
uses — values agree to the microsecond on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    """Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.unix_micros(c.cast("timestamp"))


def hourly_cents(events: DataFrame, alias: str = "cents") -> DataFrame:
    """(event_type, h, <alias>): the events' value summed in integer cents
    per event type and epoch hour h = epoch_us(ts) div 3600000000. Each
    row is rounded to cents before the sum, as the oracles'
    ``round(value * 100, 0)`` is; NULL ts rows form their own NULL hour."""
    return (
        events.select(
            "event_type",
            epoch_us("ts").alias("us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .select("event_type", F.expr("us div 3600000000").alias("h"), "cents")
        .groupBy("event_type", "h")
        .agg(F.sum("cents").alias(alias))
    )
