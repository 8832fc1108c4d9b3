"""Independent-derivation sweep, round 7: the ETL composites and the
lakehouse trio, re-derived from RAW parquet with pyarrow + pure-python
dicts — no engine code, no oracle SQL, no pandas joins (VERDICT r6
item 2: the `etl_*` family was excluded from the r5/r6 re-derivation
sweeps, and a Luhn-class self-consistent bug could hide there).

Each test recomputes the expected result from first principles
(modular-residue commits, conservation laws, SCD2 version algebra,
weighted-delta maintenance) and compares against the ENGINE's
collected output at sf0.001.
"""

from __future__ import annotations

import json
from decimal import Decimal, ROUND_HALF_UP

import pyarrow.parquet as pq
import pytest

from parking_violations_data_pipeline_spark.catalog import SCRATCH_ROOT
from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

SF = "/root/testdata/sf0.001"


def run(spark, name: str):
    all_queries()
    return REGISTRY[name].fn(spark, SF).toPandas()


def cents(x: float) -> int:
    """HALF_UP integer cents — mirrors Spark round(x*100, 0)."""
    return int(Decimal(repr(x * 100)).to_integral_value(ROUND_HALF_UP))


def cols(table: str, names: list[str]) -> list[tuple]:
    t = pq.read_table(f"{SF}/{table}.parquet", columns=names)
    return list(zip(*(t.column(n).to_pylist() for n in names)))


class TestTimeTravelVersions:
    def test_v1_v2_from_residues(self, spark):
        got = run(spark, "a_time_travel_versions").set_index("version")
        rows = cols("orders", ["o_orderkey", "o_totalprice"])
        v1 = [(k, p) for k, p in rows if k % 3 == 0]
        v2 = [(k, p) for k, p in rows if k % 3 <= 1]
        assert int(got.loc["v1", "n_rows"]) == len(v1)
        assert int(got.loc["v2", "n_rows"]) == len(v2)
        assert int(got.loc["v1", "cents"]) == sum(cents(p) for _, p in v1)
        assert int(got.loc["v2", "cents"]) == sum(cents(p) for _, p in v2)
        # snapshot isolation: v1 must NOT see v2's added residue class
        assert len(v1) < len(v2)


class TestDeletionVectors:
    def test_census_from_residues(self, spark):
        got = run(spark, "etl_deletion_vectors").iloc[0]
        rows = cols("orders", ["o_orderkey", "o_totalprice"])
        deleted = [(k, p) for k, p in rows if k % 13 == 0]
        live = [(k, p) for k, p in rows if k % 13 != 0]
        assert int(got["base_rows"]) == len(rows)
        assert int(got["deleted_rows"]) == len(deleted)
        assert int(got["live_rows"]) == len(live)
        assert int(got["live_cents"]) == sum(cents(p) for _, p in live)
        assert bool(got["base_untouched"]) is True
        # conservation: live + deleted = base
        assert int(got["live_rows"]) + int(got["deleted_rows"]) == int(
            got["base_rows"]
        )


class TestOrphanGC:
    def test_live_census(self, spark):
        got = run(spark, "etl_orphan_gc").iloc[0]
        rows = cols("orders", ["o_orderkey", "o_totalprice"])
        live = [(k, p) for k, p in rows if k % 4 == 0]
        assert int(got["live_rows"]) == len(live)
        assert int(got["live_cents"]) == sum(cents(p) for _, p in live)
        assert bool(got["orphans_found"]) is True
        assert bool(got["read_unaffected"]) is True


class TestMedallionConservation:
    def test_layer_counts_and_laws(self, spark):
        got = run(spark, "etl_medallion").iloc[0]
        rows = cols("events", ["event_id", "user_id", "value", "props",
                               "event_type"])

        def props_ok(p):
            if p is None:
                return False
            try:
                json.loads(p)
                return True
            except (ValueError, TypeError):
                return False

        silver = [
            r for r in rows
            if props_ok(r[3]) and r[2] is not None and r[2] >= 0
            and r[1] is not None
        ]
        bronze_n = len(rows)
        quarantined = bronze_n - len(silver)
        gold_groups = len({r[4] for r in silver})
        assert int(got["bronze_rows"]) == bronze_n
        assert int(got["quarantined"]) == quarantined
        assert int(got["silver_rows"]) == len(silver)
        assert int(got["gold_groups"]) == gold_groups
        assert int(got["gold_total_rows"]) == len(silver)
        assert bool(got["bronze_conserved"]) is True
        assert bool(got["gold_conserved"]) is True


class TestIVMRetract:
    def test_maintained_equals_recompute(self, spark):
        got = run(spark, "etl_ivm_retract").set_index("pri")
        rows = cols("orders", ["o_orderkey", "o_totalprice",
                               "o_orderpriority"])
        base = [r for r in rows if r[0] % 10 != 7]
        delta_ins = [r for r in rows if r[0] % 10 == 7]
        # final table = base minus %10==3 plus the inserts
        final = [r for r in base if r[0] % 10 != 3] + delta_ins
        expect: dict[str, tuple[int, int]] = {}
        for k, p, pri in final:
            n, c = expect.get(pri, (0, 0))
            expect[pri] = (n + 1, c + cents(p))
        expect = {pri: v for pri, v in expect.items() if v[0] > 0}
        assert set(got.index) == set(expect)
        for pri, (n, c) in expect.items():
            assert int(got.loc[pri, "n_orders"]) == n
            assert int(got.loc[pri, "cents"]) == c
            assert bool(got.loc[pri, "ivm_matches_recompute"]) is True


class TestSCD2Merge:
    def test_version_algebra(self, spark):
        got = run(spark, "etl_scd2_merge")
        rows = cols("customer", ["c_custkey", "c_name", "c_acctbal"])

        def r2(x):
            # round(x, 2) HALF_UP on the shortest double repr
            return float(
                Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)
            )

        dim = {k: (nm, r2(b)) for k, nm, b in rows}
        upd: dict[int, tuple[str, float]] = {}
        for k, nm, b in rows:
            if k % 7 == 0:
                upd[k] = (nm, r2(r2(b) + 100))
        for k, nm, b in rows:
            if k % 11 == 0:
                upd[k + 1_000_000] = (nm + " (new)", r2(b))

        expect = []  # (key, name, bal, from, to, is_current)
        for k, (nm, b) in dim.items():
            if k not in upd or upd[k][1] == b:
                expect.append((k, nm, b, "2024-01-01", None, True))
            else:
                expect.append((k, nm, b, "2024-01-01", "2024-06-01", False))
                expect.append((k, nm, upd[k][1], "2024-06-01", None, True))
        for k, (nm, b) in upd.items():
            if k not in dim:
                expect.append((k, nm, b, "2024-06-01", None, True))
        expect.sort(key=lambda r: (r[0], r[3]))

        assert len(got) == len(expect)
        for row, (k, nm, b, vf, vt, cur) in zip(got.itertuples(), expect):
            assert int(row.c_custkey) == k
            assert row.c_name == nm
            assert abs(float(row.c_acctbal) - b) < 1e-9
            assert str(row.valid_from)[:10] == vf
            if vt is None:
                assert row.valid_to is None or str(row.valid_to) in (
                    "NaT", "None"
                )
            else:
                assert str(row.valid_to)[:10] == vt
            assert bool(row.is_current) is cur

    def test_member_conservation(self, spark):
        """Every original member survives (as current or closed), and
        current-version count = |dim ∪ inserts|."""
        got = run(spark, "etl_scd2_merge")
        rows = cols("customer", ["c_custkey"])
        keys = {k for (k,) in rows}
        inserts = {k + 1_000_000 for k in keys if k % 11 == 0}
        current = got[got.is_current]
        assert set(current.c_custkey.astype(int)) == keys | inserts
        assert set(got.c_custkey.astype(int)) == keys | inserts


class TestSnapshotDiff:
    def test_diff_census(self, spark):
        got = run(spark, "etl_snapshot_diff").iloc[0]
        rows = cols("customer", ["c_custkey", "c_acctbal"])

        def r2(x):
            return float(
                Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)
            )

        old = {k: r2(b) for k, b in rows}
        new: dict[int, float] = {}
        for k, b in rows:
            if k % 13 != 0:
                new[k] = r2(b + (50 if k % 9 == 0 else 0))
        for k, b in rows:
            if k % 17 == 0:
                new[k + 2_000_000] = r2(b)
        inserted = len(set(new) - set(old))
        deleted = len(set(old) - set(new))
        both = set(old) & set(new)
        changed = sum(1 for k in both if old[k] != new[k])
        assert int(got["n_inserted"]) == inserted
        assert int(got["n_deleted"]) == deleted
        assert int(got["n_changed"]) == changed
        assert int(got["n_unchanged"]) == len(both) - changed


class TestIncrementalAppend:
    def test_upsert_existing_wins(self, spark):
        got = run(spark, "etl_incremental_append").iloc[0]
        rows = cols("events", ["event_id", "ts", "value"])
        clean = [
            (e, t, v) for e, t, v in rows
            if e is not None and v is not None and v > 0
        ]
        import datetime as dt

        cut_hi = dt.datetime(2024, 1, 20)
        cut_lo = dt.datetime(2024, 1, 10)

        def naive(t):
            return t.replace(tzinfo=None) if t.tzinfo else t

        merged: dict[int, float] = {}
        for e, t, v in clean:          # existing first: existing wins
            if t is not None and naive(t) < cut_hi:
                merged[e] = v
        for e, t, v in clean:
            if t is not None and naive(t) >= cut_lo and e not in merged:
                merged[e] = v * 2      # batch doubles the fine
        assert int(got["n"]) == len(merged)
        assert int(got["n_keys"]) == len(merged)
        assert abs(float(got["total_fine"]) - round(sum(merged.values()), 2)) < 0.02


class TestDQChecks:
    def test_rule_census(self, spark):
        got = run(spark, "etl_dq_checks").set_index("rule")
        okeys = [k for (k,) in cols("orders", ["o_orderkey"])]
        okeyset = set(okeys)
        custkeys = {k for (k,) in cols("customer", ["c_custkey"])}
        li = cols("lineitem", ["l_orderkey", "l_quantity"])
        orders = cols("orders", ["o_orderkey", "o_custkey", "o_totalprice"])
        fk_li = sum(1 for k, _q in li if k not in okeyset)
        fk_ord = sum(1 for _k, c, _p in orders if c not in custkeys)
        from collections import Counter

        dup_pk = sum(1 for _k, n in Counter(okeys).items() if n > 1)
        qty_bad = sum(
            1 for _k, q in li if q is None or q < 1 or q > 50
        )
        price_bad = sum(
            1 for _k, _c, p in orders if p is None or p <= 0
        )
        assert int(got.loc["lineitem_fk_orders", "n_violations"]) == fk_li
        assert int(got.loc["orders_fk_customer", "n_violations"]) == fk_ord
        assert int(got.loc["orders_pk_unique", "n_violations"]) == dup_pk
        assert int(got.loc["lineitem_qty_range", "n_violations"]) == qty_bad
        assert int(got.loc["orders_price_positive", "n_violations"]) == price_bad


class TestCsvRoundtripPhysical:
    """Third-party check of the A5→A2 physical path: after the entry
    runs, parse its written CSV shards with the stdlib csv module and
    re-derive the aggregate — catching a writer/parser defect that a
    Spark-reads-what-Spark-wrote roundtrip cannot see."""

    def test_csv_bytes_reparse(self, spark):
        import csv
        import glob
        import os

        got = run(spark, "etl_csv_roundtrip").set_index("o_orderstatus")
        scratch = os.path.join(SCRATCH_ROOT, f"csv_roundtrip-{os.getpid()}")
        files = sorted(
            {
                f
                for pat in ("*.csv", "part-*")
                for f in glob.glob(os.path.join(scratch, pat))
                if not f.endswith(".crc")
            }
        )
        assert files, f"no CSV shards under {scratch}"
        agg: dict[str, tuple[int, float]] = {}
        total_rows = 0
        for f in files:
            with open(f, newline="") as fh:
                rdr = csv.reader(fh)
                header = next(rdr)
                i_status = header.index("o_orderstatus")
                i_price = header.index("o_totalprice")
                for rec in rdr:
                    total_rows += 1
                    st = rec[i_status]
                    n, s = agg.get(st, (0, 0.0))
                    agg[st] = (n + 1, s + float(rec[i_price]))
        assert set(got.index) == set(agg)
        for st, (n, s) in agg.items():
            assert int(got.loc[st, "cnt"]) == n
            assert abs(float(got.loc[st, "total"]) - round(s, 2)) < 0.02
        # and the bytes really are a FILTERED publish, not the full table
        all_orders = len(cols("orders", ["o_orderkey"]))
        kept = sum(
            1 for _k, d in cols("orders", ["o_orderkey", "o_orderdate"])
            if d is not None
            and (d.replace(tzinfo=None) if d.tzinfo else d).year >= 2000
        )
        assert total_rows == kept <= all_orders


class TestJsonlRoundtripPhysical:
    def test_jsonl_bytes_reparse(self, spark):
        import glob
        import os

        got = run(spark, "etl_jsonl_roundtrip")
        scratch = os.path.join(SCRATCH_ROOT, f"jsonl_roundtrip-{os.getpid()}")
        files = [
            f
            for f in glob.glob(os.path.join(scratch, "part-*"))
            if not f.endswith(".crc")
        ]
        assert files, f"no JSONL shards under {scratch}"
        n = 0
        for f in files:
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        json.loads(line)  # every line is valid JSON
                        n += 1
        assert n > 0
        # entry output row count is the grouped aggregate, but the
        # shard-line count must equal the published row population
        assert n >= len(got)
