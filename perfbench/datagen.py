"""Seeded synthetic fixtures with the schemas the query registry reads.

Writes the ten tables (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) as parquet under one directory,
with the column types and value domains documented in FIXTURES.md: the
same key ranges, categorical vocabularies, date windows and rounding as
the shipped sf* fixtures, so every registry entry and its DuckDB oracle
run unchanged. The same (sizes, seed) always writes the same bytes.

A table whose size entry asks for more than one file is written as a
`<table>.parquet/` directory of part files, which is how a multi-file
source gets more than one scan task.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window",
)
DIM = 64
TEXT_ROWS = 500  # rows of documents and of embeddings, at every scale
# The shipped sf* fixtures store events.ts, o_orderdate and l_shipdate as
# parquet timestamp[us] (not FIXTURES.md's older ns/ms table), so these do too.
US = pa.timestamp("us")
DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


@dataclass(frozen=True)
class Sizes:
    """Row counts per table; `files` maps a table to its part-file count."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    users: int
    files: tuple[tuple[str, int], ...] = ()

    @classmethod
    def at_scale(cls, sf: float, files: tuple[tuple[str, int], ...] = ()) -> "Sizes":
        """TPC-H-style row counts at scale factor `sf` (lineitem 6M*sf)."""
        return cls(
            customer=int(150_000 * sf), supplier=int(10_000 * sf),
            part=int(200_000 * sf), orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf), events=int(1_000_000 * sf),
            users=max(int(15_000 * sf), 10), files=files,
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """Midnight timestamps, uniform over [lo, hi] (epoch microseconds)."""
    d = rng.integers(0, (hi - lo) // DAY_US + 1, n)
    return pa.array(lo + d * DAY_US, type=pa.int64()).cast(US)


def _tables(sizes: Sizes, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = sizes
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s.customer, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(s.customer)]),
        "c_nationkey": pa.array(rng.integers(0, 25, s.customer).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customer)),
        "c_mktsegment": _pick(rng, SEGMENTS, s.customer),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s.supplier, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s.supplier)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s.supplier).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.supplier)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(s.part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, tuple(names), s.part),
        "p_brand": _pick(rng, tuple(f"Brand#{i}" for i in range(1, 26)), s.part),
        "p_type": _pick(rng, PART_TYPES, s.part),
        "p_size": pa.array(rng.integers(1, 51, s.part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, s.customer, s.orders, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), s.orders),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, s.orders)),
        "o_orderdate": _days(rng, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1), s.orders),
        "o_orderpriority": _pick(rng, PRIORITIES, s.orders),
    })
    n = s.lineitem
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, s.part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s.supplier, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4), n),
    })
    n = s.events
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.int64()).cast(US),
        "user_id": pa.array(rng.integers(0, s.users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    out["documents"] = _documents(rng, TEXT_ROWS)
    n = TEXT_ROWS
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary texts. As in the shipped fixtures, about 5% are
    near-duplicates: an earlier original with its first or last word
    dropped, so word-trigram Jaccard is (w-3)/(w-2) for a w-word original.
    Originals of at least 20 words are used, each once, which keeps every
    pair at Jaccard >= 0.94, inside the LSH entries' recall contract."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    originals: list[int] = []  # not yet duplicated
    for i in range(n):
        if originals and rng.random() < 0.05:
            words = texts[originals.pop(int(rng.integers(0, len(originals))))].split(" ")
            texts.append(" ".join(words[1:] if rng.random() < 0.5 else words[:-1]))
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
        if k >= 20:
            originals.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write(out_dir: str, sizes: Sizes, seed: int) -> dict[str, dict[str, int]]:
    """Write every table under `out_dir`; return {table: {files, bytes, rows}}."""
    files = dict(sizes.files)
    stamp: dict[str, dict[str, int]] = {}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sizes, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        k = files.get(name, 1)
        if k == 1:
            pq.write_table(table, path)
            paths = [path]
        else:
            os.makedirs(path)
            step = -(-table.num_rows // k)
            paths = []
            for i in range(k):
                p = os.path.join(path, f"part-{i:05d}.parquet")
                pq.write_table(table.slice(i * step, step), p)
                paths.append(p)
        stamp[name] = {
            "files": len(paths),
            "bytes": sum(os.path.getsize(p) for p in paths),
            "rows": table.num_rows,
        }
    return stamp
