"""Regression tests for the shared fixture rules in catalog.py.

1. ns timestamps: every path that reads `events` (batch load_table, the
   events stream, the stream-stream outer join's staged stream) goes
   through catalog.normalize_ts, so a timestamp[ns] fixture yields the
   same microseconds on all of them. The values are chosen so that
   float division (ns / 1000 as a double) would be 1 µs off.
2. part files: an events table written as a directory of part files
   (as scripts/gen_scale_fixtures.py writes it) gives the same
   stream-stream outer join as the single file.
3. fixture rewrites: every fixture-derived cache (tables, temp views,
   cached query vectors) keys on catalog.fixture_stamp, and no entry
   leaves a persisted plan behind, so rewriting a fixture in place is
   never answered from the old data.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.oracle_harness import compare_query

SF_SMALL = "/root/testdata/sf0.001"


def _float_div_off_ns(n: int) -> list[int]:
    """The first `n` Jan-2024 ns epochs whose float µs conversion is off:
    ns // 1000 != int(float(ns) / 1000)."""
    out, ns = [], 1_704_067_200_000_000_000 + 123_456_789
    while len(out) < n:
        if ns // 1000 != int(float(ns) / 1000):
            out.append(ns)
        ns += 7_919_003
    return out


def _micros(rows, col: str) -> dict[int, int]:
    # microsecond-of-second is timezone independent (offsets are whole
    # minutes), so it can be checked against ns // 1000 directly
    return {r["event_id"]: r[col].microsecond for r in rows}


def test_ns_events_normalize_identically_on_every_path(spark, tmp_path):
    from parking_violations_data_pipeline_spark.catalog import load_table
    from parking_violations_data_pipeline_spark.streaming import jobs

    ns = _float_div_off_ns(3)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "user_id": pa.array([10, 11, 12], pa.int64()),
                "event_type": pa.array(["click"] * 3, pa.string()),
                "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
                "props": pa.array(['{"k": 1}'] * 3, pa.string()),
            }
        ),
        tmp_path / "events.parquet",
    )
    sf = str(tmp_path)
    want = {i + 1: (v // 1000) % 1_000_000 for i, v in enumerate(ns)}

    batch = load_table(spark, sf, "events").select("event_id", "ts").collect()
    stream = jobs.run_available_now(
        jobs.events_stream(spark, sf).select("event_id", "ts"), "append"
    ).collect()
    outer = jobs.stream_stream_outer_unmatched(spark, sf).collect()

    assert _micros(batch, "ts") == want
    assert _micros(stream, "ts") == want
    assert {r["c_id"]: r["c_ts"].microsecond for r in outer} == want
    by_id = {r["event_id"]: r["ts"] for r in batch}
    assert {r["event_id"]: r["ts"] for r in stream} == by_id
    assert {r["c_id"]: r["c_ts"] for r in outer} == by_id


def test_outer_join_reads_events_split_into_part_files(spark, tmp_path):
    # the flush choreography staged one file and read its schema and
    # max ts with pq.read_*, which fail on a directory of part files
    sf = tmp_path / "sf"
    shutil.copytree(SF_SMALL, sf)
    events = pq.read_table(sf / "events.parquet")
    (sf / "events.parquet").unlink()
    (sf / "events.parquet").mkdir()
    half = events.num_rows // 2
    pq.write_table(events.slice(0, half), sf / "events.parquet" / "part-00000.parquet")
    pq.write_table(events.slice(half), sf / "events.parquet" / "part-00001.parquet")
    compare_query(spark, "s_stream_stream_outer", str(sf))


def _rewrite_fixtures(sf: str) -> None:
    emb = pq.read_table(f"{sf}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()
    ids = emb.column("vec_id").to_pylist()
    # a new vec_id = 0 query vector: the old one negated, so the cosine
    # ranking of the whole corpus reverses
    vecs = [[-x for x in v] if i == 0 and v is not None else v for i, v in zip(ids, vecs)]
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"),
        emb.schema.field("embedding"),
        pa.array(vecs, emb.schema.field("embedding").type),
    )
    pq.write_table(emb, f"{sf}/embeddings.parquet")

    docs = pq.read_table(f"{sf}/documents.parquet")
    # new lexical hits and a shifted word-count top-20
    text = pc.if_else(
        pc.less(pc.bit_wise_and(docs.column("doc_id"), 3), 1),
        pc.binary_join_element_wise(docs.column("text"), "join join spark zebra", " "),
        docs.column("text"),
    )
    docs = docs.set_column(docs.schema.get_field_index("text"), docs.schema.field("text"), text)
    pq.write_table(docs, f"{sf}/documents.parquet")


def test_rewritten_fixture_is_never_served_stale(spark, tmp_path):
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    names = ("q_knn_cosine", "j_hybrid_search", "q_word_count")
    for name in names:
        compare_query(spark, name, sf)
    before = {p: (tmp_path / "sf" / p).stat().st_mtime_ns for p in ("embeddings.parquet", "documents.parquet")}
    _rewrite_fixtures(sf)
    after = {p: (tmp_path / "sf" / p).stat().st_mtime_ns for p in before}
    assert all(after[p] != before[p] for p in before), "rewrite did not change mtime"
    for name in names:
        compare_query(spark, name, sf)



def test_rewritten_orders_rebuild_the_bucketed_tables(spark, tmp_path):
    # c_bucketed_join persists bucketed copies of orders and lineitem per
    # fixture dir; after orders.parquet is rewritten in place the join
    # must read the new statuses, not the bucketed copy of the old file
    from parking_violations_data_pipeline_spark.catalog import fixture_tag

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    try:
        compare_query(spark, "c_bucketed_join", sf)
        path = tmp_path / "sf" / "orders.parquet"
        before = path.stat().st_mtime_ns
        orders = pq.read_table(path)
        status = pc.if_else(
            pc.equal(pc.bit_wise_and(orders.column("o_orderkey"), 3), 0),
            pa.scalar("P", orders.schema.field("o_orderstatus").type),
            orders.column("o_orderstatus"),
        )
        idx = orders.schema.get_field_index("o_orderstatus")
        pq.write_table(orders.set_column(idx, orders.schema.field(idx), status), path)
        assert path.stat().st_mtime_ns != before, "rewrite did not change mtime"
        compare_query(spark, "c_bucketed_join", sf)
    finally:
        tag = fixture_tag(sf)
        for table in (f"orders_b_{tag}", f"lineitem_b_{tag}"):
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_rewritten_documents_reach_the_shingle_entries(spark, tmp_path):
    # both entries once persisted their shingle relation and never
    # released it; Spark's cache lookup matched the next call's identical
    # plan to those blocks, so a rewritten documents.parquet went unseen
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    names = ("j_minhash_lsh_neardup", "j_shingle_containment")
    for name in names:
        compare_query(spark, name, sf)
    path = tmp_path / "sf" / "documents.parquet"
    before = path.stat().st_mtime_ns
    docs = pq.read_table(path)
    ids = docs.column("doc_id").to_pylist()
    text = docs.column("text").to_pylist()
    # doc 1 becomes an exact copy of doc 0: a new near-dup pair
    text = [text[ids.index(0)] if i == 1 else t for i, t in zip(ids, text)]
    idx = docs.schema.get_field_index("text")
    pq.write_table(
        docs.set_column(idx, docs.schema.field(idx), pa.array(text, docs.schema.field(idx).type)),
        path,
    )
    assert path.stat().st_mtime_ns != before, "rewrite did not change mtime"
    for name in names:
        compare_query(spark, name, sf)
