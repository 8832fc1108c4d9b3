"""Round-12 cache-bound tests (VERDICT r11 issue 6 / next-round item 8).

The module-level plan/view/query-vector caches (_TABLE_CACHE,
_SQL_VIEWS, _QV_CACHE) grew one entry per
(appId, sf_dir, mtime) key for the process lifetime. They are now
LRUDicts; these tests pin the eviction semantics and that every cache
actually IS one (a regression back to a plain dict re-opens the leak).
"""

from __future__ import annotations

from parking_violations_data_pipeline_spark.catalog import LRUDict


def test_lru_evicts_oldest_past_cap():
    d = LRUDict(cap=3)
    for i in range(5):
        d[i] = i * 10
    assert len(d) == 3
    assert set(d) == {2, 3, 4}


def test_lru_get_refreshes_recency():
    d = LRUDict(cap=3)
    d[1], d[2], d[3] = "a", "b", "c"
    assert d[1] == "a"  # touch 1 → now most recent
    d[4] = "d"          # evicts 2, the least recently used
    assert set(d) == {1, 3, 4}
    assert d.get(2) is None


def test_lru_overwrite_does_not_grow():
    d = LRUDict(cap=2)
    d["k"] = 1
    d["k"] = 2
    d["j"] = 3
    assert len(d) == 2 and d["k"] == 2


def test_all_module_caches_are_bounded():
    from parking_violations_data_pipeline_spark import catalog
    from parking_violations_data_pipeline_spark.queries import baseline

    for cache in (
        catalog._TABLE_CACHE,
        catalog._QV_CACHE,
        baseline._SQL_VIEWS,
    ):
        assert isinstance(cache, LRUDict), (
            "module-level cache regressed to an unbounded dict "
            "(round-11 VERDICT issue 6)"
        )
        assert cache._cap <= 256


def test_soak_many_sf_dirs_stays_bounded(tmp_path):
    # simulate a long-lived server cycling fixture dirs: the view cache
    # must stay at its cap, not grow linearly with distinct sf_dirs
    from parking_violations_data_pipeline_spark.queries import baseline

    before = len(baseline._SQL_VIEWS)
    for i in range(300):
        baseline._SQL_VIEWS[("app", f"/sf/{i}", "documents", 0.0)] = f"v{i}"
    assert len(baseline._SQL_VIEWS) <= baseline._SQL_VIEWS._cap
    # restore: drop the synthetic keys so other tests see a clean cache
    for k in [k for k in baseline._SQL_VIEWS if k[0] == "app"]:
        del baseline._SQL_VIEWS[k]
    assert len(baseline._SQL_VIEWS) <= before + baseline._SQL_VIEWS._cap
