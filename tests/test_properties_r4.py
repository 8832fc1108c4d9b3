"""Property-based checks for round-4 operator kernels — the pure-logic
cores tested against reference implementations on generated inputs
(no Spark session needed for most; the Spark-level parity is covered
by the oracle gate).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


# --- degree-oriented triangle counting: reference = brute force -------


def _count_triangles_oriented(edges: set[tuple[int, int]]) -> int:
    """The algorithm q_triangle_count implements, in pure Python."""
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    order = {n: i for i, n in enumerate(sorted(deg, key=lambda n: (deg[n], n)))}
    oriented = set()
    for u, v in edges:
        ou, ov = order[u], order[v]
        oriented.add((min(ou, ov), max(ou, ov)))
    out: dict[int, set[int]] = {}
    for lo, hi in oriented:
        out.setdefault(lo, set()).add(hi)
    tri = 0
    for lo, his in out.items():
        his = sorted(his)
        for i, v in enumerate(his):
            for w in his[i + 1 :]:
                if (v, w) in oriented:
                    tri += 1
    return tri


def _count_triangles_brute(edges: set[tuple[int, int]]) -> int:
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    tri = 0
    for i, a in enumerate(nodes):
        for b in sorted(adj[a]):
            if b <= a:
                continue
            for c in sorted(adj[a] & adj[b]):
                if c > b:
                    tri += 1
    return tri


@given(st.sets(st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=120))
@settings(max_examples=60, deadline=None)
def test_triangle_orientation_equals_brute(pairs):
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert _count_triangles_oriented(edges) == _count_triangles_brute(edges)


# --- binned range join: reference = direct theta scan ------------------


@given(
    st.lists(st.integers(0, 1000), max_size=40),
    st.lists(st.tuples(st.integers(0, 1000), st.integers(1, 300)), max_size=30),
    st.sampled_from([7, 50, 128]),
)
@settings(max_examples=60, deadline=None)
def test_binned_pairs_equal_theta(points, spans, bin_width):
    intervals = [(s, s + ln) for s, ln in spans]
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (s, e) in enumerate(intervals)
        if s <= p < e
    }
    got = set()
    for i, p in enumerate(points):
        pb = p // bin_width
        for j, (s, e) in enumerate(intervals):
            for b in range(s // bin_width, (e - 1) // bin_width + 1):
                if b == pb and s <= p < e:
                    got.add((i, j))
    assert got == want


# --- LPT: conservation + 4/3 bound ------------------------------------


@given(st.lists(st.integers(1, 10_000), min_size=1, max_size=60),
       st.integers(2, 8))
@settings(max_examples=80, deadline=None)
def test_lpt_conservation_and_bound(loads, k):
    buckets = [0] * k
    for n in sorted(loads, reverse=True):
        i = min(range(k), key=lambda j: (buckets[j], j))
        buckets[i] += n
    assert sum(buckets) == sum(loads)
    # Round-5 correction: the original assertion compared the LPT
    # makespan against (4/3)·LOWER-BOUND-of-OPT, which is NOT a theorem
    # — hypothesis found loads=[910,1000,994,751], k=3 where LPT is
    # OPTIMAL (makespan 1661 = OPT) yet 1661 > 4/3·1219. The classical
    # guarantee is against OPT itself, so:
    #  (a) small instances: brute-force OPT and assert the true
    #      (4/3 − 1/(3k)) Graham bound;
    #  (b) all instances: the valid list-scheduling bound
    #      makespan ≤ ceil(sum/k) + max_load.
    opt_lb = max(max(loads), -(-sum(loads) // k))
    assert max(buckets) <= -(-sum(loads) // k) + max(loads)
    if len(loads) <= 10:
        best = [None]

        def dfs(i, cur):
            if cur and max(cur) >= (best[0] or float("inf")):
                return
            if i == len(loads):
                m = max(cur) if cur else 0
                if best[0] is None or m < best[0]:
                    best[0] = m
                return
            seen = set()
            for j in range(k):
                if cur[j] in seen:  # symmetric buckets: try once
                    continue
                seen.add(cur[j])
                cur[j] += loads[i]
                dfs(i + 1, cur)
                cur[j] -= loads[i]

        order = sorted(loads, reverse=True)
        loads = order
        dfs(0, [0] * k)
        opt = best[0]
        assert opt >= opt_lb  # the lower bound really is a lower bound
        # Graham 1969: LPT ≤ (4/3 − 1/(3k))·OPT, scaled to integers
        assert 3 * k * max(buckets) <= (4 * k - 1) * opt


# --- Luhn: expression result == reference implementation ---------------


def _luhn_sum(s: str) -> int:
    total = 0
    for i, ch in enumerate(s):
        d = int(ch)
        if (len(s) - i) % 2 == 1:
            total += d
        else:
            d *= 2
            total += d - 9 if d > 9 else d
    return total


@given(st.integers(0, 999_999_999))
@settings(max_examples=100, deadline=None)
def test_luhn_reference(n):
    s = str(n).zfill(12)
    # the CASE expression in h_luhn_check, transliterated
    total = 0
    for i in range(1, 13):
        d = int(s[i - 1])
        if (12 - i) % 2 == 0:
            total += d
        else:
            dd = d * 2
            total += dd - 9 if dd > 9 else dd
    assert total == _luhn_sum(s)


# --- Haar: Parseval identity for the unnormalized transform ------------


@given(st.lists(st.integers(0, 1000), min_size=32, max_size=32))
@settings(max_examples=60, deadline=None)
def test_haar_parseval(xs):
    from fractions import Fraction

    raw = sum(Fraction(x * x) for x in xs)
    cur = [Fraction(x) for x in xs]
    acc = Fraction(0)
    level = 0
    while len(cur) > 1:
        level += 1
        a = [cur[2 * i] + cur[2 * i + 1] for i in range(len(cur) // 2)]
        d = [cur[2 * i] - cur[2 * i + 1] for i in range(len(cur) // 2)]
        acc += sum(x * x for x in d) / Fraction(2**level)
        cur = a
    acc += cur[0] * cur[0] / Fraction(2**level)
    assert acc == raw


# --- Poisson thresholds: a valid inverse CDF ---------------------------


def test_poisson_thresholds_monotone():
    from parking_violations_data_pipeline_spark.queries.aggregations import _POIS

    ts = [t for t, _ in _POIS]
    ks = [k for _, k in _POIS]
    assert ts == sorted(ts)
    assert ks == list(range(len(ks)))
    assert ts[-1] < 1_000_000
    # thresholds match cumulative e^-1/k! to the integer millionth
    import math

    cum = 0.0
    for k, t in enumerate(ts):
        cum += math.exp(-1) / math.factorial(k)
        assert abs(round(cum * 1_000_000) - t) <= 1


# --- systematic sample spacing (Spark-level, small) --------------------


def test_systematic_sample_spacing(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

    from .conftest import SF_SMALL

    all_queries()
    rows = REGISTRY["f_systematic_sample"].fn(spark, SF_SMALL).collect()
    for r in rows:
        assert r["first_rank"] == 3 or r["n_sampled"] == 0
        if r["n_sampled"] > 1:
            assert (r["last_rank"] - r["first_rank"]) % 10 == 0
            assert r["n_sampled"] == (r["last_rank"] - r["first_rank"]) // 10 + 1
