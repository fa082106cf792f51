"""Property-based tests (SURVEY §5.4): engine Column expressions vs
plain-Python reference implementations on hypothesis-generated data.

One Spark job per example is slow, so each property batches the whole
generated list into a single DataFrame and max_examples stays small —
breadth comes from the generators, not the example count.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.functions.cleaning import (
    bbox_filter,
    null_sentinels,
    rot_decode,
)
from streaming_data_pipeline_capstone_spark.functions.geo import haversine_km, wkt_point_lonlat
from streaming_data_pipeline_capstone_spark.operators.textstats import (
    shingles_from_tokens,
    tokens,
)
from streaming_data_pipeline_capstone_spark.operators.windows import last_k_per_key

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

finite = st.floats(allow_nan=False, allow_infinity=False, width=32)


@SETTINGS
@given(st.lists(finite, min_size=1, max_size=50))
def test_rot_decode_matches_formula(spark, xs):
    rows = [(i, float(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "i int, x double")
    got = {r["i"]: r["y"] for r in df.select("i", rot_decode("x").alias("y")).collect()}
    for i, x in rows:
        expect = math.copysign((abs(x) / 4.733) ** 2, x) if x != 0 else 0.0
        assert got[i] == pytest.approx(expect, rel=1e-12, abs=1e-300)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-90, max_value=90, allow_nan=False),
            st.floats(min_value=-180, max_value=180, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_bbox_filter_is_exact_strict_range(spark, pts):
    rows = [(i, float(la), float(lo)) for i, (la, lo) in enumerate(pts)]
    df = spark.createDataFrame(rows, "i int, lat double, lon double")
    kept = {r["i"] for r in df.filter(bbox_filter("lat", "lon")).collect()}
    for i, la, lo in rows:
        # the reference's exact strict comparisons (preprocess.py:54)
        assert (i in kept) == (7.0 < la < 23.0 and 105.0 < lo < 123.0)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-180, max_value=180, allow_nan=False),
            st.floats(min_value=-85, max_value=85, allow_nan=False),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_haversine_metric_properties(spark, pts):
    pairs = [
        (i, float(lo1), float(la1), float(lo2), float(la2))
        for i, ((lo1, la1), (lo2, la2)) in enumerate(zip(pts, pts[1:] + pts[:1]))
    ]
    df = spark.createDataFrame(pairs, "i int, lon1 double, lat1 double, lon2 double, lat2 double")
    out = df.select(
        "i",
        haversine_km("lon1", "lat1", "lon2", "lat2").alias("d12"),
        haversine_km("lon2", "lat2", "lon1", "lat1").alias("d21"),
        haversine_km("lon1", "lat1", "lon1", "lat1").alias("dself"),
    ).collect()
    for r in out:
        assert r["d12"] >= 0.0
        assert r["d12"] == pytest.approx(r["d21"], rel=1e-9)  # symmetric
        assert r["dself"] == pytest.approx(0.0, abs=1e-6)  # identity
        assert r["d12"] <= 20016.0 + 1.0  # ≤ half Earth circumference


_token = st.text(alphabet="abcdefg", min_size=1, max_size=4)


@SETTINGS
@given(st.lists(st.lists(_token, min_size=0, max_size=20), min_size=1, max_size=20))
def test_shingles_match_naive_python(spark, docs):
    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {
        r["i"]: r["sh"]
        for r in df.select("i", tokens("text").alias("t"))
        .select("i", shingles_from_tokens(F.col("t"), n).alias("sh"))
        .collect()
    }
    for i, text in rows:
        toks = text.strip().lower().split() if text.strip() else [""]
        if len(toks) < n:
            expect = [" ".join(toks)]
        else:
            seen: list[str] = []
            for j in range(len(toks) - n + 1):
                g = " ".join(toks[j : j + n])
                if g not in seen:
                    seen.append(g)
            expect = seen
        assert got[i] == expect, (text, got[i], expect)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), finite),
        min_size=1,
        max_size=100,
    )
)
def test_last_k_per_key_invariants(spark, rows_in):
    rows = [(int(k), int(t), float(v), i) for i, (k, t, v) in enumerate(rows_in)]
    df = spark.createDataFrame(rows, "k int, t long, v double, uid long")
    out = last_k_per_key(df, key="k", order_col="t", k=3, tiebreak="uid").collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    src_by_key: dict[int, list] = {}
    for k, t, v, uid in rows:
        src_by_key.setdefault(k, []).append((t, uid))
    for k, kept in by_key.items():
        # never more than K rows per key, rn is 1..K and unique
        assert len(kept) <= 3
        assert sorted(r["rn"] for r in kept) == list(range(1, len(kept) + 1))
        # kept rows are exactly the top-3 by (t, uid) descending
        expect = sorted(src_by_key[k], reverse=True)[:3]
        assert sorted(((r["t"], r["uid"]) for r in kept), reverse=True) == expect
    # every source key with rows appears
    assert set(by_key) == set(src_by_key)


def test_wkt_malformed_degrades_to_null(spark):
    rows = [
        (0, "POINT(105.5 8.25)"),
        (1, "POINT(-0.1 -89.9)"),
        (2, "not a point"),
        (3, ""),
        (4, None),
        (5, "POINT()"),
        (6, "POINT(1 2 3)"),
        (7, "LINESTRING(1 2)"),  # letters stripped → still two numbers
    ]
    df = spark.createDataFrame(rows, "i int, p string")
    got = {r["i"]: r["c"] for r in df.select("i", wkt_point_lonlat("p").alias("c")).collect()}
    assert got[0] == pytest.approx([105.5, 8.25])
    assert got[1] == pytest.approx([-0.1, -89.9])
    assert got[2] is None
    assert got[3] is None
    assert got[4] is None
    assert got[5] is None
    assert got[6] is None  # three numbers → not a point
    assert got[7] == pytest.approx([1.0, 2.0])


def test_null_sentinels(spark):
    df = spark.createDataFrame(
        [(0, 511.0), (1, 10.0), (2, -128.0), (3, None)], "i int, v double"
    )
    got = {
        r["i"]: r["v2"]
        for r in df.select("i", null_sentinels("v", 511.0, -128.0).alias("v2")).collect()
    }
    assert got == {0: None, 1: 10.0, 2: None, 3: None}


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 600), finite),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_gap_fill_invariants(spark, rows_in):
    from streaming_data_pipeline_capstone_spark.streaming.state import gap_fill_interpolate

    rows = [(int(k), int(t) * 1_000_000, float(v)) for k, t, v in rows_in]
    df = spark.createDataFrame(rows, "k int, t_us long, v double").select(
        "k", F.timestamp_micros(F.col("t_us")).alias("ts"), "v"
    )
    out = gap_fill_interpolate(df, key="k", ts_col="ts", value_cols=["v"], gap="60 seconds", step="60 seconds").collect()

    originals = [r for r in out if r["is_interpolated"] == 0]
    synth = [r for r in out if r["is_interpolated"] == 1]
    # originals pass through exactly
    assert sorted((r["k"], r["ts"]) for r in originals) == sorted(
        (k, __import__("datetime").datetime.utcfromtimestamp(t / 1e6)) for k, t, _ in rows
    )
    # synthetic points: per key, each sits strictly inside a gap > 60s and
    # on the 60s grid from the gap's left edge; values inside the endpoints
    by_key: dict[int, list[tuple[int, float]]] = {}
    for k, t, v in rows:
        by_key.setdefault(k, []).append((t, v))
    for k in by_key:
        by_key[k].sort()
    for r in synth:
        k = r["k"]
        t_us = int(r["ts"].timestamp() * 1e6)
        series = by_key[k]
        left = max((p for p in series if p[0] < t_us), key=lambda p: p[0])
        right = min((p for p in series if p[0] > t_us), key=lambda p: p[0])
        assert right[0] - left[0] > 60_000_000  # only in real gaps
        assert (t_us - left[0]) % 60_000_000 == 0  # on the step grid
        lo, hi = sorted((left[1], right[1]))
        assert lo - 1e-6 <= r["v"] <= hi + 1e-6  # linear blend stays in range


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)),
        min_size=1,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 999)),
        min_size=0,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),
    ),
)
def test_asof_join_matches_naive(spark, left_in, right_in):
    from streaming_data_pipeline_capstone_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, t * 1_000_000) for k, t in left_in], "k int, lt_us long"
    ).select("k", F.timestamp_micros(F.col("lt_us")).alias("lt"))
    right = spark.createDataFrame(
        [(k, t * 1_000_000, p) for k, t, p in right_in] or [(99, 0, 0)],
        "k int, rt_us long, payload int",
    ).select("k", F.timestamp_micros(F.col("rt_us")).alias("rt"), "payload")

    rights = sorted((k, t, p) for k, t, p in (right_in or []))
    for strict in (False, True):
        out = asof_join(left, right, key="k", left_ts="lt", right_ts="rt", strict=strict)
        got = {(r["k"], r["lt"].timestamp()): r["payload"] for r in out.collect()}
        for k, t in left_in:
            best = None
            for rk, rt, p in rights:
                # latest right with rt <= lt (strict: rt < lt)
                if rk == k and (rt < t if strict else rt <= t):
                    best = p
            assert got[(k, float(t))] == best, (strict, k, t, got, rights)
        assert len(got) == len(left_in)  # exactly one output row per left row


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 600), finite),
        min_size=1,
        max_size=40,
    )
)
def test_sliding_window_assignment_matches_naive(spark, rows_in):
    """Every event lands in exactly the sliding windows that cover it
    (2-min window, 1-min slide ⇒ 2 windows per event), and per-window
    counts match a naive Python assignment."""
    from streaming_data_pipeline_capstone_spark.operators.windows import sliding_time_agg

    rows = [(int(k), int(t) * 1_000_000, float(v)) for k, t, v in rows_in]
    df = spark.createDataFrame(rows, "k int, t_us long, v double").select(
        "k", F.timestamp_micros(F.col("t_us")).alias("ts"), "v"
    )
    agg = sliding_time_agg(
        df, ts_col="ts", key="k",
        aggs=[F.count("*").alias("n")],
    )
    got = {
        (r["k"], int(r["window"]["start"].timestamp())): r["n"] for r in agg.collect()
    }

    expect: dict[tuple[int, int], int] = {}
    for k, t_us, _ in rows:
        sec = t_us // 1_000_000
        # windows of length 120 sliding 60 covering sec: starts in
        # (sec-120, sec] on the 60 grid
        start = (sec // 60) * 60
        for ws in (start, start - 60):
            if ws <= sec < ws + 120:
                expect[(k, ws)] = expect.get((k, ws), 0) + 1
    assert got == expect


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, raw_edges):
    from streaming_data_pipeline_capstone_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        edges = [(0, 1)]
    df = spark.createDataFrame(edges, "doc1 long, doc2 long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in parent:
        comp_min.setdefault(find(n), n)
    expect = {n: min(comp_min[find(n)], find(n)) for n in parent}
    # normalize: component id = min node in component
    roots: dict[int, int] = {}
    for n in parent:
        roots.setdefault(find(n), n)
        roots[find(n)] = min(roots[find(n)], n)
    expect = {n: roots[find(n)] for n in parent}
    assert got == expect, (edges, got, expect)


def test_connected_components_long_chain_converges(spark):
    """A 60-node path: min-propagation alone needs ~60 rounds; pointer
    jumping must converge well inside max_iter=25. driver_max_edges=0
    forces the DISTRIBUTED fixpoint (the default size gate would solve a
    60-edge graph on the driver)."""
    from streaming_data_pipeline_capstone_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(chain, "doc1 long, doc2 long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=25, driver_max_edges=0).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_connected_components_driver_gate_paths_identical(spark):
    """r15 optimization pin: the driver union-find fast path (edge count
    under the gate) and the distributed Hash-Min fixpoint label every node
    identically — component = min reachable node, same rows, same types."""
    from streaming_data_pipeline_capstone_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(0, 8)]          # a chain
        + [(20, 21), (21, 22), (22, 20)]           # a cycle
        + [(30, 31)]                               # an isolated pair
        + [(41, 40), (40, 42)]                     # reversed-order edges
    )
    df = spark.createDataFrame(edges, "doc1 long, doc2 long")
    fast = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()  # default gate: driver path
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert fast == dist
    # over-the-gate edge counts fall through to the distributed path
    over = connected_components(df, driver_max_edges=3)
    assert {(r["node"], r["component"]) for r in over.collect()} == fast


def test_connected_components_string_ids(spark):
    """String node ids: the old sum('label') convergence check was NULL on
    non-numeric labels, so NULL == NULL exited after one round and chains
    needing more rounds came back wrong. The count-changed check is
    type-agnostic; a 12-node string chain must fully converge."""
    from streaming_data_pipeline_capstone_spark.operators.dedup import connected_components

    nodes = [f"doc-{i:03d}" for i in range(12)]
    chain = list(zip(nodes, nodes[1:]))
    df = spark.createDataFrame(chain, "doc1 string, doc2 string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {n: "doc-000" for n in nodes}


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=2, max_value=4),
    st.data(),
)
def test_cramer_solve_matches_numpy_property(d, data):
    """cramer_solve (the SQL-mirroring Laplace expansion) must agree with
    numpy's LU solve to within the 8-dp coefficient rounding on random
    diagonally-dominant systems — pure driver-side math, no Spark job."""
    import numpy as np

    from streaming_data_pipeline_capstone_spark.plans.train import cramer_solve

    entry = st.floats(min_value=-10.0, max_value=10.0, allow_nan=False)
    a = np.array(
        [[data.draw(entry) for _ in range(d)] for _ in range(d)], dtype=float
    )
    a = (a + a.T) / 2.0  # the stats matrix is symmetric by construction
    # diagonal dominance keeps the system well-conditioned, like a real
    # X'WX with non-degenerate features
    for i in range(d):
        a[i, i] = sum(abs(a[i, j]) for j in range(d) if j != i) + data.draw(
            st.floats(min_value=1.0, max_value=10.0, allow_nan=False)
        )
    t = np.array([data.draw(entry) for _ in range(d)], dtype=float)
    row = {f"s_{i}_{j}": a[i, j] for i in range(d) for j in range(i, d)}
    row.update({f"t_{i}": t[i] for i in range(d)})
    got = cramer_solve(row, d)
    want = np.linalg.solve(a, t)
    assert got == pytest.approx(want, abs=6e-9)
