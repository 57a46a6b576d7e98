"""Brute-force property tests for the spatial joins (independent oracle).

These recompute expected results in pure Python/pandas from first principles
(tests/worldref.py) — independent of the SQL fragments shared between the
Spark queries and the DuckDB oracle — at sf0.001.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from opengxt_spark import joins, world
from tests import worldref as W


@pytest.fixture(scope="module")
def raw(sf_dir):
    con = duckdb.connect()
    events = con.execute(
        f"SELECT event_id, value FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    customers = con.execute(
        f"SELECT c_custkey FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    suppliers = con.execute(
        f"SELECT s_suppkey FROM '{sf_dir}/supplier.parquet'"
    ).fetchall()
    parts = con.execute(
        f"SELECT p_partkey FROM '{sf_dir}/part.parquet'"
    ).fetchall()
    return events, customers, suppliers, parts


def test_pip_count_rect_bruteforce(spark, sf_dir, raw):
    events, customers, _, _ = raw
    pts = [(eid, W.px(eid), W.py(eid), W.int_weight(v)) for eid, v in events]
    expected = {}
    for (ck,) in customers:
        cx, cy, hw, hh = W.rect_params(ck)
        inside = [(w,) for _, x, y, w in pts if W.rect_contains(x, y, cx, cy, hw, hh)]
        if inside:
            expected[ck] = (len(inside), sum(w for (w,) in inside))
    out = joins.pip_count_join(
        world.points_events(spark, sf_dir), world.rects_customer(spark, sf_dir)
    ).collect()
    got = {r.rid: (r.cnt, r.sum_w) for r in out}
    assert got == expected


def test_pip_count_hex_bruteforce(spark, sf_dir, raw):
    events, _, suppliers, _ = raw
    pts = [(W.px(eid), W.py(eid)) for eid, _ in events]
    expected = {}
    for (sk,) in suppliers:
        cx, cy, r = W.hex_params(sk)
        n = sum(1 for x, y in pts if W.hex_contains(x, y, cx, cy, r))
        if n:
            expected[sk] = n
    out = joins.pip_hex_count_join(
        world.points_events(spark, sf_dir), world.hex_supplier(spark, sf_dir)
    ).collect()
    assert {r.hid: r.cnt for r in out} == expected


def test_knn_join_bruteforce(spark, sf_dir, raw):
    events, _, _, parts = raw
    epts = [(eid, W.px(eid), W.py(eid)) for eid, _ in events]
    ppts = [(pk, *W.part_point(pk)) for (pk,) in parts]
    radius, k = 50.0, 3
    expected = set()
    for eid, x, y in epts:
        cands = []
        for pk, px_, py_ in ppts:
            d2 = (x - px_) ** 2 + (y - py_) ** 2
            if d2 <= radius * radius:
                cands.append((d2, pk))
        cands.sort()
        for rank, (d2, pk) in enumerate(cands[:k], start=1):
            expected.add((eid, pk, rank))
    out = joins.knn_join(
        world.points_events(spark, sf_dir),
        world.points_part(spark, sf_dir),
        k=k,
        radius=radius,
        exclude_self=False,
    ).collect()
    assert {(r.pid_l, r.pid_r, r.rank) for r in out} == expected


def test_knn_join_packed_equals_struct(spark, sf_dir):
    """mm_exact=True (packed bigint top-k) must reproduce the struct path
    row-for-row on mm-grid layers: same neighbors, same ranks, and dists
    equal to 1e-6 (the packed dist derives from the exact integer-mm
    distance, the struct dist from the double — identical after ROUND 6
    except on sub-mm rounding noise, which the grid rules out)."""
    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    a = joins.knn_join(l, r, k=4, radius=50.0, exclude_self=False,
                       mm_exact=True).collect()
    b = joins.knn_join(l, r, k=4, radius=50.0, exclude_self=False).collect()
    ka = {(x.pid_l, x.rank): (x.pid_r, x.dist) for x in a}
    kb = {(x.pid_l, x.rank): (x.pid_r, x.dist) for x in b}
    assert set(ka) == set(kb) and len(ka) == len(a)
    for key, (pr, dist) in ka.items():
        pr2, dist2 = kb[key]
        assert pr == pr2
        assert abs(dist - dist2) < 1e-9


def test_knn_join_packed_overflow_falls_back(spark, sf_dir):
    """Ids too large for the 63-bit pack budget must take the struct path
    (not corrupt the packing): results still match the small-id run."""
    from pyspark.sql import functions as F

    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    big = 1 << 50  # nextpow2(max_id) * d2m_max blows the 2^63 budget
    r_big = r.withColumn("pid", F.col("pid") + F.lit(big).cast("long"))
    out = joins.knn_join(l, r_big, k=3, radius=50.0, exclude_self=False,
                         mm_exact=True).collect()
    ref = joins.knn_join(l, r, k=3, radius=50.0, exclude_self=False).collect()
    assert {(x.pid_l, x.pid_r - big, x.rank) for x in out} == {
        (x.pid_l, x.pid_r, x.rank) for x in ref
    }


def test_knn_join_packed_stale_max_id(spark, sf_dir, monkeypatch):
    """A stale cached max id sizes the pack base P too small: right ids
    >= P would bleed into the distance bits of the ring schedule's packed
    top-k. The join must fail loudly or return the true neighbours, never
    a silently wrong answer."""
    from opengxt_spark import planner

    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    kw = dict(k=4, radius=50.0, exclude_self=False, mm_exact=True,
              first_radius=20.0)  # ring path: the packed aggregate
    ref = joins.knn_join(l, r, **kw).collect()
    key = (planner.plan_key(r), "pid")
    mn, mx = planner.cached_minmax(r, "pid")
    monkeypatch.setitem(planner._MINMAX_CACHE, key, (mn, mx // 8))
    try:
        got = joins.knn_join(l, r, **kw).collect()
    except Exception as e:
        assert "pack range" in str(e)
    else:
        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


def test_distance_band_symmetric_counts(spark, sf_dir):
    """Total pairs within radius must equal its transpose (join correctness)."""
    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    n1 = joins.distance_band_join(l, r, 20.0).count()
    n2 = joins.distance_band_join(r, l, 20.0).count()
    assert n1 == n2 and n1 > 0


def test_nearest_join_dist_is_min(spark, sf_dir):
    pairs = joins.distance_band_join(
        world.points_events(spark, sf_dir),
        world.points_part(spark, sf_dir),
        25.0,
    ).collect()
    best = {}
    for row in pairs:
        cur = best.get(row.pid_l)
        key = (row.d2, row.pid_r)
        if cur is None or key < cur:
            best[row.pid_l] = key
    out = joins.nearest_join(
        world.points_events(spark, sf_dir),
        world.points_part(spark, sf_dir),
        radius=25.0,
    ).collect()
    got = {r.pid_l: r.pid_r for r in out}
    assert got == {pid: pk for pid, (_, pk) in best.items()}
    for r in out:
        assert math.isclose(r.dist, math.sqrt(best[r.pid_l][0]), abs_tol=1e-6)


def test_band_stats_tiled_equals_broadcast(spark, sf_dir):
    """The ghost-halo tiled strategy must produce bit-identical per-point
    (cnt, sum_v, sum_sq) to the broadcast strategy — both run the fused
    interior/boundary pass over integer contributions, so any divergence
    is a halo-truncation or per-tile-aggregate bug."""
    ev = world.points_events(spark, sf_dir).selectExpr(
        "pid", "x", "y", "CAST(w % 97 AS BIGINT) AS v"
    )
    kw = dict(value_col="v", left_keep={"v": "v"}, with_sq=True)
    bc = joins.band_stats_join(ev, ev, 12.0, strategy="broadcast", **kw)
    td = joins.band_stats_join(ev, ev, 12.0, strategy="tiled", **kw)
    got_bc = {r.pid_l: (r.cnt, r.sum_v, r.sum_sq) for r in bc.collect()}
    got_td = {r.pid_l: (r.cnt, r.sum_v, r.sum_sq) for r in td.collect()}
    assert got_bc == got_td
    assert len(got_bc) > 0
