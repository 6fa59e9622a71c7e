"""Cell-ring kNN: exactness of the pruned candidate plan (round-3 review).

The crossJoin-free knn_join must return EXACTLY the exhaustive answer —
including points near the date line (longitude ring wrap), near the poles
(certificate fails -> broadcast-hash fallback), and in sparse neighborhoods
(< k candidates in the disk). The exhaustive reference here is plain numpy
on the driver; fixtures are deterministic integer mixes.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridfour_spark import spatial


def _mix(i: int, a: int, b: int) -> float:
    return ((i * a + b) % 100000) / 100000.0


def _anchors(n: int):
    return [
        (
            i,
            _mix(i, 2654435761, 1013904223) * 178.0 - 89.0,
            _mix(i, 1597334677, 12345) * 360.0 - 180.0,
        )
        for i in range(n)
    ]


def _polar_anchors():
    """40 anchors crowded above 80N."""
    return [(i, 80.5 + (i * 7 % 19) * 0.45, -170.0 + i * 8.5) for i in range(40)]


def _points(n: int):
    pts = [
        (
            i,
            _mix(i, 40503, 9973) * 178.0 - 89.0,
            _mix(i, 65521, 271) * 360.0 - 180.0,
        )
        for i in range(n)
    ]
    # adversarial cases: date line, both poles, equator/meridian corners
    pts += [
        (n + 0, 12.0, 179.95),
        (n + 1, 12.0, -179.95),
        (n + 2, 89.6, 45.0),
        (n + 3, -89.6, -135.0),
        (n + 4, 0.0, 0.0),
        (n + 5, -0.01, 179.99),
    ]
    return pts


def _hav(lat1, lon1, lat2, lon2):
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(dlon / 2) ** 2
    )
    return 2.0 * 6371.0072 * math.asin(math.sqrt(a))


def _brute(points, anchors, k):
    out = set()
    for pid, plat, plon in points:
        ds = sorted(
            (round(_hav(plat, plon, alat, alon), 6), aid)
            for aid, alat, alon in anchors
        )
        for r, (d, aid) in enumerate(ds[:k], start=1):
            out.add((pid, r, aid, d))
    return out


@pytest.mark.parametrize("res,ring,n_anchor", [(3, 1, 300), (4, 1, 300), (2, 2, 60)])
def test_knn_ring_join_exact_vs_brute_force(spark, res, ring, n_anchor):
    anchors = _anchors(n_anchor)
    points = _points(400)
    pdf = spark.createDataFrame(points, "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    got = spatial.knn_join(pdf, adf, k=3, res=res, ring=ring).collect()
    got_set = {(r.pt_id, r.rank, r.anchor_id, r.dist_km) for r in got}
    assert got_set == _brute(points, anchors, 3)


def test_knn_default_res_exact(spark):
    """Default res from anchor density (the entry-point path, 6 anchors ->
    full-cover disk, empty fallback)."""
    anchors = _anchors(6)
    points = _points(200)
    pdf = spark.createDataFrame(points, "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    got = spatial.knn_join(pdf, adf, k=3).collect()
    got_set = {(r.pt_id, r.rank, r.anchor_id, r.dist_km) for r in got}
    assert got_set == _brute(points, anchors, 3)


def test_knn_plan_has_no_nested_loop_join(spark):
    """The round-3 done-criterion: no BroadcastNestedLoopJoin / cartesian
    anywhere in the physical plan — candidate generation and the fallback
    are both hash joins."""
    pdf = spark.createDataFrame(_points(50), "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(_anchors(100), "anchor_id int, alat double, alon double")
    plan = (
        spatial.knn_join(pdf, adf, k=3, res=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_res_for_density():
    assert spatial.knn_res_for(6, 3) == 0
    assert spatial.knn_res_for(10_000, 3) >= 3
    assert spatial.knn_res_for(10_000_000, 10) <= 12


def test_knn_null_coordinates_survive(spark):
    """Round-4 review: a NULL/out-of-domain coordinate must not silently
    drop the point — it routes to the exhaustive fallback and ranks with
    null distances, like the old exhaustive plan did."""
    anchors = _anchors(6)
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    pdf = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, None, 30.0), (3, 40.0, None)],
        "pt_id int, lat double, lon double",
    )
    got = spatial.knn_join(pdf, adf, k=3, res=3).collect()
    by_pt = {}
    for r in got:
        by_pt.setdefault(r.pt_id, []).append(r)
    assert set(by_pt) == {1, 2, 3}
    for pid in (2, 3):
        rows = sorted(by_pt[pid], key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3]
        assert all(r.dist_km is None for r in rows)
    real = {(r.rank, r.anchor_id, r.dist_km) for r in by_pt[1]}
    brute = {(rk, aid, d) for (_pid, rk, aid, d) in _brute([(1, 10.0, 20.0)], anchors, 3)}
    assert real == brute


def test_knn_out_of_domain_longitude_wraps(spark):
    """Round-5 advice: cell assignment must wrap longitude with pmod so the
    cell geometry matches haversine periodicity. An anchor at lon=359
    (geometrically -1) used to clamp into the easternmost cell, letting a
    certified point near lon=0 drop it from the top-k. Points and anchors
    with lons far outside [-180, 180) must match the exhaustive answer
    (haversine itself is periodic, so _brute needs no wrapping)."""
    anchors = _anchors(120) + [
        (900, 10.0, 359.0),     # ≡ (10, -1)
        (901, -20.0, -541.0),   # ≡ (-20, 179)
        (902, 45.0, 720.5),     # ≡ (45, 0.5)
    ]
    points = [
        (0, 10.5, 0.0),         # nearest anchor should include 900
        (1, -20.0, 178.5),      # near 901
        (2, 44.0, 0.2),         # near 902
        (3, 5.0, 361.0),        # out-of-domain POINT lon ≡ 1.0
        (4, 5.0, -359.0),       # ≡ 1.0 from the other side
    ]
    pdf = spark.createDataFrame(points, "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    got = spatial.knn_join(pdf, adf, k=3, res=3, ring=1).collect()
    got_set = {(r.pt_id, r.rank, r.anchor_id, r.dist_km) for r in got}
    assert got_set == _brute(points, anchors, 3)
    # sanity: the wrapped anchors actually surface as neighbors
    assert any(aid == 900 for (_p, _r, aid, _d) in got_set if _p == 0)


def test_knn_ring_escalation_certifies_sparse_points(spark):
    """Round-4 review nit: uncertified points retry at 3x ring before the
    exhaustive fallback. With a sparse anchor set at high res most points
    fail the ring-1 certificate; results must still be exact."""
    anchors = _anchors(20)
    points = _points(150)
    pdf = spark.createDataFrame(points, "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    got = spatial.knn_join(pdf, adf, k=3, res=5, ring=1).collect()
    got_set = {(r.pt_id, r.rank, r.anchor_id, r.dist_km) for r in got}
    assert got_set == _brute(points, anchors, 3)


def test_knn_polar_concentrated_anchors_telemetry(spark):
    """Round 7 (r6 verdict #5): a polar-concentrated anchor set at forced
    high res drives NONZERO escalation/fallback telemetry — the regime the
    sf0.1 bench never reaches — and the answers must still equal brute
    force (the fallback is exact by construction)."""
    anchors = _polar_anchors()
    points = _points(200)
    pdf = spark.createDataFrame(points, "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(anchors, "anchor_id int, alat double, alon double")
    stats: dict = {}
    got = spatial.knn_join(pdf, adf, k=3, res=5, ring=1, stats_out=stats).collect()
    got_set = {(r.pt_id, r.rank, r.anchor_id, r.dist_km) for r in got}
    assert got_set == _brute(points, anchors, 3)
    n = stats["points"].count()
    esc = stats["escalated"].count() / n
    fb = stats["fallback"].count() / n
    # most non-polar points fail the ring-1 certificate (no anchors in
    # their disk) and escalate; far-south points even fail the 3x ring
    assert esc > 0.5, esc
    assert fb > 0.0, fb


def test_knn_anchor_count_failure_releases_the_anchor_cache(spark):
    """The default resolution counts the anchors through a cache; when that
    count raises, the anchor frame's cache entry goes with the raise."""
    @F.udf("double")
    def broken(lat):
        raise ValueError("anchor udf failed")

    pdf = spark.createDataFrame(_points(10), "pt_id int, lat double, lon double")
    adf = spark.createDataFrame(_anchors(8), "anchor_id int, alat double, alon double")
    adf = adf.withColumn("alat", broken("alat"))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(Exception, match="anchor udf failed"):
        spatial.knn_join(pdf, adf, k=3)
    assert set(jsc.getPersistentRDDs().keys()) == before
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.lookupCachedData(adf._jdf).isDefined()
