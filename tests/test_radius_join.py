"""B5b radius join (hex disk cover == brute-force crossJoin filter)."""

import math

import pytest
from pyspark.sql import functions as F

from osmspark.functions.geo import haversine_m, sq_deg_dist
from osmspark.operators import radius_join as rj


@pytest.fixture(scope="module")
def queries(spark):
    pts = [("q0", 1.29, 103.85), ("q1", 1.35, 103.69), ("q2", 1.44, 103.79),
           ("q3", 1.20, 104.05), ("q4", 1.50, 103.62)]
    return spark.createDataFrame(pts, "query_id string, lat double, lon double")


def _brute(points, queries, radius, metric):
    j = points.select(
        F.col("id").alias("point_id"),
        F.col("lat").alias("plat"), F.col("lon").alias("plon"),
    ).crossJoin(F.broadcast(queries.select(
        "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon"),
    )))
    if metric == "haversine":
        d = haversine_m(F.col("qlat"), F.col("qlon"),
                        F.col("plat"), F.col("plon"))
        keep = d <= radius
    else:
        d = sq_deg_dist(F.col("qlat"), F.col("qlon"),
                        F.col("plat"), F.col("plon"))
        keep = d <= radius * radius
    return {(r["query_id"], r["point_id"])
            for r in j.where(keep).collect()}


def test_radius_join_equals_bruteforce_haversine(nodes, queries):
    pts = nodes.select("id", "lat", "lon")
    got = {(r["query_id"], r["point_id"])
           for r in rj.within_distance_join(pts, queries, 3000.0).collect()}
    want = _brute(pts, queries, 3000.0, "haversine")
    assert got == want
    assert len(want) > 0  # non-vacuous


def test_radius_join_equals_bruteforce_sq_deg(nodes, queries):
    pts = nodes.select("id", "lat", "lon")
    got = {(r["query_id"], r["point_id"])
           for r in rj.within_distance_join(
               pts, queries, 0.04, metric="sq_deg").collect()}
    want = _brute(pts, queries, 0.04, "sq_deg")
    assert got == want
    assert len(want) > 0


def test_radius_join_res_invariant(nodes, queries):
    """Exactness must not depend on the prefilter resolution — a coarser
    pinned res changes only the candidate volume."""
    pts = nodes.select("id", "lat", "lon")
    auto = {(r["query_id"], r["point_id"])
            for r in rj.within_distance_join(pts, queries, 2000.0).collect()}
    coarse = {(r["query_id"], r["point_id"])
              for r in rj.within_distance_join(
                  pts, queries, 2000.0, res=6).collect()}
    assert auto == coarse


def test_radius_pairs_equals_brute(nodes):
    pts = nodes.select("id", "lat", "lon").limit(200)
    got = {(r["a"], r["b"])
           for r in rj.within_distance_pairs(pts, 4000.0).collect()}
    rows = [(r["id"], r["lat"], r["lon"]) for r in pts.collect()]
    want = set()
    for i, (ia, la, lo) in enumerate(rows):
        for ib, lb, lob in rows[i + 1:]:
            dlat = math.radians(lb - la) / 2
            dlon = math.radians(lob - lo) / 2
            a = (math.sin(dlat) ** 2
                 + math.cos(math.radians(la)) * math.cos(math.radians(lb))
                 * math.sin(dlon) ** 2)
            d = 2 * 6371008.8 * math.asin(math.sqrt(a))
            if d <= 4000.0:
                want.add((min(ia, ib), max(ia, ib)))
    assert got == want
    assert len(want) > 0


def test_radius_join_too_fine_res_raises(nodes, queries):
    """A user-pinned res too fine for the radius must raise loudly (the
    executor-side guard), not silently fan out thousands of cells."""
    from py4j.protocol import Py4JJavaError

    pts = nodes.select("id", "lat", "lon")
    with pytest.raises(Exception) as ei:
        rj.within_distance_join(pts, queries, 50000.0, res=12).collect()
    assert "coarser res" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError)


def test_radius_join_no_cartesian(nodes, queries):
    """The candidate join must be an equi-join on the cell key — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan."""
    pts = nodes.select("id", "lat", "lon")
    out = rj.within_distance_join(pts, queries, 3000.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_auto_res_monotone():
    """Smaller radii -> finer (>=) resolution; huge radii -> coarse."""
    rs = [rj.auto_res(m) for m in (100.0, 1000.0, 10000.0, 100000.0)]
    assert rs == sorted(rs, reverse=True)
    assert rs[0] > rs[-1]
    assert all(0 <= r <= 15 for r in rs)


def test_radius_auto_dispatch_both_sides(nodes, queries):
    """within_distance_auto must return identical results on BOTH sides
    of its cost threshold."""
    pts = nodes.select("id", "lat", "lon")
    lo = {(r["query_id"], r["point_id"]) for r in rj.within_distance_auto(
        pts, queries, 3000.0, brute_cost_cap=1e18).collect()}
    hi = {(r["query_id"], r["point_id"]) for r in rj.within_distance_auto(
        pts, queries, 3000.0, brute_cost_cap=0).collect()}
    assert lo == hi == _brute(pts, queries, 3000.0, "haversine")


def test_ring_area_rectangles_analytic(spark):
    """ring_area_m2 is EXACT for lat/lon-aligned rectangles:
    R^2 * dlam * (sin p2 - sin p1) — an analytic, non-mirror oracle."""
    import math as m

    from osmspark.functions.geo import ring_area_m2

    R = 6371008.8
    cases = [(-10.0, 20.0, 30.0, 75.5), (1.13, 1.47, 103.6, 104.1),
             (-60.0, -59.0, -179.0, -178.0)]
    rows = []
    for i, (la0, la1, lo0, lo1) in enumerate(cases):
        ring = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
        rows.append((i, [{"lat": a, "lon": o} for a, o in ring]))
    df = spark.createDataFrame(
        rows, "rid long, ring array<struct<lat:double,lon:double>>")
    got = {r["rid"]: r["area"] for r in df.select(
        "rid", ring_area_m2(F.col("ring")).alias("area")).collect()}
    for i, (la0, la1, lo0, lo1) in enumerate(cases):
        exact = (R * R * m.radians(lo1 - lo0)
                 * (m.sin(m.radians(la1)) - m.sin(m.radians(la0))))
        assert abs(got[i] - exact) <= 1e-9 * exact, (i, got[i], exact)
    # degenerate rings are zero, plan stays native
    z = spark.createDataFrame(
        [(0, [{"lat": 1.0, "lon": 2.0}])],
        "rid long, ring array<struct<lat:double,lon:double>>")
    out = z.select(ring_area_m2(F.col("ring")).alias("area"))
    assert out.collect()[0]["area"] == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_radius_auto_accepts_res_and_bounds_broadcast(nodes, queries):
    """res must be routable through the auto dispatcher on BOTH sides of
    the threshold (it only applies to the cell path), and a huge query
    side must route to the cell path even when the pair product is under
    the cap (the brute path broadcasts the queries)."""
    pts = nodes.select("id", "lat", "lon").limit(50)
    brute_side = rj.within_distance_auto(
        pts, queries, 3000.0, brute_cost_cap=1e18, res=8)
    cell_side = rj.within_distance_auto(
        pts, queries, 3000.0, brute_cost_cap=0, res=8)
    a = {(r["query_id"], r["point_id"]) for r in brute_side.collect()}
    b = {(r["query_id"], r["point_id"]) for r in cell_side.collect()}
    assert a == b
    # 5 queries x 50 points = 250 pairs < cap, but query cap 2 forces cell
    forced = rj.within_distance_auto(
        pts, queries, 3000.0, brute_cost_cap=1e18, brute_query_cap=2)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan   # the cell path's disk UDF


def test_radius_brute_rejects_nonpositive(spark, nodes, queries):
    pts = nodes.select("id", "lat", "lon").limit(10)
    with pytest.raises(ValueError, match="positive"):
        rj.within_distance_bruteforce(pts, queries, -5.0, metric="sq_deg")
    with pytest.raises(ValueError, match="positive"):
        rj.within_distance_auto(pts, queries, 0.0)


def test_auto_dispatch_count_hints_run_no_jobs(spark):
    """n_points/n_queries hints must keep the dispatchers from executing
    derived inputs redundantly (round-5 VERDICT item 6): a poisoned
    upstream raises iff the dispatcher executes it.  kNN's map-side path
    reads the query rows while it builds the plan, so there the contract
    is: nothing runs on the points at call time, and a derived query
    frame's upstream runs exactly once across the call and the collect."""
    from osmspark.operators.knn import knn_kring

    def poisoned(df):
        schema = df.schema

        def boom(_it):
            raise RuntimeError("upstream executed")
            yield  # pragma: no cover

        return df.mapInPandas(boom, schema)

    pts = spark.createDataFrame(
        [("p0", 1.29, 103.85)], "id string, lat double, lon double")
    qs = spark.createDataFrame(
        [("q0", 1.2901, 103.8501)], "query_id string, lat double, lon double")
    ppts, pqs = poisoned(pts), poisoned(qs)

    # without hints: the count-stars execute the poisoned upstream
    with pytest.raises(Exception, match="upstream executed"):
        rj.within_distance_auto(ppts, pqs, 1000.0)
    with pytest.raises(Exception, match="upstream executed"):
        knn_kring(ppts, pqs, k=1)
    # with hints: dispatch is pure plan building — no job runs (the
    # poisoned plans would raise on ANY action)
    rj.within_distance_auto(ppts, pqs, 1000.0, n_points=1, n_queries=1)
    knn_kring(ppts, qs, k=1, n_points=1, n_queries=1)
    # hinted dispatch still returns correct results on real inputs,
    # brute (tiny hints) and cell (huge hints) path alike
    for npts, nq in ((1, 1), (10**9, 10**6)):
        rows = rj.within_distance_auto(
            pts, qs, 1000.0, n_points=npts, n_queries=nq).collect()
        assert [(r["query_id"], r["point_id"]) for r in rows] == [("q0", "p0")]
    for hints in ({}, {"n_points": 1, "n_queries": 1}):
        rows_seen = spark.sparkContext.accumulator(0)

        def counted(it, rows_seen=rows_seen):
            for b in it:
                rows_seen.add(len(b))
                yield b

        krows = knn_kring(pts, qs.mapInPandas(counted, qs.schema), k=1,
                          **hints).collect()
        assert rows_seen.value == 1, hints
        assert [(r["query_id"], r["point_id"])
                for r in krows] == [("q0", "p0")], hints
