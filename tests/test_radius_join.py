"""B5b radius join (hex disk cover == brute-force crossJoin filter)."""

import math

import pytest
from pyspark.sql import functions as F

from osmspark.functions.geo import haversine_m, sq_deg_dist
from osmspark.operators import radius_join as rj
from osmspark.plans import prepared


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


def _pinned_join(pts, queries, radius, res):
    """The radius join's two halves with the disk res pinned (as
    nearest_polygon pins it to its cover res)."""
    q, res = rj.query_disk_cells(queries, radius, res=res)
    return rj._cell_join(q, rj._point_half(pts, res, "id", ()),
                         radius, "haversine", ())


def test_radius_join_res_invariant(nodes, queries):
    """Exactness must not depend on the prefilter resolution — a coarser
    pinned res changes only the candidate volume."""
    pts = nodes.select("id", "lat", "lon")
    auto = {(r["query_id"], r["point_id"])
            for r in rj.within_distance_join(pts, queries, 2000.0).collect()}
    coarse = {(r["query_id"], r["point_id"])
              for r in _pinned_join(pts, queries, 2000.0, 6).collect()}
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
    """A pinned res too fine for the radius must raise loudly (the
    executor-side guard), not silently fan out thousands of cells; a
    pinned res past the finest one raises at plan time."""
    from py4j.protocol import Py4JJavaError

    pts = nodes.select("id", "lat", "lon")
    with pytest.raises(Exception) as ei:
        _pinned_join(pts, queries, 50000.0, 12).collect()
    assert "coarser res" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError)
    with pytest.raises(ValueError, match=r"res must be in \[0, 15\]"):
        rj._with_disk_cells(queries, "lat", "lon", 1000.0, 16, False)


def test_radius_join_no_cartesian(nodes, queries):
    """The candidate join must be an equi-join on the cell key — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan."""
    pts = nodes.select("id", "lat", "lon")
    out = rj.within_distance_join(pts, queries, 3000.0)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the disks are built on the driver: no Python runs at query time
    assert "EvalPython" not in plan, plan


def test_prepared_points_built_once(nodes, queries):
    """Two calls on one points frame share one prepared point half, and
    the second call reads it from the cache with no Python stage."""
    pts = nodes.select("id", "lat", "lon").where(F.col("lat") > -90.0)
    first = rj.within_distance_join(pts, queries, 2500.0).collect()
    out = rj.within_distance_join(pts, queries, 2500.0)
    assert sorted(out.collect()) == sorted(first)
    assert sum(e[0].sameSemantics(pts)
               for e in prepared._PREPARED.values()) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    assert "EvalPython" not in plan, plan


def test_prepared_points_follow_resaved_snapshot(spark, nodes, queries,
                                                 tmp_path):
    """A snapshot re-saved to the same stage is a new points snapshot: the
    join after each reload returns the new points' pairs, not the pairs
    of the prepared half cached for an earlier save.  A Spark write in
    this session refreshes Spark's own cache of that path; a writer in
    another process does not, so the last snapshot is published the way
    one would (new part files, the old ones gone), and only the prepared
    half's file list tells the two loads apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmspark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snap"))
    stage = tmp_path / "snap" / "nodes"
    pts = nodes.select("id", "lat", "lon")
    frames = [pts.select("id", (F.col("lat") + d).alias("lat"), "lon")
              for d in (0.0, 0.01, -0.01)]

    def publish_elsewhere(frame):
        rows = frame.collect()
        for f in stage.glob("*.parquet"):
            f.unlink()
        pq.write_table(pa.table({
            "id": [r["id"] for r in rows],
            "lat": pa.array([r["lat"] for r in rows], pa.float64()),
            "lon": pa.array([r["lon"] for r in rows], pa.float64()),
        }), stage / "part-00000-elsewhere.parquet")

    got = []
    for i, frame in enumerate(frames):
        if i < 2:
            store.save(frame, "nodes")
        else:
            publish_elsewhere(frame)
        snap = store.load(spark, "nodes")
        got.append({(r["query_id"], r["point_id"]) for r in
                    rj.within_distance_join(snap, queries, 3000.0).collect()})
        assert got[-1] == _brute(frame, queries, 3000.0, "haversine"), i
    assert len({frozenset(g) for g in got}) == 3


def test_prepared_points_lru_bound(nodes):
    """After PREPARED_MAX + 1 distinct points frames, exactly PREPARED_MAX
    prepared halves stay persisted: the least recently used one goes."""
    frames = [rj._prepared_points(
        nodes.select("id", "lat", "lon").where(F.col("lat") > -80.0 + i),
        8, "id", ()) for i in range(prepared.PREPARED_MAX + 1)]
    assert [f.storageLevel.useMemory for f in frames] == [False] + [
        True] * prepared.PREPARED_MAX
    assert len(prepared._PREPARED) == prepared.PREPARED_MAX


def test_prepared_build_runs_outside_the_registry_lock(spark):
    """A build runs outside the registry lock: while one key builds, a
    caller of another key is served, and a second caller of the building
    key waits for that build instead of starting its own."""
    import threading

    a, b = spark.range(3), spark.range(4)
    started, release = threading.Event(), threading.Event()
    got = []

    def slow():
        started.set()
        assert release.wait(60)
        return ("a",)

    def call(build):
        got.append(prepared.prepared(a, ("lock-test",), build))

    first = threading.Thread(target=call, args=(slow,))
    first.start()
    assert started.wait(60)
    second = threading.Thread(target=call, args=(lambda: ("again",),))
    second.start()
    assert prepared.prepared(b, ("lock-test",), lambda: ("b",)) == ("b",)
    assert not got                      # both callers of `a` still wait
    release.set()
    first.join(60)
    second.join(60)
    assert got == [("a",), ("a",)]


def test_auto_res_monotone():
    """Smaller radii -> finer (>=) resolution; huge radii -> coarse."""
    rs = [rj.auto_res(m) for m in (100.0, 1000.0, 10000.0, 100000.0)]
    assert rs == sorted(rs, reverse=True)
    assert rs[0] > rs[-1]
    assert all(0 <= r <= 15 for r in rs)


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


def test_radius_brute_rejects_nonpositive(spark, nodes, queries):
    pts = nodes.select("id", "lat", "lon").limit(10)
    with pytest.raises(ValueError, match="positive"):
        rj.within_distance_bruteforce(pts, queries, -5.0, metric="sq_deg")
    with pytest.raises(ValueError, match="positive"):
        rj.within_distance_join(pts, queries, 0.0)


def test_auto_dispatch_count_hints_run_no_jobs(spark):
    """kNN and the radius join read the query rows while they build the
    plan and need no count hints: nothing runs on the points at call time
    (a poisoned upstream raises iff it executes), and a derived query
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
    for op in (lambda p, q: knn_kring(p, q, k=1),
               lambda p, q: rj.within_distance_join(p, q, 500.0)):
        op(poisoned(pts), qs)
        rows_seen = spark.sparkContext.accumulator(0)

        def counted(it, rows_seen=rows_seen):
            for b in it:
                rows_seen.add(len(b))
                yield b

        rows = op(pts, qs.mapInPandas(counted, qs.schema)).collect()
        assert rows_seen.value == 1
        assert [(r["query_id"], r["point_id"]) for r in rows] == [
            ("q0", "p0")]
