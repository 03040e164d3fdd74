"""Nearest-polygon join vs a bit-exact DuckDB clamp oracle on rectangle
polygons, plus inside/absent semantics and plan shape."""

import duckdb
import numpy as np
from pyspark.sql import functions as F  # noqa: F401

from osmspark.operators.nearest import nearest_polygon

RECTS = {
    "r0": (1.10, 1.20, 103.10, 103.30),
    "r1": (1.18, 1.30, 103.28, 103.50),   # overlaps r0
    "r2": (1.40, 1.45, 103.05, 103.10),
}


def _polys(spark, rects=RECTS):
    return spark.createDataFrame(
        [(pid, "admin",
          [{"lat": a, "lon": o} for a, o in
           [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]],
          None) for pid, (la0, la1, lo0, lo1) in rects.items()],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")


_ORACLE = """
WITH d AS (
  SELECT p.pid, r.poly_id,
         greatest(r.la0 - p.lat, p.lat - r.la1, 0) AS dy,
         greatest(r.lo0 - p.lon, p.lon - r.lo1, 0) AS dx
  FROM pts p, rects r
), scored AS (
  SELECT pid, poly_id, dx*dx + dy*dy AS d2,
         row_number() OVER (PARTITION BY pid
                            ORDER BY dx*dx + dy*dy, poly_id) AS rn
  FROM d WHERE dx*dx + dy*dy <= ?
)
SELECT pid, poly_id, sqrt(d2) AS dist FROM scored WHERE rn = 1
"""


def test_vs_duckdb_clamp_oracle(spark):
    rng = np.random.default_rng(41)
    pts = [(f"p{i}", float(1.0 + rng.uniform(0, 0.55)),
            float(103.0 + rng.uniform(0, 0.6))) for i in range(300)]
    pdf = spark.createDataFrame(
        pts, schema="id string, lat double, lon double")
    radius = 0.05
    got = {r["point_id"]: (r["poly_id"], r["dist_deg"]) for r in
           nearest_polygon(pdf, _polys(spark), radius_deg=radius,
                           res=8).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(pid VARCHAR, lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?,?,?)", pts)
    con.execute("CREATE TABLE rects(poly_id VARCHAR, la0 DOUBLE,"
                " la1 DOUBLE, lo0 DOUBLE, lo1 DOUBLE)")
    con.executemany("INSERT INTO rects VALUES (?,?,?,?,?)",
                    [(k, *v) for k, v in RECTS.items()])
    exp = {r[0]: (r[1], r[2]) for r in
           con.execute(_ORACLE, [radius * radius]).fetchall()}
    assert set(got) == set(exp)
    for pid in exp:
        assert got[pid][0] == exp[pid][0], pid
        assert got[pid][1] == exp[pid][1], pid   # bit-exact sqrt(d2)
    # fixture sanity: inside hits, near-misses, and absences all present
    assert any(v[1] == 0.0 for v in exp.values())
    assert any(v[1] > 0.0 for v in exp.values())
    assert len(exp) < len(pts)


def test_inside_zero_and_tiebreak(spark):
    pdf = spark.createDataFrame(
        [("in_overlap", 1.19, 103.29),   # inside BOTH r0 and r1
         ("far", 5.0, 120.0)],
        schema="id string, lat double, lon double")
    got = {r["point_id"]: r for r in
           nearest_polygon(pdf, _polys(spark), radius_deg=0.02,
                           res=8).collect()}
    assert set(got) == {"in_overlap"}
    assert got["in_overlap"]["dist_deg"] == 0.0
    assert got["in_overlap"]["poly_id"] == "r0"   # (0, 'r0') < (0, 'r1')


def test_plan_shape(spark):
    pdf = spark.createDataFrame(
        [("p", 1.19, 103.29)], schema="id string, lat double, lon double")
    df = nearest_polygon(pdf, _polys(spark), radius_deg=0.02, res=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the home legs are materialized behind the localCheckpoint, so the
    # query-time plan carries exactly the disk-cell UDF and the
    # outside-leg kernel; the interior leg (most of a mostly-inside
    # corpus) is pure native
    assert plan.count("ArrowEvalPython") == 2


def test_shared_edge_tie_is_distance_not_membership(spark):
    """A point on the edge two rectangles share is at distance 0 from
    both, so nearest_polygon answers the (dist, poly_id) tie (a0, 0.0);
    the crossing-number rule puts it inside b0 only, and spatial_join
    says b0.  Nearest keeps its own distance kernel — reusing PIP
    membership would answer b0."""
    from osmspark.operators.spatial_join import spatial_join

    polys = _polys(spark, {"a0": (1.10, 1.20, 103.10, 103.30),
                           "b0": (1.10, 1.20, 103.30, 103.50)})
    pdf = spark.createDataFrame(
        [("edge", 1.15, 103.30)], schema="id string, lat double, lon double")
    got = [(r["point_id"], r["poly_id"], r["dist_deg"]) for r in
           nearest_polygon(pdf, polys, radius_deg=0.02, res=8).collect()]
    assert got == [("edge", "a0", 0.0)]
    pip = [(r["id"], r["poly_id"]) for r in
           spatial_join(pdf, polys, res=8).collect()]
    assert pip == [("edge", "b0")]
