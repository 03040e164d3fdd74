"""Zonal statistics: two-phase (interior cells skip the refine) equality
vs the one-phase spatial_join + groupBy form, plus the scale-shape
assertion that the interior shortcut actually fires."""

import pytest
from pyspark.sql import functions as F

from osmspark.operators import spatial_join as sj
from osmspark.operators.zonal import zonal_stats


def _rows(df):
    return {
        r["poly_id"]: tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in r[1:]
        )
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def valued_nodes(nodes):
    # deterministic value with nulls: every 7th node's value is NULL
    v = nodes.select(
        "id", "lat", "lon",
        F.when(F.pmod(F.xxhash64("id"), F.lit(7)) != 0,
               F.col("lat") * 3.0 + F.col("lon")).alias("val"),
    ).cache()
    v.count()
    return v


def test_zonal_equals_spatial_join_agg(valued_nodes, polygons):
    """The headline contract: zonal_stats == spatial_join -> groupBy, for
    every statistic, on the full generated polygon dim (which includes
    boundary-heavy small rings)."""
    got = _rows(zonal_stats(valued_nodes, polygons, value_col="val", res=7))
    exp_df = (
        sj.spatial_join(valued_nodes, polygons, res=7)
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count("val").alias("n_values"),
            F.sum("val").alias("sum_v"),
            F.min("val").alias("min_v"),
            F.max("val").alias("max_v"),
            (F.sum("val") / F.count("val")).alias("mean_v"),
        )
    )
    exp = _rows(exp_df)
    assert set(got) == set(exp)
    for pid in exp:
        assert got[pid] == exp[pid], pid


def test_zonal_count_only(valued_nodes, polygons):
    got = _rows(zonal_stats(valued_nodes, polygons, res=7))
    exp = _rows(
        sj.spatial_join(valued_nodes, polygons, res=7)
        .groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_points"))
    )
    assert got == exp


def test_zonal_interior_shortcut_fires(valued_nodes, polygons):
    """Scale shape: on a large polygon, a real fraction of cover cells is
    certified interior, and the refine leg sees only boundary-cell points
    (strictly fewer than the polygon's total points)."""
    big = polygons.filter(F.col("poly_id") == "admin_0")
    if big.count() == 0:  # fall back to the first polygon
        big = polygons.limit(1)
    cov = sj.polygon_cover(big, res=8)[0]
    n_int = cov.filter("interior").count()
    n_bnd = cov.filter("NOT interior").count()
    assert n_int > 0, "no interior cells certified on the largest polygon"
    assert n_bnd > 0
    # refine-leg row count < polygon point count (interior points skipped)
    from osmspark.functions import hexgrid
    pts = hexgrid.with_hex_cell(valued_nodes, 8, out_col="__c")
    in_poly = sj.spatial_join(valued_nodes, big, res=8).count()
    refine_rows = pts.join(
        cov.filter(~F.col("interior")), pts["__c"] == cov["cell"]).count()
    if in_poly > 0:
        assert refine_rows < in_poly


def test_zonal_duplicate_id_parts(spark):
    """Multipolygon parts share a poly_id: each part keeps its own cover
    and ring, so zonal_stats counts every point inside either part,
    boundary-cell points included — the spatial_join membership."""
    parts = [[(1.30, 103.70), (1.30, 103.75), (1.35, 103.75),
              (1.35, 103.70), (1.30, 103.70)],
             [(1.40, 103.85), (1.40, 103.90), (1.45, 103.90),
              (1.45, 103.85), (1.40, 103.85)]]
    polys = spark.createDataFrame(
        [("m", "admin", [{"lat": a, "lon": o} for a, o in ring], None)
         for ring in parts],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    pts = spark.createDataFrame(
        [("a", 1.325, 103.725), ("a_edge", 1.3005, 103.7005),
         ("b", 1.425, 103.875), ("out", 1.38, 103.80)],
        "id string, lat double, lon double",
    )
    got = _rows(zonal_stats(pts, polys, res=8))
    exp = _rows(sj.spatial_join(pts, polys, res=8).groupBy("poly_id")
                .agg(F.count(F.lit(1)).alias("n_points")))
    assert got == exp == {"m": (3,)}


def test_zonal_null_values_and_empty_polygon(spark, valued_nodes):
    """All-null value column -> n_values 0, null sum/mean; a polygon with
    no points emits no row (inner-join semantics, documented)."""
    polys = spark.createDataFrame(
        [("hit", "admin",
          [{"lat": la, "lon": lo} for la, lo in
           [(1.0, 103.0), (1.0, 104.5), (1.9, 104.5), (1.9, 103.0),
            (1.0, 103.0)]], None),
         ("empty", "admin",
          [{"lat": la, "lon": lo} for la, lo in
           [(60.0, 10.0), (60.0, 10.1), (60.1, 10.1), (60.1, 10.0),
            (60.0, 10.0)]], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    nulled = valued_nodes.withColumn("val", F.lit(None).cast("double"))
    out = {r["poly_id"]: r for r in
           zonal_stats(nulled, polys, value_col="val", res=7).collect()}
    assert "empty" not in out
    if "hit" in out:
        r = out["hit"]
        assert r["n_values"] == 0
        assert r["sum_v"] is None and r["mean_v"] is None


def test_zonal_plan_shape(valued_nodes, polygons):
    """No cartesian; broadcast cover joins; Python only in the boundary
    refine (exactly one ArrowEvalPython per branch that needs it)."""
    plan = zonal_stats(valued_nodes, polygons, value_col="val", res=7) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    # interior branch must NOT evaluate Python: count ArrowEvalPython ==
    # count of refine legs (1)
    assert plan.count("ArrowEvalPython") == 1


# --- zonal length (segment-polygon clipping) -------------------------------

def _clip_rect_oracle(p1, p2, rect):
    """Independent scalar clip of segment (p1, p2) vs an axis-aligned
    rectangle (la0, la1, lo0, lo1): inside parameter interval by
    half-plane clamping (convex), haversine length of the clipped piece."""
    import numpy as np
    from osmspark.functions.geo import haversine_np

    la0, la1, lo0, lo1 = rect
    (y1, x1), (y2, x2) = p1, p2
    t0, t1 = 0.0, 1.0
    for lo_b, hi_b, a, b in ((la0, la1, y1, y2), (lo0, lo1, x1, x2)):
        d = b - a
        if d == 0:
            if not (lo_b <= a <= hi_b):
                return 0.0, 0.0
        else:
            ta, tb = (lo_b - a) / d, (hi_b - a) / d
            t0 = max(t0, min(ta, tb))
            t1 = min(t1, max(ta, tb))
    if t1 <= t0:
        return 0.0, 0.0
    cy1, cx1 = y1 + t0 * (y2 - y1), x1 + t0 * (x2 - x1)
    cy2, cx2 = y2 * t1 + y1 * (1 - t1), x2 * t1 + x1 * (1 - t1)
    return t1 - t0, float(haversine_np(
        np.array([cy1]), np.array([cx1]), np.array([cy2]), np.array([cx2]))[0])


def test_zonal_length_vs_rect_oracle(spark):
    """Random segments vs rectangle polygons: frac and length match the
    independent half-plane clamp oracle (convex => closed form)."""
    import numpy as np
    from osmspark.operators.zonal import zonal_length

    rng = np.random.default_rng(21)
    rects = {
        "r0": (1.05, 1.20, 103.05, 103.30),
        "r1": (1.18, 1.35, 103.25, 103.50),   # overlaps r0
        "r2": (1.40, 1.45, 103.00, 103.05),
    }
    polys = spark.createDataFrame(
        [(pid, "admin",
          [{"lat": a, "lon": o} for a, o in
           [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]],
          None) for pid, (la0, la1, lo0, lo1) in rects.items()],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")
    rows = []
    for i in range(250):
        y = 1.0 + rng.uniform(0, 0.5)
        x = 103.0 + rng.uniform(0, 0.55)
        rows.append((f"s{i}", float(y), float(x),
                     float(y + rng.uniform(-0.1, 0.1)),
                     float(x + rng.uniform(-0.1, 0.1))))
    segs = spark.createDataFrame(
        rows, schema="seg_id string, lat1 double, lon1 double, "
                     "lat2 double, lon2 double")
    got = {(r["seg_id"], r["poly_id"]): (r["frac_inside"], r["len_in_m"])
           for r in zonal_length(segs, polys, res=8, pairs=True).collect()}
    exp = {}
    for sid, y1, x1, y2, x2 in rows:
        for pid, rect in rects.items():
            f, lm = _clip_rect_oracle((y1, x1), (y2, x2), rect)
            if f > 0:
                exp[(sid, pid)] = (f, lm)
    assert set(got) == set(exp)
    for k, (f, lm) in exp.items():
        gf, glm = got[k]
        assert abs(gf - f) < 1e-9, k
        assert abs(glm - lm) < max(1e-6 * lm, 1e-6), k
    assert len(exp) > 50
    # aggregate grain: sums match the pair grain
    agg = {r["poly_id"]: (r["n_segments"], r["len_m"]) for r in
           zonal_length(segs, polys, res=8).collect()}
    for pid in rects:
        pairs = [v for (s, p), v in exp.items() if p == pid]
        if pairs:
            assert agg[pid][0] == len(pairs)
            assert abs(agg[pid][1] - sum(v[1] for v in pairs)) \
                < 1e-6 * max(1.0, agg[pid][1])


def test_zonal_length_concave_multicross(spark):
    """A segment chording a U-shaped polygon crosses in-out-in: two inside
    intervals, summed exactly."""
    from osmspark.operators.zonal import zonal_length

    # U shape: two towers (width 0.1) joined by a base
    ring = [(1.0, 103.0), (1.0, 103.5), (1.3, 103.5), (1.3, 103.4),
            (1.1, 103.4), (1.1, 103.1), (1.3, 103.1), (1.3, 103.0),
            (1.0, 103.0)]
    polys = spark.createDataFrame(
        [("u", "admin", [{"lat": a, "lon": o} for a, o in ring], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")
    # horizontal segment at lat 1.2 from lon 102.95 to 103.55: crosses
    # tower1 [103.0, 103.1] and tower2 [103.4, 103.5] -> frac = 0.2/0.6
    segs = spark.createDataFrame(
        [("chord", 1.2, 102.95, 1.2, 103.55)],
        schema="seg_id string, lat1 double, lon1 double, "
               "lat2 double, lon2 double")
    r = zonal_length(segs, polys, res=7, pairs=True).collect()
    assert len(r) == 1
    assert abs(r[0]["frac_inside"] - 0.2 / 0.6) < 1e-9


def test_zonal_length_fully_inside_and_outside(spark):
    from osmspark.operators.zonal import zonal_length
    from osmspark.functions.geo import haversine_np
    import numpy as np

    polys = spark.createDataFrame(
        [("box", "admin",
          [{"lat": a, "lon": o} for a, o in
           [(1.0, 103.0), (1.0, 103.5), (1.5, 103.5), (1.5, 103.0),
            (1.0, 103.0)]], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")
    segs = spark.createDataFrame(
        [("in", 1.2, 103.1, 1.3, 103.2), ("out", 2.0, 104.0, 2.1, 104.1)],
        schema="seg_id string, lat1 double, lon1 double, "
               "lat2 double, lon2 double")
    got = {r["seg_id"]: r for r in
           zonal_length(segs, polys, res=8, pairs=True).collect()}
    assert set(got) == {"in"}
    assert abs(got["in"]["frac_inside"] - 1.0) < 1e-12
    full = float(haversine_np(np.array([1.2]), np.array([103.1]),
                              np.array([1.3]), np.array([103.2]))[0])
    assert abs(got["in"]["len_in_m"] - full) < 1e-9 * full


def test_zonal_length_plan(spark):
    from osmspark.operators.zonal import zonal_length

    polys = spark.createDataFrame(
        [("box", "admin",
          [{"lat": a, "lon": o} for a, o in
           [(1.0, 103.0), (1.0, 103.5), (1.5, 103.5), (1.5, 103.0),
            (1.0, 103.0)]], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")
    segs = spark.createDataFrame(
        [("in", 1.2, 103.1, 1.3, 103.2)],
        schema="seg_id string, lat1 double, lon1 double, "
               "lat2 double, lon2 double")
    plan = zonal_length(segs, polys, res=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_duplicated_dim_row_counts_per_row(spark):
    """Two byte-identical dim rows are two dim rows to every point x
    polygon operator: spatial_join emits each point once per copy,
    zonal_stats counts it once per copy, and zonal_length counts each
    segment once per copy, with the length summed per copy."""
    from osmspark.operators.zonal import zonal_length

    box = [(1.30, 103.70), (1.30, 103.75), (1.35, 103.75), (1.35, 103.70),
           (1.30, 103.70)]
    row = ("dup", "admin", [{"lat": a, "lon": o} for a, o in box], None)
    schema = ("poly_id string, level string, "
              "ring array<struct<lat:double,lon:double>>, postcode string")
    one = spark.createDataFrame([row], schema=schema)
    two = spark.createDataFrame([row, row], schema=schema)
    pts = spark.createDataFrame(
        [("a", 1.325, 103.725), ("edge", 1.3005, 103.7005),
         ("out", 1.38, 103.80)],
        "id string, lat double, lon double")
    segs = spark.createDataFrame(
        [("s", 1.32, 103.65, 1.32, 103.73)],
        "seg_id string, lat1 double, lon1 double, lat2 double, lon2 double")

    assert sorted(r["id"] for r in sj.spatial_join(pts, two, res=8)
                  .collect()) == ["a", "a", "edge", "edge"]
    assert _rows(zonal_stats(pts, two, res=8)) == {"dup": (4,)}
    single = zonal_length(segs, one, res=8).collect()
    double = zonal_length(segs, two, res=8).collect()
    assert len(single) == len(double) == 1
    assert single[0]["n_segments"] == 1 and double[0]["n_segments"] == 2
    assert double[0]["len_m"] == pytest.approx(2.0 * single[0]["len_m"])
