"""B4 two-phase PIP join vs a pure-Python ray-cast oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmspark.operators import spatial_join as sj


def _pip_py(py, px, ring):
    """Independent scalar crossing-number implementation (the oracle)."""
    inside = False
    for (y1, x1), (y2, x2) in zip(ring, ring[1:]):
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return inside


def _cover_cells(lats, lons, res):
    """Cover cells of one ring, as the dim-side cover map computes them."""
    return sj._cover_pieces_flagged(sj.split_ring(lats, lons), res)[0]


def _same_rows_both_plans(spark, run):
    """`run()`'s rows at the session's broadcast threshold and at 1 byte,
    below any non-empty cover: the cover join plans as a
    BroadcastHashJoin, then as a SortMergeJoin, with the same rows."""
    from collections import Counter

    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    got = []
    for threshold, kind, other in ((default, "BroadcastHashJoin",
                                    "SortMergeJoin"),
                                   ("1", "SortMergeJoin",
                                    "BroadcastHashJoin")):
        spark.conf.set(key, threshold)
        try:
            out = run()
            got.append(Counter(tuple(r) for r in out.collect()))
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, default)
        assert kind in plan and other not in plan, plan
    assert got[0] == got[1]
    return got[0]


def test_points_in_rings_np_vs_scalar():
    rng = np.random.default_rng(7)
    n = 500
    py = rng.uniform(0, 10, n)
    px = rng.uniform(0, 10, n)
    rings = []
    for i in range(n):
        cx, cy = rng.uniform(2, 8, 2)
        nv = rng.integers(3, 9)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.5, 3.0, nv)
        ring = [(cy + r * np.sin(a), cx + r * np.cos(a)) for a, r in zip(ang, rad)]
        ring.append(ring[0])
        rings.append(ring)
    got = np.array([
        sj._pip_single_ring(py[i:i + 1], px[i:i + 1],
                            np.array([p[0] for p in r]),
                            np.array([p[1] for p in r]))[0]
        for i, r in enumerate(rings)])
    exp = np.array([_pip_py(py[i], px[i], rings[i]) for i in range(n)])
    assert (got == exp).all()
    assert exp.any() and (~exp).any()  # both classes exercised


def test_cover_cells_superset(polygons):
    """Every vertex and interior sample of each polygon falls in a cover cell."""
    from osmspark.functions import hexgrid

    rows = polygons.collect()
    for r in rows[:20]:
        ring = [(p["lat"], p["lon"]) for p in r["ring"]]
        lats = np.array([p[0] for p in ring])
        lons = np.array([p[1] for p in ring])
        cover = set(_cover_cells(lats, lons, 7).tolist())
        # interior samples: convex combinations of vertices
        rng = np.random.default_rng(1)
        w = rng.dirichlet(np.ones(len(ring)), 50)
        slat = w @ lats
        slon = w @ lons
        cells = hexgrid.latlon_to_cell(slat, slon, 7)
        assert set(cells.tolist()) <= cover


@pytest.fixture(scope="module")
def joined(nodes, polygons):
    pts = nodes.select("id", "lat", "lon")
    return sj.spatial_join(pts, polygons, res=7).cache()


def test_spatial_join_vs_bruteforce(joined, nodes, polygons):
    got = {(r["id"], r["poly_id"]) for r in joined.collect()}
    pts = nodes.select("id", "lat", "lon").collect()
    polys = polygons.collect()
    exp = set()
    for p in pts:
        for pr in polys:
            ring = [(v["lat"], v["lon"]) for v in pr["ring"]]
            if _pip_py(p["lat"], p["lon"], ring):
                exp.add((p["id"], pr["poly_id"]))
    assert got == exp
    assert len(exp) > 100  # non-trivial workload


def test_spatial_join_no_rowwise_python(joined):
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the refine UDF, Arrow-batched


def test_spatial_join_broadcasts_polygons(joined):
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_multiface_polygon_join(spark):
    """Rings straddling cube-face boundaries (lon=45deg: face 0|1 edge;
    lat=45deg at lon=0: face 0|2 edge) — PIP join must equal brute force.
    Round 1 raised ValueError on any multi-face ring."""
    rects = {
        "lon45": (10.0, 12.0, 44.0, 46.0),    # crosses face 0 -> 1
        "lat45": (44.0, 46.0, -1.0, 1.0),     # crosses face 0 -> 2
        "corner": (44.2, 45.8, 43.9, 46.1),   # near the 3-face corner
    }
    rows = []
    for pid, (la0, la1, lo0, lo1) in rects.items():
        ring = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
        rows.append((pid, "test", [{"lat": a, "lon": o} for a, o in ring], None))
    polys = spark.createDataFrame(
        rows,
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    rng = np.random.default_rng(11)
    plat_l, plon_l = [], []
    for la0, la1, lo0, lo1 in rects.values():
        plat_l.append(rng.uniform(la0 - 1.0, la1 + 1.0, 1200))
        plon_l.append(rng.uniform(lo0 - 1.0, lo1 + 1.0, 1200))
    plat = np.concatenate(plat_l)
    plon = np.concatenate(plon_l)
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = {(r["id"], r["poly_id"])
           for r in sj.spatial_join(pts, polys, res=7).collect()}
    exp = set()
    for pid, (la0, la1, lo0, lo1) in rects.items():
        ring = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
        for i in range(len(plat)):
            if _pip_py(plat[i], plon[i], ring):
                exp.add((str(i), pid))
    assert got == exp
    assert len(exp) > 50  # each rect must catch points on BOTH faces


def test_multiface_cover_superset():
    """Interior samples of a face-straddling ring always land in the cover."""
    from osmspark.functions import hexgrid

    lats = np.array([10.0, 10.0, 12.0, 12.0, 10.0])
    lons = np.array([44.0, 46.0, 46.0, 44.0, 44.0])
    cover = set(_cover_cells(lats, lons, 8).tolist())
    faces = {hexgrid.unpack(np.array([c]))[1][0] for c in cover}
    assert len(faces) == 2  # cover spans both cube faces
    rng = np.random.default_rng(3)
    slat = rng.uniform(10.0, 12.0, 500)
    slon = rng.uniform(44.0, 46.0, 500)
    cells = hexgrid.latlon_to_cell(slat, slon, 8)
    assert set(cells.tolist()) <= cover


def test_interior_shortcut_equals_full_refine(nodes, polygons):
    """The refine keeps certified-interior candidates without a ray-cast;
    passing every candidate's `interior` flag as False (so every
    candidate is ray-cast) must give the same result, and the fixture
    must actually exercise the shortcut (at least one interior candidate
    — the fixture quads certify none at res 7, so this runs at res 8)."""
    from osmspark.functions import hexgrid

    pts = nodes.select("id", "lat", "lon")
    a = {(r["id"], r["poly_id"]) for r in
         sj.spatial_join(pts, polygons, res=8).collect()}
    cover, rings, res_list = sj.polygon_cover(polygons, res=8)
    cells = hexgrid.with_hex_cell(pts, 8, out_col="cell")
    n_interior = cells.join(
        cover.filter("interior").select("cell"), "cell").count()
    assert n_interior > 0

    refine = sj._membership()
    b = {(r["id"], r["poly_id"]) for r in
         sj._candidates(pts, cover, res_list).join(rings, "ring_key")
         .filter(refine(F.col("lat"), F.col("lon"), *sj._RING, F.lit(False)))
         .collect()}
    assert a == b and len(a) > 100


def test_grouped_chunks_rows_by_ring_size(monkeypatch):
    """The group-by-polygon loop splits each polygon's rows so rows x
    edges stays under `_GRID_CHUNK`: with the bound set small, the PIP
    and nearest-distance kernels run many times per polygon and return
    exactly what one unchunked call per polygon does."""
    from osmspark.operators.nearest import _poly_dist2

    rng = np.random.default_rng(5)
    ang = np.linspace(0.0, 2 * np.pi, 200)
    rad = 1.0 + 0.3 * np.sin(7 * ang)
    pieces_by_code = []
    for cy, cx in ((0.0, 0.0), (3.0, 1.0)):
        la, lo = cy + rad * np.sin(ang), cx + rad * np.cos(ang)
        la[-1], lo[-1] = la[0], lo[0]
        pieces_by_code.append(sj.split_ring(la, lo))
    n = 3000
    codes = rng.integers(-1, 2, n)
    cols = (rng.uniform(-1.5, 4.5, n), rng.uniform(-1.5, 2.5, n))
    for kernel, fill in ((sj._pip_pieces, False), (_poly_dist2, -1.0)):
        calls = []

        def counted(*a, kernel=kernel):
            calls.append(len(a[0]))
            return kernel(*a)

        want = sj._grouped(counted, codes, cols, pieces_by_code, [fill])
        assert len(calls) == 2
        calls.clear()
        monkeypatch.setattr(sj, "_GRID_CHUNK", 1000)
        got = sj._grouped(counted, codes, cols, pieces_by_code, [fill])
        monkeypatch.undo()
        assert len(calls) > 100 and max(calls) * 200 <= 1000
        np.testing.assert_array_equal(got[0], want[0])


def test_antimeridian_join_equals_shifted_frame(spark):
    """A ring crossing +-180 must join identically to the same geometry
    expressed in a shifted frame where nothing crosses (round-2 VERDICT:
    v2 rejected these; a global admin dim has rings at the antimeridian)."""
    ring = [(10.0, 179.0), (10.0, -179.0), (12.0, -179.0), (12.0, 179.0),
            (10.0, 179.0)]
    polys = spark.createDataFrame(
        [("am", "test", [{"lat": a, "lon": o} for a, o in ring], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    rng = np.random.default_rng(7)
    plat = rng.uniform(9.0, 13.0, 2000)
    # lons straddling the antimeridian on both sides
    plon_u = rng.uniform(177.5, 182.5, 2000)
    plon = np.where(plon_u > 180.0, plon_u - 360.0, plon_u)
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = {r["id"] for r in sj.spatial_join(pts, polys, res=7).collect()}
    # expected: shift the whole frame by -90deg so nothing crosses
    def shift(lo):
        s = lo - 90.0
        return s + 360.0 if s < -180.0 else s
    ring_s = [(la, shift(lo if lo > 0 else lo + 360.0)) for la, lo in ring]
    exp = {str(i) for i in range(len(plat))
           if _pip_py(plat[i], shift(plon_u[i]), ring_s)}
    assert got == exp
    # points on BOTH sides of the antimeridian must be present
    assert any(plon[int(i)] > 0 for i in got)
    assert any(plon[int(i)] < 0 for i in got)
    assert len(exp) > 300


def test_antimeridian_cover_superset():
    """Interior samples of an antimeridian-crossing ring land in its cover."""
    from osmspark.functions import hexgrid

    lats = np.array([10.0, 10.0, 12.0, 12.0, 10.0])
    lons = np.array([179.0, -179.0, -179.0, 179.0, 179.0])
    cover = set(_cover_cells(lats, lons, 7).tolist())
    rng = np.random.default_rng(5)
    slat = rng.uniform(10.0, 12.0, 500)
    slon_u = rng.uniform(179.0, 181.0, 500)
    slon = np.where(slon_u > 180.0, slon_u - 360.0, slon_u)
    cells = hexgrid.latlon_to_cell(slat, slon, 7)
    assert set(cells.tolist()) <= cover


def test_distributed_join_equals_broadcast(spark, nodes, polygons):
    """The cover join shuffled (a cover past the broadcast threshold) is
    result-identical to the broadcast one (a points frame of its own, so
    neither run reads the cached `joined` fixture)."""
    pts = nodes.select("id", "lat", "lon").where(F.col("lat") > -90.0)
    got = _same_rows_both_plans(
        spark, lambda: sj.spatial_join(pts, polygons, res=7).select(
            "id", "poly_id"))
    exp = {(r["id"], r["poly_id"]) for r in
           sj.spatial_join(pts, polygons, res=7).collect()}
    assert set(got) == exp and len(exp) > 100


def test_distributed_join_antimeridian(spark):
    """The shuffled cover join handles antimeridian rings the same way."""
    ring = [(10.0, 179.0), (10.0, -179.0), (12.0, -179.0), (12.0, 179.0),
            (10.0, 179.0)]
    polys = spark.createDataFrame(
        [("am", "test", [{"lat": a, "lon": o} for a, o in ring], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    pts = spark.createDataFrame(
        [("in_e", 11.0, 179.5), ("in_w", 11.0, -179.5),
         ("out_n", 13.0, 179.5), ("out_lon", 11.0, 178.0)],
        "id string, lat double, lon double",
    )
    got = _same_rows_both_plans(
        spark, lambda: sj.spatial_join(pts, polys, res=7).select("id"))
    assert set(got) == {("in_e",), ("in_w",)}


def _mk_polys(spark, rings_by_id):
    rows = [(pid, "test", [{"lat": a, "lon": o} for a, o in ring], None)
            for pid, ring in rings_by_id.items()]
    return spark.createDataFrame(
        rows,
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )


def test_hemisphere_wide_ring_joins(spark):
    """Round-3 VERDICT item 3: a ring spanning >180 deg of longitude used
    to raise; split_ring bisects it into coverable pieces and the join
    must equal a strict planar box test."""
    la0, la1, lo0, lo1 = 0.5, 20.5, -100.5, 100.5  # 201 deg of longitude
    # edge vertices every ~50 deg: consecutive lon deltas stay < 180, so
    # the shortest-path unwrap convention reads the ring unambiguously
    # (a single 201-deg edge would be interpreted as crossing +-180)
    lo_steps = np.linspace(lo0, lo1, 5)
    ring = ([(la0, float(lo)) for lo in lo_steps]
            + [(la1, float(lo)) for lo in lo_steps[::-1]]
            + [(la0, lo0)])
    polys = _mk_polys(spark, {"wide": ring})
    rng = np.random.default_rng(17)
    plat = rng.uniform(-5.0, 26.0, 3000)
    plon = rng.uniform(-120.0, 120.0, 3000)
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = {r["id"] for r in sj.spatial_join(pts, polys, res=4).collect()}
    exp = {str(i) for i in range(len(plat))
           if la0 < plat[i] < la1 and lo0 < plon[i] < lo1}
    assert got == exp
    assert len(exp) > 500


def test_polar_cap_ring_joins(spark):
    """A pole-encircling ring (net longitude winding) joins as the region
    between the curve and the encircled pole: winding EASTWARD keeps the
    north side (interior on the traversal's left), WESTWARD the south
    side.  Ground truth: lat vs the (piecewise-linear) curve, with points
    sampled >1 deg away from the boundary so interpolation conventions
    cannot flip them."""
    lon_grid = np.arange(-180.0, 180.1, 5.0)
    curve = -60.0 + 5.0 * np.sin(np.radians(3.0 * lon_grid))
    east = [(float(curve[i]), float(lon_grid[i]))
            for i in range(len(lon_grid))]
    west = list(reversed(east))
    polys = _mk_polys(spark, {"north_side": east, "south_side": west})
    rng = np.random.default_rng(23)
    plat = rng.uniform(-89.5, -30.0, 4000)
    plon = rng.uniform(-180.0, 180.0, 4000)
    f = np.interp(plon, lon_grid, curve)
    keep = np.abs(plat - f) > 1.0  # dodge the boundary band
    plat, plon, f = plat[keep], plon[keep], f[keep]
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = {(r["id"], r["poly_id"])
           for r in sj.spatial_join(pts, polys, res=3).collect()}
    exp = set()
    for i in range(len(plat)):
        exp.add((str(i), "north_side" if plat[i] > f[i] else "south_side"))
    assert got == exp
    assert sum(1 for _, p in exp if p == "south_side") > 300
    assert sum(1 for _, p in exp if p == "north_side") > 300


def test_polar_cap_distributed_equals_broadcast(spark):
    """The shuffled cover join splits polar rings identically."""
    lon_grid = np.arange(-180.0, 180.1, 10.0)
    curve = -65.0 + 4.0 * np.sin(np.radians(2.0 * lon_grid))
    west = [(float(curve[i]), float(lon_grid[i]))
            for i in range(len(lon_grid))][::-1]
    polys = _mk_polys(spark, {"cap": west})
    rng = np.random.default_rng(29)
    plat = rng.uniform(-89.0, -40.0, 1500)
    plon = rng.uniform(-180.0, 180.0, 1500)
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = _same_rows_both_plans(
        spark, lambda: sj.spatial_join(pts, polys, res=3).select("id"))
    f = np.interp(plon, lon_grid, curve)
    clear = {(str(i),) for i in range(len(plat)) if plat[i] < f[i] - 1.0}
    assert clear <= set(got) and len(got) > 100


def test_split_ring_pieces_tile_exactly():
    """split_ring invariant: every point is inside the original ring iff
    it is inside EXACTLY ONE piece (no gaps, no double counting) — checked
    on a concave ring forced through the splitter by width."""
    # concave 'C'-shaped ring, 220 deg wide -> must split; long horizontal
    # edges carry intermediate vertices so the shortest-path unwrap reads
    # them unambiguously (deltas < 180)
    corners = [(0.0, -110.0), (0.0, 110.0), (30.0, 110.0), (30.0, -110.0),
               (20.0, -110.0), (20.0, 100.0), (10.0, 100.0), (10.0, -110.0),
               (0.0, -110.0)]
    ring = []
    for (a0, o0), (a1, o1) in zip(corners, corners[1:]):
        n = max(int(abs(o1 - o0) // 60) + 1, 1)
        for t in np.arange(n) / n:
            ring.append((a0 + t * (a1 - a0), o0 + t * (o1 - o0)))
    ring.append(corners[-1])
    lats = np.array([p[0] for p in ring])
    lons = np.array([p[1] for p in ring])
    pieces = sj.split_ring(lats, lons)
    assert len(pieces) > 1
    rng = np.random.default_rng(31)
    py = rng.uniform(-5.0, 35.0, 4000)
    px = rng.uniform(-130.0, 130.0, 4000)
    counts = np.zeros(len(py), dtype=np.int64)
    for rl, rlon in pieces:
        counts += sj._pip_single_ring(py, px, rl, rlon).astype(np.int64)
    exp = np.array([_pip_py(py[i], px[i], ring) for i in range(len(py))])
    assert (counts <= 1).all()              # disjoint interiors
    assert ((counts == 1) == exp).all()     # union == original
    assert exp.sum() > 300 and (~exp).sum() > 300


def test_spatial_join_adaptive_mixed_dim(spark):
    """Adaptive cover res (round 4): a dim mixing a km-scale rectangle
    with a polar cap must pick a fine res for the rectangle and a coarse
    one for the cap, keep every polygon's cover within the cell budget,
    and return exactly the fixed-ground-truth membership."""
    rect = [(1.2, 103.7), (1.2, 103.9), (1.4, 103.9), (1.4, 103.7),
            (1.2, 103.7)]
    lon_grid = np.arange(-180.0, 180.1, 10.0)
    curve = -65.0 + 4.0 * np.sin(np.radians(2.0 * lon_grid))
    cap = [(float(curve[i]), float(lon_grid[i]))
           for i in range(len(lon_grid))][::-1]  # westward -> south side
    polys = _mk_polys(spark, {"rect": rect, "cap": cap})
    rng = np.random.default_rng(41)
    plat = np.concatenate([rng.uniform(1.0, 1.6, 1500),
                           rng.uniform(-89.0, -40.0, 1500)])
    plon = np.concatenate([rng.uniform(103.5, 104.1, 1500),
                           rng.uniform(-180.0, 180.0, 1500)])
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = {(r["id"], r["poly_id"]) for r in sj.spatial_join(
        pts, polys, res=7, min_res=2, max_cover_cells=2048).collect()}
    f = np.interp(plon, lon_grid, curve)
    exp = set()
    for i in range(len(plat)):
        if 1.2 < plat[i] < 1.4 and 103.7 < plon[i] < 103.9:
            exp.add((str(i), "rect"))
        if plat[i] < f[i] - 1.0:           # clear of the boundary band
            exp.add((str(i), "cap"))
    near_boundary = {(str(i), "cap") for i in range(len(plat))
                     if abs(plat[i] - f[i]) <= 1.0}
    assert got - near_boundary == exp
    assert len(exp) > 400
    # one res per dim row + budget, read back from the cached cover
    def split(ring):
        return sj.split_ring(np.array([p[0] for p in ring]),
                             np.array([p[1] for p in ring]))

    assert len(split(rect)) == 1 and len(split(cap)) > 1
    cover, _, res_list = sj.polygon_cover(polys, res=7, min_res=2,
                                          max_cover_cells=2048)
    rows = {r["poly_id"]: r for r in cover.groupBy("poly_id", "res").agg(
        F.count("*").alias("n"),
        F.max(F.col("interior").cast("int")).alias("any_interior"),
    ).collect()}
    assert len(rows) == 2 and set(rows) == {"rect", "cap"}
    assert rows["rect"]["res"] == 7         # small polygon -> finest res
    assert rows["cap"]["res"] < 7           # huge polygon -> coarser res
    assert res_list == sorted(r["res"] for r in rows.values())
    assert all(r["n"] <= 2048 for r in rows.values())
    # the big cap certifies a substantial interior (the refine-skip fuel)
    assert rows["cap"]["any_interior"] == 1


def test_wide_ring_cover_superset():
    """Interior samples of a hemisphere-wide ring always land in its
    (split-merged) cover."""
    from osmspark.functions import hexgrid

    lo_steps = np.linspace(-100.0, 100.0, 5)
    lats = np.array([0.0] * 5 + [20.0] * 5 + [0.0])
    lons = np.concatenate([lo_steps, lo_steps[::-1], [-100.0]])
    cover = set(_cover_cells(lats, lons, 4).tolist())
    rng = np.random.default_rng(37)
    slat = rng.uniform(0.01, 19.99, 800)
    slon = rng.uniform(-99.99, 99.99, 800)
    cells = hexgrid.latlon_to_cell(slat, slon, 4)
    assert set(cells.tolist()) <= cover


def _square(la, lo, d):
    return [(la, lo), (la, lo + d), (la + d, lo + d), (la + d, lo), (la, lo)]


@pytest.mark.parametrize("min_res", [None, 5])
def test_duplicate_id_parts_equal_bruteforce(spark, min_res):
    """Multipolygon parts share a poly_id: each dim row keeps its own
    cover and ring.  Points in the first part's boundary cells (one
    0.0005 deg inside its corner) must not be ray-cast against the other
    part's ring."""
    parts = [_square(1.30, 103.70, 0.05), _square(1.40, 103.85, 0.05)]
    rows = [("m", "test", [{"lat": a, "lon": o} for a, o in ring], None)
            for ring in parts]
    polys = spark.createDataFrame(
        rows,
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    rng = np.random.default_rng(43)
    plat = np.concatenate([rng.uniform(1.29, 1.36, 800),
                           rng.uniform(1.39, 1.46, 800), [1.3005]])
    plon = np.concatenate([rng.uniform(103.69, 103.76, 800),
                           rng.uniform(103.84, 103.91, 800), [103.7005]])
    pts = spark.createDataFrame(
        [(str(i), float(plat[i]), float(plon[i])) for i in range(len(plat))],
        "id string, lat double, lon double",
    )
    got = sj.spatial_join(pts, polys, res=8, min_res=min_res,
                          max_cover_cells=4096).collect()
    exp = [str(i) for i in range(len(plat)) for ring in parts
           if _pip_py(plat[i], plon[i], ring)]
    assert sorted(r["id"] for r in got) == sorted(exp)
    assert {r["poly_id"] for r in got} == {"m"}
    assert str(len(plat) - 1) in exp        # the corner point is in
    assert len(exp) > 500


@pytest.mark.parametrize("min_res", [None, 3])
def test_spatial_join_empty_dim_column_order(spark, min_res):
    """An empty dim yields no rows and the same columns, in the same
    order, as a non-empty one."""
    polys = spark.createDataFrame(
        [], schema="poly_id string, level string, "
                   "ring array<struct<lat:double,lon:double>>, "
                   "postcode string")
    pts = spark.createDataFrame([("a", 1.3, 103.8)],
                                "id string, lat double, lon double")
    out = sj.spatial_join(pts, polys, res=8, min_res=min_res)
    assert out.columns == ["poly_id", "id", "lat", "lon", "level",
                           "postcode"]
    assert out.count() == 0


def test_candidate_join_runs_once_per_res(spark):
    """The points' upstream runs once per distinct cover res — the
    interior and boundary candidates share one candidate pass and one
    refine, never a second copy of the candidate join."""
    from pyspark.sql import types as T

    rect = [(1.2, 103.7), (1.2, 103.9), (1.4, 103.9), (1.4, 103.7),
            (1.2, 103.7)]
    box = ([(-10.0, float(lo)) for lo in range(60, 151, 30)]
           + [(40.0, float(lo)) for lo in range(150, 59, -30)]
           + [(-10.0, 60.0)])
    polys = _mk_polys(spark, {"rect": rect, "box": box})
    _, _, res_list = sj.polygon_cover(polys, res=8, min_res=3,
                                      max_cover_cells=2048)
    assert len(res_list) == 2
    rng = np.random.default_rng(47)
    n = 2000
    base = spark.createDataFrame(
        [(str(i), float(a), float(o)) for i, (a, o) in enumerate(zip(
            rng.uniform(1.0, 1.6, n), rng.uniform(103.5, 104.1, n)))],
        "id string, lat double, lon double",
    )
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf(T.DoubleType())
    def counted(v):
        seen.add(len(v))
        return v

    pts = base.select("id", counted("lat").alias("lat"), "lon")
    out = sj.spatial_join(pts, polys, res=8, min_res=3,
                          max_cover_cells=2048).collect()
    assert {r["poly_id"] for r in out} == {"rect", "box"}
    assert seen.value == n * len(set(res_list))


@pytest.mark.parametrize(
    "op", ["spatial_join", "zonal_stats", "zonal_length", "nearest_polygon"])
def test_polygon_dim_runs_once_per_call(spark, op):
    """Every point x polygon operator runs its polygon dim exactly once,
    at call time (the one collect of the shared dim layer), and
    collecting the result runs it zero more times: covers, split rings
    and attributes all reach the plan as broadcast constants."""
    from osmspark.operators.nearest import nearest_polygon
    from osmspark.operators.zonal import zonal_length, zonal_stats

    rect = [(1.2, 103.7), (1.2, 103.9), (1.4, 103.9), (1.4, 103.7),
            (1.2, 103.7)]
    box = [(1.5, 103.7), (1.5, 103.8), (1.6, 103.8), (1.6, 103.7),
           (1.5, 103.7)]
    base = _mk_polys(spark, {"rect": rect, "box": box})
    rows_seen = spark.sparkContext.accumulator(0)

    def counted(it):
        for b in it:
            rows_seen.add(len(b))
            yield b

    polys = base.mapInPandas(counted, base.schema)
    pts = spark.createDataFrame(
        [("a", 1.3, 103.8), ("b", 1.55, 103.75), ("c", 1.45, 103.75)],
        "id string, lat double, lon double")
    segs = spark.createDataFrame(
        [("s", 1.3, 103.6, 1.3, 103.8)],
        "seg_id string, lat1 double, lon1 double, lat2 double, lon2 double")
    calls = {
        "spatial_join": lambda: sj.spatial_join(pts, polys, res=8),
        "zonal_stats": lambda: zonal_stats(pts, polys, res=8),
        "zonal_length": lambda: zonal_length(segs, polys, res=8),
        "nearest_polygon": lambda: nearest_polygon(
            pts, polys, radius_deg=0.2, res=8),
    }
    out = calls[op]()
    assert rows_seen.value == 2          # one run of the 2-row dim
    assert out.collect()                 # non-empty answer ...
    assert rows_seen.value == 2          # ... without a second run


def test_distributed_duplicate_id_parts(spark):
    """The refine groups its rows by ring content, not by poly_id, in
    either join plan: multipolygon parts sharing an id, in one Arrow
    batch, each ray-cast their own ring (keyed by poly_id, both cast the
    first's)."""
    parts = [_square(1.30, 103.70, 0.05), _square(1.40, 103.85, 0.05)]
    polys = spark.createDataFrame(
        [("m", "test", [{"lat": a, "lon": o} for a, o in ring], None)
         for ring in parts],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    ).coalesce(1)
    pts = spark.createDataFrame(
        [("a", 1.325, 103.725), ("b", 1.425, 103.875), ("out", 1.38, 103.80)],
        "id string, lat double, lon double").coalesce(1)
    got = _same_rows_both_plans(
        spark, lambda: sj.spatial_join(pts, polys, res=8).select(
            "id", "poly_id").coalesce(1))
    assert sorted(got) == [("a", "m"), ("b", "m")]


def test_polygon_cover_follows_resaved_snapshot(spark, tmp_path):
    """A polygon dim re-saved to the same stage is a new dim snapshot: the
    join after each reload uses the new rings, not the cover cached for
    an earlier save.  A Spark write in this session refreshes Spark's own
    cache of that path; a writer in another process does not, so the last
    dim is published the way one would (new part files, the old ones
    gone), and only the cover's file list tells the two loads apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmspark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snap"))
    stage = tmp_path / "snap" / "polys"
    plon = [103.70 + 0.01 * i for i in range(30)]
    pts = spark.createDataFrame([(f"p{i}", 1.3, lo) for i, lo in
                                 enumerate(plon)],
                                "id string, lat double, lon double")
    boxes = [_square(1.25, 103.70 + d, 0.1) for d in (0.0, 0.05, 0.12)]
    ring_type = pa.list_(pa.struct([("lat", pa.float64()),
                                    ("lon", pa.float64())]))

    def publish_elsewhere(ring):
        for f in stage.glob("*.parquet"):
            f.unlink()
        pq.write_table(pa.table({
            "poly_id": ["box"], "level": ["test"],
            "ring": pa.array([[{"lat": a, "lon": o} for a, o in ring]],
                             ring_type),
            "postcode": pa.array([None], pa.string()),
        }), stage / "part-00000-elsewhere.parquet")

    got = []
    for i, ring in enumerate(boxes):
        if i < 2:
            store.save(_mk_polys(spark, {"box": ring}), "polys")
        else:
            publish_elsewhere(ring)
        snap = store.load(spark, "polys")
        got.append({r["id"] for r in
                    sj.spatial_join(pts, snap, res=8).collect()})
        assert got[-1] == {f"p{j}" for j, lo in enumerate(plon)
                           if _pip_py(1.3, lo, ring)}, i
    assert len({frozenset(g) for g in got}) == 3
