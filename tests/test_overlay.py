"""B4c polygon-polygon intersection join: crafted geometric cases plus a
brute all-pairs sweep over the generated dims, against an independent
scalar python predicate."""

import pytest
from pyspark.sql import functions as F  # noqa: F401

from osmspark.operators.overlay import polygon_intersect_join


def _mk(spark, rows):
    return spark.createDataFrame(
        [(pid, "admin", [{"lat": a, "lon": o} for a, o in ring], None)
         for pid, ring in rows],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )


def _rect(la0, la1, lo0, lo1):
    return [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]


def _pt_in(py, px, ring):
    inside = False
    for (y1, x1), (y2, x2) in zip(ring, ring[1:]):
        if (y1 > py) != (y2 > py):
            xx = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
            if px < xx:
                inside = not inside
    return inside


def _seg_cross(p1, p2, p3, p4):
    def o(a, b, c):
        return (b[1] - a[1]) * (c[0] - a[0]) - (b[0] - a[0]) * (c[1] - a[1])
    return (o(p1, p2, p3) * o(p1, p2, p4) < 0
            and o(p3, p4, p1) * o(p3, p4, p2) < 0)


def _brute_intersect(ra, rb):
    if any(_pt_in(a, o, rb) for a, o in ra[:-1]):
        return True
    if any(_pt_in(a, o, ra) for a, o in rb[:-1]):
        return True
    for e1 in zip(ra, ra[1:]):
        for e2 in zip(rb, rb[1:]):
            if _seg_cross(e1[0], e1[1], e2[0], e2[1]):
                return True
    return False


def test_overlay_crafted_cases(spark):
    a = _mk(spark, [
        ("contains", _rect(1.20, 1.40, 103.70, 103.90)),
        ("plusA", _rect(1.30, 1.32, 103.60, 104.00)),   # wide horizontal bar
        ("lonely", _rect(1.60, 1.62, 103.60, 103.62)),
    ])
    b = _mk(spark, [
        ("inside", _rect(1.25, 1.35, 103.75, 103.85)),     # inside 'contains'
        ("plusB", _rect(1.20, 1.44, 103.79, 103.81)),      # tall vertical bar
        ("partial", _rect(1.38, 1.45, 103.88, 103.95)),    # overlaps corner
        ("faraway", _rect(1.00, 1.02, 104.05, 104.07)),
    ])
    got = {(r["a_id"], r["b_id"])
           for r in polygon_intersect_join(a, b, res=7).collect()}
    assert ("contains", "inside") in got          # containment, no crossing
    assert ("plusA", "plusB") in got              # plus-sign: edge cross only
    assert ("contains", "plusB") in got
    assert ("contains", "partial") in got
    assert all(p[0] != "lonely" for p in got)
    assert all(p[1] != "faraway" for p in got)


def test_overlay_equals_bruteforce_on_dims(spark):
    """All-pairs sweep: generated admin+zip dim against a shifted copy of
    itself, compared to the independent scalar predicate."""
    from osmspark.datagen import gen_polygons

    polys = gen_polygons(spark)
    shifted = polys.select(
        F.concat(F.lit("s-"), "poly_id").alias("poly_id"), "level",
        F.transform(
            "ring",
            lambda p: F.struct(
                (p["lat"] + F.lit(0.013)).alias("lat"),
                (p["lon"] + F.lit(0.017)).alias("lon"),
            ),
        ).alias("ring"),
        "postcode",
    )
    got = {(r["a_id"], r["b_id"])
           for r in polygon_intersect_join(polys, shifted, res=7).collect()}
    ra = {r["poly_id"]: [(p["lat"], p["lon"]) for p in r["ring"]]
          for r in polys.collect()}
    rb = {r["poly_id"]: [(p["lat"], p["lon"]) for p in r["ring"]]
          for r in shifted.collect()}
    want = {(ai, bi) for ai, A in ra.items() for bi, B in rb.items()
            if _brute_intersect(A, B)}
    assert got == want
    assert len(want) > 5                      # non-vacuous


def test_overlay_no_cartesian_and_vectorized(spark):
    a = _mk(spark, [("x", _rect(1.2, 1.3, 103.7, 103.8))])
    b = _mk(spark, [("y", _rect(1.25, 1.35, 103.75, 103.85))])
    out = polygon_intersect_join(a, b, res=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_overlay_coincident_and_shared_edge(spark):
    """Identical rings (duplicated geofence) must match — every vertex is
    ON the boundary and all edges are collinear, so only the interior-
    point leg can see it.  A pair separated by a sliver (clearly zero
    overlap, no shared boundary — exact boundary-touch is the documented
    even-odd ambiguity and is deliberately NOT asserted) must not
    match."""
    tri = [(1.20, 103.70), (1.30, 103.75), (1.20, 103.80), (1.20, 103.70)]
    a = _mk(spark, [("t1", tri), ("r1", _rect(1.40, 1.45, 103.70, 103.75))])
    b = _mk(spark, [("t2", tri),
                    ("r2", _rect(1.40, 1.45, 103.7500002, 103.80))])
    got = {(r["a_id"], r["b_id"])
           for r in polygon_intersect_join(a, b, res=7).collect()}
    assert ("t1", "t2") in got            # coincident -> intersecting
    assert ("r1", "r2") not in got        # sliver-separated -> excluded


def test_overlay_predicate_antimeridian_frames():
    """Edge-cross leg must work across longitude frames: an unwrapped
    ring (175..185) crossing a ring expressed at -179..-177."""
    import numpy as np

    from osmspark.operators.overlay import polygons_intersect_np

    # wide flat bar crossing the antimeridian, unwrapped representation
    a = [(0.0, 175.0), (0.0, 185.0), (1.0, 185.0), (1.0, 175.0), (0.0, 175.0)]
    # tall thin bar at -179..-178.5 (== 181..181.5), plus-sign overlap
    b = [(-1.0, -179.0), (-1.0, -178.5), (2.0, -178.5), (2.0, -179.0),
         (-1.0, -179.0)]
    alat = np.array([p[0] for p in a]); alon = np.array([p[1] for p in a])
    blat = np.array([p[0] for p in b]); blon = np.array([p[1] for p in b])
    assert polygons_intersect_np(alat, alon, blat, blon)
    # and a genuinely distant ring stays negative across frames
    c = [(-1.0, -150.0), (-1.0, -149.0), (2.0, -149.0), (2.0, -150.0),
         (-1.0, -150.0)]
    clat = np.array([p[0] for p in c]); clon = np.array([p[1] for p in c])
    assert not polygons_intersect_np(alat, alon, clat, clon)


def test_polygon_contains_join(spark):
    """Containment: strict subset detected; partial overlap and the
    concave trap (all four vertices of B inside a U-shaped A but B's body
    crossing the notch) are rejected."""
    from osmspark.operators.overlay import polygon_contains_join

    # U-shape (concave): arms at lon [.70,.71] and [.72,.73], notch between
    u = [(1.20, 103.70), (1.23, 103.70), (1.23, 103.73), (1.20, 103.73),
         (1.20, 103.72), (1.22, 103.72), (1.22, 103.71), (1.20, 103.71),
         (1.20, 103.70)]
    a = _mk(spark, [
        ("big", _rect(1.30, 1.40, 103.80, 103.90)),
        ("u", u),
    ])
    b = _mk(spark, [
        ("inside_big", _rect(1.32, 1.38, 103.82, 103.88)),
        ("partial", _rect(1.38, 1.45, 103.88, 103.95)),
        # all 4 vertices inside U's arms, body crosses the notch
        ("notch_spanner", _rect(1.205, 1.215, 103.705, 103.725)),
    ])
    got = {(r["a_id"], r["b_id"])
           for r in polygon_contains_join(a, b, res=7).collect()}
    assert ("big", "inside_big") in got
    assert ("big", "partial") not in got
    assert ("u", "notch_spanner") not in got
    # sanity: the intersect join DOES see the concave-trap pair
    inter = {(r["a_id"], r["b_id"])
             for r in polygon_intersect_join(a, b, res=7).collect()}
    assert ("u", "notch_spanner") in inter


def test_batch_kernels_agree_with_scalar_predicates():
    """The factorized batch kernels are the join's hot path; the scalar
    predicates are the spec.  Random rectangle/triangle soup, all pairs,
    both predicates, exact agreement."""
    import numpy as np

    from osmspark.operators import overlay as ov

    rng = np.random.default_rng(23)
    rings = {}
    for i in range(40):
        la0 = rng.uniform(0.0, 2.0)
        lo0 = rng.uniform(103.0, 105.0)
        dla = rng.uniform(0.05, 0.6)
        dlo = rng.uniform(0.05, 0.6)
        if i % 3:
            ring = _rect(la0, la0 + dla, lo0, lo0 + dlo)
        else:
            ring = [(la0, lo0), (la0 + dla, lo0 + dlo / 2), (la0, lo0 + dlo),
                    (la0, lo0)]
        rings[f"p{i}"] = (np.array([p[0] for p in ring]),
                          np.array([p[1] for p in ring]))
    # a duplicated ring and a shared-boundary child for the edge legs
    rings["dup"] = rings["p0"]
    la, lo = rings["p1"]
    rings["child"] = (np.array([la[0], la[0], la[2], la[2], la[0]]),
                      np.array([lo[0], (lo[0] + lo[1]) / 2,
                                (lo[0] + lo[1]) / 2, lo[0], lo[0]]))

    ids = sorted(rings)
    aid = np.array([a for a in ids for _ in ids])
    bid = np.array([b for _ in ids for b in ids])
    got_i = ov._batch_intersect(aid, bid, rings, rings)
    got_c = ov._batch_contains(aid, bid, rings, rings)
    for k in range(len(aid)):
        A = rings[aid[k]]
        B = rings[bid[k]]
        assert got_i[k] == ov.polygons_intersect_np(A[0], A[1], B[0], B[1]), (
            aid[k], bid[k], "intersect")
        assert got_c[k] == ov.polygon_contains_np(A[0], A[1], B[0], B[1]), (
            aid[k], bid[k], "contains")
    # self-pairs are both intersecting and (closed-containment) contained
    self_rows = aid == bid
    assert got_i[self_rows].all()
    assert got_c[self_rows].all()


def test_polygon_contains_shared_boundary(spark):
    """A child ring reusing its parent's boundary coordinates bit-for-bit
    (the 'ZIP inside admin' headline) counts as contained; a sibling
    sharing the boundary from OUTSIDE does not."""
    from osmspark.operators.overlay import polygon_contains_join

    parent = _rect(1.20, 1.40, 103.70, 103.90)
    # left half of the parent: shares three full parent edges
    child = _rect(1.20, 1.40, 103.70, 103.80)
    # sits right of the parent, sharing the lon=103.90 edge from outside
    outside = _rect(1.20, 1.40, 103.90, 104.00)
    a = _mk(spark, [("parent", parent)])
    b = _mk(spark, [("child", child), ("outside", outside),
                    ("same", parent)])
    got = {(r["a_id"], r["b_id"])
           for r in polygon_contains_join(a, b, res=7).collect()}
    assert ("parent", "child") in got
    assert ("parent", "same") in got
    assert ("parent", "outside") not in got


def test_overlay_multipart_ids(spark):
    """Multipolygon parts share a poly_id: each candidate is verified
    against its OWN ring, intersect reports an id pair when any ring pair
    intersects, and contains reports it only when every B ring of the id
    lies inside some A ring of the id."""
    from osmspark.operators.overlay import polygon_contains_join

    p1 = _rect(1.000, 1.010, 103.000, 103.010)
    inside_p1 = _rect(1.003, 1.007, 103.002, 103.008)
    inside_right = _rect(1.003, 1.007, 103.030, 103.035)
    outside = _rect(1.003, 1.007, 103.050, 103.060)
    cases = [
        # (join, A's second part, B rect "b", expected id pairs)
        (polygon_intersect_join, _rect(1.000, 1.010, 103.020, 103.040),
         _rect(1.002, 1.008, 103.0105, 103.030),
         {("m", "b"), ("m", "two"), ("m", "both")}),
        (polygon_contains_join, _rect(1.000, 1.010, 103.011, 103.040),
         _rect(1.002, 1.008, 103.015, 103.030),
         {("m", "b"), ("m", "both")}),
    ]
    for join, part2, rect_b, want in cases:
        b = _mk(spark, [("b", rect_b),
                        ("two", inside_right), ("two", outside),
                        ("both", inside_p1), ("both", inside_right)])
        for parts in ([p1, part2], [part2, p1]):
            a = _mk(spark, [("m", ring) for ring in parts])
            for res in (6, 7, 8):
                got = {(r["a_id"], r["b_id"])
                       for r in join(a, b, res=res).collect()}
                assert got == want, (join.__name__, parts[0], res, got)
