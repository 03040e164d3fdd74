"""M3 property tests for the S2 + hexgrid cell indexes (SURVEY §5.2.3)."""

import numpy as np
import pytest

from osmspark.functions import geo, hexgrid, s2

RNG = np.random.default_rng(42)
LAT = RNG.uniform(-85, 85, 3000)
LON = RNG.uniform(-180, 180, 3000)


# --- golden vectors: FROZEN from this implementation on 2026-08-16
# (FIXTURES.md §4: no s2/h3 library exists in-sandbox to cross-check, so
# these guard against regressions, not Uber/Google bit-compat)
GOLDEN_PTS = [(1.29, 103.85), (1.35, 103.69), (40.7128, -74.0060),
              (-33.8688, 151.2093), (51.5074, -0.1278)]
GOLDEN = {
    "s2_l12": [3592211896486330368, 3592200901370052608,
               -8520148382826627072, 7715420632820744192,
               5221366109382377472],
    "s2_l16": [3592211830719643648, 3592200847951396864,
               -8520148442687733760, 7715420701271785472,
               5221366101597749248],
    "hex_r7": [4143311640672075440, 4143311641477381811,
               4359484667330560775, 4287426513336270548,
               4215369339936703455],
    "hex_r9": [5296232577537932617, 5296232587470044481,
               5512408807705147521, 5440345290907325608,
               5368292793653396781],
}


def test_golden_vectors_frozen():
    lat = np.array([p[0] for p in GOLDEN_PTS])
    lon = np.array([p[1] for p in GOLDEN_PTS])
    assert [int(x) for x in s2.latlon_to_cellid(lat, lon, 12)] == GOLDEN["s2_l12"]
    assert [int(x) for x in s2.latlon_to_cellid(lat, lon, 16)] == GOLDEN["s2_l16"]
    assert [int(x) for x in hexgrid.latlon_to_cell(lat, lon, 7)] == GOLDEN["hex_r7"]
    assert [int(x) for x in hexgrid.latlon_to_cell(lat, lon, 9)] == GOLDEN["hex_r9"]


def test_s2_determinism_and_level():
    c = s2.latlon_to_cellid(LAT, LON, 12)
    assert (c == s2.latlon_to_cellid(LAT, LON, 12)).all()
    assert (s2.cell_level(c) == 12).all()


def test_s2_hierarchy_nesting():
    c12 = s2.latlon_to_cellid(LAT, LON, 12)
    c16 = s2.latlon_to_cellid(LAT, LON, 16)
    lo, hi = s2.cell_range(c12)
    c16u = np.asarray(c16).astype(np.uint64)
    assert (c16u >= np.asarray(lo).astype(np.uint64)).all()
    assert (c16u <= np.asarray(hi).astype(np.uint64)).all()
    assert (s2.parent_id(c16, 12) == c12).all()


def test_s2_locality():
    """Points within ~10 m share high-level cells; cell changes with level."""
    lat = np.array([1.2900000, 1.2900001])
    lon = np.array([103.850000, 103.8500001])
    assert s2.latlon_to_cellid(lat, lon, 12)[0] == s2.latlon_to_cellid(lat, lon, 12)[1]
    far = s2.latlon_to_cellid(np.array([1.29, 50.0]), np.array([103.85, 10.0]), 12)
    assert far[0] != far[1]


def test_s2_face_chart_inverse():
    x, y, z = geo.latlon_to_xyz(LAT, LON)
    f, u, v = s2.xyz_to_face_uv(x, y, z)
    x2, y2, z2 = s2.face_uv_to_xyz(f, u, v)
    assert np.max(np.abs([x - x2, y - y2, z - z2])) < 1e-12


@pytest.mark.parametrize("res", [7, 8, 9, 10])
def test_hex_center_roundtrip(res):
    c = hexgrid.latlon_to_cell(LAT, LON, res)
    la, lo = hexgrid.cell_center_latlon(c)
    assert (hexgrid.latlon_to_cell(la, lo, res) == c).all()


def test_hex_pack_unpack_roundtrip():
    c = hexgrid.latlon_to_cell(LAT, LON, 9)
    res, face, q, r = hexgrid.unpack(c)
    assert (hexgrid.pack(res, face, q, r) == c).all()
    assert (res == 9).all()
    assert ((face >= 0) & (face <= 5)).all()


def test_hex_kring_properties():
    cell = hexgrid.latlon_to_cell(np.array([1.29]), np.array([103.85]), 9)
    for k in (1, 2, 3):
        ring = hexgrid.kring(cell, k)[0]
        assert len(ring) == 1 + 3 * k * (k + 1)
        assert len(set(ring.tolist())) == len(ring)
        assert int(cell[0]) == int(ring[0])
    # symmetry: each ring-1 neighbor's ring-1 contains self
    for n in hexgrid.kring(cell, 1)[0][1:]:
        back = set(hexgrid.kring(np.array([n]), 1)[0].tolist())
        assert int(cell[0]) in back


def test_hex_neighbor_spacing_uniformity():
    """Ring-1 centers are near-equidistant (within 5% at city scale)."""
    cell = hexgrid.latlon_to_cell(np.array([1.29]), np.array([103.85]), 9)
    ring = hexgrid.kring(cell, 1)[0]
    la, lo = hexgrid.cell_center_latlon(ring)
    d = geo.haversine_np(np.full(6, la[0]), np.full(6, lo[0]), la[1:], lo[1:])
    assert d.max() / d.min() < 1.05


def test_hex_parent_consistency():
    """Parent at res-1 of a cell's center == parent of nearby points (approx
    nesting, H3 semantics): parents of a point and its cell center agree."""
    c9 = hexgrid.latlon_to_cell(LAT, LON, 9)
    p8_from_cell = hexgrid.parent_cell(c9, 8)
    p8_direct = hexgrid.latlon_to_cell(LAT, LON, 8)
    agree = (p8_from_cell == p8_direct).mean()
    assert agree > 0.85  # aperture-7 nesting is approximate by construction


def test_spark_cell_udfs(spark, nodes):
    from pyspark.sql import functions as F

    df = hexgrid.with_hex_cell(nodes, 9)
    df = s2.with_s2_cell(df, 12)
    rows = df.select("lat", "lon", "hex_r9", "s2_l12").limit(200).collect()
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    assert (np.array([r["hex_r9"] for r in rows])
            == hexgrid.latlon_to_cell(lat, lon, 9)).all()
    assert (np.array([r["s2_l12"] for r in rows])
            == s2.latlon_to_cellid(lat, lon, 12)).all()
    # arrow batch path, not row-wise python
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


# fixed rows: both poles, lon +-180, the face seams and the cube corners
_CORNER_LAT = float(np.degrees(np.arctan(1 / np.sqrt(2))))  # 35.264 deg
HEX_EDGE_ROWS = (
    [(90.0, 0.0), (-90.0, 0.0), (90.0, 180.0), (-90.0, -180.0)]
    + [(la, lo) for la in (0.0, 52.5, -52.5) for lo in (180.0, -180.0)]
    + [(0.0, lo) for lo in (45.0, -45.0, 135.0, -135.0)]
    + [(45.0, 0.0), (-45.0, 0.0)]
    + [(sa * _CORNER_LAT, lo) for sa in (1.0, -1.0)
       for lo in (45.0, -45.0, 135.0, -135.0)]
)


def test_hex_native_expression_matches_numpy(spark):
    """with_hex_cell (built-in SQL, codegen path) must agree with
    latlon_to_cell (numpy path) over the full globe and on the seam, pole
    and corner rows — same constants, same half-even rounding; ulp-level
    trig skew could flip only exact-boundary points, and none are hit."""
    import pandas as pd

    n = 100_000
    rng = np.random.default_rng(7)
    edge_lat, edge_lon = zip(*HEX_EDGE_ROWS)
    lat = np.concatenate([rng.uniform(-90, 90, n), edge_lat])
    lon = np.concatenate([rng.uniform(-180, 180, n), edge_lon])
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon})).cache()
    for res in (0, 1, 5, 7, 8, 10, 12, 15):
        got = np.array(
            hexgrid.with_hex_cell(df, res, out_col="c")
            .select("c").toPandas()["c"],
            dtype=np.int64,
        )
        exp = hexgrid.latlon_to_cell(lat, lon, res)
        n_diff = int((got != exp).sum())
        assert n_diff == 0, f"res {res}: {n_diff}/{len(lat)} cells differ"
    df.unpersist()


def test_hex_native_plan_computes_each_trig_once(spark):
    """Each named step is computed once per row: the optimized plan holds
    one node per trig call and per rounding (a nested expression tree
    would repeat each subtree at every reference)."""
    import re

    df = spark.createDataFrame([(1.3, 103.8)], "lat double, lon double")
    plan = (hexgrid.with_hex_cell(df, 8)._jdf.queryExecution()
            .optimizedPlan().toString())
    counts = {f: len(re.findall(rf"\b{f}\(", plan))
              for f in ("COS", "SIN", "rint")}
    assert counts == {"COS": 2, "SIN": 2, "rint": 3}, counts


@pytest.mark.parametrize("col", ["__hx", "__HFACE"])
def test_hex_native_refuses_shadowing_columns(spark, col):
    """An input column named like a step would silently shadow the lateral
    alias and give wrong cells, so it is refused."""
    df = spark.createDataFrame([(1.3, 103.8, 0.5)],
                               f"lat double, lon double, {col} double")
    with pytest.raises(ValueError, match="shadow"):
        hexgrid.with_hex_cell(df, 8)


def test_hex_native_null_coords_sentinel(spark):
    """Null coords -> sentinel -1 (non-nullable output so joins on the
    cell emit no isnotnull pushdown; -1 matches no real cell)."""
    df = spark.createDataFrame(
        [(None, None), (1.3, 103.8)], "lat double, lon double"
    )
    rows = hexgrid.with_hex_cell(df, 8, out_col="c").collect()
    vals = sorted([r["c"] for r in rows])
    assert vals[0] == -1 and vals[1] > 0
    assert not hexgrid.with_hex_cell(df, 8, out_col="c").schema["c"].nullable
