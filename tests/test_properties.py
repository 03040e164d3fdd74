"""Property-based tests (hypothesis) for the pure-numpy geometry kernels
(SURVEY §5.2.3).  These run without a SparkSession."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osmspark.functions import geo, hexgrid, s2
from osmspark.operators.spatial_join import _pip_single_ring

latlon = st.tuples(
    st.floats(min_value=-84.9, max_value=84.9, allow_nan=False),
    st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
)


@settings(max_examples=50, deadline=None)
@given(latlon)
def test_s2_parent_hierarchy_any_point(p):
    lat, lon = np.array([p[0]]), np.array([p[1]])
    c10 = s2.latlon_to_cellid(lat, lon, 10)
    c20 = s2.latlon_to_cellid(lat, lon, 20)
    assert s2.parent_id(c20, 10)[0] == c10[0]
    assert s2.cell_level(c10)[0] == 10 and s2.cell_level(c20)[0] == 20


@settings(max_examples=50, deadline=None)
@given(latlon, st.integers(min_value=5, max_value=10))
def test_hex_roundtrip_any_point(p, res):
    lat, lon = np.array([p[0]]), np.array([p[1]])
    c = hexgrid.latlon_to_cell(lat, lon, res)
    la, lo = hexgrid.cell_center_latlon(c)
    assert hexgrid.latlon_to_cell(la, lo, res)[0] == c[0]
    # the center is close to the original point (within 2 circumradii,
    # measured loosely in meters via haversine)
    d = geo.haversine_np(lat, lon, la, lo)[0]
    radius_uv = hexgrid._res_frame(res)[0]
    # uv->meters upper bound: ~1.6e7 m per uv unit at face edge
    assert d < 2 * radius_uv * 1.6e7


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=3, max_value=10),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_pip_vectorized_vs_scalar_random_polygon(nv, seed):
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = rng.uniform(0.3, 2.0, nv)
    ry = 5 + rad * np.sin(ang)
    rx = 5 + rad * np.cos(ang)
    ry = np.append(ry, ry[0])
    rx = np.append(rx, rx[0])
    py = rng.uniform(2, 8, 64)
    px = rng.uniform(2, 8, 64)
    got = _pip_single_ring(py, px, ry, rx)

    def scalar(yy, xx):
        inside = False
        for i in range(len(ry) - 1):
            y1, x1, y2, x2 = ry[i], rx[i], ry[i + 1], rx[i + 1]
            if (y1 > yy) != (y2 > yy):
                if xx < x1 + (yy - y1) * (x2 - x1) / (y2 - y1):
                    inside = not inside
        return inside

    exp = np.array([scalar(py[i], px[i]) for i in range(64)])
    assert (got == exp).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_kring_unique_and_symmetric(seed):
    rng = np.random.default_rng(seed)
    lat = np.array([rng.uniform(-80, 80)])
    lon = np.array([rng.uniform(-175, 175)])
    cell = hexgrid.latlon_to_cell(lat, lon, 8)
    k = int(rng.integers(1, 4))
    ring = hexgrid.kring(cell, k)[0]
    assert len(set(ring.tolist())) == 1 + 3 * k * (k + 1)
    # symmetry for immediate neighbors
    for n in hexgrid.kring(cell, 1)[0][1:]:
        assert int(cell[0]) in set(hexgrid.kring(np.array([n]), 1)[0].tolist())


# --- round-4 split_ring invariants (pure numpy, no SparkSession) -----------
from osmspark.operators.spatial_join import (  # noqa: E402
    _clip_halfplane, _densify_ring, split_ring,
)


def _star_ring(seed, center_lat, center_lon, scale):
    """Random star-shaped closed ring (possibly concave, possibly wide)."""
    rng = np.random.default_rng(seed)
    nv = int(rng.integers(4, 12))
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = rng.uniform(0.3, 1.0, nv) * scale
    la = np.clip(center_lat + rad * np.sin(ang), -89.0, 89.0)
    lo = center_lon + rad * np.cos(ang) * 1.5
    la = np.append(la, la[0])
    lo = np.append(lo, lo[0])
    return la, lo


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_clip_halfplane_preserves_parity(seed):
    """Sutherland-Hodgman half-plane clip invariant: for ANY point not on
    the cut line, (in left piece) XOR-counted membership across the two
    pieces equals membership in the original ring, and no point is in
    both pieces."""
    rng = np.random.default_rng(seed)
    la, lo = _star_ring(seed, rng.uniform(-40, 40), rng.uniform(-90, 90),
                        rng.uniform(2.0, 25.0))
    axis = int(rng.integers(0, 2))
    vals = la if axis == 0 else lo
    c = float(rng.uniform(vals.min(), vals.max()))
    pieces = [p for p in
              (_clip_halfplane(la, lo, axis, c, True),
               _clip_halfplane(la, lo, axis, c, False)) if p is not None]
    py = rng.uniform(la.min() - 1, la.max() + 1, 600)
    px = rng.uniform(lo.min() - 1, lo.max() + 1, 600)
    # exclude points exactly on the cut line (measure zero anyway)
    keep = np.abs((py if axis == 0 else px) - c) > 1e-9
    py, px = py[keep], px[keep]
    counts = np.zeros(len(py), dtype=np.int64)
    for rl, rlon in pieces:
        counts += _pip_single_ring(py, px, rl, rlon).astype(np.int64)
    exp = _pip_single_ring(py, px, la, lo)
    assert (counts <= 1).all()
    assert ((counts == 1) == exp).all()


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_split_ring_tiles_wide_rings(seed):
    """split_ring invariant on random wide (possibly >180-deg) rings with
    short edges: pieces have disjoint interiors whose union equals the
    original ring's crossing-number interior."""
    rng = np.random.default_rng(seed)
    la, lo = _star_ring(seed, rng.uniform(-30, 30), rng.uniform(-60, 60),
                        rng.uniform(30.0, 70.0))
    # densify so consecutive lon deltas stay < 180 (input convention) —
    # the module's own helper, not a drift-prone copy
    la, lo = _densify_ring(la, lo, 60.0)
    pieces = split_ring(la, lo)
    assert pieces
    py = rng.uniform(la.min() - 2, la.max() + 2, 800)
    px = rng.uniform(lo.min() - 2, lo.max() + 2, 800)
    counts = np.zeros(len(py), dtype=np.int64)
    for rl, rlon in pieces:
        counts += _pip_single_ring(py, px, rl, rlon).astype(np.int64)
    exp = _pip_single_ring(py, px, la, lo)
    assert (counts <= 1).all()
    assert ((counts == 1) == exp).all()


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.booleans())
def test_split_ring_polar_winding(seed, eastward):
    """Pole-encircling rings: the pieces tile the region between the
    curve and the encircled pole (north for eastward traversal, south for
    westward), checked against lat-vs-curve ground truth away from the
    boundary band."""
    rng = np.random.default_rng(seed)
    base = float(rng.uniform(-75, -45))
    amp = float(rng.uniform(0.0, 6.0))
    freq = int(rng.integers(1, 4))
    phase = float(rng.uniform(0, 2 * np.pi))
    lon_grid = np.arange(-180.0, 180.1, 5.0)
    curve = base + amp * np.sin(np.radians(freq * lon_grid) + phase)
    la, lo = curve.copy(), lon_grid.copy()
    if not eastward:
        la, lo = la[::-1], lo[::-1]
    pieces = split_ring(la, lo)
    assert len(pieces) >= 1
    py = rng.uniform(-89.5, 20.0, 800)
    px = rng.uniform(-180.0, 180.0, 800)
    f = base + amp * np.sin(np.radians(freq * px) + phase)
    keep = np.abs(py - f) > 1.0  # clear of interpolation-convention band
    py, px, f = py[keep], px[keep], f[keep]
    counts = np.zeros(len(py), dtype=np.int64)
    for rl, rlon in pieces:
        counts += _pip_single_ring(py, px, rl, rlon).astype(np.int64)
    exp = (py > f) if eastward else (py < f)
    assert (counts <= 1).all()
    assert ((counts == 1) == exp).all()


@settings(max_examples=40, deadline=None)
@given(latlon, st.integers(min_value=6, max_value=10),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_radius_disk_cover_bound(p, res, seed):
    """B5b coverage guarantee: kring(center_cell, k) with k from
    radius_join._ring_for (measured local R) contains the cell of EVERY
    point within the radius — the property within_distance_join's
    exactness rests on.  Same-face contract as the operator: samples
    landing on another cube face are excluded (documented limitation)."""
    from osmspark.operators.radius_join import _ring_for

    lat, lon = p
    rng = np.random.default_rng(seed)
    center = hexgrid.latlon_to_cell(np.array([lat]), np.array([lon]), res)
    ring1 = hexgrid.kring(center, 1)
    la, lo = hexgrid.cell_center_latlon(ring1.ravel())
    spacing = geo.haversine_np(
        np.repeat(la[:1], 6), np.repeat(lo[:1], 6), la[1:], lo[1:]).min()
    R = spacing / np.sqrt(3.0)
    radius = float(R * rng.uniform(0.3, 4.0))
    k = _ring_for(radius, R)
    disk = set(hexgrid.kring(center, k)[0].tolist())
    # sample points at bearings/distances <= radius (approx offsets, then
    # keep only those whose TRUE haversine distance is within the radius)
    n = 60
    theta = rng.uniform(0, 2 * np.pi, n)
    d = rng.uniform(0, radius, n)
    dlat = d * np.cos(theta) / 111194.93
    dlon = d * np.sin(theta) / (111194.93 * np.cos(np.radians(lat)))
    la2 = np.clip(lat + dlat, -89.9, 89.9)
    lo2 = ((lon + dlon + 180.0) % 360.0) - 180.0
    true_d = geo.haversine_np(np.full(n, lat), np.full(n, lon), la2, lo2)
    keep = true_d <= radius
    cells = hexgrid.latlon_to_cell(la2[keep], lo2[keep], res)
    center_face = (int(center[0]) >> 56) & 0x7
    for c in cells.tolist():
        if ((c >> 56) & 0x7) != center_face:
            continue                      # same-face contract
        assert c in disk, (lat, lon, res, radius, k)
