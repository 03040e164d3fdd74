"""Cube-face seam exactness (round-5 lift, VERDICT r04 item 1).

The hex k-ring is exact only in its home face's axial frame; points across
a face seam live on a neighbor face with different cell ids.  These tests
pin the multi-face disk cover (`hexgrid.disk_cells`) and check the radius
join and kNN against brute force on corpora that straddle a face seam
(lon=45, faces 0/1) and a cube corner (lat=35.2644, lon=45 — faces 0/1/2
meet).
"""

import numpy as np
import pytest

from osmspark.functions import hexgrid
from osmspark.functions.geo import haversine_np

SEAM = (0.0, 45.0)        # face 0 / face 1 boundary
CORNER = (35.2644, 45.0)  # faces 0, 1, 2 meet


def _corpus(rng, latc, lonc, span, n):
    return (rng.uniform(latc - span, latc + span, n),
            rng.uniform(lonc - span, lonc + span, n))


@pytest.mark.parametrize("center", [SEAM, CORNER], ids=["seam", "corner"])
def test_disk_cells_covers_across_faces(center):
    """Every point within the cover radius has its assigned cell in the
    candidate set — including points whose cell sits on a neighbor face."""
    rng = np.random.default_rng(7)
    lat, lon = _corpus(rng, *center, 0.6, 4000)
    cells = hexgrid.latlon_to_cell(lat, lon, 8)
    faces = np.unique((cells >> 56) & 0x7)
    assert len(faces) >= 2, "corpus must actually straddle a seam"
    qlat, qlon = _corpus(rng, *center, 0.6, 40)
    cover = np.full(40, 20000.0)
    cand = hexgrid.disk_cells(qlat, qlon, cover, 8, max_ring=64)
    for j in range(40):
        d = haversine_np(np.full_like(lat, qlat[j]),
                         np.full_like(lon, qlon[j]), lat, lon)
        cs = set(cand[j].tolist())
        missed = [i for i in np.nonzero(d <= cover[j])[0]
                  if int(cells[i]) not in cs]
        assert not missed, (j, qlat[j], qlon[j], len(missed))


def test_disk_cells_interior_matches_plain_kring():
    """Away from seams the cover IS the home k-ring — no extra cells, so
    the common path pays nothing for seam exactness."""
    rng = np.random.default_rng(3)
    lat, lon = _corpus(rng, 1.35, 103.8, 0.3, 64)
    cover = np.full(64, 5000.0)
    cand = hexgrid.disk_cells(lat, lon, cover, 8)
    home = hexgrid.latlon_to_cell(lat, lon, 8)
    x, y, z = hexgrid.latlon_to_xyz(lat, lon)
    u, v = hexgrid._uv_on_face_batch((home >> 56) & 0x7, x, y, z)
    rings = hexgrid.ring_count_uv(cover, u, v, 8)
    for j in range(64):
        want = set(hexgrid.kring(home[j:j + 1], int(rings[j]))[0].tolist())
        assert set(cand[j].tolist()) == want


def test_claim_and_cover_globewide():
    """Globe-wide property check of the uv-exact cover bound: at random
    query positions (incl. poles, face corners) and cover radii, every
    point within the cover radius is inside disk_cells."""
    rng = np.random.default_rng(17)
    qlat = np.degrees(np.arcsin(rng.uniform(-1, 1, 25)))
    qlon = rng.uniform(-180, 180, 25)
    res = 7
    covered = rng.uniform(500.0, 20_000.0, 25)
    cand_d = hexgrid.disk_cells(qlat, qlon, covered, res)
    for j in range(25):
        # dense points inside the cover disk of query j (uniform in disk)
        t = rng.uniform(0, 2 * np.pi, 400)
        rr = covered[j] * np.sqrt(rng.uniform(0, 1, 400))
        dlat = np.degrees(rr / 6371008.8)
        plat = np.clip(qlat[j] + dlat * np.sin(t), -89.999, 89.999)
        coslat = np.cos(np.radians(plat))
        plon = qlon[j] + dlat * np.cos(t) / np.maximum(coslat, 1e-6)
        plon = (plon + 180.0) % 360.0 - 180.0
        d = haversine_np(np.full(400, qlat[j]), np.full(400, qlon[j]),
                         plat, plon)
        inside = d <= covered[j]
        pc = hexgrid.latlon_to_cell(plat[inside], plon[inside], res)
        cs = set(cand_d[j].tolist())
        missed = [c for c in pc.tolist() if c not in cs]
        assert not missed, (j, qlat[j], qlon[j], len(missed))


def test_disk_cells_cover_cap_raises():
    with pytest.raises(ValueError, match="MAX_COVER_M"):
        hexgrid.disk_cells([0.0], [10.0], [hexgrid.MAX_COVER_M * 1.5], 8)


@pytest.fixture(scope="module")
def seam_frames(spark):
    rng = np.random.default_rng(11)

    def mk(latc, lonc, n, pref):
        lat, lon = _corpus(rng, latc, lonc, 0.5, n)
        return spark.createDataFrame(
            [(f"{pref}{i}", float(lat[i]), float(lon[i])) for i in range(n)],
            "id string, lat double, lon double",
        )

    out = {}
    for name, (latc, lonc) in [("seam", SEAM), ("corner", CORNER)]:
        pts = mk(latc, lonc, 2000, "p").cache()
        qs = (mk(latc, lonc, 80, "q")
              .withColumnRenamed("id", "query_id").cache())
        pts.count()
        qs.count()
        out[name] = (pts, qs)
    return out


@pytest.mark.parametrize("which", ["seam", "corner"])
def test_radius_join_seam_equals_brute(seam_frames, which):
    from osmspark.operators import radius_join as rj

    pts, qs = seam_frames[which]
    got = {(r["query_id"], r["point_id"])
           for r in rj.within_distance_join(pts, qs, 15000.0).collect()}
    want = {(r["query_id"], r["point_id"])
            for r in rj.within_distance_bruteforce(pts, qs, 15000.0).collect()}
    assert got == want
    assert len(want) > 0


@pytest.mark.parametrize("which", ["seam", "corner"])
def test_knn_seam_equals_brute(seam_frames, which):
    from osmspark.operators import knn

    pts, qs = seam_frames[which]
    want = {(r["query_id"], r["rank"], r["point_id"], r["dist"])
            for r in knn.knn_bruteforce(pts, qs, 5).collect()}
    got = {(r["query_id"], r["rank"], r["point_id"], r["dist"])
           for r in knn.knn_kring(pts, qs, 5).collect()}
    assert got == want


def test_radius_join_radius_cap_raises(seam_frames):
    from osmspark.operators import radius_join as rj

    pts, qs = seam_frames["seam"]
    with pytest.raises(ValueError, match="MAX_COVER_M"):
        rj.within_distance_join(pts, qs, 350_000.0)
