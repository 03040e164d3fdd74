"""Output checks against independent numpy paths, run outside timing.

Each check returns a list of problems; an empty list means the output
passed.  Distances use the same sphere as the engine (the haversine
formula on a 6 371 008.8 m radius) but are computed here in numpy.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

EARTH_RADIUS_M = 6371008.8
# a pair whose distance lies this close to the radius may land on either
# side in another floating-point evaluation order
BOUNDARY_EPS_M = 1e-6


def haversine_m(lat1, lon1, lat2, lon2):
    la1, lo1, la2, lo2 = (np.radians(np.asarray(x, dtype=np.float64))
                          for x in (lat1, lon1, lat2, lon2))
    a = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def ray_cast(lat, lon, ring_lat, ring_lon) -> np.ndarray:
    """Even-odd test of points against one closed ring."""
    y1, y2 = ring_lat[:-1], ring_lat[1:]
    x1, x2 = ring_lon[:-1], ring_lon[1:]
    py, px = lat[:, None], lon[:, None]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return ((straddle & (px < xint)).sum(axis=1) % 2) == 1


def sample_mask(ids: np.ndarray, modulus: int = 50) -> np.ndarray:
    """A hash sample of node ids (about 1/modulus of them)."""
    h = ids.astype(np.uint64) * np.uint64(0xFF51AFD7ED558CCD)
    return (h >> np.uint64(40)) % np.uint64(modulus) == 0


def check_pip(pip_dir: str, nodes: dict, rings: list) -> list[str]:
    """spatial_join output vs a numpy ray-cast on a hash sample of nodes."""
    t = pq.read_table(pip_dir, columns=["id", "poly_id"])
    got_ids = np.asarray(t.column("id").to_pylist(), dtype=np.int64)
    got_poly = np.asarray(t.column("poly_id").to_pylist(), dtype=object)
    keep = sample_mask(got_ids)
    got = set(zip(got_ids[keep].tolist(), got_poly[keep].tolist()))

    m = sample_mask(nodes["id"])
    ids, lat, lon = nodes["id"][m], nodes["lat"][m], nodes["lon"][m]
    want = set()
    for poly_id, rlat, rlon in rings:
        inside = ray_cast(lat, lon, rlat, rlon)
        want.update((int(i), poly_id) for i in ids[inside])
    if got != want:
        return [f"pip: {len(got ^ want)} of {len(want)} sampled "
                "(node, polygon) pairs differ from the ray-cast"]
    if not want:
        return ["pip: the sample matched no polygon"]
    return []


def check_knn(rows: list, queries: list, nodes: dict, k: int,
              n_check: int) -> list[str]:
    """kNN distances for the first `n_check` queries vs brute force."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(str(r["query_id"]), []).append(float(r["dist"]))
    problems = []
    if len(by_q) != len(queries):
        problems.append(f"knn: {len(by_q)} of {len(queries)} queries answered")
    for qid, qlat, qlon in queries[:n_check]:
        d = haversine_m(qlat, qlon, nodes["lat"], nodes["lon"])
        want = np.sort(np.partition(d, k)[:k])
        got = np.sort(np.asarray(by_q.get(qid, []), dtype=np.float64))
        if len(got) != k or not np.allclose(got, want, rtol=1e-9,
                                            atol=BOUNDARY_EPS_M):
            problems.append(f"knn: query {qid} distances differ")
    return problems


def check_radius(rows: list, queries: list, nodes: dict, radius: float,
                 n_check: int) -> list[str]:
    """Per-query pair counts and distance sums vs brute force."""
    by_q = {str(r["query_id"]): (int(r["n"]), float(r["dist_sum"]))
            for r in rows}
    problems = []
    for qid, qlat, qlon in queries[:n_check]:
        d = haversine_m(qlat, qlon, nodes["lat"], nodes["lon"])
        inside = d <= radius - BOUNDARY_EPS_M
        edge = np.abs(d - radius) < BOUNDARY_EPS_M
        n_lo = int(inside.sum())
        n, s = by_q.get(qid, (0, 0.0))
        if not n_lo <= n <= n_lo + int(edge.sum()):
            problems.append(f"radius: query {qid} has {n} pairs, want {n_lo}")
        elif not edge.any() and not np.isclose(s, d[inside].sum(),
                                               rtol=1e-9, atol=1e-3):
            problems.append(f"radius: query {qid} distance sum differs")
    return problems


def check_counts(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: {got}, want {want}"]
