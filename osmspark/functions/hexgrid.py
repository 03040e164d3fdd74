"""H3-style hierarchical hexagonal index (B2, SURVEY §2.2) — from scratch.

Implements the published H3 algorithm *structure* — gnomonic projection onto
a face, aperture-7 hexagon grid per resolution with the ~19.1066° inter-
resolution rotation (atan(sqrt(3)/5)), axial-coordinate rounding, k-ring
neighborhoods, and approximate parent/child nesting — on the cube-face
gnomonic chart shared with the S2 module (instead of Uber's icosahedral
chart; no h3 library exists in this sandbox to match bit-identically, see
SURVEY §7.0/§7.2).  Cell ids are therefore self-consistent 64-bit keys with
H3-equivalent semantics (res 7-10, k-ring, parent), not Uber-bit-compatible.

Bit layout (id >= 0, high bit clear):
  [62:59] res (4b) | [58:56] face (3b) | [55:28] q+2^27 | [27:0] r+2^27

All math is numpy-vectorized; Spark surface: cell assignment as one
selectExpr of named built-in SQL steps (`with_hex_cell`), and one Arrow pandas
UDF, `parent_udf`.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import EARTH_RADIUS_M
from .geo import haversine_np, latlon_to_xyz, xyz_to_latlon
from .s2 import face_uv_to_xyz, xyz_to_face_uv

# aperture-7 rotation between consecutive resolutions (published H3 constant)
ROT_PER_RES = math.atan2(math.sqrt(3.0), 5.0)  # ≈ 0.3334731722 rad = 19.1066°
SQRT7 = math.sqrt(7.0)
RES0_R = 0.35  # res-0 hex circumradius on the face uv plane ([-1,1]^2)
_OFF = 1 << 27
_SQRT3 = math.sqrt(3.0)


def _res_frame(res: int):
    """(hex circumradius, cos, sin of accumulated rotation) at `res`."""
    radius = RES0_R / (SQRT7 ** res)
    theta = ROT_PER_RES * res
    return radius, math.cos(theta), math.sin(theta)


def _xy_to_axial(x, y, res: int):
    """Face-plane xy -> fractional axial (q, r) in the res frame."""
    radius, c, s = _res_frame(res)
    xr = x * c + y * s
    yr = -x * s + y * c
    q = (_SQRT3 / 3.0 * xr - yr / 3.0) / radius
    r = (2.0 / 3.0 * yr) / radius
    return q, r


def _axial_to_xy(q, r, res: int):
    radius, c, s = _res_frame(res)
    xr = radius * (_SQRT3 * q + _SQRT3 / 2.0 * r)
    yr = radius * (1.5 * r)
    # rotate back
    return xr * c - yr * s, xr * s + yr * c


def _axial_round(qf, rf):
    """Cube-coordinate rounding to the nearest hex center (vectorized)."""
    sf = -qf - rf
    q = np.rint(qf)
    r = np.rint(rf)
    s = np.rint(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def pack(res, face, q, r):
    res = np.asarray(res, dtype=np.int64)
    face = np.asarray(face, dtype=np.int64)
    q = np.asarray(q, dtype=np.int64) + _OFF
    r = np.asarray(r, dtype=np.int64) + _OFF
    if np.any((q < 0) | (q >= (1 << 28)) | (r < 0) | (r >= (1 << 28))):
        raise ValueError("axial coordinate out of 28-bit range")
    return (res << 59) | (face << 56) | (q << 28) | r


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> 59) & 0xF
    face = (cell >> 56) & 0x7
    q = ((cell >> 28) & ((1 << 28) - 1)) - _OFF
    r = (cell & ((1 << 28) - 1)) - _OFF
    return res, face, q, r


def latlon_to_cell(lat, lon, res: int):
    """lat/lon arrays -> hex cell ids at `res` (vectorized)."""
    x, y, z = latlon_to_xyz(lat, lon)
    face, u, v = xyz_to_face_uv(x, y, z)
    qf, rf = _xy_to_axial(u, v, res)
    q, r = _axial_round(qf, rf)
    return pack(np.full_like(q, res), face, q, r)


def cell_center_latlon(cell):
    """Hex center back to lat/lon (vectorized) — used by parent() and tiles."""
    res, face, q, r = unpack(cell)
    out_lat = np.empty(len(np.atleast_1d(q)), dtype=np.float64)
    out_lon = np.empty_like(out_lat)
    res = np.atleast_1d(res)
    face = np.atleast_1d(face)
    q = np.atleast_1d(q)
    r = np.atleast_1d(r)
    for rv in np.unique(res):
        m = res == rv
        u, v = _axial_to_xy(q[m].astype(np.float64), r[m].astype(np.float64), int(rv))
        x, y, z = face_uv_to_xyz(face[m], u, v)
        la, lo = xyz_to_latlon(x, y, z)
        out_lat[m] = la
        out_lon[m] = lo
    return out_lat, out_lon


def parent_cell(cell, parent_res: int):
    """Approximate-containment parent (H3 semantics: aperture-7 nesting is
    approximate by construction): child center re-assigned at parent res."""
    lat, lon = cell_center_latlon(cell)
    return latlon_to_cell(lat, lon, parent_res)


@functools.lru_cache(maxsize=64)
def kring_offsets(k: int):
    """Axial offsets of the filled k-ring (1 + 3k(k+1) cells): self first,
    then ring by ring (standard hex-ring walk), vectorized for large k.
    Cached per k — callers must not mutate the returned list."""
    if k == 0:
        return [(0, 0)]
    qq, rr = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1),
                         indexing="ij")
    qq, rr = qq.ravel(), rr.ravel()
    dist = (np.abs(qq) + np.abs(rr) + np.abs(qq + rr)) // 2
    keep = dist <= k
    qq, rr, dist = qq[keep], rr[keep], dist[keep]
    # stable order: by ring, then angle-ish (q desc, r asc) — deterministic
    order = np.lexsort((rr, -qq, dist))
    return list(zip(qq[order].tolist(), rr[order].tolist()))


def kring(cell, k: int):
    """cells (n,) -> (n, 1+3k(k+1)) neighbor ids incl. self (vectorized).

    Neighbors are computed in axial space on the same face — exact away from
    face edges (the whole SG bbox sits inside one face)."""
    res, face, q, r = unpack(cell)
    offs = np.array(kring_offsets(k), dtype=np.int64)  # (m, 2)
    qq = q[:, None] + offs[None, :, 0]
    rr = r[:, None] + offs[None, :, 1]
    resb = np.broadcast_to(res[:, None], qq.shape)
    faceb = np.broadcast_to(face[:, None], qq.shape)
    return pack(resb, faceb, qq, rr)


# --- multi-face disk cover (seam-exact candidate generation) ---------------
# A kring() is exact only in the home face's axial frame: points across a
# cube-face seam are assigned to cells on the NEIGHBOR face (different face
# bits, different axial frame), so a same-face k-ring silently misses them.
# disk_cells() closes that hole: the home-face ring plus, for disks that
# spill past a face boundary, anchor rings re-projected onto each spilled
# neighbor face (BFS fixpoint, the spatial_join._cover_piece_flagged
# pattern lifted to point disks).

# Unit axis of each cube face (S2 face layout; s2.face_uv_to_xyz).
FACE_AXES = np.array([
    [1, 0, 0], [0, 1, 0], [0, 0, 1], [-1, 0, 0], [0, -1, 0], [0, 0, -1],
], dtype=np.float64)

# Operating-envelope cap for point-disk covers.  The uv-exact ring bound
# below (`ring_count_uv`) is provably complete at any radius, but disk
# fanout grows ~(cover/cell)^2 and past a couple hundred km a disk
# approaches face scale — the polygon-cover join (adaptive res, scale
# sampled along edges) is the right tool there.  Enforced loudly by
# disk_cells so a mis-sized radius fails fast instead of exploding.
MAX_COVER_M = 200_000.0


@functools.lru_cache(maxsize=None)
def face_neighbor(f: int, side: str) -> int:
    """The cube face across one boundary of face `f`'s uv square
    ('u+','u-','v+','v-'), derived numerically (probe beyond the midpoint
    and ask xyz_to_face_uv who owns it — each cube edge has one owner)."""
    u, v = {"u+": (1.2, 0.0), "u-": (-1.2, 0.0),
            "v+": (0.0, 1.2), "v-": (0.0, -1.2)}[side]
    x, y, z = face_uv_to_xyz(np.array([f]), np.array([u]), np.array([v]))
    nf, _, _ = xyz_to_face_uv(x, y, z)
    return int(nf[0])


def _uv_on_face(f: int, x, y, z):
    """Gnomonic (u, v) of points onto the plane of a GIVEN face `f` — the
    per-face inverse of s2.face_uv_to_xyz; |u|/|v| may exceed 1 for points
    that live off-face (caller checks the hemisphere via FACE_AXES dot)."""
    if f == 0:
        return y / x, z / x
    if f == 1:
        return -x / y, z / y
    if f == 2:
        return -x / z, -y / z
    if f == 3:
        return z / x, y / x
    if f == 4:
        return z / y, -x / y
    return -y / z, -x / z


# --- uv-exact coverage bounds ----------------------------------------------
# The axial hex lattice is EXACTLY uniform on the face uv plane (constant
# circumradius r_uv = RES0_R / sqrt(7)^res; see _axial_to_xy), and the
# gnomonic projection maps geodesics to straight uv lines.  The projection
# Jacobian's Gram matrix at (u, v) is 1/n^4 * [[1+v^2, -uv], [-uv, 1+u^2]]
# with n^2 = 1 + u^2 + v^2, whose eigenvalues are exactly 1/n^2 and 1/n^4 —
# so meters-per-uv lies in [R_e/n^2, R_e/n].  The exact consequence:
#
#  * ring_count_uv: a geodesic of length L meters starting at (u, v)
#    cannot leave a uv box of half-width e before spending its length
#    whenever e is SELF-CONSISTENT: e >= L/R_e * n2_max(u, v, e)
#    (bootstrap: inside the box, uv speed <= n2_max(e)/R_e, so uv
#    distance traveled <= L*n2_max(e)/R_e <= e — the geodesic never
#    reaches the boundary).  The unclipped fixpoint of
#    e = c*(1 + (|u|+e)^2 + (|v|+e)^2) with c = L/R_e is a quadratic
#    with closed-form smaller root e*; one application of the (clipped)
#    map gives e_uv = c*n2_max(u, v, e*, clip) <= e*, which is itself
#    self-consistent because n2_max is monotone in e.  Then k rings with
#    (1.5k - 1) * r_uv >= e_uv cover every point within L meters (hex
#    apothem bound, measured from the query point which sits inside its
#    own cell).  This holds for arbitrary unclipped (u, v) — the
#    neighbor-face anchor calls near cube corners included — unlike a
#    fixed n^2 <= 3 seed, which is only valid on-face.
#
# n_max^2 is evaluated over the relevant uv disk; for home-face calls the
# reachable points all lie inside the face square so |u|,|v| clip at 1,
# for neighbor-face anchor calls the (off-face) query uv is kept unclipped
# (conservative).  This replaces the earlier measured-local-R heuristic
# whose fixed 10% slack under-covered near face edges.


def _n2_max(u, v, e, clip: bool):
    """Worst n^2 = 1 + u^2 + v^2 over the uv box of half-width `e` around
    (u, v), optionally clipped to the face square (vectorized)."""
    ua = np.abs(np.asarray(u, dtype=np.float64)) + e
    va = np.abs(np.asarray(v, dtype=np.float64)) + e
    if clip:
        ua = np.minimum(ua, 1.0)
        va = np.minimum(va, 1.0)
    return 1.0 + ua * ua + va * va


def ring_count_uv(cover_m, u, v, res: int, clip: bool = True):
    """Exact ring count so kring(k) around the cell containing uv point
    (u, v) covers every point within `cover_m` meters (see block comment;
    vectorized)."""
    cover = np.asarray(cover_m, dtype=np.float64)
    r_uv = RES0_R / (SQRT7 ** res)
    c = cover / EARTH_RADIUS_M
    a = np.abs(np.asarray(u, dtype=np.float64))
    b = np.abs(np.asarray(v, dtype=np.float64))
    # smaller root e* of the unclipped fixpoint
    # e = c * (1 + (a + e)^2 + (b + e)^2)  (see block comment)
    qa = 2.0 * c
    qb = 2.0 * c * (a + b) - 1.0
    qc = c * (1.0 + a * a + b * b)
    disc = qb * qb - 4.0 * qa * qc
    if np.any(qb >= 0.0) or np.any(disc <= 0.0):
        raise ValueError(
            "ring_count_uv: cover_m too large for a self-consistent uv "
            "disk bound at this uv — use the polygon-cover join instead")
    e_star = 2.0 * qc / (-qb + np.sqrt(disc))  # stable; -> -qc/qb as c -> 0
    e_uv = c * _n2_max(u, v, e_star, clip)     # <= e*, still self-consistent
    k = np.ceil((e_uv / r_uv + 1.0) / 1.5)
    return np.maximum(k.astype(np.int64), 1)


def _spill_sides(u, v, ext):
    """Which uv-square boundaries a disk of uv-extent `ext` around (u, v)
    crosses.  Scalar inputs -> list of side tags."""
    out = []
    if u + ext > 1.0:
        out.append("u+")
    if u - ext < -1.0:
        out.append("u-")
    if v + ext > 1.0:
        out.append("v+")
    if v - ext < -1.0:
        out.append("v-")
    return out


def disk_cells(lats, lons, cover_m, res: int, max_ring: int | None = None):
    """Seam-exact candidate cover: for each (lat, lon, cover) returns the
    array of ALL cells at `res` — on any cube face — that can contain a
    point within `cover_m` meters of the query.

    Home face: a k-ring sized by the uv-exact bound (`ring_count_uv`,
    provably covering in the home axial frame).  Seam spill: if the ring's
    padded uv extent crosses a face boundary, the query is re-projected
    onto the neighbor face's gnomonic plane, rounded to an ANCHOR cell in
    that face's axial frame (the query's reprojection lies inside the
    anchor cell), and a uv-exact k-ring covering cover_m is generated
    there; spill checks repeat per face (BFS, <= 6 faces).  Raises on
    cover_m > MAX_COVER_M (operating-envelope cap) and on per-query ring
    counts above `max_ring` (pathologically fine res for the radius) —
    loud, never silently incomplete."""
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    cover = np.broadcast_to(
        np.asarray(cover_m, dtype=np.float64), lats.shape
    ).astype(np.float64)
    if np.any(cover > MAX_COVER_M):
        raise ValueError(
            f"disk cover radius {float(cover.max()):.0f} m exceeds "
            f"MAX_COVER_M={MAX_COVER_M:.0f} m — past a couple hundred km "
            "a point-disk cover approaches face scale; split the query "
            "radius or use the polygon cover path"
        )
    x, y, z = latlon_to_xyz(lats, lons)
    home = latlon_to_cell(lats, lons, res)
    hface = ((home >> 56) & 0x7).astype(np.int64)
    u0, v0 = _uv_on_face_batch(hface, x, y, z)
    rings = ring_count_uv(cover, u0, v0, res)
    if max_ring is not None and np.any(rings > max_ring):
        raise ValueError(
            f"disk cover at res={res} needs ring {int(rings.max())} > "
            f"{max_ring} for this radius; use a coarser res (or res=None "
            "for auto)"
        )
    return _multiface_rings(home, x, y, z, rings, cover, res, max_ring)


def _multiface_rings(home, x, y, z, rings, cover, res: int,
                     max_ring: int | None):
    """disk_cells' core: home rings + spill BFS."""
    hface = ((home >> 56) & 0x7).astype(np.int64)

    out: list = [None] * len(home)
    # home-face rings, batched by distinct ring value
    for rv in np.unique(rings):
        m = rings == rv
        arr = kring(home[m], int(rv))
        for i, row in zip(np.nonzero(m)[0], arr):
            out[i] = row

    # seam spill: conservative uv extent of the padded ring — k axial steps
    # of sqrt(3)*radius_uv spacing, plus 2 circumradii (cell reach + round)
    radius_uv = RES0_R / (SQRT7 ** res)
    u0, v0 = _uv_on_face_batch(hface, x, y, z)
    ext = (rings * _SQRT3 + 2.0) * radius_uv
    spilled = ((np.abs(u0) + ext > 1.0) | (np.abs(v0) + ext > 1.0))
    for i in np.nonzero(spilled)[0]:
        parts = [out[i]]
        seen = {int(hface[i])}
        queue = [
            face_neighbor(int(hface[i]), s)
            for s in _spill_sides(float(u0[i]), float(v0[i]), float(ext[i]))
        ]
        while queue:
            nf = queue.pop()
            if nf in seen:
                continue
            seen.add(nf)
            ax = FACE_AXES[nf]
            dot = x[i] * ax[0] + y[i] * ax[1] + z[i] * ax[2]
            if dot <= 0.05:
                continue  # off-hemisphere probe; a capped disk can't reach
            un, vn = _uv_on_face(nf, x[i], y[i], z[i])
            qf, rf = _xy_to_axial(np.array([un]), np.array([vn]), res)
            aq, ar = _axial_round(qf, rf)
            anchor = pack(np.array([res], dtype=np.int64),
                          np.array([nf], dtype=np.int64), aq, ar)
            # uv-exact anchor ring in the NEIGHBOR frame; the off-face
            # query uv stays unclipped (conservative n^2)
            kn = int(ring_count_uv(cover[i], un, vn, res, clip=False))
            if max_ring is not None and kn > max_ring:
                raise ValueError(
                    f"disk cover at res={res} needs ring {kn} > {max_ring} "
                    "on a neighbor face; use a coarser res (or res=None)"
                )
            parts.append(kring(anchor, kn)[0])
            extn = (kn * _SQRT3 + 2.0) * radius_uv
            for s in _spill_sides(float(un), float(vn), extn):
                nn = face_neighbor(nf, s)
                if nn not in seen:
                    queue.append(nn)
        out[i] = np.unique(np.concatenate(parts))
    return out


def _uv_on_face_batch(faces, x, y, z):
    """_uv_on_face for per-element face ids (vectorized by face value)."""
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f in np.unique(faces):
        m = faces == f
        u[m], v[m] = _uv_on_face(int(f), x[m], y[m], z[m])
    return u, v


# sign bit used by disk_cells_flagged to mark CERTIFIED-INTERIOR cells:
# packed ids always have bit 63 clear (pack() range-checks 28-bit axials),
# so `flagged < 0` <=> interior and `flagged & DISK_CELL_MASK` recovers
# the id — the flag rides the long array with zero extra Arrow columns.
DISK_CELL_MASK = 0x7FFFFFFFFFFFFFFF
_DISK_FLAG = np.int64(-0x8000000000000000)
# conservative slack (meters) absorbing numpy-vs-JVM trig ulps on cell
# boundaries and the arcsin chord evaluation error — both orders of
# magnitude below a millimeter; classification flips only move cells
# between the certified and exact-filter buckets, never change membership
_CLASSIFY_SLACK_M = 1e-3


def _cell_reach_m(cells: np.ndarray, res: int) -> np.ndarray:
    """Sound upper bound (meters) on the distance from each cell's center
    to ANY point the cell can own.  The hex is contained in the uv disk of
    circumradius r_uv around its center; the gnomonic maps the center->
    point geodesic to the straight uv segment inside that disk, whose
    metric speed is <= R_e/n with n^2 = 1+u^2+v^2 (see the uv-exact block
    comment above), so reach <= r_uv * R_e / n_min over the disk."""
    _, _, q, r = unpack(cells)
    u, v = _axial_to_xy(q.astype(np.float64), r.astype(np.float64), res)
    r_uv = RES0_R / (SQRT7 ** res)
    ua = np.maximum(np.abs(u) - r_uv, 0.0)
    va = np.maximum(np.abs(v) - r_uv, 0.0)
    return r_uv * EARTH_RADIUS_M / np.sqrt(1.0 + ua * ua + va * va)


def disk_cells_flagged(lats, lons, cover_m, res: int,
                       max_ring: int | None = None):
    """`disk_cells` + exact per-cell classification (the radius join's
    round-6 trig-skip optimization, guide §1.2 "don't compute things you
    throw away"):

      * cells whose every ownable point is PROVABLY beyond cover_m
        (center distance - reach > cover) are DROPPED — they could only
        ever produce filtered-out candidate pairs;
      * cells whose every ownable point is PROVABLY within cover_m
        (center distance + reach <= cover) come back with the sign bit
        set (`< 0`): the caller may skip the exact distance filter for
        their points entirely.

    Both tests are conservative (slack absorbs trig ulps), so the
    surviving-candidate set remains a superset of the true matches and
    certified cells contain only true matches — membership is identical
    to the plain disk_cells + exact-filter path.  The home cell contains
    the query (distance 0) and is never dropped."""
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    cover = np.broadcast_to(
        np.asarray(cover_m, dtype=np.float64), lats.shape
    ).astype(np.float64)
    cells = disk_cells(lats, lons, cover, res, max_ring=max_ring)
    lens = np.fromiter((len(c) for c in cells), dtype=np.int64,
                       count=len(cells))
    if not len(cells) or lens.sum() == 0:
        return cells
    flat = np.concatenate(cells)
    qidx = np.repeat(np.arange(len(cells), dtype=np.int64), lens)
    cla, clo = cell_center_latlon(flat)
    d_m = haversine_np(lats[qidx], lons[qidx], cla, clo)
    reach = _cell_reach_m(flat, res) + _CLASSIFY_SLACK_M
    cov = cover[qidx]
    keep = d_m - reach <= cov
    inside = d_m + reach <= cov
    flat = np.where(inside, flat | _DISK_FLAG, flat)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return [
        flat[s:s + n][keep[s:s + n]]
        for s, n in zip(starts.tolist(), lens.tolist())
    ]


# --- Spark surface ---------------------------------------------------------
def with_hex_cell(df, res: int, lat="lat", lon="lon", out_col=None):
    """Adds the hex cell column (default name `hex_r{res}`).

    The latlon -> xyz -> face/uv -> rotated axial -> cube-round -> pack
    chain is built-in SQL, so cell assignment stays in whole-stage codegen
    with no Python.  Each step is a named lateral alias in one `selectExpr`:
    Catalyst expressions are trees, so an unnamed value is recomputed at
    every reference (the nested form ran 6x slower).  The steps are SQL text
    because every PySpark Column call costs py4j round trips.  An input
    column named like a step would shadow its alias, so it is refused.

    Bit-parity with the numpy path (`latlon_to_cell`): same constants, same
    rounding (rint == np.rint, half-even); JVM-vs-numpy trig can differ by
    ~1 ulp, which can flip a point sitting EXACTLY on a cell boundary to the
    adjacent cell — harmless for the join/kNN contracts (covers pad by >=
    one circumradius; kNN bounds are metric) and asserted absent in tests."""
    if not 0 <= res <= 15:
        raise ValueError("res must be in [0, 15]")
    radius, c, s = (f"{v!r}D" for v in _res_frame(res))

    def by_face(*exprs):
        return "CASE __hface " + " ".join(
            f"WHEN {i} THEN {e}" for i, e in enumerate(exprs)) + " END"

    steps = [
        ("__hcl", f"cos(radians(`{lat}`))"),
        ("__hx", f"__hcl * cos(radians(`{lon}`))"),
        ("__hy", f"__hcl * sin(radians(`{lon}`))"),
        ("__hz", f"sin(radians(`{lat}`))"),
        ("__hface",
         "CASE WHEN abs(__hx) >= abs(__hy) AND abs(__hx) >= abs(__hz)"
         " THEN IF(__hx < 0, 3, 0)"
         " WHEN abs(__hy) >= abs(__hz) THEN IF(__hy < 0, 4, 1)"
         " ELSE IF(__hz < 0, 5, 2) END"),
        ("__hu", by_face("__hy / __hx", "-__hx / __hy", "-__hx / __hz",
                         "__hz / __hx", "__hz / __hy", "-__hy / __hz")),
        ("__hv", by_face("__hz / __hx", "__hz / __hy", "-__hy / __hz",
                         "__hy / __hx", "-__hx / __hy", "-__hx / __hz")),
        ("__hxr", f"__hu * {c} + __hv * {s}"),
        ("__hyr", f"-__hu * {s} + __hv * {c}"),
        ("__hqf", f"({_SQRT3 / 3.0!r}D * __hxr - __hyr / 3.0D) / {radius}"),
        ("__hrf", f"({2.0 / 3.0!r}D * __hyr) / {radius}"),
        ("__hsf", "-__hqf - __hrf"),
        *((f"__h{a}0", f"rint(__h{a}f)") for a in "qrs"),
        *((f"__hd{a}", f"abs(__h{a}0 - __h{a}f)") for a in "qrs"),
        ("__hfq", "__hdq > __hdr AND __hdq > __hds"),
        # when r is fixed, q is not, so the q in (-q - s) is still q0
        ("__hq", "CAST(IF(__hfq, -__hr0 - __hs0, __hq0) AS BIGINT)"),
        ("__hr", "CAST(IF(__hdr > __hds AND NOT __hfq, -__hq0 - __hs0, __hr0)"
                 " AS BIGINT)"),
    ]
    names = [n for n, _ in steps]
    clash = set(names) & {col.lower() for col in df.columns}
    if clash:
        raise ValueError(f"input columns {sorted(clash)} would shadow "
                         "with_hex_cell's steps")
    packed = (f"{res << 59}L | shiftleft(CAST(__hface AS BIGINT), 56)"
              f" | shiftleft(__hq + {_OFF}, 28) | (__hr + {_OFF})")
    # coalesce keeps the column non-nullable: null coords give -1, which
    # matches no real cell, and a join on the cell pushes down no isnotnull
    # filter (one would inline the whole chain into the filter).
    return df.selectExpr(
        "*", *(f"{e} AS {n}" for n, e in steps),
        f"coalesce({packed}, -1L) AS `{out_col or f'hex_r{res}'}`",
    ).drop(*names)


def parent_udf(parent_res: int):
    """Arrow pandas UDF: cell id -> approximate-containment parent id at
    `parent_res` (child center re-assigned, H3 aperture-7 semantics)."""

    @F.pandas_udf(T.LongType())
    def hex_parent(cell: pd.Series) -> pd.Series:
        return pd.Series(parent_cell(cell.to_numpy(), parent_res))

    return hex_parent
