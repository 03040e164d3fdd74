"""Polygon-polygon intersection join (spatial overlay, B4c) — which
pairs of polygons from two dims overlap: admin x ZIP coverage, geofence
conflict checks, vectorized-raster features (tiles.vectorize_raster)
joined back against the admin dim.

Same two-phase shape as the PIP join, lifted one rank: phase 1 joins the
two sides' COVER CELLS (`spatial_join.polygon_cover` — the PIP join's
cached dim-side cover, a superset of every cell the polygon touches, so
any intersecting pair shares at least one candidate cell); phase 2 verifies
each candidate pair exactly with the standard polygon-intersection
predicate:

    intersect(A, B)  :=  any vertex of B inside A
                      or any vertex of A inside B
                      or any edge of A properly crossing any edge of B

plus a strictly-INTERIOR sample point of each ring tested in the other
(vertex-in catches containment, edge-cross catches the plus-sign overlap
where neither polygon holds a vertex of the other, and the interior
points catch coincident / shared-all-vertices pairs — a duplicated
geofence — where every vertex is ON the boundary and every edge pair is
collinear, defeating both strict tests).  Semantics notes:
interior-overlap semantics — pairs that merely TOUCH along a boundary
with zero interior overlap are not guaranteed either way (the even-odd
boundary ambiguity the PIP join documents); antimeridian rings must be
pre-unwrapped (each comparison shifts its partner into the reference
ring's longitude frame).

Scale shape: covers are per-polygon Arrow-map work (no driver collect
of either dim), cached per dim snapshot at their real size, so the
candidate join on the cell key broadcasts or shuffles by that size, and
the verifier is one Arrow UDF running the FLAT RAGGED kernels:
per batch, each side's distinct rings go into one flat vertex/edge
table, every leg's ragged (probe x edge) combo space across ALL rows is
indexed with vectorized repeat/cumsum arithmetic, the crossing /
orientation tests run as one chunked array pass, parity folds with
bincount and per-row any/all with reduceat — zero per-pair and
per-ring Python, so cost is blind to candidate skew (a hot polygon
with thousands of candidates and thousands of 1-candidate polygons
price identically per combo; the round-4 per-pair loop stalled past
~10^5-row dims on loop overhead alone).  A vectorized bbox prefilter
(O(rows), all three viable longitude alignments) settles the
definitively-disjoint majority of candidate pairs before any leg runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .spatial_join import (_GRID_CHUNK, _pip_single_ring, polygon_cover,
                           split_ring)


def _pieces(ring_lat, ring_lon):
    """split_ring with a fast path: an ordinary ring (lon span <= 180,
    poles untouched) is its own single piece — split_ring's
    unwrap/densify machinery costs ~0.4 ms per call even on a 5-vertex
    rectangle, which dominated the pair verifier (measured 53 s for a
    10k x 10k dim overlay; the fast path cuts the predicate ~20x)."""
    if (ring_lon.max() - ring_lon.min() <= 180.0
            and -90.0 < ring_lat.min() and ring_lat.max() < 90.0):
        return [(ring_lat, ring_lon)]
    return split_ring(ring_lat, ring_lon)


def _any_vertex_inside(vlat, vlon, ring_lat, ring_lon) -> bool:
    """Any of the query vertices strictly inside the (possibly split)
    ring — reuses the engine's crossing-number kernel."""
    acc = np.zeros(len(vlat), dtype=bool)
    for rl, rlo in _pieces(ring_lat, ring_lon):
        acc |= _pip_single_ring(vlat, vlon, rl, rlo)
    return bool(acc.any())


def _any_edge_cross(alat, alon, blat, blon) -> bool:
    """Any PROPER crossing between an edge of ring A and an edge of ring
    B (strict orientation signs on both sides) — vectorized over the
    full (edges_A x edges_B) grid."""
    ax1, ay1 = alon[:-1], alat[:-1]
    ax2, ay2 = alon[1:], alat[1:]
    bx1, by1 = blon[:-1], blat[:-1]
    bx2, by2 = blon[1:], blat[1:]

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    # (nA, 1) vs (1, nB) broadcasting
    d1 = orient(ax1[:, None], ay1[:, None], ax2[:, None], ay2[:, None],
                bx1[None, :], by1[None, :])
    d2 = orient(ax1[:, None], ay1[:, None], ax2[:, None], ay2[:, None],
                bx2[None, :], by2[None, :])
    d3 = orient(bx1[None, :], by1[None, :], bx2[None, :], by2[None, :],
                ax1[:, None], ay1[:, None])
    d4 = orient(bx1[None, :], by1[None, :], bx2[None, :], by2[None, :],
                ax2[:, None], ay2[:, None])
    return bool(np.any((d1 * d2 < 0) & (d3 * d4 < 0)))


def _interior_point(lats, lons):
    """A point STRICTLY inside the ring (even-odd): intersect the ring
    with a horizontal chord at a lat between min and max (nudged off any
    vertex latitude), take the midpoint of the first crossing interval.
    Needed because coincident/shared-boundary polygons defeat both
    strict vertex-in and proper edge-cross — identical rings have every
    vertex ON the boundary and every edge collinear."""
    la0, la1 = float(lats.min()), float(lats.max())
    if la1 <= la0:
        return None
    y = (la0 + la1) / 2.0
    for _ in range(8):
        # plain abs compare (np.isclose costs ~10x and this runs once per
        # distinct ring per batch — measured dominant in the verifier)
        if not (np.abs(lats - y) <= 1e-12).any():
            break
        y += (la1 - la0) * 1e-7
    y1, y2 = lats[:-1], lats[1:]
    x1, x2 = lons[:-1], lons[1:]
    m = (y1 > y) != (y2 > y)
    if not m.any():
        return None
    xs = np.sort(x1[m] + (y - y1[m]) / (y2[m] - y1[m]) * (x2[m] - x1[m]))
    if len(xs) < 2:
        return None
    return y, float((xs[0] + xs[1]) / 2.0)


def _to_frame(ref_lons, lons):
    """Shift `lons` by a multiple of 360 into `ref_lons`'s frame — the
    edge-cross and interior-point legs compare raw coordinates, so an
    unwrapped antimeridian ring (e.g. 175..185) must meet its partner in
    ONE longitude frame (the PIP kernel does this internally; these legs
    need it done explicitly)."""
    if len(ref_lons) == 0 or len(lons) == 0:
        return lons
    shift = 360.0 * np.round((np.mean(ref_lons) - np.mean(lons)) / 360.0)
    return lons + shift


def polygons_intersect_np(alat, alon, blat, blon) -> bool:
    """The exact pairwise predicate (numpy arrays of ring vertices,
    closed rings)."""
    blon_f = _to_frame(alon, blon)
    if _any_vertex_inside(blat, blon, alat, alon):
        return True
    if _any_vertex_inside(alat, alon, blat, blon):
        return True
    if _any_edge_cross(alat, alon, blat, blon_f):
        return True
    # coincident / shared-boundary cases: strictly-interior sample points
    pa = _interior_point(alat, alon)
    if pa is not None and _any_vertex_inside(
            np.array([pa[0]]), np.array([pa[1]]), blat, blon):
        return True
    pb = _interior_point(blat, blon_f)
    if pb is not None and _any_vertex_inside(
            np.array([pb[0]]), np.array([pb[1]]), alat, alon):
        return True
    return False


# --- grouped batch kernels (split-ring fallback) ----------------------------
# The per-pair predicates above are the SPEC (kept for tests, oracles and
# direct callers).  The kernels directly below group candidate pairs by
# ring id and run one vectorized pass per distinct ring — they remain as
# the fallback for rows whose key ring needs split_ring (polar /
# antimeridian); all ordinary-ring rows take the flat ragged kernels
# further down, which have no per-ring Python at all.


def _group_rows(ids: np.ndarray, mask: np.ndarray) -> dict:
    """id -> row-index array over rows where mask holds."""
    d: dict = {}
    for i in np.nonzero(mask)[0]:
        d.setdefault(ids[i], []).append(i)
    return {k: np.asarray(v, dtype=np.int64) for k, v in d.items()}


def _concat_segments(parts: list):
    """(concat_a, concat_b, reduceat offsets) for per-row coordinate
    array pairs; every part is non-empty (closed rings)."""
    lens = np.array([len(p[0]) for p in parts], dtype=np.int64)
    offs = np.zeros(len(parts), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    return (np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]), offs)


def _pip_pieces(vlat, vlon, pieces) -> np.ndarray:
    """Strictly-inside (crossing number) of each point vs a split ring —
    point-chunked so the (points x edges) grid stays under _GRID_CHUNK."""
    acc = np.zeros(len(vlat), dtype=bool)
    ne = max(len(p[0]) for p in pieces) - 1
    step = max(1, _GRID_CHUNK // max(ne, 1))
    for s in range(0, len(vlat), step):
        sl = slice(s, s + step)
        for rl, rlo in pieces:
            acc[sl] |= _pip_single_ring(vlat[sl], vlon[sl], rl, rlo)
    return acc


def _pieces_of(cache: dict, rings: dict, key):
    if key not in cache:
        cache[key] = _pieces(*rings[key])
    return cache[key]


def _vertices_in_grouped(out, rows_by_key, key_cache, probe_of_row,
                         pieces_cache, mode: str) -> None:
    """out[r] = ANY/ALL of row r's probe-ring vertices strictly inside
    the key ring — one crossing-number pass per distinct key ring over
    the concatenated probe vertices."""
    for key, rows in rows_by_key.items():
        pieces = _pieces_of(pieces_cache, key_cache, key)
        vlat, vlon, offs = _concat_segments([probe_of_row(r) for r in rows])
        acc = _pip_pieces(vlat, vlon, pieces)
        out[rows] = (np.logical_or.reduceat(acc, offs) if mode == "any"
                     else np.logical_and.reduceat(acc, offs))


def _edge_cross_grouped(out, rows_by_a, a_cache, b_of_row) -> None:
    """out[r] = any PROPER crossing between an edge of ring A and an edge
    of row r's ring B (B shifted into A's longitude frame).  One chunked
    (edges_A x concatenated edges_B) orientation grid per distinct A."""
    for a, rows in rows_by_a.items():
        alat, alon = a_cache[a]
        ax1 = alon[:-1][:, None]
        ay1 = alat[:-1][:, None]
        ax2 = alon[1:][:, None]
        ay2 = alat[1:][:, None]
        n_a = len(alat) - 1
        parts_y = []
        parts_x = []
        for r in rows:
            blat, blon = b_of_row(r)
            blon = _to_frame(alon, blon)
            parts_y.append((blat[:-1], blat[1:]))
            parts_x.append((blon[:-1], blon[1:]))
        by1, by2, offs = _concat_segments(parts_y)
        bx1, bx2, _ = _concat_segments(parts_x)

        cross = np.zeros(len(bx1), dtype=bool)
        step = max(1, _GRID_CHUNK // max(n_a, 1))
        for s in range(0, len(bx1), step):
            sl = slice(s, s + step)
            cx1, cy1 = bx1[None, sl], by1[None, sl]
            cx2, cy2 = bx2[None, sl], by2[None, sl]
            dax, day = ax2 - ax1, ay2 - ay1
            d1 = dax * (cy1 - ay1) - day * (cx1 - ax1)
            d2 = dax * (cy2 - ay1) - day * (cx2 - ax1)
            dbx, dby = cx2 - cx1, cy2 - cy1
            d3 = dbx * (ay1 - cy1) - dby * (ax1 - cx1)
            d4 = dbx * (ay2 - cy1) - dby * (ax2 - cx1)
            cross[sl] = np.any((d1 * d2 < 0) & (d3 * d4 < 0), axis=0)
        out[rows] = np.logical_or.reduceat(cross, offs)


def _interior_cached(cache: dict, rings: dict, key):
    """Per-ring strictly-interior point, memoized (None if degenerate)."""
    if key not in cache:
        cache[key] = _interior_point(*rings[key])
    return cache[key]


def _pt_in_pieces(pt, pieces) -> bool:
    return bool(_pip_pieces(np.array([pt[0]]), np.array([pt[1]]),
                            pieces)[0])


def _lon_shift(alon, blon) -> float:
    """The multiple of 360 that _to_frame applies to blon."""
    return float(360.0 * np.round((np.mean(alon) - np.mean(blon)) / 360.0))


# --- flat ragged kernels ----------------------------------------------------
# The grouped kernels above pay a fixed numpy-call overhead per distinct
# ring, which dominates when groups are tiny (a high-cardinality partner
# side: thousands of rings with 1-2 candidates each).  The kernels below
# are cardinality-blind: per batch, each side's distinct rings go into ONE
# flat edge table; the ragged (probe x edge) combo space of all rows is
# indexed with vectorized repeat/cumsum arithmetic, the crossing /
# orientation tests run as one chunked array pass, parity folds with
# bincount, and per-row any/all folds with reduceat.  Zero per-row and
# per-ring Python.  Split rings (polar / antimeridian, detected per ring)
# are rare and route to the grouped fallback.


def _ring_table(cache: dict) -> dict:
    """Flat vertex + edge table over one side's distinct rings."""
    ids = list(cache)
    slot = {k: i for i, k in enumerate(ids)}
    nv = np.array([len(cache[k][0]) for k in ids], dtype=np.int64)
    voff = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(nv, out=voff[1:])
    eoff = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(nv - 1, out=eoff[1:])
    vlat = np.concatenate([cache[k][0] for k in ids])
    vlon = np.concatenate([cache[k][1] for k in ids])
    lon0 = np.array([float(cache[k][1].min()) for k in ids])
    lmean = np.array([float(np.mean(cache[k][1])) for k in ids])
    ordinary = np.array([
        (cache[k][1].max() - cache[k][1].min() <= 180.0
         and -90.0 < cache[k][0].min() and cache[k][0].max() < 90.0)
        for k in ids
    ], dtype=bool)
    # edge endpoint arrays, shared-block (no per-edge copies beyond these)
    mask = np.ones(len(vlat), dtype=bool)
    mask[voff[1:] - 1] = False          # drop each ring's last vertex
    return {
        "ids": ids, "slot": slot, "voff": voff, "eoff": eoff,
        "vlat": vlat, "vlon": vlon,
        "ey1": vlat[mask], "ex1": vlon[mask],
        "ey2": vlat[np.roll(mask, 1)], "ex2": vlon[np.roll(mask, 1)],
        "lon0": lon0, "lmean": lmean, "ordinary": ordinary,
        "lamin": np.array([float(cache[k][0].min()) for k in ids]),
        "lamax": np.array([float(cache[k][0].max()) for k in ids]),
        "lomin": np.array([float(cache[k][1].min()) for k in ids]),
        "lomax": np.array([float(cache[k][1].max()) for k in ids]),
    }


def _bbox_overlap_alive(ta, tb, sa, sb, shifts) -> np.ndarray:
    """Per-row bbox prefilter for the intersect predicate: a pair whose
    bounding boxes are disjoint under EVERY viable longitude alignment
    cannot satisfy any leg of the scalar spec, so it is definitively
    non-intersecting and skips all five legs.  The PIP legs' mod-360
    reduction can align B one full turn away from the mean-frame shift
    the edge/interior legs use, but never more (both spans <= 180 and the
    means land within 180 after the mean shift), so testing the mean
    shift +/- 360 covers every alignment.  Rows with a non-ordinary ring
    (polar caps touch all longitudes) bypass the filter."""
    la = ((ta["lamin"][sa] <= tb["lamax"][sb])
          & (tb["lamin"][sb] <= ta["lamax"][sa]))
    lo = np.zeros(len(sa), dtype=bool)
    for d in (-360.0, 0.0, 360.0):
        b0 = tb["lomin"][sb] + shifts + d
        b1 = tb["lomax"][sb] + shifts + d
        lo |= (ta["lomin"][sa] <= b1) & (b0 <= ta["lomax"][sa])
    return (la & lo) | ~(ta["ordinary"][sa] & tb["ordinary"][sb])


def _bbox_contain_alive(ta, tb, sa, sb, shifts) -> np.ndarray:
    """Same idea for containment: B inside A (closed) forces bbox(B)
    inside bbox(A) under the alignment that realizes it."""
    la = ((ta["lamin"][sa] <= tb["lamin"][sb])
          & (tb["lamax"][sb] <= ta["lamax"][sa]))
    lo = np.zeros(len(sa), dtype=bool)
    for d in (-360.0, 0.0, 360.0):
        b0 = tb["lomin"][sb] + shifts + d
        b1 = tb["lomax"][sb] + shifts + d
        lo |= (ta["lomin"][sa] <= b0) & (b1 <= ta["lomax"][sa])
    return (la & lo) | ~(ta["ordinary"][sa] & tb["ordinary"][sb])


def _slots(tab: dict, ids: np.ndarray) -> np.ndarray:
    s = tab["slot"]
    return np.array([s[k] for k in ids], dtype=np.int64)


def _combo_chunks(ccnt: np.ndarray):
    """Row-slice boundaries so each chunk's combo total <= _GRID_CHUNK
    (single rows above the cap form their own chunk)."""
    ends = np.cumsum(ccnt)
    bounds = [0]
    while bounds[-1] < len(ccnt):
        base = ends[bounds[-1] - 1] if bounds[-1] else 0
        nxt = int(np.searchsorted(ends, base + _GRID_CHUNK, side="right"))
        bounds.append(max(nxt, bounds[-1] + 1))
    return bounds


def _flat_pip(out, rows, key_slots, tab, plat, plon, pcnt, poff,
              mode: str) -> None:
    """out[rows] = ANY/ALL of each row's probe points strictly inside its
    key ring.  key_slots/pcnt/poff are per-row (aligned with `rows`);
    probe coords live in plat/plon at poff[i]..poff[i]+pcnt[i].  All key
    rings must be ordinary (caller routes split rings to the fallback)."""
    if not len(rows):
        return
    eoff, ey1, ey2 = tab["eoff"], tab["ey1"], tab["ey2"]
    ex1, ex2, lon0 = tab["ex1"], tab["ex2"], tab["lon0"]
    ecnt = eoff[key_slots + 1] - eoff[key_slots]
    ccnt = pcnt * ecnt
    bounds = _combo_chunks(ccnt)
    for bi in range(len(bounds) - 1):
        r0, r1 = bounds[bi], bounds[bi + 1]
        c = ccnt[r0:r1]
        coff = np.zeros(len(c), dtype=np.int64)
        np.cumsum(c[:-1], out=coff[1:])
        tot = int(c.sum())
        if not tot:
            continue
        local = np.arange(tot, dtype=np.int64) - np.repeat(coff, c)
        erep = np.repeat(ecnt[r0:r1], c)
        ie = np.repeat(eoff[key_slots[r0:r1]], c) + local % erep
        pv_local = local // erep
        iv = np.repeat(poff[r0:r1], c) + pv_local
        # virtual per-(row, point) key for the parity fold
        vcnt_c = pcnt[r0:r1]
        kvoff = np.zeros(len(vcnt_c), dtype=np.int64)
        np.cumsum(vcnt_c[:-1], out=kvoff[1:])
        kv = np.repeat(kvoff, c) + pv_local
        nkeys = int(vcnt_c.sum())

        py = plat[iv]
        l0 = lon0[np.repeat(key_slots[r0:r1], c)]
        px = l0 + np.mod(plon[iv] - l0, 360.0)
        y1, y2 = ey1[ie], ey2[ie]
        x1, x2 = ex1[ie], ex2[ie]
        straddle = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        cross = straddle & (px < xint)
        inside = (np.bincount(kv[cross], minlength=nkeys) % 2) == 1
        red = (np.logical_or.reduceat(inside, kvoff) if mode == "any"
               else np.logical_and.reduceat(inside, kvoff))
        out[rows[r0:r1]] = red


def _flat_edge_cross(out, rows, a_slots, b_slots, shifts, ta, tb) -> None:
    """out[rows] = any PROPER crossing between an edge of row's ring A
    and an edge of its ring B (B longitudes shifted per row into A's
    frame).  Chunked over the ragged (edges_A x edges_B) combo space."""
    if not len(rows):
        return
    eoffa, eoffb = ta["eoff"], tb["eoff"]
    na = eoffa[a_slots + 1] - eoffa[a_slots]
    nb = eoffb[b_slots + 1] - eoffb[b_slots]
    ccnt = na * nb
    bounds = _combo_chunks(ccnt)
    for bi in range(len(bounds) - 1):
        r0, r1 = bounds[bi], bounds[bi + 1]
        c = ccnt[r0:r1]
        coff = np.zeros(len(c), dtype=np.int64)
        np.cumsum(c[:-1], out=coff[1:])
        tot = int(c.sum())
        if not tot:
            continue
        local = np.arange(tot, dtype=np.int64) - np.repeat(coff, c)
        nbrep = np.repeat(nb[r0:r1], c)
        ia = np.repeat(eoffa[a_slots[r0:r1]], c) + local // nbrep
        ib = np.repeat(eoffb[b_slots[r0:r1]], c) + local % nbrep
        sh = np.repeat(shifts[r0:r1], c)

        ax1, ay1 = ta["ex1"][ia], ta["ey1"][ia]
        ax2, ay2 = ta["ex2"][ia], ta["ey2"][ia]
        bx1, by1 = tb["ex1"][ib] + sh, tb["ey1"][ib]
        bx2, by2 = tb["ex2"][ib] + sh, tb["ey2"][ib]
        dax, day = ax2 - ax1, ay2 - ay1
        d1 = dax * (by1 - ay1) - day * (bx1 - ax1)
        d2 = dax * (by2 - ay1) - day * (bx2 - ax1)
        dbx, dby = bx2 - bx1, by2 - by1
        d3 = dbx * (ay1 - by1) - dby * (ax1 - bx1)
        d4 = dbx * (ay2 - by1) - dby * (ax2 - bx1)
        cross = (d1 * d2 < 0) & (d3 * d4 < 0)
        out[rows[r0:r1]] = np.logical_or.reduceat(cross, coff)


def _row_shifts(ta, tb, a_slots, b_slots) -> np.ndarray:
    """Per-row longitude-frame shift _to_frame applies to B vs A."""
    return 360.0 * np.round(
        (ta["lmean"][a_slots] - tb["lmean"][b_slots]) / 360.0)


# Key-ring groups whose total combo count reaches this run the DENSE
# grouped kernel (contiguous broadcast grids, ~10x cheaper per combo than
# the flat kernel's gather-indexed pass); smaller groups — the long tail
# where per-group numpy overhead would dominate — take the flat kernel.
# Crossover = grouped per-call overhead (~40 us) over the flat kernel's
# per-combo surcharge (~150 ns), measured on this container.
_DENSE_GROUP_MIN = 4096


def _dense_split(key_slots, mask, key_ordinary, combos, nslots):
    """Dispatch rows between the flat kernel and the dense grouped one:
    returns (flat row indices, grouped-row mask).  A row goes grouped if
    its key ring is split (flat can't fold multi-piece parity) or its key
    group's combo total clears _DENSE_GROUP_MIN."""
    tot = np.bincount(key_slots[mask],
                      weights=combos[mask].astype(np.float64),
                      minlength=nslots)
    dense = tot[key_slots] >= _DENSE_GROUP_MIN
    flat = mask & key_ordinary & ~dense
    return np.nonzero(flat)[0], mask & ~flat


def _batch_intersect(aid, bid, a_cache, b_cache) -> np.ndarray:
    """polygons_intersect_np over a whole batch — flat ragged kernels for
    the small-group tail, dense grouped kernels for heavy rings, leg by
    leg with short-circuit masks between legs."""
    n = len(aid)
    hit = np.zeros(n, dtype=bool)
    ta = _ring_table(a_cache)
    tb = _ring_table(b_cache)
    sa = _slots(ta, aid)
    sb = _slots(tb, bid)
    a_ok = ta["ordinary"][sa]
    b_ok = tb["ordinary"][sb]
    pieces_a: dict = {}
    pieces_b: dict = {}
    va, vb = ta["voff"], tb["voff"]
    vcnt_a = va[sa + 1] - va[sa]
    vcnt_b = vb[sb + 1] - vb[sb]
    ecnt_a = ta["eoff"][sa + 1] - ta["eoff"][sa]
    ecnt_b = tb["eoff"][sb + 1] - tb["eoff"][sb]
    shifts = _row_shifts(ta, tb, sa, sb)
    alive = _bbox_overlap_alive(ta, tb, sa, sb, shifts)

    # leg 1: any vertex of B strictly inside A
    rows, gmask = _dense_split(sa, alive, a_ok,
                               vcnt_b * ecnt_a, len(ta["ids"]))
    _flat_pip(hit, rows, sa[rows], ta, tb["vlat"], tb["vlon"],
              vcnt_b[rows], vb[sb[rows]], "any")
    if gmask.any():
        _vertices_in_grouped(hit, _group_rows(aid, gmask), a_cache,
                             lambda r: b_cache[bid[r]], pieces_a, "any")
    # leg 2: any vertex of A strictly inside B
    undec = alive & ~hit
    if undec.any():
        leg = np.zeros(n, dtype=bool)
        rows, gmask = _dense_split(sb, undec, b_ok,
                                   vcnt_a * ecnt_b, len(tb["ids"]))
        _flat_pip(leg, rows, sb[rows], tb, ta["vlat"], ta["vlon"],
                  vcnt_a[rows], va[sa[rows]], "any")
        if gmask.any():
            _vertices_in_grouped(leg, _group_rows(bid, gmask), b_cache,
                                 lambda r: a_cache[aid[r]], pieces_b, "any")
        hit |= leg
    # leg 3: proper edge crossing (no split handling needed — the scalar
    # spec also crosses raw edges; it only shifts frames)
    undec = alive & ~hit
    if undec.any():
        leg = np.zeros(n, dtype=bool)
        rows, gmask = _dense_split(sa, undec, np.ones(n, dtype=bool),
                                   ecnt_a * ecnt_b, len(ta["ids"]))
        _flat_edge_cross(leg, rows, sa[rows], sb[rows], shifts[rows],
                         ta, tb)
        if gmask.any():
            _edge_cross_grouped(leg, _group_rows(aid, gmask), a_cache,
                                lambda r: b_cache[bid[r]])
        hit |= leg
    # legs 4/5: interior sample points (coincident / shared-boundary
    # catch; also the common exit for candidates that share a cover cell
    # but do not intersect) — one memoized interior point per distinct
    # ring, single-point PIP through the same dispatch
    undec = alive & ~hit
    if undec.any():
        plat_r, plon_r, has = _interior_by_slot(ta, sa, undec, a_cache)
        rows, gmask = _dense_split(sb, has, b_ok, ecnt_b.astype(np.int64),
                                   len(tb["ids"]))
        if len(rows):
            _flat_pip(hit, rows, sb[rows], tb, plat_r[rows], plon_r[rows],
                      np.ones(len(rows), dtype=np.int64),
                      np.arange(len(rows), dtype=np.int64), "any")
        if gmask.any():
            _vertices_in_grouped(
                hit, _group_rows(bid, gmask), b_cache,
                lambda r: (plat_r[r:r + 1], plon_r[r:r + 1]),
                pieces_b, "any")
    undec = alive & ~hit
    if undec.any():
        plat_r, plon_r, has = _interior_by_slot(tb, sb, undec, b_cache)
        plon_r = plon_r + shifts
        rows, gmask = _dense_split(sa, has, a_ok, ecnt_a.astype(np.int64),
                                   len(ta["ids"]))
        if len(rows):
            _flat_pip(hit, rows, sa[rows], ta, plat_r[rows], plon_r[rows],
                      np.ones(len(rows), dtype=np.int64),
                      np.arange(len(rows), dtype=np.int64), "any")
        if gmask.any():
            _vertices_in_grouped(
                hit, _group_rows(aid, gmask), a_cache,
                lambda r: (plat_r[r:r + 1], plon_r[r:r + 1]),
                pieces_a, "any")
    return hit


def _interior_by_slot(tab, slots, undec, cache):
    """Interior points of the rings keyed by `slots` over undecided rows:
    per-ROW coordinate arrays + a has-point row mask (NaN-free only where
    the ring has a computable interior point)."""
    nsl = len(tab["ids"])
    sl_lat = np.full(nsl, np.nan)
    sl_lon = np.full(nsl, np.nan)
    for s in np.unique(slots[undec]):
        p = _interior_point(*cache[tab["ids"][s]])
        if p is not None:
            sl_lat[s], sl_lon[s] = p
    plat_r = sl_lat[slots]
    plon_r = sl_lon[slots]
    return plat_r, plon_r, undec & ~np.isnan(plat_r)


def _batch_contains(aid, bid, a_cache, b_cache) -> np.ndarray:
    """polygon_contains_np over a whole batch — same flat/dense dispatch
    as _batch_intersect."""
    n = len(aid)
    ta = _ring_table(a_cache)
    tb = _ring_table(b_cache)
    sa = _slots(ta, aid)
    sb = _slots(tb, bid)
    a_ok = ta["ordinary"][sa]
    pieces_a: dict = {}
    vb = tb["voff"]
    vcnt_b = vb[sb + 1] - vb[sb]
    ecnt_a = ta["eoff"][sa + 1] - ta["eoff"][sa]
    ecnt_b = tb["eoff"][sb + 1] - tb["eoff"][sb]
    shifts = _row_shifts(ta, tb, sa, sb)
    boxed = _bbox_contain_alive(ta, tb, sa, sb, shifts)

    # leg 1: any proper edge crossing -> not contained
    crossed = np.zeros(n, dtype=bool)
    rows, gmask = _dense_split(sa, boxed, np.ones(n, dtype=bool),
                               ecnt_a * ecnt_b, len(ta["ids"]))
    _flat_edge_cross(crossed, rows, sa[rows], sb[rows],
                     shifts[rows], ta, tb)
    if gmask.any():
        _edge_cross_grouped(crossed, _group_rows(aid, gmask), a_cache,
                            lambda r: b_cache[bid[r]])
    alive = boxed & ~crossed
    out = np.zeros(n, dtype=bool)
    if not alive.any():
        return out
    # leg 2: ALL vertices of B strictly inside A -> contained
    all_in = np.zeros(n, dtype=bool)
    rows, gmask = _dense_split(sa, alive, a_ok,
                               vcnt_b * ecnt_a, len(ta["ids"]))
    _flat_pip(all_in, rows, sa[rows], ta, tb["vlat"], tb["vlon"],
              vcnt_b[rows], vb[sb[rows]], "all")
    if gmask.any():
        _vertices_in_grouped(all_in, _group_rows(aid, gmask),
                             a_cache, lambda r: b_cache[bid[r]],
                             pieces_a, "all")
    out |= alive & all_in
    # leg 3 (shared-boundary fallback): every vertex of B inside OR
    # exactly on A's boundary, and B's interior point strictly inside A —
    # grouped (rare rows: only pairs whose vertices sit bit-exactly on
    # the partner boundary get past the strict legs with a claim alive)
    rest = alive & ~all_in
    ipb: dict = {}
    for a, rows in _group_rows(aid, rest).items():
        alat, alon = a_cache[a]
        pieces = _pieces_of(pieces_a, a_cache, a)
        shifted = []
        for r in rows:
            blat, blon = b_cache[bid[r]]
            shifted.append((blat, blon + _lon_shift(alon, blon)))
        vlat, vlon, offs = _concat_segments(shifted)
        acc = _pip_pieces(vlat, vlon, pieces)
        acc |= _on_edges(vlat, vlon, alat, alon)
        ok = np.logical_and.reduceat(acc, offs)
        for j in np.nonzero(ok)[0]:
            r = rows[j]
            p = _interior_cached(ipb, b_cache, bid[r])
            if p is not None and _pt_in_pieces(
                    (p[0], p[1] + _lon_shift(alon, b_cache[bid[r]][1])),
                    pieces):
                out[r] = True
    return out


def _on_edges(vlat, vlon, ring_lat, ring_lon) -> np.ndarray:
    """Per vertex: does it lie EXACTLY on some edge segment of the ring
    (zero orientation + inside the edge's bbox)?  Chunked (edges x
    vertices) grid.  Exact zeros only — this leg exists for dims that
    share boundary coordinates (a ZIP ring reusing its admin parent's
    vertices), which share them bit-for-bit."""
    ax1 = ring_lon[:-1][:, None]
    ay1 = ring_lat[:-1][:, None]
    ax2 = ring_lon[1:][:, None]
    ay2 = ring_lat[1:][:, None]
    n_e = len(ax1)
    out = np.zeros(len(vlat), dtype=bool)
    step = max(1, _GRID_CHUNK // max(n_e, 1))
    for s in range(0, len(vlat), step):
        sl = slice(s, s + step)
        vx, vy = vlon[None, sl], vlat[None, sl]
        collin = (ax2 - ax1) * (vy - ay1) - (ay2 - ay1) * (vx - ax1) == 0.0
        inbox = ((vx >= np.minimum(ax1, ax2)) & (vx <= np.maximum(ax1, ax2))
                 & (vy >= np.minimum(ay1, ay2)) & (vy <= np.maximum(ay1, ay2)))
        out[sl] = np.any(collin & inbox, axis=0)
    return out


def _ring_key(lat, lon):
    """Ring-content key: multipolygon parts share a poly_id, so rings
    (and the verifier's caches) are keyed by content — the ring_key of
    `polygon_cover`."""
    return F.xxhash64(lat, lon)


def _ring_pairs(
    polys_a: DataFrame,
    polys_b: DataFrame,
    res: int,
    batch_verify,
) -> DataFrame:
    """Shared scaffold of the overlay joins: cover-cell candidate
    equi-join of two polygon dims, one row per candidate RING pair,
    filtered by the factorized `batch_verify(akey, bkey, a_cache,
    b_cache) -> bool[n]` inside one Arrow UDF.  Returns (a_id, b_id,
    __bkey) per verified ring pair."""
    a_cover, a_rings, _ = polygon_cover(polys_a, res)
    b_cover, b_rings, _ = polygon_cover(polys_b, res)

    def side(cover, p):
        return cover.select(F.col("poly_id").alias(f"{p}_id"),
                            F.col("ring_key").alias(f"__{p}key"), "cell")

    def rings(frame, p):
        return frame.select(F.col("ring_key").alias(f"__{p}key"),
                            F.col("ring_lat").alias(f"__{p}lat"),
                            F.col("ring_lon").alias(f"__{p}lon"))

    # the rings join the deduped ring pairs only
    cand = side(a_cover, "a").join(side(b_cover, "b"), "cell") \
        .dropDuplicates(["a_id", "__akey", "b_id", "__bkey"]) \
        .join(rings(a_rings, "a"), "__akey") \
        .join(rings(b_rings, "b"), "__bkey")

    @F.pandas_udf(T.BooleanType())
    def verify(akey: pd.Series, bkey: pd.Series,
               alat: pd.Series, alon: pd.Series,
               blat: pd.Series, blon: pd.Series) -> pd.Series:
        if not len(akey):
            return pd.Series(np.zeros(0, dtype=bool))
        a_cache = _ring_cache(akey, alat, alon)
        b_cache = _ring_cache(bkey, blat, blon)
        return pd.Series(batch_verify(
            akey.to_numpy(), bkey.to_numpy(), a_cache, b_cache))

    return (
        cand.filter(verify(F.col("__akey"), F.col("__bkey"),
                           F.col("__alat"), F.col("__alon"),
                           F.col("__blat"), F.col("__blon")))
        .select("a_id", "b_id", "__bkey")
    )


def _ring_cache(keys: pd.Series, lats: pd.Series, lons: pd.Series) -> dict:
    """ring key -> (lat, lon) numpy ring, converted ONCE per distinct
    ring in the batch."""
    cache: dict = {}
    for i, k in enumerate(keys):
        if k not in cache:
            cache[k] = (np.asarray(lats.iloc[i], dtype=np.float64),
                        np.asarray(lons.iloc[i], dtype=np.float64))
    return cache


def polygon_intersect_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    res: int = 7,
) -> DataFrame:
    """(a_id, b_id) for every intersecting pair.  Both inputs use the
    engine polygon schema (poly_id, level, ring, postcode); neither side
    is collected to the driver.  A multipolygon id intersects when any
    of its parts does."""
    return _ring_pairs(polys_a, polys_b, res, _batch_intersect).select(
        "a_id", "b_id").distinct()


def _all_vertices_inside(vlat, vlon, ring_lat, ring_lon) -> bool:
    acc = np.zeros(len(vlat), dtype=bool)
    for rl, rlo in _pieces(ring_lat, ring_lon):
        acc |= _pip_single_ring(vlat, vlon, rl, rlo)
    return bool(acc.all())


def polygon_contains_np(alat, alon, blat, blon) -> bool:
    """A fully contains B: no proper edge crossing (a crossing means part
    of B escapes even with all vertices inside — a concave A) and every
    vertex of B strictly inside A — OR, when some vertices of B sit
    EXACTLY on A's boundary (the headline 'ZIP inside its admin parent'
    case, where child rings reuse the parent's vertex coordinates
    bit-for-bit), every vertex inside-or-on-boundary plus B's
    strictly-interior sample point inside A.  Containment is closed:
    contains(A, A) is True.  Vertices NEAR but not exactly on the
    boundary inherit the even-odd ambiguity (documented)."""
    blon_f = _to_frame(alon, blon)
    if _any_edge_cross(alat, alon, blat, blon_f):
        return False
    if _all_vertices_inside(blat, blon, alat, alon):
        return True
    # shared-boundary fallback
    acc = _pip_pieces(blat, blon_f, _pieces(alat, alon))
    acc |= _on_edges(blat, blon_f, alat, alon)
    if not acc.all():
        return False
    pb = _interior_point(blat, blon_f)
    return pb is not None and _pt_in_pieces(pb, _pieces(alat, alon))


def polygon_contains_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    res: int = 7,
) -> DataFrame:
    """(a_id, b_id) for every pair where polygon A fully CONTAINS polygon
    B — 'which ZIP sits inside which admin area'.  Same cover-cell
    candidate join as polygon_intersect_join; the verifier swaps in the
    containment predicate (shared-boundary children count as contained —
    see polygon_contains_np).  A multipolygon B id is contained when
    every one of its parts lies inside some part of the A id."""
    n_b = polys_b.select(
        F.col("poly_id").alias("b_id"),
        _ring_key(F.transform("ring", lambda p: p["lat"]),
                  F.transform("ring", lambda p: p["lon"])).alias("__bkey"),
    ).groupBy("b_id").agg(F.countDistinct("__bkey").alias("__nb"))
    inside = _ring_pairs(polys_a, polys_b, res, _batch_contains).groupBy(
        "a_id", "b_id").agg(F.countDistinct("__bkey").alias("__n"))
    return inside.join(n_b, "b_id").where(
        F.col("__n") == F.col("__nb")).select("a_id", "b_id")
