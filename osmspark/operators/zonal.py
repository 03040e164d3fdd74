"""Zonal statistics — per-polygon aggregates of a point corpus, two-phase.

The classic raster/GIS "zonal stats" reshaped for a 100 TB point table:
the answer per polygon is (n_points, and optionally sum/min/max/mean of a
value column), but the naive shape — PIP-join every point, then aggregate
— ray-casts the FULL corpus even though almost all of a large polygon's
mass sits far from its boundary.

Two-phase shape (the reason this is its own operator and not
`spatial_join(...).groupBy(...)`):

1. ONE corpus-wide `groupBy(cell)` pre-aggregate (map-side combinable; the
   only shuffle that scales with points — output is |occupied cells| rows).
2. Cover cells certified **fully interior** to a polygon
   (`spatial_join._cover_pieces_flagged` — center inside AND clear of every
   edge by 2*circumradius + chord-sagitta slack, the round-2-audited
   certificate) credit their *cell aggregate* to the polygon directly: no
   per-point refine, no per-point join fan-out.
3. Only points whose cell is a **boundary** cover cell (a
   perimeter-fraction of the corpus: area/perimeter wins ~linearly with
   polygon size) join candidates and go through the exact ray-cast refine
   (`spatial_join._membership` — the same UDF the PIP join uses, so zonal
   membership IS spatial-join membership, by construction).

Inner-join semantics like `spatial_join`: a polygon containing no points
produces no row.  Boundary points resolve by the engine's crossing-number
convention.  Geometry domain matches `spatial_join` (ordinary /
antimeridian / pole-encircling rings via split_ring).

Both operators here take their dim side from `spatial_join.polygon_cover`,
shared with `spatial_join` and `nearest_polygon`: one cover frame per dim
snapshot, covered by one Arrow map over the dim and cached beside its
distinct rings, which join only the rows that ray-cast or clip, and one
group-by-ring refine loop.  The
phase-1 aggregate is the dominant cost and is exactly the `groupBy(cell)`
any tile/rollup pass already pays.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hexgrid
from ..functions.geo import haversine_np
from .spatial_join import (_RING, DEFAULT_COVER_RES, _membership,
                           _pip_single_ring, _ring_udf, polygon_cover)


def zonal_stats(
    points: DataFrame,
    polys: DataFrame,
    value_col: str | None = None,
    res: int = DEFAULT_COVER_RES,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-polygon point statistics: (poly_id, n_points[, n_values, sum_v,
    min_v, max_v, mean_v]).

    `points` needs (lat, lon[, value_col]); `polys` needs (poly_id, ring)
    in the engine's polygon-dim schema.  With `value_col`: `n_values`
    counts non-null values, `sum_v`/`min_v`/`max_v` ignore nulls (SQL
    semantics), `mean_v = sum_v / n_values` (null when all values null).
    Membership is exactly `spatial_join` membership (equality-tested)."""
    cover, rings, _ = polygon_cover(polys, res)
    cover = cover.select("cell", "interior", "ring_key", "poly_id")

    cell = "__z_cell"
    has_v = value_col is not None
    vals = points.select(
        lat, lon,
        (F.col(value_col).cast("double") if has_v else F.lit(1.0))
        .alias("__v"))
    pts = hexgrid.with_hex_cell(vals, res, lat=lat, lon=lon, out_col=cell)

    # phase 1: the ONLY corpus-wide pass — cell grain, map-side combinable
    cell_agg = pts.groupBy(cell).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("__v").alias("nv"),
        F.sum("__v").alias("s"),
        F.min("__v").alias("mn"),
        F.max("__v").alias("mx"),
    )

    # phase 2a: interior cover cells take the cell aggregate wholesale
    interior_part = cell_agg.join(
        cover.filter(F.col("interior")),
        cell_agg[cell] == cover["cell"], "inner",
    ).select("poly_id", "n", "nv", "s", "mn", "mx")

    # phase 2b: boundary cover cells — per-point exact refine, then the
    # same partial-aggregate shape; only these rows read a ring
    boundary = pts.join(
        cover.filter(~F.col("interior")),
        pts[cell] == cover["cell"], "inner",
    ).join(rings, "ring_key").filter(
        _membership()(F.col(lat), F.col(lon), *_RING, "interior"))
    boundary_part = boundary.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("__v").alias("nv"),
        F.sum("__v").alias("s"),
        F.min("__v").alias("mn"),
        F.max("__v").alias("mx"),
    )

    merged = interior_part.unionByName(boundary_part).groupBy("poly_id").agg(
        F.sum("n").alias("n_points"),
        F.sum("nv").alias("__nv"),
        F.sum("s").alias("__s"),
        F.min("mn").alias("__mn"),
        F.max("mx").alias("__mx"),
    )
    if not has_v:
        return merged.select("poly_id", "n_points")
    return merged.select(
        "poly_id", "n_points",
        F.col("__nv").alias("n_values"),
        F.col("__s").alias("sum_v"),
        F.col("__mn").alias("min_v"),
        F.col("__mx").alias("max_v"),
        F.when(F.col("__nv") > 0, F.col("__s") / F.col("__nv"))
         .alias("mean_v"),
    )


# --- zonal length: exact segment-polygon clipping --------------------------

def _clip_fracs_one_poly(p1y, p1x, p2y, p2x, pieces):
    """Vectorized inside-fraction of latlon-straight segments vs ONE
    polygon (its split_ring pieces): for each segment, the total length
    fraction of the parameter interval [0, 1] whose points lie inside the
    polygon (OR over pieces — disjoint interiors tiling the ring).

    Interval decomposition: every t where the segment crosses ANY piece
    edge bounds a constant-membership interval; membership per interval is
    decided by a PIP test at the interval midpoint (robust against vertex
    grazes and tangencies — a tangent touch produces a zero-length or
    membership-constant interval either way).

    Returns (frac, len_in_m): the inside parameter fraction and the
    summed HAVERSINE length of the inside sub-intervals."""
    n = len(p1y)
    # 1) crossing parameters vs every edge of every piece
    ts = [np.zeros((n, 0))]
    n_cross = np.zeros(n, dtype=np.int64)
    for rl, rx in pieces:
        y1, y2 = rl[None, :-1], rl[None, 1:]
        x1, x2 = rx[None, :-1], rx[None, 1:]
        # normalize segment lons into the (possibly unwrapped) ring frame.
        # NOT the per-point mod of _pip_single_ring: that maps a point a
        # hair WEST of the ring's min lon to +360 deg — sound for a pure
        # membership test (such points are outside either way) but it
        # teleports one endpoint of a straddling segment and breaks
        # continuity (observed: a segment entering a rectangle from the
        # west computed zero crossings).  Shift the segment as a WHOLE by
        # the multiple of 360 that brings its center nearest the ring's
        # center — identity for ordinary frames, and the unique overlap
        # candidate when both spans are <= 180 deg (the cover UDF guard).
        ring_c = (float(rx.min()) + float(rx.max())) / 2.0
        shift = 360.0 * np.round((ring_c - (p1x + p2x) / 2.0) / 360.0)
        q1x = p1x + shift
        q2x = p2x + shift
        ay, ax = p1y[:, None], q1x[:, None]
        by, bx = p2y[:, None], q2x[:, None]
        d1 = (x2 - x1) * (ay - y1) - (y2 - y1) * (ax - x1)
        d2 = (x2 - x1) * (by - y1) - (y2 - y1) * (bx - x1)
        d3 = (bx - ax) * (y1 - ay) - (by - ay) * (x1 - ax)
        d4 = (bx - ax) * (y2 - ay) - (by - ay) * (x2 - ax)
        proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & \
                 (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(proper, d1 / (d1 - d2), np.nan)
        ts.append(t)
        n_cross += proper.sum(axis=1)
    tmat = np.concatenate(ts, axis=1)
    # 2) sorted crossing ts per segment, padded with 0 and 1 boundaries;
    # after the sort only the first max(n_cross) columns can hold real
    # crossings — trimming there keeps the midpoint matrix ~(crossings+1)
    # wide instead of |edges| wide (a 100-edge ring would otherwise PIP
    # 101 midpoints per segment when 1-3 suffice)
    tmat = np.where(np.isnan(tmat), 2.0, tmat)  # push non-crossings right
    tmat.sort(axis=1)
    kmax = int(n_cross.max()) if n else 0
    tmat = tmat[:, :kmax]
    bounds = np.concatenate(
        [np.zeros((n, 1)), np.clip(tmat, 0.0, 1.0), np.ones((n, 1))], axis=1)
    # 3) midpoint membership per interval (OR over pieces)
    mids = (bounds[:, :-1] + bounds[:, 1:]) / 2.0
    k = mids.shape[1]
    my = np.repeat(p1y, k) + mids.ravel() * np.repeat(p2y - p1y, k)
    mx = np.repeat(p1x, k) + mids.ravel() * np.repeat(p2x - p1x, k)
    inside = np.zeros(n * k, dtype=bool)
    for rl, rx in pieces:
        inside |= _pip_single_ring(my, mx, rl, rx)
    inside = inside.reshape(n, k)
    dt = bounds[:, 1:] - bounds[:, :-1]
    frac = (dt * inside).sum(axis=1)
    # 4) haversine length of each INSIDE sub-interval, summed
    t0, t1 = bounds[:, :-1], bounds[:, 1:]
    sy0 = p1y[:, None] + t0 * (p2y - p1y)[:, None]
    sx0 = p1x[:, None] + t0 * (p2x - p1x)[:, None]
    sy1 = p1y[:, None] + t1 * (p2y - p1y)[:, None]
    sx1 = p1x[:, None] + t1 * (p2x - p1x)[:, None]
    seglen = haversine_np(sy0.ravel(), sx0.ravel(),
                          sy1.ravel(), sx1.ravel()).reshape(n, k)
    len_in = (seglen * inside).sum(axis=1)
    return frac, len_in


def zonal_length(
    segs: DataFrame,
    polys: DataFrame,
    seg_id: str = "seg_id",
    res: int = DEFAULT_COVER_RES,
    pairs: bool = False,
    seg_cells_col: str | None = None,
) -> DataFrame:
    """Road-kilometers per polygon: EXACT clipped length of latlon-straight
    segments inside each polygon.

    `segs` needs (seg_id, lat1, lon1, lat2, lon2); `polys` the engine's
    polygon-dim schema.  Returns (poly_id, n_segments, len_m) — or, with
    pairs=True, the per-pair grain (seg_id, poly_id, frac_inside, len_in_m)
    with frac_inside > 0.  A pair is a (segment, dim row): multipolygon
    parts sharing a poly_id are clipped and reported part by part.

    Candidates: segment cell covers (the intersection join's sampled
    seam-exact disks) equi-joined to the polygon cover cells — if ANY
    point of a segment is inside a polygon, that point's cell is in both
    covers, so candidate generation is complete.  The refine decomposes
    each candidate segment at its boundary-crossing parameters and
    PIP-tests interval midpoints (robust to vertex grazes), summing the
    haversine length of inside sub-intervals — one vectorized pass per
    distinct polygon per Arrow batch, never a per-pair Python loop (the
    overlay round-4 lesson, applied from the start).

    Scale notes: a segment crossing nothing still pays one candidate row
    per shared cover cell before the pair dedupe; there is no interior
    shortcut (a cell-level length pre-aggregate would need segments
    clipped per CELL — strictly more work than clipping per polygon).
    The polygon cover and rings are `polygon_cover`'s cached frames,
    each broadcast or shuffled by its size."""
    from .intersect import _covered, _step_deg

    cover, rings, _ = polygon_cover(polys, res)
    cover = cover.select("cell", "dim_row", "ring_key", "poly_id")
    # the intersection join's cover step, prefixed "seg_": (seg_id,
    # seg_lat1, seg_lon1, seg_lat2, seg_lon2, __seg_cell); a pre-covered
    # layout column (intersect.with_segment_cover) skips the cover UDF
    s = _covered(segs, seg_id, "seg_", res, _step_deg(res),
                 max_samples=256, cells_col=seg_cells_col)
    # one candidate per (segment, dim row), as spatial_join counts dim
    # rows; ring_key and poly_id follow dim_row, and keeping them in the
    # dedupe key leaves every first() buffer fixed-width, so the dedupe
    # stays a HashAggregate.  The ring joins the deduped pairs only.
    cand = s.join(cover, s["__seg_cell"] == cover["cell"], "inner") \
            .dropDuplicates(["seg_id", "dim_row", "ring_key", "poly_id"]) \
            .join(rings, "ring_key")
    # nondeterministic only to the optimizer: a deterministic UDF lets the
    # `frac > 0` filter below be pushed under its own projection, which
    # then clips every candidate twice (two ArrowEvalPython nodes)
    clip = _ring_udf(
        "clip", _clip_fracs_one_poly,
        [("frac", "double", 0.0), ("len_in", "double", 0.0)],
    ).asNondeterministic()

    refined = cand.withColumn(
        "__c", clip(F.col("seg_lat1"), F.col("seg_lon1"),
                    F.col("seg_lat2"), F.col("seg_lon2"), *_RING)
    ).filter(F.col("__c.frac") > 0)
    if pairs:
        return refined.select(
            "seg_id", "poly_id",
            F.col("__c.frac").alias("frac_inside"),
            F.col("__c.len_in").alias("len_in_m"),
        )
    return refined.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("__c.len_in").alias("len_m"),
    )
