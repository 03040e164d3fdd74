"""Nearest-polygon join — reverse geocoding with distance.

For each point: the nearest polygon within `radius` (distance 0 when the
point is inside one), with a deterministic (dist, poly_id) tie-break.
The gap in the point x polygon family that `spatial_join` (inside only)
and `radius_join` (point x point) leave open: "which admin area is this
offshore/borderline fix closest to, and how far is it?"

Shape: the radius join's seam-exact per-point disk cells
(`radius_join.query_disk_cells` — uv-exact ring bound, multi-face spill)
equi-joined to the polygon cover cells.  Candidate completeness: if
dist(P, poly) <= radius there is a polygon point Q within radius of P;
Q's cell is in the polygon cover (superset guarantee) and in P's disk
(disk_cells contract) — so the pair always surfaces.  Refine: per
distinct polygon per Arrow batch (`_poly_dist2` under the shared
group-by-polygon loop, never a per-pair loop), inside => 0 else the min
point-to-segment distance over the ring edges.  The distance kernel, not
PIP membership, decides a boundary point: a point on polygon a's edge
that the crossing-number rule puts inside its neighbour b answers
(a, 0.0) here, while `spatial_join` puts it in b only.

Metric is `sq_deg` — distance in the raw lat/lon degree plane, the
engine's bit-reproducible oracle convention (multiply/subtract/add and
one final sqrt): an axis-aligned-rectangle oracle reproduces it exactly
in SQL (clamp distances).  Meters at city scale ~ deg * 111.32 km with
the usual cos(lat) lon squeeze; callers needing metric meters at scale
compose with the radius join's haversine verify.

Scale notes: ONE Arrow disk UDF on the points (the radius-join plan),
one cover join, refine + one min-struct aggregate per point — two
exchanges beyond the scan.  The polygon side is
`spatial_join.polygon_cover`, the cached dim-side cover and ring frames
that also serve `spatial_join` and the zonal operators; the planner
broadcasts or shuffles each by its size, and only the pairs that run
the distance kernel read a ring.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spatial_join import (
    _RING,
    DEFAULT_COVER_RES,
    _candidates,
    _pip_single_ring,
    _point_segment_dist2,
    _ring_udf,
    polygon_cover,
)


def _poly_dist2(py, px, pieces):
    """Squared degree-plane distance from points to ONE polygon (its
    split_ring pieces): 0 inside, else the min over ring edges."""
    inside = np.zeros(len(py), dtype=bool)
    d2 = np.full(len(py), np.inf)
    for rl, rx in pieces:
        # whole-point frame shift to the ring's unwrapped frame (the
        # zonal_length lesson: per-point mod is membership-safe but
        # breaks geometry continuity for points just west of the
        # ring's min lon — distance needs the CONTINUOUS frame)
        ring_c = (float(rx.min()) + float(rx.max())) / 2.0
        qx = px + 360.0 * np.round((ring_c - px) / 360.0)
        inside |= _pip_single_ring(py, qx, rl, rx)
        d2 = np.minimum(
            d2,
            _point_segment_dist2(
                qx[:, None], py[:, None],
                rx[None, :-1], rl[None, :-1],
                rx[None, 1:], rl[None, 1:],
            ).min(axis=1),
        )
    d2[inside] = 0.0
    return d2


def nearest_polygon(
    points: DataFrame,
    polys: DataFrame,
    radius_deg: float,
    res: int | None = None,
    point_id: str = "id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(point_id, poly_id, dist_deg): each point's nearest polygon within
    `radius_deg` degrees (degree-plane distance; 0.0 inside).  Points
    with no polygon in range are absent (inner semantics).  Ties break
    deterministically on (dist, poly_id)."""
    from .radius_join import query_disk_cells

    if radius_deg <= 0:
        raise ValueError("radius_deg must be positive")
    use_res = DEFAULT_COVER_RES if res is None else res
    cover, rings, res_list = polygon_cover(polys, use_res)
    poly_d2 = _ring_udf("poly_d2", _poly_dist2, [("d2", "double", np.inf)])

    # two-phase (the zonal shape, applied to nearest): every polygon
    # CONTAINING a point has the point's home cell in its cover (the
    # superset guarantee), so dist-0 answers are decidable from ONE cell
    # per point — the expensive per-point disk fan-out runs only for
    # points inside nothing (a perimeter/outside fraction of a corpus
    # that mostly sits inside its admin dim: measured 17.1 -> 9.8 s on
    # the 2.4M-point bench, checkpoint write included).
    q = points.select(
        F.col(point_id).alias("query_id"),
        F.col(lat).alias("qlat"), F.col(lon).alias("qlon"))
    hpairs = _candidates(q, cover, res_list, "qlat", "qlon")
    # leg A: home cell certified interior -> inside, d2 = 0, no Python
    leg_a = hpairs.filter(F.col("interior")).select(
        "query_id", "qlat", "qlon", "poly_id",
        F.lit(0.0).alias("__d2"))
    # leg B: home cell in a boundary cover cell -> exact kernel
    leg_b = hpairs.filter(~F.col("interior")).join(
        rings, "ring_key").select(
        "query_id", "qlat", "qlon", "poly_id",
        poly_d2(F.col("qlat"), F.col("qlon"), *_RING).alias("__d2"))
    home_best = leg_a.unionByName(leg_b).groupBy("query_id").agg(
        F.min(F.struct(F.col("__d2").alias("d2"),
                       F.col("poly_id").alias("poly_id"))).alias("b"),
        F.first("qlat").alias("qlat"), F.first("qlon").alias("qlon"))
    # materialized ONCE: `inside` feeds BOTH the anti-join and the final
    # union — left lazy, each consumer replays the home legs (the
    # boundary kernel ran twice, observed in the plan); the engine's
    # fan-out convention (gi_star, DBSCAN) is one localCheckpoint
    inside = home_best.filter(F.col("b.d2") == 0.0).localCheckpoint()

    # leg C: points inside NOTHING get the full seam-exact disk fan-out
    outside = q.join(inside.select("query_id"), "query_id", "left_anti")
    cand, used_res = query_disk_cells(
        outside.select("query_id", F.col("qlat").alias("lat"),
                       F.col("qlon").alias("lon")),
        radius_deg, metric="sq_deg", res=use_res)
    # poly_id follows ring_key; keeping it in the dedupe key leaves every
    # first() buffer fixed-width, so the dedupe stays a HashAggregate, and
    # the ring joins the deduped pairs only
    poly_cells = cover.select("cell", "ring_key", "poly_id")
    leg_c = cand.join(
        poly_cells, cand["__pcell"] == poly_cells["cell"], "inner"
    ).dropDuplicates(["query_id", "ring_key", "poly_id"]).join(
        rings, "ring_key").select(
        "query_id", "qlat", "qlon", "poly_id",
        poly_d2(F.col("qlat"), F.col("qlon"), *_RING).alias("__d2"))

    r2 = float(radius_deg) * float(radius_deg)
    # the radius cut happens AFTER the argmin, on the aggregated scalar:
    # a pre-aggregation filter on the UDF column gets pushed below its
    # own projection and re-evaluates the distance UDF per row (the
    # radius-join family's double-eval hazard, observed here too); the
    # argmin over unfiltered candidates is identical — out-of-range
    # pairs either lose the min or leave the point's best > r2, which
    # the final one-row-per-point filter drops
    out_best = leg_c.groupBy("query_id").agg(
        F.min(F.struct(F.col("__d2").alias("d2"),
                       F.col("poly_id").alias("poly_id"))).alias("b"))
    best = inside.select("query_id", "b").unionByName(
        out_best.select("query_id", "b"))
    return best.filter(F.col("b.d2") <= F.lit(r2)).select(
        F.col("query_id").alias("point_id"),
        F.col("b.poly_id").alias("poly_id"),
        F.sqrt(F.col("b.d2")).alias("dist_deg"),
    )
