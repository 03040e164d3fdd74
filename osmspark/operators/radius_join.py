"""B5b — within-distance (radius) join via hex disk cover (SURVEY §2.2
extension; sibling of the kNN k-ring operator in knn.py).

`within_distance_join(points, queries, radius)` returns every (query,
point) pair whose distance is <= radius; `within_distance_pairs(points,
radius)` is the self-join variant (near-neighbor pairs).  This is the
range-join member of the spatial family the reference's audit pipeline
implies (kNN answers "nearest k", PIP answers "inside polygon", this
answers "within d meters") — none of it exists as a Spark builtin, so it
is composed from the engine's own cell index:

  1. points are hex-cell-assigned ONCE at `res` via the native staged
     expression path (whole-stage codegen, zero Python);
  2. each query derives the ring count k that PROVABLY covers its disk
     via the uv-exact bound (`hexgrid.ring_count_uv`: the hex lattice is
     uniform on the face uv plane, gnomonic maps geodesics to straight
     lines, and the metric's worst meters-per-uv over the disk is
     R_earth/n^2 with n^2 = 1+u^2+v^2 — exact at face edges, no slack
     heuristics), with neighbor-face anchor rings wherever the disk
     spills over a cube-face seam;
  3. the 1+3k(k+1) candidate cells per query are generated by one Arrow
     pandas UDF, posexploded, and equi-joined against the point cells —
     a plain shuffle hash join on a long key, no crossJoin anywhere;
  4. exact distance filter (haversine native columns, or the
     SQL-bit-reproducible squared-degree metric for oracle rows).

Scale shape: the only Python is the per-QUERY disk generation (queries
are the small-multiplied side — 1+3k(k+1) rows each, k<=~6 at typical
gnomonic scale when `res` is auto-chosen); the point side is touched
once, natively, and shuffles
on the cell key with map-side-combinable cardinality.  Skewed hot cells
degrade gracefully: a hot cell fans out to the queries whose disks
contain it, which is the true output workload, not an artifact.

Seam-exact (round 5): candidate disks come from `hexgrid.disk_cells`,
which adds re-projected anchor rings on every cube face the padded disk
spills onto (BFS fixpoint — the PIP join's multi-face pattern lifted to
point disks), so queries straddling a face seam or corner get their
cross-face matches.  The per-query ring counts come from the uv-exact
`hexgrid.ring_count_uv` bound (provably complete at any radius); the
`hexgrid.MAX_COVER_M` cap (~200 km) is an OPERATING-ENVELOPE limit on
disk fanout — past it a disk approaches face scale and the adaptive
polygon-cover join is the right tool — enforced loudly rather than
letting a mis-sized radius explode the candidate count.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EARTH_RADIUS_M
from ..functions.geo import haversine_m, sq_deg_dist
from ..functions.hexgrid import (
    DISK_CELL_MASK,
    MAX_COVER_M,
    RES0_R,
    SQRT7,
    disk_cells_flagged_udf,
    disk_cells_udf,
    with_hex_cell,
)

# upper bound on meters per degree of squared-degree distance: one great-
# circle degree on the sphere, plus 1% slack (sq_deg treats lon degrees
# unscaled, which only SHRINKS the metric span — the bound stays safe)
_M_PER_DEG = math.pi / 180.0 * EARTH_RADIUS_M * 1.01

# rings above this mean res is pathologically fine for the radius — the
# disk would fan out to thousands of cells per query; auto_res never
# produces it, so it only guards user-pinned resolutions
MAX_RING = 64


def _ring_for(cover_m: float, cell_radius_m: float) -> int:
    """Rings needed so kring(k) provably covers a disk of `cover_m`."""
    return max(1, int(math.ceil((1.1 * cover_m / cell_radius_m + 1.0) / 1.5)) + 1)


def auto_res(cover_m: float, target_ring: int = 6) -> int:
    """Finest resolution keeping the TYPICAL (face-center-scale) disk
    within `target_ring` rings.  Pure driver math from published
    constants — no data access, no collect.

    This is a PERFORMANCE knob only: correctness never depends on the
    resolution (each query derives its covering ring count from its own
    MEASURED local cell size), so the choice targets the typical
    gnomonic scale rather than the 3x-smaller face-corner worst case —
    planning for the worst case picks cells ~3x the radius and every
    query disk then covers ~(3+2)^2/1 ~ 25x more area (and candidate
    rows) than needed.  First cut used worst-case scale with
    target_ring=3 → res 6 for a 2 km radius → each disk swept most of a
    dense city: 1e9 candidate pairs, 76 s for 5000 queries at sf0.1;
    typical-scale res 8 cuts candidates ~13x.  At a face corner cells
    shrink at most 3x, so measured rings stay <= ~3*target_ring, far
    under MAX_RING — the loud guard cannot fire for auto-chosen res."""
    res = 0
    for cand in range(1, 16):
        typical_radius_m = (RES0_R / (SQRT7 ** cand)) * EARTH_RADIUS_M
        if _ring_for(cover_m, typical_radius_m) > target_ring:
            break
        res = cand
    return res


def _exact_filter(metric: str, radius: float):
    q = (F.col("qlat"), F.col("qlon"))
    p = (F.col("plat"), F.col("plon"))
    if metric == "haversine":
        dist = haversine_m(*q, *p)
        return dist, dist <= F.lit(float(radius))
    if metric == "sq_deg":
        # squared-degree distance: subtract/multiply/add only — bitwise
        # identical across IEEE engines, so membership at the radius
        # boundary is deterministic (the oracle-row metric, like knn_sq_deg)
        dist = sq_deg_dist(*q, *p)
        return dist, dist <= F.lit(float(radius) * float(radius))
    raise ValueError(f"unknown metric {metric!r}")


def query_disk_cells(
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    res: int | None = None,
):
    """The query-side half of the radius join: ((query_id, qlat, qlon,
    __pcell) candidate-cell frame, res).  Exposed so a STREAMING caller
    can materialize it eagerly (localCheckpoint) — a stream-static join
    whose static side still contains the Arrow UDF subplan deadlocks the
    micro-batch (observed; the materialized frame joins fine).

    Candidates come from ONE Arrow UDF (`hexgrid.disk_cells_udf`): home
    k-ring sized by the uv-exact `hexgrid.ring_count_uv` bound, plus
    anchor rings on every cube face the disk spills onto — seam-exact at
    any radius.  The UDF raises executor-side on a user-pinned res too
    fine for the radius (ring > MAX_RING) instead of silently exploding
    the fanout; the driver-side guard here raises past MAX_COVER_M, the
    disk-fanout operating envelope (round-4 ADVICE asked for a loud cap;
    round 5 replaced the measured-local-R heuristic it originally
    protected with the exact bound, so the cap is now purely about
    fanout, not correctness)."""
    cover_m = float(radius) if metric == "haversine" else float(radius) * _M_PER_DEG
    if cover_m <= 0:
        raise ValueError("radius must be positive")
    if cover_m > MAX_COVER_M:
        raise ValueError(
            f"within_distance_join: radius ({cover_m:.0f} m of disk cover) "
            f"exceeds MAX_COVER_M={MAX_COVER_M:.0f} m, the disk-fanout "
            "operating envelope (candidates grow ~(cover/cell)^2 and a "
            "disk this size approaches face scale); split the radius or "
            "use the polygon-cover join"
        )
    if res is None:
        res = auto_res(cover_m)
    # haversine covers classify cells exactly (disk_cells_flagged, round
    # 6): provably-outside cells are dropped before the join and
    # certified-interior cells carry the sign bit so their points skip
    # the trig filter.  The sq_deg (oracle) metric keeps the plain cover
    # and a constant-false flag: BooleanSimplification folds
    # `false OR keep` back to `keep`, so that plan — and its bit-exact
    # boundary membership — is unchanged.
    flagged = metric == "haversine"
    mk_cells = (disk_cells_flagged_udf if flagged else disk_cells_udf)(
        res, max_ring=MAX_RING)
    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    ).withColumn(
        "__cells",
        mk_cells(F.col("qlat"), F.col("qlon"), F.lit(cover_m)),
    ).select("query_id", "qlat", "qlon",
             # explode_OUTER, deliberately: plain explode lets Catalyst's
             # InferFiltersFromGenerate push a size(__cells)>0 filter below
             # the projection, which re-evaluates the disk UDF — the whole
             # candidate-generation stage ran TWICE (observed in the
             # map_match candidate plan, round 5).  Outer generate infers
             # no filter; disk_cells always emits the home cell, and a
             # hypothetical null __pcell can never pass the inner equi-join,
             # so the semantics are identical.
             F.explode_outer("__cells").alias("__raw"))
    if flagged:
        q = q.select(
            "query_id", "qlat", "qlon",
            F.col("__raw").bitwiseAND(F.lit(DISK_CELL_MASK)).alias("__pcell"),
            (F.col("__raw") < 0).alias("__inside"),
        )
    else:
        q = q.select(
            "query_id", "qlat", "qlon",
            F.col("__raw").alias("__pcell"),
            F.lit(False).alias("__inside"),
        )
    return q, res


def within_distance_join(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    res: int | None = None,
    point_id: str = "id",
    carry_cols: tuple = (),
    _prepared=None,
) -> DataFrame:
    """All (query_id, point_id, dist[, *carry_cols]) with dist <= radius.
    `carry_cols` names extra point-side columns passed through to the
    output (e.g. a timestamp, so a streaming caller never needs a
    stream-stream re-join to recover it).

    `radius` is meters for metric='haversine', degrees for 'sq_deg'
    (compared on the squared value, like knn's sq_deg path).  `queries`
    needs (query_id, lat, lon); `points` needs (point_id, lat, lon).
    res=None picks the finest resolution whose typical-scale disk stays
    within `auto_res`'s target ring count; exactness holds at ANY res
    (per-query rings come from the uv-exact `hexgrid.ring_count_uv`
    bound).
    `_prepared` accepts a (disk_cells_frame, res) pair from
    `query_disk_cells` (the streaming wrapper's materialized copy)."""
    if _prepared is None:
        q, res = query_disk_cells(queries, radius, metric=metric, res=res)
    else:
        q, res = _prepared
    cell = f"__rj_cell_r{res}"
    pts = with_hex_cell(points, res, out_col=cell).select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        F.col(cell).alias("__pcell"),
        *[F.col(c) for c in carry_cols],
    )
    dist, keep = _exact_filter(metric, radius)
    # certified-interior candidates short-circuit the exact filter (Or
    # codegen evaluates the right side lazily); membership is identical
    # because the certificate is conservative
    return (
        q.join(pts, "__pcell")
        .where(F.col("__inside") | keep)
        .select("query_id", "point_id", dist.alias("dist"),
                *[F.col(c) for c in carry_cols])
    )


def within_distance_pairs(
    points: DataFrame,
    radius: float,
    metric: str = "haversine",
    res: int | None = None,
    point_id: str = "id",
) -> DataFrame:
    """Unordered near-neighbor pairs (a, b, dist), a < b, dist <= radius.

    Self-join through `within_distance_join`: every unordered pair is
    produced exactly twice (once per orientation, since a disk contains
    any cell at most once), and the a < b filter keeps one — no distinct
    pass needed."""
    q = points.select(F.col(point_id).alias("query_id"), "lat", "lon")
    out = within_distance_join(
        points, q, radius, metric=metric, res=res, point_id=point_id
    )
    return (
        out.where(F.col("query_id") < F.col("point_id"))
        .select(
            F.col("query_id").alias("a"),
            F.col("point_id").alias("b"),
            "dist",
        )
    )


def within_distance_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    point_id: str = "id",
    carry_cols: tuple = (),
) -> DataFrame:
    """O(P*Q) reference path: broadcast-crossJoin + native filter — the
    pytest oracle, and the cheaper plan for tiny query batches (one
    stage, no UDF, no explode)."""
    if float(radius) <= 0:
        # same loud contract as the cell path (query_disk_cells) — for
        # sq_deg a negative radius would otherwise square into a positive
        # threshold and silently return matches
        raise ValueError("radius must be positive")
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        *[F.col(c) for c in carry_cols],
    )
    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    dist, keep = _exact_filter(metric, radius)
    return (
        pts.crossJoin(F.broadcast(q))
        .where(keep)
        .select("query_id", "point_id", dist.alias("dist"),
                *[F.col(c) for c in carry_cols])
    )
