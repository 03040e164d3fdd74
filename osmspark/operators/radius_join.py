"""B5b — within-distance (radius) join via hex disk cover (SURVEY §2.2
extension; sibling of the kNN k-ring operator in knn.py).

`within_distance_join(points, queries, radius)` returns every (query,
point) pair whose distance is <= radius; `within_distance_pairs(points,
radius)` is the self-join variant (near-neighbor pairs).  This is the
range-join member of the spatial family the reference's audit pipeline
implies (kNN answers "nearest k", PIP answers "inside polygon", this
answers "within d meters") — none of it exists as a Spark builtin, so it
is composed from the engine's own cell index:

  1. the query half (`query_disk_cells`) turns each query into the
     cells that can hold a point within the radius, through
     `_with_disk_cells`, the one disk step of the radius family: the
     res comes from the radius (`auto_res`), and ONE Arrow pandas UDF
     emits the seam-exact disk of `hexgrid.disk_cells` — a home k-ring
     whose ring count PROVABLY covers the disk (the uv-exact
     `hexgrid.ring_count_uv` bound) plus re-projected anchor rings on
     every cube face the disk spills onto (BFS fixpoint), so queries
     straddling a face seam or corner get their cross-face matches;
  2. the join half (`_join_disk_cells`) hex-cell-assigns the points
     ONCE at that res via the native staged expression path (whole-stage
     codegen, zero Python) and equi-joins them to the candidate cells —
     a plain shuffle hash join on a long key, no crossJoin anywhere;
  3. exact distance filter (haversine native columns, or the
     SQL-bit-reproducible squared-degree metric for oracle rows).

Scale shape: the only Python is the per-QUERY disk generation (queries
are the small-multiplied side — 1+3k(k+1) rows each, k<=~6 at typical
gnomonic scale); the point side is touched once, natively, and shuffles
on the cell key with map-side-combinable cardinality.  Skewed hot cells
degrade gracefully: a hot cell fans out to the queries whose disks
contain it, which is the true output workload, not an artifact.  The
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
# produces it, so it only guards a pinned res (nearest_polygon's cover res)
MAX_RING = 64

# ring count the typical-scale disk is sized to (see auto_res)
TARGET_RING = 6


def _ring_for(cover_m: float, cell_radius_m: float) -> int:
    """Rings needed so kring(k) provably covers a disk of `cover_m`."""
    return max(1, int(math.ceil((1.1 * cover_m / cell_radius_m + 1.0) / 1.5)) + 1)


def auto_res(cover_m: float) -> int:
    """The disk resolution of the radius family: the finest resolution
    keeping the TYPICAL (face-center-scale) disk within TARGET_RING
    rings.  Pure driver math from published constants — no data access,
    no collect.  Every radius-family caller gets its res from here
    (`_with_disk_cells`); only `nearest_polygon` pins one, to its
    polygon-cover res.

    Correctness never depends on the resolution (each query derives its
    covering ring count from the uv-exact bound at its own position), so
    the choice targets the typical gnomonic scale rather than the
    3x-smaller face-corner worst case — planning for the worst case picks
    cells ~3x the radius and every query disk then covers ~(3+2)^2/1 ~
    25x more area (and candidate rows) than needed.  First cut used
    worst-case scale with a 3-ring target → res 6 for a 2 km radius →
    each disk swept most of a dense city: 1e9 candidate pairs, 76 s for
    5000 queries at sf0.1; typical-scale res 8 cuts candidates ~13x.  At
    a face corner cells shrink at most 3x, so measured rings stay <=
    ~3*TARGET_RING, far under MAX_RING — the loud guard cannot fire for
    an auto-chosen res."""
    res = 0
    for cand in range(1, 16):
        typical_radius_m = (RES0_R / (SQRT7 ** cand)) * EARTH_RADIUS_M
        if _ring_for(cover_m, typical_radius_m) > TARGET_RING:
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


def _with_disk_cells(df: DataFrame, lat: str, lon: str, cover_m: float,
                     res: int | None, flagged: bool):
    """The one disk step of the radius family: (`df` with every input
    column plus (__pcell, __inside), one row per candidate cell of the
    `cover_m`-meter disk around (lat, lon); res).

    In order: the positive-radius and MAX_COVER_M guards; res=None takes
    `auto_res`; ONE Arrow UDF generates the seam-exact disk (raising
    executor-side when a pinned res needs more than MAX_RING rings); the
    outer explode; the sign-bit split.  `flagged` selects the classified
    cover (`disk_cells_flagged`): provably-outside cells are dropped and
    certified-interior cells set `__inside`, so their points skip the
    exact filter.  The plain cover sets `__inside` to a constant false,
    which BooleanSimplification folds out of `false OR keep`."""
    cover_m = float(cover_m)
    if cover_m <= 0:
        raise ValueError("radius must be positive")
    if cover_m > MAX_COVER_M:
        raise ValueError(
            f"disk cover of {cover_m:.0f} m exceeds MAX_COVER_M="
            f"{MAX_COVER_M:.0f} m, the disk-fanout operating envelope "
            "(candidates grow ~(cover/cell)^2 and a disk this size "
            "approaches face scale); split the radius or use the "
            "polygon-cover join"
        )
    if res is None:
        res = auto_res(cover_m)
    mk_cells = (disk_cells_flagged_udf if flagged else disk_cells_udf)(
        res, max_ring=MAX_RING)
    cols = df.columns
    out = df.withColumn(
        "__cells", mk_cells(F.col(lat), F.col(lon), F.lit(cover_m)),
    ).select(*cols,
             # explode_OUTER, deliberately: plain explode lets Catalyst's
             # InferFiltersFromGenerate push a size(__cells)>0 filter below
             # the projection, which re-evaluates the disk UDF — the whole
             # candidate-generation stage ran TWICE (observed in the
             # map_match candidate plan, round 5).  Outer generate infers
             # no filter; disk_cells always emits the home cell, and a
             # hypothetical null __pcell can never pass the inner equi-join,
             # so the semantics are identical.
             F.explode_outer("__cells").alias("__raw"))
    raw = F.col("__raw")
    cell, inside = ((raw.bitwiseAND(F.lit(DISK_CELL_MASK)), raw < 0)
                    if flagged else (raw, F.lit(False)))
    return out.select(*cols, cell.alias("__pcell"),
                      inside.alias("__inside")), res


def query_disk_cells(
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    res: int | None = None,
):
    """The query half of the radius join: ((query_id, qlat, qlon,
    __pcell, __inside) candidate-cell frame, res).  A STREAMING caller
    materializes it eagerly (localCheckpoint) before the join half — a
    stream-static join whose static side still contains the Arrow UDF
    subplan deadlocks the micro-batch (observed; the materialized frame
    joins fine).  `res` is pinned only by `nearest_polygon` (its
    polygon-cover res); None derives it from the radius.

    Only the haversine metric takes the classified cover; the sq_deg
    (oracle) metric keeps the plain one, so its plan — and its bit-exact
    boundary membership — is the unclassified cell join."""
    cover_m = float(radius) if metric == "haversine" else float(radius) * _M_PER_DEG
    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    return _with_disk_cells(q, "qlat", "qlon", cover_m, res,
                            flagged=metric == "haversine")


def _join_disk_cells(
    points: DataFrame,
    q: DataFrame,
    res: int,
    radius: float,
    metric: str,
    point_id: str,
    carry_cols: tuple,
) -> DataFrame:
    """The join half of the radius join: points hex-assigned at the disk
    `res` (native staged expressions), equi-joined to the `q` frame of
    `query_disk_cells` on the cell key, then the exact filter."""
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


def within_distance_join(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    point_id: str = "id",
    carry_cols: tuple = (),
) -> DataFrame:
    """All (query_id, point_id, dist[, *carry_cols]) with dist <= radius.
    `carry_cols` names extra point-side columns passed through to the
    output (e.g. a timestamp, so a streaming caller never needs a
    stream-stream re-join to recover it).

    `radius` is meters for metric='haversine', degrees for 'sq_deg'
    (compared on the squared value, like knn's sq_deg path).  `queries`
    needs (query_id, lat, lon); `points` needs (point_id, lat, lon).
    The cell resolution comes from the radius (`auto_res`)."""
    q, res = query_disk_cells(queries, radius, metric=metric)
    return _join_disk_cells(points, q, res, radius, metric, point_id,
                            carry_cols)


def within_distance_pairs(
    points: DataFrame,
    radius: float,
    metric: str = "haversine",
    point_id: str = "id",
) -> DataFrame:
    """Unordered near-neighbor pairs (a, b, dist), a < b, dist <= radius.

    Self-join through `within_distance_join`: every unordered pair is
    produced exactly twice (once per orientation, since a disk contains
    any cell at most once), and the a < b filter keeps one — no distinct
    pass needed."""
    q = points.select(F.col(point_id).alias("query_id"), "lat", "lon")
    out = within_distance_join(
        points, q, radius, metric=metric, point_id=point_id
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
        # same loud contract as the cell path (_with_disk_cells) — for
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
