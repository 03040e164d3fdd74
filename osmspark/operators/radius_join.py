"""B5b — within-distance (radius) join via hex disk cover (SURVEY §2.2
extension; sibling of the kNN operator in knn.py).

`within_distance_join(points, queries, radius)` returns every (query,
point) pair whose distance is <= radius; `within_distance_pairs(points,
radius)` is the self-join variant (near-neighbor pairs).  This is the
range-join member of the spatial family the reference's audit pipeline
implies (kNN answers "nearest k", PIP answers "inside polygon", this
answers "within d meters") — none of it exists as a Spark builtin, so it
is composed from the engine's own cell index.

`within_distance_join` serves a query batch the way `knn_kring` does: the
static side is prepared once and each batch is shipped to it (*Distributed
Stream KNN Join*, SIGMOD 2021):

  1. the query half (`_batch_disk_cells`) fetches the batch to the Spark
     driver once (`knn.fetch_queries`) and computes every query's disk
     there in numpy — the cells that can hold a point within the radius,
     at the res that comes from the radius (`auto_res`): a home k-ring
     whose ring count PROVABLY covers the disk (the uv-exact
     `hexgrid.ring_count_uv` bound) plus re-projected anchor rings on
     every cube face the disk spills onto (BFS fixpoint), so queries
     straddling a face seam or corner get their cross-face matches.  The
     disk arrays go back to Spark as one small local frame, exploded
     there to (query, cell) rows;
  2. the point half (`_prepared_points`) hex-cell-assigns the points at
     that res via the native SQL projection (whole-stage codegen,
     zero Python) and persists them ONCE per points snapshot:
     later batches at that res read the cached rows, with no re-plan and
     no rescan;
  3. the halves equi-join on the long cell key — the planner broadcasts
     the small query side, no crossJoin anywhere — then the exact distance
     filter (haversine native columns, or the SQL-bit-reproducible
     squared-degree metric for oracle rows).

A query batch runs no Python at query time.  Every disk comes from ONE
function, `_disks`, and every caller joins through ONE body,
`_cell_join`; the callers split only on the query side:

  * a batch or static query side builds its disks on the driver
    (`_batch_disk_cells`): `within_distance_join`, and the streaming
    alerts, whose static site table joins the stream's point half;
  * a query side that is a whole point set cannot be fetched, so it takes
    the distributed disk step, `_with_disk_cells` (`_disks` as ONE Arrow
    UDF over the query frame): map-match directly, and `nearest_polygon`
    and `within_distance_pairs` through `query_disk_cells`.

Scale shape: the query batch must fit on the driver (like kNN's); each
query multiplies into 1+3k(k+1) cell rows, k<=~6 at typical gnomonic
scale.  The prepared point half is touched once per snapshot, natively.
Skewed hot cells degrade gracefully: a hot cell fans out to the queries
whose disks contain it, which is the true output workload, not an
artifact.  The `hexgrid.MAX_COVER_M` cap (~200 km) is an
OPERATING-ENVELOPE limit on disk fanout — past it a disk approaches face
scale and the adaptive polygon-cover join is the right tool — enforced
loudly rather than letting a mis-sized radius explode the candidate
count.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from ..config import EARTH_RADIUS_M
from ..functions.geo import haversine_m, sq_deg_dist
from ..functions.hexgrid import (
    DISK_CELL_MASK,
    MAX_COVER_M,
    RES0_R,
    SQRT7,
    disk_cells,
    disk_cells_flagged,
    with_hex_cell,
)
from ..plans.prepared import prepared
from .knn import fetch_queries

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
    (`_disk_res`); only `nearest_polygon` pins one, to its
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


def _disk_res(cover_m: float, res: int | None) -> tuple[float, int]:
    """The disk step's guards, in order: positive radius, then the
    MAX_COVER_M envelope; res=None then takes `auto_res`, and a pinned
    res must lie in [0, 15].  (MAX_RING is checked per query by the disk
    generation itself.)"""
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
    res = auto_res(cover_m) if res is None else res
    if not 0 <= res <= 15:
        raise ValueError("res must be in [0, 15]")
    return cover_m, res


def _cover(radius: float, metric: str) -> tuple[float, bool]:
    """(disk cover in meters, classified cover?) of a radius-join radius.
    Only the haversine metric takes the classified cover; the sq_deg
    (oracle) metric keeps the plain one, so its plan — and its bit-exact
    boundary membership — is the unclassified cell join."""
    if metric == "haversine":
        return float(radius), True
    if metric == "sq_deg":
        return float(radius) * _M_PER_DEG, False
    raise ValueError(f"unknown metric {metric!r}")


def _explode_cells(df: DataFrame, cols: list, flagged: bool) -> DataFrame:
    """`cols` of `df` plus (__pcell, __inside), one row per entry of its
    `__cells` disk array, split on the sign bit (`flagged`) or with a
    constant-false `__inside`, which BooleanSimplification folds out of
    `false OR keep`."""
    # explode_OUTER, deliberately: plain explode lets Catalyst's
    # InferFiltersFromGenerate push a size(__cells)>0 filter below the
    # projection, which re-evaluates a disk UDF — the whole candidate-
    # generation stage ran TWICE (observed in the map_match candidate
    # plan, round 5).  Outer generate infers no filter; a disk always
    # holds the home cell, and a hypothetical null __pcell can never pass
    # the inner equi-join, so the semantics are identical.
    out = df.select(*cols, F.explode_outer("__cells").alias("__raw"))
    raw = F.col("__raw")
    cell, inside = ((raw.bitwiseAND(F.lit(DISK_CELL_MASK)), raw < 0)
                    if flagged else (raw, F.lit(False)))
    return out.select(*cols, cell.alias("__pcell"), inside.alias("__inside"))


def _disks(lat: np.ndarray, lon: np.ndarray, cover_m: float, res: int,
           flagged: bool) -> list:
    """The one disk function of the radius family: per (lat, lon), the
    seam-exact cells of the `cover_m`-meter disk at `res` (raising when
    it needs more than MAX_RING rings).  `flagged` selects the classified
    cover (`disk_cells_flagged`): provably-outside cells are dropped and
    certified-interior cells carry the sign bit."""
    return (disk_cells_flagged if flagged else disk_cells)(
        lat, lon, cover_m, res, max_ring=MAX_RING)


def _with_disk_cells(df: DataFrame, lat: str, lon: str, cover_m: float,
                     res: int | None, flagged: bool):
    """The distributed disk step of the radius family, for a query side
    that is a whole point set: (`df` with every input column plus
    (__pcell, __inside), one row per candidate cell of the `cover_m`-meter
    disk around (lat, lon); res).  The `_disk_res` guards run first; then
    ONE Arrow UDF runs `_disks` executor-side and `_explode_cells` splits
    its arrays."""
    cover_m, res = _disk_res(cover_m, res)

    @F.pandas_udf(ArrayType(LongType()))
    def hex_disk(la: pd.Series, lo: pd.Series) -> pd.Series:
        return pd.Series(
            _disks(la.to_numpy(), lo.to_numpy(), cover_m, res, flagged))

    out = df.withColumn("__cells", hex_disk(F.col(lat), F.col(lon)))
    return _explode_cells(out, df.columns, flagged), res


def query_disk_cells(
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    res: int | None = None,
):
    """The distributed query half of the radius join: ((query_id, qlat,
    qlon, __pcell, __inside) candidate-cell frame, res), for a query side
    too large to fetch to the driver (a whole point set).  `res` is pinned
    only by `nearest_polygon` (its polygon-cover res); None derives it
    from the radius."""
    cover_m, flagged = _cover(radius, metric)
    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    return _with_disk_cells(q, "qlat", "qlon", cover_m, res, flagged)


def _batch_disk_cells(queries: DataFrame, radius: float, metric: str):
    """The query half of a batch or static query side: the same frame and
    res as `query_disk_cells`, with the disks built on the driver.  The
    `_disk_res` guards run before the batch is fetched (`fetch_queries`,
    its one execution); `_disks` then computes every disk at once and the
    arrays go back to Spark as one small local frame of (query_id, qlat,
    qlon, __cells), exploded by `_explode_cells` — no Python stage."""
    cover_m, flagged = _cover(radius, metric)
    cover_m, res = _disk_res(cover_m, None)
    qt, qschema = fetch_queries(queries)
    qlat, qlon = qt.column(1), qt.column(2)
    cells = _disks(qlat.to_numpy(), qlon.to_numpy(), cover_m, res, flagged)
    offsets = np.cumsum([0, *map(len, cells)], dtype=np.int32)
    flat = np.concatenate([np.empty(0, np.int64), *cells])
    t = pa.table([qt.column(0), qlat, qlon,
                  pa.ListArray.from_arrays(offsets, flat)],
                 names=["query_id", "qlat", "qlon", "__cells"])
    schema = StructType([
        StructField("query_id", qschema[0].dataType),
        StructField("qlat", DoubleType()),
        StructField("qlon", DoubleType()),
        StructField("__cells", ArrayType(LongType())),
    ])
    q = queries.sparkSession.createDataFrame(t, schema)
    return _explode_cells(q, ["query_id", "qlat", "qlon"], flagged), res


def _point_half(points: DataFrame, res: int, point_id: str,
                carry_cols: tuple) -> DataFrame:
    """(point_id, plat, plon, __pcell, *carry_cols): the points
    hex-assigned at the disk `res` by the native SQL projection."""
    cell = f"__rj_cell_r{res}"
    return with_hex_cell(points, res, out_col=cell).select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        F.col(cell).alias("__pcell"),
        *[F.col(c) for c in carry_cols],
    )


def _prepared_points(points: DataFrame, res: int, point_id: str,
                     carry_cols: tuple) -> DataFrame:
    """`_point_half`, planned and persisted once per points snapshot and
    reused by every later batch at that res (`plans.prepared`: keyed on
    the snapshot, res, point_id and carry_cols; a re-saved snapshot is a
    new entry).  Lazy: `persist()` runs no job; the first join that reads
    it fills the cache."""
    def build():
        return (_point_half(points, res, point_id, carry_cols).persist(),)

    return prepared(points, ("points", res, point_id, tuple(carry_cols)),
                    build)[0]


def _cell_join(q: DataFrame, pts: DataFrame, radius: float, metric: str,
               carry_cols: tuple) -> DataFrame:
    """A query half equi-joined to a point half on the cell key, then the
    exact filter."""
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
    The cell resolution comes from the radius (`auto_res`).

    `queries` is fetched to the Spark driver once per call, so the batch
    must fit there (~24 B per query plus its id, and its disk cells); a
    derived query frame executes exactly once.  `points` is a batch frame
    (a stream goes through `streaming.spatial.streaming_radius_alerts`),
    hex-assigned and persisted once per snapshot (`_prepared_points`);
    the call runs no job on it."""
    q, res = _batch_disk_cells(queries, radius, metric)
    return _cell_join(q, _prepared_points(points, res, point_id, carry_cols),
                      radius, metric, carry_cols)


def within_distance_pairs(
    points: DataFrame,
    radius: float,
    metric: str = "haversine",
    point_id: str = "id",
) -> DataFrame:
    """Unordered near-neighbor pairs (a, b, dist), a < b, dist <= radius.

    Self-join through the radius join's distributed halves (the query side
    is the whole point set, so it is never fetched): every unordered pair
    is produced exactly twice (once per orientation, since a disk contains
    any cell at most once), and the a < b filter keeps one — no distinct
    pass needed."""
    q = points.select(F.col(point_id).alias("query_id"), "lat", "lon")
    q, res = query_disk_cells(q, radius, metric=metric)
    out = _cell_join(q, _point_half(points, res, point_id, ()),
                     radius, metric, ())
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
        # same loud contract as the cell path (_disk_res) — for
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
