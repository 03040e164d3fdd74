"""Segment-segment intersection join — the line x line spatial primitive.

Completes the engine's geometric join family: point x polygon
(spatial_join), point x disk (radius_join), polygon x polygon (overlay) —
and now polyline x polyline: which road segments cross which (grade
crossings, unbridged intersections, conflation QA between two way sets).

Shape (the family pattern): candidate generation by hex-cell cover +
ONE equi-join on cell + an exact native predicate.

Candidates: each segment is covered by every cell it passes through —
samples along the (lat/lon-straight) segment at spacing `step` degrees,
each sample expanded by the seam-exact `hexgrid.disk_cells` with cover
`M_PER_DEG * step` meters.  Any point P on the segment lies within
`step/2` of a sample along BOTH axes, and the meridian+parallel legs bound
the great-circle distance by `M_PER_DEG * (|dlat| + |dlon|) <= M_PER_DEG *
step` — so the cell containing P is in the sample's disk, and two
intersecting segments always share the intersection point's cell:
candidate generation is provably complete (and seam-exact, inherited from
disk_cells).  Covers are computed in ONE Arrow UDF per segment row
(flat-batch numpy; no per-sample explode reaches the plan).

Exact predicate: orientation sign tests in the lat/lon plane — segments
are straight in lat/lon, the same convention as the PIP refine's edges —
entirely native (multiply/subtract only, so a DuckDB oracle replicating
the arithmetic matches bit-for-bit):
  proper crossing: endpoints of each segment strictly straddle the other;
  touch: an endpoint lies ON the other segment (orientation 0 + bbox),
         including collinear overlap — reported with kind='touch' and
         excluded unless include_touches=True (road networks share nodes
         at every junction by construction; those are touches, not
         crossings).

Scale notes: the corpus-side work is one Arrow cover pass + one shuffle
on the cell key (both sides), with the predicate running native inside
the join.  Fan-out per segment is ~len/step samples x O(1) cells — `step`
defaults to HALF the cell size at `res`, keeping per-sample disks at
ring 1 (a tight cover bounds the per-cell join product; see _step_deg).
Hot cells (dense urban grids) fan out to true candidate mass; AQE
skew-join applies.  Long segments are loudly capped (`max_samples`) —
pick a coarser res, don't silently explode.  Antimeridian-crossing
segments raise executor-side (normalize the frame first, the engine-wide
convention).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hexgrid

_M_PER_DEG = 111320.0
DEFAULT_RES = 9


def _step_deg(res: int) -> float:
    """Sampling step ~ HALF a hex circumradius at `res` (face-center
    scale).  The disk cover radius equals the step, so coverage never
    depends on this scale being tight — only the fanout does: a
    half-cell step keeps each sample's disk at ring 1 (~7 cells), and a
    tight cover is what bounds the per-cell join product (a 2-cell-slack
    cover measured 4x more cover rows and ~16x more pre-dedupe join
    output on the 20k x 20k crossing-grid bench)."""
    radius_uv = hexgrid._res_frame(res)[0]
    # 1 uv ~ 5e6 m (face spans 2 uv ~ a quarter circumference ~ 1e7 m);
    # half that cell radius in meters, expressed in degrees.
    return radius_uv * 2.5e6 / _M_PER_DEG


def segment_cover_udf(res: int, step_deg: float, max_samples: int = 256,
                      buffer_m: float = 0.0):
    """Arrow UDF: (lat1, lon1, lat2, lon2) -> array<long> distinct cells
    covering every cell the segment passes through (see module doc).

    buffer_m > 0 widens the cover to every cell containing a point
    within buffer_m meters of the segment — the streaming crossings
    operator buffers its STATIC side by the stream's max segment span so
    a stream row needs only its single midpoint cell (meet-at-most-once,
    no stateful dedup)."""
    cover_m = _M_PER_DEG * step_deg + float(buffer_m)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def seg_cover(lat1: pd.Series, lon1: pd.Series,
                  lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        a1, o1 = lat1.to_numpy(np.float64), lon1.to_numpy(np.float64)
        a2, o2 = lat2.to_numpy(np.float64), lon2.to_numpy(np.float64)
        if len(a1) == 0:
            return pd.Series([], dtype=object)
        if np.any(np.abs(o2 - o1) > 180.0):
            raise ValueError(
                "segment spans >180 deg of longitude — normalize the "
                "antimeridian frame before the intersection join"
            )
        span = np.maximum(np.abs(a2 - a1), np.abs(o2 - o1))
        n = np.maximum(np.ceil(span / step_deg).astype(np.int64), 1)
        if np.any(n + 1 > max_samples):
            raise ValueError(
                f"segment needs {int(n.max()) + 1} cover samples > "
                f"max_samples={max_samples} at res={res}; use a coarser "
                "res for long segments"
            )
        counts = n + 1
        seg_idx = np.repeat(np.arange(len(a1)), counts)
        # fraction k/n per sample, flat across the batch
        offs = np.concatenate(([0], np.cumsum(counts)))[:-1]
        k = np.arange(counts.sum(), dtype=np.int64) - np.repeat(offs, counts)
        t = k / np.repeat(n, counts)
        slat = np.repeat(a1, counts) + t * np.repeat(a2 - a1, counts)
        slon = np.repeat(o1, counts) + t * np.repeat(o2 - o1, counts)
        disks = hexgrid.disk_cells(slat, slon, cover_m, res)
        lens = np.fromiter((len(d) for d in disks), dtype=np.int64,
                           count=len(disks))
        flat = (np.concatenate(disks) if len(disks)
                else np.zeros(0, dtype=np.int64))
        seg_of_cell = np.repeat(seg_idx, lens)
        # distinct per segment: sort by (segment, cell), drop equal runs
        order = np.lexsort((flat, seg_of_cell))
        sc, cc = seg_of_cell[order], flat[order]
        keep = np.ones(len(cc), dtype=bool)
        keep[1:] = (cc[1:] != cc[:-1]) | (sc[1:] != sc[:-1])
        sc, cc = sc[keep], cc[keep]
        out = np.split(cc, np.searchsorted(sc, np.arange(1, len(a1))))
        return pd.Series(out)

    return seg_cover


def _orient(px: Column, py: Column, qx: Column, qy: Column,
            rx: Column, ry: Column) -> Column:
    """Orientation of r relative to directed p->q: multiply/subtract only
    (bitwise-deterministic across IEEE engines — the oracle convention)."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def _on_bbox(px, py, x1, y1, x2, y2) -> Column:
    return (
        (px >= F.least(x1, x2)) & (px <= F.greatest(x1, x2))
        & (py >= F.least(y1, y2)) & (py <= F.greatest(y1, y2))
    )


def _pair_predicate(prefix_a: str, prefix_b: str):
    """(kind, ix, iy) columns for one candidate pair; kind NULL when the
    segments do not meet."""
    ax1, ay1 = F.col(f"{prefix_a}lon1"), F.col(f"{prefix_a}lat1")
    ax2, ay2 = F.col(f"{prefix_a}lon2"), F.col(f"{prefix_a}lat2")
    bx1, by1 = F.col(f"{prefix_b}lon1"), F.col(f"{prefix_b}lat1")
    bx2, by2 = F.col(f"{prefix_b}lon2"), F.col(f"{prefix_b}lat2")
    d1 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    touch = (
        ((d1 == 0) & _on_bbox(ax1, ay1, bx1, by1, bx2, by2))
        | ((d2 == 0) & _on_bbox(ax2, ay2, bx1, by1, bx2, by2))
        | ((d3 == 0) & _on_bbox(bx1, by1, ax1, ay1, ax2, ay2))
        | ((d4 == 0) & _on_bbox(bx2, by2, ax1, ay1, ax2, ay2))
    )
    kind = F.when(proper, F.lit("proper")).when(touch, F.lit("touch"))
    # proper-crossing point: a1 + t*(a2-a1) with t = d1 / (d1 - d2) — the
    # parameter ALONG SEGMENT A (d1/d2 are a's endpoint orientations vs
    # line b, so the sign flip brackets the crossing along a; same formula
    # zonal._clip_fracs_one_poly uses).  d3/(d3-d4) is the parameter along
    # b and must pair with b's endpoints — applying it to a's endpoints
    # skewed every asymmetric crossing (round-5 ADVICE, verified:
    # a=(0,0)-(10,0) x b=(2,-1)-(2,3) gave (2.5,0) instead of (2.0,0)).
    t = d1 / (d1 - d2)
    ix = F.when(proper, ax1 + t * (ax2 - ax1))
    iy = F.when(proper, ay1 + t * (ay2 - ay1))
    return kind, iy, ix


def with_segment_cover(
    segs: DataFrame,
    res: int = DEFAULT_RES,
    step_deg: float | None = None,
    max_samples: int = 256,
    out_col: str = "seg_cells",
    buffer_m: float = 0.0,
) -> DataFrame:
    """Write-once cover column for a segment LAYOUT: compute the sampled
    disk cover one time (e.g. before parquet write); the intersection and
    zonal-length joins accept it via their `cells_col` knobs and skip the
    cover UDF entirely at query time (the storage-layout pattern)."""
    step = _step_deg(res) if step_deg is None else float(step_deg)
    cov = segment_cover_udf(res, step, max_samples, buffer_m=buffer_m)
    return segs.withColumn(
        out_col,
        cov(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")),
    )


def _validate_cells_col(df: DataFrame, cells_col: str, res: int) -> None:
    """One cheap probe on the Spark driver: a cover column built at a
    different res would silently match NOTHING through the equi-join —
    the engine's forbidden failure mode — so the packed res bits of the
    first probe cell are checked loudly."""
    probe = df.select(cells_col).first()
    if probe is None or not probe[cells_col]:
        return
    got = (int(probe[cells_col][0]) >> 59) & 0xF
    if got != res:
        raise ValueError(
            f"cells_col '{cells_col}' carries res={got} cells but the "
            f"join runs at res={res}; rebuild the cover layout or pass "
            "the matching res"
        )


def _covered(segs: DataFrame, seg_id: str, prefix: str, res: int,
             step: float, max_samples: int,
             cells_col: str | None = None) -> DataFrame:
    base = segs.select(
        F.col(seg_id).alias(f"{prefix}id"),
        F.col("lat1").alias(f"{prefix}lat1"),
        F.col("lon1").alias(f"{prefix}lon1"),
        F.col("lat2").alias(f"{prefix}lat2"),
        F.col("lon2").alias(f"{prefix}lon2"),
        *([F.col(cells_col).alias("__cells")] if cells_col else []),
    )
    if cells_col is not None:
        _validate_cells_col(segs, cells_col, res)
        sel = base
    else:
        cov = segment_cover_udf(res, step, max_samples)
        sel = base.withColumn(
            "__cells",
            cov(F.col(f"{prefix}lat1"), F.col(f"{prefix}lon1"),
                F.col(f"{prefix}lat2"), F.col(f"{prefix}lon2")),
        )
    # explode_OUTER: plain explode lets InferFiltersFromGenerate push a
    # size()>0 filter below the projection and re-run the cover UDF
    # (the radius-join family's round-5 finding; same fix)
    return sel.select(
        f"{prefix}id", f"{prefix}lat1", f"{prefix}lon1",
        f"{prefix}lat2", f"{prefix}lon2",
        F.explode_outer("__cells").alias(f"__{prefix}cell"),
    )


def segment_intersection_join(
    a: DataFrame,
    b: DataFrame,
    seg_id: str = "seg_id",
    res: int = DEFAULT_RES,
    include_touches: bool = False,
    step_deg: float | None = None,
    max_samples: int = 256,
    a_cells_col: str | None = None,
    b_cells_col: str | None = None,
) -> DataFrame:
    """All intersecting (a_id, b_id, kind, int_lat, int_lon) pairs between
    two segment tables with columns (seg_id, lat1, lon1, lat2, lon2).

    kind='proper' rows carry the crossing point; kind='touch' rows
    (endpoint-on-segment / collinear overlap) carry NULL coordinates and
    appear only with include_touches=True.

    a_cells_col / b_cells_col: pre-computed cover columns from
    `with_segment_cover` (a covered LAYOUT) — skips that side's cover UDF;
    the packed res bits are probe-validated against `res`."""
    step = _step_deg(res) if step_deg is None else float(step_deg)
    ca = _covered(a, seg_id, "a_", res, step, max_samples, a_cells_col)
    cb = _covered(b, seg_id, "b_", res, step, max_samples, b_cells_col)
    cand = ca.join(cb, ca["__a_cell"] == cb["__b_cell"], "inner") \
             .dropDuplicates(["a_id", "b_id"])
    kind, iy, ix = _pair_predicate("a_", "b_")
    out = cand.select(
        F.col("a_id"), F.col("b_id"), kind.alias("kind"),
        iy.alias("int_lat"), ix.alias("int_lon"),
    ).filter(F.col("kind").isNotNull())
    if not include_touches:
        out = out.filter(F.col("kind") == "proper")
    return out


def segment_crossings(
    segs: DataFrame,
    seg_id: str = "seg_id",
    res: int = DEFAULT_RES,
    include_touches: bool = False,
    step_deg: float | None = None,
    max_samples: int = 256,
    cells_col: str | None = None,
) -> DataFrame:
    """Self-join variant: unordered pairs (a_id < b_id) of segments from
    ONE table that cross.  Junction-sharing segments meet at endpoints and
    classify as 'touch' — excluded by default, so the default output is
    exactly the unbridged-crossing QA signal.

    cells_col: a `with_segment_cover` layout column — both sides of the
    self-join skip the cover UDF."""
    step = _step_deg(res) if step_deg is None else float(step_deg)
    ca = _covered(segs, seg_id, "a_", res, step, max_samples, cells_col)
    cb = _covered(segs, seg_id, "b_", res, step, max_samples, cells_col)
    cand = ca.join(
        cb,
        (ca["__a_cell"] == cb["__b_cell"]) & (ca["a_id"] < cb["b_id"]),
        "inner",
    ).dropDuplicates(["a_id", "b_id"])
    kind, iy, ix = _pair_predicate("a_", "b_")
    out = cand.select(
        F.col("a_id"), F.col("b_id"), kind.alias("kind"),
        iy.alias("int_lat"), ix.alias("int_lon"),
    ).filter(F.col("kind").isNotNull())
    if not include_touches:
        out = out.filter(F.col("kind") == "proper")
    return out
