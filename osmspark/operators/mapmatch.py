"""HMM map matching — snap GPS trajectories onto the OSM way network
(Newson & Krumm 2009, "Hidden Markov map matching through noise and
sparseness").

Reference parity: the course project audits way tags and preserves the
ordered nd chains (data.py:~L58 [C]); matching raw GPS fixes onto those
chains is the canonical downstream consumer of that geometry — the same
reason way_geometry exists.

Three stages, each in the engine's established shape:

  * `way_segments` — ways x nodes -> one row per resolved consecutive
    nd pair.  Same reassembly as `geometry.way_geometry` (one big-big
    equi-join on the ref key, one groupBy(way) with a bounded
    collect_list — OSM caps ways at 2000 nodes), then a native
    adjacent-pair explode.  A dangling ref BREAKS the chain (no
    fabricated bridging segment), matching way_geometry's contract.
  * `match_candidates` — (gps fix, segment) pairs within `radius_m`,
    via the seam-exact radius-join machinery: segment MIDPOINTS go
    through the radius family's one disk step
    (`radius_join._with_disk_cells`, plain cover, res from the radius)
    with cover radius_m + max_seg_len_m/2 (any point within radius_m of
    a segment is within that of its midpoint — a provable superset),
    past MAX_COVER_M it raises; then one equi-join on
    the cell and a NATIVE exact point-to-segment filter (local
    equirectangular chart at the segment, clamped projection, haversine
    to the projected point; chart error is O((L/R)^2) of the distance —
    sub-millimeter at the guarded max_seg_len_m=500 m).  Segments
    longer than `max_seg_len_m` raise executor-side (the loud-guard
    convention): a silent cap would silently drop candidates.
  * `map_match` — per-trajectory Viterbi over the candidates:
    emission logp = -(d/sigma)^2/2 (Gaussian GPS noise, N&K sec. 4.1),
    transition logp = -|gc(fix_t, fix_t+1) - gc(match_t, match_t+1)|/beta
    (N&K's route-vs-great-circle discrepancy, with the network route
    distance approximated by the great-circle between matched points —
    the documented simplification; exact network distance needs
    shortest paths, out of scope here and stated, not hidden).  One
    shuffle on traj_id, one applyInPandas per trajectory; the per-
    timestep python loop is over vectorized numpy blocks (the
    hausdorff_pairs rationale — each step is a full |S_t| x |S_t+1|
    matrix, not per-row work).  Fixes with NO candidate within radius
    emit a NULL match and BREAK the chain (Viterbi restarts after the
    gap) — off-network fixes degrade locally, never globally.

Scale shape at 10^9 fixes: candidates are one cell equi-join (the
radius-join plan), the Viterbi pass is embarrassingly parallel by
trajectory with loud per-trajectory state guards (`max_traj_rows`,
`max_candidates_per_fix`).  A single pathological mega-trajectory is
the documented limit — split by day upstream, as with stay_points.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geo import haversine_m, haversine_np
from .geometry import _ref_coords

_M_PER_DEG_LAT = 6371008.8 * math.pi / 180.0  # EARTH_RADIUS_M * rad/deg


def way_segments(ways: DataFrame, nodes: DataFrame,
                 way_id: str = "id", node_id: str = "id") -> DataFrame:
    """(way_id, seg_idx, lat1, lon1, lat2, lon2, mid_lat, mid_lon,
    len_m): one row per consecutive nd pair with BOTH endpoints
    resolved.  seg_idx is the 0-based chain position of the segment's
    first node, so (way_id, seg_idx) is a stable segment key."""
    j = _ref_coords(ways, nodes, way_id, node_id)
    agg = j.groupBy("way_id").agg(
        F.array_sort(
            F.collect_list(F.struct("seq", "__lat", "__lon"))
        ).alias("__chain"),
    )
    chain = F.col("__chain")
    idx = F.when(
        F.size(chain) >= 2,
        F.sequence(F.lit(1), F.size(chain) - 1),
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.filter(
        F.transform(
            idx,
            lambda i: F.struct(
                (i - 1).alias("seg_idx"),
                F.element_at(chain, i)["__lat"].alias("lat1"),
                F.element_at(chain, i)["__lon"].alias("lon1"),
                F.element_at(chain, i + 1)["__lat"].alias("lat2"),
                F.element_at(chain, i + 1)["__lon"].alias("lon2"),
            ),
        ),
        lambda s: s["lat1"].isNotNull() & s["lat2"].isNotNull(),
    )
    ex = agg.select("way_id", F.explode(pairs).alias("__s"))
    s = F.col("__s")
    return ex.select(
        "way_id",
        s["seg_idx"].alias("seg_idx"),
        s["lat1"].alias("lat1"), s["lon1"].alias("lon1"),
        s["lat2"].alias("lat2"), s["lon2"].alias("lon2"),
        ((s["lat1"] + s["lat2"]) / 2).alias("mid_lat"),
        ((s["lon1"] + s["lon2"]) / 2).alias("mid_lon"),
        haversine_m(s["lat1"], s["lon1"],
                    s["lat2"], s["lon2"]).alias("len_m"),
    )


def _project_onto_segment(plat, plon, lat1, lon1, kx, dlat, dlon,
                          dx, dy, den):
    """Native clamped projection of point p onto segment (a, b) in the
    local equirectangular chart anchored at the segment's mid latitude.
    Returns (m_lat, m_lon) Columns of the closest segment point.

    Takes the per-SEGMENT chart constants (kx, dlat, dlon, dx, dy, den)
    as pre-materialized columns rather than deriving them inline: the
    filter/projection that consumes (m_lat, m_lon) inlines this tree
    ~8x (m_lat, m_lon, and both haversine references of each, times the
    pushed-down filter's own copy), so every op here multiplies.  With
    the constants inline the candidate filter ran at ~30 us core/row —
    an order of magnitude past native math (the generated method blows
    the JIT compile budget); hoisting them to the 20k-row segment side
    before the cell join brought the same 13.5M-row filter from 13.3 s
    to 1.2 s on the bench grid (identical output)."""
    ky = F.lit(_M_PER_DEG_LAT)
    t_raw = (((plon - lon1) * kx * dx + (plat - lat1) * ky * dy) / den)
    t = F.when(den > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))
               ).otherwise(F.lit(0.0))
    return lat1 + t * dlat, lon1 + t * dlon


def match_candidates(gps: DataFrame, segments: DataFrame,
                     radius_m: float = 50.0,
                     max_seg_len_m: float = 500.0,
                     traj_col: str = "traj_id",
                     ts_col: str = "ts") -> DataFrame:
    """(traj_id, ts, lat, lon, way_id, seg_idx, m_lat, m_lon, dist_m):
    every (GPS fix, way segment) pair with point-to-segment distance
    <= radius_m.  `segments` is `way_segments` output (or any frame
    with its schema)."""
    if float(radius_m) <= 0:
        raise ValueError("radius_m must be positive")
    if float(max_seg_len_m) <= 0:
        raise ValueError("max_seg_len_m must be positive")
    from ..functions.hexgrid import with_hex_cell
    from .radius_join import _with_disk_cells

    # the guard rides inside lat1 — a column the exact filter ALWAYS
    # consumes, so column pruning cannot elide the raise (the first cut
    # hung it on len_m, which nothing downstream reads — pruned away)
    lat1_g = F.when(
        F.col("len_m") > F.lit(float(max_seg_len_m)),
        F.raise_error(F.concat(
            F.lit("match_candidates: segment longer than "
                  f"max_seg_len_m={max_seg_len_m} m at way_id="),
            F.col("way_id").cast("string"),
            F.lit(" seg_idx="), F.col("seg_idx").cast("string"),
            F.lit(" — the midpoint disk cover would under-reach; "
                  "densify the way upstream (simplify_ways keeps "
                  "chains) or raise max_seg_len_m"),
        )).cast("double"),
    ).otherwise(F.col("lat1"))
    # geometry rides THROUGH the disk explode: one equi-join total on the
    # int cell key.  (The first cut ran query_disk_cells on a string
    # "way#seg" key and re-joined the geometry afterwards — the 13.5M-row
    # string-keyed join was 10x the cost of everything else combined.)
    # The chart constants (kx, dlat, dlon, dx, dy, den) are materialized
    # HERE, on the segment side pre-join — see _project_onto_segment for
    # the measured 11x this buys on the post-join filter.  The disk is
    # the plain (unclassified) cover: the classification certifies
    # points against the midpoint, not the segment.
    ky = F.lit(_M_PER_DEG_LAT)
    segd, res = _with_disk_cells(
        segments.select(
            "way_id", "seg_idx", lat1_g.alias("lat1"), "lon1", "lat2",
            "lon2", "mid_lat", "mid_lon",
            (ky * F.cos(F.radians("mid_lat"))).alias("__kx"),
            (F.col("lat2") - F.col("lat1")).alias("__dlat"),
            (F.col("lon2") - F.col("lon1")).alias("__dlon"),
        ),
        "mid_lat", "mid_lon",
        float(radius_m) + float(max_seg_len_m) / 2.0, None, flagged=False)
    segd = segd.select(
        "way_id", "seg_idx", "lat1", "lon1", "lat2", "lon2",
        "__kx", "__dlat", "__dlon", "__pcell",
        (F.col("__dlon") * F.col("__kx")).alias("__dx"),
        (F.col("__dlat") * ky).alias("__dy"),
    ).select(
        "*",
        (F.col("__dx") * F.col("__dx")
         + F.col("__dy") * F.col("__dy")).alias("__den"),
    )
    pts = with_hex_cell(
        gps.select(F.col(traj_col), F.col(ts_col).cast("double").alias(ts_col),
                   "lat", "lon"),
        res, out_col="__pcell",
    )
    cand = segd.join(pts, "__pcell")
    m_lat, m_lon = _project_onto_segment(
        F.col("lat"), F.col("lon"), F.col("lat1"), F.col("lon1"),
        F.col("__kx"), F.col("__dlat"), F.col("__dlon"),
        F.col("__dx"), F.col("__dy"), F.col("__den"))
    dist = haversine_m(F.col("lat"), F.col("lon"), m_lat, m_lon)
    return (
        cand.select(
            traj_col, ts_col, "lat", "lon", "way_id", "seg_idx",
            m_lat.alias("m_lat"), m_lon.alias("m_lon"),
            dist.alias("dist_m"),
        )
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
    )


def map_match(gps: DataFrame, segments: DataFrame,
              radius_m: float = 50.0, sigma_m: float = 4.07,
              beta_m: float = 5.0,
              max_seg_len_m: float = 500.0,
              max_candidates_per_fix: int = 64,
              max_traj_rows: int = 100_000,
              traj_col: str = "traj_id", ts_col: str = "ts") -> DataFrame:
    """(traj_id, ts, lat, lon, way_id, seg_idx, m_lat, m_lon, dist_m):
    ONE row per GPS fix — the Viterbi-optimal segment match, or a NULL
    match (way_id/seg_idx/m_* null) for fixes with no segment within
    radius_m.  sigma_m is the GPS noise sd (N&K estimate 4.07 m);
    beta_m scales the route-discrepancy transition penalty.

    Requires (traj_id, ts) unique: two fixes at the same timestamp have
    no defined order, so duplicates raise rather than silently merge."""
    if float(sigma_m) <= 0 or float(beta_m) <= 0:
        raise ValueError("sigma_m and beta_m must be positive")
    if max_candidates_per_fix < 1:
        raise ValueError("max_candidates_per_fix must be >= 1")
    # every fix enters the Viterbi group as one null-match row beside its
    # candidates: a union has one physical plan, where a fix-side join
    # is planned by AQE stage timing.  A NULL-ts fix has no timestep, so
    # it keeps only its null row and no candidates are made for it.
    cand = match_candidates(
        gps.filter(F.col(ts_col).cast("double").isNotNull()), segments,
        radius_m=radius_m, max_seg_len_m=max_seg_len_m,
        traj_col=traj_col, ts_col=ts_col)
    fixes = gps.select(
        F.col(traj_col), F.col(ts_col).cast("double").alias(ts_col),
        "lat", "lon")
    rows = fixes.unionByName(cand, allowMissingColumns=True)

    id_type = gps.schema[traj_col].dataType
    way_type = segments.schema["way_id"].dataType
    out_schema = T.StructType([
        T.StructField(traj_col, id_type),
        T.StructField(ts_col, T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("way_id", way_type),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("m_lat", T.DoubleType()),
        T.StructField("m_lon", T.DoubleType()),
        T.StructField("dist_m", T.DoubleType()),
    ])
    sig2 = 2.0 * float(sigma_m) ** 2
    beta = float(beta_m)
    mc = int(max_candidates_per_fix)

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_traj_rows:
            raise RuntimeError(
                f"map_match: trajectory with {len(pdf)} fix + candidate "
                "rows "
                f"exceeds max_traj_rows={max_traj_rows}; split the key "
                "upstream (e.g. by day)")
        # deterministic state order inside each timestep
        pdf = pdf.sort_values(
            [ts_col, "way_id", "seg_idx"], kind="mergesort",
            na_position="last")
        tss = pdf[ts_col].to_numpy()
        uts, starts = np.unique(tss, return_index=True)
        bounds = np.append(starts, len(pdf))
        la = pdf["lat"].to_numpy(dtype=np.float64)
        lo = pdf["lon"].to_numpy(dtype=np.float64)
        for i, s in enumerate(starts):  # duplicate-fix guard
            e = bounds[i + 1]
            if (np.abs(la[s:e] - la[s]) > 1e-12).any() or \
                    (np.abs(lo[s:e] - lo[s]) > 1e-12).any():
                raise RuntimeError(
                    f"map_match: duplicate timestamp {uts[i]} with "
                    f"differing coordinates in one trajectory — "
                    "(traj_id, ts) must be unique")
        mla = pdf["m_lat"].to_numpy(dtype=np.float64)
        mlo = pdf["m_lon"].to_numpy(dtype=np.float64)
        d = pdf["dist_m"].to_numpy(dtype=np.float64)
        has = pdf["way_id"].notna().to_numpy()
        nT = len(uts)
        # consecutive-fix great-circle distances, ONE vectorized call per
        # trajectory (a scalar call inside the timestep loop costs ~30 us
        # of numpy dispatch x fixes — measured dominant at 200k fixes)
        fla, flo = la[starts], lo[starts]
        gcs = (haversine_np(fla[:-1], flo[:-1], fla[1:], flo[1:])
               if nT > 1 else np.empty(0))

        # per-timestep candidate index slices ([] where unmatched)
        slices = []
        for i in range(nT):
            s, e = bounds[i], bounds[i + 1]
            ix = np.arange(s, e)[has[s:e]]
            if len(ix) > mc:
                raise RuntimeError(
                    f"map_match: {len(ix)} candidates for one fix exceeds "
                    f"max_candidates_per_fix={mc}; lower radius_m or "
                    "raise the guard")
            slices.append(ix)

        chosen = np.full(nT, -1, dtype=np.int64)
        t = 0
        while t < nT:
            if len(slices[t]) == 0:
                t += 1
                continue
            # chain = maximal run of matched timesteps
            t0 = t
            while t < nT and len(slices[t]) > 0:
                t += 1
            # Viterbi over [t0, t)
            ix = slices[t0]
            score = -(d[ix] ** 2) / sig2
            ptrs = []
            for u in range(t0 + 1, t):
                jx = slices[u]
                gc = gcs[u - 1]
                dm = haversine_np(mla[ix][:, None], mlo[ix][:, None],
                                  mla[jx][None, :], mlo[jx][None, :])
                trans = -np.abs(dm - gc) / beta
                tot = score[:, None] + trans
                ptr = np.argmax(tot, axis=0)
                ptrs.append(ptr)
                score = tot[ptr, np.arange(len(jx))] \
                    - (d[jx] ** 2) / sig2
                ix = jx
            # backtrack
            best = int(np.argmax(score))
            for u in range(t - 1, t0, -1):
                chosen[u] = slices[u][best]
                best = int(ptrs[u - t0 - 1][best])
            chosen[t0] = slices[t0][best]

        out = {
            traj_col: [pdf[traj_col].iloc[0]] * nT,
            ts_col: uts,
            "lat": la[starts], "lon": lo[starts],
            "way_id": [
                pdf["way_id"].iloc[int(c)] if c >= 0 else None
                for c in chosen],
            "seg_idx": [
                int(pdf["seg_idx"].iloc[int(c)]) if c >= 0 else None
                for c in chosen],
            "m_lat": np.where(chosen >= 0, mla[np.maximum(chosen, 0)],
                              np.nan),
            "m_lon": np.where(chosen >= 0, mlo[np.maximum(chosen, 0)],
                              np.nan),
            "dist_m": np.where(chosen >= 0, d[np.maximum(chosen, 0)],
                               np.nan),
        }
        o = pd.DataFrame(out)
        o.loc[chosen < 0, ["m_lat", "m_lon", "dist_m"]] = None
        return o

    return rows.groupBy(traj_col).applyInPandas(viterbi, out_schema)
