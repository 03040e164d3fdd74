"""Trajectory operators — stay-point (dwell) detection, route
similarity, per-fix kinematics (dt/dist/speed/bearing), and
isolated-jump despiking.

Stay points follow Li et al. (2008), "Mining user similarity based on
location history": scan a time-ordered trajectory; from an anchor point,
extend while every later point stays within `dist` of the ANCHOR; if the
covered time span reaches `min_stay_s`, the covered points collapse to
one stay point (their mean position and time interval) and the scan
resumes AFTER them, else the anchor advances one point.  The algorithm
is inherently sequential within a trajectory — exactly the case the
engine's conventions route through one `applyInPandas` per key: the
shuffle key is the trajectory id, per-task state is one trajectory
(loud `max_traj_rows` guard, never a silent spill), and the inner scan
is vectorized numpy (per-anchor distance slice + argmax, no python
per-point loop).

Determinism: points sort by (ts, lat, lon) inside the group, so equal
timestamps cannot make output depend on shuffle arrival order.  The
anchor rule itself is the paper's (distance to the anchor, not to the
running centroid); `t_end - t_start >= min_stay_s` is inclusive.

Scale shape at 10^9 trajectories: one exchange on traj_id, then
embarrassingly parallel; a single pathological mega-trajectory is the
documented limit (the as-of range-merge note applies — split by day
upstream if one key must exceed the guard).
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.geo import haversine_np


def stay_points(
    traj: DataFrame,
    dist: float,
    min_stay_s: float,
    traj_col: str = "traj_id",
    ts_col: str = "ts",
    metric: str = "haversine",
    max_traj_rows: int = 2_000_000,
) -> DataFrame:
    """(traj_id, sp_lat, sp_lon, t_start, t_end, n_points) dwell rows.

    `dist` is meters for metric='haversine', degrees (euclidean on the
    lat/lon plane, the sq_deg convention) for 'sq_deg'.  `ts` may be a
    timestamp or numeric seconds — both compare and return as epoch-
    second doubles.  Boundaries are inclusive on both (<= dist,
    >= min_stay_s)."""
    if metric not in ("haversine", "sq_deg"):
        raise ValueError(f"unknown metric {metric!r}")
    if float(dist) <= 0:
        raise ValueError("dist must be positive")
    id_field = traj.schema[traj_col]
    out_schema = T.StructType([
        T.StructField(traj_col, id_field.dataType),
        T.StructField("sp_lat", T.DoubleType()),
        T.StructField("sp_lon", T.DoubleType()),
        T.StructField("t_start", T.DoubleType()),
        T.StructField("t_end", T.DoubleType()),
        T.StructField("n_points", T.IntegerType()),
    ])
    d = float(dist)
    min_stay = float(min_stay_s)
    use_haversine = metric == "haversine"

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_traj_rows:
            raise RuntimeError(
                f"stay_points: trajectory of {n} rows exceeds "
                f"max_traj_rows={max_traj_rows}; split the key upstream "
                "(e.g. by day) — one trajectory is one task's state"
            )
        pdf = pdf.sort_values([ts_col, "lat", "lon"], kind="mergesort")
        lat = pdf["lat"].to_numpy(dtype=np.float64)
        lon = pdf["lon"].to_numpy(dtype=np.float64)
        ts = pdf[ts_col].to_numpy(dtype=np.float64)
        out = []
        i = 0
        while i < n:
            if use_haversine:
                far = haversine_np(lat[i], lon[i],
                                   lat[i + 1:], lon[i + 1:]) > d
            else:
                far = np.hypot(lat[i + 1:] - lat[i],
                               lon[i + 1:] - lon[i]) > d
            k = int(np.argmax(far)) if far.any() else len(far)
            j = i + 1 + k          # first index OUTSIDE the disk (or n)
            if ts[j - 1] - ts[i] >= min_stay:
                out.append((
                    pdf[traj_col].iloc[0],
                    float(lat[i:j].mean()), float(lon[i:j].mean()),
                    float(ts[i]), float(ts[j - 1]), int(j - i),
                ))
                i = j
            else:
                i += 1
        return pd.DataFrame(
            out, columns=[traj_col, "sp_lat", "sp_lon",
                          "t_start", "t_end", "n_points"],
        ) if out else pd.DataFrame(
            {traj_col: pdf[traj_col].iloc[:0], "sp_lat": [], "sp_lon": [],
             "t_start": [], "t_end": [], "n_points": np.array([], "int32")}
        )

    prepared = traj.select(
        traj_col, F.col(ts_col).cast("double").alias(ts_col), "lat", "lon"
    )
    return prepared.groupBy(traj_col).applyInPandas(detect, out_schema)


# --- route similarity -------------------------------------------------------


def route_cell_text(traj: DataFrame, res: int = 9,
                    traj_col: str = "traj_id", ts_col: str = "ts",
                    lat: str = "lat", lon: str = "lon") -> DataFrame:
    """(traj_id, text): each trajectory's time-ordered hex-cell token
    string, consecutive duplicate cells collapsed (dwell-invariance — a
    10-minute stop contributes ONE token, so similarity measures the
    ROUTE, not the schedule).  Cell assignment is the engine's native
    hex encode; the per-trajectory fold is sort_array over
    (ts, lat, lon, cell) structs + a shifted zip_with dedup — one shuffle
    on traj_id, zero Python.

    The output schema is exactly the text-dedup stack's input contract:
    feed it straight to `dedup.verified_near_dup_pairs` (which
    `route_near_dup_pairs` does)."""
    from ..functions.hexgrid import with_hex_cell

    pts = with_hex_cell(
        traj.select(F.col(traj_col), F.col(ts_col).cast("double").alias("__t"),
                    F.col(lat).alias("lat"), F.col(lon).alias("lon")),
        res, out_col="__cell")
    # (ts, lat, lon) in the sort struct pins equal-timestamp order — the
    # stay_points determinism convention
    agg = pts.groupBy(traj_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                F.col("__t"), F.col("lat"), F.col("lon"),
                F.col("__cell").cast("string").alias("c")))),
            lambda s: s["c"],
        ).alias("__cells"))
    cells = F.col("__cells")
    shifted = F.concat(F.array(F.lit(None).cast("string")),
                       F.slice(cells, 1, F.size(cells) - 1))
    deduped = F.filter(
        F.zip_with(cells, shifted,
                   lambda a, b: F.when(b.isNull() | (a != b), a)),
        lambda x: x.isNotNull())
    return agg.select(traj_col, F.concat_ws(" ", deduped).alias("text"))


def route_near_dup_pairs(traj: DataFrame, jaccard_threshold: float = 0.5,
                         res: int = 9, shingle_n: int = 2,
                         traj_col: str = "traj_id", ts_col: str = "ts",
                         lat: str = "lat", lon: str = "lon",
                         **dedup_kwargs) -> DataFrame:
    """Near-duplicate ROUTES (a, b, jaccard) — the cross-tier
    composition: trajectories become cell-token documents
    (`route_cell_text`), then the text near-dup stack does what it
    already does at corpus scale (MinHash-LSH candidates, exact n-gram
    Jaccard verified ONLY on candidate pairs).  shingle_n-grams of
    consecutive cells make the measure order-sensitive: the same cells
    walked in reverse share unigrams but not bigrams."""
    from .dedup import verified_near_dup_pairs

    txt = route_cell_text(traj, res=res, traj_col=traj_col,
                          ts_col=ts_col, lat=lat, lon=lon)
    return verified_near_dup_pairs(
        txt, jaccard_threshold=jaccard_threshold, shingle_n=shingle_n,
        id_col=traj_col, **dedup_kwargs)


def hausdorff_pairs(traj: DataFrame, pairs: DataFrame,
                    metric: str = "haversine",
                    traj_col: str = "traj_id",
                    lat: str = "lat", lon: str = "lon",
                    max_traj_rows: int = 100_000) -> DataFrame:
    """(a, b, hausdorff): symmetric Hausdorff distance (max over both
    directed max-min point distances; meters for 'haversine', degrees
    for 'sq_deg') for each CANDIDATE pair — the geometric verifier to
    run after `route_near_dup_pairs`' cell-level gate, never all-pairs.

    Kernel shape: trajectories fold to coordinate arrays once (loud
    `max_traj_rows` guard), pairs join both arrays, and one Arrow batch
    kernel computes the full n x m distance matrix per pair in numpy.
    The per-pair python iteration is deliberate and UNLIKE the round-4
    overlay anti-pattern: each iteration is an O(n*m) vectorized matrix
    evaluation (thousands of flops), so the python loop overhead is
    noise — the overlay lesson applies when per-pair work is a few
    comparisons, not a GEMM-shaped block."""
    if metric not in ("haversine", "sq_deg"):
        raise ValueError(f"unknown metric {metric!r}")
    use_hav = metric == "haversine"
    arrs = traj.groupBy(traj_col).agg(
        F.collect_list(F.col(lat).cast("double")).alias("__lats"),
        F.collect_list(F.col(lon).cast("double")).alias("__lons"))
    arrs = arrs.withColumn(
        "__n", F.size("__lats")
    ).withColumn(
        "__lats",
        F.when(F.col("__n") > max_traj_rows, F.raise_error(F.concat(
            F.lit(f"hausdorff_pairs: trajectory exceeds max_traj_rows="
                  f"{max_traj_rows} at {traj_col}="),
            F.col(traj_col).cast("string")))).otherwise(F.col("__lats")),
    ).drop("__n")
    la = arrs.select(F.col(traj_col).alias("a"),
                     F.col("__lats").alias("__la_a"),
                     F.col("__lons").alias("__lo_a"))
    lb = arrs.select(F.col(traj_col).alias("b"),
                     F.col("__lats").alias("__la_b"),
                     F.col("__lons").alias("__lo_b"))
    joined = pairs.select("a", "b").join(la, "a").join(lb, "b")

    out_schema = T.StructType([
        T.StructField("a", joined.schema["a"].dataType),
        T.StructField("b", joined.schema["b"].dataType),
        T.StructField("hausdorff", T.DoubleType()),
    ])

    def kernel(it):
        for pdf in it:
            res_h = np.empty(len(pdf))
            for i in range(len(pdf)):
                xa = np.asarray(pdf["__la_a"].iloc[i])
                ya = np.asarray(pdf["__lo_a"].iloc[i])
                xb = np.asarray(pdf["__la_b"].iloc[i])
                yb = np.asarray(pdf["__lo_b"].iloc[i])
                if use_hav:
                    dm = haversine_np(xa[:, None], ya[:, None],
                                      xb[None, :], yb[None, :])
                else:
                    dm = np.sqrt((xa[:, None] - xb[None, :]) ** 2
                                 + (ya[:, None] - yb[None, :]) ** 2)
                res_h[i] = max(dm.min(axis=1).max(), dm.min(axis=0).max())
            yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"],
                                "hausdorff": res_h})

    return joined.mapInPandas(kernel, out_schema)


# --- kinematics + despiking --------------------------------------------------


_KIN_COLS = ("seq", "dt_s", "dist", "speed", "bearing_deg")


def _pair_dist(plat, plon, lat, lon, metric):
    from ..functions.geo import haversine_m

    if metric == "haversine":
        return haversine_m(plat, plon, lat, lon)
    dla, dlo = lat - plat, lon - plon
    return F.sqrt(dla * dla + dlo * dlo)


def traj_kinematics(traj: DataFrame, traj_col: str = "traj_id",
                    ts_col: str = "ts",
                    metric: str = "haversine") -> DataFrame:
    """All input columns + (seq, dt_s, dist, speed, bearing_deg): per-fix
    motion derivatives from the previous fix of the same trajectory —
    the enrichment pass that usually precedes map matching, stay-point
    mining, or speed-based quality filtering.

    Units: metric='haversine' -> dist meters, speed m/s, bearing the
    initial great-circle course; metric='sq_deg' -> dist degrees
    (euclidean on the raw lat/lon plane, the engine's sq_deg
    convention), speed deg/s, bearing planar atan2(dlon, dlat).  The
    sq_deg path uses only +,-,*,/ and IEEE sqrt, so its dist/speed are
    bit-reproducible across engines — the property the driver oracle
    row leans on.

    Contract: seq is the 0-based position in (ts, lat, lon) order (the
    stay_points determinism convention — equal timestamps cannot leak
    shuffle order); the first fix of a trajectory has NULL
    dt_s/dist/speed/bearing_deg; a duplicate timestamp yields dt_s = 0
    and NULL speed (never an infinity); zero displacement yields
    bearing 0.0 (the atan2(0, 0) convention, documented rather than
    NULL so a stationary fix keeps its row shape).  `ts` may be a
    timestamp or numeric seconds, as everywhere in the trajectory
    family.

    Plan shape: ONE exchange (hash by trajectory) feeding one Window,
    then pure codegen arithmetic on the lag attributes — the lag
    columns are materialized window outputs, so the haversine/bearing
    trees reference cheap leaves, never re-inline the window (the
    mapmatch JIT-budget lesson).  Scale: embarrassingly parallel after
    the one exchange; a single mega-trajectory is the documented skew
    limit (split by day upstream)."""
    if metric not in ("haversine", "sq_deg"):
        raise ValueError(f"unknown metric {metric!r}")
    clash = set(_KIN_COLS) & set(traj.columns)
    if clash:
        raise ValueError(
            f"traj_kinematics: input already has {sorted(clash)} — rename "
            "or drop them upstream; the derived columns would collide")
    from pyspark.sql import Window

    base = traj.withColumn("__ts", F.col(ts_col).cast("double"))
    w = Window.partitionBy(traj_col).orderBy("__ts", "lat", "lon")
    lagged = base.select(
        "*",
        F.row_number().over(w).alias("__rn"),
        F.lag("lat").over(w).alias("__plat"),
        F.lag("lon").over(w).alias("__plon"),
        F.lag("__ts").over(w).alias("__pts"),
    )
    plat, plon = F.col("__plat"), F.col("__plon")
    lat, lon = F.col("lat"), F.col("lon")
    dt = F.col("__ts") - F.col("__pts")
    dist = _pair_dist(plat, plon, lat, lon, metric)
    if metric == "haversine":
        dlon_r = F.radians(lon - plon)
        y = F.sin(dlon_r) * F.cos(F.radians(lat))
        x = (F.cos(F.radians(plat)) * F.sin(F.radians(lat))
             - F.sin(F.radians(plat)) * F.cos(F.radians(lat))
             * F.cos(dlon_r))
        bearing = F.pmod(F.degrees(F.atan2(y, x)), F.lit(360.0))
    else:
        bearing = F.pmod(F.degrees(F.atan2(lon - plon, lat - plat)),
                         F.lit(360.0))
    return lagged.select(
        *traj.columns,
        (F.col("__rn") - 1).alias("seq"),
        dt.alias("dt_s"),
        dist.alias("dist"),
        F.when(dt > 0, dist / dt).alias("speed"),
        bearing.alias("bearing_deg"),
    )


def split_trips(
    traj: DataFrame,
    gap_s: float = 300.0,
    traj_col: str = "traj_id",
    ts_col: str = "ts",
    out_col: str = "trip_seq",
) -> DataFrame:
    """All input columns + `out_col` (int): the 0-based trip index within
    each trajectory — a new trip starts at every fix whose time gap from
    the previous fix EXCEEDS gap_s seconds.  The gap segmentation that
    precedes od_matrix / stay-point / kinematics analyses when one
    device's stream spans many journeys.

    Contract: fixes order by (ts, lat, lon) — the trajectory family's
    determinism convention (equal timestamps cannot leak shuffle order);
    the first fix of a trajectory is trip 0; a duplicate timestamp (gap
    0) never starts a trip; `ts` may be a timestamp or numeric seconds
    as everywhere in the family; gap_s <= 0 raises (every fix would
    start a trip).  SQL-expressible: lag + running SUM over the same
    window (the pytest oracle runs it in DuckDB).

    Plan shape: ONE exchange (hash by trajectory); the lag and the
    running sum share the window's (partition, order), so the second
    projection reuses the first's sort — no re-exchange, pure codegen.
    Scale: same contract as traj_kinematics (a single mega-trajectory is
    the documented skew limit; split by day upstream)."""
    if gap_s <= 0:
        raise ValueError(f"gap_s must be > 0, got {gap_s}")
    if out_col in traj.columns:
        raise ValueError(
            f"split_trips: input already has {out_col!r} — rename or drop "
            "it upstream, or pass a different out_col")
    internal = {"__ts", "__dt"} & set(traj.columns)
    if internal:
        raise ValueError(
            f"split_trips: column(s) {sorted(internal)} collide with "
            "internal helper names — rename them first")
    from pyspark.sql import Window

    base = traj.withColumn("__ts", F.col(ts_col).cast("double"))
    w = Window.partitionBy(traj_col).orderBy("__ts", "lat", "lon")
    lagged = base.select(
        "*", (F.col("__ts") - F.lag("__ts").over(w)).alias("__dt"))
    run = Window.partitionBy(traj_col).orderBy("__ts", "lat", "lon") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return lagged.select(
        *traj.columns,
        F.sum(
            F.when(F.col("__dt") > F.lit(float(gap_s)), 1).otherwise(0)
        ).over(run).cast("int").alias(out_col),
    )


def spike_flags(traj: DataFrame, max_speed: float,
                traj_col: str = "traj_id", ts_col: str = "ts",
                metric: str = "haversine") -> DataFrame:
    """All input columns + is_spike: TRUE for an ISOLATED GPS jump — a
    fix whose implied speed from the previous fix AND to the next fix
    both exceed `max_speed`, while the previous fix could have reached
    the next one directly within `max_speed` (so the neighbors agree
    with each other and disagree with this fix).  The three-way test is
    what keeps genuine fast segments: a vehicle actually moving at
    highway speed fails the third clause (its neighbors are far apart
    too), so only the teleporting outlier is flagged.

    NULL-safe by construction: trajectory edges (no prev or no next)
    and unattributable cases (a zero dt on either side makes that
    side's speed NULL) are never spikes.  `max_speed` is m/s for
    metric='haversine', deg/s for 'sq_deg'.  Same one-exchange window
    shape as `traj_kinematics`; lag/lead attributes keep the distance
    trees on leaves."""
    if metric not in ("haversine", "sq_deg"):
        raise ValueError(f"unknown metric {metric!r}")
    if float(max_speed) <= 0:
        raise ValueError("max_speed must be positive")
    if "is_spike" in traj.columns:
        raise ValueError("traj already has an is_spike column")
    from pyspark.sql import Window

    base = traj.withColumn("__ts", F.col(ts_col).cast("double"))
    w = Window.partitionBy(traj_col).orderBy("__ts", "lat", "lon")
    lagged = base.select(
        "*",
        F.lag("lat").over(w).alias("__plat"),
        F.lag("lon").over(w).alias("__plon"),
        F.lag("__ts").over(w).alias("__pts"),
        F.lead("lat").over(w).alias("__nlat"),
        F.lead("lon").over(w).alias("__nlon"),
        F.lead("__ts").over(w).alias("__nts"),
    )
    lat, lon, ts = F.col("lat"), F.col("lon"), F.col("__ts")
    plat, plon, pts = F.col("__plat"), F.col("__plon"), F.col("__pts")
    nlat, nlon, nts = F.col("__nlat"), F.col("__nlon"), F.col("__nts")
    vmax = F.lit(float(max_speed))

    def v(alat, alon, blat, blon, adt):
        return F.when(adt > 0,
                      _pair_dist(alat, alon, blat, blon, metric) / adt)

    v_in = v(plat, plon, lat, lon, ts - pts)
    v_out = v(lat, lon, nlat, nlon, nts - ts)
    v_skip = v(plat, plon, nlat, nlon, nts - pts)
    spike = (F.coalesce(v_in > vmax, F.lit(False))
             & F.coalesce(v_out > vmax, F.lit(False))
             & F.coalesce(v_skip <= vmax, F.lit(False)))
    return lagged.select(*traj.columns, spike.alias("is_spike"))


def despike(traj: DataFrame, max_speed: float,
            traj_col: str = "traj_id", ts_col: str = "ts",
            metric: str = "haversine") -> DataFrame:
    """The input minus isolated GPS jumps (see `spike_flags`) — the
    standard cleaning pass before map matching or kinematics.  Single
    pass: one window, one filter; column set unchanged."""
    flagged = spike_flags(traj, max_speed, traj_col=traj_col,
                          ts_col=ts_col, metric=metric)
    return flagged.where(~F.col("is_spike")).drop("is_spike")


def od_matrix(traj: DataFrame, res: int = 8,
              traj_col: str = "traj_id", ts_col: str = "ts",
              lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Origin-destination flow matrix: (origin_cell, dest_cell, n_trips)
    — each trajectory contributes ONE trip from the hex cell of its first
    fix to the cell of its last.

    The per-trajectory endpoints come from ONE aggregate of
    min/max(struct(ts, lat, lon)) — the struct ordering is the engine's
    trajectory determinism convention (equal timestamps tie-break on
    coordinates, never on shuffle arrival) — followed by native cell
    assignment on the four endpoint coordinates and one final group-count:
    two map-side-combinable exchanges total, zero Python, no window.
    NULL-timestamp fixes are excluded (the sessionize convention: Spark's
    nulls-first ordering would otherwise elect every NULL fix as an
    origin); a trajectory with a single fix maps to its diagonal cell
    pair, which is real information (a stationary trip), not an error."""
    from ..functions import hexgrid

    ends = traj.filter(F.col(ts_col).isNotNull()).groupBy(
        F.col(traj_col).alias("traj_id")
    ).agg(
        F.min(F.struct(F.col(ts_col).alias("ts"),
                       F.col(lat).alias("lat"),
                       F.col(lon).alias("lon"))).alias("o"),
        F.max(F.struct(F.col(ts_col).alias("ts"),
                       F.col(lat).alias("lat"),
                       F.col(lon).alias("lon"))).alias("d"),
    ).select(
        F.col("o.lat").alias("olat"), F.col("o.lon").alias("olon"),
        F.col("d.lat").alias("dlat"), F.col("d.lon").alias("dlon"),
    )
    ends = hexgrid.with_hex_cell(ends, res, lat="olat", lon="olon",
                                 out_col="origin_cell")
    ends = hexgrid.with_hex_cell(ends, res, lat="dlat", lon="dlon",
                                 out_col="dest_cell")
    return ends.groupBy("origin_cell", "dest_cell").agg(
        F.count(F.lit(1)).alias("n_trips"))
