"""B5 — exact kNN: one map-side top-k pass for small batches, hex k-ring
expansion for large ones (SURVEY §2.2).

`knn_kring` picks the path from the candidate-pair count
n_queries * n_points against `BRUTE_COST_CAP` (1e9):

  * at or below the cap (and with at most MAP_QUERIES queries), the
    MAP-SIDE path answers the batch in one pass with no search rounds
    (Distributed Stream KNN Join, SIGMOD 2021: ship the small query side
    to the data partitions, merge the local top-k once).  The dispatch
    fetches the query batch to the driver; the arrays ride in the
    closure of ONE mapInArrow over the points' own partitions, so the
    points are never shuffled.  Each Arrow batch keeps every query's
    local top-k with block numpy (unit-sphere dot products through BLAS
    for haversine, squared degrees for sq_deg) and a running threshold
    carried across the partition's batches.  Every candidate within a
    float-error margin of the local k-th is kept, so the kept set
    provably contains the global top-k; Spark then computes `dist` with
    the same expression `knn_bruteforce` uses and ranks by (dist,
    point_id), so the output is bit-identical to the oracle.  Measured
    on the 144k-node neighbors benchmark snapshot (4 vCPUs): ~0.55 s, 5
    Spark jobs and 0.4 MB of shuffle per 500-query batch.  Its cost
    grows with the pair count, the ring loop's mostly with n_points.
    Measured crossover against the ring loop (same box, warm calls, min
    of 2, hash-sampled queries; map-side s / ring s): on 2.4M points
    (bench.py's sf0.1 nodes) 3.8e8 pairs 1.5/2.6, 7.7e8 1.9/2.5, 1.5e9
    2.7/2.6, so near 1.3e9; on 144k points the map-side path still wins
    at 2.3e9 (2.9/8.1).  The cap sits below the lower crossover.
  * above the cap, the k-ring loop below runs: its per-query marginal
    cost (~0.3 ms at 100k queries) beats scanning every point for every
    query.

Ring path.  Queries are a DataFrame end to end: candidate cells are
generated by an Arrow pandas UDF ON the queries DataFrame, active/done
state lives in (local-checkpointed) DataFrames, and the only per-round
driver values are two scalars (active count, candidate-row estimate).
There is no query-count cap.
  * occupancy-adaptive prefilter resolution — under hot-city skew a coarse
    cell holds thousands of points and sits in thousands of co-located
    queries' rings, degenerating the candidate join into a local
    all-pairs; the grid is refined until the hottest cell holds O(k)
    points.  The refine decision reads the EXACT max of a base-res count
    pass (the same pass that feeds the density estimate), and the
    fine-res table is assigned exactly once.
  * per-query start rings from local density — ring-1 occupancy is
    estimated from the query's base-res cell count scaled by 7^-steps
    (one broadcast map join), then a uniform-density solve for the ring
    holding >= 2k points; a bad estimate costs one doubling round, never
    correctness.
  * queries whose PRE-snap ring estimate exceeds BRUTE_RING_CAP skip the
    join loop entirely and go straight to the single-pass brute fallback.

Termination guarantee (ring path): a query is done when its k-th
candidate distance <= the uv-exact coverage claim of its current ring
(`hexgrid.claim_m` — what kring(r) provably covers, exact at face edges),
or when the points table is exhausted.  The candidate rings are
SEAM-EXACT: `hexgrid.kring_spill` adds re-projected anchor rings on every
cube face the home ring spills onto, so the bound holds for points across
a face seam as well; the claim is clamped to hexgrid.MAX_COVER_M (the
ring bound's validity cap), which at worst delays doneness to the brute
fallback, never correctness.

`knn_bruteforce` is the O(P*Q) reference path (crossJoin + window) — the
oracle the tests compare both paths against.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions import hexgrid
from ..functions.geo import haversine_m, latlon_to_xyz, sq_deg_dist

# a query whose ESTIMATED ring exceeds this is cheaper as one brute-force
# pass than as a join against thousands of candidate cells
BRUTE_RING_CAP = 32
# broadcast the candidate (query x ring-cell) side while its estimated row
# count stays under this; beyond it, let the shuffle join handle it
BROADCAST_CAND_ROWS = 4_000_000
# n_queries * n_points at or below this runs the map-side path, above it
# the k-ring loop (below the measured crossover, see the module docstring)
BRUTE_COST_CAP = 1e9
# the map-side path ships at most this many queries in its UDF closure
# (~3 MB pickled); a larger batch runs the k-ring loop
MAP_QUERIES = 100_000
# float64 elements of one (query chunk x point chunk) score block (32 MB)
_BLOCK = 1 << 22
# (absolute, relative) widening of each query's local k-th score.  Scores
# differ from Spark's `dist` ordering by float error only: for haversine
# the chord^2 estimate 2 - 2<q,p> carries <~1e-14 absolute error (unit
# vectors off by a few ulp, a 3-term dot rounded near 1) and Spark's
# haversine argument a few ulp more; sq_deg is the same arithmetic as
# `sq_deg_dist`.  Keeping everything within the margin of the k-th is
# what makes the kept set a superset of the exact top-k.
_TIE_MARGIN = {"haversine": (1e-13, 1e-12), "sq_deg": (0.0, 1e-12)}


def _dist_col(metric: str, qlat, qlon, plat, plon):
    if metric == "haversine":
        return haversine_m(qlat, qlon, plat, plon)
    if metric == "sq_deg":
        return sq_deg_dist(qlat, qlon, plat, plon)
    raise ValueError(metric)


def _rank_top_k(pairs: DataFrame, k: int, metric: str) -> DataFrame:
    """(query, point) pairs -> `dist` plus `rank` <= k per query, ordered
    by (dist, point_id): the one ordering every kNN path answers with."""
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("point_id"))
    return (
        pairs.withColumn("dist", _dist_col(metric, F.col("qlat"),
                                           F.col("qlon"), F.col("plat"),
                                           F.col("plon")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "haversine",
    point_id: str = "id",
) -> DataFrame:
    """(query_id, rank, point_id, dist) — exact top-k by crossJoin.

    The broadcast side is the queries; the points side streams through one
    pass; ranking is a window partitioned by query (TakeOrdered per group).
    Ties break on point id for determinism."""
    q = queries.select(
        F.col("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
    )
    return _rank_top_k(p.crossJoin(F.broadcast(q)), k, metric).select(
        "query_id", "rank", "point_id", "dist")


def _bucket_candidates(qlat, qlon, plat, plon, k: int, metric: str,
                       thr=None):
    """(query index, point index) arrays: for each query, every point whose
    score is within `_TIE_MARGIN` of the query's k-th best score (all
    points when there are at most k).

    Works in blocks of queries x points.  The k-th best of any block is an
    upper bound on the k-th best overall, so a running minimum of block
    k-ths is a safe threshold: a block keeps at most ~k points per query
    plus ties, and every point of the exact top-k is kept.  `thr` (one
    float64 per query) carries that running minimum across calls on
    successive point batches of the same queries; it is tightened in
    place.

    A block's k-th is found without partitioning the whole block: the
    k-th over every stride-th column (>= k columns) bounds it from above,
    so the points under that bound (widened) include every point at or
    below the block's k-th, and the exact k-th is the k-th smallest of
    those few survivors."""
    nq, npt = len(qlat), len(plat)
    if thr is None:
        thr = np.full(nq, np.inf)
    if not nq or not npt:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if metric == "haversine":
        qv = np.stack(latlon_to_xyz(qlat, qlon), axis=1)
        pv = np.stack(latlon_to_xyz(plat, plon))

        def score(qs, ps):
            s = qv[qs] @ pv[:, ps]  # chord^2 = 2 - 2<q,p> on the unit sphere
            s *= -2.0
            s += 2.0
            return s
    else:
        def score(qs, ps):
            return ((qlat[qs, None] - plat[ps]) ** 2
                    + (qlon[qs, None] - plon[ps]) ** 2)
    abs_m, rel_m = _TIE_MARGIN[metric]

    def widen(t):
        return t + abs_m + rel_m * np.abs(t)

    pc = min(npt, _BLOCK)
    qc = max(1, _BLOCK // pc)
    out_q, out_p = [], []
    for q0 in range(0, nq, qc):
        qs = slice(q0, min(nq, q0 + qc))
        t = thr[qs]
        for p0 in range(0, npt, pc):
            s = score(qs, slice(p0, min(npt, p0 + pc)))
            if s.shape[1] > k:
                stride = max(1, math.isqrt(s.shape[1] // k))
                sub = np.partition(s[:, ::stride], k - 1, axis=1)[:, k - 1]
                i, j = np.nonzero(s <= widen(np.minimum(t, sub))[:, None])
                v = s[i, j]
                # survivors are a sorted-order prefix of each row: when a
                # row has >= k of them, its k-th is the block's k-th
                n_row = np.bincount(i, minlength=len(t))
                full = n_row >= k
                kth = np.full(len(t), np.inf)
                kth[full] = v[np.lexsort((v, i))][
                    (np.cumsum(n_row) - n_row)[full] + k - 1]
                t = np.minimum(t, kth)
                keep = v <= widen(t)[i]
                i, j = i[keep], j[keep]
            else:
                i, j = np.nonzero(s <= widen(t)[:, None])
            out_q.append(i + q0)
            out_p.append(j + p0)
        thr[qs] = t
    return np.concatenate(out_q), np.concatenate(out_p)


def _knn_map_side(
    points: DataFrame,
    qt: pa.Table,
    qid_type,
    k: int,
    metric: str,
    point_id: str,
) -> DataFrame:
    """The no-rounds exact path: the fetched query batch `qt` (query_id,
    lat, lon) rides in the closure of ONE mapInArrow over the points'
    own partitions; each partition keeps every query's local top-k
    candidates, then the oracle's dist + rank merges them."""
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )
    n_par = points.sparkSession.sparkContext.defaultParallelism
    if p.rdd.getNumPartitions() < n_par:
        p = p.repartition(n_par)
    qid = qt.column(0).combine_chunks()
    qlat = qt.column(1).to_numpy()
    qlon = qt.column(2).to_numpy()
    out_schema = StructType([
        StructField("query_id", qid_type),
        StructField("qlat", DoubleType()),
        StructField("qlon", DoubleType()),
        StructField("point_id", p.schema[0].dataType),
        StructField("plat", DoubleType()),
        StructField("plon", DoubleType()),
    ])

    def local_top_k(batches):
        thr = np.full(len(qlat), np.inf)
        for b in batches:
            plat = b.column(1).to_numpy(zero_copy_only=False)
            plon = b.column(2).to_numpy(zero_copy_only=False)
            # null coordinates never rank (the ring path drops them too)
            ok = np.flatnonzero(np.isfinite(plat) & np.isfinite(plon))
            plat, plon = plat[ok], plon[ok]
            i, j = _bucket_candidates(qlat, qlon, plat, plon, k, metric, thr)
            if len(i):
                yield pa.RecordBatch.from_arrays(
                    [qid.take(i), pa.array(qlat[i]), pa.array(qlon[i]),
                     b.column(0).take(ok[j]), pa.array(plat[j]),
                     pa.array(plon[j])],
                    names=out_schema.names)

    cand = p.mapInArrow(local_top_k, out_schema)
    return _rank_top_k(cand, k, metric).select(
        "query_id", "rank", "point_id", "dist")


def occupancy_res(
    points: DataFrame,
    res: int = 8,
    k: int = 10,
    point_id: str = "id",
    lat: str = "lat",
    lon: str = "lon",
    probe_mod: int = 16,
) -> int:
    """The resolution the occupancy-adaptive prefilter picks: refine from
    `res` until the hottest cell holds O(k) points (estimated on a
    1/probe_mod hash-sample; the driver sees ONE max-occupancy scalar).

    Public because the STORAGE LAYOUT must use the same rule: a
    cell-bucketed table written at a coarser res than the data density
    demands turns every kNN ring join into a hot-cell scan (measured:
    res 8 on the dense bench city holds 3*10^5 points in one cell — the
    pinned-layout path wedged on it; res 12, which this rule picks, holds
    ~10^2).  `knn_kring`'s self-assigning path applies the same refine
    formula, but from the EXACT base-res cell counts it now builds anyway
    (round 6) rather than this sampled probe."""
    target_occ = max(32, 2 * k)
    pts = hexgrid.with_hex_cell(
        points.select(F.col(point_id).alias("__pid"),
                      F.col(lat).alias("__lat"), F.col(lon).alias("__lon")),
        res, lat="__lat", lon="__lon", out_col="__cell",
    )
    probe_max = (
        pts.filter(F.pmod(F.xxhash64("__pid"), F.lit(probe_mod)) == 0)
        .groupBy("__cell").agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt")).collect()[0][0] or 0
    )
    max_occ_est = probe_max * probe_mod
    if max_occ_est > 4 * target_occ:
        steps = min(int(math.ceil(math.log(max_occ_est / target_occ, 7))),
                    15 - res)
        res = res + max(steps, 0)
    return res


def _check_cell_res(points: DataFrame, points_cell_col: str, res: int):
    """Raise when a pinned layout cell column was assigned at a resolution
    other than `res`: such a column would match nothing in every candidate
    join round and silently degrade ALL queries to the O(P*Q) brute-force
    fallback.  The check reads the res BITS packed into one sampled cell
    id (exact — zero false positives), NOT a fresh lat/lon assignment:
    JVM and numpy trig can differ by 1 ulp on cell boundaries, so
    re-assignment could reject a perfectly valid layout."""
    probe = points.select(points_cell_col).first()
    if probe is None:
        return
    got_res = int(hexgrid.unpack(
        np.array([int(probe[points_cell_col])], dtype=np.int64)
    )[0][0])
    if got_res != res:
        raise ValueError(
            f"points_cell_col '{points_cell_col}' carries res="
            f"{got_res} cells, but this query runs at res={res}; "
            f"was the layout written at a different resolution?"
        )


def knn_kring(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 8,
    metric: str = "haversine",
    point_id: str = "id",
    start_ring: int = 1,
    max_rounds: int = 14,
    max_ring: int = 64,
    points_cell_col: str | None = None,
    brute_cost_cap: float = BRUTE_COST_CAP,
    n_points: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Exact kNN: (query_id, rank, point_id, dist), equal to
    knn_bruteforce, without the crossJoin.

    points: distributed (point_id, lat, lon, ...); queries: distributed
    (query_id, lat, lon) — no size cap.

    Path choice: n_queries * n_points <= `brute_cost_cap` runs the
    one-pass map-side path (see the module docstring), above it the k-ring
    loop.  The dispatch fetches at most min(MAP_QUERIES, brute_cost_cap)
    + 1 query rows (the map-side path needs them anyway, so a derived
    query frame still executes once per call); a fuller fetch goes to
    the ring loop.  Otherwise the points are counted — metadata-cheap
    for parquet scans but a full upstream execution for derived inputs,
    so pass `n_points` there (an estimate is fine; only the path choice
    depends on it).  An `n_queries` hint above that bound skips the
    fetch, and `brute_cost_cap=0` runs the ring loop with no dispatch
    job at all.

    points_cell_col: name of a PRE-COMPUTED hex cell column on `points`
    assigned at exactly `res` (the storage-layout path: the cell is part
    of the layout — plans/layout cell-bucketing — so repeated ring
    batches skip the per-call assignment scan; occupancy-adaptive
    resolution is skipped too, since the layout pins the resolution).  A
    column at another resolution raises, on either path.

    Ring path, per round: candidate cells are the active queries' k-rings
    (pandas UDF + explode), joined to the cell-indexed points (broadcast
    while the candidate side is small), top-k per query by window,
    done-ness decided by comparing the k-th distance against the
    ring-coverage bound.  Done queries' top-k rows stay in
    local-checkpointed DataFrames unioned at the end — results never
    visit the driver."""
    from functools import reduce

    if points_cell_col is not None:
        _check_cell_res(points, points_cell_col, res)
    # fetch the query batch (it rides to the points' partitions) unless it
    # cannot fit under MAP_QUERIES or the cap
    q_max = int(min(MAP_QUERIES, brute_cost_cap))
    if q_max >= 1 and (n_queries is None or n_queries <= q_max):
        qf = queries.select(
            "query_id",
            F.col("lat").cast("double").alias("lat"),
            F.col("lon").cast("double").alias("lon"),
        )
        qt = qf.limit(q_max + 1).toArrow()
        if qt.num_rows <= q_max:
            n_p = n_points if n_points is not None else points.count()
            if qt.num_rows * n_p <= brute_cost_cap:
                return _knn_map_side(points, qt, qf.schema[0].dataType, k,
                                     metric, point_id)

    spark = points.sparkSession

    def _pts(res_: int):
        pp = points.select(
            F.col(point_id).alias("point_id"),
            F.col("lat").alias("plat"),
            F.col("lon").alias("plon"),
        )
        return hexgrid.with_hex_cell(pp, res_, lat="plat", lon="plon",
                                     out_col="pcell")

    # occupancy-adaptive prefilter resolution: refine until the hottest
    # cell holds O(k) points.  ONE base-res assignment pass feeds an EXACT
    # per-cell count table (the base-res cover of a city is tiny), whose
    # max drives the refine formula; the fine-res table is then assigned
    # once.  The ring-1 density estimate comes from the query's BASE cell
    # count scaled by 7^-steps (a broadcast map join) — estimator-only: a
    # worse estimate costs a doubling round, never correctness.
    target_occ = max(32, 2 * k)
    if points_cell_col is not None:
        p = points.select(
            F.col(point_id).alias("point_id"),
            F.col("lat").alias("plat"),
            F.col("lon").alias("plon"),
            F.col(points_cell_col).alias("pcell"),
        ).persist()
        # density table at a COARSE base res even on the pinned layout:
        # grouping the layout's fine cells directly is a 10^6-group
        # shuffle per call (res 13 holds ~2 points/cell); one codegen
        # re-assign of the CACHED p at res 8 plus a tiny groupBy is
        # cheaper.  At res <= 8 the pinned cells are already coarse —
        # group them as-is.
        if res <= 8:
            base_res = res
            cnt_base = p.groupBy(F.col("pcell").alias("pcell")).agg(
                F.count("*").alias("cnt"))
        else:
            base_res = 8
            cnt_base = (
                hexgrid.with_hex_cell(p, base_res, lat="plat", lon="plon",
                                      out_col="__pc8")
                .groupBy(F.col("__pc8").alias("pcell"))
                .agg(F.count("*").alias("cnt"))
            )
    else:
        base_res = res
        cnt_base = _pts(base_res).groupBy("pcell").agg(
            F.count("*").alias("cnt"))
    cnt_base = cnt_base.persist()
    # one job: the max drives the refine, the row count guards the
    # broadcast of the count table below
    max_occ, n_cells = cnt_base.agg(F.max("cnt"), F.count("*")).collect()[0]
    if points_cell_col is None:
        if (max_occ or 0) > 4 * target_occ:
            res = base_res + max(0, min(
                int(math.ceil(math.log(max_occ / target_occ, 7))),
                15 - base_res,
            ))
        p = _pts(res).persist()
    steps = res - base_res
    to_unpersist = [p, cnt_base]

    # query prep: cell and density-estimated start ring — staged
    # selects, all distributed, pure codegen
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    q0 = hexgrid.with_hex_cell(
        queries.select("query_id", F.col("lat").alias("qlat"),
                       F.col("lon").alias("qlon")),
        res, lat="qlat", lon="qlon", out_col="qcell",
    )

    # uniform-density solve for the ring holding >= 2k points
    # (1 + 3r(r+1) cells at ring r), then snap UP to the doubling schedule
    # plus one extra step so the k-th distance usually clears the
    # 1.5*R*r - R coverage bound in the first round
    ring_schedule = []
    r = start_ring
    while r <= max_ring:
        ring_schedule.append(r)
        r *= 2
    sched = F.array(*[F.lit(s) for s in ring_schedule])
    # ring-1 density estimate (both paths): the query's BASE-res cell
    # count scaled to 7 final-res cells (broadcast map join — no explode,
    # no shuffle, while the table stays under BROADCAST_CAND_ROWS rows); a
    # missing base cell means locally empty territory
    c8 = cnt_base.select(
        F.col("pcell").alias("__qc8"), F.col("cnt").alias("__c8"))
    if n_cells <= BROADCAST_CAND_ROWS:
        c8 = F.broadcast(c8)
    if base_res == res:
        q8 = q0.withColumn("__qc8", F.col("qcell"))
    else:
        q8 = hexgrid.with_hex_cell(q0, base_res, lat="qlat", lon="qlon",
                                   out_col="__qc8")
    qe = q8.join(c8, "__qc8", "left").select(
        "*",
        (F.lit(7.0 * 2 * k)
         / F.greatest(
             F.coalesce(F.col("__c8").cast("double"), F.lit(0.0))
             * F.lit(7.0 ** (1 - steps)),
             F.lit(1.0))).alias("__need"),
    )
    empty1 = F.col("__c8").isNull()
    r_est = F.ceil(
        (F.lit(-3.0)
         + F.sqrt(F.lit(9.0)
                  + F.lit(12.0) * F.greatest(F.col("__need") - 1, F.lit(0.0))))
        / F.lit(6.0)
    )
    qe = qe.select(
        "*",
        F.greatest(
            F.when(empty1, F.lit(8)).otherwise(r_est),
            F.lit(start_ring),
        ).cast("int").alias("__rest"),
    ).drop("__qc8", "__c8")
    # pre-snap cap check (ADVICE fix: compare the ESTIMATE, not the
    # schedule-clamped value) — hopeless queries go straight to brute force
    n_before = F.aggregate(
        sched, F.lit(0),
        lambda acc, s: acc + F.when(s < F.col("__rest"), 1).otherwise(0),
    )
    qe = qe.select(
        "*",
        F.element_at(
            sched, F.least(n_before + F.lit(2), F.lit(len(ring_schedule)))
        ).alias("ring"),
        (F.col("__rest") > F.lit(BRUTE_RING_CAP)).alias("__hopeless"),
    ).drop("__need", "__rest")

    # checkpoint the PREP RESULT once, then split: both the active set and
    # the hopeless brute route filter the same materialized frame, so the
    # hex-assign + radius-UDF + density-join prep chain runs exactly once
    # (an un-checkpointed hopeless branch was re-running the whole prep
    # over all queries when the final leftover union materialized)
    qe = qe.localCheckpoint(eager=True)
    brute_parts: list[DataFrame] = [
        qe.filter(F.col("__hopeless")).drop("__hopeless")
    ]
    active = qe.filter(~F.col("__hopeless")).drop("__hopeless")

    kring_sp = hexgrid.kring_spill_udf(res)
    result_dfs: list[DataFrame] = []
    for _ in range(max_rounds):
        stats = active.agg(
            F.count("*").alias("n"),
            F.sum(1 + 3 * F.col("ring") * (F.col("ring") + 1)).alias("cand"),
        ).collect()[0]
        n_active, est_cand = stats["n"], stats["cand"]
        if not n_active:
            break
        # covered_m is the DONENESS CLAIM — hexgrid.claim_m, the uv-exact
        # bound on what kring(ring) provably covers (the old measured-R
        # formula 1.5*R*ring - R over-claimed near face edges where the
        # gnomonic scale shrinks across the ring).  Clamped to the disk
        # operating-envelope cap so giant rings at coarse res keep anchor
        # fanout bounded (a clamped claim only delays doneness, never
        # correctness).  The spill UDF adds neighbor-face anchor rings
        # wherever the home ring crosses a cube-face seam (round-5
        # seam-exactness lift).
        covered = F.least(
            hexgrid.claim_m_udf(res)(F.col("qlat"), F.col("qlon"),
                                     F.col("ring")),
            F.lit(hexgrid.MAX_COVER_M),
        )
        # In the shuffle-join regime the candidate generation MUST be
        # spread first: a LIMIT-derived query frame arrives as ONE
        # partition and the prep checkpoint preserves that, so the ring
        # UDF + explode would serialize through one task (measured at
        # 100k queries: round 1 went 40.7 s -> 13.6 s).  In the
        # broadcast regime the query batch is small and a single-task
        # UDF beats 64 near-empty tasks — repartition only when the
        # estimate crosses the broadcast threshold, to the session's
        # shuffle-partition count (scale-adaptive, not a local constant).
        if est_cand > BROADCAST_CAND_ROWS:
            active = active.repartition(
                n_parts, "query_id").localCheckpoint(eager=True)
        cand = active.select(
            "query_id", "qlat", "qlon",
            covered.alias("covered_m"),
            F.explode(
                kring_sp(F.col("qcell"), F.col("qlat"), F.col("qlon"),
                         F.col("ring"), covered)
            ).alias("pcell"),
        )
        if est_cand <= BROADCAST_CAND_ROWS:
            cand = F.broadcast(cand)
            src_p = p
        else:
            # shuffle regime (guide §3.1): hint shuffled-hash with the
            # cell-indexed points as the per-partition build side — the
            # sort-merge alternative sorts both sides on the cell key,
            # which the downstream window (sorted by query/dist) never
            # reuses.  A/B on the isolated 100k-query round-1 join shape:
            # SMJ 16.5 s vs SHJ 7.7 s; inside the full operator the
            # difference measured within noise on a loaded host, so this
            # is kept as the structurally-right strategy (r5 precedent:
            # the triangle wedge joins won 2x the same way).  Build-side
            # memory is bounded: the points partition is AQE-sized, and
            # the candidate side is the larger stream.
            src_p = p.hint("SHUFFLE_HASH")
        # materialize this round's top-k ONCE (n_active*k rows,
        # distributed); the stats agg, the kept-results semi-join and the
        # next active set all read the checkpoint
        topk = (
            _rank_top_k(src_p.join(cand, "pcell"), k, metric)
            .select("query_id", "rank", "point_id", "dist", "covered_m")
            .localCheckpoint(eager=True)
        )
        # dist -> conservative meters for the coverage-bound comparison
        kth_m = (F.sqrt(F.max("dist")) * F.lit(111_320.0)
                 if metric == "sq_deg" else F.max("dist"))
        done = (
            topk.groupBy("query_id")
            .agg(kth_m.alias("kth_m"), F.count("*").alias("n"),
                 F.first("covered_m").alias("covered_m"))
            .filter((F.col("n") == k) & (F.col("kth_m") <= F.col("covered_m")))
            .select("query_id")
        )
        result_dfs.append(
            topk.join(F.broadcast(done), "query_id")
            .select("query_id", "rank", "point_id", "dist")
        )
        # queries with no candidates this round simply stay active (left
        # anti join keeps them); ring doubles; overflow leaves for brute.
        # `active` stays LAZY for small batches (round 6): it is the qe
        # checkpoint anti-joined with the accumulated per-round done sets,
        # each derived from a checkpointed topk — for a few-thousand-query
        # batch re-evaluating that chain is cheaper than the one-job-per-
        # round eager checkpoint it replaces (the round fixed cost was the
        # kNN bottleneck at small query counts).  For LARGE batches the
        # chain itself is the cost — every consumer (stats, cand,
        # leftover, final union) re-scans the full qe and re-aggregates
        # the 10^6-row topk — so past the threshold the round still
        # checkpoints eagerly, executing the chain exactly once.
        nxt = (
            active.join(done, "query_id", "left_anti")
            .withColumn("ring", F.col("ring") * 2)
        )
        brute_parts.append(nxt.filter(F.col("ring") > max_ring))
        active = nxt.filter(F.col("ring") <= max_ring)
        if n_active > 5000:
            active = active.localCheckpoint(eager=True)
    # long-tail fallback: hopeless + ring-overflow + round-budget leftovers
    # in one single-pass brute force (they are few by construction; the
    # union is a lazy chain over checkpointed parents — cheap to evaluate
    # twice, so no extra materialization job)
    leftover = reduce(DataFrame.unionByName, brute_parts + [active]).select(
        "query_id", F.col("qlat").alias("lat"), F.col("qlon").alias("lon")
    )
    if leftover.limit(1).count():
        result_dfs.append(
            knn_bruteforce(points, leftover, k, metric=metric,
                           point_id=point_id)
        )

    for df_ in to_unpersist:
        df_.unpersist()
    if not result_dfs:
        return spark.createDataFrame(
            [], "query_id string, rank int, point_id string, dist double"
        )
    out = reduce(DataFrame.unionByName, result_dfs)
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        "point_id", "dist",
    )


def idw_interpolate(
    points: DataFrame,
    queries: DataFrame,
    k: int = 8,
    power: float = 2.0,
    metric: str = "haversine",
    value_col: str = "value",
    point_id: str = "id",
    exact_hit_eps: float = 1e-9,
    **knn_kwargs,
) -> DataFrame:
    """(query_id, estimate, n_neighbors): inverse-distance-weighted
    interpolation of `value_col` at each query point (Shepard 1968) —
    the k nearest points vote with weight 1/dist^power.

    Composition, not a new kernel: neighbors come from `knn_kring` (the
    cost-dispatched map-side/k-ring path with all its guarantees), values
    join back on the point id, and the estimate is ONE groupBy(query_id)
    of two sums.  A neighbor within `exact_hit_eps` wins outright (its
    value is returned exactly — the IDW weight would be infinite).
    Queries with no neighbor at all (empty points side) produce no row,
    matching the kNN contract."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if power <= 0:
        raise ValueError(f"power must be positive, got {power}")
    nn = knn_kring(points, queries, k, metric=metric, point_id=point_id,
                   **knn_kwargs)
    vals = points.select(F.col(point_id).alias("point_id"),
                         F.col(value_col).cast("double").alias("__v"))
    j = nn.join(vals, "point_id")
    hit = F.max(F.when(F.col("dist") <= exact_hit_eps,
                       F.struct(F.lit(1).alias("h"), F.col("__v"))))
    w = F.lit(1.0) / F.pow(F.col("dist"), F.lit(power))
    return (
        j.groupBy("query_id")
        .agg(
            hit.alias("__hit"),
            F.sum(F.when(F.col("dist") > exact_hit_eps,
                         w * F.col("__v"))).alias("__num"),
            F.sum(F.when(F.col("dist") > exact_hit_eps, w)).alias("__den"),
            F.count("*").alias("n_neighbors"),
        )
        .select(
            "query_id",
            F.coalesce(F.col("__hit.__v"),
                       F.col("__num") / F.col("__den")).alias("estimate"),
            "n_neighbors",
        )
    )
