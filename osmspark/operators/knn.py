"""B5 — exact kNN in one map-side pass (SURVEY §2.2).

`knn_kring` sends the queries to the data (Distributed Stream KNN Join,
SIGMOD 2021): it fetches the query batch to the Spark driver once, and
each chunk of at most MAP_QUERIES queries rides in the closure of ONE
mapInArrow over the points' own partitions, so the points are never
shuffled.  Per partition, `_partition_candidates` keeps every query's
local top-k through a throwaway block index:

  * the partition's points are split at the median of their widest
    coordinate (unit xyz for haversine, (lat, lon) for sq_deg) until each
    block holds between max(k, _BLOCK_PTS) and twice that, and each block
    keeps its bounding box;
  * a query first scans its home block (the box nearest to it), which
    fixes an exact local k-th score, then only the blocks whose box lower
    bound lies within a float-error margin of that k-th.

The score is the squared Euclidean distance in the embedding (chord^2 =
2 - 2<q,p> for haversine), so there is no antimeridian or pole case.
Every candidate within the margin of the local k-th is kept, so the kept
set provably contains the global top-k; Spark then computes `dist` with
the same expression `knn_bruteforce` uses and ranks by (dist, point_id),
so the output is bit-identical to the oracle.  The index lives for one
kernel call: no block table on the Spark driver, no cache key, no
lifetime.  Measured on 4 vCPUs over bench.py's 2.4M sf0.1 nodes (min of
3 warm calls): 5000 queries in ~1.6 s, 100k queries in ~9.1 s.

`knn_bruteforce` is the O(P*Q) reference path (crossJoin + window) — the
oracle the tests compare `knn_kring` against.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.geo import haversine_m, latlon_to_xyz, sq_deg_dist

# the map-side path ships at most this many queries in one UDF closure
# (~3 MB pickled); a larger batch runs one mapInArrow per chunk
MAP_QUERIES = 100_000
# points per kernel block: blocks hold between max(k, _BLOCK_PTS) and twice
# as many points
_BLOCK_PTS = 1024
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


def _partition_candidates(qlat, qlon, plat, plon, k: int, metric: str):
    """(query index, point index) arrays over one partition's points: a
    superset of each query's exact top-k within `_TIE_MARGIN` of its k-th,
    like `_bucket_candidates` over all points, but evaluating only the
    (query, block) pairs whose block can hold part of the local top-k."""
    n, nq = len(plat), len(qlat)
    bs = max(k, _BLOCK_PTS)
    if n < 2 * bs or not nq:
        return _bucket_candidates(qlat, qlon, plat, plon, k, metric)
    if metric == "haversine":
        qe = np.stack(latlon_to_xyz(qlat, qlon), axis=1)
        pe = np.stack(latlon_to_xyz(plat, plon), axis=1)
    else:
        qe = np.stack((qlat, qlon), axis=1)
        pe = np.stack((plat, plon), axis=1)
    # blocks: median splits on the widest coordinate (a kd-tree's leaves).
    # Slabs of a global sort order do not follow clustered data: on 600k
    # city-clustered points, sort-tile-recursive blocks cost 17-29 block
    # scans per query against ~1.2 for median splits.
    leaves, stack = [], [np.arange(n)]
    while stack:
        idx = stack.pop()
        if len(idx) < 2 * bs:
            leaves.append(idx)
            continue
        sub = pe[idx]
        d = np.argmax(sub.max(axis=0) - sub.min(axis=0))
        h = len(idx) // 2
        part = np.argpartition(sub[:, d], h)
        stack += [idx[part[h:]], idx[part[:h]]]
    order = np.concatenate(leaves)
    start = np.cumsum([0] + [len(leaf) for leaf in leaves])
    nb = len(leaves)
    plat, plon, pe = plat[order], plon[order], pe[order]
    lo = np.minimum.reduceat(pe, start[:-1], axis=0)
    hi = np.maximum.reduceat(pe, start[:-1], axis=0)
    abs_m, rel_m = _TIE_MARGIN[metric]
    thr = np.full(nq, np.inf)
    out_q, out_p = [], []

    def widen(t):
        return t + abs_m + rel_m * np.abs(t)

    def scan(b, qs):
        t = thr[qs]
        ps = slice(start[b], start[b + 1])
        i, j = _bucket_candidates(qlat[qs], qlon[qs], plat[ps], plon[ps], k,
                                  metric, t)
        thr[qs] = t
        out_q.append(qs[i])
        out_p.append(order[j + start[b]])

    qc = max(1, _BLOCK // nb)
    for q0 in range(0, nq, qc):
        qs_c = np.arange(q0, min(nq, q0 + qc))
        # lb[q, b]: squared distance from the query to block b's box, a
        # lower bound on the score of every point in b.  Its rounding
        # (~1e-16) sits far inside _TIE_MARGIN, so every point whose score
        # ties the k-th within float error lies in a block that passes the
        # test below.
        lb = np.zeros((len(qs_c), nb))
        for d in range(qe.shape[1]):
            g = np.maximum(lo[:, d] - qe[qs_c, d, None],
                           qe[qs_c, d, None] - hi[:, d])
            np.maximum(g, 0.0, out=g)
            lb += g * g
        # home pass: each block holds >= k points, so its k-th seeds an
        # exact, finite threshold
        home = np.argmin(lb, axis=1)
        by_home = np.argsort(home, kind="stable")
        for grp in np.split(by_home,
                            np.flatnonzero(np.diff(home[by_home])) + 1):
            scan(home[grp[0]], qs_c[grp])
        lb[np.arange(len(qs_c)), home] = np.inf
        # pruned pass: the other blocks whose box can beat the threshold
        cand = lb <= widen(thr[qs_c])[:, None]
        for b in np.flatnonzero(cand.any(axis=0)):
            rows = np.flatnonzero(cand[:, b])
            rows = rows[lb[rows, b] <= widen(thr[qs_c[rows]])]
            if len(rows):
                scan(b, qs_c[rows])
    return np.concatenate(out_q), np.concatenate(out_p)


def _map_side(p: DataFrame, qt: pa.Table, qid_type, k: int,
              metric: str) -> DataFrame:
    """Candidate pairs (query_id, qlat, qlon, point_id, plat, plon) of one
    query chunk `qt` (query_id, lat, lon): its arrays ride in the closure
    of ONE mapInArrow over the partitions of `p` (point_id, lat, lon)."""
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
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        plat = t.column(1).to_numpy()
        plon = t.column(2).to_numpy()
        # null coordinates never rank
        ok = np.flatnonzero(np.isfinite(plat) & np.isfinite(plon))
        plat, plon = plat[ok], plon[ok]
        i, j = _partition_candidates(qlat, qlon, plat, plon, k, metric)
        if len(i):
            yield pa.RecordBatch.from_arrays(
                [qid.take(i), pa.array(qlat[i]), pa.array(qlon[i]),
                 t.column(0).take(ok[j]).combine_chunks(),
                 pa.array(plat[j]), pa.array(plon[j])],
                names=out_schema.names)

    return p.mapInArrow(local_top_k, out_schema)


def fetch_queries(queries: DataFrame) -> tuple[pa.Table, StructType]:
    """A query batch on the Spark driver: (query_id, lat, lon), the
    coordinates cast to double, as one Arrow table, plus its Spark schema.
    The batch executes here, once; `knn_kring` and the radius join's
    driver-side query half (`radius_join._batch_disk_cells`) serve it
    from driver memory."""
    qf = queries.select(
        "query_id",
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )
    return qf.toArrow(), qf.schema


def knn_kring(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "haversine",
    point_id: str = "id",
) -> DataFrame:
    """Exact kNN: (query_id, rank, point_id, dist), equal to
    knn_bruteforce, without the crossJoin.

    points: distributed (point_id, lat, lon, ...), read in place and never
    shuffled (a frame with fewer partitions than the default parallelism
    is spread first).  queries: (query_id, lat, lon), fetched to the
    Spark driver once per call, so the batch must fit there: ~24 B per
    query plus its id.  A derived query frame executes exactly once."""
    qt, qschema = fetch_queries(queries)
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )
    n_par = points.sparkSession.sparkContext.defaultParallelism
    if p.rdd.getNumPartitions() < n_par:
        p = p.repartition(n_par)
    cand = reduce(DataFrame.unionByName, [
        _map_side(p, qt.slice(q0, MAP_QUERIES), qschema[0].dataType, k,
                  metric)
        for q0 in range(0, max(qt.num_rows, 1), MAP_QUERIES)
    ])
    return _rank_top_k(cand, k, metric).select(
        "query_id", "rank", "point_id", "dist")


def idw_interpolate(
    points: DataFrame,
    queries: DataFrame,
    k: int = 8,
    power: float = 2.0,
    metric: str = "haversine",
    value_col: str = "value",
    point_id: str = "id",
    exact_hit_eps: float = 1e-9,
) -> DataFrame:
    """(query_id, estimate, n_neighbors): inverse-distance-weighted
    interpolation of `value_col` at each query point (Shepard 1968) —
    the k nearest points vote with weight 1/dist^power.

    Composition, not a new kernel: neighbors come from `knn_kring` (with
    its exactness and its query batch on the Spark driver), values
    join back on the point id, and the estimate is ONE groupBy(query_id)
    of two sums.  A neighbor within `exact_hit_eps` wins outright (its
    value is returned exactly — the IDW weight would be infinite).
    Queries with no neighbor at all (empty points side) produce no row,
    matching the kNN contract."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if power <= 0:
        raise ValueError(f"power must be positive, got {power}")
    nn = knn_kring(points, queries, k, metric=metric, point_id=point_id)
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
