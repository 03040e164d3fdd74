"""knn_kring's map-side path (n_queries * n_points <= brute_cost_cap) against
the knn_bruteforce oracle: query ids, ranks, point ids and dists compared
exactly, on the cases where a partition-local float selection could go
wrong, plus the dispatch edges around it."""

import math

import numpy as np
import pytest

from osmspark.functions.geo import haversine_np
from osmspark.operators import knn

PTS = "id string, lat double, lon double"
QS = "query_id string, lat double, lon double"


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["point_id"], r["dist"])
                  for r in df.collect())


def _assert_equals_oracle(pts, qs, k, metric="haversine"):
    want = _rows(knn.knn_bruteforce(pts, qs, k, metric=metric))
    got = _rows(knn.knn_kring(pts, qs, k, metric=metric,
                              brute_cost_cap=math.inf))
    assert got == want
    return want


@pytest.mark.parametrize("metric", ["haversine", "sq_deg"])
def test_bucket_ties_break_on_point_id(spark, metric):
    """Duplicate coordinates and exactly equidistant points: the k-th rank
    cuts through each tie group, so the result depends on the point-id
    tie-break alone."""
    rows = [(f"dup{i}", 1.5, 103.6) for i in (7, 2, 9, 0, 5)]
    # exact ties in both metrics: the same latitude, longitude +-0.25
    rows += [("e1", 1.5, 103.75), ("e0", 1.5, 103.25)]
    # three points ON the second query
    rows += [(f"at{i}", 1.5, 103.5) for i in (2, 0, 1)]
    pts = spark.createDataFrame(rows, PTS)
    qs = spark.createDataFrame([("q_dup", 1.5, 103.6), ("q_mid", 1.5, 103.5)],
                               QS)
    for k in (6, 9):
        want = _assert_equals_oracle(pts, qs, k, metric)
        assert len(want) == 2 * k
    # k = 9 cuts between e0 and e1
    assert [r[2] for r in want if r[0] == "q_mid"] == [
        "at0", "at1", "at2", "dup0", "dup2", "dup5", "dup7", "dup9", "e0"]


def test_bucket_points_within_a_centimetre(spark):
    """Unit-sphere dot products cannot order points 1 cm apart (cos of a
    1.6e-9 rad angle rounds to 1); the tie margin must keep all of them so
    Spark's haversine decides the order."""
    rng = np.random.default_rng(3)
    qlat, qlon = 47.37, 8.54
    # 60 points within 1 cm of the query (1 cm ~ 9e-8 deg), 20 within 1 m
    near = rng.uniform(-6e-8, 6e-8, size=(60, 2))
    mid = rng.uniform(-9e-6, 9e-6, size=(20, 2))
    rows = [(f"p{i:03d}", float(qlat + a), float(qlon + b))
            for i, (a, b) in enumerate(np.vstack([near, mid]))]
    pts = spark.createDataFrame(rows, PTS)
    qs = spark.createDataFrame([("q", qlat, qlon),
                                ("q_off", qlat + 3e-8, qlon - 3e-8)], QS)
    for k in (5, 30, 70):
        want = _assert_equals_oracle(pts, qs, k)
        assert len(want) == 2 * k


def test_bucket_k_exceeds_points_and_empty_sides(spark):
    pts = spark.createDataFrame(
        [("a", 1.29, 103.85), ("b", 1.30, 103.86), ("c", 1.31, 103.70)], PTS)
    qs = spark.createDataFrame([("q0", 1.29, 103.85), ("q1", 1.4, 103.9)],
                               QS)
    want = _assert_equals_oracle(pts, qs, 5)
    assert len(want) == 6
    no_pts = spark.createDataFrame([], PTS)
    no_qs = spark.createDataFrame([], QS)
    assert _assert_equals_oracle(no_pts, qs, 5) == []
    assert _assert_equals_oracle(pts, no_qs, 5) == []


def test_bucket_empty_buckets(spark):
    """Two points over defaultParallelism partitions: most partitions
    hold no points."""
    assert spark.sparkContext.defaultParallelism > 2
    pts = spark.createDataFrame([("a", 1.29, 103.85), ("b", 1.35, 103.69)],
                                PTS)
    qs = spark.createDataFrame(
        [(f"q{i}", 1.2 + 0.03 * i, 103.6 + 0.04 * i) for i in range(9)], QS)
    for k in (1, 2):
        assert len(_assert_equals_oracle(pts, qs, k)) == 9 * k


def test_bucket_sq_deg_on_nodes(nodes, spark):
    pts = nodes.select("id", "lat", "lon")
    qs = spark.createDataFrame(
        [("q0", 1.29, 103.85), ("q1", 1.35, 103.69), ("q2", 1.70, 103.55)],
        QS)
    assert len(_assert_equals_oracle(pts, qs, 10, metric="sq_deg")) == 30


@pytest.mark.parametrize("metric", ["haversine", "sq_deg"])
def test_bucket_candidates_blocks_keep_exact_top_k(monkeypatch, metric):
    """Small score blocks force the running-threshold merge across point
    blocks: every query's exact top-k must survive it, and a block adds
    at most ~k candidates per query plus the points tied with its k-th."""
    rng = np.random.default_rng(5)
    n, k = 500, 7
    plat = 1.3 + rng.normal(0, 0.02, n)
    plon = 103.8 + rng.normal(0, 0.02, n)
    n_dup = 40  # a duplicate-coordinate run across blocks
    plat[:n_dup] = plat[n_dup]
    plon[:n_dup] = plon[n_dup]
    qlat = 1.3 + rng.normal(0, 0.02, 37)
    qlon = 103.8 + rng.normal(0, 0.02, 37)
    qlat[0], qlon[0] = plat[n_dup], plon[n_dup]
    monkeypatch.setattr(knn, "_BLOCK", 64)
    qi, pj = knn._bucket_candidates(qlat, qlon, plat, plon, k, metric)
    for q in range(len(qlat)):
        if metric == "haversine":
            d = haversine_np(qlat[q], qlon[q], plat, plon)
        else:
            d = (qlat[q] - plat) ** 2 + (qlon[q] - plon) ** 2
        kept = set(pj[qi == q].tolist())
        top = np.lexsort((np.arange(n), d))[:k]
        assert set(top.tolist()) <= kept, q
        assert len(kept) <= k * math.ceil(n / 64) + n_dup, q


def _calls(monkeypatch, df, method):
    """Record every DataFrame on which `method` is called."""
    seen = []
    orig = getattr(type(df), method)
    monkeypatch.setattr(type(df), method,
                        lambda d, *a, **kw: seen.append(d) or orig(d, *a, **kw))
    return seen


def _grid_points(spark, n, schema=PTS, ids=None):
    ids = ids or [f"p{i:03d}" for i in range(n)]
    return spark.createDataFrame(
        [(ids[i], 1.28 + 0.004 * (i % 7), 103.80 + 0.003 * (i // 7))
         for i in range(n)], schema)


def _grid_queries(spark, n, schema=QS, ids=None):
    ids = ids or [f"q{i}" for i in range(n)]
    return spark.createDataFrame(
        [(ids[i], 1.281 + 0.0031 * i, 103.801 + 0.0027 * i)
         for i in range(n)], schema)


@pytest.mark.parametrize("metric", ["haversine", "sq_deg"])
def test_map_side_single_partition_points(spark, metric):
    pts = _grid_points(spark, 60).coalesce(1)
    assert pts.rdd.getNumPartitions() == 1
    assert len(_assert_equals_oracle(pts, _grid_queries(spark, 6), 4,
                                     metric)) == 24


def test_map_side_more_partitions_than_rows(spark):
    pts = _grid_points(spark, 5).repartition(23)
    assert pts.rdd.getNumPartitions() == 23
    for k in (1, 3, 7):
        assert len(_assert_equals_oracle(pts, _grid_queries(spark, 4),
                                         k)) == 4 * min(k, 5)


def test_map_side_long_ids(spark):
    """2^62-sized ids on both sides come back exact, not through float64."""
    big = 2 ** 62
    pts = _grid_points(spark, 40, "id long, lat double, lon double",
                       [big + 3 * i for i in range(40)])
    qs = _grid_queries(spark, 5, "query_id long, lat double, lon double",
                       [big + i for i in range(5)])
    want = _assert_equals_oracle(pts, qs, 6)
    assert {r[0] for r in want} == {big + i for i in range(5)}
    assert all(r[2] >= big for r in want)


def test_map_side_batch_over_map_queries_runs_ring(monkeypatch, spark):
    """A batch with more than MAP_QUERIES rows takes the ring loop without
    counting the points, and is still exact."""
    monkeypatch.setattr(knn, "MAP_QUERIES", 3)
    pts = _grid_points(spark, 50)
    counted = _calls(monkeypatch, pts, "count")
    assert len(_assert_equals_oracle(pts, _grid_queries(spark, 5), 4)) == 20
    assert not any(df is pts for df in counted)


def test_map_side_cap_zero_runs_ring_without_fetch(monkeypatch, spark):
    pts = _grid_points(spark, 50)
    qs = _grid_queries(spark, 5)
    fetched = _calls(monkeypatch, qs, "toArrow")
    want = _rows(knn.knn_bruteforce(pts, qs, 4))
    assert _rows(knn.knn_kring(pts, qs, 4, brute_cost_cap=0)) == want
    assert fetched == []


def _full_partition_candidates(qlat, qlon, plat, plon, k, metric):
    """The kernel as it was before the strided bound: each block's k-th
    comes from a partition of the whole block."""
    from osmspark.functions.geo import latlon_to_xyz

    nq, npt = len(qlat), len(plat)
    if metric == "haversine":
        qv = np.stack(latlon_to_xyz(qlat, qlon), axis=1)
        pv = np.stack(latlon_to_xyz(plat, plon))

        def score(qs, ps):
            s = qv[qs] @ pv[:, ps]
            s *= -2.0
            s += 2.0
            return s
    else:
        def score(qs, ps):
            return ((qlat[qs, None] - plat[ps]) ** 2
                    + (qlon[qs, None] - plon[ps]) ** 2)
    abs_m, rel_m = knn._TIE_MARGIN[metric]
    pc = min(npt, knn._BLOCK)
    qc = max(1, knn._BLOCK // pc)
    out = set()
    for q0 in range(0, nq, qc):
        qs = slice(q0, min(nq, q0 + qc))
        thr = np.full(qs.stop - q0, np.inf)
        for p0 in range(0, npt, pc):
            s = score(qs, slice(p0, min(npt, p0 + pc)))
            if s.shape[1] > k:
                thr = np.minimum(thr, np.partition(s, k - 1, axis=1)[:, k - 1])
            i, j = np.nonzero(s <= (thr + abs_m + rel_m * np.abs(thr))[:, None])
            out |= set(zip((i + q0).tolist(), (j + p0).tolist()))
    return out


@pytest.mark.parametrize("metric", ["haversine", "sq_deg"])
@pytest.mark.parametrize("block", [64, 1 << 22])
@pytest.mark.parametrize("tail", [4, 12])
def test_bucket_candidates_equal_full_partition_kernel(monkeypatch, metric,
                                                       block, tail):
    """The strided k-th bound keeps exactly the full-partition kernel's
    set: coordinates on a binary grid give runs of exact sq_deg ties at
    the k-th that straddle the stride, duplicates give exact ties in
    both metrics, 64-element blocks make several blocks per query and a
    last block of `tail` points (<= k, or stride 1), and a point set
    streamed in two batches with a carried threshold keeps the same set
    as one pass."""
    monkeypatch.setattr(knn, "_BLOCK", block)
    rng = np.random.default_rng(11)
    k, n = 5, 3 * 64 + tail
    plat = 1.25 + rng.integers(0, 12, n) / 64
    plon = 103.75 + rng.integers(0, 12, n) / 64
    plat[:30], plon[:30] = plat[30], plon[30]
    qlat = 1.25 + rng.integers(0, 12, 9) / 64
    qlon = 103.75 + rng.integers(0, 12, 9) / 64
    qlat[0], qlon[0] = plat[30], plon[30]
    # the last block holds query 1's nearest points, so its k-th decides
    plat[-tail:] = qlat[1] + np.arange(tail) / 256
    plon[-tail:] = qlon[1]
    want = _full_partition_candidates(qlat, qlon, plat, plon, k, metric)
    qi, pj = knn._bucket_candidates(qlat, qlon, plat, plon, k, metric)
    assert set(zip(qi.tolist(), pj.tolist())) == want
    # every query has ties at its k-th somewhere in the kept set
    assert len(want) > len(qlat) * k
    thr = np.full(len(qlat), np.inf)
    a = knn._bucket_candidates(qlat, qlon, plat[:128], plon[:128], k, metric,
                               thr)
    b = knn._bucket_candidates(qlat, qlon, plat[128:], plon[128:], k, metric,
                               thr)
    if block == 64:
        assert (set(zip(a[0].tolist(), a[1].tolist()))
                | set(zip(b[0].tolist(), (b[1] + 128).tolist()))) == want
    for q in range(len(qlat)):
        if metric == "haversine":
            d = haversine_np(qlat[q], qlon[q], plat, plon)
        else:
            d = (qlat[q] - plat) ** 2 + (qlon[q] - plon) ** 2
        kept = {j for i, j in want if i == q}
        assert set(np.lexsort((np.arange(n), d))[:k].tolist()) <= kept
