"""knn_kring's bucket path (n_queries * n_points <= brute_cost_cap) against
the knn_bruteforce oracle: query ids, ranks, point ids and dists compared
exactly, on the cases where a bucket-local float selection could go wrong."""

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
    """Two points over at least defaultParallelism buckets: most buckets
    hold queries and no points."""
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
