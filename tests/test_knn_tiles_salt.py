"""B5 kNN (knn_kring == brute force), B6 tiles (pandas path == native
path), B7 salting (salted == unsalted)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmspark.operators import knn, salt, tiles


@pytest.fixture(scope="module")
def queries(spark):
    pts = [("q0", 1.29, 103.85), ("q1", 1.35, 103.69), ("q2", 1.44, 103.79),
           ("q3", 1.20, 104.05), ("q4", 1.50, 103.62)]
    return spark.createDataFrame(pts, "query_id string, lat double, lon double")


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["point_id"], r["dist"])
                  for r in df.collect())


def _assert_equals_oracle(pts, qs, k):
    want = _rows(knn.knn_bruteforce(pts, qs, k))
    assert _rows(knn.knn_kring(pts, qs, k)) == want
    return want


def test_knn_kring_equals_bruteforce(nodes, queries):
    pts = nodes.select("id", "lat", "lon")
    assert len(_assert_equals_oracle(pts, queries, 10)) == 50


def test_knn_kring_sparse_region(spark, nodes, queries):
    """A query far from every point still gets its exact top-k."""
    far = spark.createDataFrame(
        [("far0", 1.70, 103.55)], "query_id string, lat double, lon double"
    )
    pts = nodes.select("id", "lat", "lon")
    assert len(_assert_equals_oracle(pts, far, 5)) == 5


def test_knn_fewer_points_than_k(spark):
    pts = spark.createDataFrame(
        [("a", 1.29, 103.85), ("b", 1.30, 103.86)],
        "id string, lat double, lon double",
    )
    q = spark.createDataFrame([("q", 1.29, 103.85)],
                              "query_id string, lat double, lon double")
    got = _assert_equals_oracle(pts, q, 5)
    assert {r[2] for r in got} == {"a", "b"}


def test_knn_dispatch_skips_points_count_over_cap(monkeypatch, nodes,
                                                  queries):
    """knn_kring never counts the points: they are read in place by the
    map-side pass, whatever the batch size."""
    pts = nodes.select("id", "lat", "lon")
    counted = []
    count = type(pts).count
    monkeypatch.setattr(type(pts), "count",
                        lambda df: counted.append(df) or count(df))
    _assert_equals_oracle(pts, queries, 10)
    assert not any(df is pts for df in counted)


def test_tile_assignment_bounds(nodes):
    t = tiles.with_tile(nodes.select("lat", "lon"), zoom=12)
    mx = t.agg(F.max("tile_x"), F.min("tile_x"), F.max("tile_y"), F.min("tile_y")
               ).collect()[0]
    assert 0 <= mx[1] <= mx[0] < 4096
    assert 0 <= mx[3] <= mx[2] < 4096


def test_raster_pandas_equals_native(nodes):
    """The (now default, round 6) native sparse-agg raster must equal its
    independent twin, the retained applyInPandas/histogram2d path."""
    pts = nodes.select("lat", "lon")
    a = {(r["tile_x"], r["tile_y"]): list(r["raster"])
         for r in tiles.render_density_tiles(pts, zoom=12, px=16).collect()}
    p = {(r["tile_x"], r["tile_y"]): list(r["raster"])
         for r in tiles.render_density_tiles_pandas(
             pts, zoom=12, px=16).collect()}
    assert set(a) == set(p)
    assert sum(1 for k in a if a[k] != p[k]) == 0
    # raster mass == point count per tile
    counts = {(r["tile_x"], r["tile_y"]): r["cnt"]
              for r in tiles.tile_counts(pts, zoom=12).collect()}
    assert {k: sum(v) for k, v in a.items()} == counts


def test_int_tile_counts(nodes):
    pts = nodes.select(
        ((F.col("lat") - 1.0) * 100000).cast("long").alias("lat_u"),
        ((F.col("lon") - 103.0) * 100000).cast("long").alias("lon_u"),
    )
    t = tiles.int_tile_counts(pts, cell_deg_u=4000)
    total = t.agg(F.sum("cnt")).collect()[0][0]
    assert total == pts.count()


def test_salted_join_equals_plain(nodes, spark):
    from osmspark.functions import hexgrid

    pts = hexgrid.with_hex_cell(nodes.select("id", "lat", "lon"), 7, out_col="cell")
    dim = pts.groupBy("cell").agg(F.count("*").alias("dim_cnt"))
    plain = pts.join(dim, "cell").select("id", "dim_cnt")
    salted = salt.salted_join(pts, dim, "cell", nsalt=4, salt_from=["id"]
                              ).select("id", "dim_cnt")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_group_count_equals_plain(nodes):
    from osmspark.functions import hexgrid

    pts = hexgrid.with_hex_cell(nodes.select("id", "lat", "lon"), 7, out_col="cell")
    plain = {r["cell"]: r["cnt"] for r in
             pts.groupBy("cell").agg(F.count("*").alias("cnt")).collect()}
    salted = {r["cell"]: r["cnt"] for r in
              salt.salted_group_count(pts, "cell", nsalt=4).collect()}
    assert plain == salted


def test_knn_preindexed_points(nodes, queries):
    """Points laid out by cell (the storage-layout path: rows
    repartitioned on a pre-materialized cell column, so partitions are
    spatially disjoint and most hold none of a query's neighbors) give
    the same result as brute force."""
    from osmspark.functions.hexgrid import with_hex_cell

    pts = with_hex_cell(nodes.select("id", "lat", "lon"), 9,
                        out_col="cell_r9").repartition(8, "cell_r9")
    want = _rows(knn.knn_bruteforce(nodes.select("id", "lat", "lon"),
                                    queries, 10))
    assert _rows(knn.knn_kring(pts, queries, 10)) == want
    assert len(want) == 50


def test_vectorize_raster_components(spark):
    """Hand-built raster: two blobs + isolated sub-threshold pixels ->
    exactly the expected components, counts, and bbox rings."""
    import numpy as np

    px = 8
    grid = np.zeros((px, px), dtype=np.int64)
    grid[1, 1] = 5          # blob A: single pixel
    grid[4:6, 3:6] = 2      # blob B: 2x3 rectangle
    grid[4, 4] = 7          # inside blob B
    grid[7, 7] = 1          # sub-threshold (threshold=2)
    df = spark.createDataFrame(
        [(12, 100, 200, [int(v) for v in grid.ravel()])],
        "zoom int, tile_x int, tile_y int, raster array<long>")
    feats = sorted(
        tiles.vectorize_raster(df, threshold=2, px=px).collect(),
        key=lambda r: r["feature_id"])
    assert len(feats) == 2
    a, b = feats
    assert (a["n_pixels"], a["total_count"]) == (1, 5)
    assert (b["n_pixels"], b["total_count"]) == (6, 2 * 6 + 5)
    for f in feats:
        ring = f["ring"]
        assert len(ring) == 5 and ring[0] == ring[-1]
        # northern edge first (mercator y grows south)
        assert ring[0]["lat"] > ring[2]["lat"]
        assert ring[0]["lon"] < ring[1]["lon"]


def test_vectorize_raster_roundtrip(nodes, spark):
    """points -> raster -> features at threshold=1: every point falls in
    some feature bbox of its own tile, and total pixel counts match."""
    zoom, px = 12, 16
    pts = nodes.select("lat", "lon").limit(500).cache()
    rast = tiles.render_density_tiles(pts, zoom=zoom, px=px)
    feats = tiles.vectorize_raster(rast, threshold=1, px=px).collect()
    total = sum(f["total_count"] for f in feats)
    assert total == pts.count()
    by_tile = {}
    for f in feats:
        by_tile.setdefault((f["tile_x"], f["tile_y"]), []).append(f["ring"])
    for r in tiles.with_tile(pts, zoom).collect():
        rings = by_tile[(r["tile_x"], r["tile_y"])]
        hit = any(
            min(p["lat"] for p in ring) - 1e-9 <= r["lat"]
            <= max(p["lat"] for p in ring) + 1e-9
            and min(p["lon"] for p in ring) - 1e-9 <= r["lon"]
            <= max(p["lon"] for p in ring) + 1e-9
            for ring in rings)
        assert hit, (r["lat"], r["lon"])
    pts.unpersist()


def test_vectorize_raster_no_shuffle(spark):
    """The input is already one row per tile: vectorization must add NO
    Exchange (mapInPandas, not a grouped shuffle)."""
    df = spark.createDataFrame(
        [(12, 0, 0, [0] * 64)],
        "zoom int, tile_x int, tile_y int, raster array<long>")
    out = tiles.vectorize_raster(df, threshold=1, px=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_cell_rollup_pyramid(nodes):
    """Pyramid levels: base == direct fine assignment; each coarser level
    == python regroup of the level below through parent_cell; total count
    preserved at every level (one point scan for the whole pyramid)."""
    from osmspark.functions import hexgrid
    from osmspark.functions.hexgrid import with_hex_cell

    pts = nodes.select("lat", "lon").limit(2000).cache()
    n = pts.count()
    out = tiles.cell_rollup_pyramid(pts, fine_res=9, coarse_res=7)
    by_level = {}
    for r in out.collect():
        by_level.setdefault(r["res"], {})[r["cell"]] = r["cnt"]
    assert set(by_level) == {7, 8, 9}
    base = {r["cell"]: r["cnt"]
            for r in with_hex_cell(pts, 9, out_col="cell")
            .groupBy("cell").count()
            .withColumnRenamed("count", "cnt").collect()}
    assert by_level[9] == base
    for r in (8, 7):
        import numpy as np
        child = by_level[r + 1]
        cells = np.array(list(child), dtype=np.int64)
        parents = hexgrid.parent_cell(cells, r)
        want: dict = {}
        for p, c in zip(parents.tolist(), cells.tolist()):
            want[p] = want.get(p, 0) + child[c]
        assert by_level[r] == want
        assert sum(by_level[r].values()) == n
    pts.unpersist()
