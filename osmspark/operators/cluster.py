"""Density clustering over point tables (Tier-B extension).

DBSCAN (Ester et al., KDD 1996) re-expressed as a composition of the
engine's existing scale primitives — no new Python anywhere:

  * eps-neighbor graph: the seam-exact cell-grid radius self-join
    (`radius_join.within_distance_pairs` — disk-cover candidates + native
    exact filter; the only UDF in the whole plan is the Arrow disk-cell
    generator that join already owns),
  * core flags: ONE degree aggregate over the symmetrized pair list,
  * cluster ids: the same min-label pointer-doubling component pass the
    dedup keep-list uses (`dedup.min_label_components`, O(log diameter)
    rounds), run on CORE-CORE edges only,
  * border assignment: one more equi-join + min aggregate.

Determinism contract (the testable variant of the classic algorithm):
DBSCAN's border-point assignment is scan-order-dependent in the original
formulation; here a border point always adopts the MINIMUM cluster label
among its core neighbors, and a cluster's label is the minimum core id in
its component.  Core set, noise set, and cluster MEMBERSHIP of core points
are identical to the classic algorithm; only border tie-breaks are pinned.
Border points never merge clusters (density-connectivity runs through core
points only) — that is the semantic difference vs plain connected
components on the eps graph, and the thing the crafted pytest checks.

Scale shape: the eps graph is the dominant cost and it is the radius
join's plan (per-point disk cells from the uv-exact ring bound, equi-join
on the cell key, native exact filter — seam-exact at any radius); the
pair list is localCheckpoint-materialized once because three consumers
read it (degree, core-core edges, border join).  Component rounds touch
only core-core EDGES, not points, so sparse noise is free.
"""

from pyspark.sql import DataFrame, functions as F

from .dedup import min_label_components
from .radius_join import within_distance_pairs


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    metric: str = "haversine",
    point_id: str = "id",
    max_iter: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Cluster (point_id, lat, lon) rows -> (point_id, cluster, is_core).

    `eps` is meters for metric='haversine', degrees for 'sq_deg' (the
    radius join's contract; the <= eps boundary is inclusive on both).
    A point is core when its eps-neighborhood INCLUDING ITSELF has at
    least `min_pts` members (the classic |N_eps(p)| >= minPts).  `cluster`
    is the min core id of the point's component — NULL for noise (neither
    core nor within eps of a core).  `max_iter`/`strict` pass through
    to the component engine; the radius join derives its cell
    resolution from `eps`."""
    if int(min_pts) < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    pairs = within_distance_pairs(
        points, eps, metric=metric, point_id=point_id
    ).select("a", "b")
    # three consumers (degree, core-core edges, border join) — materialize
    # once so the disk-cover join doesn't re-run per consumer
    pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("__n"))
    ids = points.select(F.col(point_id).alias("__pid"))
    flags = ids.join(deg, ids["__pid"] == deg["a"], "left").select(
        "__pid",
        (F.coalesce("__n", F.lit(0)) + F.lit(1) >= F.lit(int(min_pts)))
        .alias("is_core"),
    )
    core = flags.where("is_core").select(F.col("__pid").alias("__cid"))
    core_edges = (
        pairs.join(core.withColumnRenamed("__cid", "a"), "a", "semi")
        .join(core.withColumnRenamed("__cid", "b"), "b", "semi")
    )
    comp = min_label_components(
        core_edges, max_iter=max_iter, strict=strict, _caller="dbscan"
    )
    # a core with no core neighbor is still a cluster of its own (its
    # border neighbors attach to it); components only list edged nodes
    core_lbl = core.join(comp, core["__cid"] == comp["node"], "left").select(
        "__cid", F.coalesce("label", F.col("__cid")).alias("cluster")
    )
    noncore = flags.where(~F.col("is_core")).select(F.col("__pid").alias("a"))
    border = (
        sym.join(noncore, "a", "semi")
        .join(core_lbl.withColumnRenamed("__cid", "b"), "b")
        .groupBy("a")
        .agg(F.min("cluster").alias("__bcl"))
    )
    return (
        flags.join(core_lbl, flags["__pid"] == core_lbl["__cid"], "left")
        .join(border, flags["__pid"] == border["a"], "left")
        .select(
            F.col("__pid").alias(point_id),
            F.when(F.col("is_core"), F.col("cluster"))
            .otherwise(F.col("__bcl"))
            .alias("cluster"),
            "is_core",
        )
    )


def cluster_stats(
    labeled: DataFrame, points: DataFrame, point_id: str = "id"
) -> DataFrame:
    """Per-cluster rollup of a `dbscan` result joined back to its points:
    (cluster, n_points, n_core, centroid_lat/lon, bbox).  Noise rows
    (cluster NULL) are excluded — count them upstream if needed."""
    j = labeled.where(F.col("cluster").isNotNull()).join(points, point_id)
    return j.groupBy("cluster").agg(
        F.count("*").alias("n_points"),
        F.sum(F.col("is_core").cast("int")).alias("n_core"),
        F.avg("lat").alias("centroid_lat"),
        F.avg("lon").alias("centroid_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
    )
