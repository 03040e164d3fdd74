"""M6 — cell-bucketed storage layout (SURVEY §7.1, §4.2 partition pruning).

At 100 TB the shaped-nodes table is written partitioned by a bounded
`cell_bucket` column (pmod of the coarse hex cell) so that:
  * spatial queries touching a cell neighborhood scan only the buckets the
    cells hash into (directory-level partition pruning — `PartitionFilters`
    in the plan, zero I/O for the rest);
  * bucket count is bounded (default 64) regardless of how many distinct
    cells exist, so small-file explosion can't happen;
  * co-located self-joins on cell_bucket avoid a shuffle side.

This is the parquet stand-in for Iceberg `bucket(N, cell)` partition
transforms (no Iceberg jar in-sandbox — SURVEY §7.0); the API is the same
shape so a real catalog can slot in.

Choosing `res`: use `occupancy_res(points, base_res, k)` — the layout
should be at least as fine as the data density demands, or a cell read
(`read_cells`, `read_neighborhood`) lands on hot cells that hold a city
block's worth of rows (a res-8 layout on the dense bench city puts 3*10^5
points in one cell; the occupancy rule picks res 12 with ~10^2).  kNN
does not read the cell column: `knn_kring` indexes each partition's
points itself.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hexgrid import latlon_to_cell, with_hex_cell

DEFAULT_BUCKETS = 64


def occupancy_res(
    points: DataFrame,
    res: int = 8,
    k: int = 10,
    point_id: str = "id",
    lat: str = "lat",
    lon: str = "lon",
    probe_mod: int = 16,
) -> int:
    """The layout resolution for `points`: refine from `res` until the
    hottest cell holds O(k) points (estimated on a 1/probe_mod
    hash-sample; the Spark driver sees ONE max-occupancy scalar).
    Measured: res 8 on the dense bench city holds 3*10^5 points in one
    cell; res 12, which this rule picks, holds ~10^2."""
    target_occ = max(32, 2 * k)
    pts = with_hex_cell(
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


def bucket_of(cell_col, n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.col(cell_col) if isinstance(cell_col, str) else cell_col,
                  F.lit(n_buckets)).cast("int")


def write_cell_bucketed(
    nodes: DataFrame,
    path: str,
    res: int = 7,
    n_buckets: int = DEFAULT_BUCKETS,
    lat: str = "lat",
    lon: str = "lon",
    row_group_bytes: int | None = None,
) -> None:
    """Write nodes partitioned by cell_bucket (carries the cell column),
    CLUSTERED by cell within each file: sortWithinPartitions("cell") makes
    every parquet row group carry a tight [min, max] cell range, so an
    exact `cell IN (...)` filter skips row groups via footer stats — the
    second pruning level under the directory-level bucket pruning.  On an
    unsorted write the same filter reads every row group in the touched
    buckets (each group's stats span the whole bucket); the delta is
    measured, not assumed — tools/layout_prune_bench.py writes this layout
    and the unsorted/flat strawmen side by side and reports bytes read per
    neighborhood query from the Spark stage metrics
    (BENCH_LAYOUT_PRUNE.json).

    row_group_bytes: parquet block size override.  Row-group skipping
    only exists when a file HAS multiple row groups — a sub-128MB bucket
    file is one group and footer stats can't subdivide it, so local-scale
    demos (and fine-pruning deployments) set this smaller; at 100 TB the
    default is fine because bucket files are hundreds of groups anyway."""
    df = with_hex_cell(nodes, res, lat=lat, lon=lon, out_col="cell")
    df = df.withColumn("cell_bucket", bucket_of("cell", n_buckets))
    # sort key MUST lead with the partition column: FileFormatWriter
    # requires its input ordered by the partitionBy columns and inserts
    # its own (non-stable) sort otherwise, silently destroying the cell
    # clustering (observed: a bare sortWithinPartitions("cell") produced
    # unsorted files)
    w = (
        df.repartition("cell_bucket")  # one writer set per bucket dir
        .sortWithinPartitions("cell_bucket", "cell")  # tight group stats
        .write.mode("overwrite")
    )
    if row_group_bytes is not None:
        w = w.option("parquet.block.size", int(row_group_bytes))
    w.partitionBy("cell_bucket").parquet(path)


def ensure_cell_bucketed(
    nodes: DataFrame,
    root: str,
    res: int,
    n_buckets: int = DEFAULT_BUCKETS,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Idempotently materialize the cell-bucketed layout under
    `{root}_r{res}` and return it re-read — the ONE place that encodes
    the layout path/idempotency convention (res-keyed path, local-fs
    _SUCCESS marker; an Iceberg catalog would own idempotency instead).
    Callers (bench, pipeline job) share this instead of each re-encoding
    the convention (round-4 review finding)."""
    import os

    path = f"{root}_r{res}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        write_cell_bucketed(nodes, path, res=res, n_buckets=n_buckets,
                            lat=lat, lon=lon)
    return nodes.sparkSession.read.parquet(path)


def read_cells(
    spark: SparkSession,
    path: str,
    cells,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Read only the rows for `cells` (iterable of cell ids): the bucket
    filter prunes partition directories (check PartitionFilters in the
    plan); the exact cell filter then prunes row groups via parquet stats."""
    cells = [int(c) for c in cells]
    buckets = sorted({c % n_buckets for c in cells})
    df = spark.read.parquet(path)
    return df.filter(
        F.col("cell_bucket").isin(buckets) & F.col("cell").isin(cells)
    )


def read_neighborhood(
    spark: SparkSession,
    path: str,
    lat: float,
    lon: float,
    res: int = 7,
    ring: int = 1,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Convenience: all rows in the k-ring around a point, bucket-pruned."""
    import numpy as np

    from ..functions.hexgrid import kring

    center = latlon_to_cell(np.array([lat]), np.array([lon]), res)
    cells = kring(center, ring)[0].tolist()
    return read_cells(spark, path, cells, n_buckets)
