"""B6 — raster tile rendering and hex-lattice statistics (SURVEY §2.2).

Three layers:
  * `with_tile` / `tile_counts`: Web-Mercator (z/x/y) tile assignment and
    per-tile density — pure native expressions (whole-stage codegen), the
    scale path for 10^12 points: one shuffle keyed by tile.
  * `render_density_tiles`: per-tile PX*PX rasters — PURE NATIVE since
    round 6 (pixel binning + partial-agg groupBy(tile, pix) + run-length
    dense assembly; the shuffle carries sparse counters, not points);
    `render_density_tiles_pandas` keeps the original applyInPandas /
    numpy-histogram2d form as the independent cross-check twin.  Output
    rows (z, tile_x, tile_y, raster array<long>) with deterministic
    binning so rasters are hash-comparable.  `vectorize_raster` turns
    rasters back into hotspot polygons.
  * Hex lattice: `cell_rollup_pyramid` (per-cell counts at every res,
    each level folded from the one below) and four statistics —
    `kde_smooth`, `gi_star`, `morans_i`, `gi_star_spacetime` — composed
    over one private layer: `_lattice_values` (the per-cell or per
    (cell, t_bucket) double aggregate, face-seam guard, optional
    localCheckpoint), `_spread` (one literal-stencil explode of
    (d_cell, d_t, weight) offsets and one groupBy to (wx, w)) and
    `_gi_star_z` (the Gi* moments, z-score, join-back and broadcast).

An integer-grid variant (`int_tile`) bins by exact integer arithmetic —
used for the DuckDB-oracle query (bit-identical across engines).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mercator_xy(lat, lon):
    """lat/lon Columns -> (mx, my) in [0,1)^2 Web-Mercator."""
    mx = (lon + F.lit(180.0)) / F.lit(360.0)
    lat_r = F.radians(lat)
    my = (
        F.lit(0.5)
        - F.log(F.tan(F.lit(math.pi / 4) + lat_r / F.lit(2.0))) / F.lit(2 * math.pi)
    )
    return mx, my


def with_tile(df: DataFrame, zoom: int, lat="lat", lon="lon") -> DataFrame:
    """Adds tile_x/tile_y (Web-Mercator z/x/y scheme), native expressions."""
    n = F.lit(float(1 << zoom))
    mx, my = mercator_xy(F.col(lat), F.col(lon))
    return df.withColumn(
        "tile_x", F.least(F.floor(mx * n), F.lit((1 << zoom) - 1)).cast("int")
    ).withColumn(
        "tile_y", F.least(F.floor(my * n), F.lit((1 << zoom) - 1)).cast("int")
    )


def tile_counts(points: DataFrame, zoom: int, lat="lat", lon="lon") -> DataFrame:
    return (
        with_tile(points, zoom, lat, lon)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("cnt"))
    )


def render_density_tiles(
    points: DataFrame, zoom: int, px: int = 64, lat="lat", lon="lon"
) -> DataFrame:
    """(zoom, tile_x, tile_y, raster) — raster is a row-major px*px count
    grid.

    PURE NATIVE since round 6 (guide §2.3 "aggregate before you
    shuffle"): pixel binning + a partial-aggregating groupBy(tile, pix)
    — the shuffle carries at most px*px sparse counter rows per tile
    instead of EVERY point (the old applyInPandas form shipped all rows
    through Arrow into one Python task per tile, which both moved 10^6x
    more bytes and capped parallelism at the tile count).  A second tiny
    groupBy(tile) scatters the sparse counters into the dense array.

    Binning matches the retained pandas twin (`render_density_tiles_
    pandas`, np.histogram2d over range [0,1]): values in [0,1] bin by
    floor(f*px) with the right edge f==1.0 folded into the last pixel,
    values outside [0,1] (possible only for points past the tile clamp /
    mercator domain) are dropped from the raster while still keeping
    their tile's row.  For power-of-two px (every caller and the frozen
    golden) the two paths are bit-identical — f*px is an exact scaling
    and the histogram's dyadic bin edges are exact; at other px a value
    within 1 ulp of a bin edge could land one pixel off the histogram
    path (documented, not observed)."""
    n = F.lit(float(1 << zoom))
    mx, my = mercator_xy(F.col(lat), F.col(lon))
    pxf = F.lit(float(px))
    prepared = (
        with_tile(points, zoom, lat, lon)
        .withColumn("fx", mx * n - F.col("tile_x"))  # [0,1) within tile
        .withColumn("fy", my * n - F.col("tile_y"))
        .select("tile_x", "tile_y", "fx", "fy")
    )
    in_range = ((F.col("fx") >= 0) & (F.col("fx") <= 1)
                & (F.col("fy") >= 0) & (F.col("fy") <= 1))
    pix = F.when(
        in_range,
        (F.least(F.floor(F.col("fy") * pxf), F.lit(px - 1)) * px
         + F.least(F.floor(F.col("fx") * pxf), F.lit(px - 1))).cast("int"),
    )
    sparse = (
        prepared.select("tile_x", "tile_y", pix.alias("pix"))
        .groupBy("tile_x", "tile_y", "pix")
        .agg(F.count("*").alias("cnt"))
    )
    # collect_list skips NULLs, so out-of-range rows vanish from the
    # entries while their (tile, NULL pix) group row still keeps the tile
    # present.  Dense assembly is RUN-LENGTH over the pix-sorted sparse
    # entries — zeros between consecutive occupied pixels, then the count
    # — because the obvious per-pixel map lookup is a trap: Spark's
    # GetMapValue scans the map linearly, so px*px lookups against a
    # px*px map is O(px^4) per tile (measured: 1.6 s -> 3.7 s on the
    # bench raster).  Every element_at here is an O(1) ARRAY index; total
    # work per tile is exactly px*px emitted elements.
    zero = F.lit(0).cast("long")
    entries = F.array_sort(
        F.collect_list(
            F.when(F.col("pix").isNotNull(),
                   F.struct(F.col("pix"), F.col("cnt")))
        )
    )

    def dense(e):
        n = F.size(e)
        prev_pix = lambda i: F.when(  # noqa: E731 — tiny plan-local helper
            i == 0, F.lit(-1)
        ).otherwise(F.element_at(e, i)["pix"])
        runs = F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat(
                F.array_repeat(
                    zero,
                    (F.element_at(e, i + 1)["pix"] - prev_pix(i) - 1
                     ).cast("int")),
                F.array(F.element_at(e, i + 1)["cnt"]),
            ),
        )
        tail = F.array_repeat(
            zero,
            F.when(n == 0, F.lit(px * px)).otherwise(
                F.lit(px * px - 1) - F.element_at(e, n)["pix"]
            ).cast("int"),
        )
        return F.when(n == 0, F.array_repeat(zero, px * px)).otherwise(
            F.concat(F.flatten(runs), tail)
        )

    return (
        sparse.groupBy("tile_x", "tile_y")
        .agg(entries.alias("e"))
        .select(
            F.lit(zoom).alias("zoom"),
            F.col("tile_x").cast("int").alias("tile_x"),
            F.col("tile_y").cast("int").alias("tile_y"),
            dense(F.col("e")).alias("raster"),
        )
    )


def render_density_tiles_pandas(
    points: DataFrame, zoom: int, px: int = 64, lat="lat", lon="lon"
) -> DataFrame:
    """The pre-round-6 applyInPandas raster path (numpy histogram2d per
    tile group) — kept as the independent cross-check twin for the native
    `render_density_tiles` and for the A/B record; prefer the native form
    everywhere (it shuffles sparse counters, not points)."""
    n = F.lit(float(1 << zoom))
    mx, my = mercator_xy(F.col(lat), F.col(lon))
    prepared = (
        with_tile(points, zoom, lat, lon)
        .withColumn("fx", mx * n - F.col("tile_x"))  # [0,1) within tile
        .withColumn("fy", my * n - F.col("tile_y"))
        .select("tile_x", "tile_y", "fx", "fy")
    )

    def rasterize(pdf: pd.DataFrame) -> pd.DataFrame:
        h, _, _ = np.histogram2d(
            pdf["fy"].to_numpy(),
            pdf["fx"].to_numpy(),
            bins=px,
            range=[[0.0, 1.0], [0.0, 1.0]],
        )
        return pd.DataFrame(
            {
                "zoom": [zoom],
                "tile_x": [int(pdf["tile_x"].iloc[0])],
                "tile_y": [int(pdf["tile_y"].iloc[0])],
                "raster": [h.astype(np.int64).ravel()],
            }
        )

    return prepared.groupBy("tile_x", "tile_y").applyInPandas(
        rasterize,
        schema="zoom int, tile_x int, tile_y int, raster array<long>",
    )


def int_tile_counts(points: DataFrame, cell_deg_u: int = 4000,
                    lat_u="lat_u", lon_u="lon_u") -> DataFrame:
    """Oracle-exact integer tiling: inputs are integer 1e-5-degree units;
    tile = integer division — reproducible verbatim in ANSI SQL."""
    return (
        points.withColumn("tile_x", F.floor(F.col(lon_u) / F.lit(float(cell_deg_u))).cast("long"))
        .withColumn("tile_y", F.floor(F.col(lat_u) / F.lit(float(cell_deg_u))).cast("long"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("cnt"))
    )


def _inv_mercator(mx, my):
    """[0,1)^2 Web-Mercator -> (lat, lon) degrees (numpy)."""
    lon = mx * 360.0 - 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp((0.5 - my) * 2.0 * math.pi))
                     - math.pi / 2.0)
    return lat, lon


def vectorize_raster(tiles: DataFrame, threshold: int,
                     px: int = 64) -> DataFrame:
    """Raster -> VECTOR features: the reverse arrow of B6's raster<->vector
    pair.  Per tile, 4-connected components of pixels with count >=
    threshold become features (zoom, tile_x, tile_y, feature_id, n_pixels,
    total_count, ring) where `ring` is the component's pixel-aligned
    bounding box as a closed lat/lon ring — schema-compatible with the
    spatial_join polygon dim, so extracted hotspots feed straight back
    into the PIP join.

    Scale shape: the input is already one row per tile, so this is
    mapInPandas — ZERO shuffle, embarrassingly parallel, work per row
    bounded by px^2 (the BFS labeling touches each pixel once).
    feature_id is deterministic: components numbered by the row-major
    scan position of their first-encountered pixel (topmost row, then
    leftmost pixel WITHIN that row — not the component-wide min column)."""
    if threshold < 1:
        raise ValueError("threshold must be >= 1")

    def vectorize(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for _, r in pdf.iterrows():
                z = int(r["zoom"])
                tx, ty = int(r["tile_x"]), int(r["tile_y"])
                grid = np.asarray(r["raster"], dtype=np.int64).reshape(px, px)
                mask = grid >= threshold
                seen = np.zeros_like(mask)
                fid = 0
                ys_all, xs_all = np.nonzero(mask)
                for y0, x0 in zip(ys_all, xs_all):
                    if seen[y0, x0]:
                        continue
                    stack = [(int(y0), int(x0))]
                    seen[y0, x0] = True
                    comp = []
                    while stack:
                        y, x = stack.pop()
                        comp.append((y, x))
                        for ny, nx in ((y + 1, x), (y - 1, x),
                                       (y, x + 1), (y, x - 1)):
                            if (0 <= ny < px and 0 <= nx < px
                                    and mask[ny, nx] and not seen[ny, nx]):
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                    cy = np.array([c[0] for c in comp])
                    cx = np.array([c[1] for c in comp])
                    # pixel-edge bbox in tile fractions -> mercator -> latlon
                    n = float(1 << z)
                    fx = np.array([cx.min(), cx.max() + 1], dtype=np.float64) / px
                    fy = np.array([cy.min(), cy.max() + 1], dtype=np.float64) / px
                    la, lo = _inv_mercator((tx + fx) / n, (ty + fy) / n)
                    # mercator y grows SOUTH: fy[0] is the northern edge
                    ring = [
                        {"lat": la[0], "lon": lo[0]},
                        {"lat": la[0], "lon": lo[1]},
                        {"lat": la[1], "lon": lo[1]},
                        {"lat": la[1], "lon": lo[0]},
                        {"lat": la[0], "lon": lo[0]},
                    ]
                    out.append((z, tx, ty, fid, len(comp),
                                int(grid[cy, cx].sum()), ring))
                    fid += 1
            yield pd.DataFrame(
                out, columns=["zoom", "tile_x", "tile_y", "feature_id",
                              "n_pixels", "total_count", "ring"])

    return tiles.mapInPandas(
        vectorize,
        schema="zoom int, tile_x int, tile_y int, feature_id int, "
               "n_pixels long, total_count long, "
               "ring array<struct<lat:double,lon:double>>",
    )


def cell_rollup_pyramid(points: DataFrame, fine_res: int, coarse_res: int,
                        lat: str = "lat", lon: str = "lon",
                        materialize=True, store=None,
                        stage_prefix: str = "pyramid") -> DataFrame:
    """Hierarchical per-cell density pyramid (the hypertable-rollup shape
    for hex cells): counts at EVERY resolution in [coarse_res, fine_res],
    where each coarser level is aggregated FROM the level below via the
    parent mapping — points are scanned and cell-assigned exactly ONCE,
    at fine_res, instead of once per level.

    At 10^12 points the difference is (fine - coarse) full-table scans:
    level r has at most the level-(r+1) cell count of rows, so each
    rollup step shrinks ~7x (aperture-7) and the whole pyramid above the
    base costs a vanishing fraction of the base aggregation.  Parents
    follow the engine's H3 semantics (approximate containment: child
    CENTER re-assigned one level up) applied ITERATIVELY — level r is
    the parent-fold of level r+1, so a cell two or more levels below
    fine reaches its ancestor via parent-of-parent, which in aperture-7
    sliver zones can differ from re-assigning the fine center directly
    at the coarse res (and both can differ from re-assigning the raw
    points).  The iterative identity is what the tests pin.

    Output: (res, cell, cnt) for every level.

    materialize=True (default) localCheckpoints each level before the
    next is derived and before the final union — without it the union's
    branches re-evaluate the base aggregation once per level (measured
    3x at sf0.1: ReuseExchange/AQE does not dedupe the shared subtree
    across union branches here), which is exactly the per-zoom rescan
    this operator exists to avoid.  The checkpointed frames are
    cell-count-sized (thousands of rows), not point-sized.

    materialize='snapshot' materializes each level through a
    `plans.checkpoint.SnapshotStore` (`store=`, stage names
    `{stage_prefix}_r{res}`) instead of ephemeral localCheckpoints: the
    build becomes RESUMABLE (a killed job restarts from the last
    committed level — committed stages load, they never recompute, and
    the base level never rescans the points) and each level's row count
    / lineage lands in the stage manifest like every other B8 stage."""
    from ..functions.hexgrid import parent_udf, with_hex_cell

    if not 0 <= coarse_res <= fine_res:
        raise ValueError("need 0 <= coarse_res <= fine_res")
    snapshot = materialize == "snapshot"
    if snapshot and store is None:
        raise ValueError("materialize='snapshot' requires a SnapshotStore "
                         "via store=")

    def _stage(df_fn, res, inputs):
        if snapshot:
            return store.run_stage(
                points.sparkSession, f"{stage_prefix}_r{res}", df_fn,
                inputs=inputs)
        df = df_fn()
        return df.localCheckpoint(eager=True) if materialize else df

    base = _stage(
        lambda: (
            with_hex_cell(points, fine_res, lat=lat, lon=lon, out_col="cell")
            .groupBy("cell")
            .agg(F.count("*").alias("cnt"))
            .select(F.lit(fine_res).alias("res"), "cell", "cnt")
        ),
        fine_res, inputs=["points"],
    )
    levels = [base]
    cur = base
    for r in range(fine_res - 1, coarse_res - 1, -1):
        prev = cur
        cur = _stage(
            lambda prev=prev, r=r: (
                prev.select(parent_udf(r)(F.col("cell")).alias("cell"), "cnt")
                .groupBy("cell")
                .agg(F.sum("cnt").alias("cnt"))
                .select(F.lit(r).alias("res"), "cell", "cnt")
            ),
            r, inputs=[f"{stage_prefix}_r{r + 1}"],
        )
        levels.append(cur)
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out


def _guard_face_seam(bins: DataFrame, res: int, reach_k: int,
                     opname: str) -> DataFrame:
    """Executor-side raise when any occupied cell sits within `reach_k`
    cell pitches of its cube-face edge — the loud-guard convention for
    the lattice-stencil operators, whose neighbor arithmetic is axial on
    the cell's own face (kring contract).  Pure native expressions: the
    cell's face xy is re-derived with shift/AND arithmetic and the raise
    rides inside `x`, the column every consumer reads."""
    from ..functions.hexgrid import _OFF, _SQRT3, _res_frame

    radius, c, s = _res_frame(res)
    q = ((F.shiftright("cell", 28).bitwiseAND(F.lit((1 << 28) - 1)))
         - F.lit(_OFF)).cast("double")
    r = (F.col("cell").bitwiseAND(F.lit((1 << 28) - 1))
         - F.lit(_OFF)).cast("double")
    xr = F.lit(radius) * (F.lit(_SQRT3) * q + F.lit(_SQRT3 / 2.0) * r)
    yr = F.lit(radius * 1.5) * r
    x = xr * F.lit(c) - yr * F.lit(s)
    y = xr * F.lit(s) + yr * F.lit(c)
    # conservative reach: reach_k+2 center pitches (pitch = sqrt(3)*radius)
    margin = (reach_k + 2) * _SQRT3 * radius
    near = (F.greatest(F.abs(x), F.abs(y)) > F.lit(1.0 - margin))
    return bins.withColumn(
        "x",
        F.when(near, F.raise_error(F.concat(
            F.lit(f"{opname}: occupied cell within the stencil's "
                  "reach of its face edge (cell="),
            F.col("cell").cast("string"),
            F.lit(") — cross-seam neighbors would be silently dropped; "
                  "pass strict_seam=False to accept the documented leak"),
        ))).otherwise(F.col("x")))


def _lattice_values(points: DataFrame, res: int, k: int, opname: str,
                    lat: str, lon: str, value_col: str | None,
                    strict_seam: bool, materialize: bool,
                    bucket=None) -> DataFrame:
    """(cell[, t_bucket], x): the one per-bin aggregate of the lattice
    statistics — ONE native cell assignment and ONE groupBy summing
    `value_col` (or 1.0 per point) into a double `x`.  `bucket` is the
    t_bucket Column of the space-time form; without it the bins are the
    cells alone.

    strict_seam adds the face-seam guard for a k-cell stencil.
    materialize localCheckpoints the aggregate (bin-count-sized, not
    point-sized) before it fans into its consumers — the
    cell_rollup_pyramid convention: without it the point-scan
    aggregation re-executes once per consumer (ReuseExchange does not
    dedupe it here)."""
    from ..functions.hexgrid import with_hex_cell

    x_in = F.col(value_col).cast("double") if value_col else F.lit(1.0)
    cols = [F.col(lat).alias("lat"), F.col(lon).alias("lon")]
    keys = ["cell"]
    if bucket is not None:
        cols.append(bucket.alias("t_bucket"))
        keys.append("t_bucket")
    bins = with_hex_cell(
        points.select(*cols, x_in.alias("__x")), res, out_col="cell",
    ).groupBy(*keys).agg(F.sum("__x").alias("x"))
    if strict_seam:
        bins = _guard_face_seam(bins, res, k, opname)
    if materialize:
        bins = bins.localCheckpoint(eager=True)
    return bins


def _spread(bins: DataFrame, keys, offsets) -> DataFrame:
    """(keys..., wx, w): every bin's `x` spread over ONE literal stencil
    of (d_cell, d_t, weight) offsets, then ONE groupBy(keys) —
    wx = sum(x * weight) and w = the number of contributing bins.

    d_cell is a packed axial offset (dq << 28) + dr: q/r live in
    disjoint bit fields of the cell id, so cell + d_cell IS the
    neighbor — pure int arithmetic, whole-stage codegen, zero Python.
    d_t shifts t_bucket and is read only when it is a key."""
    stencil = F.array(*[
        F.struct(*[F.lit(d).cast("long").alias(key)
                   for key, d in zip(keys, (d_cell, d_t))],
                 F.lit(float(weight)).alias("__w"))
        for d_cell, d_t, weight in offsets
    ])
    return (
        bins.select(*keys, "x", F.explode(stencil).alias("__s"))
        .select(*[(F.col(key) + F.col(f"__s.{key}")).alias(key)
                  for key in keys],
                (F.col("x") * F.col("__s.__w")).alias("__xw"))
        .groupBy(*keys)
        .agg(F.sum("__xw").alias("wx"), F.count("*").alias("w"))
    )


def _gi_star_z(bins: DataFrame, nb: DataFrame, keys) -> DataFrame:
    """(keys..., x, w, wx, z): the `gi_star` z-score of every occupied
    bin from its `_spread` neighborhood sums.  The study-set moments
    (n, mean, population sd S) broadcast as a one-row crossJoin; the
    inner join on the keys restricts the neighborhoods to occupied
    receivers (both sides exit hash-partitioned on them)."""
    stats = bins.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg("x").alias("__mean"),
        F.sqrt(F.avg(F.col("x") * F.col("x"))
               - F.avg("x") * F.avg("x")).alias("__s"),
    )
    wd = F.col("w").cast("double")
    var_term = (F.col("__n") * wd - wd * wd) / (F.col("__n") - F.lit(1.0))
    z = F.when(
        (F.col("__n") > 1) & (F.col("__s") > 0) & (var_term > 0),
        (F.col("wx") - F.col("__mean") * wd)
        / (F.col("__s") * F.sqrt(var_term)),
    )
    return (
        bins.join(nb, list(keys))
        .crossJoin(F.broadcast(stats))
        .select(*keys, "x", "w", "wx", z.alias("z"))
    )


def kde_smooth(points: DataFrame, res: int, k: int = 2, sigma: float = 1.0,
               lat: str = "lat", lon: str = "lon",
               weight_col: str | None = None,
               strict_seam: bool = True) -> DataFrame:
    """(cell, density): hex-lattice Gaussian kernel density — each cell's
    mass spreads over its k-ring with weight exp(-d^2 / (2 sigma^2))
    (d = hex ring distance, sigma in CELL PITCHES), kernel normalized to
    sum 1 so total mass is conserved exactly.

    Plan shape: `_lattice_values` (one cell assignment + groupBy), then
    `_spread` with the normalized weights — a literal (1+3k(k+1))-element
    stencil explode and ONE groupBy(cell) sum.  Entirely whole-stage
    codegen; the convolution never leaves the JVM.

    Face-seam contract: neighbors are axial on the cell's own face (the
    `kring` contract).  strict_seam=True (default) raises executor-side
    when any occupied cell sits within the stencil's reach of its face
    edge — silent cross-seam mass loss is the failure mode this engine
    never ships; pass strict_seam=False to accept the documented leak
    (mass addressed to off-face ids that nothing reads)."""
    from ..functions.hexgrid import kring_offsets

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if sigma <= 0:
        raise ValueError(f"sigma must be positive, got {sigma}")
    offs = kring_offsets(k)
    dists = [(abs(dq) + abs(dr) + abs(dq + dr)) // 2 for dq, dr in offs]
    raw = [math.exp(-(d * d) / (2.0 * sigma * sigma)) for d in dists]
    tot = sum(raw)
    cells = _lattice_values(points, res, k, "kde_smooth", lat, lon,
                            weight_col, strict_seam, materialize=False)
    nb = _spread(cells, ("cell",), [
        ((dq << 28) + dr, 0, w / tot) for (dq, dr), w in zip(offs, raw)])
    return nb.select("cell", F.col("wx").alias("density"))


def gi_star(points: DataFrame, res: int, k: int = 1,
            lat: str = "lat", lon: str = "lon",
            value_col: str | None = None,
            strict_seam: bool = True,
            materialize: bool = True) -> DataFrame:
    """(cell, x, w, wx, z): Getis-Ord Gi* hot-spot z-scores per hex cell
    (Ord & Getis 1995, "Local spatial autocorrelation statistics") with
    binary weights over the filled k-ring INCLUDING self — the Gi* (not
    Gi) convention.

        z_i = (wx_i - mean * w_i)
              / (S * sqrt((n * w_i - w_i^2) / (n - 1)))

    where x_i is the cell's point count (or sum of `value_col`), the
    study set is the OCCUPIED cells (n of them; empty lattice cells are
    not features — the standard feature-set semantics of hot-spot
    tooling, documented rather than hidden), mean/S are the study set's
    mean and population sd, w_i counts the occupied cells within the
    k-ring of i (incl. i) and wx_i sums their x.  z is NULL where the
    variance term degenerates (n <= 1, S == 0, or w_i == n).

    Plan shape: `_lattice_values` (localCheckpointed when materialize,
    the default), `_spread` with weight 1.0, `_gi_star_z`.  Zero Python
    anywhere.

    Face-seam contract: identical to `kde_smooth` — strict_seam=True
    raises executor-side when an occupied cell sits within stencil reach
    of its face edge; the lenient mode under-counts w_i at the seam."""
    from ..functions.hexgrid import kring_offsets

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cells = _lattice_values(points, res, k, "gi_star", lat, lon, value_col,
                            strict_seam, materialize)
    nb = _spread(cells, ("cell",),
                 [((dq << 28) + dr, 0, 1.0) for dq, dr in kring_offsets(k)])
    return _gi_star_z(cells, nb, ("cell",))


def morans_i(points: DataFrame, res: int, k: int = 1,
             lat: str = "lat", lon: str = "lon",
             value_col: str | None = None,
             strict_seam: bool = True,
             materialize: bool = True) -> DataFrame:
    """ONE row (n, w_sum, i, e_i, var_i, z): global Moran's I spatial
    autocorrelation (Moran 1950; z under the normality assumption per
    Cliff & Ord 1981) over the occupied hex cells, binary weights on
    the k-ring EXCLUDING self — the complementary global statistic to
    `gi_star`'s local one, same study-set semantics (occupied cells are
    the features).

        I = (n / W) * sum_i dev_i * sum_{j in N(i)} dev_j
                    / sum_i dev_i^2

    with dev = x - mean.  Binary symmetric weights give S1 = 2W and
    S2 = 4 * sum_i w_i^2, so the normality variance closes over three
    aggregates.  i/z are NULL when degenerate (n <= 1, no variance, or
    no neighboring pairs).

    Plan shape: `_lattice_values`, one broadcast of the two global
    moments, `_spread` of dev over the stencil without its (0, 0)
    offset, ONE final single-row aggregate.  Zero Python; same face-seam
    guard as `gi_star`."""
    from ..functions.hexgrid import kring_offsets

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cells = _lattice_values(points, res, k, "morans_i", lat, lon,
                            value_col, strict_seam, materialize)
    stats = cells.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg("x").alias("__mean"),
    )
    # dev rides in `x`, the column _spread reads
    dev = cells.crossJoin(F.broadcast(stats)).select(
        "cell", (F.col("x") - F.col("__mean")).alias("x"), "__n")
    nb = _spread(dev, ("cell",), [((dq << 28) + dr, 0, 1.0)
                                  for dq, dr in kring_offsets(k)
                                  if (dq, dr) != (0, 0)])
    per = dev.join(nb, "cell", "left").select(
        "__n", F.col("x").alias("dev"),
        F.coalesce(F.col("wx"), F.lit(0.0)).alias("nb_dev"),
        F.coalesce(F.col("w"), F.lit(0)).cast("double").alias("w"),
    )
    agg = per.agg(
        F.first("__n").alias("n"),
        F.sum(F.col("dev") * F.col("nb_dev")).alias("__num"),
        F.sum(F.col("dev") * F.col("dev")).alias("__den"),
        F.sum("w").alias("w_sum"),
        F.sum(F.col("w") * F.col("w")).alias("__w2"),
    )
    n, W = F.col("n"), F.col("w_sum")
    ok = (n > 1) & (F.col("__den") > 0) & (W > 0)
    i_val = F.when(ok, (n / W) * F.col("__num") / F.col("__den"))
    e_i = F.when(n > 1, F.lit(-1.0) / (n - 1))
    s1 = F.lit(2.0) * W
    s2 = F.lit(4.0) * F.col("__w2")
    var_i = F.when(
        ok,
        (n * n * s1 - n * s2 + F.lit(3.0) * W * W)
        / (W * W * (n * n - F.lit(1.0)))
        - e_i * e_i,
    )
    return agg.select(
        n.cast("long").alias("n"),
        W.cast("long").alias("w_sum"),
        i_val.alias("i"),
        e_i.alias("e_i"),
        var_i.alias("var_i"),
        F.when(ok & (var_i > 0),
               (i_val - e_i) / F.sqrt(var_i)).alias("z"),
    )


def gi_star_spacetime(points: DataFrame, res: int, bucket_s: float,
                      k: int = 1, t_neighbors: int = 1,
                      lat: str = "lat", lon: str = "lon",
                      ts_col: str = "ts",
                      value_col: str | None = None,
                      strict_seam: bool = True,
                      materialize: bool = True) -> DataFrame:
    """(cell, t_bucket, x, w, wx, z): space-time Getis-Ord Gi* — the
    emerging-hot-spot statistic over (hex cell, time bucket) bins, the
    spatio-temporal extension of `gi_star` (same Ord & Getis 1995 form;
    the bin neighborhood is the spatial k-ring x the `t_neighbors`
    adjacent time buckets, INCLUDING the bin itself — the standard
    space-time-cube neighborhood).

    The study set is the OCCUPIED bins (n of them): mean/S are bin
    moments, w_i counts occupied neighbor bins, wx_i sums their x —
    exactly gi_star's semantics lifted one dimension, so a burst that is
    unremarkable against the corpus's whole history lights up when its
    bucket's spatial neighborhood concentrates mass.  Bins at the study
    period's time edges simply see fewer occupied neighbors (occupied-set
    semantics; no padding is fabricated).

    `ts_col` accepts a timestamp or numeric seconds (cast to epoch
    seconds); NULL-ts rows are excluded (the sessionize convention).
    t_bucket = floor(epoch / bucket_s).

    Plan shape: gi_star's, with the `_spread` stencil widened to
    (1 + 3k(k+1)) * (2*t_neighbors + 1) (d_cell, d_t) offsets on the
    (cell, t_bucket) key; zero Python.  Face-seam guard identical to
    gi_star."""
    from ..functions.hexgrid import kring_offsets

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if t_neighbors < 0:
        raise ValueError(f"t_neighbors must be >= 0, got {t_neighbors}")
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")
    bucket = F.floor(F.col(ts_col).cast("double")
                     / F.lit(float(bucket_s))).cast("long")
    bins = _lattice_values(
        points.filter(F.col(ts_col).isNotNull()), res, k,
        "gi_star_spacetime", lat, lon, value_col, strict_seam, materialize,
        bucket=bucket)
    keys = ("cell", "t_bucket")
    nb = _spread(bins, keys, [
        ((dq << 28) + dr, dt, 1.0) for dq, dr in kring_offsets(k)
        for dt in range(-t_neighbors, t_neighbors + 1)])
    return _gi_star_z(bins, nb, keys)
