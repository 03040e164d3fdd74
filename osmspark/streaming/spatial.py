"""Streaming geospatial rollups — the spatial tier under Structured
Streaming (SURVEY B2/B6 x §2.3): a stream of timestamped points gets its
hex cell assigned by the SAME native SQL projection as the batch path
(stateless projections stream as-is), then rolls up into watermarked
tumbling-window per-cell counts — the shape of a live density-tile feed.

The reference is strictly batch; this is the engine-capability surface a
10^12-doc pipeline uses for incremental tile refresh: per micro-batch the
only state is the windowed aggregate (bounded by the watermark), and the
cell assignment adds no Python and no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hexgrid import with_hex_cell


def streaming_cell_counts(
    points: DataFrame,
    res: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(window_start, cell, cnt) — watermarked tumbling-window counts per
    hex cell over a streaming (or batch: same plan) points DataFrame."""
    cells = with_hex_cell(points, res, lat=lat, lon=lon, out_col="cell")
    return (
        cells.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "cell")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cell", "cnt")
    )


def streaming_tile_counts(
    points: DataFrame,
    zoom: int = 12,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(window_start, tile_x, tile_y, cnt) — Web-Mercator tile analogue of
    streaming_cell_counts; REUSES the batch tile assignment
    (operators.tiles.with_tile — same native mercator expressions, so the
    streaming and batch tile ids can never diverge)."""
    from ..operators.tiles import with_tile

    tiles = with_tile(points, zoom, lat=lat, lon=lon).select(
        F.col(ts_col), "tile_x", "tile_y"
    )
    return (
        tiles.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "tile_x", "tile_y")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "tile_x", "tile_y",
                "cnt")
    )


def streaming_geofence(
    points: DataFrame,
    polys: DataFrame,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Streaming spatial join (geofence alerts): a stream of points joined
    against a STATIC polygon dim.

    The batch two-phase join streams AS-IS: cell assignment is a
    stateless native projection, the cover candidate join and the ring
    join are stream-static equi-joins against the dim's cover and ring
    frames (no streaming state), and the ray-cast refine is a stateless
    Arrow-batched filter — so the stream emits exactly the rows the
    batch join would produce for the same input (equivalence-tested),
    including split hemisphere/polar rings.  One output row per (point,
    containing polygon).

    The static frames are pinned with an eager localCheckpoint, the
    engine's stream-static rule (see streaming_segment_crossings): the
    cached `polygon_cover` frames leave the prepared-frame LRU when
    later calls evict them, and every micro-batch would then re-plan the
    cover's Arrow map inside the static subplan."""
    from ..operators.spatial_join import _pip, polygon_cover

    cover, rings, res_list = polygon_cover(polys, res)
    return _pip(points, cover.localCheckpoint(eager=True),
                rings.localCheckpoint(eager=True), res_list, lat, lon)


def streaming_geofence_counts(
    points: DataFrame,
    polys: DataFrame,
    res: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(window_start, poly_id, cnt) — watermarked tumbling-window entry
    counts per geofence polygon; the live occupancy feed a dispatch /
    alerting pipeline reads.  State is bounded by the watermark; the join
    itself is stateless (see streaming_geofence)."""
    hits = streaming_geofence(points, polys, res=res, lat=lat, lon=lon)
    return (
        hits.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "poly_id")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "poly_id", "cnt")
    )


def streaming_radius_alerts(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "haversine",
    point_id: str = "id",
    lat: str = "lat",
    lon: str = "lon",
    carry_cols: tuple = (),
) -> DataFrame:
    """Streaming within-distance join (proximity alerts): a stream of
    points matched against a STATIC query-site table (store locations,
    sensors, geofence centers) — one row per (site, point) within
    `radius`.

    The batch B5b operator's halves, unchanged: the site table is the
    query batch, fetched to the Spark driver once at call time with its
    disks built there (`_batch_disk_cells`), so it must fit on the driver
    as `within_distance_join`'s batch must.  The static side is then a
    plain local relation — no Python anywhere in the plan.  The STREAM
    side gets only the stateless native cell projection (`_point_half`;
    a stream cannot be persisted, so not `_prepared_points`), and the
    join is a stream-static inner equi-join — no streaming state at all.
    Emits exactly the batch join's rows for the same input
    (equivalence-tested)."""
    from ..operators.radius_join import (_batch_disk_cells, _cell_join,
                                         _point_half)

    # rename PER AXIS: the old both-or-nothing drop broke the mixed case
    # (lat='lat', lon='lng' dropped the real lat column), and silently
    # discarding a pre-existing default-named column would hand the join
    # wrong coordinates — raise instead and let the caller disambiguate
    pts = points
    for axis, name in (("lat", lat), ("lon", lon)):
        if name == axis:
            continue
        if axis in pts.columns:
            raise ValueError(
                f"points has a {axis!r} column but {axis} data was mapped "
                f"from {name!r} — drop or rename the conflicting column")
        pts = pts.withColumnRenamed(name, axis)
    q, res = _batch_disk_cells(queries, radius, metric)
    return _cell_join(q, _point_half(pts, res, point_id, carry_cols),
                      radius, metric, carry_cols)


def streaming_radius_counts(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    point_id: str = "id",
    **kwargs,
) -> DataFrame:
    """(window_start, query_id, cnt) — watermarked tumbling-window counts
    of points entering each site's radius; the live proximity-occupancy
    feed.  The join is stateless (streaming_radius_alerts); only the
    windowed aggregate holds state, bounded by the watermark.

    The timestamp rides THROUGH the join as a carried point-side column
    (radius_join's carry_cols) — no stream-stream re-join, so the only
    stateful node in the plan is the watermarked aggregate."""
    extra_carry = tuple(kwargs.pop("carry_cols", ()))
    hits = streaming_radius_alerts(points, queries, radius,
                                   point_id=point_id,
                                   carry_cols=(ts_col,) + extra_carry,
                                   **kwargs)
    return (
        hits.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "query_id")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "query_id", "cnt")
    )


def streaming_segment_crossings(
    segs_stream: DataFrame,
    segs_static: DataFrame,
    res: int = 9,
    max_stream_span_deg: float = 0.01,
    include_touches: bool = False,
    seg_id: str = "seg_id",
) -> DataFrame:
    """Streaming segment-segment intersection: a stream of segments (CDC
    way edits, GPS-derived edges) matched against a STATIC segment table
    — one row per intersecting (a_id = stream, b_id = static) pair, the
    batch operator's output schema.

    Two structural adaptations make the batch join stream STATELESSLY:

    1. The stream side carries ONE native cell — its midpoint's home
       cell (no Arrow UDF on the stream, no explode).  The STATIC side's
       cover is widened by `buffer_m = M_PER_DEG * max_stream_span_deg`:
       an intersection point P sits on both segments, the stream
       midpoint is within that buffer of P, so the midpoint's cell lands
       inside the static segment's buffered cover — candidate
       completeness holds with a SINGLE stream cell.  Cover cells are
       distinct per static segment, so every pair meets AT MOST ONCE:
       no dropDuplicates, hence no streaming dedup state at all.
    2. The static side's cover UDF is materialized eagerly
       (localCheckpoint) — the engine's stream-static rule: an Arrow UDF
       left inside the static subplan deadlocks the micro-batch
       (observed round 4); with the cover precomputed the join is a
       plain stream-static broadcast equi-join + a fully native
       predicate.

    Stream segments wider than `max_stream_span_deg` (degrees, per axis)
    would break the single-cell completeness argument — they raise
    executor-side, riding the mid_lat column the join always consumes
    (pruning-proof), never silently drop."""
    from ..functions.hexgrid import with_hex_cell
    from ..operators.intersect import (
        _M_PER_DEG,
        _pair_predicate,
        with_segment_cover,
    )

    buffered = with_segment_cover(
        segs_static, res=res,
        buffer_m=_M_PER_DEG * float(max_stream_span_deg))
    static_cells = buffered.select(
        F.col(seg_id).alias("b_id"),
        F.col("lat1").alias("b_lat1"), F.col("lon1").alias("b_lon1"),
        F.col("lat2").alias("b_lat2"), F.col("lon2").alias("b_lon2"),
        F.explode_outer("seg_cells").alias("__cell"),
    ).localCheckpoint(eager=True)

    span = F.greatest(
        F.abs(F.col("lat2") - F.col("lat1")),
        F.abs(F.col("lon2") - F.col("lon1")))
    mid_lat = F.when(
        span > F.lit(float(max_stream_span_deg)),
        F.raise_error(F.concat(
            F.lit("streaming_segment_crossings: stream segment spans "),
            span.cast("string"),
            F.lit(f" deg > max_stream_span_deg={max_stream_span_deg}; "
                  "raise the bound (and the static buffer) or split "
                  "long segments"),
        )).cast("double"),
    ).otherwise((F.col("lat1") + F.col("lat2")) / 2)
    s = segs_stream.select(
        F.col(seg_id).alias("a_id"),
        F.col("lat1").alias("a_lat1"), F.col("lon1").alias("a_lon1"),
        F.col("lat2").alias("a_lat2"), F.col("lon2").alias("a_lon2"),
        mid_lat.alias("__mlat"),
        ((F.col("lon1") + F.col("lon2")) / 2).alias("__mlon"),
    )
    s = with_hex_cell(s, res, lat="__mlat", lon="__mlon",
                      out_col="__scell")
    cand = s.join(F.broadcast(static_cells),
                  s["__scell"] == static_cells["__cell"], "inner")
    kind, iy, ix = _pair_predicate("a_", "b_")
    out = cand.select(
        F.col("a_id"), F.col("b_id"), kind.alias("kind"),
        iy.alias("int_lat"), ix.alias("int_lon"),
    ).filter(F.col("kind").isNotNull())
    if not include_touches:
        out = out.filter(F.col("kind") == "proper")
    return out
