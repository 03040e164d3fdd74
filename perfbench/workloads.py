"""The benchmark workloads: what one timed operation does, how its output
is checked, and which per-layer metrics its spans give.

`ingest` runs the north-star write path once per operation.  `neighbors`
sends read-only point-query batches from one closed-loop client, each batch
sent after the previous one returned, alternating kNN and radius batches.
"""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from . import checks
from .inputs import polygon_rings, query_pool
from .trace import plan_metric

INGEST_DOCS = 12_000
QUERIES_PER_BATCH = 500
QUERY_POOL_BATCHES = 16
KNN_K = 10
RADIUS_M = 500.0
CHECKED_QUERIES = 25


def _is_python(name: str) -> bool:
    return name in ("ArrowEvalPython", "BatchEvalPython")


def _is_scan(name: str) -> bool:
    return name.startswith("Scan parquet")


def _scan_bytes(spans: list[dict]) -> float:
    return sum(plan_metric(s, _is_scan, "size of files read") for s in spans)


def _by_name(spans: list[dict]) -> dict:
    return {s["name"]: s for s in spans}


def _eff(busy: float, wall: float, cores: int) -> float:
    return busy / (wall * cores) if wall > 0 else 0.0


class Ingest:
    name = "ingest"
    # the second warm-up pass still runs ~15% slower than later ones
    warmup_ops = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.items_per_op = ctx.n_docs

    def prepare(self) -> None:
        from osmspark.datagen import gen_polygons

        self.polys = gen_polygons(self.ctx.spark)
        self.rings = polygon_rings(self.polys)

    def op(self, tracer) -> dict:
        """One pass of the pipeline in jobs/run_pipeline.py."""
        from osmspark.functions.hexgrid import with_hex_cell
        from osmspark.functions.s2 import with_s2_cell
        from osmspark.operators import audit
        from osmspark.operators.spatial_join import spatial_join
        from osmspark.operators.tiles import render_density_tiles, tile_counts

        ctx, store, spark = self.ctx, self.ctx.store, self.ctx.spark
        out = {"manifests": {}}
        with tracer.span("extract") as s:
            m = store.save(ctx.nodes_frame(), "nodes")
            out["manifests"]["nodes"] = s["manifest"] = m
        nodes = store.load(spark, "nodes")
        with tracer.span("cells") as s:
            m = store.save(with_s2_cell(with_hex_cell(nodes, 8), 12), "cells")
            out["manifests"]["cells"] = s["manifest"] = m
        with tracer.span("pip_plan"):
            joined = spatial_join(nodes.select("id", "lat", "lon"),
                                  self.polys, res=8)
        with tracer.span("pip") as s:
            m = store.save(joined, "pip")
            out["manifests"]["pip"] = s["manifest"] = m
        with tracer.span("tiles"):
            out["tiles"] = tile_counts(nodes, zoom=12).collect()
            out["rasters"] = render_density_tiles(
                nodes.select("lat", "lon"), zoom=12, px=64).collect()
        with tracer.span("audit"):
            streets = nodes.select("street").filter(
                F.col("street").isNotNull())
            out["streets"] = audit.normalized_street_counts(streets).collect()
            out["postcodes"] = (
                nodes.filter(F.col("postcode").isNotNull())
                .select(audit.postcode_class("postcode").alias("pc_class"))
                .groupBy("pc_class").agg(F.count("*").alias("cnt"))
                .collect())
        return out

    def check(self, out: dict) -> list[str]:
        n = self.ctx.ref_nodes
        n_nodes = self.ctx.expected_nodes
        man = out["manifests"]
        problems = checks.check_counts("nodes rows", man["nodes"]["n_rows"],
                                       n_nodes)
        problems += checks.check_counts("cells rows", man["cells"]["n_rows"],
                                        n_nodes)
        problems += checks.check_counts(
            "tile counts", sum(r["cnt"] for r in out["tiles"]), n_nodes)
        problems += checks.check_counts(
            "raster sums", sum(sum(r["raster"]) for r in out["rasters"]),
            n_nodes)
        problems += checks.check_counts(
            "street audit", sum(r["cnt"] for r in out["streets"]),
            n["n_street"])
        problems += checks.check_counts(
            "postcode audit", sum(r["cnt"] for r in out["postcodes"]),
            n["n_postcode"])
        problems += checks.check_pip(self.ctx.store_dir("pip"), n, self.rings)
        return problems

    def stored_bytes(self, out: dict) -> int:
        return sum(p["bytes"] for m in out["manifests"].values()
                   for p in m["partitions"])

    def layer_metrics(self, ops: list[tuple], cores: int) -> dict:
        per_op = []
        for spans, _ in ops:
            s = _by_name(spans)
            ex, cells, pip = s["extract"], s["cells"], s["pip"]
            pp = s["pip_plan"]
            saves = (ex, cells, pip)
            written = sum(p["bytes"] for r in saves
                          for p in r["manifest"]["partitions"])
            rows = sum(r["manifest"]["n_rows"] for r in saves)
            s2_busy = min(cells["busy_s"], plan_metric(
                cells, _is_python, "time to run Python workers"))
            share = s2_busy / cells["busy_s"] if cells["busy_s"] else 0.0
            cand = plan_metric(pip, _is_python, "number of output rows")
            matches = pip["manifest"]["n_rows"]
            per_op.append({
                "sources.wall_s": ex["job_wall_s"],
                "sources.busy_s": ex["busy_s"],
                "sources.cpu_s": ex["cpu_s"],
                "sources.gc_s": ex["gc_s"],
                "sources.rows_out": ex["manifest"]["n_rows"],
                "sources.parallel_eff": _eff(ex["busy_s"], ex["job_wall_s"],
                                             cores),
                "sources.failed_tasks": ex["failed_tasks"],
                "checkpoint.save_s": sum(r["wall_s"] - r["job_wall_s"]
                                         for r in saves),
                "checkpoint.bytes_written": written,
                "checkpoint.bytes_per_row": written / rows if rows else 0.0,
                "checkpoint.files": sum(len(r["manifest"]["partitions"])
                                        for r in saves),
                "checkpoint.scan_bytes": _scan_bytes(spans),
                "checkpoint.failed_tasks": sum(r["failed_tasks"]
                                               for r in saves),
                "hexgrid.wall_s": cells["job_wall_s"] * (1 - share),
                "hexgrid.busy_s": cells["busy_s"] - s2_busy,
                "hexgrid.rows": cells["manifest"]["n_rows"],
                "hexgrid.parallel_eff": _eff(cells["busy_s"],
                                             cells["job_wall_s"], cores),
                "hexgrid.failed_tasks": cells["failed_tasks"],
                "s2.wall_s": cells["job_wall_s"] * share,
                "s2.busy_s": s2_busy,
                "s2.failed_tasks": cells["failed_tasks"],
                "spatial_join.plan_s": pp["wall_s"],
                "spatial_join.exec_s": pip["job_wall_s"],
                "spatial_join.candidates": cand,
                "spatial_join.matches": matches,
                "spatial_join.refine_yield": matches / cand if cand else 0.0,
                "spatial_join.python_bytes": plan_metric(
                    pip, _is_python, "data sent to Python workers"),
                "spatial_join.jobs": pp["jobs"] + pip["jobs"],
                "spatial_join.failed_tasks": pp["failed_tasks"]
                + pip["failed_tasks"],
                "tiles.wall_s": s["tiles"]["wall_s"],
                "tiles.jobs": s["tiles"]["jobs"],
                "tiles.stages": s["tiles"]["stages"],
                "tiles.shuffle_bytes": s["tiles"]["shuffle_write_bytes"],
                "tiles.failed_tasks": s["tiles"]["failed_tasks"],
                "audit.wall_s": s["audit"]["wall_s"],
                "audit.shuffle_bytes": s["audit"]["shuffle_write_bytes"],
                "audit.failed_tasks": s["audit"]["failed_tasks"],
            })
        return {k: statistics.median(op[k] for op in per_op)
                for k in per_op[0]}


class Neighbors:
    name = "neighbors"
    warmup_ops = 1
    items_per_op = 2 * QUERIES_PER_BATCH

    def __init__(self, ctx):
        self.ctx = ctx
        self._round = 0

    def prepare(self) -> None:
        self.points = self.ctx.store.load(self.ctx.spark, "nodes").select(
            "id", "lat", "lon")
        pool = query_pool(self.ctx.ref_nodes, self.ctx.seed,
                          QUERIES_PER_BATCH * QUERY_POOL_BATCHES)
        self.batches = [pool[i:i + QUERIES_PER_BATCH]
                        for i in range(0, len(pool), QUERIES_PER_BATCH)]

    def _queries(self, rows):
        return self.ctx.spark.createDataFrame(
            rows, "query_id string, lat double, lon double")

    def op(self, tracer) -> dict:
        """One round: a kNN batch, then a radius batch, each on fresh
        query points from the seeded pool."""
        from osmspark.operators.knn import knn_kring
        from osmspark.operators.radius_join import within_distance_join

        i = 2 * self._round
        self._round += 1
        kq = self.batches[i % len(self.batches)]
        rq = self.batches[(i + 1) % len(self.batches)]
        out = {"knn_q": kq, "radius_q": rq}
        with tracer.span("knn"):
            out["knn"] = knn_kring(self.points, self._queries(kq),
                                   k=KNN_K).collect()
        with tracer.span("radius_join"):
            out["radius"] = (
                within_distance_join(self.points, self._queries(rq), RADIUS_M)
                .groupBy("query_id")
                .agg(F.count("*").alias("n"), F.sum("dist").alias("dist_sum"))
                .collect())
        return out

    def check(self, out: dict) -> list[str]:
        n = self.ctx.ref_nodes
        return (checks.check_knn(out["knn"], out["knn_q"], n, KNN_K,
                                 CHECKED_QUERIES)
                + checks.check_radius(out["radius"], out["radius_q"], n,
                                      RADIUS_M, CHECKED_QUERIES))

    def stored_bytes(self, out: dict) -> int:
        return sum(p["bytes"] for p in self.ctx.snapshot["partitions"])

    def layer_metrics(self, ops: list[tuple], cores: int) -> dict:
        per_op = []
        for spans, out in ops:
            s = _by_name(spans)
            knn, rj = s["knn"], s["radius_join"]
            cells = plan_metric(rj, lambda n: n == "Generate",
                                "number of output rows")
            pairs = sum(r["n"] for r in out["radius"])
            per_op.append({
                "checkpoint.scan_bytes": _scan_bytes([knn, rj]),
                "knn.wall_s": knn["wall_s"],
                "knn.busy_s": knn["busy_s"],
                "knn.parallel_eff": _eff(knn["busy_s"], knn["wall_s"], cores),
                "knn.jobs": knn["jobs"],
                "knn.stages": knn["stages"],
                "knn.shuffle_bytes": knn["shuffle_write_bytes"],
                "knn.failed_tasks": knn["failed_tasks"],
                "radius_join.wall_s": rj["wall_s"],
                "radius_join.busy_s": rj["busy_s"],
                "radius_join.disk_cells": cells,
                "radius_join.pairs": pairs,
                "radius_join.pairs_per_cell": pairs / cells if cells else 0.0,
                "radius_join.failed_tasks": rj["failed_tasks"],
            })
        return {k: statistics.median(op[k] for op in per_op)
                for k in per_op[0]}


WORKLOADS = {w.name: w for w in (Ingest, Neighbors)}
