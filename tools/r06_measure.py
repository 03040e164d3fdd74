"""Round-6 measurement harness (guide §1): isolates each bench query,
captures `.explain("formatted")` into plans/r06/, and times the
computation with the noop sink (or the bench's own action where the
action itself is the measured contract, e.g. collect of tiny results).

Usage:
    python tools/r06_measure.py plans                # dump *_before plans
    python tools/r06_measure.py plans --suffix after # dump *_after plans
    python tools/r06_measure.py time q1 q2 ...       # isolated timing
    python tools/r06_measure.py time all

This file is auxiliary evidence only — bench.py stays the frozen driver
contract.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402  (reuse the frozen constants/cache paths)
from pyspark.sql import functions as F  # noqa: E402

PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r06")


def build(spark):
    """Same inputs as bench.main(), returning {name: fn_returning_df}."""
    import math

    from osmspark.datagen import gen_polygons, gen_vectors
    from osmspark.functions.hexgrid import with_hex_cell
    from osmspark.operators import audit
    from osmspark.operators.knn import knn_kring
    from osmspark.operators.ngram_lm import score_perplexity, train_ngram_lm
    from osmspark.operators.pq import ivf_pq_index, ivf_pq_topk, train_pq
    from osmspark.operators.radius_join import within_distance_join
    from osmspark.operators.search import (bm25_topk_indexed, build_postings,
                                           corpus_stats)
    from osmspark.operators.similarity import (_assign_udf, ivf_topk,
                                               quantize_embeddings,
                                               train_centroids)
    from osmspark.operators.spatial_join import spatial_join
    from osmspark.operators.tiles import render_density_tiles, tile_counts
    from osmspark.plans.checkpoint import SnapshotStore
    from osmspark.sources import parse_nodes

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/"))
    n_docs = B.N_DOCS_BY_SF.get(sf, 200_000)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    docs_path = B.ensure_docs(spark, n_docs)
    docs = spark.read.parquet(docs_path)
    polys = gen_polygons(spark)
    store = SnapshotStore(f"{B.CACHE_ROOT}/stages_{n_docs}_{cpus}")
    try:
        nodes = store.load(spark, "nodes")
    except Exception:
        n = parse_nodes(docs).select(
            "id", "lat", "lon", F.col("tags")["addr:street"].alias("street"))
        store.save(n, "nodes", inputs=[docs_path])
        nodes = store.load(spark, "nodes")

    out = {}
    out["span_extract_snapshot"] = lambda: parse_nodes(docs).select(
        "id", "lat", "lon", F.col("tags")["addr:street"].alias("street"))
    out["spatial_pip_join"] = lambda: (
        spatial_join(nodes.select("id", "lat", "lon"), polys, res=8)
        .groupBy("level").agg(F.count("*").alias("cnt")))
    out["tile_counts"] = lambda: tile_counts(
        nodes.select("lat", "lon"), zoom=12)
    out["tile_raster"] = lambda: render_density_tiles(
        nodes.select("lat", "lon"), zoom=12, px=64)
    out["hex_cell_assign"] = lambda: with_hex_cell(
        nodes.select("lat", "lon"), 9).agg(F.countDistinct("hex_r9"))
    out["audit_normalize"] = lambda: audit.normalized_street_counts(
        nodes.select("street").filter(F.col("street").isNotNull()))

    pts = nodes.select("id", "lat", "lon")

    def knn_n(n):
        qs = pts.limit(n).select(F.col("id").alias("query_id"), "lat", "lon")
        return knn_kring(pts, qs, k=10)

    out["knn_kring_50q"] = lambda: knn_n(50)
    out["knn_kring_5000q"] = lambda: knn_n(5000)
    out["knn_kring_100kq"] = lambda: knn_n(100_000)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out["tpch_q1"] = lambda: (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.sum("l_extendedprice"),
             F.avg("l_discount"), F.count("*")))

    radius_qs = nodes.limit(500).select(
        F.col("id").alias("query_id"), "lat", "lon")
    # per-query count and distance sum, as perfbench's `neighbors` consumes
    # the join; 500 queries, as 5000 x 2 km (~2.5e9 pairs over the 2.4M
    # nodes) did not finish within 25 minutes on 4 vCPUs
    out["radius_join_2km_500q_agg"] = lambda: (
        within_distance_join(pts, radius_qs, 2000.0)
        .groupBy("query_id")
        .agg(F.count("*").alias("n"), F.sum("dist").alias("dist_sum")))

    cap = [(-65.0 + 4.0 * math.sin(math.radians(2.0 * lo)), float(lo))
           for lo in range(-180, 181, 10)][::-1]
    box = ([(-10.0, float(lo)) for lo in range(0, 151, 30)]
           + [(40.0, float(lo)) for lo in range(150, -1, -30)]
           + [(-10.0, 0.0)])
    extra_polys = spark.createDataFrame(
        [("polar_cap", "admin", [{"lat": a, "lon": o} for a, o in cap], None),
         ("wide_box", "admin", [{"lat": a, "lon": o} for a, o in box], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")
    mixed_dim = polys.unionByName(extra_polys)
    out["pip_adaptive_mixed_dim"] = lambda: (
        spatial_join(pts, mixed_dim, res=8, min_res=3,
                     max_cover_cells=8192)
        .groupBy("poly_id").agg(F.count("*").alias("cnt")))

    # --- heavy extras built lazily (vectors / postings / LM) --------------
    _st = {}

    # the point x polygon rows of tools/bench_misc.py, same inputs: the
    # 50-polygon dim, every node, the real extracted way segments
    def _zpolys():
        if "zpolys" not in _st:
            zp = gen_polygons(spark).persist()
            zp.count()
            _st["zpolys"] = zp
        return _st["zpolys"]

    def _wsegs():
        if "wsegs" not in _st:
            from osmspark.operators.mapmatch import way_segments
            from osmspark.sources import parse_ways

            ws = way_segments(parse_ways(docs), nodes).select(
                F.concat_ws("_", "way_id", "seg_idx").alias("seg_id"),
                "lat1", "lon1", "lat2", "lon2").persist()
            ws.count()
            _st["wsegs"] = ws
        return _st["wsegs"]

    def q_zonal_stats():
        from osmspark.operators.zonal import zonal_stats

        zpts = nodes.select("lat", "lon", (F.col("lat") * 3.0).alias("val"))
        return zonal_stats(zpts, _zpolys(), value_col="val").agg(
            F.sum("n_points"), F.sum("sum_v"), F.min("min_v"),
            F.max("max_v"))

    def q_zonal_length():
        from osmspark.operators.zonal import zonal_length

        return zonal_length(_wsegs(), _zpolys()).agg(
            F.sum("len_m"), F.sum("n_segments"))

    def q_nearest():
        from osmspark.operators.nearest import nearest_polygon

        return nearest_polygon(
            nodes.select("id", "lat", "lon"), _zpolys(),
            radius_deg=0.02, res=8).agg(
                F.count(F.lit(1)), F.sum("dist_deg"))

    out["zonal_stats_2p4m_pts_50_polys"] = q_zonal_stats
    out["zonal_length_roadkm_50_polys"] = q_zonal_length
    out["nearest_polygon_2p4m_pts"] = q_nearest

    # the radius-family rows of tools/bench_misc.py, same inputs: 200k
    # GPS fixes over a 20k-segment grid network, 200k points in ~2000
    # blobs
    def _mm_inputs():
        if "mm" not in _st:
            ky = 111194.9  # m per degree latitude (engine earth radius)
            dx = 100.0 / (ky * 0.999)  # ~100 m in lon degrees at lat ~1.3
            dy = 0.002  # rows ~222 m apart
            segs = spark.range(100 * 200).select(
                (F.col("id") % 100).cast("string").alias("way_id"),
                F.floor(F.col("id") / 100).cast("int").alias("seg_idx"),
                (F.lit(1.2) + (F.col("id") % 100) * F.lit(dy)).alias("lat1"),
                (F.lit(103.6) + F.floor(F.col("id") / 100) * F.lit(dx))
                .alias("lon1"),
                (F.lit(1.2) + (F.col("id") % 100) * F.lit(dy)).alias("lat2"),
                (F.lit(103.6) + (F.floor(F.col("id") / 100) + 1) * F.lit(dx))
                .alias("lon2"),
            ).withColumn("mid_lat", (F.col("lat1") + F.col("lat2")) / 2) \
                .withColumn("mid_lon", (F.col("lon1") + F.col("lon2")) / 2) \
                .withColumn("len_m", F.lit(100.0)).persist()
            segs.count()
            gps = spark.range(500 * 400).select(
                (F.col("id") % 500).alias("traj_id"),
                F.floor(F.col("id") / 500).cast("double").alias("ts"),
                (F.lit(1.2) + (F.col("id") % 500) % 100 * F.lit(dy)
                 + (F.pmod(F.xxhash64("id"), F.lit(41)) - F.lit(20))
                 * F.lit(1.0 / ky)).alias("lat"),
                (F.lit(103.6) + F.floor(F.col("id") / 500)
                 * F.lit(50.0 / ky)).alias("lon"),
            ).persist()
            gps.count()
            _st["mm"] = (gps, segs)
        return _st["mm"]

    def q_map_match():
        from osmspark.operators.mapmatch import map_match

        gps, segs = _mm_inputs()
        return map_match(gps, segs, radius_m=60.0, sigma_m=10.0)

    def _u(h, salt, mod=999_983):
        return F.pmod(F.xxhash64(h + F.lit(salt)), F.lit(mod)) / F.lit(
            float(mod))

    def q_dbscan():
        from osmspark.operators.cluster import dbscan

        if "blob" not in _st:
            blob = F.col("id") % 2000
            pb = spark.range(200_000).select(
                F.col("id"),
                (F.lit(1.0) + _u(blob, 0) * F.lit(0.5)
                 + (_u(F.col("id"), 7) - F.lit(0.5)) * F.lit(0.002))
                .alias("lat"),
                (F.lit(103.5) + _u(blob, 1_000_000) * F.lit(0.6)
                 + (_u(F.col("id"), 13) - F.lit(0.5)) * F.lit(0.002))
                .alias("lon"),
            ).persist()
            pb.count()
            _st["blob"] = pb
        return dbscan(_st["blob"], 60.0, 5)

    out["map_match_200k_fixes_20k_segs"] = q_map_match
    out["dbscan_200k_pts_60m"] = q_dbscan

    def _vecs():
        if "vecs" not in _st:
            v = gen_vectors(spark, 200_000, 64).persist()
            v.count()
            _st["vecs"] = v
            _st["cents"] = train_centroids(v, n_centroids=256, iters=1)
            _st["qs"] = v.filter(F.col("vec_id") < 100_000).select(
                F.col("vec_id").alias("query_id"), "embedding")
        return _st["vecs"], _st["cents"], _st["qs"]

    def q_ivf():
        v, c, q = _vecs()
        return ivf_topk(v, q, k=10, centroids=c, nprobe=2)

    def q_ivf8():
        v, c, q = _vecs()
        if "v8" not in _st:
            v8 = quantize_embeddings(v).select("vec_id", "qvec").persist()
            v8.count()
            _st["v8"] = v8
        return ivf_topk(_st["v8"], q, k=10, centroids=c, nprobe=2,
                        vec_col="qvec")

    def q_pq():
        v, c, q = _vecs()
        if "enc" not in _st:
            wc = v.withColumn("cid", _assign_udf(c)(F.col("embedding")))
            books = train_pq(wc, m=8, n_codes=256, iters=1, centroids=c,
                             cid_col="cid")
            enc = ivf_pq_index(v, c, books).persist()
            enc.count()
            _st["enc"], _st["books"] = enc, books
        return ivf_pq_topk(_st["enc"], q, k=10, centroids=c,
                           codebooks=_st["books"], nprobe=2)

    out["ivf_gemm_100kq"] = q_ivf
    out["ivf_gemm_int8_100kq"] = q_ivf8
    out["ivf_pq_100kq"] = q_pq

    def _bigdocs():
        if "big" not in _st:
            tdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text")
            reps = spark.range(40).select(F.col("id").alias("rep"))
            big = tdocs.crossJoin(reps).select(
                (F.col("doc_id") * 40 + F.col("rep")).alias("doc_id"), "text"
            ).repartition(64, "doc_id").persist()
            big.count()
            _st["big"] = big
        return _st["big"]

    def q_bm25():
        big = _bigdocs()
        if "post" not in _st:
            post = build_postings(big).persist()
            post.count()
            srow = corpus_stats(post).collect()[0]
            _st["post"] = post
            _st["bm_stats"] = spark.createDataFrame(
                [(srow["n_docs"], srow["avgdl"])],
                "n_docs long, avgdl double")
        _terms = ["hash", "join", "table", "value", "window", "agg", "spark",
                  "data", "row", "scan", "fast", "slow", "filter", "query"]
        bm_qs = spark.createDataFrame(
            [(i, f"{_terms[i % 14]} {_terms[(i // 14) % 14]} "
                 f"{_terms[(i * 5 + 3) % 14]}") for i in range(100)],
            "query_id long, query_text string")
        return bm25_topk_indexed(_st["post"], bm_qs, k=10,
                                 stats=_st["bm_stats"])

    def q_ppl():
        big = _bigdocs()
        if "lm" not in _st:
            lm_counts, lm_V = train_ngram_lm(big, n=3)
            lm_counts = lm_counts.persist()
            lm_counts.count()
            _st["lm"], _st["lmV"] = lm_counts, lm_V
        return score_perplexity(big, _st["lm"], _st["lmV"], n=3).select(
            "doc_id", "lm_logprob", "lm_ngrams", "lm_perplexity")

    out["bm25_100q_200kdocs"] = q_bm25
    out["ngram_ppl_200kdocs"] = q_ppl

    def q_layout():
        from osmspark.plans.layout import ensure_cell_bucketed, occupancy_res
        layout_res = occupancy_res(pts, 8, k=10)
        lnodes = ensure_cell_bucketed(
            pts, f"{B.CACHE_ROOT}/layout_{n_docs}_{cpus}", layout_res)
        layout_qs = nodes.limit(5000).select(
            F.col("id").alias("query_id"), "lat", "lon")
        return knn_kring(lnodes, layout_qs, k=10)

    out["knn_layout_5000q"] = q_layout

    def q_python_task_floor():
        # the fixed cost of Python tasks, without data: a 500-row local
        # query frame fetched as perfbench's `neighbors` builds it (the
        # PythonRDD under createDataFrame(list)), then a no-op mapInArrow
        spark.createDataFrame(
            [(str(i), 0.0, 0.0) for i in range(500)],
            "query_id string, lat double, lon double").toArrow()
        return spark.range(0, 4, numPartitions=4).mapInArrow(
            lambda batches: batches, "id long")

    out["python_task_floor"] = q_python_task_floor
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "plans"
    args = sys.argv[2:]
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2:]

    from osmspark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session("r06-measure", cores=cpus)
    qs = build(spark)
    names = list(qs) if (not args or args == ["all"]) else args

    if mode == "plans":
        os.makedirs(PLANS_DIR, exist_ok=True)
        for name in names:
            df = qs[name]()
            p = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {p}", flush=True)
    elif mode == "time":
        results = {}
        for name in names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"r06:{name}")
            noop(fn())  # warm
            ts = []
            for _ in range(int(os.environ.get("R06_TRIALS", "3"))):
                t0 = time.time()
                noop(fn())  # fn() inside the timer: operators like knn do
                ts.append(round(time.time() - t0, 3))  # eager work in build
            results[name] = ts
            print(f"{name}: {ts} (min {min(ts)})", flush=True)
        print({k: min(v) for k, v in results.items()})
    spark.stop()


if __name__ == "__main__":
    main()
