"""spark-submit entry point: the full north-star pipeline, resumable.

Usage (cluster):
  python package.py                      # -> dist/osmspark.zip
  spark-submit --py-files dist/osmspark.zip jobs/run_pipeline.py \
      --docs /path/to/documents_parquet --out /path/to/stages --n-docs 0

Usage (sandbox demo, generates synthetic docs):
  python jobs/run_pipeline.py --n-docs 20000 --out /tmp/osmspark-pipeline

Stages (each a resumable B8 snapshot; kill and rerun to resume):
  1. extract   — interleaved docs -> shaped nodes (B1 + A13)
  2. cells     — hex r8 + s2 l12 assignment (B2/B3)
  3. pip       — two-phase PIP join vs admin/ZIP polygons (B4)
  4. tiles     — z12 tile counts + density rasters (B6)
  5. audits    — the reference's audit tables (A4-A12) as parquet outputs
  6. curation  — LLM-corpus tier over the documents' text spans: exact
     dedup ∩ quality ∩ language, MinHash-LSH verified near-dup pairs,
     then training chunks (overlapping token windows) — each a resumable
     snapshot with lineage like every spatial stage
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default=None, help="input documents parquet")
    ap.add_argument("--out", required=True, help="stage/snapshot root")
    ap.add_argument("--n-docs", type=int, default=20_000,
                    help="synthesize this many docs when --docs is not given")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    # package-or-repo import: works under spark-submit --py-files and locally
    try:
        import osmspark  # noqa: F401
    except ImportError:
        import os

        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))

    from osmspark.datagen import gen_documents, gen_polygons
    from osmspark.functions.hexgrid import with_hex_cell
    from osmspark.functions.s2 import with_s2_cell
    from osmspark.operators import audit
    from osmspark.operators.spatial_join import spatial_join
    from osmspark.operators.tiles import render_density_tiles, tile_counts
    from osmspark.plans.checkpoint import SnapshotStore
    from osmspark.session import build_session
    from osmspark.sources import parse_nodes

    spark: SparkSession = build_session("osmspark-pipeline", cores=args.cores)
    store = SnapshotStore(args.out)

    if args.docs:
        docs = spark.read.parquet(args.docs)
        docs_src = args.docs
    else:
        docs = gen_documents(spark, args.n_docs)
        docs_src = f"synthetic:{args.n_docs}"

    nodes = store.run_stage(
        spark, "extract",
        lambda: parse_nodes(docs).select(
            "id", "lat", "lon",
            F.col("tags")["addr:street"].alias("street"),
            F.col("tags")["addr:postcode"].alias("postcode"),
            F.col("tags")["amenity"].alias("amenity"),
            "user", "uid",
        ),
        inputs=[docs_src],
    )

    cells = store.run_stage(
        spark, "cells",
        lambda: with_s2_cell(with_hex_cell(nodes, 8), 12),
        inputs=["stage:extract"],
    )

    # M6 storage layout: nodes written partitioned by bounded cell bucket
    # (the parquet stand-in for Iceberg bucket(N, cell)); downstream kNN
    # batches read the pre-assigned cell column and skip the per-call
    # assignment scan entirely (knn_kring points_cell_col).  Local-fs
    # _SUCCESS marker makes the write resumable in the sandbox demo; on a
    # real cluster the Iceberg catalog owns this stage's idempotency.
    from osmspark.operators.knn import knn_kring, occupancy_res
    from osmspark.plans.layout import ensure_cell_bucketed

    layout_res = occupancy_res(nodes.select("id", "lat", "lon"), 8, k=10)
    layout_nodes = ensure_cell_bucketed(
        nodes.select("id", "lat", "lon"),
        f"{args.out}/nodes_cell_bucketed", layout_res,
    )
    store.run_stage(
        spark, "knn_layout",
        lambda: knn_kring(
            layout_nodes,
            layout_nodes.limit(200).select(
                F.col("id").alias("query_id"), "lat", "lon"),
            k=5, res=layout_res, points_cell_col="cell",
            # a 200-query batch is under the map-side path's cap; keep it on
            # the ring loop that reads the layout's cell column
            brute_cost_cap=0, n_queries=200,
        ),
        inputs=[f"layout:nodes_cell_bucketed_r{layout_res}"],
    )

    polys = gen_polygons(spark)
    store.run_stage(
        spark, "pip",
        lambda: spatial_join(nodes.select("id", "lat", "lon"), polys, res=8),
        inputs=["stage:extract", "dim:polygons"],
    )

    store.run_stage(
        spark, "tiles",
        lambda: tile_counts(nodes, zoom=12),
        inputs=["stage:extract"],
    )
    store.run_stage(
        spark, "tile_rasters",
        lambda: render_density_tiles(nodes.select("lat", "lon"), zoom=12, px=64),
        inputs=["stage:extract"],
    )

    # cleaned output (A11 update_name + A12 repair + A16 JSON-lines sink):
    # the reference's data.py end product, as a resumable distributed stage
    def build_cleaned():
        streets_full = nodes.filter(F.col("street").isNotNull())
        cleaned = (
            audit.normalize_streets(streets_full)
            .withColumn("postcode", audit.repair_postcode("postcode"))
            .select("id", "lat", "lon", "user", "uid",
                    F.col("normalized_street").alias("street"), "postcode")
        )
        return cleaned

    cleaned = store.run_stage(spark, "cleaned_nodes", build_cleaned,
                              inputs=["stage:extract"])
    from osmspark.operators.shape import write_json_lines

    write_json_lines(cleaned, f"{args.out}/cleaned_nodes_json")

    streets = nodes.select(F.col("street")).filter(F.col("street").isNotNull())
    store.run_stage(spark, "audit_street_norm",
                    lambda: audit.normalized_street_counts(streets),
                    inputs=["stage:extract"])
    store.run_stage(
        spark, "audit_postcodes",
        lambda: nodes.filter(F.col("postcode").isNotNull())
        .select(audit.postcode_class("postcode").alias("pc_class"))
        .groupBy("pc_class").agg(F.count("*").alias("cnt")),
        inputs=["stage:extract"],
    )

    # LLM-corpus curation tier over the documents' TEXT spans (same
    # resumable-snapshot discipline as the spatial stages)
    from osmspark.operators.dedup import verified_near_dup_pairs
    from osmspark.operators.textstats import (
        chunk_documents, curate, redact_pii, repetition_stats,
    )
    from osmspark.sources.spans import explode_spans

    def build_texts():
        return explode_spans(docs, kinds=["text"]).select(
            F.concat_ws("-", "doc_id", "pos").alias("doc_id"), "text"
        )

    texts = store.run_stage(spark, "texts", build_texts, inputs=[docs_src])
    curated = store.run_stage(
        spark, "curated",
        lambda: curate(texts, min_quality=30, langs=("en", "unknown")),
        inputs=["stage:texts"],
    )
    store.run_stage(
        spark, "near_dup_pairs",
        lambda: verified_near_dup_pairs(texts, jaccard_threshold=0.8),
        inputs=["stage:texts"],
    )
    # round-4 hygiene stages: repetition signals (Gopher filters) for the
    # whole text tier, then PII redaction of the curated survivors — the
    # chunker consumes the REDACTED text, the order a real corpus build
    # uses (never chunk text that still carries raw PII)
    store.run_stage(
        spark, "repetition_flags",
        lambda: repetition_stats(texts),
        inputs=["stage:texts"],
    )
    redacted = store.run_stage(
        spark, "pii_redacted",
        lambda: redact_pii(
            texts.join(curated.select("doc_id"), "doc_id", "left_semi")
        ).select("doc_id", F.col("text_redacted").alias("text"),
                 "pii_counts"),
        inputs=["stage:texts", "stage:curated"],
    )
    store.run_stage(
        spark, "chunks",
        lambda: chunk_documents(redacted, max_tokens=64, overlap=8),
        inputs=["stage:pii_redacted"],
    )

    print(json.dumps({"stages": [m["stage"] for m in store.lineage_report()],
                      "total_rows": int(cells.count())}))
    spark.stop()


if __name__ == "__main__":
    main()
