"""Seeded benchmark inputs, built outside every timed region.

The seed picks which documents exist: the document ids passed to
`osmspark.datagen.documents_from_ids` start at an offset derived from the
seed, so two seeds give two different node sets of the same size and
shape.  Generated documents are cached per (n_docs, seed) as parquet, and
their byte size is the input size that `stored_bytes_per_input_byte`
divides by.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

# doc ids stay below 1e11, which keeps every int64 hash in datagen exact
SEED_STRIDE = 1_000_000
SEED_SLOTS = 100_000


def doc_id_offset(seed: int) -> int:
    return (seed % SEED_SLOTS) * SEED_STRIDE


def parquet_bytes(path: str) -> int:
    """Total size of the parquet part files under `path`."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def ensure_documents(spark, work: str, n_docs: int, seed: int) -> str:
    """Write the seeded documents table once per (n_docs, seed)."""
    from osmspark.datagen import documents_from_ids

    path = os.path.join(work, "docs", f"n{n_docs}_s{seed}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    lo = doc_id_offset(seed)
    ids = spark.range(lo, lo + n_docs, 1, max(8, n_docs // 2_000))
    documents_from_ids(ids, "id").write.mode("overwrite").parquet(path)
    return path


def expected_node_count(docs_path: str) -> int:
    """Node spans in the documents, counted with pyarrow (not Spark)."""
    spans = pq.read_table(docs_path, columns=["spans"]).column("spans")
    kinds = pc.struct_field(pc.list_flatten(spans), "kind")
    return int(pc.sum(pc.equal(kinds, "node")).as_py())


def read_nodes(snapshot_dir: str) -> dict:
    """The nodes snapshot as numpy columns, read with pyarrow (not Spark)."""
    t = pq.read_table(snapshot_dir, columns=["id", "lat", "lon", "street",
                                             "postcode"])
    return {
        "id": np.asarray(t.column("id").to_pylist(), dtype=np.int64),
        "lat": t.column("lat").to_numpy(),
        "lon": t.column("lon").to_numpy(),
        "n_street": len(t) - t.column("street").null_count,
        "n_postcode": len(t) - t.column("postcode").null_count,
    }


def query_pool(nodes: dict, seed: int, n: int) -> list[tuple]:
    """`n` query points at node positions, ranked by a seeded hash of the
    node id, as (query_id, lat, lon) rows."""
    salt = np.uint64((seed * 0xC2B2AE3D27D4EB4F) % (1 << 64))
    h = nodes["id"].astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + salt
    h ^= h >> np.uint64(29)
    pick = np.argsort(h, kind="stable")[:n]
    return [(str(nodes["id"][i]), float(nodes["lat"][i]),
             float(nodes["lon"][i])) for i in pick]


def polygon_rings(polys_df) -> list[tuple]:
    """(poly_id, lat array, lon array) for each polygon of a dimension."""
    out = []
    for r in polys_df.select("poly_id", "ring").collect():
        out.append((r["poly_id"],
                    np.array([p["lat"] for p in r["ring"]], dtype=np.float64),
                    np.array([p["lon"] for p in r["ring"]], dtype=np.float64)))
    return out
