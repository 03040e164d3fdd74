"""Product quantization (PQ) and IVF-PQ — the compressed-corpus ANN tier.

Published algorithm: Jegou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011); the IVF-PQ composition with
residual encoding and ADC (asymmetric distance computation) lookup
tables follows the paper and the open-source FAISS design it spawned.

Why this exists next to `similarity.quantize_embeddings` (int8): int8
cuts a float32 corpus 4x and keeps a usable vector; PQ cuts it
(4*dim)/m x — at dim 64, m 8 that is 32x vs float32 (256 bytes -> 8)
— and the scan never reconstructs vectors: each query builds one
(m x n_codes) dot-product lookup table per probed bucket and scores a
corpus row with m table gathers.  At 10^12 docs x 200 dims the encoded
corpus is ~8-16 TB instead of 800 TB float32, i.e. the difference
between an ANN scan that re-shuffles the corpus per epoch and one whose
cid-bucketed code table fits a modest cluster's page cache.

Search-space convention: everything is COSINE via the normalized-space
trick — corpus vectors are L2-normalized before encoding, queries are
normalized in the kernel, and the ADC score divides by the EXACT
reconstruction norm (computable per subspace because the reconstruction
is a concatenation of codebook entries: |recon|^2 = sum_s |c_s|^2, plus
the centroid term in residual mode which is also per-subspace).  So the
engine returns the exact cosine between the query and the RECONSTRUCTED
vector — the only approximation is the quantization itself, which the
tests measure (recall vs the float brute force) rather than assert.

Spark shape (`similarity._ivf_scan`, the scan `similarity.ivf_topk`
runs): probes and encoded vectors each shuffle ONCE on cid, meet per
bucket, scored by numpy LUT gathers with per-bucket top-k truncation;
only queries*nprobe*k rows reach the global window.  The corpus side of
the shuffle ships (vec_id, cid, m-byte binary code) — nothing else.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmspark.operators.similarity import (_assign_udf, _ivf_scan,
                                           _normalize_rows)


def _check_geometry(dim: int, m: int, n_codes: int) -> int:
    if dim % m != 0:
        raise ValueError(f"PQ: dim {dim} not divisible by m={m} subspaces")
    if not (1 <= n_codes <= 256):
        raise ValueError(f"PQ: n_codes must be in [1, 256] (one byte per "
                         f"subspace code), got {n_codes}")
    return dim // m


def _prep_udf(centroids: np.ndarray | None):
    """(embedding[, cid]) -> the vector PQ actually quantizes: the
    L2-normalized vector, minus the normalized coarse centroid in
    residual mode.  One vectorized pandas UDF so train/encode/decode all
    share the identical prep (a train/encode mismatch here would silently
    destroy recall)."""
    cents = None if centroids is None else _normalize_rows(centroids)

    if cents is None:
        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def prep(emb: pd.Series) -> pd.Series:
            v = _normalize_rows(np.stack(emb.to_numpy()))
            return pd.Series(list(v))
        return prep

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def prep_resid(emb: pd.Series, cid: pd.Series) -> pd.Series:
        v = _normalize_rows(np.stack(emb.to_numpy()))
        v = v - cents[cid.to_numpy()]
        return pd.Series(list(v))
    return prep_resid


def _pq_assign_udf(codebooks: np.ndarray):
    """prepped vector -> array<int> of m nearest-codebook-entry ids (L2,
    per subspace).  Ties break on code id (argmin returns the first)."""
    cb = np.asarray(codebooks, dtype=np.float64)   # (m, K, dsub)
    m, _, dsub = cb.shape
    cb_sq = (cb ** 2).sum(axis=2)                  # (m, K)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vec: pd.Series) -> pd.Series:
        x = np.stack(vec.to_numpy()).reshape(len(vec), m, dsub)
        # ||x - c||^2 = x^2 + c^2 - 2 x.c ; x^2 constant per argmin
        dots = np.einsum("nsd,skd->nsk", x, cb)
        codes = np.argmin(cb_sq[None, :, :] - 2.0 * dots, axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    return assign


def train_pq(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
    cid_col: str | None = None,
) -> np.ndarray:
    """Train per-subspace codebooks -> ndarray (m, n_codes, dim//m).

    Distributed Lloyd in the `similarity.train_centroids` shape, but ALL
    m subspace k-means problems ride ONE aggregate per iteration: assign
    codes with a pandas UDF (codebooks in the closure), posexplode the
    prepped vector once, derive (subspace, code, lane) keys natively, and
    groupBy-mean — (m * n_codes * dsub) = dim * n_codes cells per round,
    the only thing that ever reaches the driver.

    Residual mode (classic IVF-PQ): pass the coarse `centroids` and a
    `cid_col` already on `vectors` (from `similarity._assign_udf` /
    `ivf_pq_index`) — codebooks are then trained on (normalized vector -
    normalized centroid) residuals, which concentrates the code budget on
    the within-bucket detail the coarse quantizer can't express.

    Seeds: the n_codes hash-first rows' prepped subvectors (deterministic,
    no full sort — TakeOrdered).  Empty codes keep their previous entry,
    as in train_centroids."""
    dim = len(vectors.select(vec_col).first()[0])
    dsub = _check_geometry(dim, m, n_codes)

    if centroids is not None:
        if cid_col is None:
            raise ValueError("train_pq: residual mode needs cid_col (the "
                             "coarse assignment column) alongside centroids")
        prepped = vectors.withColumn(
            "__pvec", _prep_udf(centroids)(F.col(vec_col), F.col(cid_col)))
    else:
        prepped = vectors.withColumn(
            "__pvec", _prep_udf(None)(F.col(vec_col)))
    prepped = prepped.select(F.col(id_col).alias("__id"), "__pvec")

    seeds = (
        prepped.withColumn("__h", F.xxhash64(F.col("__id")))
        .orderBy("__h")
        .limit(n_codes)
        .select("__pvec")
        .collect()
    )
    if len(seeds) < n_codes:
        raise ValueError("train_pq: not enough rows to seed n_codes "
                         "codebook entries; lower n_codes")
    seed_m = np.stack([np.array(r[0], dtype=np.float64) for r in seeds])
    cb = np.ascontiguousarray(
        seed_m.reshape(n_codes, m, dsub).transpose(1, 0, 2))  # (m, K, dsub)

    for _ in range(iters):
        ex = (
            prepped.withColumn("__codes",
                               _pq_assign_udf(cb)(F.col("__pvec")))
            .select("__codes", F.posexplode("__pvec").alias("idx", "val"))
            .select(
                (F.col("idx") / dsub).cast("int").alias("sub"),
                F.element_at(
                    "__codes", (F.col("idx") / dsub).cast("int") + 1
                ).alias("code"),
                (F.col("idx") % dsub).alias("j"),
                "val",
            )
        )
        agg = ex.groupBy("sub", "code", "j").agg(F.avg("val").alias("mu"))
        new = cb.copy()
        for r in agg.collect():
            new[r["sub"], r["code"], r["j"]] = r["mu"]
        cb = new
    return cb


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    centroids: np.ndarray | None = None,
    cid_col: str | None = None,
) -> DataFrame:
    """Add an m-byte BINARY code column — one uint8 per subspace.

    Binary, not array<tinyint>: an array column carries per-element
    offsets; a binary blob is exactly m bytes of payload, the honest
    storage unit for the (4*dim)/m compression claim.  Residual mode
    mirrors train_pq (pass the same centroids + cid column)."""
    if out_col in df.columns:
        raise ValueError(f"pq_encode: output column {out_col!r} exists")
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    cb_sq = (cb ** 2).sum(axis=2)
    cents = None if centroids is None else _normalize_rows(centroids)
    if (cents is None) != (cid_col is None):
        raise ValueError("pq_encode: centroids and cid_col go together "
                         "(residual mode) — pass both or neither")

    def _codes(vmat: np.ndarray) -> np.ndarray:
        x = vmat.reshape(len(vmat), m, dsub)
        dots = np.einsum("nsd,skd->nsk", x, cb)
        return np.argmin(cb_sq[None, :, :] - 2.0 * dots, axis=2)

    if cents is None:
        @F.pandas_udf(T.BinaryType())
        def enc(emb: pd.Series) -> pd.Series:
            v = _normalize_rows(np.stack(emb.to_numpy()))
            codes = _codes(v).astype(np.uint8)
            return pd.Series([c.tobytes() for c in codes])
        return df.withColumn(out_col, enc(F.col(vec_col)))

    @F.pandas_udf(T.BinaryType())
    def enc_resid(emb: pd.Series, cid: pd.Series) -> pd.Series:
        v = _normalize_rows(np.stack(emb.to_numpy()))
        v = v - cents[cid.to_numpy()]
        codes = _codes(v).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return df.withColumn(out_col, enc_resid(F.col(vec_col), F.col(cid_col)))


def pq_decode(
    df: DataFrame,
    codebooks: np.ndarray,
    code_col: str = "pq_code",
    out_col: str = "pq_recon",
    centroids: np.ndarray | None = None,
    cid_col: str | None = None,
) -> DataFrame:
    """Reconstruct array<double> vectors from codes (verification /
    downstream-consumer path; the ADC scan never calls this)."""
    if out_col in df.columns:
        raise ValueError(f"pq_decode: output column {out_col!r} exists")
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    cents = None if centroids is None else _normalize_rows(centroids)
    if (cents is None) != (cid_col is None):
        raise ValueError("pq_decode: centroids and cid_col go together")

    def _recon(col: pd.Series) -> np.ndarray:
        codes = np.stack(
            [np.frombuffer(b, dtype=np.uint8) for b in col.to_numpy()])
        if codes.shape[1] != m:
            raise ValueError(
                f"pq_decode: code width {codes.shape[1]} != codebook m={m} "
                "— the table was encoded with different codebooks")
        return cb[np.arange(m)[None, :], codes].reshape(len(codes), m * dsub)

    if cents is None:
        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def dec(code: pd.Series) -> pd.Series:
            return pd.Series(list(_recon(code)))
        return df.withColumn(out_col, dec(F.col(code_col)))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def dec_resid(code: pd.Series, cid: pd.Series) -> pd.Series:
        r = _recon(code) + cents[cid.to_numpy()]
        return pd.Series(list(r))

    return df.withColumn(out_col, dec_resid(F.col(code_col), F.col(cid_col)))


def ivf_pq_index(
    vectors: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    residual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the searchable table: (vec_id, cid int, pq_code binary(m)).

    This is the WRITE-ONCE artifact of the tier — at scale it persists
    partitioned/bucketed by cid and every subsequent scan reads codes
    only; the float corpus never moves again."""
    v = vectors.withColumn("cid", _assign_udf(centroids)(F.col(vec_col)))
    enc = pq_encode(
        v, codebooks, vec_col=vec_col, out_col="pq_code",
        centroids=centroids if residual else None,
        cid_col="cid" if residual else None,
    )
    return enc.select(F.col(id_col).alias("vec_id"), "cid", "pq_code")


def ivf_pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 4,
    residual: bool = True,
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over an `ivf_pq_index` table -> (query_id, rank, vec_id,
    sim) where sim is the EXACT cosine between the normalized query and
    the reconstructed corpus vector (reconstruction norm computed per
    subspace — see module docstring), so `ivf_pq_topk` == brute force
    over `pq_decode`d vectors by identity, and recall vs the FLOAT
    corpus is the measured quantization cost.

    Physical shape = `similarity.ivf_topk`'s (`_ivf_scan`): one shuffle of
    each side on cid, one ADC kernel call per bucket with top-k
    truncation, global window on the survivors.  Per bucket per query the
    kernel builds one (m x n_codes) dot LUT (centroid folded in under
    residual mode) and scores each corpus row with m gathers —
    independent of dim."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = cb.shape
    dt = dict(encoded.dtypes).get("pq_code")
    if dt != "binary":
        raise ValueError(f"ivf_pq_topk: pq_code column is {dt!r}, expected "
                         "binary — build the table with ivf_pq_index")
    cents = _normalize_rows(centroids)
    if cents.shape[1] != m * dsub:
        raise ValueError("ivf_pq_topk: centroid dim != m * dsub")

    # codebook entry norms: |recon|^2 separates per subspace because the
    # reconstruction is a concatenation of per-subspace entries
    cent_sub = cents.reshape(len(cents), m, dsub)

    def adc_sims(cid: int, qdf: pd.DataFrame, vdf: pd.DataFrame):
        # effective per-subspace dictionary for THIS bucket
        eff = cb + (cent_sub[cid][:, None, :] if residual else 0.0)
        eff_nsq = (eff ** 2).sum(axis=2)                    # (m, K)
        Q = _normalize_rows(np.stack(qdf["qv"].to_numpy()))
        Qs = Q.reshape(len(Q), m, dsub)
        lut = np.einsum("qsd,skd->qsk", Qs, eff)            # (nq, m, K)
        codes = np.stack([np.frombuffer(b, dtype=np.uint8)
                          for b in vdf["pq_code"].to_numpy()])  # (nv, m)
        if codes.shape[1] != m:
            raise ValueError(
                f"ivf_pq_topk: code width {codes.shape[1]} != codebook "
                f"m={m} — the index was built with different codebooks")
        nq, nv = len(Q), len(codes)
        dots = np.zeros((nq, nv))
        nsq = np.zeros(nv)
        for s in range(m):
            cs = codes[:, s]
            dots += lut[:, s, :][:, cs]
            nsq += eff_nsq[s, cs]
        return dots / np.maximum(np.sqrt(nsq)[None, :], 1e-12)

    qs = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    return _ivf_scan(qs, encoded.select("vec_id", "cid", "pq_code"), k,
                     centroids, nprobe, adc_sims)
