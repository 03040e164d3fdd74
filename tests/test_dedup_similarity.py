"""Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search (brute force / IVF), text stats, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmspark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def texts(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a slow green turtle walks under the busy bridge in the town",
        "spark shuffles data between executors during wide transformations",
        "columnar formats like parquet enable predicate pushdown and pruning",
    ]
    rows = []
    for i in range(40):
        t = base[i % 4]
        if i % 8 == 4:
            t = t + " extra"          # near-dup of its base
        rows.append((i, t))
    rows.append((100, base[0]))        # exact dup of doc 0
    rows.append((101, ""))             # empty doc edge case
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(texts):
    kept = dedup.exact_dedup(texts)
    n_unique = texts.select("text").distinct().count()
    assert kept.count() == n_unique
    r = {x["doc_id"]: x["n_copies"] for x in kept.collect()}
    assert 0 in r and 100 not in r     # lowest id kept
    assert r[0] >= 6                   # base[0] repeated


def test_minhash_jaccard_estimates(texts, spark):
    """MinHash signature similarity tracks true n-gram Jaccard."""
    pairs = dedup.minhash_dedup_pairs(texts, threshold=0.5, num_perm=64,
                                      bands=16)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # exact duplicates must always be found
    assert (0, 100) in got
    # docs from different bases must not appear
    ex = dedup.ngram_jaccard_pairs(texts, F.lit(1), n=3)
    truth = {(r["a"], r["b"]): r["inter_sz"] / max(r["union_sz"], 1)
             for r in ex.collect()}
    for (a, b) in got:
        assert truth[(a, b)] > 0.3, (a, b, truth[(a, b)])


def test_minhash_deterministic(texts):
    s1 = {r["doc_id"]: list(r["sig"]) for r in
          dedup.minhash_signatures(texts, 32).collect()}
    s2 = {r["doc_id"]: list(r["sig"]) for r in
          dedup.minhash_signatures(texts, 32).collect()}
    assert s1 == s2
    assert s1[0] == s1[100]            # identical text -> identical sig


def test_simhash_near_dups(texts):
    pairs = dedup.simhash_near_dup_pairs(texts, max_hamming=6)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 100)] == 0          # identical docs, distance 0
    # near-dup ('extra' suffix) should be close to its base
    assert any(h <= 6 for (a, b), h in got.items() if a == 0 and b != 100)


def test_short_docs_no_sentinel_bucket(spark):
    """1k empty / 1-word docs (zero shingles) must produce ZERO MinHash or
    SimHash pairs — round 1 paired them all via the all-sentinel signature
    (one O(n^2) LSH mega-bucket + false est_jaccard=1.0)."""
    rows = [(i, "") if i % 3 == 0 else
            (i, " ") if i % 3 == 1 else
            (i, f"w{i}") for i in range(1000)]
    # two genuinely near-dup long docs as a positive control
    rows.append((2000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((2001, "alpha beta gamma delta epsilon zeta eta iota"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = dedup.minhash_dedup_pairs(df, threshold=0.3, num_perm=64, bands=16)
    got = {(r["a"], r["b"]) for r in mh.collect()}
    assert got == {(2000, 2001)}
    sh = dedup.simhash_near_dup_pairs(df, max_hamming=16)
    got_sh = {(r["a"], r["b"]) for r in sh.collect()}
    # no empty-doc pair may appear; 1-word docs have distinct words so any
    # residual pair must involve the two long docs
    assert all(a >= 2000 or (a % 3 == 2 and b % 3 == 2) for a, b in got_sh)
    assert not any(a % 3 != 2 and a < 2000 for a, b in got_sh)


def test_verified_near_dup_pipeline(texts, spark):
    """LSH-candidates -> exact-Jaccard-verify composition: every returned
    pair's jaccard must match a direct all-pairs computation, and no pair
    below threshold may survive."""
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.verified_near_dup_pairs(texts, jaccard_threshold=0.5).collect()}
    ex = dedup.ngram_jaccard_pairs(texts, F.lit(1), n=3)
    truth = {(r["a"], r["b"]): r["inter_sz"] / max(r["union_sz"], 1)
             for r in ex.collect()}
    assert (0, 100) in got                      # exact dup pair survives
    for pair, j in got.items():
        assert abs(j - truth[pair]) < 1e-12     # exact, not estimated
        assert j >= 0.5
    # nothing >= threshold that LSH could see was missed among the same-base
    # near-dups (identical-text pairs are plentiful in the fixture)
    missed = {p for p, j in truth.items() if j >= 0.95} - set(got)
    assert not missed


def test_keep_list_deep_chain(spark):
    """60-node chain (diameter 59) converges within max_iter=20 thanks to
    pointer doubling; every node's keeper is the component min."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "a long, b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    keep = dedup.dedup_keep_list(pairs, docs, max_iter=20)
    got = {r["doc_id"]: r["keeper"] for r in keep.collect()}
    assert got == {i: 0 for i in range(60)}


def test_components_contracted_equals_plain(spark):
    """The star pre-contraction path (contract=True, default) must produce
    EXACTLY the same (node, label) frame as the plain iterated path on a
    mixed graph: dense blobs (the shape contraction targets), long chains,
    2-node components (whole star contracts away — exercises the isolated-
    rep coalesce), and an asymmetric star."""
    import random

    rng = random.Random(71)
    edges = []
    # three dense blobs of 30 around a non-min hub
    for base in (1000, 2000, 3000):
        members = [base + i for i in range(30)]
        hub = members[7]
        edges += [(hub, m) for m in members if m != hub]
        edges += [(rng.choice(members), rng.choice(members))
                  for _ in range(40)]
    # one 25-node chain
    edges += [(5000 + i, 5000 + i + 1) for i in range(24)]
    # five 2-node components
    edges += [(7000 + 2 * i, 7000 + 2 * i + 1) for i in range(5)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "a long, b long")
    plain = {(r["node"], r["label"]) for r in
             dedup.min_label_components(pairs, contract=False).collect()}
    contracted = {(r["node"], r["label"]) for r in
                  dedup.min_label_components(pairs, contract=True).collect()}
    assert contracted == plain
    # and the labels are genuinely the component mins
    assert (1000, 1000) in plain and (1029, 1000) in plain
    assert (5024, 5000) in plain and (7009, 7008) in plain


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string",
    )
    out = {(r["a"], r["b"]): (r["inter_sz"], r["union_sz"])
           for r in dedup.ngram_jaccard_pairs(df, F.lit(1), n=2).collect()}
    # bigrams: {a b, b c, c d} vs {a b, b c, c e} -> inter 2, union 4
    assert out[(1, 2)] == (2, 4)
    assert out[(1, 3)] == (0, 6)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).cache()


def test_cosine_topk_bruteforce(embeddings, spark):
    queries = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk_bruteforce(embeddings, queries, k=5)
    rows = got.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # numpy oracle
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in embeddings.collect()}
    for qid, rlist in by_q.items():
        qv = vecs[qid]
        sims = {
            vid: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
            for vid, v in vecs.items()
        }
        exp = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got_ids = [r["vec_id"] for r in sorted(rlist, key=lambda r: r["rank"])]
        assert got_ids == [e[0] for e in exp]
        assert rlist[0]["vec_id"] == qid  # self is its own nearest


def test_ivf_recall(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(embeddings, n_centroids=8, iters=2)
    assert cents.shape == (8, 64)
    bf_s = {(r["query_id"], r["vec_id"]) for r in
            similarity.cosine_topk_bruteforce(embeddings, queries, k=5).collect()}
    # full probe == exhaustive: partition correctness of the bucketing
    full = similarity.ivf_topk(embeddings, queries, k=5, centroids=cents,
                               nprobe=8)
    full_s = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    assert full_s == bf_s
    # partial probe: recall degrades gracefully even on clusterless
    # (isotropic gaussian) vectors — the worst case for IVF
    part = similarity.ivf_topk(embeddings, queries, k=5, centroids=cents,
                               nprobe=3)
    part_s = {(r["query_id"], r["vec_id"]) for r in part.collect()}
    assert len(part_s & bf_s) / len(bf_s) >= 0.5


def test_ivf_distributed_probes(embeddings):
    """Probe generation must be distributed — the physical plan may contain
    no LocalTableScan (driver-built probe rows) and must carry the probe
    pandas UDF (ArrowEvalPython) and the per-bucket cogroup."""
    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(embeddings, n_centroids=8, iters=0)
    out = similarity.ivf_topk(embeddings, queries, k=5, centroids=cents,
                              nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert out.count() == 50


def _np_ivf_topk(vec_rows, query_rows, cents, nprobe, k):
    """numpy IVF: nearest-centroid buckets, the nprobe nearest buckets per
    query (stable on centroid id), exact cosine top-k over the probed
    vectors, ties on vec_id asc -> {(query_id, rank, vec_id)}."""
    def hat(m):
        m = np.asarray(m, dtype=np.float64)
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    ids = np.array([r[0] for r in vec_rows])
    vn = hat(np.stack([r[1] for r in vec_rows]))
    cn = hat(cents)
    cid = np.argmax(vn @ cn.T, axis=1)
    out = set()
    for qid, qv in query_rows:
        q = hat(np.asarray(qv)[None, :])[0]
        probe = np.argsort(-(cn @ q), kind="stable")[:nprobe]
        sel = np.isin(cid, probe)
        sims = vn[sel] @ q
        order = np.lexsort((ids[sel], -sims))[:k]
        out |= {(qid, r + 1, ids[sel][i]) for r, i in enumerate(order)}
    return out


def test_ivf_gemm_equivalence(embeddings):
    """The per-bucket block-GEMM scan returns exactly the numpy IVF top-k
    (same buckets, same probes, exact cosine ranking over the probed
    vectors), full and partial probe."""
    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(embeddings, n_centroids=8, iters=1)
    vec_rows = [(r["vec_id"], r["embedding"])
                for r in embeddings.select("vec_id", "embedding").collect()]
    query_rows = [(r["query_id"], r["embedding"]) for r in queries.collect()]
    for nprobe in (8, 3):
        got = {(r["query_id"], r["rank"], r["vec_id"])
               for r in similarity.ivf_topk(
                   embeddings, queries, k=5, centroids=cents,
                   nprobe=nprobe).collect()}
        assert got == _np_ivf_topk(vec_rows, query_rows, cents, nprobe, 5)


def test_ivf_zero_centroid(embeddings):
    """A zero centroid (train_centroids keeps a zero seed vector as is)
    must not swallow the corpus: normalized without a guard it is a NaN
    column that wins every bucket assignment yet ranks last among probes,
    so a partial probe returns nothing."""
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(embeddings, n_centroids=8, iters=0)
    cents[0] = 0.0
    bf = {(r["query_id"], r["rank"], r["vec_id"]) for r in
          similarity.cosine_topk_bruteforce(embeddings, queries, k=5)
          .collect()}
    full = {(r["query_id"], r["rank"], r["vec_id"]) for r in
            similarity.ivf_topk(embeddings, queries, k=5, centroids=cents,
                                nprobe=8).collect()}
    assert full == bf
    part = similarity.ivf_topk(embeddings, queries, k=5, centroids=cents,
                               nprobe=2).collect()
    assert len(part) == 25


def test_ivf_string_ids(embeddings):
    """query_id/vec_id keep their input types through the scan — string
    ids come back as strings, ranked as the integer ids are."""
    s_emb = embeddings.select(
        F.format_string("v%04d", "vec_id").alias("vec_id"), "embedding")
    queries = s_emb.filter(F.col("vec_id") < "v0005").select(
        F.concat(F.lit("q"), "vec_id").alias("query_id"), "embedding")
    cents = similarity.train_centroids(embeddings, n_centroids=8, iters=0)
    out = similarity.ivf_topk(s_emb, queries, k=5, centroids=cents,
                              nprobe=3)
    assert dict(out.dtypes) == {"query_id": "string", "rank": "int",
                                "vec_id": "string", "sim": "double"}
    int_q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    want = {(f"qv{r['query_id']:04d}", r["rank"], f"v{r['vec_id']:04d}")
            for r in similarity.ivf_topk(
                embeddings, int_q, k=5, centroids=cents, nprobe=3).collect()}
    assert {(r["query_id"], r["rank"], r["vec_id"])
            for r in out.collect()} == want


def test_embedding_multiband_recall(spark):
    """Round-3 VERDICT item 2: at cos~0.8 with 6-bit signatures a single
    hyperplane band measurably misses planted near-dups; OR-amplification
    over 8 independent bands recovers them.  Construction is fully seeded
    -> deterministic counts (numpy prototype: 6/30 vs 27/30)."""
    rng = np.random.default_rng(7)
    dim, n_base = 64, 30
    base = rng.standard_normal((n_base, dim))
    rows, planted = [], set()
    for i in range(n_base):
        v = base[i]
        noise = rng.standard_normal(dim)
        noise -= (noise @ v) / (v @ v) * v
        v2 = v + 0.75 * np.linalg.norm(v) / np.linalg.norm(noise) * noise
        rows.append((i, [float(x) for x in v]))
        rows.append((n_base + i, [float(x) for x in v2]))
        planted.add((i, n_base + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    single = {(r["a"], r["b"]) for r in similarity.embedding_near_dup_pairs(
        df, threshold=0.75, n_bits=6, n_bands=1, dim=dim).collect()}
    multi = {(r["a"], r["b"]) for r in similarity.embedding_near_dup_pairs(
        df, threshold=0.75, n_bits=6, n_bands=8, dim=dim).collect()}
    assert len(planted & single) <= 0.5 * len(planted)   # single band misses
    assert len(planted & multi) >= 0.8 * len(planted)    # OR-amp recovers
    assert planted & single <= planted & multi           # strict superset


def test_embedding_near_dup_pairs(embeddings, spark):
    # append a near-duplicate of vec 0 and check it is found
    import pyspark.sql.functions as F2

    dup = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(99999).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F2.lit(1.001)).alias("embedding"),
        F.lit(0).alias("label"),
    )
    aug = embeddings.select("vec_id", "embedding", "label").unionByName(dup)
    pairs = similarity.embedding_near_dup_pairs(aug, threshold=0.95, dim=64)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 99999) in got


def test_text_stats(texts):
    out = {r["doc_id"]: r for r in textstats.text_stats(texts).collect()}
    assert out[0]["n_tokens"] == 13
    assert out[0]["lang_id"] == "en"   # plenty of stopwords
    assert out[101]["n_tokens"] == 0 and out[101]["quality"] == 0
    assert out[101]["lang_id"] == "empty"
    assert all(0 <= r["quality"] <= 100 for r in out.values())


def test_fingerprint_stability(texts):
    out = textstats.with_fingerprint(
        texts.select("doc_id", "text"), window=4
    )
    a = {r["doc_id"]: r["fp"] for r in out.collect()}
    assert a[0] == a[100]              # identical docs -> identical fp
    assert a[0] != a[1]
    assert all(v >= 0 for v in a.values())


def test_fingerprint_native_plan(texts):
    """The fingerprint path must stay JVM-side: no Python eval node."""
    out = textstats.with_fingerprint(texts.select("doc_id", "text"), window=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_fingerprint_edge_cases(spark):
    """Token-less docs -> 0; short docs (< window tokens) -> min token
    hash; small edits far apart leave the min window intact more often
    than not (winnowing robustness is structural, not asserted here)."""
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "one two three")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r["fp"] for r in
         textstats.with_fingerprint(df, window=8).collect()}
    assert a[0] == 0 and a[1] == 0
    assert a[2] >= 0 and a[3] >= 0
    # both short docs take the min-token-hash path and (3)'s token set is a
    # superset of (2)'s, so its min can only be <= (2)'s
    assert a[3] <= a[2]


def test_simhash_native_plan(texts):
    """SimHash near-dup candidate generation must stay JVM-side."""
    from osmspark.operators import dedup as dd
    sh = dd.with_simhash(texts.select("doc_id", "text"))
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_multimodal_real_decode_gated(docs):
    """decode_stub=False runs a REAL decoder when PIL is importable and
    raises NotImplementedError where it would run otherwise — the stub
    self-upgrades on a full environment (skipped-not-stubbed here)."""
    import pytest as _pytest

    media = multimodal.media_table(docs).limit(4)
    if multimodal._image_decoder() is None:
        with _pytest.raises(Exception, match="NotImplementedError|decode"):
            multimodal.extract_features(media, decode_stub=False).collect()
        _pytest.skip("no image decoder importable in this sandbox")
    # full environment: decode a real image through the same plumbing
    import io

    from PIL import Image  # noqa: PLC0415

    buf = io.BytesIO()
    Image.new("RGB", (4, 3)).save(buf, "PNG")
    spark = docs.sparkSession
    df = spark.createDataFrame(
        [("d0", "m0", "image", bytearray(buf.getvalue()), {})],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_features(df, decode_stub=False).collect()
    assert rows[0]["features"][:2] == [4.0, 3.0]
    assert len(rows[0]["features"]) == multimodal.FEATURE_DIM


def test_multimodal_plumbing(docs):
    media = multimodal.media_table(docs).cache()
    n = media.count()
    assert n > 50
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == n
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same media_ref -> same features
    f2 = {r["media_ref"]: list(r["features"])
          for r in multimodal.extract_features(media).collect()}
    for r in rows:
        assert list(r["features"]) == f2[r["media_ref"]]
    # resize stub annotates meta; frame sampling yields video rows only
    resized = multimodal.resize_stub(media, 64, 64).collect()
    assert all(r["meta"]["resized"] == "64x64" for r in resized)
    frames = multimodal.frame_sample_stub(media, every_n=4)
    vids = media.filter(F.col("media_type") == "video").count()
    assert frames.select("media_ref").distinct().count() == vids


def _raising_decoder_factory():
    """Simulates a PIL-equipped environment whose decoder rejects the
    synthetic payloads (they are sha256 bytes, not image files)."""

    def decode(payload: bytes):
        raise ValueError("not an image payload")

    return decode


def test_multimodal_auto_decode_fallback(docs):
    """Round-3 ADVICE medium: with a real decoder importable, AUTO mode
    must not crash on non-decodable payloads — every row falls back to the
    stub features, bit-identical to decode_stub=True."""
    media = multimodal.media_table(docs).limit(20)
    auto = {r["media_ref"]: list(r["features"])
            for r in multimodal.extract_features(
                media, decoder_factory=_raising_decoder_factory).collect()}
    stub = {r["media_ref"]: list(r["features"])
            for r in multimodal.extract_features(
                media, decode_stub=True).collect()}
    assert auto == stub


def test_multimodal_strict_rejects_non_image(docs):
    """STRICT mode with a decoder present must refuse audio/video rows
    explicitly (no decoder exists for them) instead of feeding them to the
    image decoder."""
    media = multimodal.media_table(docs).filter(
        F.col("media_type") != "image"
    ).limit(4)
    with pytest.raises(Exception) as ei:
        multimodal.extract_features(
            media, decode_stub=False,
            decoder_factory=_raising_decoder_factory,
        ).collect()
    assert "no real decoder" in str(ei.value) or "NotImplementedError" in str(
        ei.value
    )


def test_multimodal_decode_stub_raises(docs):
    media = multimodal.media_table(docs)
    with pytest.raises(Exception) as ei:
        multimodal.extract_features(media, decode_stub=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decode" in str(ei.value)


def test_curation_pipeline(texts):
    """Curation = dedup keepers ∩ quality floor ∩ language allowlist."""
    kept = {r["doc_id"]: r for r in
            textstats.curate(texts, min_quality=30, langs=("en",)).collect()}
    assert 100 not in kept          # exact dup of doc 0 -> dropped
    assert 101 not in kept          # empty doc: quality 0 -> dropped
    assert 0 in kept
    stats = {r["doc_id"]: r for r in textstats.text_stats(texts).collect()}
    for d, r in kept.items():
        assert stats[d]["quality"] >= 30 and stats[d]["lang_id"] == "en"
        assert r["n_tokens"] == stats[d]["n_tokens"]


def test_token_count_percentiles(texts):
    """Exact rank-based percentiles against a plain-Python computation."""
    got = {r["pct"]: r["n_tokens"] for r in
           textstats.token_count_percentiles(texts).collect()}
    rows = sorted(
        (r["n_tokens"], r["doc_id"])
        for r in textstats.text_stats(texts).collect()
    )
    import math
    n = len(rows)
    for p in (50, 90, 99):
        assert got[p] == rows[math.ceil(n * p / 100.0) - 1][0]


def test_chunk_documents(texts):
    """Chunk windows tile the token stream: each chunk is the exact token
    slice [start, start+max); overlapping prefix matches the previous
    chunk's suffix; token-less docs emit nothing."""
    out = textstats.chunk_documents(texts, max_tokens=5, overlap=2)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"]), (r["chunk_n_tokens"], r["chunk_text"]))
        for r in out.collect()
    )
    by_doc = {}
    for (d, c), v in rows:
        by_doc.setdefault(d, []).append(v)
    src = {r["doc_id"]: r["text"].lower().split()
           for r in texts.collect()}
    step, overlap = 5 - 2, 2
    for d, chunks in by_doc.items():
        toks = src[d]
        # starts bounded at n-overlap-1: no trailing chunk made ONLY of
        # overlap tokens the previous chunk already emitted (round-3
        # ADVICE); full token coverage still holds
        starts = [s for s in range(0, len(toks), step)
                  if s <= max(len(toks) - overlap - 1, 0)]
        assert len(chunks) == len(starts)
        covered = set()
        for i, (nt, ct) in enumerate(chunks):
            want = toks[starts[i]:starts[i] + 5]
            assert ct.split() == want and nt == len(want)
            covered.update(range(starts[i], starts[i] + nt))
        assert covered == set(range(len(toks)))  # every token in a chunk
    assert 101 not in by_doc  # empty doc -> no chunks
    # zero Python in the plan (pure map-side)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_stratified_sample(texts):
    """Per-stratum quota: exactly min(quota, stratum size) rows kept per
    stratum, deterministic across calls; fraction mode is map-side."""
    strat = texts.withColumn("lang", F.when(F.col("doc_id") % 2 == 0,
                                            "en").otherwise("de"))
    a = textstats.stratified_sample(strat, "lang", per_stratum=5)
    b = textstats.stratified_sample(strat, "lang", per_stratum=5)
    ra = sorted(r["doc_id"] for r in a.collect())
    rb = sorted(r["doc_id"] for r in b.collect())
    assert ra == rb and len(ra) == 10
    cnt = {r["lang"]: r["n"] for r in
           a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert cnt == {"en": 5, "de": 5}
    frac = textstats.stratified_sample(strat, "lang", fraction=0.5)
    plan = frac._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # fraction mode must not shuffle
    with pytest.raises(ValueError):
        textstats.stratified_sample(strat, "lang")


def test_stratified_quota_two_phase_skew_safe(spark):
    """Quota mode is two-phase top-N (round-3 VERDICT item 4): a dominant
    stratum pre-ranks across n_presplit salt buckets before the final
    per-stratum window, and the result equals the single-window form."""
    import pyspark.sql.functions as F2

    # 90% of rows in one stratum — the skew case the two-phase form exists
    # for
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "en").otherwise("de").alias("lang"),
    )
    got = textstats.stratified_sample(docs, "lang", per_stratum=25,
                                      n_presplit=8)
    # single-window reference (the pre-phase must not change the result)
    from pyspark.sql import Window

    h = F2.xxhash64(F2.col("doc_id"), F2.lit(42))
    w = Window.partitionBy("lang").orderBy(h.asc(), F2.col("doc_id").asc())
    ref = (
        docs.withColumn("__rn", F2.row_number().over(w))
        .filter(F2.col("__rn") <= 25).drop("__rn")
    )
    assert (sorted(r["doc_id"] for r in got.collect())
            == sorted(r["doc_id"] for r in ref.collect()))
    # the plan carries BOTH window phases (pre-rank + final rank)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 2


def test_stratified_sample_hash_expr(spark):
    """hash_expr overrides the sampling hash (oracle reproducibility):
    both modes keep exactly the rows the custom hash admits."""
    import pyspark.sql.functions as F2

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    h = (F2.col("doc_id") * 7919 + 13) % 104729
    frac = textstats.stratified_sample(docs, "lang", fraction=0.25,
                                       hash_expr=h)
    want = {i for i in range(100) if ((i * 7919 + 13) % 104729) % (1 << 20)
            < int(0.25 * (1 << 20))}
    assert {r["doc_id"] for r in frac.collect()} == want
    quota = textstats.stratified_sample(docs, "lang", per_stratum=10,
                                        hash_expr=h)
    want_q = sorted(range(100),
                    key=lambda i: ((i * 7919 + 13) % 104729, i))[:10]
    assert sorted(r["doc_id"] for r in quota.collect()) == sorted(want_q)


def test_decontaminate(spark):
    """Overlap fractions match a hand computation; benchmark-free and
    shingle-less docs report 0.0."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),   # 3 shingles, all leak
         (1, "alpha beta gamma nope nope2"),      # 1 of 3 shingles leaks
         (2, "totally unrelated text here now"),  # 0 leak
         (3, "ab")],                              # shingle-less
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.decontaminate(docs, bench, n=3, threshold=0.5).collect()}
    assert out[0]["overlap"] == 1.0 and out[0]["contaminated"]
    assert abs(out[1]["overlap"] - 1 / 3) < 1e-9 and not out[1]["contaminated"]
    assert out[2]["overlap"] == 0.0 and not out[2]["contaminated"]
    assert out[3]["n_sh"] == 0 and out[3]["overlap"] == 0.0


def _rep_oracle(text, n=2):
    toks = [t for t in text.lower().strip().split() if t]
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    from collections import Counter
    c = Counter(grams)
    top = min(((-v, g) for g, v in c.items()), default=None)
    dup = sum(v for v in c.values() if v >= 2)
    return (len(toks), len(set(toks)),
            top[1] if top else None, -top[0] if top else 0, dup)


def test_repetition_stats_vs_python_oracle(texts):
    got = {r["doc_id"]: (r["n_tokens"], r["n_distinct_tokens"],
                         r["top_ngram"], r["top_ngram_n"], r["dup_ngram_n"])
           for r in textstats.repetition_stats(texts).collect()}
    for r in texts.collect():
        assert got[r["doc_id"]] == _rep_oracle(r["text"]), r["doc_id"]


def test_repetition_stats_hand_cases(spark):
    df = spark.createDataFrame(
        [(0, "a b a b a b"),        # top bigram 'a b' x3; 'b a' x2; dup all 5
         (1, "x y z"),              # no repeats
         (2, "w"),                  # single token -> no bigrams
         (3, ""),                   # empty
         (4, "t t t t")],           # 't t' x3
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert (got[0]["top_ngram"], got[0]["top_ngram_n"],
            got[0]["dup_ngram_n"]) == ("a b", 3, 5)
    assert got[1]["top_ngram_n"] == 1 and got[1]["dup_ngram_n"] == 0
    assert got[2]["top_ngram"] is None and got[2]["top_ngram_n"] == 0
    assert got[3]["n_tokens"] == 0 and got[3]["top_ngram"] is None
    assert (got[4]["top_ngram"], got[4]["top_ngram_n"],
            got[4]["dup_ngram_n"]) == ("t t", 3, 3)


def test_repetition_stats_trigram_and_plan(texts):
    """n=3 path agrees with the python oracle; the whole operator is
    native and map-side (no Python eval, no Exchange)."""
    got = {r["doc_id"]: (r["top_ngram"], r["top_ngram_n"], r["dup_ngram_n"])
           for r in textstats.repetition_stats(texts, n=3).collect()}
    for r in texts.collect():
        _, _, tg, tn, dn = _rep_oracle(r["text"], n=3)
        assert got[r["doc_id"]] == (tg, tn, dn), r["doc_id"]
    out = textstats.repetition_stats(texts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    assert "Exchange" not in plan, plan


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(0, "mail bob.smith+x@exa-mple.org now"),
         (1, "call (555) 123-4567 or +1 555.123.4567 twice"),
         (2, "host 192.168.0.1 and mail a@b.io from 10.0.0.255"),
         (3, "clean text with no pii at all"),
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.redact_pii(df).collect()}
    assert out[0]["text_redacted"] == "mail <email> now"
    assert out[0]["pii_counts"]["email"] == 1
    assert out[1]["text_redacted"] == "call <phone> or <phone> twice"
    assert out[1]["pii_counts"]["phone"] == 2
    assert out[2]["text_redacted"] == "host <ipv4> and mail <email> from <ipv4>"
    assert out[2]["pii_counts"] == {"email": 1, "phone": 0, "ipv4": 2}
    assert out[3]["text_redacted"] == out[3]["text"]
    assert all(v == 0 for v in out[3]["pii_counts"].values())
    assert out[4]["text_redacted"] == ""
    # idempotent: placeholders contain no redactable substrings
    again = {r["doc_id"]: r["text_redacted"] for r in textstats.redact_pii(
        spark.createDataFrame(
            [(k, v["text_redacted"]) for k, v in out.items()],
            "doc_id long, text string")).collect()}
    for k, v in out.items():
        assert again[k] == v["text_redacted"]
    # native plan, map-side only
    plan = textstats.redact_pii(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_quantize_embeddings_roundtrip(spark):
    import numpy as np

    from osmspark.datagen import gen_vectors

    vecs = similarity.quantize_embeddings(gen_vectors(spark, 200, 16))
    back = similarity.dequantize_embeddings(
        vecs.select("vec_id", "qvec", "qscale",
                    F.col("embedding").alias("orig")),
        out_col="emb2")
    for r in back.collect():
        orig = np.array(r["orig"], dtype=np.float64)
        got = np.array(r["emb2"], dtype=np.float64)
        assert np.all(np.abs(got - orig) <= r["qscale"] / 2 * (1 + 1e-9)), r["vec_id"]
        assert np.max(np.abs(np.array(r["qvec"]))) <= 127
    # zero vector: scale 1, zeros out, exact roundtrip
    z = spark.createDataFrame([(0, [0.0] * 4)],
                              "vec_id long, embedding array<double>")
    r = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(z), out_col="emb2").collect()[0]
    assert r["qscale"] == 1.0 and list(r["emb2"]) == [0.0] * 4
    # native, map-side
    plan = similarity.quantize_embeddings(
        gen_vectors(spark, 10, 8))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_redact_pii_counts_follow_the_chain(spark):
    """Counts reconcile with the emitted placeholders: an IP inside an
    email host is consumed by the email replacement and must count 0."""
    df = spark.createDataFrame(
        [(0, "reach admin@10.0.0.1.example.com or 10.0.0.9 today")],
        "doc_id long, text string")
    r = textstats.redact_pii(df).collect()[0]
    assert r["text_redacted"] == "reach <email> or <ipv4> today"
    assert r["pii_counts"]["email"] == 1
    assert r["pii_counts"]["ipv4"] == 1      # only the bare IP


def test_dequantize_default_composes(spark):
    """dequantize(quantize(df)) with defaults must not collide with the
    kept input column; writing onto an existing name raises."""
    from osmspark.datagen import gen_vectors

    df = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(gen_vectors(spark, 5, 8)))
    assert "dequantized" in df.columns and "embedding" in df.columns
    df.select("embedding", "dequantized").collect()   # unambiguous
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already exists"):
        similarity.dequantize_embeddings(
            similarity.quantize_embeddings(gen_vectors(spark, 5, 8)),
            out_col="embedding")


def test_quantize_rejects_existing_output_cols(spark):
    from osmspark.datagen import gen_vectors

    q = similarity.quantize_embeddings(gen_vectors(spark, 3, 4))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already exists"):
        similarity.quantize_embeddings(q)   # qvec/qscale already there


def test_native_dot_survives_int8_lanes(spark):
    """Regression: the zip_with/aggregate dot ran its lane products at the
    LANE type, so feeding the native paths a quantized array<tinyint>
    column (127*127 > tinyint max) threw BINARY_ARITHMETIC_OVERFLOW under
    ANSI and silently wrapped with ANSI off.  The products must upcast to
    double, making cosine on the int8 corpus agree with float cosine up
    to the quantization error."""
    from osmspark.datagen import gen_vectors

    q = similarity.quantize_embeddings(gen_vectors(spark, 40, 16))
    rows = q.select(
        "vec_id",
        similarity.cosine_sim_col(F.col("qvec"), F.col("qvec"))
        .alias("self_sim"),
        similarity.cosine_sim_col(F.col("qvec"), F.col("embedding"))
        .alias("cross_sim"),
    ).collect()
    assert rows, "empty fixture"
    for r in rows:
        assert abs(r["self_sim"] - 1.0) < 1e-9, r
        # int8 vs its own float source: within quantization error
        assert r["cross_sim"] > 0.99, r
    # brute-force top-1 over the int8 corpus finds each vector itself
    vv = q.select("vec_id", F.col("qvec").alias("embedding"))
    qq = q.select(F.col("vec_id").alias("query_id"),
                  F.col("qvec").alias("embedding")).limit(5)
    top = similarity.cosine_topk_bruteforce(vv, qq, k=1).collect()
    assert {(r["query_id"], r["vec_id"]) for r in top} == \
        {(r["query_id"], r["query_id"]) for r in top}
    # the upcast must not widen the plan beyond codegen (still no Python)
    plan = q.select(
        similarity.cosine_sim_col(F.col("qvec"), F.col("qvec"))
        .alias("s"))._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_textstats_null_text_reads_as_empty(spark):
    """NULL text must report the same zeros as empty text everywhere —
    F.size of a null array is -1, so without the coalesce every count
    came back -1 with null-propagated gram stats (round-5 ADVICE)."""
    df = spark.createDataFrame(
        [("a", None), ("b", ""), ("c", "x y x y")],
        "doc_id string, text string")
    ts = {r["doc_id"]: r.asDict() for r in textstats.text_stats(df).collect()}
    assert ts["a"] == {**ts["b"], "doc_id": "a"}
    assert ts["a"]["n_tokens"] == 0 and ts["a"]["n_subtokens"] == 0
    assert ts["a"]["n_stopwords"] == 0 and ts["a"]["quality"] == 0
    assert ts["a"]["lang_id"] == "empty"
    rep = {r["doc_id"]: r.asDict()
           for r in textstats.repetition_stats(df).collect()}
    assert rep["a"] == {**rep["b"], "doc_id": "a"}
    assert rep["a"]["n_tokens"] == 0 and rep["a"]["n_distinct_tokens"] == 0
    assert rep["a"]["top_ngram"] is None and rep["a"]["dup_ngram_n"] == 0
    assert rep["c"]["dup_ngram_n"] == 2          # 'x y' twice
    # chunking drops null docs exactly like empty docs
    chunks = textstats.chunk_documents(df, max_tokens=2, overlap=0)
    assert {r["doc_id"] for r in chunks.collect()} == {"c"}


def test_ivf_gemm_int8_recall_and_error(embeddings):
    """The IVF block-GEMM scan run directly over the int8-quantized corpus
    (`vec_col="qvec"`).  Bounds are MEASURED on this fixture (sf0.001
    embeddings, 64-dim, 8 centroids, iters=1): recall vs the float corpus
    0.98 (nprobe=8) / 1.0 (nprobe=3), max |sim error| vs exact cosine
    0.0015 — pinned with slack (>=0.9 recall, <=0.005 error) so a
    legitimate numeric drift doesn't flake while a broken dequantize
    assumption (scale not cancelling) fails loudly: dropping the per-row
    normalization in the kernel pushes the error above 0.1."""
    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = similarity.train_centroids(embeddings, n_centroids=8, iters=1)
    q8 = similarity.quantize_embeddings(embeddings)
    vecs = {r["vec_id"]: np.array(r["embedding"], float)
            for r in embeddings.collect()}
    for nprobe in (8, 3):
        flt = {(r["query_id"], r["vec_id"])
               for r in similarity.ivf_topk(
                   embeddings, queries, k=5, centroids=cents,
                   nprobe=nprobe).collect()}
        rows = similarity.ivf_topk(
            q8, queries, k=5, centroids=cents, nprobe=nprobe,
            vec_col="qvec").collect()
        i8 = {(r["query_id"], r["vec_id"]) for r in rows}
        assert len(flt & i8) / len(flt) >= 0.9, (nprobe, flt ^ i8)
        assert len(rows) == 50                      # k per query, both paths
        for r in rows:
            a, b = vecs[r["query_id"]], vecs[r["vec_id"]]
            exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert abs(exact - r["sim"]) <= 0.005, (r, exact)


def test_ivf_gemm_int8_ships_tinyint(embeddings):
    """The analyzed plan of the int8 scan must carry the corpus side into
    the cogroup as array<tinyint> — the whole point is shuffling 1-byte
    lanes; a silent upcast-to-double before the exchange would ship the
    same bytes as the float path."""
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = similarity.train_centroids(embeddings, n_centroids=4, iters=0)
    out = similarity.ivf_topk(
        similarity.quantize_embeddings(embeddings), queries, k=3,
        centroids=cents, nprobe=2, vec_col="qvec")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # the corpus vectors enter the cid exchange as the qvec column itself
    # (plan shows `qvec#N AS vv#M` — a bare attribute passthrough, no cast
    # node between the tinyint transform and the shuffle), and the only
    # array cast in the corpus branch is quantize's own `as tinyint`
    import re as _re
    assert _re.search(r"qvec#\d+ AS vv#\d+", plan), plan
    assert "as tinyint" in plan, plan
    assert "cast(vv" not in plan and "cast(qvec" not in plan, plan
