"""Driver-contract smoke: entry() + queries()/oracle_sql() wiring."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as em


def test_entry_returns_rows(spark):
    df = em.entry(spark)
    assert df.count() > 0
    assert "normalized_type" in df.columns and "cnt" in df.columns


def test_every_oracle_has_a_query():
    q, o = em.queries(), em.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 15


def test_sampled_queries_run(spark):
    q = em.queries()
    # exact_dedup_stats + street_norm_counts retired from the budget round
    # 4; exact_dedup_keep / street_norm_counts_engine gate the same
    # semantics through the engine operators
    for name in ["street_norm_counts_engine", "tpch_q1", "exact_dedup_keep"]:
        df = q[name](spark, "/root/testdata/sf0.001")
        assert df.count() > 0


def test_budget_retired_goldens_still_pinned(spark):
    """hex_cell_counts, tile_render_raster, systematic_sample_hash,
    minhash_near_dups and doc_fingerprints left the 50-row driver budget
    round 5; their frozen-golden regression gate moves here — the engine
    result at sf0.01 must still match the committed fixture exactly
    (multiset of rows)."""
    import pandas as pd

    for name in ["hex_cell_counts", "tile_render_raster",
                 "systematic_sample_hash", "minhash_near_dups",
                 "doc_fingerprints"]:
        assert name in em._BUDGET_EXCLUDED
        got = em._ENGINE_QUERIES[name](
            spark, "/root/testdata/sf0.01").toPandas()
        want = pd.read_parquet(f"{em.GOLDEN_DIR}/{name}.parquet")
        cols = sorted(want.columns)
        gs = got[cols].sort_values(cols).reset_index(drop=True)
        ws = want[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(gs, ws, check_dtype=False)
