"""(Re)generate the committed golden regression fixtures (SURVEY §5.2.2,
round-1 VERDICT item 7).

For each name in __spark_entry__.GOLDEN_QUERIES, runs the engine query at
sf0.01 and freezes its result to tests/golden/<name>.parquet (single file,
pyarrow) — the driver's DuckDB side cross-reads these via read_parquet, so
those CORRECTNESS rows become regression gates instead of `no_oracle`.

Rerun after ANY intentional change to the covered operators:
    python tools/make_golden.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from osmspark.session import build_session

    os.makedirs(entrymod.GOLDEN_DIR, exist_ok=True)
    spark = build_session("make_golden", cores=8)
    # the FULL engine registry, not queries(): budget-retired golden rows
    # (hex_cell_counts, tile_render_raster) still regenerate their
    # fixtures, which tests/test_entry.py replays off-budget
    qs = dict(entrymod._ENGINE_QUERIES)
    for name in entrymod.GOLDEN_QUERIES:
        pdf = qs[name](spark, sf_dir).toPandas()
        path = f"{entrymod.GOLDEN_DIR}/{name}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        print(f"wrote {path} ({len(pdf)} rows)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
