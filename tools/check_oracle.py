"""Local replica of the driver's correctness gate (SURVEY §5.2.2).

Runs every __spark_entry__.queries()[name] on Spark and the matching
oracle_sql()[name] on DuckDB at the given sf dir, then compares:
row count, column-name set, and an order-insensitive value hash
(columns sorted by name, values canonicalized, rows sorted).

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from osmspark.session import build_session

    spark = build_session("check_oracle", cores=8)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            h1, h2 = table_hash(s_cols, s_rows), table_hash(d_cols, d_rows)
            if h1 != h2:
                problems.append(f"value-hash {h1} vs {h2}")
                # show a diff sample
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("|".join(canon(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("|".join(canon(r[i]) for i in order_d) for r in d_rows)
                diff = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diff:
                    problems.append(f"  spark: {a[:160]}")
                    problems.append(f"  duck : {b[:160]}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
    spark.stop()
    print(("ALL PASS" if n_fail == 0 else f"{n_fail} FAILURES"))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
