"""A/B the interval join's binned plan against the naive
cross-join-plus-range-filter it replaces (round 5): the binning claim —
containment at equi-join cost, candidates bounded by bins actually
overlapped instead of |E| x |R| — must be measured, not asserted.

Corpus: the sf0.1 events table replicated to ~200k rows, joined to 5k
deterministic validity windows of mixed lengths over the same month.
Naive = events.join(ranges, ts >= start AND ts < end) with the
broadcast threshold left on (Spark picks BroadcastNestedLoopJoin —
its best plan for a non-equi join with a small side, i.e. the naive
variant gets its best case, and the binned plan still has to win).

Writes BENCH_INTERVAL_AB.json: per-variant best-of-N wall seconds with
host steal%% per trial, plus result-row parity between the variants.

Usage: python tools/bench_interval_ab.py [n_event_reps] [n_ranges]
"""

from __future__ import annotations

import datetime
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

N_TRIALS = int(os.environ.get("OSMSPARK_BENCH_TRIALS", "2"))

from bench import timed as _bench_timed  # noqa: E402


def timed(fn):
    _, dt, steal = _bench_timed(fn)
    return dt, steal


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n_ranges = int(sys.argv[2]) if len(sys.argv) > 2 else 5000

    from pyspark.sql import functions as F

    from osmspark.operators.interval import interval_join
    from osmspark.session import build_session

    spark = build_session("interval-ab", cores=32)
    ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet").select(
        "event_id", "ts")
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    events = (ev0.crossJoin(rep)
              .select((F.col("event_id") * reps + F.col("rep"))
                      .alias("event_id"), "ts")
              .persist())
    n_events = events.count()

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(n_ranges):
        start = base + datetime.timedelta(
            minutes=(i * 7919) % (30 * 24 * 60))
        length = [5, 90, 60 * 26, 3][i % 4]
        rows.append((i, start, start + datetime.timedelta(minutes=length)))
    ranges = spark.createDataFrame(
        rows, "range_id long, start timestamp, end timestamp").persist()
    ranges.count()

    def binned():
        return interval_join(events, ranges, bin_width=3600.0).count()

    def naive():
        return events.join(
            ranges,
            (events["ts"] >= ranges["start"]) & (events["ts"] < ranges["end"]),
        ).count()

    n_binned = binned()  # warm + parity capture
    n_naive = naive()
    assert n_binned == n_naive, (n_binned, n_naive)

    out = {"n_events": n_events, "n_ranges": n_ranges,
           "n_result_pairs": n_binned, "variants": {}}
    for name, fn in (("binned_interval_join", binned),
                     ("naive_cross_range_filter", naive)):
        trials = [timed(fn) for _ in range(N_TRIALS)]
        out["variants"][name] = {
            "best_sec": min(t for t, _ in trials),
            "trials_sec": [round(t, 3) for t, _ in trials],
            "steal_pct": [s for _, s in trials],
        }
    b = out["variants"]["binned_interval_join"]["best_sec"]
    n = out["variants"]["naive_cross_range_filter"]["best_sec"]
    out["speedup"] = round(n / b, 2)
    print(json.dumps(out))
    with open(ROOT / "BENCH_INTERVAL_AB.json", "w") as f:
        json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
