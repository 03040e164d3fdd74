"""osmspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run builds a SparkSession on
local[<cores available to this process>] in this one driver process,
generates the seeded documents (cached per size and seed under
.perfbench_work/), builds the nodes snapshot, warms up, then repeats the
workload's operation until --seconds of operation time have passed,
checking every output outside the timed region.  With --trace 0 the last
stdout line carries the end-to-end metrics; with --trace 1 operations
alternate between traced and untraced, and the line carries the per-layer
metrics and the tracing overhead.  Spans go to .perfbench_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}

PER_LAYER_UNITS = {
    "sources.wall_s": "s", "sources.busy_s": "s", "sources.cpu_s": "s",
    "sources.gc_s": "s", "sources.rows_out": "count",
    "sources.parallel_eff": "frac", "sources.failed_tasks": "count",
    "checkpoint.save_s": "s", "checkpoint.bytes_written": "B",
    "checkpoint.bytes_per_row": "B", "checkpoint.files": "count",
    "checkpoint.scan_bytes": "B", "checkpoint.failed_tasks": "count",
    "hexgrid.wall_s": "s", "hexgrid.busy_s": "s", "hexgrid.rows": "count",
    "hexgrid.parallel_eff": "frac", "hexgrid.failed_tasks": "count",
    "s2.wall_s": "s", "s2.busy_s": "s", "s2.failed_tasks": "count",
    "spatial_join.plan_s": "s", "spatial_join.exec_s": "s",
    "spatial_join.candidates": "count", "spatial_join.matches": "count",
    "spatial_join.refine_yield": "frac", "spatial_join.python_bytes": "B",
    "spatial_join.jobs": "count", "spatial_join.failed_tasks": "count",
    "tiles.wall_s": "s", "tiles.jobs": "count", "tiles.stages": "count",
    "tiles.shuffle_bytes": "B", "tiles.failed_tasks": "count",
    "audit.wall_s": "s", "audit.shuffle_bytes": "B",
    "audit.failed_tasks": "count",
    "knn.wall_s": "s", "knn.busy_s": "s", "knn.parallel_eff": "frac",
    "knn.jobs": "count", "knn.stages": "count", "knn.shuffle_bytes": "B",
    "knn.failed_tasks": "count",
    "radius_join.wall_s": "s", "radius_join.busy_s": "s",
    "radius_join.disk_cells": "count", "radius_join.pairs": "count",
    "radius_join.pairs_per_cell": "ratio", "radius_join.failed_tasks": "count",
    "trace.overhead_s": "s", "trace.overhead_frac": "frac",
    "trace.spans": "count",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- process tree -----------------------------------------------------------
def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Peak summed RSS of the Spark JVM and its Python worker processes.

    Only the JVM and the pyspark daemon's processes count: a short-lived
    child forked by the JVM shares its pages and would count them twice."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        self.peak_bytes = 0
        self._jvm = jvm_pid
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _pids(self) -> list[int]:
        out = [self._jvm]
        for pid in descendants(self._jvm):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        out.append(pid)
            except OSError:
                pass
        return out

    def _sample(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- run context ------------------------------------------------------------
class Context:
    """What a workload needs: the session, the seeded inputs, the store."""

    def __init__(self, spark, seed: int, n_docs: int, run_dir: str):
        from osmspark.plans.checkpoint import SnapshotStore

        from perfbench import inputs

        self.spark, self.seed, self.n_docs = spark, seed, n_docs
        self.docs_path = inputs.ensure_documents(spark, WORK, n_docs, seed)
        self.input_bytes = inputs.parquet_bytes(self.docs_path)
        self.expected_nodes = inputs.expected_node_count(self.docs_path)
        self.docs = spark.read.parquet(self.docs_path)
        self.store = SnapshotStore(os.path.join(run_dir, "snap"))
        self.snapshot = None
        self.ref_nodes = None

    def nodes_frame(self):
        from osmspark.sources import parse_nodes
        from pyspark.sql import functions as F

        return parse_nodes(self.docs).select(
            "id", "lat", "lon",
            F.col("tags")["addr:street"].alias("street"),
            F.col("tags")["addr:postcode"].alias("postcode"),
            "user", "uid",
        )

    def store_dir(self, stage: str) -> str:
        return os.path.join(self.store.root, stage)

    def build_snapshot(self) -> float:
        """The nodes snapshot every workload starts from; returns seconds."""
        t0 = time.perf_counter()
        self.snapshot = self.store.save(self.nodes_frame(), "nodes")
        return time.perf_counter() - t0


def build_spark(cores: int):
    from osmspark.session import build_session

    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    return build_session(
        "osmspark-perfbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # pandas UDF workers import osmspark from the repository root
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            # a fixed heap keeps peak_rss_mb from following GC sizing
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    t_end = time.time() + 20
    while any(alive(p) for p in kids) and time.time() < t_end:
        time.sleep(0.1)
    for p in kids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# -- the run ----------------------------------------------------------------
def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from pyspark import SparkContext

    from perfbench.inputs import read_nodes
    from perfbench.trace import Tracer
    from perfbench.workloads import INGEST_DOCS, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{workload_name}")
    problems: list[str] = []

    t0 = time.perf_counter()
    spark = build_spark(cores)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        ctx = Context(spark, seed, INGEST_DOCS, run_dir)
        log(f"inputs {time.perf_counter() - t0:.2f}s")
        snap_s = [ctx.build_snapshot() for _ in range(SETUP_REPEATS)]
        ctx.ref_nodes = read_nodes(ctx.store_dir("nodes"))
        if len(ctx.ref_nodes["id"]) != ctx.expected_nodes:
            problems.append(f"snapshot holds {len(ctx.ref_nodes['id'])} "
                            f"nodes, documents hold {ctx.expected_nodes}")
        wl = WORKLOADS[workload_name](ctx)
        off = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        wl.prepare()
        for _ in range(wl.warmup_ops):  # checked, not measured
            problems += wl.check(wl.op(off))
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(snap_s) + warm_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, snapshot "
            f"{[round(x, 2) for x in snap_s]}, prepare+warm-up {warm_s:.2f})")

        tracer = Tracer(spark, enabled=True) if trace else None
        op_s, traced_s, untraced_s, traced_ops = [], [], [], []
        attempted = failed = 0
        stored = 0
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            # a traced run needs one traced and one untraced operation
            while sum(op_s) < seconds or (trace and attempted < 2):
                traced = trace and attempted % 2 == 0
                attempted += 1
                t0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.span("op") as root:
                            out = wl.op(tracer)
                    else:
                        out = wl.op(off)
                except Exception:
                    failed += 1
                    log(f"op {attempted} raised:\n{traceback.format_exc()}")
                    op_s.append(time.perf_counter() - t0)
                    continue
                dt = time.perf_counter() - t0
                op_s.append(dt)
                (traced_s if traced else untraced_s).append(dt)
                if traced:
                    spans = [s for s in tracer.spans
                             if s["parent"] == root["id"]]
                    traced_ops.append((spans, out))
                stored = wl.stored_bytes(out)
                bad = wl.check(out)
                if bad:
                    failed += 1
                    log(f"op {attempted} failed its checks: {bad}")
                log(f"op {attempted} {'traced ' if traced else ''}{dt:.3f}s")
        ok = attempted - failed
        if trace:
            tracer.write(os.path.join(
                WORK, f"spans-{workload_name}-s{seed}.json"))
            layers = dict.fromkeys(PER_LAYER_UNITS, 0.0)
            if traced_ops:
                layers.update(wl.layer_metrics(traced_ops, cores))
            if traced_s and untraced_s:
                base = statistics.median(untraced_s)
                over = statistics.median(traced_s) - base
                layers["trace.overhead_s"] = over
                layers["trace.overhead_frac"] = over / base
            layers["trace.spans"] = len(tracer.spans)
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in PER_LAYER_UNITS.items()}
        else:
            values = {
                "items_per_s": wl.items_per_op * len(op_s) / sum(op_s),
                "op_p50_s": statistics.median(op_s),
                "stored_bytes_per_input_byte": stored / ctx.input_bytes,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_bytes / 1e6,
                "ok_frac": ok / attempted,
            }
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END_UNITS.items()}
    finally:
        stop_spark(spark)
    for p in problems:
        log(f"check failed: {p}")
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "neighbors"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "osmspark", "__init__.py")):
        log(f"no osmspark package next to {HERE}; run from a full checkout")
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM Spark starts, its launcher included, would otherwise write a
    # perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    result_out = sys.stdout
    sys.stdout = sys.stderr  # only the result line goes to stdout
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        signal.alarm(0)
    print(json.dumps(result), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
