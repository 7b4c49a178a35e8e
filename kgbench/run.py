"""Benchmark of the KG build-and-validate engine.

    python3 kgbench/run.py --workload {kg_build,shacl_wide,shacl_stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root: the program is imported from the current
directory, and all scratch files go under ./.bench_work.  One client runs
operations back to back (closed loop) on a local[4] Spark session until the
operations' summed wall time reaches --seconds, after one untimed warm-up
operation.  Each operation's output is checked, untimed; a failed check or
an exception counts the operation as failed, and so does every operation
when the workload's check of their joint output fails.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics.  With --trace 0 the metrics are the end-to-end ones
(op_s, items_per_s, setup_s, peak_rss_mb).  With --trace 1 the run
alternates untraced and traced operations and reports per-layer metrics
from the traced ones, the tracing overhead against the untraced ones, the
share of operation time no layer span covers and the JVM's peak heap use;
the spans are written to .bench_work/spans/<workload>-seed<N>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CORES = 4
RUN_LIMIT_S = 150  # stop starting operations past this much wall time


def _parse() -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def start_spark(work: str):
    """local[4] session whose every scratch file lands under `work`."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the parallel collector runs no collector threads beside the four task
    # threads; the heap grows with use, so peak RSS follows it
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC"
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("kgbench")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", os.path.join(work, "hadoop"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def peak_rss_mb(pid) -> float:
    """VmHWM of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def run_ops(wl, seconds: float, tracer_for, min_ops: int, log) -> list[dict]:
    """Closed loop: operations 1, 2, ... back to back until their summed
    wall time reaches `seconds` (and at least `min_ops` ran).  `tracer_for(i)`
    gives operation i its tracer.  -> one record per operation."""
    ops, spent, i = [], 0.0, 1
    while (spent < seconds or len(ops) < min_ops) and time.time() - T_START < RUN_LIMIT_S:
        tr = tracer_for(i)
        start, wall, items = time.time(), 0.0, 0
        if tr.active:
            tr.begin_op(i)
        try:
            wl.prepare(i)
            start = time.time()
            t0 = time.perf_counter()
            try:
                items = wl.op(i, tr)
            finally:
                wall = time.perf_counter() - t0
            ok = wl.check(i)
        except Exception as e:  # an operation that raises counts as failed
            ok = False
            log(f"op {i} raised {type(e).__name__}: {e}")
        rec = {"i": i, "wall": wall, "items": items, "ok": ok, "traced": tr.active,
               "start": start}
        if tr.active:
            tr.end_op()
            rec["spans"] = tr.op_spans()
        ops.append(rec)
        log(f"op {i}: {wall:.3f}s items={items} ok={ok} traced={tr.active}")
        spent += wall
        i += 1
    try:
        whole = wl.final_check()
    except Exception as e:
        whole = False
        log(f"final check raised {type(e).__name__}: {e}")
    if not whole:
        log("final check failed: every operation counts as failed")
        for o in ops:
            o["ok"] = False
    return ops


def end_to_end(ops: list[dict], setup_s: float, rss: float) -> dict:
    """Items count only from operations whose output check passed; every
    operation's wall time counts."""
    walls = [o["wall"] for o in ops]
    return {
        "op_s": {"value": statistics.median(walls), "unit": "s"},
        "items_per_s": {"value": sum(o["items"] for o in ops if o["ok"]) / sum(walls),
                        "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }


def per_layer(ops: list[dict], heap_peak_mb: float) -> dict:
    """Median over traced operations of each per-layer metric (see
    workloads.layer_metrics), then the run-level trace and heap metrics."""
    from tracing import layer_totals, uncovered_share
    from workloads import layer_metrics, unit

    traced = [o for o in ops if o["traced"]]
    per_op = [layer_metrics(layer_totals(o["spans"], CORES)) for o in traced]
    out = {m: {"value": statistics.median(p[m] for p in per_op), "unit": unit(m)}
           for m in per_op[0]}
    # each traced operation against the untraced ones beside it, since
    # operation times still drift down over a run
    by_i = {o["i"]: o for o in ops}
    ratios = []
    for o in traced:
        nbrs = [by_i[j]["wall"] for j in (o["i"] - 1, o["i"] + 1)
                if j in by_i and not by_i[j]["traced"]]
        ratios.append(o["wall"] / statistics.mean(nbrs) - 1)
    out["trace.overhead_share"] = {"value": statistics.median(ratios), "unit": "ratio"}
    out["trace.uncovered_share"] = {
        "value": statistics.median(
            uncovered_share(o["spans"], o["start"], o["start"] + o["wall"]) for o in traced
        ),
        "unit": "ratio",
    }
    out["jvm.heap_peak_mb"] = {"value": heap_peak_mb, "unit": "MB"}
    return out


def main() -> int:
    root = os.getcwd()
    # the program under test comes from the checkout; without it, fail here
    sys.path.insert(0, root)
    import shacl_js_spark  # noqa: F401

    args = _parse()
    from tracing import NullTracer, Tracer, jvm_heap_peak_mb, write_spans
    from workloads import WORKLOADS

    def log(msg):
        print(f"[kgbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)

    bench_dir = os.path.join(root, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)
    spark = None
    try:
        spark = start_spark(work)
        log("spark started")
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup()
        log("setup done; warm-up operation")
        wl.prepare(0)
        wl.op(0, NullTracer())
        setup_s = time.time() - T_START
        log(f"setup_s={setup_s:.3f}")
        wl.reference()
        log("reference outputs computed")

        if args.trace:
            tracer = Tracer(spark)
            null = NullTracer()
            ops = run_ops(wl, args.seconds, lambda i: null if i % 2 else tracer, 2, log)
            tracer.close()
            os.makedirs(os.path.join(bench_dir, "spans"), exist_ok=True)
            write_spans(
                os.path.join(bench_dir, "spans", f"{args.workload}-seed{args.seed}.json"),
                tracer.spans, T_START,
            )
            metrics = per_layer(ops, jvm_heap_peak_mb(spark.sparkContext))
        else:
            ops = run_ops(wl, args.seconds, lambda i: NullTracer(), 1, log)
            py_mb, jvm_mb = peak_rss_mb("self"), peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            log(f"peak rss: driver python {py_mb:.1f} MB, jvm {jvm_mb:.1f} MB")
            metrics = end_to_end(ops, setup_s, py_mb + jvm_mb)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not o["ok"] for o in ops)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
