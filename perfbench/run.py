"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run sets up its seeded inputs, runs
one warm-up pass on them, sets up twice more (``setup_s`` is the median of
the three set-ups), then measures passes until ``--seconds`` have elapsed,
at least one. Every engine call is checked against a reference computed
without engine code. With ``--trace 1`` the measured passes alternate
between untraced and traced (Spark event log attached, one job group per
call), and the per-layer metrics come from the traced passes.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
reports every workload-specific figure with its unit and sample count.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "peak_rss_mb": "MB",
    "bits_per_link": "bit",
}
LAYERS = (
    "extract",
    "graph_build.edges",
    "graph_build.write",
    "graph_build.lookup_batch",
    "graph_build.scan",
    "pagerank",
    "components",
    "labelprop",
    "triangles",
    "incremental.merge",
    "catalog.lookup",
)
LAYER_METRICS = {
    "call_s": "s",
    "task_s": "s",
    "busy_frac": "1",
    "gc_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
EXTRA_COUNTS = {
    "incremental.touched_frac": "1",
    "incremental.bytes_written": "B/arc",
}
TRACE_METRICS = {"trace.job_s": "s", "trace.overhead_frac": "1"}
# Workload-specific figures on the report line:
# name -> (observed value, statistic, unit, scale).
REPORT = {
    "pages_per_s": ("pages_per_s", "p50", "1/s", 1),
    "pagerank_edges_per_s": ("pagerank_edges_per_s", "p50", "1/s", 1),
    "components_s": ("components", "p50", "s", 1),
    "labelprop_s": ("labelprop", "p50", "s", 1),
    "triangles_s": ("triangles", "p50", "s", 1),
    "batch_lookup_ns_per_arc": ("batch_lookup_ns_per_arc", "p50", "ns", 1),
    "scan_ns_per_arc": ("scan_ns_per_arc", "p50", "ns", 1),
    "lookup_p50_ms": ("catalog.lookup", "p50", "ms", 1e3),
    "lookup_p90_ms": ("catalog.lookup", "p90", "ms", 1e3),
    "merge_p50_s": ("incremental.merge", "p50", "s", 1),
}


def per_layer_names() -> dict[str, str]:
    names = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in LAYER_METRICS.items()}
    return {**names, **EXTRA_COUNTS, **TRACE_METRICS}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f} s]: {msg}", file=sys.stderr, flush=True)


def start_spark(work: str, cores: int):
    from webgraph_ans_rs_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # pandas-UDF workers import the engine, and must find it wherever the
    # process was started from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM this run starts (launcher and driver) keeps its temp files
    # in the checkout and writes no hsperfdata file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def measured(ctx, name: str, traced: bool) -> list[float]:
    """Values of ``name`` from measured passes (not the warm-up pass)."""
    return [v for p, t, v in ctx.values.get(name, []) if p > 0 and t == traced]


def layer_metrics(ctx, log_root: str) -> dict[str, float]:
    from perfbench.trace import layer_of, layer_totals

    totals: dict[str, dict[str, float]] = {}
    for group, sums in layer_totals(log_root).items():
        t = totals.setdefault(layer_of(group), dict.fromkeys(sums, 0))
        for k, v in sums.items():
            t[k] += v
    out: dict[str, float] = {}
    for layer in LAYERS:
        spans = [s for s in ctx.tracer.spans if s.layer == layer and s.group is not None]
        calls = len(spans)
        call_s = sum(s.seconds for s in spans)
        t = totals.get(layer, {})
        task_s = t.get("task_ms", 0) / 1e3
        per_call = (lambda x: x / calls) if calls else (lambda x: 0.0)
        out.update({
            f"{layer}.call_s": per_call(call_s),
            f"{layer}.task_s": per_call(task_s),
            f"{layer}.busy_frac": task_s / (call_s * ctx.cores) if call_s else 0.0,
            f"{layer}.gc_s": per_call(t.get("gc_ms", 0) / 1e3),
            f"{layer}.jobs": per_call(t.get("jobs", 0)),
            f"{layer}.tasks": per_call(t.get("tasks", 0)),
            f"{layer}.shuffle_write_bytes": per_call(t.get("shuffle_write_bytes", 0)),
            f"{layer}.spill_bytes": per_call(t.get("spill_bytes", 0)),
        })
    for name in EXTRA_COUNTS:
        vals = [v for p, _t, v in ctx.values.get(name, []) if p > 0]
        out[name] = statistics.median(vals) if vals else 0.0
    traced = measured(ctx, "job_s", True)
    untraced = measured(ctx, "job_s", False)
    out["trace.job_s"] = statistics.median(traced)
    out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1
    return out


def report(ctx, workload: str) -> dict:
    """Every workload-specific figure the run measured, with its unit and
    sample count; a p90 is None until ten samples lie beyond it."""
    from perfbench.metrics import median, percentile

    out = {"workload": workload, "seed": ctx.seed, "cores": ctx.cores}
    for name, (key, stat, unit, scale) in REPORT.items():
        vals = [v * scale for v in measured(ctx, key, False)]
        if vals:
            value = median(vals) if stat == "p50" else percentile(vals, 0.9)
            out[name] = {"value": value, "unit": unit, "n": len(vals)}
    job = measured(ctx, "job_s", False)
    out["job_s"] = {"value": median(job), "unit": "s", "n": len(job)}
    out["failed_frac"] = {"value": ctx.ledger.failed_frac, "unit": "1",
                          "n": ctx.ledger.attempted}
    return out


def run(args) -> tuple[dict, dict]:
    from perfbench.metrics import Ledger, median
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", run_id)
    spark = start_spark(work, cores)
    log(f"session up on local[{cores}]")
    try:
        tracer = Tracer(spark, run_id, os.path.join(work, "eventlog"))
        ctx = Ctx(spark, args.seed, cores, os.path.join(base, "cache"), tracer, Ledger())
        wl = WORKLOADS[args.workload]()

        setup_s = []

        def set_up(k: int) -> str:
            d = os.path.join(work, f"setup-{k}")
            t0 = time.perf_counter()
            wl.setup(ctx, d)
            setup_s.append(time.perf_counter() - t0)
            log(f"setup {k + 1}/{SETUP_REPEATS}: {setup_s[-1]:.2f} s")
            return d

        def run_pass(p: int, traced: bool) -> None:
            ctx.pass_index = p
            tracer.start_pass(p, traced)
            pass_dir = os.path.join(work, f"pass-{p:03d}")
            t0 = time.perf_counter()
            try:
                wl.run_pass(ctx, pass_dir)
                ctx.observe("job_s", time.perf_counter() - t0)
            finally:
                tracer.end_pass()
            remove(pass_dir)
            log(f"pass {p}{' (warm-up)' if p == 0 else ''}{' traced' if traced else ''}: "
                f"{ctx.values['job_s'][-1][2]:.2f} s")

        # The warm-up pass runs on the first set-up's inputs, so the later
        # set-ups and every measured pass see compiled code; the measured
        # passes then start from the last set-up.
        d = set_up(0)
        wl.prepare(ctx, d)
        run_pass(0, False)
        for k in range(1, SETUP_REPEATS):
            remove(d)
            d = set_up(k)
        wl.prepare(ctx, d)

        t_start = time.perf_counter()
        max_passes = getattr(wl, "max_passes", 1 << 30)
        need = {False, True} if args.trace else {False}
        p = 1
        while p < max_passes:
            kinds = {t for q, t, _v in ctx.values["job_s"] if q > 0}
            if need <= kinds and time.perf_counter() - t_start >= args.seconds:
                break
            run_pass(p, bool(args.trace) and p % 2 == 0)
            p += 1

        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{run_id}.jsonl"))

        if args.trace:
            metrics = layer_metrics(ctx, os.path.join(work, "eventlog"))
            units = per_layer_names()
        else:
            metrics = {
                "setup_s": median(setup_s),
                "job_s": median(measured(ctx, "job_s", False)),
                "peak_rss_mb": jvm_peak_rss_mb(spark),
                "bits_per_link": median(measured(ctx, "bits_per_link", False)),
            }
            units = END_TO_END
        result = {
            "correct": ctx.ledger.failed == 0,
            "attempted": ctx.ledger.attempted,
            "failed": ctx.ledger.failed,
            # a figure whose every call failed has no value; correct is false
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items() if v is not None
            },
        }
        return report(ctx, args.workload), result
    finally:
        stop_spark(spark)
        remove(work)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "webgraph_ans_rs_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    detail, result = run(args)
    print("perfbench report " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
