"""Benchmark runner for the geocode engine.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. One workload runs in one fresh process on
local[<cpus>]: it generates its inputs from the seed, sets up (session,
locators, locator pack, one cold warm-up pass; reported as setup_s), then runs
its operation in a closed loop for S seconds, checks every output against the
DuckDB oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of perfbench/spec.py.
With --trace 1 the first half of the time runs untraced and the second half
traced (a span around every layer call, written to
.perfbench/traces/<workload>-seed<N>.json), and the metrics are the per-layer
self times and counts, plus the tracing overhead. The line before the last
holds the run's details (Spark configuration, cpus, input sizes, sample
counts, tail latency). Exits 1 when any output is wrong and 2 when the run
cannot start. --workload all runs each workload in its own process.
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
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the self-tests' smoke size")
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # -UsePerfData: no /tmp/hsperfdata_<user> file for the JVM
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    # The inputs are MB-scale, so the tests' 8 GB driver heap is not needed.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tempfile.tempdir = None
    from geocode_spark.envtune import tune_allocator_env

    tune_allocator_env()  # must precede the JVM launch


def _vm_hwm_kb(pid) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tail(samples: list) -> tuple:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    if len(s) < 11:
        return None, None
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def _stop(spark) -> None:
    """Stop the session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def _loop(seconds: float, fn) -> tuple:
    """Run fn back to back for `seconds` (at least once). Returns the
    operations that completed and the number that raised."""
    ops, raised, t0 = [], 0, time.perf_counter()
    while not (ops or raised) or time.perf_counter() - t0 < seconds:
        try:
            ops.append(fn())
        except Exception:
            traceback.print_exc()
            raised += 1
    return ops, raised


def _e2e(ops: list) -> dict:
    """Medians over the timed operations: one to five in a run, on a busy host
    one. pages_stream's latency has a sample per micro-batch."""
    return {
        "rows_per_s": statistics.median(op.rows / op.wall for op in ops),
        "op_p50_ms": statistics.median(x for op in ops for x in op.lat_ms),
    }


# spans recorded by the shared set-up -> per-layer metric (seconds)
SETUP_SPANS = {
    "session.get_spark": "session.get_spark_s",
    "pipeline.load_locators": "pipeline.load_locators_s",
    "geocode.pack_locators": "geocode.pack_locators_s",
}


def _per_layer(workload: str, wl, tracer, traced: list, check_layer: dict,
               untraced_e2e: dict, traced_e2e: dict, released: int) -> dict:
    """Every per-layer metric. Raises unless the workload yielded exactly the
    metrics spec.PER_LAYER lists as measured on it; the rest read 0."""
    from perfbench.trace import self_times

    selft = self_times(tracer.spans)
    values = {metric: statistics.median(selft[span])
              for span, metric in {**SETUP_SPANS, **wl.SPANS}.items()
              if span in selft}
    for name in {k for op in traced for k in op.layer}:
        values[name] = statistics.median(
            op.layer[name] for op in traced if name in op.layer)
    values.update(check_layer)
    values["caching.tracked_released"] = released
    for k in ("rows_per_s", "op_p50_ms"):
        values[f"trace.{k}_delta"] = traced_e2e[k] - untraced_e2e[k]
    measured = {k for k, v in PER_LAYER.items() if workload in v[3]}
    if set(values) != measured:
        raise RuntimeError(
            f"{workload}: per-layer metrics missing {sorted(measured - set(values))}"
            f", unexpected {sorted(set(values) - measured)}")
    return {k: values.get(k, 0) for k in PER_LAYER}


def bench(args, work: Path) -> tuple[dict, dict]:
    from perfbench.trace import Tracer

    gen = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", "--seed", str(args.seed),
         "--workload", args.workload, "--out", str(work / "inputs"),
         "--size", args.size],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    stats = json.loads(gen.stdout)
    tracer = Tracer() if args.trace else None

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    cpus = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    with span("session.get_spark"):
        from geocode_spark.session import get_spark

        # The driver heap is committed and touched at start, so the JVM's
        # share of peak_rss_mb is the heap size plus its off-heap memory
        # (metaspace, generated code, threads, direct buffers). How much of a
        # growing heap the collector happens to touch varied the JVM's
        # resident set by 10-30% between runs (4 cores).
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        spark = get_spark("perfbench", parallelism=cpus, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.defaultJavaOptions":
                f"-Xms{heap} -XX:+AlwaysPreTouch"})
    try:
        from geocode_spark.caching import clear_caches
        from geocode_spark.operators.geocode import pack_locators
        from geocode_spark.plans.pipeline import load_locators
        from perfbench.workloads import POBOX, WORKLOADS as IMPLS, Ctx

        ctx = Ctx(spark, work / "inputs", work / "out",
                  {t: s["rows"] for t, s in stats.items()})
        with span("pipeline.load_locators"):
            ctx.loc = load_locators(spark, str(ctx.inputs))
        with span("geocode.pack_locators"):
            pack_locators(**ctx.loc, pobox=POBOX).count()
        wl = IMPLS[args.workload]()
        wl.warm_up(ctx)
        setup_s = time.perf_counter() - t_setup

        untraced_s = args.seconds / 2 if tracer else args.seconds
        ops, raised = _loop(untraced_s, lambda: wl.op(ctx))
        traced = []
        if tracer:
            def traced_pass():
                tracer.new_trace()
                with tracer.span(f"{args.workload}.pass"):
                    return wl.traced_op(ctx, tracer)

            traced, traced_raised = _loop(args.seconds / 2, traced_pass)
            raised += traced_raised
        # before the check, whose oracle queries and read-backs are the
        # benchmark's memory, not the engine's
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = {"python": _vm_hwm_kb("self") / 1024,
                  "jvm": _vm_hwm_kb(jvm_pid) / 1024}
        peak_rss_mb = rss_mb["python"] + rss_mb["jvm"]
        t_check = time.perf_counter()
        failed, check_layer = wl.check(ctx, ops + traced)
        check_s = time.perf_counter() - t_check
        released = clear_caches(blocking=True)
        conf = dict(sorted(spark.sparkContext.getConf().getAll()))
    finally:
        _stop(spark)

    attempted = sum(op.units for op in ops + traced) + raised
    failed += raised
    e2e = _e2e(ops)
    if tracer:
        metrics = _per_layer(args.workload, wl, tracer, traced, check_layer,
                             e2e, _e2e(traced), released)
        tracer.write(ROOT / ".perfbench" / "traces"
                     / f"{args.workload}-seed{args.seed}.json")
        units = {k: v[0] for k, v in PER_LAYER.items()}
    else:
        metrics = {"setup_s": setup_s, **e2e, "peak_rss_mb": peak_rss_mb}
        units = {k: v[0] for k, v in END_TO_END.items()}
    lat = [x for op in ops for x in op.lat_ms]
    tail, tail_pct = _tail(lat)
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "seconds": args.seconds, "trace": args.trace, "inputs": stats,
        "timed_ops": len(ops), "latency_ms": lat, "peak_rss_mb": rss_mb,
        "setup_s": setup_s, "timed_s": t_check - t_setup - setup_s,
        "check_s": check_s,
        "op_tail_ms": tail, "op_tail_percentile": tail_pct,
        "failed_ops_ratio": failed / attempted, "spark_conf": conf,
    }
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return detail, result


def _report(metrics: dict, workload: str) -> None:
    """Per-layer table on stderr: value, the end-to-end metric it should
    move, and the workloads that measure it."""
    for name, m in metrics.items():
        _, _, moves, on = PER_LAYER[name]
        mark = "" if workload in on else "  (not exercised here)"
        print(f"{name:34s} {m['value']:>14.6g} {m['unit']:7s} -> {moves:12s} "
              f"on {','.join(on)}{mark}", file=sys.stderr)


def run_all(args) -> int:
    """Each workload in its own process, so each pays its own cold set-up."""
    code = 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace",
               str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(json.dumps({"workload": w, "exit": proc.returncode,
                          "result": json.loads(lines[-1]) if lines else None}))
        code = code or proc.returncode
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not (ROOT / "geocode_spark").is_dir():
        print(f"perfbench: no geocode_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        _environment(work)
        detail, result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        _report(result["metrics"], args.workload)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
