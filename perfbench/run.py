"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload email_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It prints every metric by name with its
unit and, as the last line, one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1). A traced run also writes its spans and
per-layer figures to .perfbench/out/. Everything it writes stays under
.perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_flink_slack_pipeline_spark"
WORKLOAD_NAMES = ("email_bulk", "batch_hot")


def _environment(work: str) -> None:
    """Settings that must exist before the JVM starts. Session defaults stay
    the repo's own; only the core count (as the tier-1 tests set it) and
    where temporary files go are fixed here. The JVM options go through
    JAVA_TOOL_OPTIONS, which adds to spark.driver.extraJavaOptions instead
    of replacing it; without perf data the JVM writes nothing to /tmp."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the package and the benchmark's transport
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def run(work: str, workload: str, seed: int, seconds: float,
        trace: bool) -> tuple[dict, list[str]]:
    from perfbench import harness, layers, procstat
    from perfbench.harness import Ctx
    from perfbench.trace import Tracer, self_time_by_name
    from perfbench.workloads import WORKLOADS

    ctx = Ctx(work=work, out=os.path.join(ROOT, ".perfbench", "out"), seed=seed,
              seconds=seconds, tracer=Tracer(False))
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        print(f"perfbench: {name} done at {time.perf_counter() - t0:.1f}s",
              file=sys.stderr, flush=True)

    wl = WORKLOADS[workload]()
    wl.generate(ctx)
    phase("inputs")

    eventlog = ctx.path("eventlog")
    extra = None
    if trace and workload == "batch_hot":
        os.makedirs(eventlog, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": eventlog,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    # memory is sampled in traced runs only: the sampler's own CPU would count in cpu_s
    rss = procstat.PeakRss(ctx.root_pid, interval_s=0.25).start() if trace else None
    spark, session_s = harness.start_session(extra_conf=extra)
    info = harness.session_info(spark)
    phase("session")
    per_layer: dict = {}
    try:
        setup_reps = wl.start(ctx, spark)
        phase("set-up (" + ", ".join(f"{t:.1f}s" for t in setup_reps) + ") and reference")
        steal0 = procstat.host_ticks()
        rounds = harness.timed_phase(ctx, wl)
        steal1 = procstat.host_ticks()
        steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        phase(f"timed phase and check ({len(rounds)} rounds: "
              + ", ".join(f"{r.wall_s:.2f}s" for r in rounds)
              + f"; host steal {steal_pct:.1f}%)")
        e2e = wl.end_to_end(session_s + statistics.median(setup_reps), rounds)
        if trace:
            per_layer["host.steal_pct"] = steal_pct
            traced = _traced(ctx, wl, spark, e2e, info, per_layer)
            phase("traced phase and layers")
            if workload == "email_bulk":
                harness.stop_streams(spark)
                spark.stop()  # same JVM, new local[1] context
                per_layer["email_bulk.local1_rows_per_s"] = wl.single_thread(ctx)
                spark = wl.spark
                phase("local[1] baseline")
            passes = len(rounds) + len(traced)
            rounds += traced
    finally:
        harness.stop_session(spark)
        if rss is not None:
            per_layer["session.peak_rss_mb"] = rss.stop()
    phase("shutdown")

    if trace:
        if workload == "batch_hot":
            per_layer.update(wl.stage_layers(eventlog, passes))
        spans = ctx.tracer.spans
        for name, secs in self_time_by_name(spans).items():
            if f"span.{name}.self_s" in layers.UNITS:
                per_layer[f"span.{name}.self_s"] = secs / len(traced)
        os.makedirs(ctx.out, exist_ok=True)
        with open(os.path.join(ctx.out, f"{workload}-seed{seed}-trace.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "session": info,
                       "per_layer": per_layer,
                       "moves": {n: m for n, _, _, m in layers.LAYERS},
                       "spans": [vars(s) for s in spans]}, f)

    attempted = sum(r.attempted for r in rounds)
    failed = sum(r.failed for r in rounds)
    lines = [
        f"session: master={info['master']} defaultParallelism={info['default_parallelism']} "
        f"driver.memory={info['driver_memory']} jvm_pid={info['jvm_pid']}",
        f"{workload}: rounds={len(rounds)} batches={e2e['batch_samples']} "
        f"tail=p{e2e['batch_tail_pct']:.1f} "
        f"attempted={attempted} failed={failed} error_rate={failed / attempted:.6f} "
        f"host_steal={steal_pct:.1f}%",
    ]
    if trace:
        metrics = {n: {"value": float(per_layer.get(n, 0.0)), "unit": u}
                   for n, u in layers.UNITS.items()}
        metrics["error_rate"]["value"] = failed / attempted
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in harness.END_TO_END.items()}
    lines += [f"{workload} {n} = {m['value']:.6g} {m['unit']}" for n, m in metrics.items()]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, lines


def _traced(ctx, wl, spark, untraced: dict, info, out: dict) -> list:
    """The traced timed phase plus each workload's layer measurements,
    written into `out`; returns the traced rounds."""
    from perfbench import harness

    ctx.tracer.enabled = True
    traced = harness.timed_phase(ctx, wl)
    ctx.tracer.enabled = False
    out.update(harness.engine_phases(traced))
    out["trace_overhead_s"] = wl.end_to_end(0.0, traced)["wall_s"] - untraced["wall_s"]
    out["batch_samples"] = untraced["batch_samples"]
    out["batch_tail_pct"] = untraced["batch_tail_pct"]
    out["session.default_parallelism"] = info["default_parallelism"]
    out["session.driver_memory_mb"] = harness.memory_mb(info["driver_memory"])
    sinks = getattr(wl, "sinks", None)
    if sinks is not None:
        out["sinks.slack_call_p50_ms"] = statistics.median(sinks.calls_ms)
        out["sinks.slack_call_total_ms"] = sum(sinks.calls_ms) / len(traced)
        out["sinks.posts"] = statistics.median(r.rows for r in traced)
        out["sinks.transport_calls"] = statistics.median(r.calls for r in traced)
        out["sinks.dlq_rows"] = sum(r.dlq_rows for r in traced)
    out.update(wl.layers(ctx, spark))
    return traced


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    sys.path.insert(0, ROOT)
    try:
        result, lines = run(work, args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
