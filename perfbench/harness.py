"""Shared run machinery: session lifetime, the timed phase and the metrics
every workload reports.

A workload supplies its inputs, its set-up, one *round* of fixed work and
its correctness checks; this module times rounds for the requested number
of seconds and turns them into the end-to-end metrics.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from . import procstat
from .trace import Tracer

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "rows_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
}


@dataclass
class Ctx:
    """One benchmark run: where it works, what it measures."""

    work: str  # working tree inside the checkout, removed at the end
    out: str  # kept: spans and per-layer figures of traced runs
    seed: int
    seconds: float
    tracer: Tracer
    root_pid: int = field(default_factory=os.getpid)
    rounds_started: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Round:
    """One unit of a workload's fixed work, as measured."""

    rows: int  # distinct emails posted, or input rows the queries read
    batch_ms: list[float]  # per micro-batch (or per query) latency
    batch_cpu_s: list[float] = field(default_factory=list)  # per query: tree CPU
    phases: list[dict] = field(default_factory=list)  # durationMs per batch
    inputs: list[str] = field(default_factory=list)  # files the round landed
    attempted: int = 0
    failed: int = 0
    dlq_rows: int = 0
    calls: int = 0  # transport calls (a repeated post counts again)
    posts: list = field(default_factory=list)  # (key, payload md5) per call
    wall_s: float = 0.0
    cpu_s: float = 0.0


def start_session(master: str | None = None, extra_conf: dict | None = None):
    """The repo's own session factory, unchanged defaults."""
    from kafka_flink_slack_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master, extra_conf=extra_conf)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def session_info(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "jvm_pid": jvm_pid(spark),
    }


def stop_streams(spark) -> None:
    for query in spark.streams.active:
        query.stop()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers under it to exit."""
    from pyspark import SparkContext

    children = set(procstat.tree(os.getpid())) - {os.getpid()}
    stop_streams(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    procstat.wait_gone(children, timeout_s=30)


def memory_mb(text: str) -> float:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2}
    text = text.strip().lower()
    if text[-1] in units:
        return float(text[:-1]) * units[text[-1]]
    return float(text) / 2**20


def timed_phase(ctx: Ctx, wl) -> list[Round]:
    """Run `wl.round` back to back until `ctx.seconds` have passed and at
    least `wl.min_rounds` rounds ran; each round records its own wall and
    process-tree CPU time. An untimed `wl.prepare` readies each round's
    input first, and `wl.check` grades the rounds once the phase is over."""
    rounds: list[Round] = []
    t_start = time.perf_counter()
    while len(rounds) < wl.min_rounds or time.perf_counter() - t_start < ctx.seconds:
        ctx.rounds_started += 1
        wl.prepare(ctx, ctx.rounds_started)
        c0 = procstat.cpu_seconds(ctx.root_pid)
        t0 = time.perf_counter()
        with ctx.tracer.span("round"):
            r = wl.round(ctx, ctx.rounds_started)
        r.wall_s = time.perf_counter() - t0
        r.cpu_s = procstat.cpu_seconds(ctx.root_pid) - c0
        rounds.append(r)
    wl.check(ctx, rounds)
    return rounds


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would sit under the
    median, so the slowest sample (p100) is reported instead."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(setup_s: float, rounds: list[Round]) -> dict:
    """Streaming workloads: medians over rounds and over micro-batches."""
    batches = [b for r in rounds for b in r.batch_ms]
    tail_ms, pct = tail(batches)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(r.wall_s for r in rounds),
        "cpu_s": statistics.median(r.cpu_s for r in rounds),
        "rows_per_s": statistics.median(r.rows / r.wall_s for r in rounds),
        "batch_p50_ms": statistics.median(batches),
        "batch_tail_ms": tail_ms,
        "batch_samples": len(batches),
        "batch_tail_pct": pct,
    }


def per_query_end_to_end(setup_s: float, rounds: list[Round]) -> dict:
    """Query workloads, whose passes are few and whose queries differ in
    cost: every figure rests on each query's median over all passes, so
    that no figure jumps between queries from run to run. wall_s and cpu_s are the sums of those medians (one
    typical pass), batch_p50_ms their median and batch_tail_ms their
    maximum, the slowest query's typical latency."""
    lat = [statistics.median(col) for col in zip(*(r.batch_ms for r in rounds))]
    cpu = [statistics.median(col) for col in zip(*(r.batch_cpu_s for r in rounds))]
    wall_s = sum(lat) / 1e3
    return {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "cpu_s": sum(cpu),
        "rows_per_s": rounds[0].rows / wall_s,
        "batch_p50_ms": statistics.median(lat),
        "batch_tail_ms": max(lat),
        "batch_samples": sum(len(r.batch_ms) for r in rounds),
        "batch_tail_pct": 100.0,
    }


ENGINE_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                 "commitOffsets", "addBatch")


def engine_phases(rounds: list[Round]) -> dict:
    """engine.<phase>_ms: median over the timed micro-batches of each
    StreamingQueryProgress.durationMs phase (0 when no stream ran)."""
    phases = [p for r in rounds for p in r.phases]
    return {
        f"engine.{k}_ms": statistics.median(p.get(k, 0) for p in phases) if phases else 0.0
        for k in ENGINE_PHASES
    }


def data_batches(query, after: int, n: int, timeout_s: float = 30) -> list[dict]:
    """The first `n` micro-batches after batch id `after` that read rows,
    as their progress (waiting for progress that is reported late)."""
    deadline = time.monotonic() + timeout_s
    while True:
        got = sorted((p for p in query.recentProgress
                      if p["batchId"] > after and p["numInputRows"] > 0),
                     key=lambda p: p["batchId"])
        if len(got) >= n:
            return got[:n]
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.monotonic() > deadline:
            raise RuntimeError(f"stream reported {len(got)} of {n} micro-batches")
        time.sleep(0.05)


def noop_seconds(df, reps: int = 2) -> float:
    """Median wall time of writing `df` to the noop sink."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
