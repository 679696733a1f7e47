"""Pure-Python parts of the benchmark: spans, tails, grading, the
event-log parser and BENCHMARK.json's agreement with the code."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

from perfbench import eventlog, harness, layers
from perfbench.harness import Round
from perfbench.trace import Span, Tracer, self_time_by_name, self_times
from perfbench.workloads import _graded

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "round", 0.0, 10.0, None),
        Span(1, "stream", 1.0, 4.0, 0),
        Span(2, "stream", 3.0, 5.0, 0),  # overlaps the first child
        Span(3, "sink_call", 2.0, 3.0, 1),
        Span(4, "envelope_hop", 7.0, 8.0, 0),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 4.0 - 1.0
    assert st[1] == 2.0 and st[3] == 1.0
    assert self_time_by_name(spans)["stream"] == 2.0 + 2.0


def test_tracer_nests_and_is_inert_when_off():
    off = Tracer(False)
    with off.span("round"):
        pass
    assert off.spans == []
    on = Tracer(True)
    with on.span("round"):
        with on.span("stream"):
            pass
    assert [(s.name, s.parent) for s in on.spans] == [("round", None), ("stream", 0)]
    assert all(s.end >= s.start for s in on.spans)


def test_tail_needs_ten_samples_beyond_it():
    assert harness.tail([5.0, 1.0, 3.0]) == (5.0, 100.0)
    value, pct = harness.tail([float(i) for i in range(100)])
    assert (value, pct) == (89.0, 90.0)  # ten samples (90..99) lie beyond


def test_grading_counts_missing_repeated_wrong_and_dead_lettered():
    expected = Counter({("k1", "d1"): 1, ("k2", "d2"): 1, ("k3", "d3"): 1, ("k4", "d4"): 1})
    posts = [("k1", "d1"), ("k2", "d2"), ("k2", "d2"), ("k3", "WRONG")]
    r = _graded(Round(rows=0, batch_ms=[], posts=posts, dlq_rows=1, attempted=4), expected)
    # k1 good; k2 repeated; k3 wrong; k4 missing; one DLQ row
    assert (r.attempted, r.failed) == (4, 3 + 1)
    leaked = _graded(Round(rows=0, batch_ms=[], posts=list(expected) + [("k9", "d9")],
                           attempted=4), expected)
    assert leaked.failed == 1  # a fifth key where four were due
    ok = _graded(Round(rows=0, batch_ms=[], posts=list(expected), attempted=4), expected)
    assert ok.failed == 0


def test_per_query_figures_rest_on_each_querys_median():
    rounds = [Round(rows=100, batch_ms=[10.0, 1000.0, 50.0], batch_cpu_s=[0.1, 2.0, 0.3]),
              Round(rows=100, batch_ms=[30.0, 3000.0, 50.0], batch_cpu_s=[0.1, 4.0, 0.3]),
              Round(rows=100, batch_ms=[20.0, 2000.0, 90.0], batch_cpu_s=[0.3, 3.0, 0.1])]
    e2e = harness.per_query_end_to_end(1.0, rounds)
    assert e2e["wall_s"] == (20.0 + 2000.0 + 50.0) / 1e3
    assert abs(e2e["cpu_s"] - (0.1 + 3.0 + 0.3)) < 1e-9
    assert (e2e["batch_p50_ms"], e2e["batch_tail_ms"]) == (50.0, 2000.0)
    assert e2e["rows_per_s"] == 100 / e2e["wall_s"] and e2e["batch_samples"] == 9


def test_post_log_returns_each_post_once(tmp_path):
    from perfbench.transport import PostLog, RecordingTransport

    send, log = RecordingTransport(str(tmp_path)), PostLog(str(tmp_path))
    send("u", "a", "k1")
    (first,) = log.new()
    assert first[0] == "k1"
    with open(tmp_path / "posts-1.tsv", "a") as f:
        f.write("k2\td2\nk3\td")  # k3 is still being written
    assert log.new() == [("k2", "d2")]
    with open(tmp_path / "posts-1.tsv", "a") as f:
        f.write("3\n")
    assert log.new() == [("k3", "d3")] and log.new() == []


def test_eventlog_charges_tasks_to_the_job_description():
    stages = eventlog.parse_file(os.path.join(HERE, "data", "eventlog.jsonl"))
    q = stages["q3_shipping_priority"]
    assert q.tasks == 3
    assert abs(q.executor_cpu_s - 0.6) < 1e-9
    assert abs(q.shuffle_write_mb - 2.0) < 1e-9
    assert abs(q.spill_mb - 1.5) < 1e-9
    assert "undescribed" not in stages and set(stages) == {
        "q3_shipping_priority", "q3_shipping_priority/build"}


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == ["email_bulk", "batch_hot"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _ in layers.LAYERS]
    assert len(spec["per_layer"]) <= 128


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only the benchmark fails fast, without a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "email_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
