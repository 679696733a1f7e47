"""Each workload end to end on tiny inputs in one shared session: the
streams drain, the fake transport records from inside the Python workers,
every check passes, and a broken expectation is caught."""

from __future__ import annotations

from collections import Counter

import pytest

from perfbench import gen, harness, layers, run
from perfbench.harness import Ctx
from perfbench.trace import Tracer
from perfbench.workloads import BatchHot, EmailBulk


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run._environment(str(tmp_path_factory.mktemp("env")))
    s, _ = harness.start_session()
    yield s
    harness.stop_session(s)


def _ctx(tmp_path) -> Ctx:
    return Ctx(work=str(tmp_path), out=str(tmp_path / "out"), seed=5, seconds=0.0,
               tracer=Tracer(True))


def _check(ctx, wl, spark) -> list:
    wl.generate(ctx)
    setup = wl.start(ctx, spark)
    assert setup and all(t > 0 for t in setup)
    rounds = harness.timed_phase(ctx, wl)
    assert len(rounds) == 1
    r = rounds[0]
    assert r.attempted > 0 and r.failed == 0 and r.rows > 0
    e2e = wl.end_to_end(1.0, rounds)
    assert all(v > 0 for v in e2e.values())
    figures = wl.layers(ctx, spark)
    assert figures and set(figures) <= set(layers.UNITS)
    return rounds


def test_email_bulk(spark, tmp_path):
    wl = EmailBulk()
    wl.setups, wl.min_rounds = 2, 1
    wl.mix = gen.EmailMix(emails=40, setup_emails=10)
    wl.mention_mix = gen.MentionMix(history_rows=2_000, threads=50)
    ctx = _ctx(tmp_path)
    (r,) = _check(ctx, wl, spark)
    assert r.rows == r.attempted == 37 and len(r.batch_ms) == 1 and len(r.phases) == 2
    assert {s.name for s in ctx.tracer.spans} >= {"round", "stream", "sink_call", "envelope_hop"}
    # the streams stay up: the next round is their next micro-batch
    (r2,) = harness.timed_phase(ctx, wl)
    assert r2.failed == 0 and r2.rows == 37 and r2.inputs != r.inputs
    # a payload that differs from the batch reference is a failure
    reference = wl.reference
    wl.reference = lambda spark, files: Counter(
        list(reference(spark, files).elements())[1:])
    (r3,) = harness.timed_phase(ctx, wl)
    assert r3.failed == 1


def test_batch_hot(spark, tmp_path):
    wl = BatchHot()
    wl.setups, wl.min_rounds = 2, 1
    wl.mix = gen.TableMix(documents=200, customers=150, orders=1_500, lineitems=6_000)
    (r,) = _check(_ctx(tmp_path), wl, spark)
    assert len(r.batch_ms) == len(layers.QUERIES)
    wl.expected["q3_shipping_priority"] += 1
    assert wl.round(_ctx(tmp_path), 99).failed == 1
