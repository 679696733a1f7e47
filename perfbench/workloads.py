"""The workloads. Each one generates its inputs from the seed, sets up,
runs rounds of fixed work for the timed phase and checks every round's
outputs; the traced run adds the per-layer measurements.

Both are closed loops: the next round starts when the previous one is
done. email_bulk keeps its two streams running from set-up on, with one
file per trigger; a round lands one file and drains it through both with
`processAllAvailable`, so neither a trigger interval nor a stream start is
timed.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, harness, procstat
from .harness import Ctx, Round
from .layers import QUERIES
from .transport import PostLog, RecordingTransport

SERDE = "avro-py"
# the default trigger: the next micro-batch starts as soon as input is there
TRIGGER = {"processingTime": "0 seconds"}
# After one warm-up pass the next passes still speed up, so 2- and 3-pass
# runs differ; after two they are level.
WARM_PASSES = 2
LOCAL1_INDEX = 9_000  # input files of the local[1] baseline, apart from the rest


def _digests(rows) -> Counter:
    import hashlib

    return Counter(
        (key, hashlib.md5(payload.encode("utf-8")).hexdigest()) for key, payload in rows
    )


def _dlq_rows(path: str) -> int:
    return pq.read_table(path).num_rows if os.path.isdir(path) else 0


def _graded(r: Round, expected: Counter) -> Round:
    """Failed deliveries, against the batch reference and the generator's
    count (`r.attempted`): every expected post that did not arrive exactly
    once and intact, every distinct key posted beyond that count, and every
    DLQ row."""
    posted = Counter(r.posts)
    good = sum(1 for post, n in posted.items() if n == 1 and post in expected)
    extra = max(0, len({key for key, _ in posted}) - r.attempted)
    r.failed = r.attempted - good + extra + r.dlq_rows
    return r


class _SinkFactory:
    """SlackWebhookSink with the fake transport and the limiter off; when
    tracing, each foreachBatch call is a span and its duration is kept."""

    def __init__(self, ctx: Ctx) -> None:
        from kafka_flink_slack_pipeline_spark.sinks.slack import SlackWebhookSink

        tracer = ctx.tracer
        calls = self.calls_ms = []

        class TracedSink(SlackWebhookSink):
            def __call__(self, batch_df, epoch_id):
                t0 = time.perf_counter()
                with tracer.span("sink_call"):
                    super().__call__(batch_df, epoch_id)
                if tracer.enabled:
                    calls.append((time.perf_counter() - t0) * 1e3)

        self._cls = TracedSink

    def __call__(self, record_dir: str, dlq_dir: str):
        os.makedirs(record_dir, exist_ok=True)
        return self._cls(
            "https://hooks.slack.invalid/bench",
            transport=RecordingTransport(record_dir),
            dlq_dir=dlq_dir,
            rate_limit_per_sec=0,
        )


def _stage(d: str, ctx: Ctx, index: int, n: int, mix: gen.EmailMix) -> tuple[str, int]:
    """Write input file `index` under a hidden name, which the stream
    skips; returns that path and the number of emails to admit."""
    path = f"{d}/landing/.emails-{index:05d}.parquet"
    return path, gen.write_emails(path, ctx.seed, index, n, mix)


class _Pipeline:
    """The producer and consumer streams of one set-up, kept running. The
    file-backed Kafka stand-in between them is a hop: the producer's new
    staged files become one envelope file (offset = seqno)."""

    def __init__(self, spark, d: str, sink) -> None:
        from kafka_flink_slack_pipeline_spark.sources import (
            email_landing_stream,
            envelope_stream_from_dir,
        )
        from kafka_flink_slack_pipeline_spark.streaming import (
            run_consumer_stream,
            run_producer_stream,
        )

        self.d = d
        for sub in ("landing", "env"):
            os.makedirs(f"{d}/{sub}", exist_ok=True)
        self.producer = run_producer_stream(
            email_landing_stream(spark, f"{d}/landing", max_files_per_trigger=1),
            f"{d}/staged", f"{d}/ck_producer", serde=SERDE, trigger=TRIGGER,
        )
        self.consumer = run_consumer_stream(
            envelope_stream_from_dir(spark, f"{d}/env"), sink, f"{d}/ck_consumer",
            serde=SERDE, trigger=TRIGGER,
        )
        self.posts = PostLog(f"{d}/posts")
        self.dlq = f"{d}/dlq"
        self.dlq_seen = 0
        self.staged_seen: set[str] = set()
        self.batches_seen = -1  # id of the last data micro-batch of either stream

    def step(self, ctx: Ctx, hidden: str, attempted: int) -> Round:
        """Land a staged file and drain it through both streams."""
        landed = hidden.replace("/.emails-", "/emails-")
        os.rename(hidden, landed)
        with ctx.tracer.span("stream"):
            self.producer.processAllAvailable()
        with ctx.tracer.span("envelope_hop"):
            self._hop(os.path.basename(landed))
        with ctx.tracer.span("stream"):
            self.consumer.processAllAvailable()
        posts = self.posts.new()
        dlq = _dlq_rows(self.dlq)
        r = Round(rows=len({key for key, _ in posts}), batch_ms=[], attempted=attempted,
                  dlq_rows=dlq - self.dlq_seen, calls=len(posts), posts=posts,
                  inputs=[landed])
        self.dlq_seen = dlq
        return r

    def _hop(self, name: str) -> None:
        staged = f"{self.d}/staged"
        new = sorted(f for f in os.listdir(staged)
                     if f.endswith(".parquet") and f not in self.staged_seen)
        self.staged_seen.update(new)
        if not new:
            return
        table = pa.concat_tables(pq.read_table(os.path.join(staged, f),
                                               columns=["seqno", "value"]) for f in new)
        hidden = f"{self.d}/env/.{name}"
        gen.write_envelopes(table, hidden)
        os.rename(hidden, f"{self.d}/env/{name}")

    def timings(self, rounds: list[Round]) -> None:
        """Fill each round's batch latency (producer plus consumer
        triggerExecution of its file) and durationMs phases."""
        n = len(rounds)
        produced = harness.data_batches(self.producer, self.batches_seen, n)
        consumed = harness.data_batches(self.consumer, self.batches_seen, n)
        for r, p, c in zip(rounds, produced, consumed):
            r.phases = [p["durationMs"], c["durationMs"]]
            r.batch_ms = [p["durationMs"]["triggerExecution"]
                          + c["durationMs"]["triggerExecution"]]
        # both streams run exactly one data batch per landed file
        self.batches_seen = produced[-1]["batchId"]
        if consumed[-1]["batchId"] != self.batches_seen:
            raise RuntimeError("producer and consumer micro-batches out of step")

    def stop(self) -> None:
        self.producer.stop()
        self.consumer.stop()


class EmailBulk:
    """Producer then consumer over one large file of emails per round."""

    name = "email_bulk"
    mix = gen.EmailMix()
    mention_mix = gen.MentionMix()
    setups = 3
    min_rounds = 2  # one round is about 7 s: the time limit alone gives 2
    end_to_end = staticmethod(harness.end_to_end)

    def generate(self, ctx: Ctx) -> None:
        """Timed inputs are written per round, before its clock starts."""

    def start(self, ctx: Ctx, spark) -> list[float]:
        """Three set-ups, each a start of both streams plus their first
        micro-batch; the last one's streams stay up for the timed phase."""
        self.spark = spark
        self.sinks = _SinkFactory(ctx)
        self._staged: dict[int, tuple[str, int]] = {}
        times = []
        for i in range(self.setups):
            d = ctx.path(f"pipeline{i}")
            staged = _stage(d, ctx, i, self.mix.setup_emails, self.mix)
            if i:
                self.pipe.stop()
            t0 = time.perf_counter()
            self.pipe = _Pipeline(spark, d, self.sinks(f"{d}/posts", f"{d}/dlq"))
            self.pipe.step(ctx, *staged)
            times.append(time.perf_counter() - t0)
            self.pipe.timings([Round(rows=0, batch_ms=[])])
        return times

    def prepare(self, ctx: Ctx, i: int) -> None:
        self._staged[i] = _stage(self.pipe.d, ctx, self.setups + i, self.mix.emails, self.mix)

    def round(self, ctx: Ctx, i: int) -> Round:
        return self.pipe.step(ctx, *self._staged.pop(i))

    def check(self, ctx: Ctx, rounds: list[Round]) -> None:
        self.pipe.timings(rounds)
        expected = self.reference(self.spark, [f for r in rounds for f in r.inputs])
        for r in rounds:
            _graded(r, expected)
        self.last_input = rounds[-1].inputs[-1]

    def reference(self, spark, files: list[str]) -> Counter:
        """Batch (non-streaming) consumer_transform(producer_transform(...))
        over the same landed files; payloads with a block over the limit are
        dropped so that posting them counts as a failure. The input is
        spread over every core: this run is the check, not the measurement."""
        import json

        from pyspark.sql import functions as F

        from kafka_flink_slack_pipeline_spark.functions.chunking import MAX_BLOCK_TEXT
        from kafka_flink_slack_pipeline_spark.schemas import EMAILS_RAW_SCHEMA
        from kafka_flink_slack_pipeline_spark.sources.email import DEFAULT_SINCE
        from kafka_flink_slack_pipeline_spark.streaming import (
            consumer_transform,
            producer_transform,
        )

        raw = (
            spark.read.schema(EMAILS_RAW_SCHEMA).parquet(*files)
            .filter(~F.col("seen") & (F.col("internal_date") >= F.lit(DEFAULT_SINCE)))
            .select("email_id", "seqno", "subject_raw", "body_raw")
            .repartition(spark.sparkContext.defaultParallelism)
        )
        env = producer_transform(raw, SERDE).select(
            "value",
            F.lit("technews").alias("topic"),
            F.lit(0).alias("partition"),
            F.col("seqno").cast("long").alias("offset"),
        )
        rows = consumer_transform(env, SERDE).select("idempotency_key", "payload").collect()
        ok = [
            (r.idempotency_key, r.payload)
            for r in rows
            if all(len(b["text"]["text"]) <= MAX_BLOCK_TEXT
                   for b in json.loads(r.payload)["blocks"])
        ]
        return _digests(ok)

    def layers(self, ctx: Ctx, spark) -> dict:
        """functions.* kernels and the two transforms as noop writes over
        cached static copies of the last round's input file and envelope
        file, minus a bare scan."""
        from pyspark.sql import functions as F

        from kafka_flink_slack_pipeline_spark.functions.avro_py import (
            email_from_avro_py,
            email_to_avro_py,
        )
        from kafka_flink_slack_pipeline_spark.functions.chunking import (
            hyperlink_headings,
            slack_blocks_payload,
            split_into_blocks,
        )
        from kafka_flink_slack_pipeline_spark.functions.html_text import maybe_html_to_text
        from kafka_flink_slack_pipeline_spark.functions.serde import quoted_printable_decode
        from kafka_flink_slack_pipeline_spark.functions.textclean import clean_body
        from kafka_flink_slack_pipeline_spark.schemas import (
            EMAILS_RAW_SCHEMA,
            KAFKA_ENVELOPE_SCHEMA,
        )
        from kafka_flink_slack_pipeline_spark.streaming import (
            consumer_transform,
            producer_transform,
        )

        name = os.path.basename(self.last_input)
        raw = spark.read.schema(EMAILS_RAW_SCHEMA).parquet(self.last_input).cache()
        env = (spark.read.schema(KAFKA_ENVELOPE_SCHEMA)
               .parquet(f"{self.pipe.d}/env/{name}").cache())
        dec = env.select(email_from_avro_py(F.col("value")).alias("rec")).select("rec.*").cache()
        for df in (raw, env, dec):
            df.count()
        body = F.col("body_raw")
        record = F.struct(
            "seqno", F.coalesce("subject_raw", F.lit("")).alias("subject"),
            body.alias("body"))
        base_raw = harness.noop_seconds(raw.select(body, "subject_raw", "seqno"))
        base_env = harness.noop_seconds(env)
        base_dec = harness.noop_seconds(dec)
        out = {
            "functions.qp_decode_s": harness.noop_seconds(
                raw.select(quoted_printable_decode(body))) - base_raw,
            "functions.html_to_text_s": harness.noop_seconds(
                raw.select(maybe_html_to_text(body))) - base_raw,
            "functions.clean_body_s": harness.noop_seconds(
                raw.select(clean_body(body))) - base_raw,
            "functions.avro_encode_s": harness.noop_seconds(
                raw.select(email_to_avro_py(record))) - base_raw,
            "functions.avro_decode_s": harness.noop_seconds(
                env.select(email_from_avro_py(F.col("value")))) - base_env,
            "functions.chunking_s": harness.noop_seconds(dec.select(slack_blocks_payload(
                F.col("subject"), split_into_blocks(hyperlink_headings(F.col("body"))))))
            - base_dec,
            "streaming.producer_transform_s": harness.noop_seconds(
                producer_transform(raw.select("email_id", "seqno", "subject_raw", "body_raw"),
                                   SERDE)) - base_raw,
            "streaming.consumer_transform_s": harness.noop_seconds(
                consumer_transform(env, SERDE)) - base_env,
        }
        for df in (raw, env, dec):
            df.unpersist()
        out.update(mention_layers(ctx, spark, self.mention_mix))
        return out

    def single_thread(self, ctx: Ctx) -> float:
        """email_bulk.local1_rows_per_s: one round on a local[1] session
        (after its own set-up), the single-threaded baseline."""
        self.spark, _ = harness.start_session(master="local[1]")
        d = ctx.path("pipeline-local1")
        pipe = _Pipeline(self.spark, d, self.sinks(f"{d}/posts", f"{d}/dlq"))
        pipe.step(ctx, *_stage(d, ctx, LOCAL1_INDEX, self.mix.setup_emails, self.mix))
        staged = _stage(d, ctx, LOCAL1_INDEX + 1, self.mix.emails, self.mix)
        t0 = time.perf_counter()
        r = pipe.step(ctx, *staged)
        return r.rows / (time.perf_counter() - t0)


def mention_layers(ctx: Ctx, spark, mix: gen.MentionMix) -> dict:
    """streaming.history_context_s and streaming.enrich_mentions_s: static
    noop writes over a generated thread history, minus a bare scan of their
    input. The mention path has no timed workload of its own; its reply
    count is still checked against the generator's."""
    from kafka_flink_slack_pipeline_spark.schemas import (
        SLACK_EVENT_SCHEMA,
        SLACK_MESSAGE_SCHEMA,
    )
    from kafka_flink_slack_pipeline_spark.streaming import (
        DeterministicStubModel,
        enrich_mentions,
        history_context,
    )

    roots = gen.write_history(ctx.path("history.parquet"), ctx.seed, mix)
    replies = gen.write_mentions(ctx.path("mentions"), ctx.seed, mix, roots)
    history = spark.read.schema(SLACK_MESSAGE_SCHEMA).parquet(ctx.path("history.parquet"))
    events = spark.read.schema(SLACK_EVENT_SCHEMA).parquet(ctx.path("mentions"))
    got = enrich_mentions(events, history, DeterministicStubModel()).count()
    if got != replies:
        raise RuntimeError(f"enrich_mentions replied {got} times, expected {replies}")
    base_hist = harness.noop_seconds(history)
    base_events = harness.noop_seconds(events)
    return {
        "streaming.history_context_s": harness.noop_seconds(
            history_context(history, by_thread=True)) - base_hist,
        "streaming.enrich_mentions_s": harness.noop_seconds(enrich_mentions(
            events, history, DeterministicStubModel())) - base_events,
    }


class BatchHot:
    """Warm count()s of the hot operators/ queries over seeded tables."""

    name = "batch_hot"
    mix = gen.TableMix()
    setups = 3
    # a pass is about 5 s: with a time limit alone, runs near it would
    # flip between 2 and 3 passes, and the fast runs would be the 3-pass ones
    min_rounds = 3
    end_to_end = staticmethod(harness.per_query_end_to_end)
    # input rows each query reads, for rows_per_s
    _reads = {"q3_shipping_priority": ("customers", "orders", "lineitems")}

    def generate(self, ctx: Ctx) -> None:
        import duckdb

        from kafka_flink_slack_pipeline_spark.plans.registry import all_queries

        self.tables = ctx.path("tables")
        gen.write_tables(self.tables, ctx.seed, self.mix)
        self.specs = {q: all_queries()[q] for q in QUERIES}
        con = duckdb.connect()
        try:
            for t in ("documents", "customer", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.tables}/{t}.parquet'")
            self.expected = {
                q: con.execute(f"SELECT count(*) FROM ({s.oracle})").fetchone()[0]
                for q, s in self.specs.items()
            }
        finally:
            con.close()
        self.input_rows = sum(
            sum(getattr(self.mix, t) for t in self._reads.get(q, ("documents",)))
            for q in QUERIES
        )

    def start(self, ctx: Ctx, spark) -> list[float]:
        """Set-up: three builds of every frame, then the warm-up passes over
        the last build's frames (the ones the timed passes count). A set-up
        time is one build plus the warm-up passes; warming each build would
        cost more than the timed phase."""
        sc = spark.sparkContext
        self.spark = spark
        builds: dict[str, list[float]] = {q: [] for q in QUERIES}
        totals = []
        for _ in range(self.setups):
            self.frames = {}
            for q in QUERIES:
                sc.setJobDescription(f"{q}/build")
                t0 = time.perf_counter()
                self.frames[q] = self.specs[q].fn(spark, self.tables)
                builds[q].append(time.perf_counter() - t0)
            totals.append(sum(b[-1] for b in builds.values()))
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            for q in QUERIES:
                sc.setJobDescription(f"{q}/warmup")
                self.frames[q].count()
        warm_s = time.perf_counter() - t0
        sc.setJobDescription(None)
        self.build_s = {q: statistics.median(b) for q, b in builds.items()}
        self.pass_s = {q: [] for q in QUERIES}
        return [t + warm_s for t in totals]

    def prepare(self, ctx: Ctx, i: int) -> None:
        """The frames are built in set-up."""

    def round(self, ctx: Ctx, i: int) -> Round:
        """One pass: every query's count, with its latency and the process
        tree's CPU time; a count is checked as soon as it returns."""
        sc = self.spark.sparkContext
        lat, cpu, failed = [], [], 0
        for q in QUERIES:
            sc.setJobDescription(q)
            c0 = procstat.cpu_seconds(ctx.root_pid)
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("query_count"):
                    n = self.frames[q].count()
            except Exception:  # noqa: BLE001 — a raising query is a failed operation
                traceback.print_exc()
                n = None
            dt = time.perf_counter() - t0
            cpu.append(procstat.cpu_seconds(ctx.root_pid) - c0)
            lat.append(dt * 1e3)
            self.pass_s[q].append(dt)
            failed += n != self.expected[q]
        sc.setJobDescription(None)
        return Round(rows=self.input_rows, batch_ms=lat, batch_cpu_s=cpu,
                     attempted=len(QUERIES), failed=failed)

    def check(self, ctx: Ctx, rounds: list[Round]) -> None:
        """Counts are checked inside each round."""

    def layers(self, ctx: Ctx, spark) -> dict:
        out = {}
        for q in QUERIES:
            out[f"query.{q}.build_s"] = self.build_s[q]
            out[f"query.{q}.wall_s"] = statistics.median(self.pass_s[q])
        return out

    def stage_layers(self, eventlog_dir: str, passes: int) -> dict:
        """query.<name>.{executor_cpu_s,tasks,shuffle_write_mb,spill_mb} per
        timed pass, from the event log (available once the session stopped)."""
        from .eventlog import QueryStages, parse_file

        stages: dict = {}
        for name in os.listdir(eventlog_dir):
            for desc, s in parse_file(os.path.join(eventlog_dir, name)).items():
                stages[desc] = s
        out = {}
        for q in QUERIES:
            s = stages.get(q, QueryStages())
            out[f"query.{q}.executor_cpu_s"] = s.executor_cpu_s / passes
            out[f"query.{q}.tasks"] = s.tasks / passes
            out[f"query.{q}.shuffle_write_mb"] = s.shuffle_write_mb / passes
            out[f"query.{q}.spill_mb"] = s.spill_mb / passes
        return out


WORKLOADS = {w.name: w for w in (EmailBulk, BatchHot)}
