"""Streaming-layer tests: file sources → availableNow micro-batches →
memory/parquet/foreachBatch sinks. No broker, no network — pipelines are
written against DataFrames so the file-backed stand-ins exercise the same
code that Kafka feeds in production."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark.schemas import (
    EMAILS_RAW_SCHEMA,
    KAFKA_ENVELOPE_SCHEMA,
    SLACK_EVENT_SCHEMA,
    SLACK_MESSAGE_SCHEMA,
)
from kafka_flink_slack_pipeline_spark.sinks.slack import SlackWebhookSink
from kafka_flink_slack_pipeline_spark.sources import (
    email_landing_stream,
    envelope_stream_from_dir,
)
from kafka_flink_slack_pipeline_spark.streaming import (
    DeterministicStubModel,
    consumer_transform,
    dms_only,
    enrich_dms,
    enrich_mentions,
    history_context,
    producer_transform,
    run_consumer_stream,
    run_producer_stream,
    thread_registry_stream,
    windowed_event_counts,
)

import datetime as dt


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()
        raise AssertionError("stream did not drain in time")


# ---------------------------------------------------------------------------
RAW_EMAILS = [
    Row(
        email_id=1, seqno=101, mailbox="Tech News",
        fetch_ts=dt.datetime(2025, 9, 1, 10, 0), seen=False,
        internal_date=dt.date(2025, 9, 1), subject_raw="Daily Brief",
        body_raw=(
            "Intro Together With Sponsor\nTLDR 2025-09-01\nBIG NEWS\n"
            "Caf=C3=A9 story line\nby John Smith\n"
            "Love TLDR? Tell your friends and get rewards!\ntail"
        ),
    ),
    Row(  # seen → filtered out by S2
        email_id=2, seqno=102, mailbox="Tech News",
        fetch_ts=dt.datetime(2025, 9, 1, 10, 0), seen=True,
        internal_date=dt.date(2025, 9, 1), subject_raw="Old",
        body_raw="already seen",
    ),
    Row(  # no subject → P0 default
        email_id=3, seqno=103, mailbox="Tech News",
        fetch_ts=dt.datetime(2025, 9, 2, 10, 0), seen=False,
        internal_date=dt.date(2025, 9, 2), subject_raw=None,
        body_raw="TLDR plain body",
    ),
]


def test_producer_pipeline_end_to_end(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(RAW_EMAILS, EMAILS_RAW_SCHEMA).write.parquet(landing)

    raw = email_landing_stream(spark, landing)
    q = run_producer_stream(raw, out_dir, ckpt, serde="json")
    _await(q)

    out = spark.read.parquet(out_dir).orderBy("seqno").collect()
    assert [r.seqno for r in out] == [101, 103]  # seen row filtered (S2)
    first = out[0]
    assert first.subject == "*Daily Brief*"
    assert first.body.startswith("TLDR 2025-09-01")  # P3 trim
    assert "*BIG NEWS*" in first.body  # P12 bolding
    assert "Caf story line" in first.body  # D1 qp-decode + P11 non-ascii
    assert "by John Smith" not in first.body  # P15
    assert "Love TLDR?" not in first.body  # P4 truncation
    assert out[1].subject == "*No Subject*"  # P0 default
    # serde round-trip: value decodes back to the record
    rec = json.loads(bytes(first.value).decode())
    assert rec == {"seqno": 101, "subject": first.subject, "body": first.body}


# ---------------------------------------------------------------------------
def _envelope_rows(spark, tmp_path, bodies):
    rows = []
    for i, (subject, body) in enumerate(bodies):
        value = json.dumps(
            {"seqno": i, "subject": subject, "body": body}
        ).encode()
        rows.append(
            Row(key=None, value=bytearray(value), topic="technews",
                partition=0, offset=i, timestamp=dt.datetime(2025, 9, 1),
                timestampType=0)
        )
    d = str(tmp_path / "envelopes")
    spark.createDataFrame(rows, KAFKA_ENVELOPE_SCHEMA).write.parquet(d)
    return d


def make_recording_transport(record_dir, fail_marker=None):
    """Transport closure recording posts as files (closures cloudpickle by
    VALUE to the python workers, and the filesystem is the only channel
    back to the test process — executor-side lists would be lost)."""
    import os as _os

    _os.makedirs(record_dir, exist_ok=True)

    def transport(url, payload, key):
        if fail_marker and fail_marker in payload:
            raise RuntimeError("simulated slack 500")
        fname = f"{key}-{_os.urandom(6).hex()}.json"
        with open(_os.path.join(record_dir, fname), "w") as f:
            json.dump({"url": url, "key": key, "payload": payload}, f)

    return transport


def read_posts(record_dir):
    import os as _os

    out = []
    if _os.path.isdir(record_dir):
        for fn in sorted(_os.listdir(record_dir)):
            with open(_os.path.join(record_dir, fn)) as f:
                p = json.load(f)
            out.append((p["url"], p["key"], p["payload"]))
    return out


def test_consumer_pipeline_posts_blockkit(spark, tmp_path):
    env_dir = _envelope_rows(
        spark, tmp_path,
        [("*A*", "Heading one\nhttps://x.co/1\nplain"), ("*B*", "short")],
    )
    record_dir = str(tmp_path / "posts")
    sink = SlackWebhookSink(
        "https://hooks.test/T000",
        transport=make_recording_transport(record_dir),
        rate_limit_per_sec=0, parallelism=2,
    )
    q = run_consumer_stream(
        envelope_stream_from_dir(spark, env_dir), sink,
        str(tmp_path / "ckpt"), serde="json",
    )
    _await(q)

    posts = read_posts(record_dir)
    assert len(posts) == 2
    payloads = {json.loads(p)["blocks"][0]["text"]["text"]: json.loads(p)
                for _, _, p in posts}
    a = payloads["*Subject:* *A*\n*Body:*"]
    assert a["blocks"][1]["text"]["text"] == "<https://x.co/1|Heading one>\nplain"
    # idempotency keys are kafka-coordinate-derived and distinct
    assert len({k for _, k, _ in posts}) == 2


def test_consumer_dlq_captures_failures(spark, tmp_path):
    env_dir = _envelope_rows(
        spark, tmp_path, [("*OK*", "fine"), ("*BAD*", "poison-pill")]
    )
    record_dir = str(tmp_path / "posts")
    dlq = str(tmp_path / "dlq")
    sink = SlackWebhookSink(
        "https://hooks.test/T000",
        transport=make_recording_transport(record_dir, fail_marker="poison-pill"),
        dlq_dir=dlq, rate_limit_per_sec=0, max_retries=1,
    )
    q = run_consumer_stream(
        envelope_stream_from_dir(spark, env_dir), sink,
        str(tmp_path / "ckpt"), serde="json",
    )
    _await(q)

    assert len(read_posts(record_dir)) == 1  # good row delivered
    failures = spark.read.parquet(dlq).collect()
    assert len(failures) == 1
    assert "simulated slack 500" in failures[0].error
    assert "poison-pill" in failures[0].payload  # replayable from DLQ


def test_sink_epoch_idempotency(spark, tmp_path):
    df = spark.createDataFrame(
        [("k1", '{"blocks":[]}')], "idempotency_key string, payload string"
    )
    record_dir = str(tmp_path / "posts")
    sink = SlackWebhookSink(
        "https://hooks.test/T000",
        transport=make_recording_transport(record_dir),
        epoch_dir=str(tmp_path / "epochs"), rate_limit_per_sec=0,
    )
    sink(df, epoch_id=7)
    sink(df, epoch_id=7)  # foreachBatch replay of the same epoch → no-op
    assert len(read_posts(record_dir)) == 1
    sink(df, epoch_id=8)
    assert len(read_posts(record_dir)) == 2


def test_sink_rate_limit_is_shared_by_partitions(spark, tmp_path):
    """The rate budget holds for the sink as a whole: at 20 req/s over 4
    partitions each partition posts at most every 4 / 20 = 0.2 s, so 20
    posts over 4 partitions take at least 4 intervals. A clock of 1/rate
    per partition posts them 0.05 s apart."""
    import os as _os
    import time as _time

    from pyspark import TaskContext

    record_dir = str(tmp_path / "stamps")
    _os.makedirs(record_dir)

    def transport(url, payload, key):
        with open(_os.path.join(record_dir, key), "w") as f:
            f.write(f"{TaskContext.get().partitionId()} {_time.monotonic()!r}")

    df = spark.createDataFrame(
        [(f"k{i}", '{"blocks":[]}') for i in range(20)],
        "idempotency_key string, payload string",
    )
    SlackWebhookSink(
        "https://hooks.test/T000", transport=transport,
        rate_limit_per_sec=20, parallelism=4,
    )(df, epoch_id=0)
    by_partition: dict[int, list[float]] = {}
    for fn in _os.listdir(record_dir):
        with open(_os.path.join(record_dir, fn)) as f:
            part, stamp = f.read().split()
        by_partition.setdefault(int(part), []).append(float(stamp))
    assert sum(len(v) for v in by_partition.values()) == 20
    assert len(by_partition) <= 4
    for stamps in by_partition.values():
        stamps.sort()
        # 10 ms of slack: the clock is read just before the transport runs
        assert min(b - a for a, b in zip(stamps, stamps[1:])) >= 0.2 - 0.01


# ---------------------------------------------------------------------------
SLACK_EVENTS = [
    Row(event_id=1, type="app_mention", channel="C1", channel_type="channel",
        user="U1", text="<@UBOT> summarize today", ts="1712345600.000100",
        thread_ts=None, subtype=None, bot_id=None, files=None),
    Row(event_id=2, type="app_mention", channel="C1", channel_type="channel",
        user="U2", text="<@UBOT> and again", ts="1712345700.000100",
        thread_ts="1712345600.000100", subtype=None, bot_id=None, files=None),
    Row(event_id=3, type="app_mention", channel="C1", channel_type="channel",
        user="U1", text="<@UBOT>", ts="1712345800.000100",  # empty question
        thread_ts=None, subtype=None, bot_id=None, files=None),
    Row(event_id=4, type="app_mention", channel="C1", channel_type="channel",
        user="BOT", text="bot noise", ts="1712345900.000100",
        thread_ts=None, subtype="bot_message", bot_id="B99", files=None),
]

HISTORY = [
    Row(channel="C1", ts="1712345000.000001", thread_ts=None, user="U1",
        text="earlier message"),
    Row(channel="C1", ts="1712345100.000001", thread_ts=None, user="U2",
        text="later message"),
]


def test_enrich_mentions_batch_semantics(spark):
    events = spark.createDataFrame(SLACK_EVENTS, SLACK_EVENT_SCHEMA)
    history = spark.createDataFrame(HISTORY, SLACK_MESSAGE_SCHEMA)
    out = {r.idempotency_key: r for r in
           enrich_mentions(events, history, DeterministicStubModel()).collect()}
    assert len(out) == 3  # bot row filtered (F4)
    # K3 faithful: replies carry the RAW event thread_ts — the threaded
    # mention keeps its root, the unthreaded ones post unthreaded (NULL),
    # exactly chat.postMessage({thread_ts: event.thread_ts}) (:99-101).
    threaded = [r for r in out.values() if r.thread_ts is not None]
    assert [r.thread_ts for r in threaded] == ["1712345600.000100"]
    assert sum(r.thread_ts is None for r in out.values()) == 2
    # LLM stub replied deterministically, context included
    again = {r.idempotency_key: r for r in
             enrich_mentions(events, history, DeterministicStubModel()).collect()}
    assert {k: v.reply_text for k, v in out.items()} == \
        {k: v.reply_text for k, v in again.items()}
    # F6: empty question → verbatim canned reply (slackEventServer.js:78)
    empty = [r for r in out.values() if r.reply_text ==
             "Hi! I was mentioned but didn't see a question. How can I help you?"]
    assert len(empty) == 1


def test_event_server_stream_end_to_end(spark, tmp_path):
    """§3.3 full interactive path as a STREAM: events parquet stream →
    enrich_mentions (stream-static history join) → chat payload →
    foreachBatch Slack sink. Asserts delivered POST bodies: threaded reply
    carries thread_ts, unthreaded reply body has NO thread_ts key (JS
    undefined-field semantics), empty question gets the verbatim canned
    reply."""
    from kafka_flink_slack_pipeline_spark.streaming import (
        run_event_server_stream,
    )

    events_dir = str(tmp_path / "events")
    spark.createDataFrame(SLACK_EVENTS, SLACK_EVENT_SCHEMA) \
        .write.parquet(events_dir)
    history = spark.createDataFrame(HISTORY, SLACK_MESSAGE_SCHEMA)
    record_dir = str(tmp_path / "posts")
    sink = SlackWebhookSink(
        "https://hooks.test/chat.postMessage",
        transport=make_recording_transport(record_dir),
        rate_limit_per_sec=0,
    )
    stream = spark.readStream.schema(SLACK_EVENT_SCHEMA).parquet(events_dir)
    q = run_event_server_stream(
        stream, history, sink, str(tmp_path / "ckpt"),
        model=DeterministicStubModel(),
    )
    _await(q)

    posts = [json.loads(payload) for _url, _key, payload in
             read_posts(record_dir)]
    assert len(posts) == 3  # bot row filtered
    threaded = [p for p in posts if "thread_ts" in p]
    assert [p["thread_ts"] for p in threaded] == ["1712345600.000100"]
    assert all(p["channel"] == "C1" for p in posts)
    canned = [p for p in posts if p["text"] ==
              "Hi! I was mentioned but didn't see a question. "
              "How can I help you?"]
    assert len(canned) == 1


def test_dm_server_stream_end_to_end(spark, tmp_path):
    """DM half of §3.3 as a stream: im-gated messages → channel-history
    context → LLM → unthreaded POST (no thread_ts key in the body)."""
    from kafka_flink_slack_pipeline_spark.streaming import (
        run_dm_server_stream,
    )

    rows = [
        Row(event_id=1, type="message", channel="D1", channel_type="im",
            user="U1", text="hello there", ts="1712345600.1",
            thread_ts=None, subtype=None, bot_id=None, files=None),
        Row(event_id=2, type="message", channel="C1", channel_type="channel",
            user="U1", text="not a dm", ts="1712345601.1", thread_ts=None,
            subtype=None, bot_id=None, files=None),
    ]
    events_dir = str(tmp_path / "events")
    spark.createDataFrame(rows, SLACK_EVENT_SCHEMA).write.parquet(events_dir)
    history = spark.createDataFrame(
        [Row(channel="D1", ts="1712345000.1", thread_ts=None, user="U9",
             text="earlier dm")], SLACK_MESSAGE_SCHEMA)
    record_dir = str(tmp_path / "posts")
    sink = SlackWebhookSink(
        "https://hooks.test/chat.postMessage",
        transport=make_recording_transport(record_dir),
        rate_limit_per_sec=0,
    )
    stream = spark.readStream.schema(SLACK_EVENT_SCHEMA).parquet(events_dir)
    q = run_dm_server_stream(
        stream, history, sink, str(tmp_path / "ckpt"),
        model=DeterministicStubModel(),
    )
    _await(q)

    posts = [json.loads(payload) for _u, _k, payload in
             read_posts(record_dir)]
    assert len(posts) == 1  # channel message gated out
    assert posts[0]["channel"] == "D1"
    assert "thread_ts" not in posts[0]  # unthreaded POST body
    assert posts[0]["text"]


def test_history_context_order_and_limit(spark):
    rows = [Row(channel="C9", ts=f"{1712345000 + i}.0", thread_ts=None,
                user=f"u{i}", text=f"m{i}") for i in range(150)]
    history = spark.createDataFrame(rows, SLACK_MESSAGE_SCHEMA)
    ctx = history_context(history).collect()[0].context_info
    lines = ctx.split("\n")
    assert len(lines) == 100  # W1 limit
    assert lines[0] == "u50: m50" and lines[-1] == "u149: m149"  # oldest→newest


def test_thread_registry_streaming_dedup(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(SLACK_EVENTS[:2], SLACK_EVENT_SCHEMA) \
        .write.parquet(events_dir)

    def run_batch():
        stream = spark.readStream.schema(SLACK_EVENT_SCHEMA).parquet(events_dir)
        q = (
            thread_registry_stream(stream, ttl="7 days")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "registry"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_batch()
    # both events share (C1, root 1712345600.000100) → one registry row
    reg = spark.read.parquet(str(tmp_path / "registry")).collect()
    assert len(reg) == 1
    assert reg[0].thread_root == "1712345600.000100"

    # second run: same key arrives again in a NEW file → state store dedups
    spark.createDataFrame(SLACK_EVENTS[1:2], SLACK_EVENT_SCHEMA) \
        .write.mode("append").parquet(events_dir)
    run_batch()
    reg = spark.read.parquet(str(tmp_path / "registry")).collect()
    assert len(reg) == 1  # ST1 with durable state, no duplicate emission


def test_windowed_event_counts_streaming(spark, tmp_path, sf_dir):
    from kafka_flink_slack_pipeline_spark.tables import table

    # batch formulation on real events
    batch = windowed_event_counts(table(spark, sf_dir, "events"))
    total = batch.agg(F.sum("n_events")).first()[0]
    assert total == table(spark, sf_dir, "events").count()

    # streaming formulation over a file stream (append mode: only windows
    # finalized by the watermark are emitted)
    rows = [Row(ts=dt.datetime(2024, 1, 1, h, 30), event_type="click")
            for h in range(5)]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "ts timestamp, event_type string") \
        .write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, event_type string") \
        .parquet(src)
    q = (
        windowed_event_counts(stream, watermark="30 minutes")
        .writeStream.format("memory").queryName("win_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = spark.sql("SELECT * FROM win_counts").collect()
    # watermark = max(04:30) - 30min = 04:00 → windows 00..03 finalized
    assert {r.window_start.hour for r in got} == {0, 1, 2, 3}
    assert all(r.n_events == 1 for r in got)


def test_ingest_dedup_stream(spark, tmp_path):
    """Streaming exact dedup: same normalized content (case/whitespace
    variants) collapses to one surviving row per fingerprint within the
    watermark horizon."""
    from kafka_flink_slack_pipeline_spark.streaming import (
        dedup_documents_stream,
    )

    rows = [
        Row(doc_id=1, text="Hello  World", ingest_ts=dt.datetime(2024, 1, 1, 0, 0)),
        Row(doc_id=2, text="hello world",  ingest_ts=dt.datetime(2024, 1, 1, 0, 5)),
        Row(doc_id=3, text="different",    ingest_ts=dt.datetime(2024, 1, 1, 0, 6)),
    ]
    src = str(tmp_path / "docs")
    schema = "doc_id bigint, text string, ingest_ts timestamp"
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        dedup_documents_stream(stream, ttl="1 hour")
        .writeStream.format("memory").queryName("ingest_dedup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = spark.sql("SELECT * FROM ingest_dedup").collect()
    fps = {r.fingerprint for r in got}
    assert len(got) == 2 and len(fps) == 2  # 1 and 2 collapse; 3 survives


def test_watermark_drops_late_data(spark, tmp_path):
    """ST5 late-data policy, observable semantics: a row older than the
    checkpointed watermark is DROPPED in append mode — the finalized
    window's count does not change when the late row arrives in a later
    run over the same checkpoint."""
    src = str(tmp_path / "ev")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string"

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            windowed_event_counts(stream, watermark="30 minutes")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _await(q)

    spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 0, 30), event_type="click"),
         Row(ts=dt.datetime(2024, 1, 1, 5, 30), event_type="click")], schema
    ).write.mode("append").parquet(src)
    run()  # watermark → 05:00; hour-00 window finalized with count 1

    spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 0, 45), event_type="click"),  # LATE
         Row(ts=dt.datetime(2024, 1, 1, 10, 30), event_type="click")], schema
    ).write.mode("append").parquet(src)
    run()  # late 00:45 row below watermark → dropped; hour-05 finalizes

    got = {r.window_start.hour: r.n_events
           for r in spark.read.parquet(out).collect()}
    assert got[0] == 1      # NOT 2: the late row never lands
    assert got[5] == 1      # finalized once the watermark passed it
    assert 10 not in got    # newest window still open


def test_apply_in_pandas_with_state_counts(spark, tmp_path):
    """Custom keyed state: running mention counts accumulate across
    micro-batches via the state store."""
    from kafka_flink_slack_pipeline_spark.streaming.stateful import (
        thread_mention_counts,
    )

    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(SLACK_EVENTS[:2], SLACK_EVENT_SCHEMA) \
        .write.parquet(events_dir)

    out_dir = str(tmp_path / "out")

    def run_batch():
        # memory sink can't recover from a checkpoint; foreachBatch can —
        # append each update-mode batch to parquet
        def save(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = spark.readStream.schema(SLACK_EVENT_SCHEMA).parquet(events_dir)
        q = (
            thread_mention_counts(stream)
            .writeStream.foreachBatch(save)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        return spark.read.parquet(out_dir).collect()

    rows = run_batch()
    # both initial events share (C1, 1712345600.000100)
    assert [(r.channel, r.thread_root, r.n_mentions) for r in rows] == \
        [("C1", "1712345600.000100", 2)]

    # second batch: one more mention on the same thread → cumulative count 3
    # (state persisted in the checkpoint across query restarts)
    spark.createDataFrame(SLACK_EVENTS[1:2], SLACK_EVENT_SCHEMA) \
        .write.mode("append").parquet(events_dir)
    rows = run_batch()
    assert sorted((r.channel, r.thread_root, r.n_mentions) for r in rows) == \
        [("C1", "1712345600.000100", 2), ("C1", "1712345600.000100", 3)]


def _tws_runtime_available() -> bool:
    """transformWithStateInPandas spawns a Python state-server worker that
    imports google.protobuf — absent in this container (and pip installs
    are off-limits), so the query crashes at runtime. Probe the import and
    skip honestly; the wiring itself is exercised up to plan analysis
    below either way."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_counts(spark, tmp_path):
    """Same registry semantics on the Spark 4.x transformWithState API:
    typed ValueState + store-managed TTL, cumulative across restarts."""
    from kafka_flink_slack_pipeline_spark.streaming.stateful import (
        thread_mention_counts_tws,
    )

    if not _tws_runtime_available():
        # still pin the wiring: the plan must ANALYZE cleanly (operator,
        # schema, output mode all accepted by Catalyst) even though the
        # protobuf-backed worker cannot launch here
        stream = spark.readStream.schema(SLACK_EVENT_SCHEMA).parquet(
            str(tmp_path)
        )
        df = thread_mention_counts_tws(stream)
        assert [f.name for f in df.schema.fields] == [
            "channel", "thread_root", "n_mentions"
        ]
        assert df.isStreaming
        pytest.skip("google.protobuf missing: TWS runtime cannot start here")

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        events_dir = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")
        out_dir = str(tmp_path / "out")
        spark.createDataFrame(SLACK_EVENTS[:2], SLACK_EVENT_SCHEMA) \
            .write.parquet(events_dir)

        def run_batch():
            def save(batch_df, epoch_id):
                batch_df.write.mode("append").parquet(out_dir)

            stream = spark.readStream.schema(SLACK_EVENT_SCHEMA).parquet(
                events_dir
            )
            q = (
                thread_mention_counts_tws(stream)
                .writeStream.foreachBatch(save)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            _await(q)
            return spark.read.parquet(out_dir).collect()

        rows = run_batch()
        assert [(r.channel, r.thread_root, r.n_mentions) for r in rows] == \
            [("C1", "1712345600.000100", 2)]

        spark.createDataFrame(SLACK_EVENTS[1:2], SLACK_EVENT_SCHEMA) \
            .write.mode("append").parquet(events_dir)
        rows = run_batch()
        assert sorted((r.channel, r.thread_root, r.n_mentions)
                      for r in rows) == \
            [("C1", "1712345600.000100", 2), ("C1", "1712345600.000100", 3)]
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


def test_streaming_session_windows(spark, tmp_path):
    from kafka_flink_slack_pipeline_spark.streaming.stateful import (
        sessionized_event_counts,
    )

    rows = [
        Row(ts=dt.datetime(2024, 1, 1, 10, 0), user_id=1),
        Row(ts=dt.datetime(2024, 1, 1, 10, 10), user_id=1),  # same session
        Row(ts=dt.datetime(2024, 1, 1, 12, 0), user_id=1),   # new session
        Row(ts=dt.datetime(2024, 1, 1, 10, 5), user_id=2),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "ts timestamp, user_id bigint").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, user_id bigint").parquet(src)
    q = (
        sessionized_event_counts(stream)
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = {(r.user_id, r.session_start.hour, r.n_events)
           for r in spark.sql("SELECT * FROM sessions").collect()}
    # the 12:00 session is NOT finalized (watermark = 12:00 - 30min = 11:30
    # < session end 12:30), so append mode emits only the closed ones
    assert (1, 10, 2) in got and (2, 10, 1) in got
    assert all(h != 12 for _, h, _ in got)


def test_stream_stream_time_bounded_join(spark, tmp_path):
    from kafka_flink_slack_pipeline_spark.streaming.event_time import (
        clicks_followed_by_errors,
    )

    rows = [
        Row(event_id=1, ts=dt.datetime(2024, 1, 1, 10, 0), user_id=1,
            event_type="click"),
        Row(event_id=2, ts=dt.datetime(2024, 1, 1, 10, 3), user_id=1,
            event_type="error"),   # within 5 min of click 1 → pair
        Row(event_id=3, ts=dt.datetime(2024, 1, 1, 10, 30), user_id=1,
            event_type="error"),   # too late → no pair
        Row(event_id=4, ts=dt.datetime(2024, 1, 1, 10, 1), user_id=2,
            event_type="error"),   # other user → no pair
        Row(event_id=5, ts=dt.datetime(2024, 1, 1, 12, 0), user_id=9,
            event_type="click"),   # advances the watermark
    ]
    src = str(tmp_path / "ev")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        clicks_followed_by_errors(stream)
        .writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = {(r.click_id, r.error_id)
           for r in spark.sql("SELECT * FROM ss_join").collect()}
    assert got == {(1, 2)}

    # batch frame runs the identical expression
    batch = clicks_followed_by_errors(spark.createDataFrame(rows, schema))
    assert {(r.click_id, r.error_id) for r in batch.collect()} == {(1, 2)}


def test_attach_image_contents_fanout(spark):
    """E2/S7/D6: files explode → image filter → fetch stub → base64 →
    order-preserving re-aggregation."""
    import base64

    from kafka_flink_slack_pipeline_spark.streaming.event_server import (
        attach_image_contents,
    )

    events = spark.createDataFrame(
        [
            Row(event_id=1, type="app_mention", channel="C1",
                channel_type="channel", user="U1", text="look",
                ts="1712345600.1", thread_ts=None, subtype=None, bot_id=None,
                files=[
                    Row(id="F1", mimetype="image/png",
                        url_private="https://f/1.png", permalink_public=None),
                    Row(id="F2", mimetype="application/pdf",
                        url_private="https://f/2.pdf", permalink_public=None),
                    Row(id="F3", mimetype="image/jpeg",
                        url_private="https://f/3.jpg", permalink_public=None),
                ]),
            Row(event_id=2, type="app_mention", channel="C1",
                channel_type="channel", user="U2", text="no files",
                ts="1712345601.1", thread_ts=None, subtype=None, bot_id=None,
                files=None),
        ],
        SLACK_EVENT_SCHEMA,
    )
    out = {r.event_id: r for r in attach_image_contents(events).collect()}
    imgs = out[1].image_contents
    assert [i.mimetype for i in imgs] == ["image/png", "image/jpeg"]  # F7 + order
    decoded = base64.b64decode(imgs[0].data_b64)
    assert decoded.startswith(b"IMGBYTES:")  # D6 round-trips the stub fetch
    assert out[2].image_contents == []  # no files → empty array, row kept


def test_kafka_sink_option_plumbing(spark, tmp_path):
    """K1 wiring: write_stream_to_kafka builds a kafka-format writer with
    the bootstrap/topic/checkpoint options and hands it to Spark's
    data-source resolver. No broker or connector jar exists in this
    environment, so reaching the resolver and failing with the
    kafka-specific missing-connector error IS the executable evidence that
    the format/option plumbing is wired (README: environment constraints)."""
    from kafka_flink_slack_pipeline_spark.sinks.kafka import (
        write_stream_to_kafka,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(b"payload",)], "value binary").write.parquet(src)
    stream = spark.readStream.schema("value binary").parquet(src)
    with pytest.raises(Exception) as ei:
        write_stream_to_kafka(
            stream, "broker:9092", "technews", str(tmp_path / "ckpt")
        )
    msg = str(ei.value).lower()
    assert "kafka" in msg  # resolver saw format("kafka"), not a generic error

    # missing value column → guarded before any Spark work
    bad = spark.readStream.schema("x int").parquet(src)
    with pytest.raises(ValueError, match="value"):
        write_stream_to_kafka(
            bad, "broker:9092", "technews", str(tmp_path / "ckpt")
        )


def test_kafka_sasl_option_passthrough():
    """Secured-cluster parity (Consumer/kafkaConsumer.js:23-31,
    Producer/kafkaProducer.js:29-40 — SASL_PLAIN + SSL to Confluent):
    extra_options must reach the final reader/writer option map verbatim,
    and managed keys must collide loudly instead of silently clobbering
    the wrapper's replay/subscription semantics."""
    from kafka_flink_slack_pipeline_spark.sources.kafka import (
        SASL_SSL_OPTIONS_EXAMPLE,
        merge_kafka_options,
    )

    managed = {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "technews",
        "startingOffsets": "earliest",
    }
    merged = merge_kafka_options(managed, SASL_SSL_OPTIONS_EXAMPLE)
    # every security option passes through verbatim
    for k, v in SASL_SSL_OPTIONS_EXAMPLE.items():
        assert merged[k] == v
    # managed options survive untouched
    for k, v in managed.items():
        assert merged[k] == v
    # None → managed only
    assert merge_kafka_options(managed, None) == managed
    # clobber attempt on a managed key raises, naming the key
    with pytest.raises(ValueError, match="startingOffsets"):
        merge_kafka_options(managed, {"startingOffsets": "latest"})


def test_multimodal_content_blocks_wire_shape(spark):
    """Content-array parity (slackEventServer.js:231-258): a mention with
    an image must hand the model `[{"type":"text",...},{"type":"image",
    "source":{"type":"base64","media_type":...,"data":...}}]` — NULL
    fields absent, block order text-first."""
    from kafka_flink_slack_pipeline_spark.streaming import (
        enrich_mentions_multimodal,
    )

    import base64

    rows = [
        Row(event_id=1, type="app_mention", channel="C1",
            channel_type="channel", user="U1", text="<@UBOT> what is this?",
            ts="1712345600.1", thread_ts=None, subtype=None, bot_id=None,
            files=[Row(id="F1", mimetype="image/png",
                       url_private="https://files.test/a.png",
                       permalink_public=None)]),
    ]
    events = spark.createDataFrame(rows, SLACK_EVENT_SCHEMA)
    history = spark.createDataFrame([], SLACK_MESSAGE_SCHEMA)

    # echo model: the UDF runs in a worker process, so the only channel
    # back to the test is the reply itself
    out = enrich_mentions_multimodal(
        events, history, lambda content: content
    ).collect()
    assert len(out) == 1
    blocks = json.loads(out[0].reply_text)
    assert [b["type"] for b in blocks] == ["text", "image"]
    assert "source" not in blocks[0] and "text" not in blocks[1]
    assert blocks[0]["text"].startswith("You are May's Slack Agent")
    src = blocks[1]["source"]
    assert src["type"] == "base64" and src["media_type"] == "image/png"
    assert base64.b64decode(src["data"]).startswith(b"IMGBYTES:")


def test_dms_only_gate(spark):
    """F5: `channel_type === 'im'` (slackEventServer.js:121) — channel and
    group messages are dropped, DMs pass."""
    rows = [
        Row(event_id=1, type="message", channel="D1", channel_type="im",
            user="U1", text="hello", ts="1712345600.1", thread_ts=None,
            subtype=None, bot_id=None, files=None),
        Row(event_id=2, type="message", channel="C1", channel_type="channel",
            user="U1", text="not a dm", ts="1712345601.1", thread_ts=None,
            subtype=None, bot_id=None, files=None),
        Row(event_id=3, type="message", channel="G1", channel_type="group",
            user="U2", text="group msg", ts="1712345602.1", thread_ts=None,
            subtype=None, bot_id=None, files=None),
    ]
    events = spark.createDataFrame(rows, SLACK_EVENT_SCHEMA)
    kept = dms_only(events).collect()
    assert [r.event_id for r in kept] == [1]


def test_enrich_dms_end_to_end(spark):
    """DM path e2e (slackEventServer.js:114-149): bot filter → im gate →
    channel history context → LLM → UNTHREADED reply."""
    rows = [
        Row(event_id=1, type="message", channel="D1", channel_type="im",
            user="U1", text="what's new?", ts="1712345600.1",
            thread_ts="1712345500.1",  # even in a thread, reply is unthreaded
            subtype=None, bot_id=None, files=None),
        Row(event_id=2, type="message", channel="D1", channel_type="im",
            user="BOT", text="bot echo", ts="1712345601.1", thread_ts=None,
            subtype="bot_message", bot_id="B1", files=None),  # F4 dropped
        Row(event_id=3, type="message", channel="C1", channel_type="channel",
            user="U1", text="channel msg", ts="1712345602.1", thread_ts=None,
            subtype=None, bot_id=None, files=None),  # F5 dropped
    ]
    events = spark.createDataFrame(rows, SLACK_EVENT_SCHEMA)
    history = spark.createDataFrame(
        [Row(channel="D1", ts="1712345000.1", thread_ts=None, user="U9",
             text="earlier dm")], SLACK_MESSAGE_SCHEMA)
    out = enrich_dms(events, history, DeterministicStubModel()).collect()
    assert len(out) == 1
    assert out[0].channel == "D1"
    assert out[0].thread_ts is None  # postMessage without thread_ts (:138-141)
    assert out[0].reply_text  # LLM replied (context joined, no empty guard)


def test_prompt_template_reference_golden(spark):
    """P20 byte-exact golden: assemble_prompt + wrap_context_info must
    reproduce the JS template literal (slackEventServer.js:226-240),
    including the 'Recent channel context:' wrapper, the trailing space
    after the question, and the 6-space backtick indentation."""
    from kafka_flink_slack_pipeline_spark.functions.textclean import (
        assemble_prompt,
        wrap_context_info,
    )
    df = spark.createDataFrame(
        [("u1: hi\nu2: yo", "what is up?"), ("", "no context?")],
        "history string, question string")
    got = [r.p for r in df.select(assemble_prompt(
        wrap_context_info(F.col("history")), F.col("question")
    ).alias("p")).collect()]

    def js_template(context_info, user_message):
        return (
            "You are May's Slack Agent, an AI assistant helping users in a "
            "Slack workspace. Here's the context: " + context_info
            + '. A user asked: "' + user_message + '". \n'
            "      You should respond in a helpful, direct, and concise "
            "manner. Search the web for the latest information if needed.\n"
            "      Also ensure you follow Slack's markup formatting shown "
            "here: 1. bold - Surround text with asterisks: \n"
            "      *your text* 2.Italicize - Surround text with underscores: "
            "_your text_ 3. Hyperlink - Use <URL|text> format for links. "
            "4. block quote - Add an angled bracket in front of text:\n"
            "      >your text"
        )

    assert got[0] == js_template(
        "\n\nRecent channel context:\nu1: hi\nu2: yo\n\n", "what is up?")
    assert got[1] == js_template("", "no context?")  # empty history → no wrapper


def test_history_context_by_thread(spark):
    """W2: per-(channel, thread) history context, separate from W1."""
    rows = [
        Row(channel="C1", ts="100.1", thread_ts="100.1", user="a", text="root"),
        Row(channel="C1", ts="101.1", thread_ts="100.1", user="b", text="reply"),
        Row(channel="C1", ts="102.1", thread_ts="999.9", user="c", text="other"),
    ]
    from kafka_flink_slack_pipeline_spark.schemas import SLACK_MESSAGE_SCHEMA
    history = spark.createDataFrame(rows, SLACK_MESSAGE_SCHEMA)
    ctx = {(r.channel, r.thread_ts): r.context_info
           for r in history_context(history, by_thread=True).collect()}
    assert ctx[("C1", "100.1")] == "a: root\nb: reply"
    assert ctx[("C1", "999.9")] == "c: other"


def test_streaming_neardup_flags_minhash_collisions(spark, tmp_path):
    """Streaming near-dup: a lightly edited copy is flagged against the
    first-seen doc with high estimated Jaccard (state persists across
    micro-batches via the checkpoint); an unrelated doc is not flagged."""
    from kafka_flink_slack_pipeline_spark.streaming import (
        neardup_documents_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    edited = base + "tail"  # one appended word: 15/16 signature
    # components agree (verified deterministically), 3 of 4 bands collide
    other = "completely different content about spark window aggregation " * 4
    schema = "doc_id bigint, text string, ingest_ts timestamp"
    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def run_batch():
        def save(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            neardup_documents_stream(stream, watermark="1 hour")
            .writeStream.foreachBatch(save)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        return spark.read.parquet(out_dir).collect()

    spark.createDataFrame(
        [Row(doc_id=1, text=base, ingest_ts=t0),
         Row(doc_id=2, text=other, ingest_ts=t0)],
        schema,
    ).write.parquet(src)
    assert run_batch() == []  # two unrelated docs: no bucket collision

    # second batch: the edited copy collides with doc 1's bands
    spark.createDataFrame(
        [Row(doc_id=3, text=edited, ingest_ts=dt.datetime(2024, 1, 1, 0, 30))],
        schema,
    ).write.mode("append").parquet(src)
    rows = run_batch()
    assert rows, "edited copy should be flagged"
    assert {(r.doc_id, r.dup_of) for r in rows} == {(3, 1)}
    assert all(r.est_jaccard >= 0.5 for r in rows)


def test_trending_terms_stream_topk(spark, tmp_path):
    from kafka_flink_slack_pipeline_spark.streaming.event_time import (
        top_k_per_window,
        trending_terms_stream,
    )

    rows = [
        # hour 0: 'spark' x3, 'flink' x2, 'duck' x1
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 10),
            text="spark spark flink"),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 40),
            text="spark flink duck"),
        # hour 1: 'duck' x2, 'spark' x1
        Row(ingest_ts=dt.datetime(2024, 1, 1, 1, 15), text="duck duck spark"),
        # hour 4 row advances the watermark so hours 0-3 finalize
        Row(ingest_ts=dt.datetime(2024, 1, 1, 4, 30), text="late marker"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "ingest_ts timestamp, text string") \
        .write.parquet(src)
    stream = spark.readStream.schema("ingest_ts timestamp, text string") \
        .parquet(src)
    ranked_batches = []
    q = (
        trending_terms_stream(stream, watermark="30 minutes")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(
            lambda df, _id: ranked_batches.append(
                top_k_per_window(df, k=2).collect()
            )
        )
        .start()
    )
    _await(q)
    got = [r for b in ranked_batches for r in b]
    by_hour = {}
    for r in got:
        by_hour.setdefault(r.window_start.hour, []).append(
            (r.rank, r.term, r.n)
        )
    # finalized windows only (hour-4 window is still open)
    assert set(by_hour) == {0, 1}
    assert by_hour[0] == [(1, "spark", 3), (2, "flink", 2)]  # duck cut by k=2
    assert by_hour[1] == [(1, "duck", 2), (2, "spark", 1)]
    # batch formulation over the same data ranks identically for the
    # finalized hours (stream/batch parity)
    batch = top_k_per_window(
        trending_terms_stream(spark.read.parquet(src)), k=2
    ).collect()
    batch_h = [(r.rank, r.term, r.n) for r in batch
               if r.window_start.hour in (0, 1)]
    assert batch_h == by_hour[0] + by_hour[1]


def test_streaming_drift_monitor(spark, tmp_path):
    from kafka_flink_slack_pipeline_spark.streaming.event_time import (
        length_bucket_counts_stream,
        tv_drift_against_reference,
    )

    # hour 0 matches the reference exactly (2 docs in bucket 0); hour 1
    # puts all mass in bucket 1 where the reference has half
    rows = [
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 10), text="a b"),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 40), text="c d"),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 1, 15),
            text=" ".join(["w"] * 20)),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 4, 30), text="advance mark"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "ingest_ts timestamp, text string") \
        .write.parquet(src)
    stream = spark.readStream.schema("ingest_ts timestamp, text string") \
        .parquet(src)
    reference = {0: 1.0}
    drift_batches = []
    q = (
        length_bucket_counts_stream(stream, watermark="30 minutes")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(
            lambda df, _id: drift_batches.append(
                tv_drift_against_reference(df, reference).collect()
            )
        )
        .start()
    )
    _await(q)
    got = {r.window_start.hour: r.tv_distance
           for b in drift_batches for r in b}
    # finalized hours only; hour 0 has zero drift, hour 1 full drift
    assert set(got) == {0, 1}
    assert got[0] == 0.0
    assert got[1] == 1.0
    # stream/batch parity on the same files
    batch_counts = length_bucket_counts_stream(spark.read.parquet(src))
    batch = {
        r.window_start.hour: r.tv_distance
        for r in tv_drift_against_reference(batch_counts, reference)
        .collect()
        if r.window_start.hour in (0, 1)
    }
    assert batch == got


def test_tv_drift_normalizes_unnormalized_reference(spark):
    """An unnormalized reference dict (e.g. raw counts) must yield the
    same TV distance as its normalized form, and an empty/zero-mass
    reference must raise instead of silently producing a wrong
    (possibly negative) distance."""
    import pytest

    from kafka_flink_slack_pipeline_spark.streaming.event_time import (
        tv_drift_against_reference,
    )

    counts = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0), 0, 3), (dt.datetime(2024, 1, 1, 0), 1, 1)],
        "window_start timestamp, bucket int, n long",
    )
    normalized = {0: 0.25, 1: 0.75}
    scaled = {0: 25.0, 1: 75.0}  # same distribution, raw-count form
    a = tv_drift_against_reference(counts, normalized).collect()
    b = tv_drift_against_reference(counts, scaled).collect()
    assert [r.tv_distance for r in a] == [r.tv_distance for r in b] == [0.5]
    with pytest.raises(ValueError):
        tv_drift_against_reference(counts, {})


def test_streaming_ohlc_matches_batch(spark, tmp_path, sf_dir):
    from kafka_flink_slack_pipeline_spark.operators.windows import (
        events_ohlc_rollup,
    )
    from kafka_flink_slack_pipeline_spark.streaming.event_time import (
        ohlc_rollup_stream,
    )
    from kafka_flink_slack_pipeline_spark.tables import table

    # batch parity on real events: the min_by/max_by formulation must
    # reproduce the row_number formulation exactly
    batch_rows = {
        (r.window_start_epoch, r.event_type): r
        for r in events_ohlc_rollup(spark, sf_dir).collect()
    }
    agg_rows = {
        (r.window_start_epoch, r.event_type): r
        for r in ohlc_rollup_stream(table(spark, sf_dir, "events")).collect()
    }
    assert set(batch_rows) == set(agg_rows)
    for k, b in batch_rows.items():
        a = agg_rows[k]
        assert (a.open, a.high, a.low, a.close, a.n_events,
                a.total_value) == (
            b.open, b.high, b.low, b.close, b.n_events, b.total_value)

    # streaming run over a controlled file source emits finalized windows
    rows = [
        Row(ts=dt.datetime(2024, 1, 1, 0, m), event_id=i,
            event_type="click", value=float(v))
        for i, (m, v) in enumerate([(5, 10.0), (20, 30.0), (50, 20.0)])
    ] + [Row(ts=dt.datetime(2024, 1, 1, 4, 0), event_id=99,
             event_type="click", value=1.0)]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "ts timestamp, event_id long, event_type string, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "ts timestamp, event_id long, event_type string, value double"
    ).parquet(src)
    q = (
        ohlc_rollup_stream(stream, watermark="30 minutes")
        .writeStream.format("memory").queryName("ohlc_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = {r.window_start_epoch: r
           for r in spark.sql("SELECT * FROM ohlc_stream").collect()}
    assert len(got) == 1  # hour 0 finalized, hour 4 still open
    r = next(iter(got.values()))
    assert (r.open, r.high, r.low, r.close, r.n_events) == \
        (10.0, 30.0, 10.0, 20.0, 3)
    assert r.total_value == 60.0


def test_quality_gate_stream_parity_and_rejects(spark, tmp_path):
    """The Gopher+C4 admission gate over a file stream: a clean doc is
    admitted, a short doc is rejected by Gopher, a brace doc by C4;
    finalized-window counts match the batch run on the same files."""
    from kafka_flink_slack_pipeline_spark.streaming.event_time import (
        quality_gate_stream,
    )

    clean = (
        "The quick brown fox jumps over the lazy dog and runs far away. "
        "Here is another full sentence with plenty of ordinary words. "
        "And a third one to be safe with the sentence count rule. "
        + " ".join(f"filler{i:03d}" for i in range(40))
        + " ."
    )
    # C4-clean (3 sentences, terminal punct, no brace) but Gopher-short
    short = "the be one and two. the be three and four. the be five now."
    brace = (
        "This document would pass every rule except the brace one { . "
        "Here is another full sentence with plenty of ordinary words. "
        "And a third one to be safe with the sentence count rule. "
        + " ".join(f"pad{i:03d}" for i in range(40))
        + " ."
    )
    rows = [
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 10), text=clean),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 20), text=short),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 0, 30), text=brace),
        Row(ingest_ts=dt.datetime(2024, 1, 1, 4, 30), text="advance mark."),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "ingest_ts timestamp, text string") \
        .write.parquet(src)
    stream = spark.readStream.schema("ingest_ts timestamp, text string") \
        .parquet(src)
    batches = []
    q = (
        quality_gate_stream(stream, watermark="30 minutes")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .start()
    )
    _await(q)
    got = {r.window_start.hour: r for b in batches for r in b}
    assert 0 in got  # hour-0 window finalized by the watermark
    h0 = got[0]
    assert h0.n_docs == 3 and h0.n_admitted == 1
    assert h0.n_gopher_reject == 1  # the short doc
    assert h0.n_c4_reject == 1     # the brace doc
    assert h0.admit_rate == 0.3333
    batch = {
        r.window_start.hour: r
        for r in quality_gate_stream(spark.read.parquet(src)).collect()
    }
    assert batch[0].asDict() == h0.asDict()


def test_crossdup_stream_stream_exact_join(spark, tmp_path):
    """Stream-stream exact-hash dedup (the exact family's streaming
    face): a later normalized-content copy is matched against the
    earlier landed doc across micro-batches (checkpointed state), each
    unordered pair emits exactly once even though both join sides read
    the SAME source, and a replay over the same checkpoint emits
    nothing new (exactly-once)."""
    from kafka_flink_slack_pipeline_spark.streaming import (
        crossdup_documents_stream,
    )

    schema = "doc_id bigint, text string, ingest_ts timestamp"
    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def run_batch():
        def save(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(out_dir)

        inc = spark.readStream.schema(schema).parquet(src)
        lnd = spark.readStream.schema(schema).parquet(src)
        q = (
            crossdup_documents_stream(inc, lnd, horizon="2 hours")
            .writeStream.foreachBatch(save)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        return spark.read.parquet(out_dir).collect()

    spark.createDataFrame(
        [Row(doc_id=1, text="Hello  World", ingest_ts=t0),
         Row(doc_id=2, text="different", ingest_ts=t0)],
        schema,
    ).write.parquet(src)
    # distinct contents, and no doc matches itself
    assert run_batch() == []

    # a case/whitespace variant of doc 1 lands 30 min later: one match,
    # state carried across micro-batches by the checkpoint
    spark.createDataFrame(
        [Row(doc_id=3, text="hello world",
             ingest_ts=dt.datetime(2024, 1, 1, 0, 30))],
        schema,
    ).write.mode("append").parquet(src)
    rows = run_batch()
    assert {(r.doc_id, r.dup_of) for r in rows} == {(3, 1)}
    assert all(r.landed_ts <= r.ingest_ts for r in rows)

    # replay with no new data: exactly-once — nothing re-emitted
    assert {(r.doc_id, r.dup_of) for r in run_batch()} == {(3, 1)}


def test_anomaly_stream_batch_parity_and_state_carryover(spark, tmp_path, sf_dir):
    """Stream/batch parity for the z-score monitor: one availableNow run
    over the whole events table (each key's rows sorted in-batch) must
    flag exactly the batch operator's rows with identical zscores; then
    a planted flatline+spike split across TWO runs pins that the ring
    buffer survives in the state store."""
    from kafka_flink_slack_pipeline_spark.operators.windows import (
        events_anomaly_zscore,
    )
    from kafka_flink_slack_pipeline_spark.streaming.anomaly import (
        anomaly_events_stream,
    )

    schema = "event_id bigint, ts timestamp, event_type string, value double"

    src = str(tmp_path / "events_src")
    spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    ).coalesce(1).write.parquet(src)
    q = (
        anomaly_events_stream(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("anom_parity")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.zscore)
        for r in spark.sql("SELECT * FROM anom_parity").collect()
    }
    want = {
        (r.event_id, r.zscore)
        for r in events_anomaly_zscore(spark, sf_dir).collect()
    }
    assert got == want and want

    # planted carryover: 20 flat values in run 1, the spike in run 2
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    src2 = str(tmp_path / "events_src2")
    ckpt2 = str(tmp_path / "ckpt2")
    flat = [(i, t0 + dt.timedelta(seconds=i), "flat", 10.0) for i in range(20)]
    spark.createDataFrame(flat, schema).write.parquet(src2)

    out2 = str(tmp_path / "anom_out")

    def run2():
        q2 = (
            anomaly_events_stream(
                spark.readStream.schema(schema).parquet(src2)
            )
            .writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out2)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt2)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

    run2()
    assert spark.read.parquet(out2).count() == 0
    spike = [(20, t0 + dt.timedelta(seconds=20), "flat", 99.99)]
    spark.createDataFrame(spike, schema).write.mode("append").parquet(src2)
    run2()
    rows = spark.read.parquet(out2).collect()
    assert [(r.event_id, r.zscore) for r in rows] == [(20, None)]
