"""Ingest path (SURVEY.md §3.1): landing dir → clean chain → serde → Kafka.

Mirrors `Producer/kafkaProducer.js` end to end:
  source S1/S2/S3 (sources/email.py) → D1 quoted-printable → D2 utf-8 →
  P1 conditional HTML→text → P0 subject format → P2-P16 clean chain →
  D3 serialize → K1 Kafka sink, 10-minute micro-batches, checkpointed.

The transform is a pure DataFrame→DataFrame function so it runs identically
on a batch frame (tests, backfills) and a streaming frame — Structured
Streaming's core design win over the reference's callback pipeline.

Each micro-batch is spread over as many tasks as its size pays for before
the row work (microbatch.py). The size is known per batch only inside
foreachBatch, so the transform runs there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.html_text import maybe_html_to_text
from ..functions.serde import quoted_printable_decode
from ..functions.textclean import clean_body, format_subject
from ..sinks.kafka import email_kafka_sink_frame
from .microbatch import spread, stage_parquet

# the reference's micro-batch period (kafkaProducer.js:232)
DEFAULT_TRIGGER = {"processingTime": "10 minutes"}


def producer_transform(raw: DataFrame, serde: str = "json") -> DataFrame:
    """raw emails (email_id, seqno, subject_raw, body_raw) → (seqno,
    subject, body, value) where value is the serialized email record."""
    decoded = quoted_printable_decode(F.col("body_raw"))  # D1+P17 (+D2)
    body = clean_body(maybe_html_to_text(decoded))  # P1 gate + P2-P16
    subject = format_subject(F.col("subject_raw"))  # P0
    record = F.struct(
        F.col("seqno").cast("int").alias("seqno"),
        subject.alias("subject"),
        body.alias("body"),
    )
    return raw.select(
        "email_id",
        record["seqno"].alias("seqno"),
        record["subject"].alias("subject"),
        record["body"].alias("body"),
        email_kafka_sink_frame(record, serde).alias("value"),
    )


def run_producer_stream(
    raw_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    serde: str = "json",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Drive the transform into a parquet staging directory (broker-free
    runs; swap for sinks.kafka.write_stream_to_kafka in production). Each
    micro-batch lands as `epoch-<id>-*.parquet` files, once even if the
    batch is replayed (microbatch.stage_parquet)."""

    def stage(batch: DataFrame, epoch_id: int) -> None:
        stage_parquet(producer_transform(spread(batch), serde), output_dir, epoch_id)

    writer = raw_stream.writeStream.foreachBatch(stage).option(
        "checkpointLocation", checkpoint_dir
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
