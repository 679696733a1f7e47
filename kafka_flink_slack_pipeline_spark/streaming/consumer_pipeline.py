"""Delivery path (SURVEY.md §3.2): Kafka → decode → reshape → Slack.

Mirrors `Consumer/kafkaConsumer.js`:
  S4 envelope source → D4 Avro/JSON decode → W3 hyperlinkHeadings →
  E1 splitIntoBlocks(2900) → E3/D5 Block Kit assembly → K2 webhook sink.

Upgrades over the reference (§4.2): per-record errors go to the DLQ
instead of being swallowed (ST4), and each payload carries an idempotency
key derived from the Kafka coordinates (topic/partition/offset) so
at-least-once replays are receiver-dedupable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.chunking import (
    MAX_BLOCK_TEXT,
    hyperlink_headings,
    slack_blocks_payload,
    split_into_blocks,
)
from ..sinks.slack import SlackWebhookSink
from .microbatch import spread


def consumer_transform(envelope: DataFrame, serde: str = "json") -> DataFrame:
    """Kafka envelope → (idempotency_key, subject, payload)."""
    if serde == "avro":
        from ..functions.serde import email_from_avro as decode
    elif serde == "avro-py":
        from ..functions.avro_py import email_from_avro_py as decode
    else:
        from ..functions.serde import email_from_json as decode

    # decode into its own projection: the downstream E1/W3 folds are
    # higher-order-function lambdas, which cannot contain Python UDF calls
    # (the avro-py decode path) — the boundary makes them reference plain
    # struct fields instead.
    decoded = envelope.select(
        decode(F.col("value")).alias("rec"), "topic", "partition", "offset"
    )
    hyperlinked = hyperlink_headings(F.col("rec")["body"])  # W3 (kafkaConsumer.js:119)
    chunks = split_into_blocks(hyperlinked, MAX_BLOCK_TEXT)  # E1 (:122)
    payload = slack_blocks_payload(F.col("rec")["subject"], chunks)  # E3/D5 (:123-140)
    key = F.md5(
        F.concat_ws(
            "/",
            F.col("topic"),
            F.col("partition").cast("string"),
            F.col("offset").cast("string"),
        )
    )
    return decoded.select(
        key.alias("idempotency_key"),
        F.col("rec")["subject"].alias("subject"),
        payload.alias("payload"),
    )


def run_consumer_stream(
    envelope_stream: DataFrame,
    sink: SlackWebhookSink,
    checkpoint_dir: str,
    serde: str = "json",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Post each micro-batch through `sink`, after spreading it over as
    many tasks as its size pays for (microbatch.py)."""

    def deliver(batch: DataFrame, epoch_id: int) -> None:
        sink(consumer_transform(spread(batch), serde), epoch_id)

    writer = envelope_stream.writeStream.foreachBatch(deliver).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(**(trigger or {"availableNow": True})).start()
