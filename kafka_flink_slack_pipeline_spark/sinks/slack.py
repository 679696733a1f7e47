"""Slack HTTP sink (K2/K3) with the reliability upgrades the reference
lacks (K4/ST4): rate limiting, idempotency, dead-letter queue.

Reference behavior being re-expressed:
  - K2: `axios.post(slackWebhookUrl, {blocks})` per message, errors logged
    and DROPPED (`Consumer/kafkaConsumer.js:117-148`) — effectively
    at-most-once.
  - K3: `chat.postMessage({channel, text, thread_ts?})`
    (`Slack Event Server/slackEventServer.js:97-101,136-139`).

Our semantics: at-least-once + idempotency key (Slack webhooks are not
transactional, so exactly-once is impossible at the protocol level):
  - foreachBatch is the delivery unit; an epoch marker directory makes
    batch replay a no-op (the standard foreachBatch idempotency pattern).
  - every post carries `idempotency_key`; a receiver (or smarter
    transport) can dedup on it. Keys default to md5(payload).
  - failures append to a DLQ parquet table with the error, instead of the
    reference's swallow-and-continue — replayable with
    `spark.read.parquet(dlq_dir)`.

Scale notes: posting happens executor-side via mapInPandas (no
driver-side collect); `parallelism` bounds concurrent HTTP streams. The
rate budget (Slack's ~1 req/s webhook limit by default) is shared by the
partitions: each posts at most every `parallelism / rate` seconds, so
together they post at most `rate` requests per second. Each partition
posts its first row at once, so a micro-batch opens with a burst of up to
`parallelism` posts; the budget holds within a batch, not across batches,
since each batch starts its partitions' clocks afresh. At high
volume the right knob is fewer, larger Block Kit payloads (E1 chunking
already packs to the 2,900-char ceiling).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Transport = Callable[[str, str, str], None]  # (url, payload_json, idem_key)


def _http_post_transport(url: str, payload: str, idempotency_key: str) -> None:
    """Default transport: stdlib HTTP POST (kept import-light; tests and
    offline environments inject a fake instead)."""
    import urllib.request

    req = urllib.request.Request(
        url,
        data=payload.encode("utf-8"),
        headers={
            "Content-Type": "application/json",
            "X-Idempotency-Key": idempotency_key,
        },
    )
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310
        if resp.status >= 300:
            raise RuntimeError(f"slack webhook HTTP {resp.status}")


class SlackWebhookSink:
    """foreachBatch handler posting (idempotency_key, payload) rows."""

    def __init__(
        self,
        webhook_url: str,
        transport: Transport | None = None,
        dlq_dir: str | None = None,
        epoch_dir: str | None = None,
        rate_limit_per_sec: float = 1.0,
        parallelism: int = 4,
        max_retries: int = 2,
    ) -> None:
        self.webhook_url = webhook_url
        self.transport = transport or _http_post_transport
        self.dlq_dir = dlq_dir
        self.epoch_dir = epoch_dir
        self.rate_limit_per_sec = rate_limit_per_sec
        self.parallelism = parallelism
        self.max_retries = max_retries

    # -- epoch idempotency (foreachBatch may replay a batch on recovery) ---
    def _epoch_done(self, epoch_id: int) -> bool:
        if not self.epoch_dir:
            return False
        return os.path.exists(os.path.join(self.epoch_dir, f"epoch-{epoch_id}"))

    def _mark_epoch(self, epoch_id: int) -> None:
        if not self.epoch_dir:
            return
        os.makedirs(self.epoch_dir, exist_ok=True)
        with open(os.path.join(self.epoch_dir, f"epoch-{epoch_id}"), "w"):
            pass

    # ----------------------------------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body. Expects columns: payload string,
        idempotency_key string (md5(payload) is filled in when absent)."""
        if self._epoch_done(epoch_id):
            return
        if "idempotency_key" not in batch_df.columns:
            batch_df = batch_df.withColumn("idempotency_key", F.md5("payload"))

        url = self.webhook_url
        transport = self.transport
        parallelism = self.parallelism
        rate = self.rate_limit_per_sec
        min_interval = parallelism / rate if rate else 0.0
        retries = self.max_retries

        def post_partition(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            last = time.monotonic() - min_interval
            for pdf in batches:
                errs = []
                for key, payload in zip(pdf["idempotency_key"], pdf["payload"]):
                    wait = min_interval - (time.monotonic() - last)
                    if wait > 0:
                        time.sleep(wait)
                    last = time.monotonic()
                    err = None
                    for attempt in range(retries + 1):
                        try:
                            transport(url, payload, key)
                            err = None
                            break
                        except Exception as exc:  # noqa: BLE001 — into DLQ
                            err = f"{type(exc).__name__}: {exc}"
                    errs.append(err)
                out = pdf[["idempotency_key", "payload"]].copy()
                out["error"] = pd.Series(errs, dtype="object")
                yield out

        result = (
            batch_df.select("idempotency_key", "payload")
            .repartition(parallelism)
            .mapInPandas(
                post_partition,
                "idempotency_key string, payload string, error string",
            )
        ).persist()
        try:
            failures = result.filter(F.col("error").isNotNull())
            if self.dlq_dir:
                (
                    failures.withColumn("epoch_id", F.lit(epoch_id))
                    .withColumn("failed_at", F.current_timestamp())
                    .write.mode("append")
                    .parquet(self.dlq_dir)
                )
            else:
                failures.count()  # force the posts even with no DLQ configured
        finally:
            result.unpersist()
        self._mark_epoch(epoch_id)

    # ----------------------------------------------------------------------
    def attach(self, df: DataFrame, checkpoint_dir: str, trigger: dict | None = None):
        """writeStream wiring: df must carry `payload` (+ optional key)."""
        writer = df.writeStream.foreachBatch(self).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()
