"""Micro-batch plumbing of the email stream heads (streaming/microbatch.py):
the spread follows the batch's size, and a replayed epoch is staged once."""

from __future__ import annotations

import os

from kafka_flink_slack_pipeline_spark.streaming.microbatch import (
    BYTES_PER_TASK,
    input_bytes,
    spread,
    stage_parquet,
)


def test_small_batch_is_not_spread(spark):
    small = spark.range(10, numPartitions=1)  # 80 bytes
    assert input_bytes(small) == 80
    assert spread(small) is small


def test_large_batch_is_spread_by_size(spark):
    rows = 100_000  # 800,000 bytes: 7 tasks' worth
    big = spark.range(rows, numPartitions=1)
    want = min(spark.sparkContext.defaultParallelism, -(-rows * 8 // BYTES_PER_TASK))
    assert want > 1
    assert spread(big).rdd.getNumPartitions() == want


def test_unsized_batch_keeps_its_partitioning(spark):
    unsized = spark.createDataFrame(spark.sparkContext.parallelize([(i,) for i in range(9)], 3), "x int")
    assert input_bytes(unsized) is None
    assert spread(unsized) is unsized


def test_foreach_batch_frame_carries_its_file_size(spark, tmp_path):
    """Inside foreachBatch the batch is a LogicalRDD; the spread relies on
    it keeping the size Spark estimated for the batch's files."""
    src = str(tmp_path / "src")
    spark.range(1000).selectExpr("id", "repeat('x', 100) AS s").write.parquet(src)
    files = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)
                if f.endswith(".parquet"))
    sizes = []
    q = (
        spark.readStream.schema("id long, s string").parquet(src)
        .writeStream.foreachBatch(lambda batch, _: sizes.append(input_bytes(batch)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sizes == [files]


def test_replayed_epoch_is_staged_once(spark, tmp_path):
    out = str(tmp_path / "staged")
    stage_parquet(spark.range(5).toDF("n"), out, 0)
    stage_parquet(spark.range(5, 8).toDF("n"), out, 1)
    stage_parquet(spark.range(5, 8).toDF("n"), out, 1)  # epoch 1 replayed
    names = os.listdir(out)
    assert not [n for n in names if n.startswith("_staging")]
    parquet = [n for n in names if n.endswith(".parquet")]
    assert parquet and all(n.startswith(("epoch-0-", "epoch-1-")) for n in parquet)
    assert sorted(r.n for r in spark.read.parquet(out).collect()) == list(range(8))

