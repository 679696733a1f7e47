"""Micro-batch plumbing shared by the email stream heads
(producer_pipeline.py, consumer_pipeline.py).

A landed email file or an envelope file is one input task, so without a
spread one core cleans, encodes and chunks a whole micro-batch. A spread
is a round-robin shuffle into more tasks, and every Python task has a
fixed cost (about 0.04 s of CPU under the session's worker daemon, see
worker_daemon.py), so it pays only for large batches: spreading a
10-email batch over 32 tasks cost more CPU and latency than it saved.
Each batch is therefore spread over one task per `BYTES_PER_TASK` of
input, at most `defaultParallelism`. The input size is Spark's own
estimate for the batch (the size of its files for a file source), read
inside foreachBatch without running a job; a batch of one task's worth,
or one Spark cannot size, keeps the source's own partitioning. A Kafka
batch, which Spark does not size, already has a task per topic partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Input bytes one task takes before a batch is spread. The producer's row
# work is ~2.5 s of CPU per MB of landed parquet, so a 128 KiB task keeps
# the ~0.04 s fixed cost of a Python task under a tenth of the task.
BYTES_PER_TASK = 128 * 1024


def input_bytes(batch: DataFrame) -> int | None:
    """Spark's size estimate of a foreachBatch micro-batch, or None when
    Spark has none (it then reports spark.sql.defaultSizeInBytes).

    PySpark has no public call for plan statistics, so this reads them
    from the JVM plan. Inside foreachBatch the batch is a LogicalRDD that
    keeps the estimate of the streaming plan it came from
    (tests/test_microbatch.py checks that it still does)."""
    size = batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    unknown = batch.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    return None if size >= unknown else int(size)


def spread(batch: DataFrame) -> DataFrame:
    """`batch` over min(defaultParallelism, ceil(input bytes /
    BYTES_PER_TASK)) tasks; unchanged when that is one or the size is
    unknown."""
    size = input_bytes(batch)
    if size is None:
        return batch
    tasks = min(batch.sparkSession.sparkContext.defaultParallelism, -(-size // BYTES_PER_TASK))
    return batch.repartition(tasks) if tasks > 1 else batch


def stage_parquet(frame: DataFrame, output_dir: str, epoch_id: int) -> None:
    """Write `frame` into `output_dir` as `epoch-<id>-*.parquet` files.

    A micro-batch replayed after a crash first removes whatever an earlier
    attempt at the same epoch left there, so the directory holds each
    epoch's rows once. The files are written under `_staging-<id>/` (which
    readers skip) and renamed into place through the Hadoop FileSystem,
    so any Spark filesystem works."""
    spark = frame.sparkSession
    staging = f"{output_dir}/_staging-{epoch_id}"
    frame.write.mode("overwrite").parquet(staging)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    out = Path(output_dir)
    fs = out.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"epoch-{epoch_id}-"
    for status in fs.listStatus(out):
        if status.getPath().getName().startswith(prefix):
            fs.delete(status.getPath(), False)
    for status in fs.listStatus(Path(staging)):
        name = status.getPath().getName()
        if name.endswith(".parquet") and not fs.rename(status.getPath(), Path(out, prefix + name)):
            raise OSError(f"could not move {status.getPath()} into {output_dir}")
    fs.delete(Path(staging), True)
