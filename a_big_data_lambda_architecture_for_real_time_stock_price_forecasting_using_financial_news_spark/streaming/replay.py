"""Bounded stream replay for the registry builders.

Every streaming registry entry replays a bounded source with
``trigger(availableNow=True)``: Spark runs it as an ordinary incremental
query over everything present at start, in as many micro-batches as the
source's rate limits ask for, then stops (Structured Streaming, SIGMOD
2018). :func:`staged_stream` turns a batch DataFrame into such a source, a
directory of range-ordered parquet chunks replayed one file per
micro-batch; the runners below start a query over it, wait for it and hand
back its result, so no builder writes the read or the trigger/start/await
sequence itself.

Builders never set session conf. A replay that needs its own shuffle
partition count runs on :func:`isolated_session`, a child session whose conf
changes stay invisible to the caller's session and to concurrent builds.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# A stateful streaming query keeps one state-store partition per shuffle
# partition and per micro-batch; at the session's 32-200 partitions a
# bounded replay writes thousands of tiny state files.
REPLAY_SHUFFLE_PARTITIONS = "8"


def isolated_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` (same SparkContext, own SQL conf and temp
    views) with every runtime-modifiable conf of the parent copied over and
    shuffle partitions pinned to :data:`REPLAY_SHUFFLE_PARTITIONS`.

    ``newSession()`` alone starts from the SparkConf, not from the parent's
    runtime conf, so without the copy an external session would lose the
    timezone and AQE settings ``session.prepare`` applied."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    child.conf.set("spark.sql.shuffle.partitions", REPLAY_SHUFFLE_PARTITIONS)
    return child


def staged_stream(df: DataFrame, path: str, n_chunks: int, order_by: str) -> DataFrame:
    """Write ``df`` under ``path`` as up to ``n_chunks`` parquet files
    range-partitioned on ``order_by`` and return the ``maxFilesPerTrigger=1``
    stream that replays them, one file per micro-batch, in range order.

    FileStreamSource replays oldest-mtime-first, but the chunk files are
    written concurrently, so their mtimes race (and often tie to the
    millisecond): a run that lists chunk 2 before chunk 1 replays a
    different batch sequence, and a watermarked consumer advances its
    watermark a whole chunk early and late-drops chunk 1 (measured: the t21
    Option-B join lost days 1-9 on about half of runs). Pinning strictly
    increasing mtimes in part-file name order, which is range order, makes
    the batch sequence the same on every run."""
    df.repartitionByRange(n_chunks, order_by).write.mode("overwrite").parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    base_t = time.time() - len(parts) - 1
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base_t + i, base_t + i))
    spark = df.sparkSession
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_to_memory(df: DataFrame, mode: str = "append") -> DataFrame:
    """Replay ``df`` to completion into a uniquely named memory sink and
    return the sink as a batch DataFrame of ``df``'s own session (the sink
    is visible only there)."""
    name = f"replay_sink_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def run_foreach_batch(
    df: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint: str
) -> None:
    """Replay ``df`` to completion through the ``foreachBatch`` sink
    ``fn(batch_df, batch_id)``, with its offsets and commits under
    ``checkpoint`` (which makes a re-run skip already-committed batches)."""
    q = (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_files(df: DataFrame, path: str, checkpoint: str) -> None:
    """Replay ``df`` to completion into an exactly-once parquet file sink
    at ``path`` (append mode), twice from the same ``checkpoint``: the
    second run's no-data batch finalizes the windows, or evicts the
    outer-join state, that the first run's last watermark closed. The
    checkpoint makes the extra run idempotent: with nothing to add it
    commits nothing."""
    for _ in range(2):
        q = (
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
