"""Bounded stream replay for the registry builders.

Every streaming registry entry replays a bounded source with
``trigger(availableNow=True)``: Spark runs it as an ordinary incremental
query over everything present at start, in as many micro-batches as the
source's rate limits ask for, then stops (Structured Streaming, SIGMOD
2018). The two runners below start such a query, wait for it and hand back
its result, so no builder writes the trigger/start/await sequence itself.
(``streaming/join.py`` keeps its own runs: they write parquet file sinks,
a sink kind no builder uses directly.)

Builders never set session conf. A replay that needs its own shuffle
partition count runs on :func:`isolated_session`, a child session whose conf
changes stay invisible to the caller's session and to concurrent builds.
"""

from __future__ import annotations

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
