"""SparkSession factory.

The reference hard-codes ``master("local[*]")`` inside jobs while its Airflow
DAGs submit with ``--master spark://spark:7077`` (reference
``airflow/dags/Batch_layer/yfConsumer.py:17`` vs ``yfConsumerDAG.py:19``), so
cluster execution is silently disabled there. Here the master comes from the
environment/submit layer; tests and bench pass ``local[N]`` explicitly.

Scale defaults: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow transfer for the few Pandas-UDF boundaries, UTC session
timezone so date semantics are engine-independent.

Codegen cache: the serving and batch layers re-run the same queries on a
schedule, so each whole-stage-codegen class should be compiled once per
session, not once per run. Spark's default cache keeps only the last 100
generated classes, fewer than one headline pass compiles, so its LRU evicted
every class before its next use and every pass recompiled its working set
on the driver. ``configure`` sizes the cache to the engine's plan working set
(SPARK-24727 made the size configurable for exactly this case). The size is
a static conf, read once when the JVM's SparkContext starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# local[N] runs all N executor threads inside the driver JVM, whose default
# heap is ~1g — 32 concurrent tasks in 1g thrash the GC long before CPU
# saturates. Only effective when the builder creates the JVM (no-op via
# conf on an existing session, e.g. the external correctness driver's).
_DEF_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
# One 46-entry bench.HEADLINE pass at sf0.1 compiles about 1,000-1,300
# distinct generated classes (Spark 4.1.2, local[4]). With the default
# 100-entry cache every pass compiled 1,275-1,310 of them; with 2,048 the
# first pass compiled 1,017 and each later one 28, and pass 4 took 52.5 s
# instead of 82.5 s (event log on), with metaspace at 188-195 MB on both.
# 2,048 leaves about 2x headroom over that working set.
_CODEGEN_CACHE_ENTRIES = "2048"


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configuration to any builder (no master set here)."""
    return (
        builder.config("spark.driver.memory", _DEF_DRIVER_MEM)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEF_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
    )


def get_spark(app_name: str = "lambda-engine", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    ``master`` resolution order: explicit arg > $SPARK_GRAFT_MASTER >
    ``local[$SPARK_GRAFT_CPUS]`` (test/bench convenience; a real deployment
    submits with ``spark-submit --master ...`` and passes ``master=None``
    via ``SPARK_GRAFT_MASTER=""``).
    """
    builder = configure(SparkSession.builder.appName(app_name))
    resolved = master if master is not None else os.environ.get("SPARK_GRAFT_MASTER")
    if resolved is None:
        resolved = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if resolved:
        builder = builder.master(resolved)
    return builder.getOrCreate()


def prepare(spark: SparkSession) -> SparkSession:
    """Normalize runtime-settable conf on an externally provided session.

    The correctness driver hands us its own SparkSession; date/timestamp
    semantics must not depend on its timezone, and AQE should be on.

    Static conf cannot follow: the codegen cache size that ``configure``
    sets is fixed when the session's SparkContext starts, and
    ``spark.conf.set`` on it raises, so an external session keeps whatever
    cache its owner built it with.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
