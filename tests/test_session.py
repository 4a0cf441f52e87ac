"""The engine session compiles each generated class once.

Spark's whole-stage-codegen cache is an LRU of generated classes, 100 by
default. The engine's plan working set is larger than that, so with the
default every repeated pass evicted each class before its next use and
recompiled it on the driver. ``session.configure`` sizes the cache; these
tests pin that a class survives more than 100 other compilations.
"""

from __future__ import annotations

from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark import (
    session,
)


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_is_sized_on_the_context(spark):
    # a static conf: read it from the context's SparkConf, where the
    # builder put it, not through the runtime `spark.conf`
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == session._CODEGEN_CACHE_ENTRIES
    assert int(session._CODEGEN_CACHE_ENTRIES) > 100


def test_generated_class_survives_more_than_100_others(spark):
    # integer literals are inlined into the generated source, so every
    # projection below is its own class
    def project(i):
        return spark.range(0, 8, 1, 1).selectExpr(f"id * {i} + {i} AS v")

    first = project(1).collect()
    before = _compiles(spark)
    for i in range(2, 122):
        # executing the physical plan compiles its class on the driver, as
        # an action would, without paying for a job
        project(i)._jdf.queryExecution().executedPlan().execute()
    assert _compiles(spark) - before >= 120  # the loop really compiled
    settled = _compiles(spark)
    assert project(1).collect() == first
    assert _compiles(spark) == settled, "re-running the first projection recompiled it"


def test_get_spark_returns_the_active_session(spark):
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert session.get_spark() is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
