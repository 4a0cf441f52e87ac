"""One stream-replay primitive (streaming/replay.py): registry builders
neither set session conf nor hand-roll the staged file stream or the
availableNow run, a staged feed replays its chunks in range order, and the
memory-sink replays run on a child session, so concurrent builds leave the
caller's session exactly as they found it."""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark import (
    plans,
    streaming,
)
from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.streaming import (
    replay,
)

# every registry replay into a memory sink
PINNED = [
    "t6_stream_running_mean",
    "t10_stream_topk",
    "t11_stream_stream_join",
    "t12_stream_static_join",
    "t13_stream_dedup",
    "t14_stream_state_expiry",
    "t15_stream_windowed_topk",
    "t16_stream_dedup_within_watermark",
]
PARTS = "spark.sql.shuffle.partitions"


def _sources(pkg):
    root = os.path.dirname(pkg.__file__)
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield path, fh.read()


def test_no_builder_sets_shuffle_partitions_or_runs_its_own_trigger():
    conf_set = re.compile(r"conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions")
    trigger = re.compile(r"trigger\(\s*availableNow\s*=\s*True\s*\)")
    file_stream = re.compile(r"readStream|maxFilesPerTrigger")
    offenders = []
    for pkg in (plans, streaming):
        for path, src in _sources(pkg):
            # the child session isolated_session() creates is the one
            # session a replay may pin
            if path == replay.__file__:
                continue
            if conf_set.search(src):
                offenders.append(f"{path}: sets {PARTS}")
            if trigger.search(src):
                offenders.append(f"{path}: runs its own availableNow trigger")
            if pkg is plans and file_stream.search(src):
                offenders.append(f"{path}: reads its own file stream")
    assert not offenders, offenders


def test_staged_stream_replays_chunks_in_range_order(spark, tmp_path):
    # chunk files are written concurrently, so without pinned mtimes their
    # replay order varies from run to run
    feed = spark.range(0, 3000, numPartitions=4).select(F.col("id").alias("k"))
    for rep in range(5):
        seen = []

        def record(batch_df, batch_id):
            seen.append((batch_id, batch_df.agg(F.min("k")).first()[0]))

        stream = replay.staged_stream(feed, str(tmp_path / f"feed{rep}"), 3, "k")
        replay.run_foreach_batch(stream, record, str(tmp_path / f"ckpt{rep}"))
        mins = [m for _, m in sorted(seen)]
        assert len(mins) == 3 and mins == sorted(mins) and mins[0] == 0, seen


def test_isolated_session_copies_runtime_conf_and_pins_partitions(spark):
    # a runtime value that differs from the SparkConf default, which a
    # bare newSession() would fall back to
    parent = spark.newSession()
    parent.conf.set("spark.sql.session.timeZone", "America/New_York")
    parent.conf.set(PARTS, "7")
    child = replay.isolated_session(parent)
    assert child.conf.get("spark.sql.session.timeZone") == "America/New_York"
    assert child.conf.get(PARTS) == replay.REPLAY_SHUFFLE_PARTITIONS
    assert parent.conf.get(PARTS) == "7"


def test_pinned_replays_build_concurrently_without_touching_the_session(spark, sf_dir):
    qs = entrymod.queries()

    def sink_views():
        return {t.name for t in spark.catalog.listTables() if "_sink_" in t.name}

    def rows(name):
        return sorted(map(tuple, qs[name](spark, sf_dir).collect()))

    parts, views = spark.conf.get(PARTS), sink_views()
    with ThreadPoolExecutor(max_workers=4) as pool:
        concurrent = dict(zip(PINNED, pool.map(rows, PINNED)))
    assert spark.conf.get(PARTS) == parts
    assert sink_views() == views
    for name in PINNED:
        assert concurrent[name] == rows(name), name
