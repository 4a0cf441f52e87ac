"""Tests of the benchmark's own helpers: the percentile rule, the job-group
counter, view directory counting, process CPU accounting, seed determinism
and the metric names in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench import inputs, run, stats, tracing
from perfbench.workloads import PKG, WORKLOADS


def test_p90_needs_ten_samples_beyond_it():
    assert not stats.has_tail(99, 90)
    assert stats.has_tail(100, 90)
    assert "p90" not in stats.summarize([float(i) for i in range(99)])
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5
    assert s["p90"] == pytest.approx(89.1)


def test_percentile_interpolates_and_rejects_empty():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([0.0, 10.0], 25) == 2.5
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_same_seed_same_batch_cuts_and_late_events():
    a = inputs.make_replay(7, n=5_000)
    b = inputs.make_replay(7, n=5_000)
    assert a.events.equals(b.events)
    assert np.array_equal(a.batch_of, b.batch_of)
    assert np.array_equal(a.late, b.late)
    c = inputs.make_replay(8, n=5_000)
    assert not a.events.equals(c.events)
    assert not np.array_equal(a.late, c.late)


def test_every_later_batch_touches_its_days_and_the_day_before():
    r = inputs.make_replay(3, n=20_000)
    day = inputs.day_index(r.events)
    assert r.n_batches == inputs.N_DAYS
    assert np.array_equal(r.batch_of[~r.late], day[~r.late])
    assert np.array_equal(r.batch_of[r.late], day[r.late] + 1)
    for i in range(r.n_batches):
        touched = set(day[r.batch_of == i].tolist())
        assert touched == ({0} if i == 0 else {i - 1, i})
    assert 0 < r.late.mean() <= 2 * inputs.LATE_SHARE


def test_stage_writes_each_batch_once(tmp_path):
    import pyarrow.parquet as pq

    r = inputs.make_replay(5, n=3_000)
    dirs = inputs.stage(r, str(tmp_path))
    assert len(dirs) == r.n_batches == inputs.N_DAYS
    ids = [pq.read_table(f"{d}/events.parquet").column("event_id").to_pylist() for d in dirs]
    assert sorted(sum(ids, [])) == list(range(3_000))
    full = pq.read_table(tmp_path / "all" / "events.parquet")
    assert full.num_rows == 3_000 and "mb" in full.column_names


def test_descendants_cpu_counts_a_busy_child():
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(30)"
    before = run.descendants_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", spin])
    try:
        deadline = time.monotonic() + 20
        while run.descendants_cpu_s(os.getpid()) - before < 0.25:
            assert time.monotonic() < deadline, "child CPU never showed"
            time.sleep(0.05)
    finally:
        child.kill()
        child.wait()


def test_benchmark_json_names_what_the_launcher_prints():
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_job_group_counter_counts_a_tiny_query(spark):
    spans = tracing.Spans(spark.sparkContext)
    with spans.span("tiny"):
        spark.range(10).count()
    df = spark.range(100)
    with spans.span("tiny"):
        df.groupBy((df.id % 3).alias("g")).count().collect()
    recs = spans.records["tiny"]
    assert len(recs) == 2
    assert all(r["jobs"] >= 1 and r["tasks"] >= 1 and r["ms"] > 0 for r in recs)
    with spans.span("none"):
        pass
    assert spans.records["none"][0]["jobs"] == 0


def test_owner_versions_and_files_on_a_three_merge_view(spark, tmp_path):
    from importlib import import_module

    upsert = import_module(f"{PKG}.streaming.upsert")
    view = upsert.KeyedParquetView(spark, str(tmp_path / "view"), ["d"])
    batches = [
        [("2024-01-01", 1, 10), ("2024-01-02", 1, 20)],  # v1: days 1, 2
        [("2024-01-02", 2, 21)],  # v2: day 2
        [("2024-01-03", 3, 30)],  # v3: day 3
    ]
    manifests = []
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "d string, ts int, v int")
        view.merge_overwrite_by_key(df, "ts", batch_id=i)
        manifests.append(tracing.read_manifest(view.path))
    # day 1 -> v1, day 2 -> v2, day 3 -> v3
    assert tracing.owner_versions(manifests[-1]) == 3
    assert tracing.owner_versions(manifests[0]) == 1
    assert [tracing.repointed(a, b) for a, b in zip([{}] + manifests, manifests)] == [2, 1, 1]
    files, size = tracing.scan_version(view.path, 1)
    assert files >= 2 and size > 0  # one data file per written partition at least
    assert tracing.scan_version(view.path, 3)[0] >= 1
    assert tracing.scan_version(view.path, 4) == (0, 0)


def test_headline_subset_is_in_bench_order():
    from perfbench import workloads

    assert workloads.headline_entries() == list(workloads.EVENTS_ONLY)
