"""Benchmark launcher: one workload, one seed, one JSON line on stdout.

    python3 perfbench/run.py --workload speed_replay --seed 1 --seconds 15 --trace 0

Workloads: speed_replay, headline_pass (see workloads.py).

Run from the repository root. The launcher pins the run before Spark
starts: ``local[N]`` with N = min(4, available cores) and as many shuffle
partitions, a fixed 2 GiB driver heap, ``PYTHONPATH`` for the Python
workers, and every file the run writes (Spark local dirs, JVM and Python
temp files, the views, the staged inputs) under one temp root inside the
checkout, removed on exit. It starts no threads of its own. A run sets
up once (``setup_s`` is JVM start plus that set-up) and then runs the
timed closed loop.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every operation alternates between untraced and traced
(job group + status tracker + view directory scans) and the line carries
the per-layer metrics. Progress, the per-operation times and the sample
count (with a p90 when the sample supports one) go to stderr.
A failed operation or a failed correctness check makes ``correct`` false;
a run that cannot start (e.g. the program is missing) exits non-zero
without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import tracing  # noqa: E402
from perfbench.stats import summarize  # noqa: E402
from perfbench.workloads import EVENTS_ONLY, PKG, WORKLOADS, med  # noqa: E402

DRIVER_HEAP = "2g"
TMP_PARENT = os.path.join(REPO, ".perfbench_tmp")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_cpu_ms": "ms"}
#: per-layer metric -> unit
PER_LAYER = {
    "upsert.ohlc_merge_ms": "ms",
    "upsert.mean_merge_ms": "ms",
    "upsert.jobs_per_merge": "count",
    "upsert.tasks_per_merge": "count",
    "upsert.files_per_merge": "count",
    "upsert.bytes_per_merge": "bytes",
    "upsert.partitions_touched_per_merge": "count",
    "upsert.owner_versions": "count",
    "upsert.read_ms": "ms",
    "upsert.read_jobs": "count",
    "sources.batch_view_scan_ms": "ms",
    "sources.batch_view_scan_jobs": "count",
    "forecast.forecast_ms": "ms",
    "forecast.jobs": "count",
    "session.jvm_start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "session.jvm_cpu_ms_per_op": "ms",
    "session.python_cpu_ms_per_op": "ms",
    "session.worker_cpu_ms_per_op": "ms",
    "session.gc_ms_per_op": "ms",
    "session.jit_ms_per_op": "ms",
    "session.codegen_compiles_per_op": "count",
    "host.steal_pct": "%",
    "trace.op_p50_ms": "ms",
    "trace.overhead_pct": "%",
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "registry.jobs": "count",
    "registry.tasks": "count",
}
for _name in EVENTS_ONLY:
    PER_LAYER[f"registry.{_name}.wall_ms"] = "ms"
    PER_LAYER[f"registry.{_name}.jobs"] = "count"


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def pin_env(root: str, n: int) -> None:
    """Environment the driver JVM and its Python workers inherit."""
    for sub in ("local", "tmp", "jvm", "warehouse"):
        os.makedirs(os.path.join(root, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_CPUS"] = str(n)


def start_session(root: str, n: int):
    from pyspark.sql import SparkSession

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.session import (
        configure,
    )

    builder = (
        configure(SparkSession.builder.appName("perfbench").master(f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", DRIVER_HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(root, 'jvm')}",
        )
        .config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_counters(spark) -> tuple[float, float, float]:
    """(GC ms, JIT compilation ms, generated classes compiled) of the
    driver JVM so far. The last counts Spark's codegen compilations: a
    plan whose generated class is still in Spark's codegen cache adds none."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime()), float(compiles)


def _stat_fields(pid) -> list[str]:
    """``/proc/<pid>/stat`` fields after the command name (state is [0])."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process so far."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def descendants_cpu_s(pid: int) -> float:
    """CPU seconds of every live descendant of ``pid`` (the pyspark daemon
    and its Python workers under the JVM), each with the CPU of the
    children it has reaped, so an exited worker still counts."""
    children, fields = defaultdict(list), {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(name)
        except OSError:
            continue  # exited while listing
        children[int(f[1])].append(int(name))
        fields[int(name)] = f
    ticks, stack = 0, list(children[pid])
    while stack:
        p = stack.pop()
        ticks += sum(int(x) for x in fields[p][11:15])  # utime stime cutime cstime
        stack.extend(children[p])
    return ticks / os.sysconf("SC_CLK_TCK")


def process_cpu_s(jvm_pid: int) -> tuple[float, float, float]:
    """CPU seconds so far of (driver JVM, Python driver, JVM's descendants)."""
    return cpu_s(jvm_pid), time.process_time(), descendants_cpu_s(jvm_pid)


def layer_metrics(w, m: dict, jvm_s: float, warm_s: float, rss: float) -> dict:
    """Per-layer values of a traced run: medians over calls, 0 for a layer
    the workload does not call."""
    n_ops = max(1, len(m["plain"]) + len(m["traced"]))
    vals = dict.fromkeys(PER_LAYER, 0.0)
    vals.update(w.layer_values())
    vals.update({
        "session.jvm_start_s": jvm_s,
        "session.warmup_s": warm_s,
        "session.peak_rss_mb": rss,
        "session.jvm_cpu_ms_per_op": 1000.0 * m["cpu"][0] / n_ops,
        "session.python_cpu_ms_per_op": 1000.0 * m["cpu"][1] / n_ops,
        "session.worker_cpu_ms_per_op": 1000.0 * m["cpu"][2] / n_ops,
        "session.gc_ms_per_op": m["gc_ms"] / n_ops,
        "session.jit_ms_per_op": m["jit_ms"] / n_ops,
        "session.codegen_compiles_per_op": m["compiles"] / n_ops,
        "host.steal_pct": m["steal_pct"],
        "trace.op_p50_ms": med(m["traced"]),
        "trace.overhead_pct": 100.0 * (med(m["traced"]) / med(m["plain"]) - 1.0) if m["plain"] else 0.0,
    })
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in vals.items()}


def measure(w, seconds: float, trace: bool, jvm_pid: int, spark) -> dict:
    """The timed closed loop: operations back to back for ``seconds``, with
    the workload's untimed ``rollover`` before each. With ``trace`` every
    second operation is traced."""
    out = {"plain": [], "traced": [], "attempted": 0, "failed": 0}
    cpu0, steal0, busy0 = process_cpu_s(jvm_pid), steal_ticks(), jvm_counters(spark)
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        is_traced = trace and out["attempted"] % 2 == 1
        out["attempted"] += 1
        try:
            w.rollover()
            t0 = time.perf_counter()
            w.op(is_traced)
        except Exception:
            out["failed"] += 1
            traceback.print_exc(file=sys.stderr)
            continue
        out["traced" if is_traced else "plain"].append((time.perf_counter() - t0) * 1000.0)
    steal1, busy1 = steal_ticks(), jvm_counters(spark)
    out["gc_ms"], out["jit_ms"], out["compiles"] = (b - a for a, b in zip(busy0, busy1))
    out["cpu"] = tuple(b - a for a, b in zip(cpu0, process_cpu_s(jvm_pid)))
    out["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    return out


def run(args, root: str, n: int) -> dict:
    t0 = time.perf_counter()
    spark = start_session(root, n)
    jvm_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, args.seed)
        s0 = time.perf_counter()
        warm_s = w.setup(os.path.join(root, "setup"))
        setup_s = jvm_s + time.perf_counter() - s0
        print(f"set-up: {setup_s:.2f} s (JVM {jvm_s:.2f} s, warm-up {warm_s:.2f} s)", file=sys.stderr)
        if args.trace:
            w.spans = tracing.Spans(spark.sparkContext)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        m = measure(w, args.seconds, bool(args.trace), jvm_pid, spark)
        rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

        errors = w.final_check()
        attempted = m["attempted"] + 1  # the correctness check counts as one
        failed = m["failed"] + (1 if errors else 0)
        plain = m["plain"]
        summary = summarize(plain) if plain else {"n": 0}
        print(f"{args.workload} seed={args.seed}: ops {summary} traced_n={len(m['traced'])} "
              f"attempted={attempted} failed={failed}", file=sys.stderr)
        print("op ms: " + " ".join(f"{x:.0f}" for x in plain), file=sys.stderr)
        print(f"timed loop: cpu jvm {m['cpu'][0]:.2f} + python {m['cpu'][1]:.2f} + workers "
              f"{m['cpu'][2]:.2f} s, gc {m['gc_ms']:.0f} ms, jit {m['jit_ms']:.0f} ms, "
              f"codegen compiles {m['compiles']:.0f}, "
              f"steal {m['steal_pct']:.1f} %", file=sys.stderr)
        if args.trace:
            metrics = layer_metrics(w, m, jvm_s, warm_s, rss)
        else:
            # with no successful operation there is no time to report; the
            # run is then marked incorrect
            vals = {
                "setup_s": setup_s,
                "op_p50_ms": summary.get("p50", 0.0),
                "op_cpu_ms": 1000.0 * sum(m["cpu"]) / len(plain) if plain else 0.0,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
        correct = failed == 0 and bool(plain)
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, PKG)):
        print(f"program package {PKG} not found under {REPO}", file=sys.stderr)
        return 2
    os.makedirs(TMP_PARENT, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_PARENT)
    try:
        pin_env(root, cores())
        result = run(args, root, cores())
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass  # another run still owns a root there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
