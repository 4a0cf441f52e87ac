"""The two workloads: the speed layer's write path with the serving read
that follows each micro-batch, and the events-fed part of the headline
registry pass.

Both are closed loops with one client: the next operation starts when the
previous one has returned. Each workload has a ``setup`` (inputs staged,
state built, a warm-up), an ``op`` that is timed, a ``rollover`` that runs
untimed between operations, a ``final_check`` that compares what the
program produced with a reference computed here, outside any timed region,
and ``layer_values`` for the per-layer metrics of a traced run.

The program is reached only through its public functions:
``sources.batch.load_table``, ``streaming.upsert`` (``KeyedParquetView``,
``daily_ohlc_state``), ``plans.batch_pipeline`` (``build_batch_view``,
``parse_props``), ``ml.forecast`` (``forecast_per_series``,
``drift_forecast``) and the registry entries of ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import time
from contextlib import nullcontext

import pandas as pd
import pyarrow.parquet as pq

from . import inputs, tracing

PKG = "a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark"

#: view columns compared with the batch recompute (t17's column list)
VIEW_COLS = [
    "event_date",
    "open_v",
    "high_v",
    "low_v",
    "close_v",
    "n_trades",
    "turnover",
    "nbr_article",
    "avg_score",
]
START_DAY = dt.date.fromisoformat(str(inputs.START.astype("datetime64[D]")))


def _engine():
    from importlib import import_module

    return {
        name: import_module(f"{PKG}.{name}")
        for name in ("sources.batch", "streaming.upsert", "plans.batch_pipeline", "ml.forecast")
    }


class Workload:
    """Shared state of one run: the session, the seed, and the spans of a
    traced run (``None`` when untraced)."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.eng = _engine()
        self.spans: tracing.Spans | None = None
        self.layer: dict[str, list[float]] = {}

    def span(self, layer: str, traced: bool):
        return self.spans.span(layer) if traced and self.spans else nullcontext()

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def rollover(self) -> None:
        """Untimed work due before the next operation; none by default."""

    def span_med(self, layer: str, key: str) -> float:
        """Median of one field over the traced calls into ``layer``."""
        return med([r[key] for r in self.spans.records.get(layer, [])])

    def recorded(self, name: str) -> float:
        return med(self.layer.get(name, []))


def med(xs: list[float]) -> float:
    """Median, or 0 for a layer that was not called."""
    return float(statistics.median(xs)) if xs else 0.0


class SpeedReplay(Workload):
    """The Lambda pipeline one micro-batch at a time: daily micro-batches
    applied back to back into a speed view, each followed by the serving
    layer's prediction job for that day. One operation is one micro-batch:
    the stock half (``merge_daily_ohlc``) and the news half
    (``merge_incremental_mean``), each a keyed merge ending in a view flip,
    then one refresh for as-of day D, the micro-batch's day: read the speed
    view's days D-1..D, scan D-8..D-2 from the batch view, forecast the
    next close. Every micro-batch after the first touches two day
    partitions, its own day and the late events of the day before, so
    every merge has the same shape and every refresh reads the two
    partitions just written.

    Set-up stages the inputs, writes the batch view over all events once
    (the nightly batch), runs warm-up micro-batches on a scratch view and
    applies micro-batch 0 to the measured view. When the replay runs out of
    micro-batches, ``rollover`` checks the view and starts a new one,
    outside the timed operations."""

    #: the first micro-batches of a session run slower while the JIT
    #: warms: after six on a scratch view the per-batch time still fell by
    #: a quarter over the next 20 s; after ten it falls far less
    warmup_batches = 10
    #: owner versions are counted, untimed, after this many micro-batches,
    #: so the count depends on the seed only, not on how far a timed run
    #: gets; a traced 15 s run applies at least seven
    owner_probe = 5

    def setup(self, parent: str) -> float:
        """Stage inputs, write the batch view and warm the merge and refresh
        paths; returns the warm-up seconds."""
        self.replay = inputs.make_replay(self.seed)
        self.dirs = inputs.stage(self.replay, parent)
        self.all_dir = os.path.join(parent, "all")
        self.view_parent = parent
        self.views = 0
        self.errors: list[str] = []
        self.seen: dict[int, tuple[list, list]] = {}
        ev = self.eng["sources.batch"].load_table(self.spark, self.all_dir, "events").drop("mb")
        last_day = str(inputs.START.astype("datetime64[D]") + inputs.N_DAYS - 1)
        self.batch_dir = os.path.join(parent, "batch")
        bv = self.eng["plans.batch_pipeline"].build_batch_view(ev, as_of=last_day)
        bv.write.parquet(os.path.join(self.batch_dir, "batch_view.parquet"))
        warm = self.new_view()
        t0 = time.perf_counter()
        for i in range(self.warmup_batches):
            self.apply_batch(warm, i)
            self.refresh(warm, i, traced=False)
        warm_s = time.perf_counter() - t0
        self.start_view()
        return warm_s

    def new_view(self):
        self.views += 1
        path = os.path.join(self.view_parent, f"view{self.views}")
        return self.eng["streaming.upsert"].KeyedParquetView(self.spark, path, ["event_date"])

    def start_view(self) -> None:
        self.view = self.new_view()
        self.apply_batch(self.view, 0)
        self.next = 1

    def rollover(self) -> None:
        if self.next == self.owner_probe:
            self.record("upsert.owner_versions", tracing.owner_versions(tracing.read_manifest(self.view.path)))
        if self.next == len(self.dirs):
            self.finish_view()
            self.start_view()

    def apply_batch(self, view, i: int, traced: bool = False) -> dict | None:
        """Apply micro-batch ``i`` the way the speed layer's two streams do:
        the stock half (OHLC partial state) and then the news half
        ((sum, count) sentiment state), each a keyed merge into ``view``.
        A traced call returns the manifest between the two merges."""
        from pyspark.sql import functions as F

        up = self.eng["streaming.upsert"]
        ev = self.eng["sources.batch"].load_table(self.spark, self.dirs[i], "events")
        trades = ev.filter(F.col("event_type") == "purchase")
        with self.span("upsert.ohlc_merge", traced):
            view.merge_daily_ohlc(up.daily_ohlc_state(trades), batch_id=i, writer="stock")
        mid = tracing.read_manifest(view.path) if traced else None
        news = self.eng["plans.batch_pipeline"].parse_props(ev.filter(F.col("event_type") != "purchase"))
        state = news.groupBy(F.to_date("ts").alias("event_date")).agg(
            F.sum("k").cast("bigint").alias("sum_score"),
            F.count(F.lit(1)).alias("nbr_article"),
        )
        with self.span("upsert.mean_merge", traced):
            view.merge_incremental_mean(
                state,
                sum_col="sum_score",
                cnt_col="nbr_article",
                mean_col="avg_score",
                batch_id=i,
                writer="news",
            )
        return mid

    def refresh(self, view, i: int, traced: bool):
        """The serving refresh for as-of day D = day ``i``; returns
        (collected inputs, forecast rows)."""
        from pyspark.sql import functions as F

        d = START_DAY + dt.timedelta(days=i)
        live = [str(d - dt.timedelta(days=1)), str(d)]
        close = F.col("close_v").cast("double").alias("close_v")
        with self.span("upsert.read", traced):
            speed = view.read_partitions(live)
            speed_rows = speed.filter(F.col("n_trades").isNotNull()).select("event_date", close).collect()
        with self.span("sources.batch_view_scan", traced):
            bv = self.eng["sources.batch"].load_table(self.spark, self.batch_dir, "batch_view")
            lo, hi = d - dt.timedelta(days=8), d - dt.timedelta(days=2)
            batch_rows = bv.filter(F.col("event_date").between(lo, hi)).select("event_date", close).collect()
        rows = [("close", r[0], r[1]) for r in batch_rows + speed_rows]
        fc = self.eng["ml.forecast"]
        with self.span("forecast", traced):
            daily = self.spark.createDataFrame(rows, "series string, day date, close_v double")
            out = fc.forecast_per_series(daily, fc.drift_forecast).collect()
        return rows, [tuple(r) for r in out]

    def op(self, traced: bool) -> None:
        i = self.next
        before = tracing.read_manifest(self.view.path) if traced else {}
        self.next += 1
        mid = self.apply_batch(self.view, i, traced)
        if traced:
            after = tracing.read_manifest(self.view.path)
            for old, new in ((before, mid), (mid, after)):
                files, size = tracing.scan_version(self.view.path, new["version"])
                self.record("upsert.files_per_merge", files)
                self.record("upsert.bytes_per_merge", size)
                self.record("upsert.partitions_touched_per_merge", tracing.repointed(old, new))
        self.seen.setdefault(i, self.refresh(self.view, i, traced))

    def finish_view(self) -> None:
        """Check the view built so far; collects mismatches in ``self.errors``."""
        self.errors.extend(self.check_view(self.view, self.next))

    def check_view(self, view, n_applied: int) -> list[str]:
        """The t17 invariant on the applied prefix: every day of the speed
        view that has both halves equals ``build_batch_view`` over the same
        events, and the view has exactly the batch view's days with both
        halves."""
        from pyspark.sql import functions as F

        ev = (
            self.eng["sources.batch"]
            .load_table(self.spark, self.all_dir, "events")
            .filter(F.col("mb") < n_applied)
            .drop("mb")
        )
        # an as-of past every event: no day is excluded, so the live day is
        # compared too
        want = self.eng["plans.batch_pipeline"].build_batch_view(ev, as_of="2100-01-01")
        got = view.read().filter(
            F.col("n_trades").isNotNull() & F.col("nbr_article").isNotNull()
        )
        return compare_rows(
            [tuple(r) for r in got.select(*VIEW_COLS).collect()],
            [tuple(r) for r in want.select(*VIEW_COLS).collect()],
            f"speed view after {n_applied} micro-batches",
        )

    def final_check(self) -> list[str]:
        """The t17 check of the last view, then per timed micro-batch i: the
        refresh's collected inputs equal the daily closes of days D-8..D
        computed in pandas from the events delivered in micro-batches
        0..i, and its forecast equals a pandas drift forecast over them."""
        self.finish_view()
        errors = list(self.errors)
        events = self.replay.events.to_pandas()
        for i, (rows, out) in sorted(self.seen.items()):
            d = START_DAY + dt.timedelta(days=i)
            closes = reference_closes(events[self.replay.batch_of <= i])
            got_in = sorted((r[1], r[2]) for r in rows)
            want_in = [(x, closes[x]) for x in (d - dt.timedelta(days=k) for k in range(8, -1, -1)) if x >= START_DAY]
            errors += compare_rows(got_in, want_in, f"serving inputs after micro-batch {i}")
            errors += compare_rows(out, [drift_reference(got_in)], f"forecast after micro-batch {i}")
        return errors

    def layer_values(self) -> dict:
        merges = self.spans.records.get("upsert.ohlc_merge", []) + self.spans.records.get("upsert.mean_merge", [])
        return {
            "upsert.ohlc_merge_ms": self.span_med("upsert.ohlc_merge", "ms"),
            "upsert.mean_merge_ms": self.span_med("upsert.mean_merge", "ms"),
            "upsert.jobs_per_merge": med([r["jobs"] for r in merges]),
            "upsert.tasks_per_merge": med([r["tasks"] for r in merges]),
            "upsert.files_per_merge": self.recorded("upsert.files_per_merge"),
            "upsert.bytes_per_merge": self.recorded("upsert.bytes_per_merge"),
            "upsert.partitions_touched_per_merge": self.recorded("upsert.partitions_touched_per_merge"),
            "upsert.owner_versions": self.recorded("upsert.owner_versions"),
            "upsert.read_ms": self.span_med("upsert.read", "ms"),
            "upsert.read_jobs": self.span_med("upsert.read", "jobs"),
            "sources.batch_view_scan_ms": self.span_med("sources.batch_view_scan", "ms"),
            "sources.batch_view_scan_jobs": self.span_med("sources.batch_view_scan", "jobs"),
            "forecast.forecast_ms": self.span_med("forecast", "ms"),
            "forecast.jobs": self.span_med("forecast", "jobs"),
        }


class HeadlinePass(Workload):
    """The ``bench.HEADLINE`` entries that read only the ``events`` table
    and stage nothing outside the session, run the way ``bench.py`` runs
    them: built through ``__spark_entry__.queries()``, executed into the
    noop sink, ``clearCache()`` before each. One operation is one pass over
    all of them. The other headline entries read tables this benchmark
    does not generate, or stage files under a fixed directory outside the
    checkout. Set-up writes the seeded events as ``events.parquet`` and
    runs one warm-up pass that collects each entry's rows for the
    correctness check, then ``warmup_passes`` more into the noop sink."""

    #: pass times fall for the first few passes of a session while the JIT
    #: compiles the planner and the generated code; after the collecting
    #: pass and two noop passes they are within about 10 % of flat
    warmup_passes = 2

    def setup(self, parent: str) -> float:
        """Stage the events table and run the warm-up passes; returns their seconds."""
        import __spark_entry__

        self.sf_dir = os.path.join(parent, "sf")
        os.makedirs(self.sf_dir)
        pq.write_table(inputs.make_events(self.seed), os.path.join(self.sf_dir, "events.parquet"))
        self.queries = {n: __spark_entry__.queries()[n] for n in headline_entries()}
        self.rows: dict[str, tuple[list, list]] = {}
        t0 = time.perf_counter()
        for name, build in self.queries.items():
            self.spark.catalog.clearCache()
            df = build(self.spark, self.sf_dir)
            self.rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        for _ in range(self.warmup_passes):
            self.op(traced=False)
        return time.perf_counter() - t0

    def op(self, traced: bool) -> None:
        for name, build in self.queries.items():
            self.spark.catalog.clearCache()
            with self.span(f"registry.{name}.build", traced):
                df = build(self.spark, self.sf_dir)
            with self.span(f"registry.{name}.exec", traced):
                df.write.format("noop").mode("overwrite").save()

    def final_check(self) -> list[str]:
        """Each entry's warm-up rows equal its ``oracle_sql()`` under DuckDB
        over the same events file, compared the way ``selfcheck.py`` does.
        The timed passes run the same builders on the same file into the
        noop sink; collecting their rows as well would add a pass per run."""
        import duckdb

        import __spark_entry__
        import selfcheck

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'")
        errors = []
        for name, (cols, rows) in self.rows.items():
            sc, sr = selfcheck.norm_rows(cols, rows)
            res = con.execute(oracles[name])
            dc, dr = selfcheck.norm_rows([d[0] for d in res.description], res.fetchall())
            if sc != dc or not (sr == dr or selfcheck.approx_equal(sr, dr)):
                msg = f"{name}: {len(sr)} rows {sc} vs oracle {len(dr)} rows {dc}"
                print(msg, file=sys.stderr)
                errors.append(msg)
        con.close()
        return errors

    def layer_values(self) -> dict:
        rec = self.spans.records
        vals = {}
        for name in self.queries:
            b, e = rec.get(f"registry.{name}.build", []), rec.get(f"registry.{name}.exec", [])
            vals[f"registry.{name}.wall_ms"] = med([x["ms"] + y["ms"] for x, y in zip(b, e)])
            vals[f"registry.{name}.jobs"] = med([x["jobs"] + y["jobs"] for x, y in zip(b, e)])

        def per_pass(kind: str, key: str) -> float:
            # one traced pass is one record per entry and kind
            passes = zip(*(rec.get(f"registry.{n}.{kind}", []) for n in self.queries))
            return med([sum(r[key] for r in p) for p in passes])

        vals["registry.build_s"] = per_pass("build", "ms") / 1000.0
        vals["registry.exec_s"] = per_pass("exec", "ms") / 1000.0
        vals["registry.jobs"] = per_pass("build", "jobs") + per_pass("exec", "jobs")
        vals["registry.tasks"] = per_pass("build", "tasks") + per_pass("exec", "tasks")
        return vals


#: ``bench.HEADLINE`` entries whose only input is ``events`` and which call
#: no ``scratch_dir`` staging, in ``bench.HEADLINE`` order
EVENTS_ONLY = (
    "flagship_batch_view",
    "a3_last_write_wins",
    "j2_keyed_column_merge",
    "t7_lambda_reconciliation",
    "j3_asof_join",
    "w1_window_functions",
    "f5_twap",
    "a20_hll_distinct",
    "a29_bitmap_distinct",
)


def headline_entries() -> list[str]:
    """The events-only entries, in ``bench.HEADLINE`` order; fails if one
    has left the headline list."""
    import bench

    missing = set(EVENTS_ONLY) - set(bench.HEADLINE)
    if missing:
        raise RuntimeError(f"no longer in bench.HEADLINE: {sorted(missing)}")
    return [n for n in bench.HEADLINE if n in EVENTS_ONLY]


def reference_closes(events: pd.DataFrame) -> dict:
    """Close per day from the raw events: the value of the purchase with the
    greatest (ts, value), as ``daily_ohlc_state`` defines it."""
    p = events[events["event_type"] == "purchase"].copy()
    p["day"] = p["ts"].dt.date
    last = p.sort_values(["ts", "value"]).groupby("day").tail(1)
    return dict(zip(last["day"], last["value"].astype(float)))


def drift_reference(series: list[tuple]) -> tuple:
    """(series, n_days, first, last, pred) of a one-step drift forecast."""
    first, last, n = series[0][1], series[-1][1], len(series)
    pred = last if n == 1 else last + (last - first) / (n - 1)
    return ("close", n, first, last, pred)


def compare_rows(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    """Exact, order-insensitive row comparison; returns error strings."""
    g, w = sorted(got, key=repr), sorted(want, key=repr)
    if g == w:
        return []
    extra = [r for r in g if r not in w][:3]
    missing = [r for r in w if r not in g][:3]
    msg = f"{what}: {len(g)} rows vs {len(w)} expected; unexpected {extra}; missing {missing}"
    print(msg, file=sys.stderr)
    return [msg]


WORKLOADS = {"speed_replay": SpeedReplay, "headline_pass": HeadlinePass}
