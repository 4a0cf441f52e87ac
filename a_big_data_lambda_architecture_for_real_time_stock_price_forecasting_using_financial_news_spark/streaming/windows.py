"""Event-time windows + watermarks (SURVEY §2.7 T5 — a gap in the
reference, which has no ``withWatermark``/``window()`` at all; late data is
silently handled by ES keyed overwrite).

All builders work on both batch and streaming DataFrames (Spark evaluates
``window``/``session_window`` in batch too), so the DuckDB oracle can check
the batch evaluation while streaming tests replay the same data as a bounded
``availableNow`` stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def _std_aggs() -> list[Column]:
    # sum runs in DECIMAL (exact, order-independent across partial aggs);
    # the OUTPUT pins DOUBLE — decimal trailing-zero rendering differs
    # across engines and flaps cross-engine value hashes (VERDICT r1).
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast(DEC).cast("double").alias("sum_value"),
    ]


def tumbling(df: DataFrame, ts: str = "ts", duration: str = "1 hour", *keys: str) -> DataFrame:
    """Fixed windows: one state bucket per (key, window) — partial+final agg,
    shuffle keyed on (key, window)."""
    w = F.window(F.col(ts), duration)
    return df.groupBy(w.alias("win"), *keys).agg(*_std_aggs()).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        "n_events",
        "sum_value",
    )


def sliding(
    df: DataFrame,
    ts: str = "ts",
    duration: str = "1 hour",
    slide: str = "15 minutes",
    *keys: str,
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide buckets —
    state and shuffle scale by that factor (4× here); watch it at 100 TB."""
    w = F.window(F.col(ts), duration, slide)
    return df.groupBy(w.alias("win"), *keys).agg(*_std_aggs()).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        "n_events",
        "sum_value",
    )


def session(
    df: DataFrame, ts: str = "ts", gap: str = "30 minutes", *keys: str
) -> DataFrame:
    """Session windows (gap-based). In streaming this needs a watermark to
    finalize sessions; in batch Spark computes the full merge."""
    w = F.session_window(F.col(ts), gap)
    return df.groupBy(w.alias("win"), *keys).agg(*_std_aggs()).select(
        F.col("win.start").alias("session_start"),
        *keys,
        "n_events",
        "sum_value",
    )


def with_watermark(df: DataFrame, ts: str = "ts", delay: str = "1 hour") -> DataFrame:
    """T5: bound state + drop data later than ``delay`` past the max seen
    event time. The keyed-upsert views tolerate late rows instead (keyed
    overwrite reproduces the reference's ES behavior); watermarking is for
    windowed aggs whose state must not grow unboundedly."""
    return df.withWatermark(ts, delay)
