"""J2 "Option B": the speed-view merge as a WATERMARKED STREAM-STREAM
FULL-OUTER JOIN (SURVEY §2.4 J2) — the surveyed alternative to the
chosen ``foreachBatch`` keyed merge (Option A, proven convergent by
t17).

The reference's speed layer is two independent consumers racing
column-halves of the same ES document per date
(``Speed_layer/yfConsumerStream.py:57-87`` upserts the stock half,
``Speed_layer/twitterConsumerStream.py:94-127`` the sentiment half) —
"a streaming full-outer join on Date materialized in the sink". Option
B expresses that join IN the engine instead: each leg first reduces to
a compact per-day STATE stream (the same mergeable OHLC / (sum, count)
state t17 uses), and a stream-stream full-outer join on the day key,
watermarked on both sides, assembles the speed-view row. Unmatched
days (one half missing) are emitted NULL-padded when the watermark
passes — Spark's outer-join state GC, exercised nowhere else in this
repo.

Why TWO queries staged through files instead of one query chaining
aggregation into the join: the single-query chain
(agg -> agg -> full outer join) is a documented-supported
multi-stateful-operator pattern in Spark 3.5+/4.x, but under a bounded
REPLAY — where each micro-batch advances the watermark by a whole
chunk of event time — it is measurably NONDETERMINISTIC in Spark
4.1.2: day-windows finalized by the aggregations in the same batch the
watermark passes them race the join's late-record filter, and runs of
the identical query lose different day subsets (measured on the
sf0.001 fixture, 3 chunks, local[4]: run A matched 20/29 days with 9
stock-only singles, run B matched 11/29 with 9+9 singles on both
sides; with nonzero delays the lost subset still varied run to run).
Staging each leg's day-state stream to files makes
each stage a SINGLE-stateful-operator query — both individually
deterministic — and the join query's watermark then derives from the
day-state rows' own event times, which arrive in order, so nothing is
ever late. This is also the 100 TB shape: the join's inputs are
O(days x keys) state rows, not raw events, so join state is tiny and
the raw firehose never passes through a join. (The truly raw-granular
full-outer join — every trade row joined to every same-day article
row — is a per-key CROSS PRODUCT: |trades(d)| x |articles(d)| rows for
day d. At reference scale that is fine; at 100 TB it is quadratic in
the hot day. That blow-up, plus the replay nondeterminism above, is
WHY the engine's production path is Option A.)

Bounded-replay completion: a bounded file stream can never close its
last ``delay`` of event time (the watermark trails the max seen event
time forever), so the raw replay is punctuated IN-BAND
(ingest.events_stream ``sentinel_events``): stage 1 finalizes one
far-future punctuation day-state row per leg through its own streaming
sink — the streaming equivalent of a batch job's end-of-input, carried
through the sink's ``_spark_metadata`` log like any real row (a
batch-appended file would be invisible to stage 2, the r11 finding).
Stage 2 filters the punctuation row AFTER its watermark node, so the
join closes and GC's every real day while no sentinel ever enters join
state or a sink. Production needs none of this: a live feed's
continuing event flow advances watermarks by itself. Reference files cited above; no reference code is reused.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .replay import run_to_files

DEC = "decimal(18,2)"

#: stage-1 output schema, shared by both writers and the stage-2 readers.
#: One leg fills the stock columns, the other the news columns; absent
#: columns are written as typed NULLs so both legs share one schema and
#: the join's coalesce arms stay symmetric.
DAY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("day_ts", T.TimestampType()),
        T.StructField("event_date", T.DateType()),
        T.StructField("open_v", T.DecimalType(18, 2)),
        T.StructField("high_v", T.DecimalType(18, 2)),
        T.StructField("low_v", T.DecimalType(18, 2)),
        T.StructField("close_v", T.DecimalType(18, 2)),
        T.StructField("n_trades", T.LongType()),
        T.StructField("turnover", T.DecimalType(18, 2)),
        T.StructField("sum_score", T.LongType()),
        T.StructField("nbr_article", T.LongType()),
    ]
)

_NULLS = {
    "stock": ("sum_score", "nbr_article"),
    "news": ("open_v", "high_v", "low_v", "close_v", "n_trades", "turnover"),
}


def day_state_stream(leg: str, events: DataFrame) -> DataFrame:
    """Stage 1: reduce one raw event stream to a per-day STATE stream.

    A single windowed aggregation (watermark + 1-day tumbling window,
    append mode) — the only stateful operator in its query, so replay
    finalization is deterministic (the t5 family proves this shape).
    Day state is the same mergeable content t17's sinks maintain:
    OHLC via lexicographic (ts, value) struct min/max (deterministic on
    ts ties), counts and DECIMAL sums.
    """
    w = F.window(F.col("ts"), "1 day").alias("w")
    if leg == "stock":
        p = F.col("value").cast(DEC)
        open_s = F.min(F.struct(F.col("ts").alias("t"), p.alias("v")))
        close_s = F.max(F.struct(F.col("ts").alias("t"), p.alias("v")))
        agg = (
            events.withWatermark("ts", "0 seconds")
            .groupBy(w)
            .agg(
                open_s["v"].alias("open_v"),
                F.max(p).alias("high_v"),
                F.min(p).alias("low_v"),
                close_s["v"].alias("close_v"),
                F.count(F.lit(1)).alias("n_trades"),
                F.sum(p).cast(DEC).alias("turnover"),
            )
        )
    elif leg == "news":
        agg = (
            events.withWatermark("ts", "0 seconds")
            .groupBy(w)
            .agg(
                F.sum("k").cast("bigint").alias("sum_score"),
                F.count(F.lit(1)).alias("nbr_article"),
            )
        )
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown leg {leg!r}")
    cols = [
        F.col("w.start").alias("day_ts"),
        F.col("w.start").cast("date").alias("event_date"),
    ]
    for f in DAY_STATE_SCHEMA.fields[2:]:
        if f.name in _NULLS[leg]:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return agg.select(*cols)


#: far-future punctuation day (filtered out of all results by date bound)
SENTINEL_DATE = "2099-12-31"


def append_sentinel(spark: SparkSession, out_dir: str, leg: str) -> None:
    """Append the end-of-input punctuation row to a BATCH-staged day-state
    dir (tests that hand-write day states and drive the join directly).

    Carries the leg's own non-null shape (zeros) so it looks like any
    other day-state row to the reader; its only job is to drag the join
    watermark past every real day so bounded replays close completely.

    NOT valid for a day-state dir produced by a STREAMING sink: such a
    dir carries a ``_spark_metadata`` log, FileStreamSource trusts the
    log over a directory listing, and a batch-appended file is silently
    invisible to every downstream stream (the r11 finding that removed
    this call from lambda_speed_view_option_b — the production path
    punctuates IN-BAND through stage 1 instead)."""
    zero_dec = F.lit(0).cast(DEC)
    base = spark.range(1).select(
        F.to_timestamp(F.lit(SENTINEL_DATE)).alias("day_ts"),
        F.to_date(F.lit(SENTINEL_DATE)).alias("event_date"),
    )
    cols = []
    for f in DAY_STATE_SCHEMA.fields[2:]:
        if f.name in _NULLS[leg]:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif isinstance(f.dataType, T.DecimalType):
            cols.append(zero_dec.alias(f.name))
        else:
            cols.append(F.lit(0).cast(f.dataType).alias(f.name))
    base.select("day_ts", "event_date", *cols).coalesce(1).write.mode(
        "append"
    ).parquet(out_dir)


def speed_view_stream_join(
    spark: SparkSession, stock_dir: str, news_dir: str, delay: str = "1 day"
) -> DataFrame:
    """Stage 2: the watermarked stream-stream FULL-OUTER join itself.

    Both sides are append-only day-state file streams; the equi-join key
    is the watermarked event-time column ``day_ts``, which gives the
    join a state-key watermark: once the watermark passes a day, its
    state rows are evicted and any half that never met its partner is
    emitted NULL-padded — the Lambda answer to "news day with no
    trades" (and vice versa), which Option A expresses as a partial
    view row. State held is O(open days), independent of raw volume.

    Punctuation handling: each leg's day-state stream may carry ONE
    far-future SENTINEL_DATE row (stage 1 finalizes it when the raw
    replay was punctuated — see ingest.events_stream). It is filtered
    AFTER ``withWatermark``, so it advances the join watermark (closing
    every real trailing day) but never enters join state, never reaches
    the sink, and never meets a partner — sentinel-free sinks by
    construction, not by output filtering.
    """
    not_sentinel = F.col("day_ts") < F.to_timestamp(F.lit(SENTINEL_DATE))
    stock = (
        spark.readStream.schema(DAY_STATE_SCHEMA)
        .parquet(stock_dir)
        .withWatermark("day_ts", delay)
        .filter(not_sentinel)
        .select(
            "day_ts",
            "event_date",
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "n_trades",
            "turnover",
        )
        .alias("s")
    )
    news = (
        spark.readStream.schema(DAY_STATE_SCHEMA)
        .parquet(news_dir)
        .withWatermark("day_ts", delay)
        .filter(not_sentinel)
        .select("day_ts", "event_date", "sum_score", "nbr_article")
        .alias("n")
    )
    j = stock.join(news, F.col("s.day_ts") == F.col("n.day_ts"), "full_outer")
    return j.select(
        F.coalesce(F.col("s.event_date"), F.col("n.event_date")).alias("event_date"),
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        "n_trades",
        "turnover",
        "sum_score",
        "nbr_article",
    )


def run_speed_view_join(
    spark: SparkSession,
    stock_dir: str,
    news_dir: str,
    out_dir: str,
    ckpt_dir: str,
    delay: str = "1 day",
) -> DataFrame:
    """Run stage 2 to completion and return the materialized speed view.

    Two passes (:func:`~.replay.run_to_files`): the first matches and
    emits every paired day; the second run's no-data batch advances
    eviction so singles past the watermark flush as NULL-padded rows.
    The sentinel day is dropped here — its only purpose was to close the
    watermark."""
    df = speed_view_stream_join(spark, stock_dir, news_dir, delay=delay)
    run_to_files(df, out_dir, ckpt_dir)
    return spark.read.schema(df.schema).parquet(out_dir).filter(
        F.col("event_date") < F.to_date(F.lit(SENTINEL_DATE))
    )


def lambda_speed_view_option_b(
    spark: SparkSession, sf_dir: str, root: str, n_chunks: int = 3
) -> DataFrame:
    """End-to-end Option B speed view over the events fixture: two raw
    replayed streams -> two day-state stages -> sentinel punctuation ->
    stream-stream full-outer join. Same fixture chunking as t17, so
    days straddle micro-batch boundaries and the stage-1 aggregations
    genuinely combine partial days in state."""
    from ..schemas import EVENT_PROPS
    from .ingest import events_stream

    # chunk_by="ts": watermarked pipelines assume BOUNDED disorder. t17's
    # Option A (merge in the sink, no watermark) replays the fixture in
    # arrival (event_id) order, which at sf1 interleaves the whole month
    # per chunk; feeding that to Option B late-drops chunks 2..n wholesale
    # (measured: day 2024-01-20 kept 4137 of 5910 trades). Time-range
    # chunking is the Kafka-log replay model Option B is defined over —
    # and this asymmetry (A tolerates unbounded disorder, B does not) is
    # itself part of the Option A-vs-B verdict.
    # sentinel_events: end-of-input punctuation IN the raw replay, so each
    # leg's stage-1 watermark can close the leg's own trailing days. The
    # join-stage sentinel (append_sentinel below) cannot do this — it
    # punctuates the day-state streams, but a leg whose raw data ends
    # early (a feed with one purchase, say) would otherwise finalize NO
    # windows at all and the join would lose both-halves days the batch
    # oracle keeps (r10 fuzz catch; invisible on the dense fixture where
    # only the excluded DEFAULT_AS_OF day stays open).
    # One staged feed, filtered per leg: each leg runs as its own query
    # with its own checkpoint, so each replays the same files in full.
    events = events_stream(
        spark, sf_dir, n_chunks=n_chunks, chunk_by="ts", sentinel_events=True
    )
    stock_events = events.filter(F.col("event_type") == "purchase")
    news_events = events.filter(F.col("event_type") != "purchase").withColumn(
        "k", F.from_json(F.col("props").cast("string"), EVENT_PROPS)["k"]
    )
    stock_dir = os.path.join(root, "stock_days")
    news_dir = os.path.join(root, "news_days")
    # stage 1 per leg, into an exactly-once parquet sink; the second pass of
    # run_to_files finalizes the last closed windows
    legs = {"stock": (stock_events, stock_dir), "news": (news_events, news_dir)}
    for leg, (ev, out_dir) in legs.items():
        ckpt = os.path.join(root, f"ckpt_{leg}")
        run_to_files(day_state_stream(leg, ev), out_dir, ckpt)
    # No append_sentinel here (r11 finding): the day-state dirs are
    # STREAMING file sinks, and FileStreamSource honors their
    # _spark_metadata log — a batch-appended punctuation file is
    # INVISIBLE to stage 2 (measured: the appended row never reached the
    # join). Punctuation is in-band instead: the raw-replay sentinels
    # (sentinel_events above) finalize ONE far-future day-state row per
    # leg through stage 1's own sink, which stage 2 reads, uses to close
    # trailing days, and filters before its join (speed_view_stream_join).
    return run_speed_view_join(
        spark,
        stock_dir,
        news_dir,
        os.path.join(root, "speed_view_b"),
        os.path.join(root, "ckpt_join"),
    )
