"""Windows, watermarkable aggs, keyed merges (T5/T6, K4/K5).

Mechanically split from plans/registry.py (r12): entry bodies moved
verbatim, registration order preserved by the facade import sequence,
names unchanged."""

from __future__ import annotations

from ..plans.batch_pipeline import DEFAULT_AS_OF, build_batch_view, flagship, parse_props
from ..session import prepare
from ..streaming.replay import isolated_session, run_to_memory
from pyspark.sql import functions as F
from .registry_base import DEC, dec2dbl, register, tbl

# ---------------------------------------------------------------------------
# T5/T6 + K4/K5: windows, watermarkable aggs, keyed merges (SURVEY §2.7, §2.2)
# ---------------------------------------------------------------------------


@register(
    "t5_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def t5_tumbling_window(spark, sf_dir):
    """T5 (reference gap): tumbling event-time window agg — same builder
    serves the streaming path under trigger(availableNow)."""
    from ..streaming.windows import tumbling

    return tumbling(tbl(spark, sf_dir, "events"), "ts", "1 hour", "event_type")


@register(
    "t5_sliding_window",
    """
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL (i.i * 15) MINUTE AS window_start,
           time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL (i.i * 15) MINUTE + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) i
    GROUP BY 1, 2, 3
    """,
)
def t5_sliding_window(spark, sf_dir):
    """T5: sliding window (1h / 15m) — each event feeds 4 window buckets;
    state cost scales with duration/slide (flagged in streaming.windows)."""
    from ..streaming.windows import sliding

    return sliding(tbl(spark, sf_dir, "events"), "ts", "1 hour", "15 minutes", "event_type")


@register(
    "t5_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM g GROUP BY user_id, sid
    """,
)
def t5_session_window(spark, sf_dir):
    """T5: session windows (30 min gap) per user — Spark session_window in
    batch mode; oracle is the classic gaps-and-islands formulation."""
    from ..streaming.windows import session

    return session(tbl(spark, sf_dir, "events"), "ts", "30 minutes", "user_id")


@register(
    "k4_column_half_upsert",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS event_date,
             CAST(arg_max(CAST(value AS DECIMAL(18,2)), ts) AS DECIMAL(18,2)) AS close_v,
             count(*) AS n_trades
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), senti AS (
      SELECT CAST(ts AS DATE) AS event_date, count(*) AS nbr_article
      FROM events WHERE event_type <> 'purchase' GROUP BY 1
    ), cur AS (
      SELECT d.event_date, d.close_v, d.n_trades, s.nbr_article
      FROM daily d JOIN senti s USING (event_date)
      WHERE d.event_date <= DATE '2024-01-20'
    ), batch AS (
      SELECT event_date, CAST(close_v * 2 AS DECIMAL(18,2)) AS close_v, n_trades
      FROM daily WHERE event_date >= DATE '2024-01-11'
    )
    SELECT COALESCE(b.event_date, c.event_date) AS event_date,
           CAST(COALESCE(b.close_v, c.close_v) AS DOUBLE) AS close_v,
           COALESCE(b.n_trades, c.n_trades) AS n_trades,
           c.nbr_article
    FROM cur c FULL OUTER JOIN batch b ON c.event_date = b.event_date
    """,
)
def k4_column_half_upsert(spark, sf_dir):
    """K4: the painless 'set stock fields, preserve sentiment fields' upsert
    (reference yfConsumerStream.py:57-87) as a pure column-half merge — the
    batch owns (close_v, n_trades), nbr_article survives from the current
    view. The doubled close marks which half won."""
    from ..streaming.upsert import merge_halves

    ev = tbl(spark, sf_dir, "events")
    p = F.col("value").cast(DEC)
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.max_by(p, F.col("ts")).cast(DEC).alias("close_v"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )
    senti = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("nbr_article"))
    )
    cur = (
        daily.join(senti, "event_date")
        .filter(F.col("event_date") <= F.lit("2024-01-20").cast("date"))
    )
    batch = daily.filter(F.col("event_date") >= F.lit("2024-01-11").cast("date")).select(
        "event_date",
        (F.col("close_v") * 2).cast(DEC).alias("close_v"),
        "n_trades",
    )
    return dec2dbl(merge_halves(cur, batch, ["event_date"], ["close_v", "n_trades"]))


@register(
    "k5_incremental_mean_merge",
    """
    SELECT user_id,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_v,
           count(*) AS cnt_v,
           CAST(CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) AS mean_v
    FROM events GROUP BY user_id
    """,
)
def k5_incremental_mean_merge(spark, sf_dir):
    """K5 correct semantics: two disjoint (sum,count) states merged must
    equal the global mean — the property the reference's pairwise recurrence
    violates (twitterConsumerStream.py:100-106)."""
    from ..streaming.upsert import merge_mean_states

    ev = parse_props(tbl(spark, sf_dir, "events"))

    def state(df):
        return df.groupBy("user_id").agg(
            F.sum("k").cast("bigint").alias("sum_v"),
            F.count(F.lit(1)).alias("cnt_v"),
        )

    half1 = state(ev.filter(F.dayofmonth("ts") <= 15))
    half2 = state(ev.filter(F.dayofmonth("ts") > 15))
    merged = merge_mean_states(half1, half2, ["user_id"])
    return merged.select(
        "user_id",
        F.col("sum_v").cast("bigint").alias("sum_v"),
        F.col("cnt_v").cast("bigint").alias("cnt_v"),
        (F.col("sum_v").cast("double") / F.col("cnt_v")).alias("mean_v"),
    )


@register(
    "t10_stream_topk",
    """
    WITH ranked AS (
      SELECT CAST(user_id AS VARCHAR) AS key, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT key, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = 1 THEN value END) AS top1,
           max(CASE WHEN rn = 2 THEN value END) AS top2,
           max(CASE WHEN rn = 3 THEN value END) AS top3
    FROM ranked GROUP BY key
    """,
    lazy_replay=True,
)
def t10_stream_topk(spark, sf_dir):
    """T6 variant: true Structured Streaming top-3 per key through
    ``applyInPandasWithState`` — non-algebraic order-statistic state,
    bounded at O(k) per key regardless of stream length. Events replayed
    as a stream; final state read back from the memory sink (max-n row
    per key). Ties make the VALUE multiset deterministic even though row
    ranks are not, so the windowed oracle matches exactly."""
    from ..streaming.ingest import events_stream
    from ..streaming.state import running_topk_stream

    child = isolated_session(prepare(spark))
    stream = events_stream(child, sf_dir).select(
        F.col("user_id").cast("string").alias("key"),
        F.col("value").cast("double").alias("v"),
    )
    tblu = run_to_memory(running_topk_stream(stream), "update")
    packed = F.struct("n", "top1", "top2", "top3")
    return (
        tblu.groupBy("key")
        .agg(F.max_by(packed, F.col("n")).alias("s"))
        .select(
            "key",
            F.col("s.n").alias("n"),
            F.col("s.top1").alias("top1"),
            F.col("s.top2").alias("top2"),
            F.col("s.top3").alias("top3"),
        )
    )


@register(
    "t6_stream_running_mean",
    """
    SELECT CAST(user_id AS VARCHAR) AS key,
           count(*) AS n,
           CAST(CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS DOUBLE) AS sum_v,
           CAST(CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) AS mean_v
    FROM events GROUP BY user_id
    """,
    lazy_replay=True,
)
def t6_stream_running_mean(spark, sf_dir):
    """T6: genuine Structured Streaming — events replayed as a stream into
    ``applyInPandasWithState`` (sum/count state per key, update mode), final
    state read back from the memory sink. The correct-mean replacement for
    the reference's ES-scripted sentiment state."""
    from ..plans.batch_pipeline import parse_props as _pp
    from ..streaming.ingest import events_stream
    from ..streaming.state import running_mean_stream

    child = isolated_session(prepare(spark))
    stream = _pp(events_stream(child, sf_dir)).select(
        F.col("user_id").cast("string").alias("key"),
        F.col("k").cast("double").alias("v"),
    )
    # final state per key = the row with the highest n (monotone per key)
    tblu = run_to_memory(running_mean_stream(stream), "update")
    packed = F.struct("n", "sum_v", "mean_v")
    return (
        tblu.groupBy("key")
        .agg(F.max_by(packed, F.col("n")).alias("s"))
        .select("key", F.col("s.n").alias("n"), F.col("s.sum_v").alias("sum_v"),
                F.col("s.mean_v").alias("mean_v"))
    )


@register(
    "t11_stream_stream_join",
    """
    WITH a AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), b AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    )
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM a JOIN b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts - INTERVAL 10 MINUTE
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
    lazy_replay=True,
)
def t11_stream_stream_join(spark, sf_dir):
    """True Structured Streaming stream-stream INNER join with event-time
    range bounds and watermarks on BOTH sides (the quotes-x-articles shape
    of the reference's speed layer, generalized): clicks join views of the
    same user within ±10 minutes, replayed via availableNow across
    micro-batches, results from the memory sink. The watermark delay
    exceeds the fixture's time span, so no row is dropped and the batch
    range-join oracle is the exact truth (late-data *dropping* semantics
    are pytest-gated separately in tests/test_streaming.py)."""
    from ..streaming.ingest import events_stream

    # the stream-stream join's state store allocates one state partition
    # per shuffle partition PER SIDE per micro-batch: replay on a child
    # session pinned to a small count
    child = isolated_session(prepare(spark))
    # both sides read one staged copy: Spark plans it as one source, so
    # each micro-batch feeds the same chunk to both sides
    events = events_stream(child, sf_dir, n_chunks=2)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", "3650 days")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "3650 days")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("user_id", "click_id", "view_id")
    return run_to_memory(joined)


@register(
    "t12_stream_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
    """,
    lazy_replay=True,
)
def t12_stream_static_join(spark, sf_dir):
    """Streaming enrichment: the events STREAM joined to a static customer
    dimension (the speed layer's quote-enrichment shape). Stream-static
    inner joins are stateless per micro-batch and Spark plans the static
    side as a broadcast hash join inside every batch — the scale path for
    enriching an unbounded stream against a dimension table without any
    state store."""
    from ..streaming.ingest import events_stream

    child = isolated_session(prepare(spark))
    cust = tbl(child, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    enriched = (
        events_stream(child, sf_dir, n_chunks=2)
        .select("event_id", "user_id")
        .join(cust, F.col("user_id") + 1 == F.col("c_custkey"))
        .select("event_id", "user_id", "c_name", "c_mktsegment")
    )
    return run_to_memory(enriched)


@register(
    "t13_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
    lazy_replay=True,
)
def t13_stream_dedup(spark, sf_dir):
    """Streaming dropDuplicates across micro-batches: keyed state emits
    each (user_id, event_type) once over the whole replay — S8's
    at-most-once contract as a genuinely stateful streaming op (a5 is its
    batch twin). Only the key survives to the sink, so the result set is
    deterministic no matter which physical row wins the race; in
    production the same pipeline adds a watermark to bound state
    (dropDuplicatesWithinWatermark), pytest-covered in
    tests/test_streaming.py."""
    from ..streaming.ingest import events_stream

    child = isolated_session(prepare(spark))
    dedup = (
        events_stream(child, sf_dir, n_chunks=2)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_to_memory(dedup)


@register(
    "t14_stream_state_expiry",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    agg AS (
      SELECT CAST(user_id AS VARCHAR) AS key,
             count(*) AS n,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    )
    SELECT key, n, sum_v
    FROM agg, mx
    WHERE epoch_ms(last_ts) + 36000000 < epoch_ms(m) - 7200000
    """,
    lazy_replay=True,
)
def t14_stream_state_expiry(spark, sf_dir):
    """Timeout-driven state EXPIRY through ``applyInPandasWithState``
    (``GroupStateTimeout.EventTimeTimeout``): per-user session state is
    emitted exactly once when the watermark passes last-activity + 10h,
    then removed — the state-GC behavior t6/t10 (and the reference's ES
    keyed docs, Speed_layer/twitterConsumerStream.py:94-107) never
    exercise, and the thing that bounds state to active keys at 100 TB.

    Determinism: one data batch (availableNow), then Spark's final no-data
    micro-batch advances the watermark to max(ts) - 2h and fires every
    timeout strictly below it. So the emitted set is exactly the users
    whose last activity is > 12h before the stream's end — the HAVING-gated
    batch aggregate in the oracle. Users still active in the final 12h
    remain open (in state, unemitted) — expected session semantics."""
    from ..streaming.ingest import events_stream
    from ..streaming.state import idle_session_close

    child = isolated_session(prepare(spark))
    stream = (
        events_stream(child, sf_dir, single_batch=True)
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("ts"),
            F.floor("value").cast("bigint").alias("v"),
        )
        .withWatermark("ts", "2 hours")
    )
    # each key emits at most once (state removed on expiry): sink == result
    return run_to_memory(idle_session_close(stream, gap_ms=10 * 3600 * 1000))


# The Spark 4 typed-state successor API (transformWithStateInPandas) lives
# in streaming/state.py::user_stats_stream. Its state-server protocol needs
# google.protobuf, which this sandbox lacks (same class of constraint as
# the absent Kafka broker), so it is dependency-gated plumbing with a
# skip-gated pytest (tests/test_streaming.py) instead of an oracle entry.


