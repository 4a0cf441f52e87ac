"""Corpus mixture, sequence assembly, imputation, distribution stats, graph ops.

Mechanically split from plans/registry.py (r12): entry bodies moved
verbatim, registration order preserved by the facade import sequence,
names unchanged."""

from __future__ import annotations

from ..ext import dedup as _dd
from ..ext import export as _ex
from ..ext import similarity as _sim
from ..ext import text as _tx
from ..session import prepare
from ..streaming.replay import isolated_session, run_to_memory
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .registry_base import DEC, bucket_count, dec2dbl, register, scratch_dir, tbl

# ---------------------------------------------------------------------------
# r5: corpus mixture rebalancing + sequence assembly (training-data ops)
# ---------------------------------------------------------------------------
from ..ext import sampling as _sp2  # noqa: E402

# Synthesized skewed domain: the fixture's `source` column is uniform (20
# sources x equal counts), which would make a rebalance vacuous. Derive a
# power-law-ish domain from the doc id hash — 50% web / 25% news / 15%
# books / 7% code / 3% wiki — identically in both engines, then flatten it.
_DOM_BUCKET = _sp2.phash60_sql("CAST(doc_id AS VARCHAR)", seed="dom") + " % 100"
_DOM_SQL = (
    f"CASE WHEN {_DOM_BUCKET} < 50 THEN 'web' "
    f"WHEN {_DOM_BUCKET} < 75 THEN 'news' "
    f"WHEN {_DOM_BUCKET} < 90 THEN 'books' "
    f"WHEN {_DOM_BUCKET} < 97 THEN 'code' ELSE 'wiki' END"
)


def _domain_col():
    b = _sp2.phash60(F.col("doc_id").cast("string"), seed="dom") % 100
    return (
        F.when(b < 50, "web")
        .when(b < 75, "news")
        .when(b < 90, "books")
        .when(b < 97, "code")
        .otherwise("wiki")
    )


@register(
    "x22_domain_mix",
    f"""
    WITH src AS (SELECT *, {_DOM_SQL} AS domain FROM documents),
    r AS ({_sp2.temperature_rates_sql("src", "domain", 500)})
    SELECT s.domain, any_value(r.rate_mille) AS rate_mille,
           count(*) AS n_kept, CAST(sum(s.n_chars) AS BIGINT) AS kept_chars
    FROM src s JOIN r ON s.domain = r.domain
    WHERE {_sp2.sample_bucket_sql("s.domain", "s.doc_id", seed="mix")} < r.rate_mille
    GROUP BY s.domain
    """,
)
def x22_domain_mix(spark, sf_dir):
    """Temperature-flattened domain mixture (ext/sampling.py:
    temperature_rebalance): per-domain keep-rates derived from the data
    (alpha=0.5 — sqrt-flattening, the standard LLM-corpus mixture move),
    membership decided by the portable hash so the sample is reproducible
    bit-for-bit on any partitioning of any superset. Entry aggregates the
    kept rows per domain. Scale shape: count scan + broadcast rate table +
    narrow filter scan; no corpus-sized shuffle anywhere.

    Reference anchor: the reference ingests ALL rows of both feeds
    symmetrically (Batch_layer/batchProcess.py) — no notion of rebalancing
    a skewed mixture; this is the corpus-scale generalization its data
    model needs at 100 TB."""
    docs = tbl(spark, sf_dir, "documents").withColumn("domain", _domain_col())
    kept = _sp2.temperature_rebalance(docs, "domain", "doc_id", 500)
    return kept.groupBy("domain").agg(
        F.any_value(F.col("rate_mille")).alias("rate_mille"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


@register(
    "w6_sequence_assembly",
    """
    SELECT user_id,
           count(*) AS n_events,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:50], '>')
             AS seq
    FROM events GROUP BY user_id
    """,
)
def w6_sequence_assembly(spark, sf_dir):
    """Per-key ordered sequence assembly — the conversation/session-turn
    construction step of a training pipeline (events of one user, in event
    time, truncated to the first 50 turns, joined into one training
    string). One hash shuffle on user_id; state per group is bounded by
    that key's event count (sessions, not corpus). The sort is per-group
    via array_sort on (ts, event_id, type) structs — no global sort, and
    the struct tiebreak (event_id) makes the order total, so the string is
    deterministic cross-engine.

    Reference anchor: the speed layer keys tweets by (stock, day) and
    appends text per key (Speed_layer/twitterConsumerStream.py:94-107) —
    same assemble-per-key shape, here with a total order contract."""
    ev = tbl(spark, sf_dir, "events")
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.slice(sorted_structs, 1, 50).event_type, ">"
        ).alias("seq"),
    )


from ..ext import layout as _ly  # noqa: E402
from ..ext import similarity as _sim2  # noqa: E402


@register(
    "s10_random_projection",
    f"""
    WITH p AS ({_sim2.random_projection_sql("embeddings")})
    SELECT vec_id, p0, p1, p2, p3, p4, p5, p6, p7
    FROM p WHERE vec_id % 10 = 0
    """,
)
def s10_random_projection(spark, sf_dir):
    """Sparse-integer random projection 64->8 dims
    (ext/similarity.py:random_projection): the JL-lemma bandwidth reducer
    in front of an ANN index build. Zero shuffle, zero join, zero Python —
    one codegen Project; integer weights make the doubles bit-exact
    cross-engine. Entry keeps every 10th vector so the driver hashes full
    projected rows without 500x8 output bloat."""
    p = _sim2.random_projection(tbl(spark, sf_dir, "embeddings"))
    return p.filter(F.col("vec_id") % 10 == 0)


@register(
    "x23_zorder_layout",
    f"""
    SELECT {_ly.zorder_bucket_sql("(l_partkey % 256)", "(l_suppkey % 256)")} AS bucket,
           count(*) AS n_rows,
           min(l_partkey % 256) AS d1_min, max(l_partkey % 256) AS d1_max,
           min(l_suppkey % 256) AS d2_min, max(l_suppkey % 256) AS d2_max
    FROM lineitem GROUP BY bucket
    """,
)
def x23_zorder_layout(spark, sf_dir):
    """Z-order layout key (ext/layout.py): Morton-interleave the low 8
    bits of two independent join keys and bucket rows by the key's top 8
    bits — the file boundaries a range-partitioned Z-ordered writer
    produces. The per-bucket (d1, d2) min/max the entry emits IS the
    parquet row-group statistic that makes scans filtering on EITHER
    column prune files at 100 TB; each bucket's spans stay <=16-wide in
    both dims, where a d1-sorted layout would span all 256 d2 values.
    Key computation is pure bit arithmetic in codegen; the physical
    re-layout (write_zordered) is one range shuffle."""
    li = tbl(spark, sf_dir, "lineitem")
    d1 = F.pmod(F.col("l_partkey"), F.lit(256))
    d2 = F.pmod(F.col("l_suppkey"), F.lit(256))
    return (
        li.select(
            _ly.zorder_bucket(d1, d2).alias("bucket"),
            d1.alias("d1"),
            d2.alias("d2"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("d1").alias("d1_min"),
            F.max("d1").alias("d1_max"),
            F.min("d2").alias("d2_min"),
            F.max("d2").alias("d2_max"),
        )
    )


@register(
    "t15_stream_windowed_topk",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    wc AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             event_type,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT window_start, event_type, n_events,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rnk
      FROM wc
    )
    SELECT window_start, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM r, mx
    WHERE rnk <= 3 AND window_start + INTERVAL 1 DAY <= mx.m
    """,
    lazy_replay=True,
)
def t15_stream_windowed_topk(spark, sf_dir):
    """Streaming trending-terms: watermarked tumbling-day counts per
    event_type emitted in APPEND mode (a window row exists only once its
    window is FINALIZED — the watermark passed its end), then the serving
    step ranks top-3 per window over the sink table. Ranking lives at the
    serving boundary because a rank over a streaming agg is not
    incrementally maintainable — the lambda split the reference's speed
    layer applies to its daily sentiment means
    (Speed_layer/twitterConsumerStream.py), generalized to top-k.

    Determinism contract: one data batch + the availableNow no-data flush
    (single_batch=True, the t14 replay shape) with a zero-delay watermark
    — every window that ENDS at-or-before the stream's max event time is
    emitted exactly once; the still-open last window is withheld, and the
    oracle applies the same cutoff. State per key is one (window, type)
    count, dropped at finalization — bounded by ACTIVE windows, the
    append-mode guarantee that holds at any scale."""
    from pyspark.sql import Window

    from ..streaming.ingest import events_stream

    child = isolated_session(prepare(spark))
    agg = (
        events_stream(child, sf_dir, single_batch=True)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        run_to_memory(agg)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n_events", "rnk")
    )


@register(
    "s11_incremental_ivf",
    _sim2.incremental_ivf_sql("embeddings", "vec_id % 5 <> 0", "vec_id % 5 = 0"),
)
def s11_incremental_ivf(spark, sf_dir):
    """Incremental IVF index maintenance
    (ext/similarity.py:incremental_ivf_assign): centroids trained on the
    existing corpus are FROZEN; an incoming batch (every 5th vector) is
    assigned with one scan of the new data only, and appended to the
    stored assignment — the indexed corpus is never re-scanned, the ANN
    mirror of d6's incremental minhash. Entry summarizes the merged index
    per cell (old/new counts)."""
    emb = tbl(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = _sim2.train_kmeans_centroids(old)
    old_base = old.select(
        "vec_id", _sim2._km_quant(F.col("embedding")).alias("q")
    )
    old_assign = _sim2._km_assign(old_base, cents, extra=[])
    merged = _sim2.incremental_ivf_assign(old_assign, new, cents)
    return merged.groupBy("cid").agg(
        F.count(F.when(~F.col("is_new"), 1)).alias("n_old"),
        F.count(F.when(F.col("is_new"), 1)).alias("n_new"),
    )


@register(
    "a13_winsorize",
    """
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rnk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), p AS (
      SELECT event_type, value AS p99
      FROM r WHERE rnk = CAST(ceil(0.99 * n) AS BIGINT)
    )
    SELECT e.event_type, count(*) AS n_rows,
           any_value(p.p99) AS p99_value,
           count(CASE WHEN e.value > p.p99 THEN 1 END) AS n_clipped
    FROM events e JOIN p USING (event_type)
    GROUP BY e.event_type
    """,
)
def a13_winsorize(spark, sf_dir):
    """Exact-percentile winsorization spec — the outlier-clipping step of
    a feature pipeline, computed as the value at rank ceil(0.99*n) per
    group (rank tiebreak on event_id) rather than an interpolated
    percentile: engines interpolate differently, a ranked data value is
    bit-identical everywhere. One event_type shuffle serves both windows;
    the per-group threshold table is tiny and broadcast back. a10 is the
    approx-sketch contrast entry (approx_percentile), this is the exact
    twin a training pipeline uses when reproducibility beats one pass."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cw = Window.partitionBy("event_type")
    ranked = (
        ev.select("event_type", "event_id", "value")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(cw))
    )
    p99 = ranked.filter(
        F.col("rnk") == F.ceil(F.lit(0.99) * F.col("n"))
    ).select("event_type", F.col("value").alias("p99"))
    return (
        ev.join(F.broadcast(p99), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.any_value(F.col("p99")).alias("p99_value"),
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias("n_clipped"),
        )
    )


def _split_sql(id_expr: str) -> str:
    h = _sp2.phash60_sql(f"CAST({id_expr} AS VARCHAR)", seed="split")
    return f"CASE WHEN {h} % 10 = 0 THEN 'val' ELSE 'train' END"


def _split_col(id_col):
    h = _sp2.phash60(id_col.cast("string"), seed="split") % 10
    return F.when(h == 0, "val").otherwise("train")


@register(
    "pipe2_split_leakage",
    f"""
    WITH pairs AS (
      SELECT id_a, id_b
      FROM ({_dd.minhash_lsh_pairs_sql("documents", "doc_id", "text", threshold=0.5)})
    ), lab AS (
      SELECT id_a, id_b, {_split_sql("id_a")} AS sa, {_split_sql("id_b")} AS sb
      FROM pairs
    ), leaked AS (
      SELECT * FROM lab WHERE sa <> sb
    ), members AS (
      SELECT id_a AS vid, sa AS split FROM leaked
      UNION ALL
      SELECT id_b AS vid, sb AS split FROM leaked
    ), ls AS (
      SELECT split, count(*) AS leaked_pairs, count(DISTINCT vid) AS tainted_docs
      FROM members GROUP BY split
    ), dc AS (
      SELECT {_split_sql("doc_id")} AS split, count(*) AS n_docs
      FROM documents GROUP BY split
    )
    SELECT dc.split, dc.n_docs,
           coalesce(ls.leaked_pairs, 0) AS leaked_pairs,
           coalesce(ls.tainted_docs, 0) AS tainted_docs
    FROM dc LEFT JOIN ls ON dc.split = ls.split
    """,
)
def pipe2_split_leakage(spark, sf_dir):
    """Train/validation split + cross-split near-dup LEAKAGE audit: the
    hash split is reproducible on any superset (same contract as every
    sampler here), and the audit reuses the minhash-LSH pair machinery to
    find validation docs whose near-duplicate twin sits in train — the
    contamination that silently inflates eval scores. Per split: doc
    count, leaked-pair count, and distinct tainted docs.

    Scale shape: the split is a narrow map-side label (no shuffle beyond
    d2's own banded candidate join); the leak summary aggregates id-only
    pair rows. This is the between-splits complement of x14's
    benchmark decontamination."""
    docs = tbl(spark, sf_dir, "documents")
    pairs = _dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    leaked = (
        pairs.withColumn("sa", _split_col(F.col("id_a")))
        .withColumn("sb", _split_col(F.col("id_b")))
        .filter(F.col("sa") != F.col("sb"))
    )
    members = leaked.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("vid"), F.col("sa").alias("split")),
                F.struct(F.col("id_b").alias("vid"), F.col("sb").alias("split")),
            )
        ).alias("m")
    ).select("m.vid", "m.split")
    leak_stats = members.groupBy("split").agg(
        F.count(F.lit(1)).alias("leaked_pairs"),
        F.countDistinct("vid").alias("tainted_docs"),
    )
    doc_counts = (
        docs.select(_split_col(F.col("doc_id")).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return doc_counts.join(F.broadcast(leak_stats), "split", "left").select(
        "split",
        "n_docs",
        F.coalesce(F.col("leaked_pairs"), F.lit(0)).alias("leaked_pairs"),
        F.coalesce(F.col("tainted_docs"), F.lit(0)).alias("tainted_docs"),
    )


# ---------------------------------------------------------------------------
# r5 continuation: imputation, distribution stats, multiset ops,
# bucketed co-located join, unigram LM scoring, token-budget sampling
# ---------------------------------------------------------------------------


@register(
    "w7_locf_impute",
    """
    WITH t AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS px
      FROM events
    )
    SELECT event_id, user_id, px,
           last_value(px IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px_locf,
           first_value(px IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS px_nocb
    FROM t
    """,
)
def w7_locf_impute(spark, sf_dir):
    """Gap-fill imputation over a sparse per-key series: LOCF (last
    observation carried forward) and NOCB (next observation carried
    backward) via ``last/first(..., ignorenulls=True)`` over mirrored
    window frames — the standard time-series repair before feeding a
    forecaster. Only 'purchase' events carry a price; every other event
    row gets the neighbouring price imputed. Values are CARRIED, never
    recomputed, so doubles are bit-exact cross-engine. One hash shuffle
    on user_id serves both frames; per-key state in the window is O(1).

    Reference anchor: the serving join (Serving_layer/prediction.py)
    pairs each day's sentiment with the day's close and silently drops
    days with no trade — LOCF is the scale-correct version of that
    hole-patching."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    px = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        px.alias("px"),
        F.last(px, ignorenulls=True).over(back).alias("px_locf"),
        F.first(px, ignorenulls=True).over(fwd).alias("px_nocb"),
    )


@register(
    "a14_distribution_stats",
    """
    WITH r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ), m AS (
      SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY lang, n_chars
    ), md AS (
      SELECT lang, n_chars AS mode_chars,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, n_chars ASC) AS mrn
      FROM m
    )
    SELECT r.lang,
           any_value(r.n) AS n_docs,
           CAST(sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                         THEN n_chars END) AS DOUBLE)
             / count(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                          THEN 1 END) AS med_chars,
           min(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                    THEN n_chars END) AS p25_chars,
           min(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                    THEN n_chars END) AS p75_chars,
           any_value((SELECT mode_chars FROM md
                      WHERE md.lang = r.lang AND mrn = 1)) AS mode_chars
    FROM r GROUP BY r.lang
    """,
)
def a14_distribution_stats(spark, sf_dir):
    """Per-group distribution stats — median, discrete p25/p75, and a
    deterministic mode — composed from row_number + one count-window
    instead of engine quantile builtins, because the builtins disagree
    across engines on which element a discrete quantile picks when
    p*(n-1) lands on an integer (DuckDB indexes floor(p*(n-1)); Spark's
    percentile_disc takes the smallest value with cume_dist >= p). The
    composition pins ONE definition — value at row ceil(p*n) — on both
    sides, and stays in integer math until the single median division.
    Mode ties break toward the smaller value (the builtin mode() is
    nondeterministic under ties in both engines).

    Scale shape: one lang shuffle shared by both windows + one
    (lang, n_chars) map-side-combined agg for the mode; no global
    sort."""
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    r = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    n, rn = F.col("n"), F.col("rn")
    mid = (rn == F.floor((n + 1) / F.lit(2))) | (
        rn == F.floor((n + 2) / F.lit(2))
    )
    p25 = rn == F.ceil(F.lit(0.25) * n).cast("bigint")
    p75 = rn == F.ceil(F.lit(0.75) * n).cast("bigint")
    stats = r.groupBy("lang").agg(
        F.any_value(n).alias("n_docs"),
        (
            F.sum(F.when(mid, F.col("n_chars"))).cast("double")
            / F.count(F.when(mid, F.lit(1)))
        ).alias("med_chars"),
        F.min(F.when(p25, F.col("n_chars"))).alias("p25_chars"),
        F.min(F.when(p75, F.col("n_chars"))).alias("p75_chars"),
    )
    counts = d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    wmode = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("n_chars"))
    mode = (
        counts.withColumn("mrn", F.row_number().over(wmode))
        .filter(F.col("mrn") == 1)
        .select("lang", F.col("n_chars").alias("mode_chars"))
    )
    return stats.join(F.broadcast(mode), "lang")


@register(
    "u3_multiset_ops",
    """
    WITH a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
         b AS (SELECT l_partkey FROM lineitem
               WHERE l_shipdate >= DATE '2024-01-15')
    SELECT 'intersect' AS op, l_partkey, count(*) AS n
    FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 2
    UNION ALL
    SELECT 'except' AS op, l_partkey, count(*) AS n
    FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 2
    """,
)
def u3_multiset_ops(spark, sf_dir):
    """Multiset (bag) set operations — INTERSECT ALL / EXCEPT ALL — the
    duplicate-preserving complements of u2's distinct set ops. Spark
    plans both as a single hash aggregate counting per-side multiplicity
    (min / left-minus-right copies), i.e. ONE shuffle on the value, no
    join — exactly how a 100 TB bag-diff should run. The entry re-groups
    the surviving copies so the driver hashes (value, multiplicity)
    instead of a multiset rendering."""
    li = tbl(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_shipdate") >= F.lit("2024-01-15").cast("date")).select(
        "l_partkey"
    )
    inter = (
        a.intersectAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect").alias("op"), "l_partkey", "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except").alias("op"), "l_partkey", "n")
    )
    return inter.unionByName(exc)


@register(
    "j8_bucketed_colocated_join",
    f"""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS {DEC})
                    * (1 - CAST(l.l_discount AS {DEC}))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j8_bucketed_colocated_join(spark, sf_dir):
    """Bucketed CO-LOCATED join: both fact tables are written
    ``bucketBy(8, orderkey).sortBy(orderkey)`` and re-read through the
    catalog, so the sort-merge join consumes pre-partitioned,
    pre-sorted bucket files — ZERO Exchange and ZERO Sort on either join
    input (asserted in tests/test_plan_quality.py). This is THE 100 TB
    move for a join repeated every run (the reference joins stock and
    news daily, Batch_layer/batchProcess.py): pay the layout shuffle
    once at write time, then every subsequent join is shuffle-free. At
    scale the bucket count is sized so one bucket ~ one task's memory
    (8 here only because the fixture is small). The entry writes the
    bucketed twin tables to a deterministic scratch dir (overwritten
    per call — idempotent), joins with an explicit merge hint (a
    broadcast would hide the layout win), and aggregates revenue per
    priority in exact DECIMAL, DOUBLE only at the output boundary."""
    import os as _os

    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # per-process scratch (pid token de-races concurrent sessions; swept +
    # atexit-removed by scratch_dir so no orphan dirs survive the process)
    tag, scratch = scratch_dir("spark_graft_bucketed", sf_dir)
    names = {}
    for df, key, base in ((li, "l_orderkey", "lineitem"), (orders, "o_orderkey", "orders")):
        tname = f"j8_bkt_{base}_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        (
            df.write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", _os.path.join(scratch, base))
            .mode("overwrite")
            .saveAsTable(tname)
        )
        names[base] = tname
    l = spark.table(names["lineitem"]).hint("merge")
    o = spark.table(names["orders"])
    rev = (F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC)))
    return dec2dbl(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue"),
        )
    )


@register(
    "x26_unigram_surprisal",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_tx.tokens_sql('text')}) AS token FROM documents
    ), v AS (
      SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), t AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v
    )
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           CAST(sum(length(bin(t.total)) - length(bin(v.cnt))) AS BIGINT)
             AS bits_q,
           CAST(sum(length(bin(t.total)) - length(bin(v.cnt))) AS DOUBLE)
             / count(*) AS bits_per_token
    FROM tok JOIN v USING (token) CROSS JOIN t
    GROUP BY tok.doc_id
    """,
)
def x26_unigram_surprisal(spark, sf_dir):
    """Corpus-trained unigram LM surprisal per document — the
    perplexity-proxy quality score of an LLM data pipeline (low
    bits/token = repetitive boilerplate, high = rare-token noise), with
    the log2 QUANTIZED to floor via ``length(bin(cnt))`` so the score is
    pure INTEGER math: cross-engine transcendental log() rounding can
    never flap the value hash (x10's ln() happens to agree between
    engines on these inputs; this entry removes the dependence
    entirely). surprisal_q(token) = floor(log2 total) - floor(log2 cnt).

    Scale shape: explode -> one map-side-combined token count; the
    token->cnt join is a plain equi-join (AQE broadcasts the vocab at
    test scale, shuffles it at 100 TB — no hint pinned; a min-count
    cutoff would cap the vocab in production); the corpus total is a
    1-row broadcast; per-doc sum is map-side-combinable on doc_id."""
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tx.tokens(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total"))
    surprisal = F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("cnt")))
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(surprisal).cast("bigint").alias("bits_q"),
        )
        .withColumn(
            "bits_per_token", F.col("bits_q").cast("double") / F.col("n_tokens")
        )
    )


@register(
    "x27_token_budget_sample",
    f"""
    WITH d AS (
      SELECT source, doc_id,
             len({_tx.tokens_sql('text')}) AS n_tok,
             {_ex.shuffle_pos_sql('doc_id', seed='budget')} AS pos
      FROM documents
    ), c AS (
      SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY pos, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d
    )
    SELECT source,
           count(*) AS n_total,
           CAST(count(CASE WHEN cum <= 1000 THEN 1 END) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN cum <= 1000 THEN n_tok END), 0) AS BIGINT)
             AS tokens_kept
    FROM c GROUP BY source
    """,
)
def x27_token_budget_sample(spark, sf_dir):
    """Token-BUDGET quota sampling per domain: order each source's
    documents by the reproducible shuffle position (ext/export.py
    shuffle_pos — an unbiased, superset-stable order), accumulate token
    counts, and keep documents while the running total fits the budget —
    how a corpus is downsampled to 'N billion tokens per domain' for a
    training mixture, complementing x22's rate-based temperature
    mixture with an exact token quota. All-integer arithmetic.

    Scale shape: one hash shuffle on source serves the running-sum
    window; per-key window state is O(1); the budget gate is a narrow
    filter. Skew note: a single giant domain makes one fat partition —
    at 100 TB pair this with the salted-window trick (two-level cumsum:
    per-salt partial sums + broadcast per-salt offsets) if one domain
    exceeds a task's input ceiling."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        F.size(_tx.tokens(F.col("text"))).alias("n_tok"),
        _ex.shuffle_pos("doc_id", seed="budget").alias("pos"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pos", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    kept = F.col("cum") <= 1000
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(kept, F.lit(1))).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


@register(
    "a15_corr_stats",
    """
    WITH b AS (
      SELECT l_returnflag,
             CAST(l_quantity AS HUGEINT) AS x,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM b GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS covar_pop,
           sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS stddev_qty,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
             AS corr_qty_cents
    FROM s
    """,
)
def a15_corr_stats(spark, sf_dir):
    """Correlation / covariance / stddev per group, composed from EXACT
    integer moment sums instead of the corr()/covar_pop() builtins:
    builtin second-moment aggregates fold doubles in partition order, so
    their last bits differ run-to-run and engine-to-engine. Here x
    (integer-valued quantity) and y (price in cents) accumulate n, Σx,
    Σy, Σxx, Σxy, Σyy exactly — DECIMAL(38,0) on the Spark side, HUGEINT
    in DuckDB — and the classical formulas run as one fixed sequence of
    IEEE ops on those exact sums, so the doubles are bit-identical on
    any partitioning. sqrt() is a correctly-rounded IEEE primitive (not
    libm-approximated like log), so it is safe cross-engine. The
    variance products are NOT multiplied under one sqrt — n·Σyy−Σy²
    squared would overflow 38 digits at sf1; sqrt each factor first.

    Scale shape: one map-side-combined agg — the moment sums ARE the
    classic one-pass parallel algorithm. 5 rows out.

    Reference anchor: the batch layer's avg_score daily sentiment
    (Batch_layer/batchProcess.py) is the first moment of the same
    pattern; this generalizes to second moments at full determinism."""
    li = tbl(spark, sf_dir, "lineitem")
    D38 = "decimal(38,0)"
    x = F.col("l_quantity").cast(D38)
    y = F.round(F.col("l_extendedprice") * 100).cast(D38)
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast(D38).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    nd = n.cast("double")
    cov_num = (n * sxy - sx * sy).cast("double")
    varx = (n * sxx - sx * sx).cast("double")
    vary = (n * syy - sy * sy).cast("double")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (sx.cast("double") / nd).alias("mean_qty"),
        (cov_num / (nd * nd)).alias("covar_pop"),
        (F.sqrt(varx) / nd).alias("stddev_qty"),
        # zero-variance groups (constant x or y, single-row groups) have
        # no defined correlation: Spark 4 ANSI raises DIVIDE_BY_ZERO even
        # on DOUBLE 0/0 while DuckDB yields IEEE NaN — try_divide/nullif
        # pin NULL on both sides (oracle-fuzz finding)
        F.try_divide(cov_num, F.sqrt(varx) * F.sqrt(vary)).alias(
            "corr_qty_cents"
        ),
    )


_THETA_GATE = 8  # keep keys whose hash % GATE == 0 (~1/8 sample of key space)


@register(
    "a16_distinct_sketch_gate",
    f"""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS gated_users,
           CAST(count(DISTINCT user_id) * {_THETA_GATE} AS BIGINT) AS est_users
    FROM events
    WHERE {_sp2.phash60_sql("CAST(user_id AS VARCHAR)", seed="theta")}
          % {_THETA_GATE} = 0
    GROUP BY event_type
    """,
)
def a16_distinct_sketch_gate(spark, sf_dir):
    """Distinct-count sketch via a fixed HASH GATE (theta-sketch shape):
    keep only keys whose seeded hash lands in 1/GATE of the hash space,
    count those exactly, scale by GATE. Completes the distinct-count
    ladder: a6/a12 are exact (full dedup shuffle; salted for hot keys),
    a9 is HLL++ (constant memory but sketch values are engine-specific,
    so its gate asserts a tolerance band around the exact answer) — this
    one is the estimator that is DETERMINISTIC AND ENGINE-PORTABLE: the
    gate is a pure narrow filter, both engines hash identically, and the
    driver hash-compares the estimates themselves, not a tolerance flag.

    Scale shape: the filter cuts dedup-shuffle volume by GATE x before
    any wide operation (at 100 TB with GATE=1024, a trillion-key dedup
    ships ~a billion rows), the per-group distinct on survivors is
    map-side combinable, and the estimate's relative error is
    ~1/sqrt(distinct/GATE) — tune GATE to the accuracy budget. Unlike
    HLL the gated sample also supports ANY downstream per-key analysis
    (join the survivors back), which is why theta sketches power
    set-operation estimates."""
    ev = tbl(spark, sf_dir, "events")
    gated = ev.filter(
        _sp2.phash60(F.col("user_id").cast("string"), seed="theta") % _THETA_GATE
        == 0
    )
    return gated.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("gated_users"),
        (F.countDistinct("user_id") * _THETA_GATE).cast("bigint").alias("est_users"),
    )


# shared by g7 (persisted degree-annotated edges) and g10 (bucketed edges)
_PAGERANK_ORACLE_SQL = """
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), edges AS (
      SELECT s AS src, p + 1000000 AS dst FROM pairs
      UNION ALL
      SELECT p + 1000000 AS src, s AS dst FROM pairs
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), r0 AS (
      SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank FROM deg
    ), i1 AS (
      SELECT e.dst AS node,
             CAST(150000000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
      FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node
      GROUP BY e.dst
    ), i2 AS (
      SELECT e.dst AS node,
             CAST(150000000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
      FROM edges e JOIN deg d ON e.src = d.src JOIN i1 r ON e.src = r.node
      GROUP BY e.dst
    ), i3 AS (
      SELECT e.dst AS node,
             CAST(150000000 + (sum(r.rank // d.deg) * 85) // 100 AS BIGINT) AS rank
      FROM edges e JOIN deg d ON e.src = d.src JOIN i2 r ON e.src = r.node
      GROUP BY e.dst
    )
    SELECT node, rank AS pagerank FROM i3
    """


def _pagerank_edges(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(edges, degrees) of the symmetrized supplier<->part co-occurrence
    graph — the shared setup of g7 (persisted) and g10 (bucketed)."""
    pairs = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = pairs.select(
        F.col("s").alias("src"), (F.col("p") + 1000000).alias("dst")
    ).unionByName(
        pairs.select((F.col("p") + 1000000).alias("src"), F.col("s").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    return edges, deg


def _pagerank_iterate(
    ed: DataFrame, ranks: DataFrame, n_iter: int = 3, co_partition: int | None = None
) -> DataFrame:
    """The 3 fixed-point power iterations shared by g7 and g10 — split out
    so bench.py can time the ITERATION PHASE alone (the claim the bucketed
    layout makes: after the one-time write, the edge set never moves).
    ``co_partition`` re-keys the node-sized rank vector to the edge
    table's bucket count each round; without it EnsureRequirements
    resolves the bucket-count vs shuffle-partitions mismatch by
    re-shuffling the EDGE side (the g10 plan-pinned hazard)."""
    for _ in range(n_iter):
        if co_partition is not None:
            ranks = ranks.repartition(co_partition, "node")
        ranks = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("rank div deg").alias("contrib"))
            .groupBy("dst")
            .agg(
                (F.lit(150000000) + F.expr("(sum(contrib) * 85) div 100")).alias(
                    "rank"
                )
            )
            .select(F.col("dst").alias("node"), "rank")
        )
    return ranks.select("node", F.col("rank").alias("pagerank"))


@register("g7_pagerank_fixedpoint", _PAGERANK_ORACLE_SQL)
def g7_pagerank_fixedpoint(spark, sf_dir):
    """Iterative PageRank (3 power iterations, damping 0.85) over the
    supplier<->part co-occurrence graph, in FIXED-POINT integer
    arithmetic: ranks live in 1e-9 units, per-edge contribution is
    integer division (`div`), damping is ``(x*85) div 100`` — so every
    iteration is exact integer math, bit-identical on any partitioning
    and engine (float PageRank sums in partition order and can never
    hash-match). Edges are symmetrized (s->p and p->s), so every node
    has out-degree >= 1 — no sink-mass term needed.

    Scale shape per iteration: edges JOIN ranks on src (both sides
    partitionable on src — at 100 TB pre-partition/bucket edges by src
    once and every iteration's join is co-located) + one map-side-
    combined sum on dst. Iteration count is fixed; the driver-side loop
    only BUILDS the plan (no data moves through Python). The graph
    mirror of d7's label-propagation connected components; at many more
    iterations, add the same durable checkpoint() d7 uses to cut
    lineage."""
    li = tbl(spark, sf_dir, "lineitem")
    edges, deg = _pagerank_edges(li)
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1000000000).cast("bigint").alias("rank")
    )
    # persist the degree-annotated edge table: every iteration joins it, and
    # without the barrier each of the 3 iterations re-runs the pair-distinct
    # + degree aggregation from the parquet scan (measured 2.5x end-to-end
    # at sf0.1). The production mirror is the bucketed/checkpointed edge
    # table the docstring describes.
    ed = edges.join(deg, "src").persist()  # cache: caller-owns
    return _pagerank_iterate(ed, ranks)


@register("g10_pagerank_bucketed", _PAGERANK_ORACLE_SQL)
def g10_pagerank_bucketed(spark, sf_dir):
    """g7's fixed-point PageRank with the degree-annotated edge table
    WRITTEN ONCE bucketed by the iteration-join key ``src`` — the layout
    g7's docstring promises for 100 TB, demonstrated.

    Every power iteration is ``edges JOIN ranks ON src = node`` followed
    by a map-side-combined sum on dst. g7 persists the edge table, which
    keeps the construction out of the loop but still re-shuffles the
    EDGE side of the join every iteration (the big side: |edges| >>
    |nodes|). Bucketing by src pins the edge side's layout at write
    time: each iteration then shuffles only the node-sized rank vector
    to the edge table's 8 buckets plus the contribution stream into the
    dst aggregate — the two movements power iteration fundamentally
    needs. The plan test asserts NO exchange ever carries the edge
    table (no shuffle keyed on src). Shares g7's oracle: byte-identical
    fixed-point ranks, two physical strategies. At real scale this is
    the difference between moving the edge set 3x per PageRank call and
    never moving it at all after one bucketed write amortized across
    every graph query (g9 shares the layout for triangles).

    Fixture-scale crossover (r8, measured): at sf1 (11.8M edges) the
    iteration phase is PARITY with g7 on local[32] — persisted 1.39s vs
    bucketed 1.60s — because a RAM-resident shuffle on one box costs
    about the same as re-decoding the bucketed parquet per iteration,
    and the dst-sum shuffle both modes pay dominates. Caching the
    bucketed table forfeits the layout (InMemoryRelation drops the
    bucketed outputPartitioning; the src exchange returns). The full
    analysis with numbers lives in bench.py:pagerank_iter_bench; the
    invariant that survives to network-scale clusters (edge table never
    re-keyed) is what the plan test pins."""
    import os as _os

    li = tbl(spark, sf_dir, "lineitem")
    edges, deg = _pagerank_edges(li)
    # per-process scratch: swept + atexit-removed (see scratch_dir)
    tag, scratch = scratch_dir("spark_graft_bucketed", sf_dir)
    tname = f"g10_bkt_edges_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    (
        edges.join(deg, "src")
        .write.format("parquet")
        .bucketBy(8, "src")
        .sortBy("src", "dst")
        .option("path", _os.path.join(scratch, "edges"))
        .mode("overwrite")
        .saveAsTable(tname)
    )
    ed = spark.table(tname)
    ranks = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1000000000).cast("bigint").alias("rank")
    )
    # co_partition=8 re-keys the NODE-SIZED rank vector to the edge
    # table's bucket count each round: without this the previous
    # iteration leaves ranks at Hash(dst, shuffle.partitions) and
    # EnsureRequirements resolves the numPartitions mismatch by
    # re-shuffling the EDGE side up to the larger count — silently
    # forfeiting the bucket layout from iteration 2 on (observed:
    # Exchange hashpartitioning(src, 32) around the bucketed scan).
    # Explicitly co-partitioning the small side is the movement power
    # iteration owes anyway.
    return _pagerank_iterate(ed, ranks, co_partition=8)


@register(
    "p8_csv_source_roundtrip",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def p8_csv_source_roundtrip(spark, sf_dir):
    """CSV source breadth: export orders to headered, pipe-delimited CSV
    and read it back through an EXPLICIT schema (no inferSchema — a
    schema-inference pass doubles the scan at 100 TB), FAILFAST mode (we
    wrote the file; silent row drops would corrupt the oracle compare —
    the reference's pandas CSV reads, Dataset/dataset.py, have no such
    contract). Doubles are pinned to integer cents BEFORE export so the
    value hash never depends on decimal text rendering; dates travel as
    ISO strings into a DATE column. The oracle reads the original
    parquet — so the check proves the CSV hop is lossless.

    Scale shape: CSV write + schema'd read are both narrow per-partition
    streams; the filter pushes to the CSV scan's row group... CSV has no
    row groups — which is the point: the entry documents WHY parquet is
    the resting format (no pushdown, no pruning, full-file parse) while
    proving the engine still speaks CSV at the edges."""
    import os as _os

    orders = tbl(spark, sf_dir, "orders")
    staged = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )
    # per-process scratch: swept + atexit-removed (see scratch_dir)
    _tag, scratch = scratch_dir("spark_graft_csv", sf_dir)
    path = _os.path.join(scratch, "orders")
    (
        staged.write.mode("overwrite")
        .option("header", True)
        .option("delimiter", "|")
        .csv(path)
    )
    schema = "o_orderkey BIGINT, o_custkey BIGINT, order_date DATE, total_cents BIGINT"
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("delimiter", "|")
        .option("mode", "FAILFAST")
        .csv(path)
    )
    return back.filter(F.col("o_orderkey") % 10 == 0)


@register(
    "p9_variant_json",
    """
    SELECT event_id,
           CAST(props->>'k' AS BIGINT) AS k,
           props->>'missing' AS missing_field
    FROM events
    WHERE CAST(props->>'k' AS BIGINT) % 7 = 0
    """,
)
def p9_variant_json(spark, sf_dir):
    """Semi-structured ingestion through Spark 4's VARIANT type:
    ``parse_json`` turns the raw ``props`` payload into a binary variant
    once, then ``variant_get`` extracts typed paths without re-parsing
    the JSON text per field (the reference re-parses with a full
    ``from_json`` + fixed StructType per stream,
    Batch_layer/yfConsumer.py:47 — VARIANT is the schema-flexible path
    for payloads whose keys drift). ``try_variant_get`` on an absent
    path yields NULL instead of failing, mirroring the oracle's
    ``->>'missing'``.

    Scale shape: a narrow per-row projection — no shuffle, no Python;
    variant encode/decode runs JVM-side inside codegen. At 100 TB the
    win over from_json-per-field is one parse per row instead of one
    per extracted column, and variants stored to parquet keep shredded
    column stats for pushdown."""
    ev = tbl(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_field"),
    ).filter(F.col("k") % 7 == 0)


@register(
    "p10_orc_roundtrip",
    """
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem WHERE l_orderkey % 25 = 0
    """,
)
def p10_orc_roundtrip(spark, sf_dir):
    """ORC source/sink breadth (the second columnar format Spark speaks
    natively): stage lineitem to ORC, read it back, and prove the hop is
    lossless against the oracle reading the ORIGINAL parquet. Doubles
    are pinned to integer cents before export (p8's rule) so the value
    hash never depends on float text rendering.

    Unlike the CSV edge (p8), ORC keeps columnar stripes with min/max
    statistics — the read-back filter is eligible for predicate
    pushdown and column pruning exactly like parquet, so an ORC-resident
    dataset at 100 TB scans only the projected columns of the stripes
    that can match."""
    import os as _os

    li = tbl(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    # per-process scratch: swept + atexit-removed (see scratch_dir)
    _tag, scratch = scratch_dir("spark_graft_orc", sf_dir)
    path = _os.path.join(scratch, "lineitem")
    staged.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.filter(F.col("l_orderkey") % 25 == 0)


CHUNK_WORDS = 32
CHUNK_STRIDE = 24


@register(
    "x28_doc_chunking",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE length(text) > 0
    ), s AS (
      SELECT doc_id, w, len(w) AS n,
             unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE})) AS start
      FROM d
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_word,
           CAST(least({CHUNK_WORDS}, n - start) AS INT) AS n_words,
           array_to_string(list_slice(w, start + 1, start + {CHUNK_WORDS}), ' ')
             AS chunk_text
    FROM s
    """,
)
def x28_doc_chunking(spark, sf_dir):
    """RAG-style document chunking: fixed windows of CHUNK_WORDS=32 words
    with stride 24 (8-word overlap so no sentence is orphaned at a chunk
    boundary), each chunk carrying its ordinal, word offset, and width.
    The overlapping-window retrieval shape — distinct from d8's
    non-overlapping 16-word passage windows, whose job is dedup grouping,
    not retrieval context. The reference has no chunking at all (tweets
    are short; FinBERT truncates at 512 tokens, batchPipeline.py:147) —
    this is the op that makes long documents usable by a
    bounded-context encoder.

    Scale shape: split + sequence + posexplode + slice is a single
    narrow pass — no shuffle, no Python, everything inside
    whole-stage codegen. Output size is input x (1/stride overlap
    factor about 1.33); chunk rows inherit the input partitioning so a
    downstream embed step (m9's mapInPandas shape) streams
    batch-by-batch without a repartition."""
    docs = tbl(spark, sf_dir, "documents").filter(F.length("text") > 0)
    d = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("w"),
    ).withColumn("n", F.size("w"))
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
    ch = d.select(
        "doc_id",
        "w",
        "n",
        F.posexplode(starts).alias("chunk_idx", "start_word"),
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        "start_word",
        F.least(F.lit(CHUNK_WORDS), F.col("n") - F.col("start_word"))
        .cast("int")
        .alias("n_words"),
        F.array_join(
            F.slice(F.col("w"), F.col("start_word") + 1, F.lit(CHUNK_WORDS)), " "
        ).alias("chunk_text"),
    )


@register(
    "m10_arrow_group_stats",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           min(CAST(floor(value * 100) AS BIGINT)) AS min_cents,
           max(CAST(floor(value * 100) AS BIGINT)) AS max_cents
    FROM events GROUP BY event_type
    """,
)
def m10_arrow_group_stats(spark, sf_dir):
    """Grouped-map through Spark 4's ``applyInArrow``: per event_type the
    whole group arrives as ONE pyarrow.Table and is reduced with
    vectorized ``pyarrow.compute`` kernels — no pandas materialization
    at all (the ``applyInPandas`` seams, ml/forecast.py:113, pay an
    Arrow->pandas conversion both ways; this is the zero-copy variant
    for numeric reductions). Values are floored to integer cents inside
    the plan BEFORE crossing into Python so the Arrow kernel sums exact
    int64s — order-independent, hash-stable.

    Scale shape: one hash-partition shuffle on the (low-cardinality)
    group key, then per-group Arrow batches; memory is bounded by the
    largest single group. For the five event_type groups here that is
    fine; a high-cardinality key would use the same plan with many
    small groups. A pure-SQL twin of this reduction exists (the oracle)
    — the entry's point is proving the Arrow-native grouped-map seam
    for reductions SQL can NOT express (custom model featurizers),
    bit-exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    def stats(table: pa.Table) -> pa.Table:
        cents = table.column("cents")
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": pa.array([table.num_rows], pa.int64()),
                "sum_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "min_cents": pa.array([pc.min(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    return ev.groupBy("event_type").applyInArrow(
        stats,
        schema=(
            "event_type string, n bigint, sum_cents bigint, "
            "min_cents bigint, max_cents bigint"
        ),
    )


@register(
    "t16_stream_dedup_within_watermark",
    "SELECT DISTINCT user_id, event_type FROM events",
    lazy_replay=True,
)
def t16_stream_dedup_within_watermark(spark, sf_dir):
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    watermark passes its event time + delay, then evicts it — the
    100 TB fix for t13, whose plain ``dropDuplicates`` state grows with
    every key ever seen (the same unbounded-key hazard as the
    reference's ES keyed docs, Speed_layer/twitterConsumerStream.py:94-107).
    Here the delay (10 years) exceeds the fixture's span so nothing is
    evicted mid-replay and the batch DISTINCT oracle is the exact truth;
    in production the delay is the real dedup horizon (e.g. 24h) and
    state is bounded by keys active within it.

    Only the key columns survive to the sink, so the result is
    deterministic regardless of which physical duplicate row wins."""
    from ..streaming.ingest import events_stream

    child = isolated_session(prepare(spark))
    dedup = (
        events_stream(child, sf_dir, n_chunks=2)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(dedup)


@register(
    "j9_record_linkage",
    """
    WITH q AS (
      SELECT p_partkey AS query_key,
             regexp_replace(p_name, '[aeiou]', '', 'g') AS dirty_name
      FROM part WHERE p_partkey % 50 = 0
    ), qq AS (
      SELECT query_key, dirty_name,
             split_part(dirty_name, ' ', 1) AS blk1,
             length(dirty_name) AS blk2
      FROM q
    ), qd AS (
      SELECT DISTINCT dirty_name, blk1, blk2 FROM qq
    ), cd AS (
      SELECT p_name AS matched_name,
             split_part(regexp_replace(p_name, '[aeiou]', '', 'g'), ' ', 1)
               AS blk1,
             length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS blk2,
             min(p_partkey) AS matched_key
      FROM part GROUP BY 1, 2, 3
    ), best AS (
      SELECT dirty_name, matched_key, matched_name, dist FROM (
        SELECT qd.dirty_name, cd.matched_key, cd.matched_name,
               levenshtein(qd.dirty_name, cd.matched_name) AS dist,
               row_number() OVER (
                 PARTITION BY qd.dirty_name
                 ORDER BY levenshtein(qd.dirty_name, cd.matched_name),
                          cd.matched_key
               ) AS rn
        FROM qd JOIN cd USING (blk1, blk2)
      ) WHERE rn = 1
    )
    SELECT qq.query_key, qq.dirty_name,
           best.matched_key, best.matched_name, best.dist
    FROM qq JOIN best USING (dirty_name)
    """,
)
def j9_record_linkage(spark, sf_dir):
    """Entity resolution / record linkage: resolve a 'dirty catalog' query
    set (every 50th part name, deterministically corrupted by stripping
    vowels) against the clean catalog by NORMALIZE-THEN-BLOCK + edit-
    distance verify: both sides block on (first word of the
    vowel-stripped name, stripped length) — keys the corruption provably
    preserves — candidates are the blocked equi-join, and the winner per
    query is the argmin of levenshtein distance with the part key as
    deterministic tiebreaker. No capability in the reference comes close
    — its only join is a clean equi-join (Batch_layer/batchPipeline.py:163).

    Scale contract (the d2/d4 one, learned the hard way): r5 ran
    levenshtein on blocked (query x catalog) ROW pairs, blocked on the
    skeleton's first character — <= 26 blocks forever, so candidates
    grew O(N^2): measured 1.9s at sf0.1 ballooning to 66s at sf1 (10x
    data, ~36x time) the moment the entry entered the bench. The fix is
    structural, not a better block key: distance depends only on the
    STRINGS, so both sides dedup to distinct names first — the catalog
    side as a map-side-combined (name -> min key) agg, which preserves
    the argmin-by-(dist, key) tiebreak exactly because only a name's
    smallest key can ever win — the edit-distance join runs on
    (distinct x distinct) within blocks, and the resulting name -> match
    map (broadcast-sized) joins back to the query rows. Levenshtein
    work is now bounded by the NAME VOCABULARY, independent of corpus
    row count: sf1 66s -> ~0.8s. Blocking keys needing more recall
    (phonetic, q-gram) still slot in as extra blk variants unioned
    before the join.

    The per-name argmin is a packed-struct min AGGREGATE (map-side
    combinable), not a row_number window that would shuffle and sort
    every candidate pair for a single survivor each (the a3 lesson)."""
    part = tbl(spark, sf_dir, "part")
    strip = lambda c: F.regexp_replace(c, "[aeiou]", "")  # noqa: E731
    q = (
        part.filter(F.col("p_partkey") % 50 == 0)
        .select(
            F.col("p_partkey").alias("query_key"),
            strip(F.col("p_name")).alias("dirty_name"),
        )
        .withColumn("blk1", F.substring_index("dirty_name", " ", 1))
        .withColumn("blk2", F.length("dirty_name"))
    )
    qd = q.select("dirty_name", "blk1", "blk2").distinct()
    cd = (
        part.select(
            F.col("p_name").alias("matched_name"),
            F.substring_index(strip(F.col("p_name")), " ", 1).alias("blk1"),
            F.length(strip(F.col("p_name"))).alias("blk2"),
            F.col("p_partkey").alias("matched_key"),
        )
        .groupBy("matched_name", "blk1", "blk2")
        .agg(F.min("matched_key").alias("matched_key"))
    )
    cand = qd.join(cd, ["blk1", "blk2"]).withColumn(
        "dist", F.levenshtein(F.col("dirty_name"), F.col("matched_name"))
    )
    best = cand.groupBy("dirty_name").agg(
        F.min(F.struct("dist", "matched_key", "matched_name")).alias("b")
    )
    return q.select("query_key", "dirty_name").join(best, "dirty_name").select(
        "query_key",
        "dirty_name",
        F.col("b.matched_key").alias("matched_key"),
        F.col("b.matched_name").alias("matched_name"),
        F.col("b.dist").alias("dist"),
    )


def _cooccur_graph_bucketed(spark, sf_dir):
    """Write-once staging of the parts-bought-together graph, shared by
    every graph entry that rides the bucketed layout (g9 triangles, g15
    common neighbors, g17 Adamic-Adar): the support-thresholded
    (co-occurrence >= 2 orders), degree-oriented edge table is written
    ONCE per (fixture, process) bucketed+sorted on the wedge-join key
    ``s`` (count sized by :func:`bucket_count` on the lineitem source),
    plus the node-degree table alongside it. Returns ``(ori, deg)``
    catalog reads.

    This is the g9 docstring's promise made literal: at 100 TB the
    oriented edge table is the big object and the bucketed write is
    amortized across EVERY graph query on it — triangle counts, link
    features, AA scores all start from bucket-aligned scans instead of
    re-running the co-occurrence join + orientation (2 scans + 4
    shuffles) per query.

    Measured honesty (sf1, local[32], warm codegen): the one-time
    staging build is 8.2 s; the amortized probes are then g9 1.6 s /
    g15 1.75 s / g17 1.36 s (median of 3) vs r9's
    3.73 / 5.85 / 5.18 s when each entry rebuilt the graph in its own
    lineage — 14.8 s -> 12.9 s INCLUDING the build on its very first
    session use, and 4.7 s on every session that runs the trio after
    staging (the bench's warmed timed passes measure exactly that
    amortized regime, the d6/d10 production shape). Reuse is catalog-keyed per session and
    staged per (sf-hash, pid) via scratch_dir, so concurrent sessions
    and different fixtures never collide; a second session in the same
    process rebuilds with mode(overwrite) onto its own staging."""
    import os as _os

    tag, scratch = scratch_dir("spark_graft_bucketed", sf_dir)
    tname = f"g_bkt_ori_{tag}"
    dname = f"g_bkt_deg_{tag}"
    if not (spark.catalog.tableExists(tname) and spark.catalog.tableExists(dname)):
        li = tbl(spark, sf_dir, "lineitem")
        pairs = li.select("l_orderkey", "l_partkey").distinct()
        b = pairs.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
        raw = (
            pairs.join(b, (pairs.l_orderkey == b.o) & (pairs.l_partkey < b.v))
            .select(F.col("l_partkey").alias("u"), "v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 2)
            .select("u", "v")
            .persist()  # cache: released-in-fn
        )
        und = raw.unionByName(
            raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = und.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        (
            deg.write.format("parquet")
            .option("path", _os.path.join(scratch, "g_deg"))
            .mode("overwrite")
            .saveAsTable(dname)
        )
        degt = spark.table(dname)
        du = degt.select(F.col("node").alias("u"), F.col("d").alias("du"))
        dv = degt.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        ranked = raw.join(du, "u").join(dv, "v")
        u_first = F.struct("du", "u") < F.struct("dv", "v")
        ori = ranked.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        _nb = bucket_count(spark, sf_dir, "lineitem")
        (
            # bucket-aligned exchange before the bucketed write (guide §6
            # output sizing): HashPartitioning and bucketBy share the
            # murmur3-pmod formula, so each write task holds whole buckets
            # -> exactly _nb files instead of tasks x _nb KB-fragments from
            # the wide co-occurrence shuffle upstream. The g9/g15/g17
            # probes re-open this table every run; r13 interleaved A/B:
            # g9 0.92 s -> 0.47 s median. (The same change measured as a
            # pure LOSS at the d10/j8/g10 write sites, whose upstream is
            # already hash-partitioned on the bucket key -- there the
            # extra exchange buys nothing; left naive, see
            # OPTIMIZATION_r13.md.)
            ori.repartition(_nb, "s")
            .write.format("parquet")
            .bucketBy(_nb, "s")
            .sortBy("s", "t")
            .option("path", _os.path.join(scratch, "g_ori"))
            .mode("overwrite")
            .saveAsTable(tname)
        )
        raw.unpersist()
    return spark.table(tname), spark.table(dname)


# shared by g8 (persisted edges) and g9 (bucketed edges): same graph, same
# answer, two physical strategies
_TRIANGLE_ORACLE_SQL = """
    -- AS MATERIALIZED throughout: with inlined CTEs DuckDB re-plans tri
    -- per reference and (without cardinality knowledge) can pick the
    -- hub-on-hub t=t join first — measured spilling >80 GB of temp at
    -- 10x scale. Materialization pins one execution per stage, the
    -- exact analogue of the Spark side's staged DataFrames.
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    raw AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM pairs a JOIN pairs b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM raw UNION ALL SELECT v AS u, u AS v FROM raw),
    deg AS MATERIALIZED (SELECT u AS node, count(*) AS d FROM und GROUP BY u),
    ori AS MATERIALIZED (
      SELECT CASE WHEN (du.d, r.u) < (dv.d, r.v) THEN r.u ELSE r.v END AS s,
             CASE WHEN (du.d, r.u) < (dv.d, r.v) THEN r.v ELSE r.u END AS t
      FROM raw r
      JOIN deg du ON du.node = r.u
      JOIN deg dv ON dv.node = r.v
    ),
    tri AS MATERIALIZED (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM ori e1
      JOIN ori e2 ON e1.s = e2.s AND e1.t <> e2.t
      JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t
    )
    SELECT node, count(*) AS n_tri FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY node
    """


@register("g8_triangle_count", _TRIANGLE_ORACLE_SQL)
def g8_triangle_count(spark, sf_dir):
    """Per-node triangle counting over the parts-bought-together graph
    (parts co-occurring in >= 2 orders — an association-rule SUPPORT
    threshold, because a raw co-occurrence projection of a transaction
    table is structurally dense: at 10x scale the unthresholded graph
    averages degree ~1200 and wedge enumeration goes to billions;
    support >= 2 sparsifies it to the statistically meaningful edges),
    using DEGREE ORDERING — the trick that makes distributed triangle
    enumeration survive skew: every undirected edge is directed from
    its lower-(degree, id) endpoint to the higher one, so a celebrity
    node with degree d contributes wedges only through its few
    lower-degree out-edges, bounding total wedges by O(m^1.5) instead
    of sum(d^2) (naive wedge counting on a hub node is quadratic in
    its degree — the same hot-key blowup the salted entries j5/a7
    exist for, solved structurally here). Completes d7 (components)
    and g7 (PageRank) as the graph battery.

    Scale shape: the support threshold is one map-side-combined
    count agg; then three equi-joins (wedge build on shared source +
    closing-edge hash probe). All joins key on node ids so the edge
    table buckets once and every stage co-locates. (deg, id) tuple
    ordering makes the orientation — and so the exact wedge set —
    deterministic on any partitioning."""
    li = tbl(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_partkey").distinct()
    b = pairs.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    # persist the support-thresholded edge table and the oriented edges:
    # raw feeds three consumers (both halves of the symmetrized degree
    # count + the orientation join) and ori feeds all three legs of the
    # wedge join — without the barriers each consumer replays the
    # distinct + co-occurrence join + support agg from the scan (the g7
    # edge-persist pattern; ~10% end-to-end at sf0.1 where ReuseExchange
    # already dedupes most of the replay, but the barrier is what keeps
    # the co-occurrence join from ever running more than once when the
    # graph is big enough that the reused exchange spills)
    raw = (
        pairs.join(b, (pairs.l_orderkey == b.o) & (pairs.l_partkey < b.v))
        .select(F.col("l_partkey").alias("u"), "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("u", "v")
        .persist()  # cache: caller-owns
    )
    und = raw.unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = raw.join(du, "u").join(dv, "v")
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    ori = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).persist()  # cache: caller-owns
    e1 = ori.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = ori.select(F.col("s").alias("a2"), F.col("t").alias("c"))
    e3 = ori.select(F.col("s").alias("b3"), F.col("t").alias("c3"))
    tri = (
        e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("b") != F.col("c")))
        .join(e3, (F.col("b3") == F.col("b")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )
    # one corner row per triangle vertex via explode — NOT a 3-way union
    # of projections, which re-plans (and re-executes) the whole wedge
    # join once per branch (measured: the union tripled the join subtree
    # in the physical plan; the oracle's UNION ALL is free because its
    # tri CTE is MATERIALIZED)
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


@register("g9_triangle_count_bucketed", _TRIANGLE_ORACLE_SQL)
def g9_triangle_count_bucketed(spark, sf_dir):
    """g8's triangle count with the oriented edge table WRITTEN ONCE
    bucketed by its wedge-join key instead of session-persisted — the
    layout that makes iterated self-joins co-locate at cluster scale.

    g8's returned plan carries the whole edge construction in lineage
    (250 exchanges at sf0.001, heaviest plan in the registry), and every
    wedge-join leg re-shuffles the SAME oriented edge table on the SAME
    key s. Here the support threshold + degree orientation run once into
    a ``bucketBy(8, s)`` parquet table (the j8 layout), so:

    - e1 |><| e2 on s = s reads two bucket-aligned scans — ZERO exchange
      on either side (asserted in tests/test_plan_quality.py);
    - e3's side of the closing-edge join is satisfied by its bucket
      layout (HashPartitioning(s) clusters the (s, t) key), so only the
      wedge stream shuffles — the one shuffle the algorithm genuinely
      needs, since wedges are keyed by a different node than their
      center.

    At 100 TB this is the difference between re-shuffling the edge set
    three times per query (or per PageRank iteration — g7 shares the
    layout) and paying one bucketed write amortized across every graph
    query on the table — made literal since r10: the staged table
    (:func:`_cooccur_graph_bucketed`) is SHARED with g15/g17, so in any
    session that runs more than one graph query the write really is
    paid once. Same oracle as g8: byte-identical answers, two physical
    strategies."""
    t, _deg = _cooccur_graph_bucketed(spark, sf_dir)
    e1 = t.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = t.select(F.col("s").alias("a2"), F.col("t").alias("c"))
    e3 = t.select(F.col("s").alias("b3"), F.col("t").alias("c3"))
    tri = (
        e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("b") != F.col("c")))
        .join(e3, (F.col("b3") == F.col("b")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )
    # one corner row per triangle vertex via explode — NOT a 3-way union
    # of projections, which re-plans (and re-executes) the whole wedge
    # join once per branch (measured: the union tripled the join subtree
    # in the physical plan; the oracle's UNION ALL is free because its
    # tri CTE is MATERIALIZED)
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


@register(
    "p11_schema_evolution",
    """
    SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS priority_code
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderkey % 5 AS priority_code
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def p11_schema_evolution(spark, sf_dir):
    """Parquet schema evolution: a dataset written in two generations —
    the old writer emits (o_orderkey, o_custkey), the new writer adds a
    priority_code column — read back as ONE table with
    ``mergeSchema=true``; rows from old files surface the new column as
    NULL. The append-only master datasets of the reference
    (news_master, Batch_layer/twitterConsumer.py:61) face exactly this
    when a producer adds a field; ES absorbs it by being schemaless,
    a lakehouse absorbs it with merged parquet footers.

    Scale shape: schema merge is a FOOTER-level operation (one small
    read per file at planning time; spark.sql.parquet.mergeSchema
    itself warns this is O(files) — which is why it's off by default
    and a production table pins the merged schema in a catalog). Data
    reading stays columnar with pushdown; old files simply have no
    pages for the new column and materialize NULLs for free."""
    import os as _os

    orders = tbl(spark, sf_dir, "orders")
    # per-process scratch: swept + atexit-removed (see scratch_dir)
    _tag, scratch = scratch_dir("spark_graft_evo", sf_dir)
    path = _os.path.join(scratch, "orders")
    old_gen = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    new_gen = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % 5).alias("priority_code"),
    )
    old_gen.write.mode("overwrite").parquet(_os.path.join(path, "gen=old"))
    new_gen.write.mode("overwrite").parquet(_os.path.join(path, "gen=new"))
    back = spark.read.option("mergeSchema", True).parquet(
        _os.path.join(path, "gen=old"), _os.path.join(path, "gen=new")
    )
    return back.select("o_orderkey", "o_custkey", "priority_code")


@register(
    "u4_table_diff",
    """
    WITH old_t AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ), new_t AS (
      SELECT o_orderkey AS k, o_custkey,
             CASE WHEN o_orderkey % 13 = 0
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_cents
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 53 = 0
    )
    SELECT COALESCE(o.k, n.k) AS k,
           CASE WHEN o.k IS NULL THEN 'added'
                WHEN n.k IS NULL THEN 'removed'
                WHEN o.o_custkey <> n.o_custkey
                     OR o.price_cents <> n.price_cents THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.price_cents AS old_price_cents,
           n.price_cents AS new_price_cents
    FROM old_t o FULL OUTER JOIN new_t n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL
       OR o.o_custkey <> n.o_custkey OR o.price_cents <> n.price_cents
    """,
)
def u4_table_diff(spark, sf_dir):
    """Snapshot diff (CDC-style table comparison): given two versions of
    a keyed table, emit every added / removed / changed row with old and
    new values — the audit primitive behind incremental view
    maintenance and data-quality gates (the reference overwrites its
    batch_view blind every day, Batch_layer/batchPipeline.py:169-180;
    a diff is how you KNOW what a rebuild changed). The 'new' version
    here is derived deterministically in-plan (drops keys % 97, bumps
    price on keys % 13, adds shifted keys % 53) so both engines diff
    identical snapshots.

    Scale shape: ONE full-outer equi-join on the key — both sides
    hash-partition on k, so with both snapshots bucketed on the key
    (the j8 layout) the diff is exchange-free; unchanged rows are
    filtered before the sink so output is proportional to churn, not
    table size. Change classification is pure Column logic in codegen."""
    orders = tbl(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    old_t = orders.select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        cents.alias("price_cents"),
    )
    new_t = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            F.when(F.col("o_orderkey") % 13 == 0, cents + 500)
            .otherwise(cents)
            .alias("price_cents"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 53 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("k"),
                "o_custkey",
                cents.alias("price_cents"),
            )
        )
    )
    o = old_t.alias("o")
    n = new_t.alias("n")
    j = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
    changed = (F.col("o.o_custkey") != F.col("n.o_custkey")) | (
        F.col("o.price_cents") != F.col("n.price_cents")
    )
    status = (
        F.when(F.col("o.k").isNull(), F.lit("added"))
        .when(F.col("n.k").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
            status.alias("status"),
            F.col("o.price_cents").alias("old_price_cents"),
            F.col("n.price_cents").alias("new_price_cents"),
        )
        .filter(F.col("status") != "unchanged")
    )


@register(
    "s12_ann_ivfpq_adc",
    _sim.topk_ivfpq_adc_sql("embeddings", "vec_id % 50 = 0", k=5),
)
def s12_ann_ivfpq_adc(spark, sf_dir):
    """IVF-PQ with asymmetric-distance scoring
    (ext/similarity.py:topk_ivfpq_adc) — the product-quantization serving
    shape: four 16-dim subspace codebooks trained by the deterministic
    Lloyd procedure, the corpus stored as 4 codes per vector (64x memory
    reduction), queries building a 4x16 distance LUT once and scoring
    every cell-probed candidate with 4 array lookups instead of a 64-dim
    fold. Completes the ANN family: s1 exact, s2/s6 coarse-only,
    s4/s8 int8, s10 random projection, s12 PQ — the quantization
    ladder a 100 TB vector corpus actually descends. Training, encoding,
    LUT, probe, and ranking are all deterministic, so the identical
    procedure in SQL is the oracle."""
    emb = tbl(spark, sf_dir, "embeddings")
    return _sim.topk_ivfpq_adc(emb, emb.filter(F.col("vec_id") % 50 == 0), k=5)


