"""Technical indicators, factor models, pipeline funnel.

Mechanically split from plans/registry.py (r12): entry bodies moved
verbatim, registration order preserved by the facade import sequence,
names unchanged."""

from __future__ import annotations

from ..ext import export as _ex
from ..ext import text as _tx
from ..ext.hashing import phash60, phash60_sql
from ..session import prepare
from ..streaming.replay import run_foreach_batch, staged_stream
from pyspark.sql import functions as F
from .registry_base import ORACLES, register, scratch_dir, tbl
from .registry_corpus import _cooccur_graph_bucketed, _split_col, _split_sql
from .registry_sketch import HLL_M, HLL_NUM

# ---------------------------------------------------------------------------
# r9: technical-indicator + factor-model batch operators
# ---------------------------------------------------------------------------


@register(
    "f14_bollinger_breakout",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT series, day, close_c,
             sum(close_c)           OVER w AS s20,
             sum(close_c * close_c) OVER w AS ss20,
             count(*)               OVER w AS n
      FROM c
      WINDOW w AS (PARTITION BY series ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT series, day, close_c,
           CAST(s20 AS BIGINT) AS s20, CAST(ss20 AS BIGINT) AS ss20,
           CAST(CASE WHEN n * close_c > s20
                      AND (n * close_c - s20) * (n * close_c - s20)
                          > 4 * (n * ss20 - s20 * s20)
                     THEN 1 ELSE 0 END AS INTEGER) AS above_upper,
           CAST(CASE WHEN n * close_c < s20
                      AND (s20 - n * close_c) * (s20 - n * close_c)
                          > 4 * (n * ss20 - s20 * s20)
                     THEN 1 ELSE 0 END AS INTEGER) AS below_lower
    FROM r WHERE n = 20
    """,
)
def f14_bollinger_breakout(spark, sf_dir):
    """Bollinger-band breakout flags (20-day, 2 sigma) per series — the
    volatility-band screen that consumes exactly the daily-close series
    the engine's batch view maintains (reference: Batch_layer/
    stockBatch.py's OHLC rows; f12's RSI is the momentum twin). The
    textbook test ``close > mean + 2*stddev`` is a float sqrt — refused
    on hash-stability grounds (the m9/f12 rule).  Both band tests are
    instead cross-multiplied into EXACT integer inequalities over the
    rolling sum S and sum-of-squares SS of cent closes:

        close > S/n + 2*sqrt((n*SS - S^2))/n
          <=>  n*close > S  AND  (n*close - S)^2 > 4*(n*SS - S^2)

    (squaring is valid exactly because the sign test rides along; the
    variance numerator n*SS - S^2 is the n^2-scaled population variance,
    nonnegative by Cauchy-Schwarz).  Magnitudes: cents < 2^17, n = 20,
    so (n*close)^2 < 2^44 and 4*n*SS < 2^49 — int64-exact with 14 bits
    to spare.  Warm-up rows (n < 20) are excluded, the f12 discipline.

    Shape: one per-(series, day) hash agg for closes (map-side combined,
    the f6 (ts,v)-struct argmax), then ONE window partitioned by series
    computing both rolling sums — Catalyst fuses them into a single
    sort+window over a 30-row-per-series relation.  At 100 TB the agg
    collapses the tick stream before the window ever sorts: window state
    is bounded by series count x 20 rows, never by tick volume."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = (
        ev.select(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("day"),
            F.struct(F.col("ts").alias("t"), cents.alias("v")).alias("s"),
        )
        .groupBy("series", "day")
        .agg(F.max("s")["v"].alias("close_c"))
    )
    w20 = Window.partitionBy("series").orderBy("day").rowsBetween(-19, 0)
    r = c.select(
        "series",
        "day",
        "close_c",
        F.sum("close_c").over(w20).alias("s20"),
        F.sum(F.col("close_c") * F.col("close_c")).over(w20).alias("ss20"),
        F.count(F.lit(1)).over(w20).alias("n"),
    ).filter(F.col("n") == 20)
    dev = F.col("n") * F.col("close_c") - F.col("s20")
    var_n2 = F.col("n") * F.col("ss20") - F.col("s20") * F.col("s20")
    return r.select(
        "series",
        "day",
        "close_c",
        F.col("s20").cast("bigint").alias("s20"),
        F.col("ss20").cast("bigint").alias("ss20"),
        F.when((dev > 0) & (dev * dev > 4 * var_n2), 1)
        .otherwise(0)
        .cast("int")
        .alias("above_upper"),
        F.when((dev < 0) & (dev * dev > 4 * var_n2), 1)
        .otherwise(0)
        .cast("int")
        .alias("below_lower"),
    )


@register(
    "f15_capm_beta",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT series, day,
             close_c - lag(close_c) OVER (PARTITION BY series ORDER BY day)
               AS ret_c
      FROM c
    ), rr AS (SELECT * FROM r WHERE ret_c IS NOT NULL),
    mkt AS (
      SELECT day, CAST(sum(ret_c) AS BIGINT) AS m FROM rr GROUP BY 1
    ), j AS (
      SELECT rr.series, rr.ret_c AS y, mkt.m AS x
      FROM rr JOIN mkt USING (day)
    ), s AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM j GROUP BY 1
    )
    SELECT series, n, sx, sy, sxy, sxx,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE) AS beta
    FROM s WHERE n * sxx - sx * sx <> 0
    """,
)
def f15_capm_beta(spark, sf_dir):
    """CAPM beta per series against the equal-weight market factor — the
    one-factor regression slope every risk model starts from, computed
    over the same daily-close cent series as f12/f14.  "Return" here is
    the lagged cent DIFF (not the log/pct return: those are floats whose
    cross-engine rounding flaps the hash gate; the absolute-diff factor
    regression is the standard exactness compromise, documented), and
    the market factor is the cross-sectional SUM of all series' diffs
    per day — itself an exact BIGINT.

    beta = cov(y,x)/var(x) is cross-multiplied to the exact integer pair
        num = n*Sxy - Sx*Sy,   den = n*Sxx - Sx^2
    with ONE correctly-rounded double division at the output boundary
    (the a15/f7 discipline); the five sufficient statistics ride along
    so the oracle pins the exact state, not just the quotient.  Bounds:
    |diff| < 2^17, market sum over 5 series < 2^20, so Sxy < 30*2^37 and
    n*Sxy < 2^47 — int64-exact.  Degenerate zero-variance series are
    excluded by the den <> 0 guard on the EXACT integer (a float
    epsilon-test would be engine-dependent).

    Shape: closes collapse in one map-side-combined hash agg; the lag is
    one window over 30 rows/series; the market factor is a 30-row agg
    broadcast back onto per-series returns (day join, broadcast-hash by
    size); the sufficient statistics are one final hash agg keyed by
    series.  At 100 TB: tick->close aggregation dominates and is fully
    map-side combinable; everything after operates on rows = series x
    days, cluster-trivial."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = (
        ev.select(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("day"),
            F.struct(F.col("ts").alias("t"), cents.alias("v")).alias("s"),
        )
        .groupBy("series", "day")
        .agg(F.max("s")["v"].alias("close_c"))
    )
    wd = Window.partitionBy("series").orderBy("day")
    rr = c.select(
        "series", "day", (F.col("close_c") - F.lag("close_c").over(wd)).alias("ret_c")
    ).filter(F.col("ret_c").isNotNull())
    mkt = rr.groupBy("day").agg(F.sum("ret_c").cast("bigint").alias("m"))
    j = rr.join(F.broadcast(mkt), "day").select(
        "series", F.col("ret_c").alias("y"), F.col("m").alias("x")
    )
    s = j.groupBy("series").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter(den != 0).select(
        "series",
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        (num.cast("double") / den.cast("double")).alias("beta"),
    )


@register(
    "a29_bitmap_distinct",
    """
    WITH b AS (
      SELECT event_type,
             user_id // 62 AS word_idx,
             bit_or((1::BIGINT) << CAST(user_id % 62 AS INTEGER)) AS word
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(bit_count(word)) AS BIGINT) AS distinct_bitmap
      FROM b GROUP BY 1
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT s.event_type, s.n_words, s.distinct_bitmap, ex.exact_distinct
    FROM s JOIN ex USING (event_type)
    """,
)
def a29_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via word-sliced bitmaps (the Roaring-
    bitmap design, flattened to SQL) — the third point on the engine's
    cardinality spectrum: a9/a20 are sketches (fixed error), a6/a12 are
    exact-by-shuffling-keys; this is exact-by-shuffling-BITS.  Dense
    integer id spaces (user ids, order keys, dictionary-encoded dims)
    pack 62 presence bits per BIGINT word: word_idx = id div 62, bit =
    id mod 62, per-word presence = bit_or(1 << bit) — an agg whose
    partial state is MERGEABLE BY OR across partitions (the t17
    algebraic-state contract), so the shuffle carries ceil(|id-space|
    / 62) words per group instead of one row per distinct id: a 62x
    reduction on dense spaces, and the words land pre-combined by the
    map side.  The count is then sum(bit_count(word)) — population
    count, exact, no estimate.  62 (not 64) bits per word keeps every
    shifted value strictly positive: Spark's shiftleft and DuckDB's <<
    agree on sign-bit-free shifts unconditionally, so the word VALUES
    themselves hash-gate (the sketch state, not just the count; the
    a20 rule).  Ids must be NONNEGATIVE: div/mod semantics on
    negatives differ across engines (Spark truncates, DuckDB floors) —
    offset-map signed id spaces before bitmapping, the same contract
    every bitmap index imposes.  exact_distinct rides along as the invariant yardstick
    (bitmap count == countDistinct, proven per group by the oracle).

    At 100 TB: this is the segment-local bitmap index every OLAP store
    builds (word_idx doubles as the segment key); set ALGEBRA —
    audience intersection/union — becomes word-wise AND/OR joins on
    word_idx, never a re-shuffle of raw ids (a30 is the sparse/
    unbounded-id-space counterpart)."""
    ev = tbl(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.expr("user_id div 62").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(1L, cast(user_id % 62 as int))")
        ).alias("word")
    )
    s = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.bit_count("word")).cast("bigint").alias("distinct_bitmap"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return s.join(ex, "event_type")


KMV_K = 64  # sketch size; relative error ~ 1/sqrt(64) = 12.5%
KMV_NUM = float(KMV_K - 1) * float(1 << 60)  # (k-1) * hash-space size


@register(
    "a30_kmv_setops",
    f"""
    WITH d AS (
      SELECT DISTINCT event_type,
             {phash60_sql("CAST(user_id AS VARCHAR)", seed="kmv")} AS h
      FROM events
    ), sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM d) WHERE rn <= {KMV_K}
    ), t AS (SELECT DISTINCT event_type FROM sk),
    p AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM t a JOIN t b ON a.event_type < b.event_type
    ), u AS (
      SELECT p.ta, p.tb, s.h, 0 AS side
      FROM p JOIN sk s ON s.event_type = p.ta
      UNION ALL
      SELECT p.ta, p.tb, s.h, 1 AS side
      FROM p JOIN sk s ON s.event_type = p.tb
    ), memb AS (
      SELECT ta, tb, h, count(*) AS n_sides FROM u GROUP BY 1, 2, 3
    ), x AS (
      SELECT * FROM (
        SELECT ta, tb, h, n_sides,
               row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
        FROM memb) WHERE rn <= {KMV_K}
    ), agg AS (
      SELECT ta, tb, CAST(max(h) AS BIGINT) AS hk_union,
             CAST(count(*) AS BIGINT) AS kx,
             CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS matches
      FROM x GROUP BY 1, 2
    ), est AS (
      SELECT ta, tb, hk_union, kx, matches,
             CASE WHEN kx >= {KMV_K}
                  THEN {KMV_NUM!r} / CAST(hk_union AS DOUBLE)
                  ELSE CAST(kx AS DOUBLE) END AS union_est
      FROM agg
    ), ex1 AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), eu AS (SELECT DISTINCT event_type, user_id FROM events),
    exi AS (
      SELECT p.ta, p.tb, CAST(count(*) AS BIGINT) AS exact_inter
      FROM p
      JOIN eu ea ON ea.event_type = p.ta
      JOIN eu eb ON eb.event_type = p.tb AND eb.user_id = ea.user_id
      GROUP BY 1, 2
    )
    SELECT e.ta, e.tb, e.hk_union, e.kx, e.matches,
           CAST(e.union_est AS DOUBLE) AS union_est,
           CAST(CAST(e.matches AS DOUBLE) / CAST(e.kx AS DOUBLE)
                * e.union_est AS DOUBLE) AS inter_est,
           CAST(na.n + nb.n - x.exact_inter AS BIGINT) AS exact_union,
           x.exact_inter
    FROM est e
    JOIN exi x ON x.ta = e.ta AND x.tb = e.tb
    JOIN ex1 na ON na.event_type = e.ta
    JOIN ex1 nb ON nb.event_type = e.tb
    """,
)
def a30_kmv_setops(spark, sf_dir):
    """K-minimum-values sketch SET ALGEBRA (Beyer et al., the theta-
    sketch family's exact-arithmetic core) — distinct counts for
    audience UNIONS and INTERSECTIONS no single pre-aggregation can
    answer: a20's HLL merges by register max (union only); KMV sketches
    compose for both, which is why warehouse audience-overlap stacks
    (Theta/Tuple sketches) are built on them.  Per set keep the K=64
    smallest values of the shared 60-bit hash over distinct members;
    then for any pair, the K smallest of the two sketches' union IS the
    KMV sketch of the set union (each side's sketch contains the k
    union-minima it owns — the closure property, and the whole reason
    the combine needs only the 2K sketch rows, never the raw sets).
    Estimators, kept hash-gateable: union_est = (K-1)*2^60 / h_K as ONE
    double division of a shared double literal by the exact integer
    K-th minimum (the a20 discipline — no pow/ln); jaccard = matches/K
    over hashes present in BOTH side sketches among the union-minima
    (the standard combined-sketch estimator), and inter_est composes
    the two in a fixed IEEE op order both engines round identically.
    Sub-K unions (|A u B| < K: the sketch IS the set) fall back to the
    exact kx count — the textbook KMV small-set rule, decided on the
    exact integer kx, never a float test.  Exact union/intersection
    ride along as yardsticks.

    Scale shape: sketch build is distinct + one per-type TOP-K — here a
    window row_number over the per-type DISTINCT hash stream (cheap:
    rows = distinct members, already collapsed); at 100 TB you'd swap
    the window for a partial top-K agg, but the CONTRACT — K rows per
    set leave the build — is the point: every pairwise overlap after
    that touches 2K = 128 rows per pair, so a 10^4-segment overlap
    matrix costs 10^8/2 sketch-row comparisons, not a single raw-data
    re-shuffle (the a29 bitmap is the dense-id twin; this one never
    needs the id space bounded)."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        phash60(F.col("user_id").cast("string"), seed="kmv").alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h")
    )
    t = sk.select("event_type").distinct()
    p = (
        t.alias("a")
        .crossJoin(t.alias("b"))
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
    )
    ua = p.join(F.broadcast(sk).alias("s"), F.col("s.event_type") == F.col("ta")).select(
        "ta", "tb", "h", F.lit(0).alias("side")
    )
    ub = p.join(F.broadcast(sk).alias("s"), F.col("s.event_type") == F.col("tb")).select(
        "ta", "tb", "h", F.lit(1).alias("side")
    )
    memb = ua.unionAll(ub).groupBy("ta", "tb", "h").agg(
        F.count(F.lit(1)).alias("n_sides")
    )
    wp = Window.partitionBy("ta", "tb").orderBy("h")
    x = memb.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= KMV_K)
    agg = x.groupBy("ta", "tb").agg(
        F.max("h").cast("bigint").alias("hk_union"),
        F.count(F.lit(1)).cast("bigint").alias("kx"),
        F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("matches"),
    )
    est = agg.withColumn(
        "union_est",
        F.when(
            F.col("kx") >= KMV_K, F.lit(KMV_NUM) / F.col("hk_union").cast("double")
        ).otherwise(F.col("kx").cast("double")),
    )
    ex1 = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n")
    )
    eu = ev.select("event_type", "user_id").distinct()
    exi = (
        p.join(eu.alias("ea"), F.col("ea.event_type") == F.col("ta"))
        .join(
            eu.alias("eb"),
            (F.col("eb.event_type") == F.col("tb"))
            & (F.col("eb.user_id") == F.col("ea.user_id")),
        )
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    return (
        est.join(exi, ["ta", "tb"])
        .join(F.broadcast(ex1).alias("na"), F.col("na.event_type") == F.col("ta"))
        .join(F.broadcast(ex1).alias("nb"), F.col("nb.event_type") == F.col("tb"))
        .select(
            "ta",
            "tb",
            "hk_union",
            "kx",
            "matches",
            F.col("union_est").cast("double").alias("union_est"),
            (
                F.col("matches").cast("double")
                / F.col("kx").cast("double")
                * F.col("union_est")
            )
            .cast("double")
            .alias("inter_est"),
            (F.col("na.n") + F.col("nb.n") - F.col("exact_inter"))
            .cast("bigint")
            .alias("exact_union"),
            "exact_inter",
        )
    )


@register(
    "w20_cusum_changepoint",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS ss
      FROM c GROUP BY 1
    ), cu AS (
      SELECT c.series, c.day, c.cnt,
             t.n * sum(c.cnt) OVER (PARTITION BY c.series ORDER BY c.day)
               - row_number() OVER (PARTITION BY c.series ORDER BY c.day) * t.s
               AS d_t,
             t.n * t.ss - t.s * t.s AS v
      FROM c JOIN tot t USING (series)
    ), sc AS (
      SELECT series, day, cnt, CAST(d_t AS BIGINT) AS d_t,
             d_t * d_t AS d2, v,
             min(struct_pack(nd2 := -(d_t * d_t), d := day))
               OVER (PARTITION BY series) AS best
      FROM cu
    )
    SELECT series, day, cnt, d_t,
           CAST(CASE WHEN d2 > 4 * v THEN 1 ELSE 0 END AS INTEGER)
             AS beyond_2sigma,
           CAST(CASE WHEN best.nd2 = -d2 AND best.d = day THEN 1 ELSE 0 END
                AS INTEGER) AS is_changepoint
    FROM sc
    """,
)
def w20_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection over the per-series daily volume
    series — the drift monitor a 100 TB ingestion pipeline runs beside
    m16's distribution-drift check: m16 answers "did the VALUE mix
    shift", this answers "WHEN did the RATE shift".  Classic offline
    CUSUM: D_t = prefix_t - t*mean, spikes where the series departs its
    global mean, and argmax|D_t| is the maximum-likelihood single
    change point (Page's statistic).  Exactness discipline: mean = S/n
    never materializes — everything is scaled by n, so D_t = n*prefix_t
    - t*S stays an exact BIGINT (the f14 cross-multiplication rule),
    and the 2-sigma band test squares it against the n^2-scaled
    variance numerator V = n*SS - S^2: |D_t| > 2*n*sigma <=> D_t^2 >
    4V, integers end to end (bounds: daily counts < 2^20 at sf1, so
    D^2 < 2^50).  The change-point argmax carries the (d^2, day)
    struct through a per-series window MIN on (-d^2, day) — largest
    excursion, EARLIEST day on ties, the registry's struct-argmax
    determinism rule (a bare max would tie-flap the hash gate).

    Shape: the tick stream collapses in one map-side-combined (series,
    day) count agg; the per-series totals are a 5-row broadcast join;
    prefix sums, the row counter, and the argmax share ONE per-series
    sort+window pass (Catalyst fuses all three).  Window state is
    bounded by days-per-series, never ticks — the f12/f14 contract."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    c = (
        ev.groupBy(F.col("event_type").alias("series"), F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = c.groupBy("series").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("ss"),
    )
    wo = Window.partitionBy("series").orderBy("day")
    cu = c.join(F.broadcast(tot), "series").select(
        "series",
        "day",
        "cnt",
        (
            F.col("n") * F.sum("cnt").over(wo)
            - F.row_number().over(wo) * F.col("s")
        ).alias("d_t"),
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias("v"),
    )
    d2 = F.col("d_t") * F.col("d_t")
    sc = cu.select(
        "series",
        "day",
        "cnt",
        F.col("d_t").cast("bigint").alias("d_t"),
        d2.alias("d2"),
        "v",
        F.min(F.struct((-d2).alias("nd2"), F.col("day").alias("d")))
        .over(Window.partitionBy("series"))
        .alias("best"),
    )
    return sc.select(
        "series",
        "day",
        "cnt",
        "d_t",
        F.when(F.col("d2") > 4 * F.col("v"), 1)
        .otherwise(0)
        .cast("int")
        .alias("beyond_2sigma"),
        F.when(
            (F.col("best.nd2") == -F.col("d2")) & (F.col("best.d") == F.col("day")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_changepoint"),
    )


@register(
    "m18_naive_bayes",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_tx.tokens_sql('text')}) AS token
      FROM documents
    ), ctc AS (
      SELECT lang AS c, token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2
    ), nc AS (
      SELECT lang AS c, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1
    ), v AS (
      SELECT CAST(count(DISTINCT token) AS BIGINT) AS vs FROM tok
    ), cls AS (SELECT c, n_tok, vs FROM nc CROSS JOIN v),
    sc AS (
      SELECT t.doc_id, t.lang, cls.c,
             CAST(sum(length(bin((cls.n_tok + cls.vs) * (cls.n_tok + cls.vs)))
                      - length(bin((coalesce(ctc.cnt, 0) + 1)
                                   * (coalesce(ctc.cnt, 0) + 1))))
                  AS BIGINT) AS s
      FROM tok t CROSS JOIN cls
      LEFT JOIN ctc ON ctc.c = cls.c AND ctc.token = t.token
      GROUP BY 1, 2, 3
    ), pri AS (
      SELECT lang AS c, CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY 1
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS td FROM documents),
    best AS (
      SELECT sc.doc_id, sc.lang,
             min(struct_pack(
               s := sc.s + length(bin(tot.td * tot.td))
                         - length(bin(pri.nd * pri.nd)),
               c := sc.c)) AS b
      FROM sc JOIN pri ON pri.c = sc.c CROSS JOIN tot
      GROUP BY 1, 2
    )
    SELECT lang AS lang_true, b.c AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.s) AS BIGINT) AS sum_score_hb
    FROM best GROUP BY 1, 2
    """,
)
def m18_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier — TRAINED AND SCORED
    entirely in aggregations (the from-first-principles twin of x6's
    rule-based language id, and the standing proof that the classic
    text-classification baseline needs no ML runtime: training is ONE
    (class, token) count agg, the model is a table, inference is a join).
    Train-on-corpus/score-on-corpus makes it a model-fit AUDIT like
    m15's autolabel check; the confusion matrix is the output.

    Exactness: argmax_c [log P(c) + sum log P(t|c)] becomes argmin of
    SURPRISAL in half-bit integer units — every Laplace-smoothed
    probability (cnt+1)/(N_c + V) contributes floor(log2 denom^2) -
    floor(log2 (cnt+1)^2) via the length(bin(n*n)) integer-log2 trick
    (x26's quantization, squared for half-bit resolution; transcendental
    log() rounding cross-engine is refused, the m9/x26 rule).  The
    shared -1s of both floor-log2s cancel in the difference.  Class
    priors enter the same way from doc counts; the per-doc argmin
    carries (score, class) through the registry's struct-min rule so
    score ties break to the lexicographically first class
    deterministically.  Quantization costs <=0.5 bit per factor -- a
    documented accuracy trade for a hash-gateable classifier.  Overflow
    ceiling: (N_c + V)^2 needs N_c + V < 3.0e9 tokens per class; past
    that, drop to 1-bit resolution (x26's unsquared form) -- documented,
    not silent.

    Shape: class-conditional counts and class totals are map-side
    combined aggs; the 5-row (class, N_c, V) model head broadcasts onto
    the token stream (a documented x|classes| row expansion — the price
    of dense scoring, bounded by class count, never corpus size); the
    token-level left join against the (class, token) model is a plain
    equi-join AQE sizes (broadcast at fixture scale, shuffled at
    100 TB); per-(doc, class) sums and the per-doc argmin are two more
    map-side-combinable aggs.  No window, no sort, no Python."""
    docs = tbl(spark, sf_dir, "documents")
    # the exploded token stream feeds FOUR consumers (class-token counts,
    # class totals, vocabulary size, and the x|classes| scoring stream);
    # without the barrier each one re-runs the tokenizer + explode over
    # the corpus (the pipe1 CSE rule — measured 3.73 -> 3.38s at sf1;
    # the x|classes| scoring join dominates the rest).
    # At 100 TB this is the staged token table d4/pipe1 document: written
    # once per corpus snapshot, read by every model build on it.
    tok = docs.select(
        "doc_id", "lang", F.explode(_tx.tokens(F.col("text"))).alias("token")
    ).persist()  # cache: caller-owns
    ctc = tok.groupBy(F.col("lang").alias("c"), "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    nc = tok.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    v = tok.agg(F.countDistinct("token").cast("bigint").alias("vs"))
    cls = nc.crossJoin(F.broadcast(v))

    def hb(col):  # half-bit integer log2: floor(log2(n^2)) + 1
        return F.length(F.bin(col * col))

    den_hb = hb(F.col("n_tok") + F.col("vs"))
    cnt1 = F.coalesce(F.col("cnt"), F.lit(0)) + 1
    sc = (
        tok.crossJoin(F.broadcast(cls))
        .join(ctc, ["c", "token"], "left")
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(den_hb - hb(cnt1)).cast("bigint").alias("s"))
    )
    pri = docs.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("td"))
    best = (
        sc.join(F.broadcast(pri), "c")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.min(
                F.struct(
                    (F.col("s") + hb(F.col("td")) - hb(F.col("nd"))).alias("s"),
                    F.col("c").alias("c"),
                )
            ).alias("b")
        )
    )
    return best.groupBy(
        F.col("lang").alias("lang_true"), F.col("b.c").alias("pred_lang")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("b.s").cast("bigint").alias("sum_score_hb"),
    )


#: depth-2 regression stumps of the m19 ensemble; each tree is
#: (root_feat, root_thr, (left_feat, thr, leaf_ll, leaf_lr),
#:                       (right_feat, thr, leaf_rl, leaf_rr)).
#: Features: q = whole-unit quantity, dc = discount in cents,
#: pc = extended price in cents.  Margins in milli-units.  ONE literal
#: feeds both the Spark expression and the oracle CASE text, so the
#: model cannot drift between engines.
GBT_TREES = [
    ("q", 25, ("pc", 2500000, -840, -120), ("pc", 5000000, 60, 910)),
    ("pc", 3600000, ("q", 12, -760, -280), ("dc", 5, 530, 460)),
    ("dc", 3, ("pc", 4200000, -350, 420), ("pc", 3000000, -610, 380)),
    ("q", 38, ("pc", 3300000, -450, 260), ("pc", 2000000, -380, 700)),
    ("pc", 1500000, ("q", 20, -900, -900), ("q", 20, -150, 340)),
    ("q", 8, ("pc", 9000000, -670, -670), ("pc", 2800000, -240, 450)),
]


def _gbt_leaf_sql(node, names: dict | None = None) -> str:
    f, t, lo, hi = node
    f = (names or {}).get(f, f)
    return f"CASE WHEN {f} <= {t} THEN {lo} ELSE {hi} END"


def _gbt_score_sql(names: dict | None = None) -> str:
    """SQL twin of _gbt_score_col; ``names`` remaps feature columns so
    m24 can score permuted variants (e.g. {'q': 'q_p'}) from the SAME
    tree literal — model and oracle still cannot drift."""
    n = names or {}
    terms = [
        f"(CASE WHEN {n.get(rf, rf)} <= {rt} THEN {_gbt_leaf_sql(l, names)}"
        f" ELSE {_gbt_leaf_sql(r, names)} END)"
        for rf, rt, l, r in GBT_TREES
    ]
    return " + ".join(terms)


def _gbt_leaf_col(node, cols):
    f, t, lo, hi = node
    return F.when(cols[f] <= t, F.lit(lo)).otherwise(F.lit(hi))


def _gbt_score_col(cols):
    s = F.lit(0)
    for rf, rt, l, r in GBT_TREES:
        s = s + F.when(
            cols[rf] <= rt, _gbt_leaf_col(l, cols)
        ).otherwise(_gbt_leaf_col(r, cols))
    return s


@register(
    "m19_gbt_inference",
    f"""
    WITH f AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity) AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS dc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, q, dc, pc,
             {_gbt_score_sql()} AS score,
             CASE WHEN pc * (100 - dc) > 300000000 THEN 1 ELSE 0 END AS label
      FROM f
    )
    SELECT l_returnflag,
           CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INTEGER) AS pred,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(score) AS BIGINT) AS sum_score_m,
           CAST(sum(label) AS BIGINT) AS n_label_pos,
           CAST(sum(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE 0 END) = label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM s GROUP BY 1, 2
    """,
)
def m19_gbt_inference(spark, sf_dir):
    """Gradient-boosted-tree ENSEMBLE INFERENCE compiled to the plan —
    the serving shape of every tabular GBM (XGBoost/LightGBM-style
    margin sum) when the model is small enough to ship as literals: six
    depth-2 trees over integer features become nested CASE WHEN chains
    that Catalyst constant-folds into ONE whole-stage-codegen'd
    projection.  No model file, no UDF, no broadcast join, no Python —
    tree inference at 100 TB is a narrow map with zero exchanges until
    the final confusion agg (contrast m9_mlp_inference, which pays an
    Arrow batch per row block for dense matmul: trees of this size
    belong IN the plan; the single GBT_TREES literal feeds both engines
    so model and oracle cannot drift).

    Exactness: features land on integer grids (whole-unit quantity via
    floor — Spark's double->int CAST truncates while DuckDB's rounds,
    the documented registry footgun, so floor() is explicit on both
    sides; cents via round); leaf margins are milli-units summed as
    BIGINTs; the yardstick label (net price > $30k) cross-multiplies
    the discount instead of dividing (pc*(100-dc) > 3e8, exact).  The
    decision threshold compares the exact integer margin sum to zero.
    Output pins per-(returnflag, pred) counts, exact margin mass, label
    prevalence, and agreement — every scored row reaches the hash gate
    through the sums.

    Scale: one scan, one map-side-combined agg over 6 groups; predicate
    and column pruning reach the parquet scan (only 4 columns read).
    Retraining swaps the literal — the operational contract of
    plan-compiled models (feature-store joins stay upstream)."""
    li = tbl(spark, sf_dir, "lineitem")
    cols = {
        "q": F.floor(F.col("l_quantity")).cast("bigint"),
        "dc": F.round(F.col("l_discount") * 100).cast("bigint"),
        "pc": F.round(F.col("l_extendedprice") * 100).cast("bigint"),
    }
    score = _gbt_score_col(cols)
    label = F.when(
        cols["pc"] * (100 - cols["dc"]) > 300000000, F.lit(1)
    ).otherwise(F.lit(0))
    s = li.select(
        "l_returnflag",
        score.alias("score"),
        label.alias("label"),
    )
    pred = F.when(F.col("score") > 0, 1).otherwise(0)
    return s.groupBy(
        "l_returnflag", pred.cast("int").alias("pred")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("score").cast("bigint").alias("sum_score_m"),
        F.sum("label").cast("bigint").alias("n_label_pos"),
        F.sum(F.when(pred == F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    )


@register(
    "o5_systematic_sample",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             {_ex.shuffle_pos_sql('doc_id', seed='pps')} AS pos
      FROM documents
    ), c AS (
      SELECT source, doc_id, w,
             sum(w) OVER (PARTITION BY source ORDER BY pos, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM d
    ), t AS (
      SELECT source, CAST(sum(w) AS BIGINT) AS tw FROM d GROUP BY 1
    )
    SELECT c.source, c.doc_id, c.w, CAST(c.cum AS BIGINT) AS cum,
           CAST((c.cum * 10) // greatest(t.tw, 1) AS BIGINT) AS sel_idx
    FROM c JOIN t USING (source)
    WHERE (c.cum * 10) // greatest(t.tw, 1)
          > ((c.cum - c.w) * 10) // greatest(t.tw, 1)
    """,
)
def o5_systematic_sample(spark, sf_dir):
    """Weighted SYSTEMATIC sampling (PPS, probability proportional to
    size) — 10 documents per domain drawn proportional to length,
    without replacement, in ONE window pass: the corpus-downsampling
    primitive that complements x27 (exact token quota) and s3
    (uniform stratified) with the 'long docs count more' design every
    mixture paper assumes.  Lahiri/systematic form: lay each stratum's
    documents on a line in the reproducible shuffle order (ext/export
    shuffle_pos — unbiased, superset-stable), cumulate integer weights,
    and keep exactly the rows whose weight span crosses one of the 10
    equal thresholds k*W/10.  The crossing test is pure integer
    arithmetic — (cum*10) div W > ((cum-w)*10) div W — never a float
    threshold (floor division agrees across engines on nonnegative
    ints, the f12 rule); sel_idx rides along so the oracle pins WHICH
    threshold each kept row crossed.  A row longer than W/10 crosses
    several thresholds but is kept once (the capped variant — the
    standard dedup of systematic PPS; its sel_idx records the LAST
    threshold crossed).  Overflow: cum*10 <= 10*W — W below 9.2e17
    chars per stratum, beyond any corpus.

    Scale: one hash shuffle on source feeds both the window and the
    stratum totals (the x27 skew note applies: salt the cumsum for a
    mega-domain); the totals join is broadcast at fixture scale.  The
    output is 10 rows per stratum — the shuffle leaves with the sample,
    never the corpus."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        _ex.shuffle_pos("doc_id", seed="pps").alias("pos"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pos", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("w").over(w))
    t = d.groupBy("source").agg(F.sum("w").cast("bigint").alias("tw"))
    j = c.join(F.broadcast(t), "source")
    # greatest(tw, 1): a degenerate all-zero-weight stratum must select
    # nothing (hi == lo == 0), not raise ANSI DIVIDE_BY_ZERO inside the
    # filter predicate — weights are nonnegative so tw >= 1 is the only
    # live case and the guard changes no real result
    hi = F.expr("(cum * 10) div greatest(tw, 1L)")
    lo = F.expr("((cum - w) * 10) div greatest(tw, 1L)")
    return j.filter(hi > lo).select(
        "source",
        "doc_id",
        "w",
        F.col("cum").cast("bigint").alias("cum"),
        hi.cast("bigint").alias("sel_idx"),
    )


def _prep_survivor_flags(spark, sf_dir):
    """Shared Spark twin of _PIPE_FUNNEL_CTES: the flagged per-train-doc
    frame (g1..g3, s3 composed, s4 canonical, s5 decontaminated, exact
    ntok) that pipe3 aggregates into the attrition funnel and pipe4
    filters into the export manifest. One corpus scan, the pipe1 CSE
    token barrier, a conditional window min for canonical selection,
    and one broadcast decontamination join — see pipe3's docstring for
    the shape rationale."""
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    lab = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "text",
        _split_col(F.col("doc_id")).alias("split"),
        _tx.tokens(F.col("text")).alias("_toks"),
    ).persist()  # cache: caller-owns (pipe1's shared-tokens pattern)
    toks = F.col("_toks")
    ev = (
        lab.filter(F.col("split") == "val")
        .select(_tx.fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    b = lab.filter(F.col("split") == "train").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("ntok"),
        F.md5("text").alias("h"),
        _tx.fingerprint(F.col("text")).alias("fp"),
        F.when(F.col("n_chars") >= 100, 1).otherwise(0).alias("g1"),
        F.when(_tx.lang_id(F.col("text"), toks=toks) == F.col("lang"), 1)
        .otherwise(0)
        .alias("g2"),
        F.when(_tx.quality_score(F.col("text"), toks=toks) >= 0.35, 1)
        .otherwise(0)
        .alias("g3"),
    )
    s = b.withColumn("s3", F.col("g1") * F.col("g2") * F.col("g3"))
    # canonical = min doc_id among quality SURVIVORS of the same content
    # hash: a conditional window aggregate (no orderBy — pure partition
    # min), one exchange on h instead of the agg-build + join-probe pair
    mid = F.min(F.when(F.col("s3") == 1, F.col("doc_id"))).over(
        Window.partitionBy("h")
    )
    f = s.withColumn(
        "s4",
        F.when((F.col("s3") == 1) & (F.col("doc_id") == mid), 1).otherwise(0),
    )
    return f.join(
        F.broadcast(ev.withColumn("_hit", F.lit(1))), "fp", "left"
    ).withColumn(
        "s5",
        F.when((F.col("s4") == 1) & F.col("_hit").isNull(), 1).otherwise(0),
    )


#: shared funnel CTE chain (pipe3 reads the per-stage attrition off it,
#: pipe4 reads the surviving rows): per-train-doc gate flags g1..g3,
#: composed survivor s3, canonical keep s4, decontaminated keep s5,
#: plus the exact whitespace token count every budget consumer prices in
_PIPE_FUNNEL_CTES = f"""
    WITH lab AS (
      SELECT doc_id, source, lang, n_chars, text,
             {_split_sql('doc_id')} AS split
      FROM documents
    ), ev AS (
      SELECT DISTINCT {_tx.fingerprint_sql('text')} AS fp
      FROM lab WHERE split = 'val'
    ), b AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len({_tx.tokens_sql('text')}) AS BIGINT) AS ntok,
             md5(text) AS h,
             {_tx.fingerprint_sql('text')} AS fp,
             CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS g1,
             CASE WHEN {_tx.lang_id_sql('text')} = lang THEN 1 ELSE 0 END AS g2,
             CASE WHEN {_tx.quality_score_sql('text')} >= 0.35 THEN 1 ELSE 0 END
               AS g3
      FROM lab WHERE split = 'train'
    ), s AS (
      SELECT *, g1 * g2 * g3 AS s3 FROM b
    ), canon AS (
      SELECT h, min(doc_id) AS mid FROM s WHERE s3 = 1 GROUP BY 1
    ), f AS (
      SELECT s.*, CASE WHEN s.s3 = 1 AND s.doc_id = c.mid THEN 1 ELSE 0 END AS s4
      FROM s LEFT JOIN canon c USING (h)
    ), g AS (
      SELECT f.*, CASE WHEN f.s4 = 1 AND ev.fp IS NULL THEN 1 ELSE 0 END AS s5
      FROM f LEFT JOIN ev ON ev.fp = f.fp
    )"""


@register(
    "pipe3_prep_funnel",
    _PIPE_FUNNEL_CTES
    + """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(g1) AS BIGINT) AS n_len,
           CAST(sum(g1 * g2) AS BIGINT) AS n_lang,
           CAST(sum(s3) AS BIGINT) AS n_qual,
           CAST(sum(s4) AS BIGINT) AS n_canon,
           CAST(sum(s5) AS BIGINT) AS n_clean,
           CAST(coalesce(sum(CASE WHEN s5 = 1 THEN n_chars END), 0) AS BIGINT)
             AS chars_kept
    FROM g GROUP BY 1
    """,
)
def pipe3_prep_funnel(spark, sf_dir):
    """Training-corpus prep FUNNEL with per-stage attrition — the
    "no silent caps" report beside pipe1's kept-rows output: every gate
    a corpus run applies (length floor, langid agreement, quality floor,
    exact-dedup canonical keep, eval-set decontamination) reports how
    many documents per domain SURVIVE it, cumulatively, plus the final
    kept char mass.  This is the table a data-mixture review actually
    reads — which domain loses how much at which gate — and the driver
    hash-gates the whole funnel, so a drift in ANY stage (tokenizer,
    lang model, quality formula, dedup key, benchmark fingerprints)
    shows as a red row, not a silent corpus shift.

    Stage order is the production order and it MATTERS: canonical
    selection (min doc_id per exact-content hash, the d1 rule) runs
    among quality survivors only — deduping before filtering would let
    a low-quality copy shadow a high-quality twin; decontamination
    (x14's rolling-hash fingerprint against the held-out split's docs)
    runs last so the audit counts clean SURVIVORS, not clean rejects.
    The split is the reproducible doc_id-hash split (d13/pipe2's
    _split_col), so train/eval membership is superset-stable.

    Shape (single-pass since r10, VERDICT r9 item 5): ONE corpus scan
    computes every per-doc flag (all Column expressions — the lang
    vote, quality ratios, content hash, and fingerprint share the
    persisted token array, the pipe1 CSE barrier); canonical selection
    is a CONDITIONAL WINDOW MIN over the content hash — min(doc_id
    where quality-surviving) within each h partition — which replaces
    r9's agg + self-join: that shape shuffled the flag table TWICE on
    h (agg build + join probe) and, worse, re-ran the whole per-row
    feature battery in the unpersisted join branch's lineage. One
    hash-partitioned window, flags computed exactly once.  The
    decontamination join stays a broadcast against the eval
    fingerprint set (|eval| << corpus by construction); the funnel is
    one map-side-combined agg per source.  At 100 TB: scan-dominated,
    one skinny exchange on the uniform content-hash key, one
    broadcast, no Python."""
    g = _prep_survivor_flags(spark, sf_dir)
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("g1").cast("bigint").alias("n_len"),
        F.sum(F.col("g1") * F.col("g2")).cast("bigint").alias("n_lang"),
        F.sum("s3").cast("bigint").alias("n_qual"),
        F.sum("s4").cast("bigint").alias("n_canon"),
        F.sum("s5").cast("bigint").alias("n_clean"),
        F.coalesce(
            F.sum(F.when(F.col("s5") == 1, F.col("n_chars"))), F.lit(0)
        )
        .cast("bigint")
        .alias("chars_kept"),
    )


@register("t25_stream_bitmap_view", ORACLES["a29_bitmap_distinct"], lazy_replay=True)
def t25_stream_bitmap_view(spark, sf_dir):
    """STREAMING maintenance of the a29 presence bitmaps — the t22
    pattern (algebraic sketch state in a keyed view) with the merge
    operator swapped from register-wise MAX to word-wise OR: the OR of
    two presence bitmaps IS the bitmap of the union, so micro-batch
    boundaries are invisible by algebra, and — unlike t22's HLL — the
    maintained state stays EXACT: the streamed view answers distinct
    counts with zero error at 62 ids per BIGINT word of state.  The
    event feed replays in 3 micro-batches; each batch collapses to its
    own (type, word) partial map-side before touching the view, merges
    under the writer-lease/replay contract, and the final words must
    hash-match a29's one-shot batch build — same oracle, streaming
    twin.  This is the speed-layer shape of a real-time audience
    counter: the serving read is sum(bit_count(word)) per key, and
    set algebra across keys (AND/OR of audiences) stays a word-wise
    join on the view itself."""
    import os as _os
    import uuid

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    ev = tbl(spark, sf_dir, "events")
    feed = ev.select("event_id", "user_id", "event_type")
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "bmmv_" + uuid.uuid4().hex[:8])
    stage = _os.path.join(root, "feed")
    stream = staged_stream(feed, stage, 3, "event_id")
    view = KeyedParquetView(
        spark,
        _os.path.join(root, "mv"),
        ["event_type", "word_idx"],
        partition_by="event_type",
    )

    def fn(cur, b):
        delta = b.groupBy(
            "event_type", F.expr("user_id div 62").alias("word_idx")
        ).agg(
            F.bit_or(F.expr("shiftleft(1L, cast(user_id % 62 as int))")).alias(
                "word"
            )
        )
        if cur is None:
            return delta
        return (
            cur.alias("v")
            .join(delta.alias("d"), ["event_type", "word_idx"], "full_outer")
            .select(
                "event_type",
                "word_idx",
                (
                    F.coalesce(F.col("v.word"), F.lit(0))
                    .bitwiseOR(F.coalesce(F.col("d.word"), F.lit(0)))
                ).alias("word"),
            )
        )

    run_foreach_batch(
        stream,
        lambda b, bid: view.merge_custom(b, fn, batch_id=bid, writer="bm"),
        _os.path.join(root, "ckpt"),
    )
    words = view.read()
    s = words.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.bit_count("word")).cast("bigint").alias("distinct_bitmap"),
    )
    ex = (
        spark.read.parquet(stage)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return s.join(ex, "event_type")


#: u11 probe threshold (cents); tests override to exercise the
#: nothing-qualifies manifest arm without touching the oracle
U11_THRESHOLD = 30000


@register(
    "u11_zonemap_skipping",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
    FROM events
    WHERE CAST(round(value * 100) AS BIGINT) >= 30000
    GROUP BY 1
    """,
)
def u11_zonemap_skipping(spark, sf_dir):
    """FILE-level zone-map data skipping — the lakehouse scan primitive
    BETWEEN p12 (directory/partition pruning: coarse, needs the column
    in the path) and parquet row-group stats (fine, but only consulted
    AFTER every file is opened): a manifest of per-FILE min/max for the
    clustered column lets the reader drop whole files from the scan
    plan without touching them — Delta/Iceberg's data-skipping design,
    and the payoff side of x23's z-order (clustering exists so zone
    ranges are narrow).  Staged here end to end: the feed is clustered
    on the probe column (repartitionByRange + sortWithinPartitions — a
    range layout makes zones DISJOINT, the best case), the zone map is
    computed by one input_file_name() agg (exactly what a table format
    persists in its manifest at commit time), and the probe consults
    the manifest FIRST, handing Spark only qualifying file paths plus
    the residual filter (still pushed into the surviving files' row
    groups).  The manifest is O(files) rows collected driver-side —
    the same size class as any table-format log; never data-sized.

    Correctness contract (the p13 rule): a scan optimization may skip
    bytes, never change values — the returned aggregate must hash-match
    the oracle's straight full-scan filter, and the zone-map
    effectiveness (files actually skipped on this clustered layout) is
    pinned by its pytest, not the oracle.  At 100 TB with 10^6 files a
    selective range probe opens only the handful of files whose zones
    intersect — the difference between a metadata operation and a
    cluster-wide scan."""
    import os as _os

    ev = tbl(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    _tag, scratch = scratch_dir("spark_graft_zonemap", sf_dir)
    table = _os.path.join(scratch, "clustered")
    (
        ev.repartitionByRange(8, "value_c")
        .sortWithinPartitions("value_c")
        .write.mode("overwrite")
        .parquet(table)
    )
    # the zone map: per-file min/max of the clustered column (manifest-sized)
    stats = (
        spark.read.parquet(table)
        .groupBy(F.input_file_name().alias("path"))
        .agg(F.min("value_c").alias("lo"), F.max("value_c").alias("hi"))
    )
    threshold = U11_THRESHOLD
    keep = [r["path"] for r in stats.filter(F.col("hi") >= threshold).collect()]
    if not keep:
        base = spark.read.parquet(table).limit(0)
    else:
        base = spark.read.parquet(*keep)
    return (
        base.filter(F.col("value_c") >= threshold)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value_c").cast("bigint").alias("sum_c"),
        )
    )


@register(
    "g17_adamic_adar",
    """
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
    ),
    twedges AS (
      SELECT least(a, b) AS u, greatest(a, b) AS v, c AS w FROM tri
      UNION ALL SELECT least(a, c), greatest(a, c), b FROM tri
      UNION ALL SELECT least(b, c), greatest(b, c), a FROM tri
    )
    SELECT t.u, t.v,
           CAST(count(*) AS BIGINT) AS cn,
           CAST(sum(720720 // length(bin(dw.d * dw.d))) AS BIGINT) AS aa_q
    FROM twedges t JOIN deg dw ON dw.node = t.w
    GROUP BY 1, 2
    """,
)
def g17_adamic_adar(spark, sf_dir):
    """Adamic-Adar link-prediction scores over the parts-bought-together
    graph — g15's common-neighbor count upgraded with the degree
    DISCOUNT that makes the classic AA ranking work: a shared neighbor
    that connects to everything is weak evidence, one with few edges is
    strong, weighted 1/log(deg).  The float log is refused (m9/x26
    rule); the discount is the HALF-BIT integer quantization 720720
    div floor(2*log2 deg + 1) via length(bin(d*d)) — 720720 (lcm of
    1..16) keeps the first sixteen discount levels EXACT integer
    divisions, and the per-edge score is then an order-independent
    BIGINT sum that hash-gates.  Monotonicity — AA's only contract —
    is preserved: higher-degree witnesses always weigh less or equal.

    Same O(m^1.5) degree-ordered triangle machinery as g8/g15, but the
    explode KEEPS the witness vertex with each of the triangle's three
    edges, so each common neighbor's degree joins back once per edge it
    witnesses (deg is node-count-sized, broadcast at fixture scale,
    bucketable at 100 TB).  Edges with no common neighbor carry no AA
    evidence and are g15's cn = 0 rows — deliberately absent here (the
    score of an absent witness set is identically zero; g15 is the
    entry that pins those rows).  Since r10 the g9/g11 bucketed-layout
    contract is real, not aspirational: the oriented edge table comes
    from the shared write-once staging (:func:`_cooccur_graph_bucketed`),
    so the wedge join reads bucket-aligned scans exchange-free and the
    co-occurrence build never re-runs in this entry's lineage (r9: ~90
    exchanges; the verdict's item-4 target)."""
    ori, deg = _cooccur_graph_bucketed(spark, sf_dir)
    e1 = ori.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = ori.select(F.col("s").alias("a2"), F.col("t").alias("c"))
    e3 = ori.select(F.col("s").alias("b3"), F.col("t").alias("c3"))
    tri = (
        e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("b") != F.col("c")))
        .join(e3, (F.col("b3") == F.col("b")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )
    twedges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                    F.col("c").alias("w"),
                ),
                F.struct(
                    F.least("a", "c").alias("u"),
                    F.greatest("a", "c").alias("v"),
                    F.col("b").alias("w"),
                ),
                F.struct(
                    F.least("b", "c").alias("u"),
                    F.greatest("b", "c").alias("v"),
                    F.col("a").alias("w"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("dw"))
    weight = F.expr("720720 div cast(length(bin(dw * dw)) as bigint)")
    return (
        twedges.join(dw, "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(weight).cast("bigint").alias("aa_q"),
        )
    )


@register(
    "w21_ks_drift",
    """
    WITH v AS (
      SELECT event_type AS series,
             CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 0 END
               AS in_a
      FROM events
    ), pts AS (
      SELECT series, x,
             CAST(sum(in_a) AS BIGINT) AS ca,
             CAST(sum(1 - in_a) AS BIGINT) AS cb
      FROM v GROUP BY 1, 2
    ), tot AS (
      SELECT series, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM pts GROUP BY 1
    ), cum AS (
      SELECT p.series, p.x, t.na, t.nb,
             abs(sum(p.ca) OVER w * t.nb - sum(p.cb) OVER w * t.na) AS dnum
      FROM pts p JOIN tot t USING (series)
      WINDOW w AS (PARTITION BY p.series ORDER BY p.x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), best AS (
      SELECT series, na, nb,
             min(struct_pack(nd := -dnum, x := x)) AS b
      FROM cum GROUP BY 1, 2, 3
    )
    SELECT series, na, nb,
           CAST(-(b.nd) AS BIGINT) AS d_num,
           b.x AS d_at,
           CAST(CAST(-(b.nd) AS DOUBLE)
                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS DOUBLE) AS ks
    FROM best
    WHERE na > 0 AND nb > 0
    """,
)
def w21_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic per series — the
    nonparametric companion to m16's binned total-variation monitor:
    m16 needs a bin width, KS compares the FULL empirical CDFs of two
    periods (first half vs second half of the fixture month) and
    reports the worst-case gap and WHERE it opens.  sup|F_a - F_b| is
    kept exact by cross-multiplication (the f14/w20 rule): at each
    observed value, |cum_a * n_b - cum_b * n_a| is an exact BIGINT
    (bound: counts < 2^32 keeps the product < 2^63 — beyond 4e9 rows
    per (series, period), pre-scale or go decimal, documented), the
    per-series max carries (gap, location) through the struct-argmin
    on (-gap, x) — largest gap, SMALLEST location on ties, the w20
    determinism rule — and the classical D statistic is ONE double
    division of exact integers at the output boundary.

    Shape: the tick stream collapses to per-(series, value) counts for
    BOTH samples in one map-side-combined agg (in_a/1-in_a sum — no
    second scan, no join between periods); ONE window per series over
    DISTINCT values computes both running CDFs fused; the argmax is a
    width-|values| agg.  At 100 TB the distinct-value relation, not
    the tick count, bounds the window — the same pre-aggregation
    discipline as f12/w20."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("series"),
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        F.when(F.to_date("ts") <= F.lit("2024-01-15").cast("date"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    pts = v.groupBy("series", "x").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    tot = pts.groupBy("series").agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w = (
        Window.partitionBy("series")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.join(F.broadcast(tot), "series").select(
        "series",
        "x",
        "na",
        "nb",
        F.abs(
            F.sum("ca").over(w) * F.col("nb") - F.sum("cb").over(w) * F.col("na")
        ).alias("dnum"),
    )
    best = cum.groupBy("series", "na", "nb").agg(
        F.min(F.struct((-F.col("dnum")).alias("nd"), F.col("x").alias("x"))).alias(
            "b"
        )
    )
    # KS is undefined for a series absent from either period: na*nb = 0
    # makes the final division IEEE-infinite in Spark but engine-dependent
    # in general — exclude on the exact integers (the f15 den-guard rule)
    return best.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "series",
        "na",
        "nb",
        (-F.col("b.nd")).cast("bigint").alias("d_num"),
        F.col("b.x").alias("d_at"),
        (
            (-F.col("b.nd")).cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("ks"),
    )


#: first-digit Benford expectations in parts-per-million — fixed literals
#: (log10(1 + 1/d) rounded to ppm), shared by both engines; never computed
#: with a transcendental at query time.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@register(
    "a31_benford_audit",
    f"""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
      WHERE round(value * 100) >= 1
    ), d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(count(*) AS BIGINT) AS obs
      FROM v GROUP BY 1
    ), t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM d),
    e AS (
      SELECT * FROM (VALUES
        {', '.join(f'({d}, {p})' for d, p in BENFORD_PPM.items())}
      ) AS t(digit, exp_ppm)
    )
    SELECT e.digit, coalesce(d.obs, 0) AS obs, t.n,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(coalesce(d.obs, 0) * 1000000 - e.exp_ppm * t.n AS BIGINT)
             AS dev_ppm_n
    FROM e LEFT JOIN d USING (digit) CROSS JOIN t
    """,
)
def a31_benford_audit(spark, sf_dir):
    """Benford first-digit audit over the cent amounts — the classic
    fraud/synthetic-data screen a DQ suite (a24) runs on monetary
    columns: organically-scaled positive values follow P(d) =
    log10(1+1/d); flat or spiky first-digit histograms flag fabricated
    or truncated feeds.  The expectations are FIXED ppm literals
    (the only correct way to keep a transcendental out of the query —
    the constants are math, not data), and the per-digit deviation is
    reported as the exact integer obs*1e6 - exp_ppm*n: cross-multiplied
    against the total (the f14 rule) so no frequency division, no
    float, and the driver hash-gates the full signed deviation vector
    (bound: |dev| < 1e6 * n — int64-safe to ~9e12 rows).  Digits with
    zero observations still emit their row through the left join from
    the literal digit relation — absence of a digit is the loudest
    Benford signal and must not vanish from the audit.

    Shape: ONE scan, one 9-group map-side-combined count, the total
    attached by a 9-row global window (a second .agg() branch would
    re-read the table — 2x scan at 100 TB), and a 9-row literal join
    — scan-bound at any scale."""
    ev = tbl(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    v = ev.select(c.alias("c")).filter(F.col("c") >= 1)
    from pyspark.sql import Window

    d = (
        v.groupBy(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
        # total via a 9-row global window: the scan collapses once; a
        # second .agg() branch would re-read the table (2x scan at 100 TB)
        .withColumn("n", F.sum("obs").over(Window.partitionBy()).cast("bigint"))
    )
    e = spark.createDataFrame(
        [(dd, pp) for dd, pp in BENFORD_PPM.items()], "digit long, exp_ppm long"
    )
    j = e.join(d, "digit", "left").withColumn(
        # digits absent from the data carry a null n through the left
        # join; a second 9-row global window fills it — still no second
        # scan and no cross join
        "nn",
        F.max("n").over(Window.partitionBy()).cast("bigint"),
    )
    return j.select(
        "digit",
        F.coalesce(F.col("obs"), F.lit(0)).cast("bigint").alias("obs"),
        F.col("nn").alias("n"),
        F.col("exp_ppm").cast("bigint").alias("exp_ppm"),
        (
            F.coalesce(F.col("obs"), F.lit(0)) * F.lit(1000000)
            - F.col("exp_ppm") * F.col("nn")
        )
        .cast("bigint")
        .alias("dev_ppm_n"),
    )


@register(
    "a32_hll_union",
    f"""
    WITH h AS (
      SELECT event_type,
             {phash60_sql("CAST(user_id AS VARCHAR)", seed="hll")} AS hk
      FROM events
    ), regs AS (
      SELECT event_type, hk % {HLL_M} AS r,
             MAX(CASE WHEN (hk >> 8) = 0 THEN 53
                      ELSE 53 - length(bin(hk >> 8)) END) AS m_r
      FROM h GROUP BY 1, 2
    ), u AS (
      SELECT r, MAX(m_r) AS m_r FROM regs GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS registers_used,
             CAST(SUM((1::BIGINT) << CAST(53 - m_r AS INTEGER))
                  + ({HLL_M} - COUNT(*)) * ((1::BIGINT) << 53) AS BIGINT)
               AS s_int
      FROM u
    ), ex AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events
    )
    SELECT s.registers_used, s.s_int,
           CAST({HLL_NUM!r} / CAST(s.s_int AS DOUBLE) AS DOUBLE) AS hll_estimate,
           ex.exact_distinct
    FROM s CROSS JOIN ex
    """,
)
def a32_hll_union(spark, sf_dir):
    """HLL register-set UNION across groups — the merge leg a20 builds
    toward: per-segment sketches combine by register-wise MAX into the
    sketch of the union WITHOUT touching raw ids again (the property
    that makes HLL the pre-aggregable distinct state: daily sketches
    roll up to monthly, per-type roll up to global, each merge 256
    rows).  Here the five per-type register sets from a20's exact
    construction collapse through ONE more max agg to the global
    estimate, hash-gated against the global exact count.  Same
    integer-space discipline as a20: dyadic register sum in BIGINT,
    one double division by the shared constant at the boundary.

    Shape: the per-(type, register) agg is a20's (map-side combined);
    the union merge is a 1280-row agg; the global exact count is the
    yardstick column.  At 100 TB the merge input is segments x 256
    rows regardless of corpus size — the reason warehouse rollup trees
    keep sketch columns, not distinct keys."""
    ev = tbl(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        phash60(F.col("user_id").cast("string"), seed="hll").alias("hk"),
    )
    w = F.shiftright("hk", 8)
    rho = F.when(w == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(w)))
    regs = h.groupBy("event_type", (F.col("hk") % HLL_M).alias("r")).agg(
        F.max(rho).alias("m_r")
    )
    u = regs.groupBy("r").agg(F.max("m_r").alias("m_r"))
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("registers_used"),
        (
            F.sum(F.expr("shiftleft(1L, cast(53 - m_r as int))"))
            + (HLL_M - F.count(F.lit(1))) * F.lit(1 << 53)
        )
        .cast("bigint")
        .alias("s_int"),
    )
    ex = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    return s.crossJoin(F.broadcast(ex)).select(
        "registers_used",
        "s_int",
        (F.lit(HLL_NUM) / F.col("s_int").cast("double")).alias("hll_estimate"),
        "exact_distinct",
    )


@register(
    "t26_stream_kmv_view",
    f"""
    WITH d AS (
      SELECT DISTINCT event_type,
             {phash60_sql("CAST(user_id AS VARCHAR)", seed="kmv")} AS h
      FROM events
    ), sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM d) WHERE rn <= {KMV_K}
    ), s AS (
      SELECT event_type, CAST(max(h) AS BIGINT) AS hk,
             CAST(count(*) AS BIGINT) AS kx
      FROM sk GROUP BY 1
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT s.event_type, s.hk, s.kx,
           CAST(CASE WHEN s.kx >= {KMV_K}
                     THEN {KMV_NUM!r} / CAST(s.hk AS DOUBLE)
                     ELSE CAST(s.kx AS DOUBLE) END AS DOUBLE) AS kmv_estimate,
           ex.exact_distinct
    FROM s JOIN ex USING (event_type)
    """,
    lazy_replay=True,
)
def t26_stream_kmv_view(spark, sf_dir):
    """STREAMING maintenance of per-type KMV sketches — the fourth and
    final merge algebra in the sketch-view taxonomy (t20 add, t22
    register max, t25 word OR, now ORDER-STATISTIC merge): the k
    smallest of (state U delta) IS the KMV sketch of the union (a30's
    closure property, property-tested in tests/test_properties.py), so
    replaying the feed in micro-batches converges to the one-shot batch
    sketch — including EVICTION: a hash that was in the top-64 early
    can be pushed out by later-arriving smaller hashes, which is why
    the merge recomputes the per-type top-k over cur U delta instead of
    appending (the one sketch here whose state update is not a pure
    per-key upsert — rows must LEAVE the view; merge_custom's
    whole-state contract handles that where a keyed append could not).
    The final sketch, its k-th minimum, and the estimate hash-gate
    against the batch construction; exact counts ride as yardsticks.

    Scale: per micro-batch the delta collapses to <= K rows per type
    map-side (distinct + top-k); the merge touches 2K rows per type.
    Unlike t22/t25 the serving read needs no further agg — the sketch
    IS the answer state for a30-style set algebra across segments."""
    import os as _os
    import uuid

    from pyspark.sql import Window

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    ev = tbl(spark, sf_dir, "events")
    feed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        phash60(F.col("user_id").cast("string"), seed="kmv").alias("h"),
    )
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "kmvmv_" + uuid.uuid4().hex[:8])
    stage = _os.path.join(root, "feed")
    stream = staged_stream(feed, stage, 3, "event_id")
    view = KeyedParquetView(
        spark,
        _os.path.join(root, "mv"),
        ["event_type", "h"],
        partition_by="event_type",
    )
    win = Window.partitionBy("event_type").orderBy("h")

    def topk(df):
        return (
            df.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= KMV_K)
            .select("event_type", "h")
        )

    def fn(cur, b):
        delta = b.select("event_type", "h").distinct()
        if cur is None:
            return topk(delta)
        return topk(cur.select("event_type", "h").unionByName(delta).distinct())

    run_foreach_batch(
        stream,
        lambda b, bid: view.merge_custom(b, fn, batch_id=bid, writer="kmv"),
        _os.path.join(root, "ckpt"),
    )
    sk = view.read()
    s = sk.groupBy("event_type").agg(
        F.max("h").cast("bigint").alias("hk"),
        F.count(F.lit(1)).cast("bigint").alias("kx"),
    )
    ex = (
        spark.read.parquet(stage)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return s.join(ex, "event_type").select(
        "event_type",
        "hk",
        "kx",
        F.when(
            F.col("kx") >= KMV_K, F.lit(KMV_NUM) / F.col("hk").cast("double")
        )
        .otherwise(F.col("kx").cast("double"))
        .cast("double")
        .alias("kmv_estimate"),
        "exact_distinct",
    )


@register(
    "a33_spearman_rank",
    """
    WITH daily AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT series,
             2 * rank() OVER (PARTITION BY series ORDER BY x)
               + count(*) OVER (PARTITION BY series, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY series ORDER BY y)
               + count(*) OVER (PARTITION BY series, y) - 1 AS ry
      FROM daily
    ), s AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy
      FROM r GROUP BY series
    )
    SELECT series, n AS n_days,
           CAST(n * sxy - sx * sy AS BIGINT) AS rho_num,
           CAST(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy)
                                 AS DOUBLE))
           END AS DOUBLE) AS rho
    FROM s
    """,
)
def a33_spearman_rank(spark, sf_dir):
    """Spearman rank correlation between each series' daily activity
    (event count) and daily flow (cent sum) — the robust, monotonic
    complement of a15's Pearson battery: rank correlation is what a
    feature-screening pass actually wants on heavy-tailed monetary
    columns, where one outlier day saturates Pearson but moves ranks
    by one. Exactness with ties, no floats until the last expression:
    the classical tie treatment assigns a tie group the AVERAGE rank
    (rank_min + (cnt-1)/2) — a half-integer — so both engines carry
    DOUBLED ranks r2 = 2*rank_min + cnt - 1 (exact BIGINTs; Spearman
    is Pearson on ranks and Pearson is invariant under the affine
    doubling). The per-series sufficient statistics (n, Σr2x, Σr2y,
    Σr2x², Σr2y², Σr2x·r2y) are exact integers, the correlation is
    assembled a15-style as one exact integer numerator and one
    sqrt-of-exact-integer denominator — a single correctly-rounded
    IEEE sqrt and one division per series, bit-stable cross-engine —
    and zero-variance series yield NULL by an explicit guard (the a15
    ANSI-0/0 lesson). Bound: r2 <= 2n, so n·Σr2² <= 4n⁴ — int64-safe
    to ~1.2M days per series (3000 years; the day calendar, not the
    corpus, is the cardinality).

    Shape: one map-side-combined (series, day) agg collapses the scan;
    the rank windows run over ~30-day per-series relations (series
    count × calendar days, corpus-size-independent); one final
    per-series agg. No global sort anywhere."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        ev.select(F.col("event_type").alias("series"), F.to_date("ts").alias("day"), cents.alias("c"))
        .groupBy("series", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"), F.sum("c").alias("y"))
    )

    def r2(col):
        w = Window.partitionBy("series").orderBy(col)
        tw = Window.partitionBy("series", col)
        return 2 * F.rank().over(w) + F.count(F.lit(1)).over(tw) - 1

    r = daily.select("series", r2(F.col("x")).alias("rx"), r2(F.col("y")).alias("ry"))
    s = r.groupBy("series").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "series",
        F.col("n").alias("n_days"),
        num.cast("bigint").alias("rho_num"),
        F.when(
            (vx > 0) & (vy > 0),
            num.cast("double") / F.sqrt((vx * vy).cast("double")),
        )
        .cast("double")
        .alias("rho"),
    )


@register(
    "m20_roc_auc",
    """
    WITH h AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS score,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS np_s,
             CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
               AS nn_s
      FROM events GROUP BY 1
    ), c AS (
      SELECT score, np_s, nn_s,
             coalesce(sum(nn_s) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
      FROM h
    ), s AS (
      SELECT CAST(sum(np_s) AS BIGINT) AS n_pos,
             CAST(sum(nn_s) AS BIGINT) AS n_neg,
             CAST(sum(np_s * (2 * cnb + nn_s)) AS BIGINT) AS auc_num2
      FROM c
    )
    SELECT n_pos, n_neg, auc_num2,
           CAST(CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(auc_num2 AS DOUBLE)
                     / (2.0 * n_pos * n_neg)
           END AS DOUBLE) AS auc
    FROM s
    """,
)
def m20_roc_auc(spark, sf_dir):
    """Exact ROC-AUC of the cent amount as a classifier score for
    'purchase' events — the threshold-free ranking metric that belongs
    next to m11 (confusion at one threshold) and m12 (calibration):
    AUC is the probability a random positive outranks a random
    negative, ties counted half. Computed WITHOUT the textbook global
    rank: AUC's sufficient statistic lives on the SCORE HISTOGRAM, so
    one (score → n_pos, n_neg) hash agg collapses the corpus, and one
    window over DISTINCT CENT VALUES (bounded by price resolution,
    never row count — the a17/w21 discipline) accumulates negatives
    below each score. The doubled numerator Σ np_s·(2·cum_neg_below +
    nn_s) counts strict wins twice and ties once — an exact BIGINT;
    AUC itself is that integer over 2·n_pos·n_neg, ONE final division,
    NULL-guarded when either class is empty (the a15 ANSI lesson).
    Bound: num2 < 2·n_pos·n_neg — int64-safe to ~2.1e9 rows per class;
    past that the product overflows and the m17 decimal(38,0) widening
    applies (documented, not silent).

    Shape: one map-side-combined agg + one bounded window + one scalar
    agg — scan-bound at any scale, no global sort of the corpus, no
    per-row rank shuffle. A Mann-Whitney U test engine gets U = num2/2
    from the same output."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    is_pos = (F.col("event_type") == "purchase").cast("bigint")
    h = ev.select(cents.alias("score"), is_pos.alias("p")).groupBy("score").agg(
        F.sum("p").cast("bigint").alias("np_s"),
        (F.count(F.lit(1)) - F.sum("p")).cast("bigint").alias("nn_s"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = h.withColumn("cnb", F.coalesce(F.sum("nn_s").over(w), F.lit(0)))
    s = c.agg(
        F.sum("np_s").cast("bigint").alias("n_pos"),
        F.sum("nn_s").cast("bigint").alias("n_neg"),
        F.sum(F.col("np_s") * (2 * F.col("cnb") + F.col("nn_s")))
        .cast("bigint")
        .alias("auc_num2"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("auc_num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
        )
        .cast("double")
        .alias("auc"),
    )


@register(
    "m21_cohens_kappa",
    f"""
    WITH p AS (
      SELECT lang, {_tx.lang_id_sql('text')} AS lang_pred FROM documents
    ), conf AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    ), rows_t AS (
      SELECT lang AS lab, CAST(sum(n) AS BIGINT) AS r FROM conf GROUP BY 1
    ), cols_t AS (
      SELECT lang_pred AS lab, CAST(sum(n) AS BIGINT) AS c FROM conf GROUP BY 1
    ), m AS (
      SELECT CAST(sum(coalesce(r, 0) * coalesce(c, 0)) AS BIGINT) AS src
      FROM rows_t FULL OUTER JOIN cols_t USING (lab)
    ), t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)
                  AS BIGINT) AS sd
      FROM conf
    )
    SELECT t.nn AS n, t.sd AS n_agree, m.src AS sum_rowcol,
           CAST(t.nn * t.sd - m.src AS BIGINT) AS kappa_num,
           CAST(t.nn * t.nn - m.src AS BIGINT) AS kappa_den,
           CAST(CASE WHEN t.nn * t.nn - m.src <> 0
                THEN CAST(t.nn * t.sd - m.src AS DOUBLE)
                     / CAST(t.nn * t.nn - m.src AS DOUBLE)
           END AS DOUBLE) AS kappa
    FROM t CROSS JOIN m
    """,
)
def m21_cohens_kappa(spark, sf_dir):
    """Cohen's kappa for the x6 language router against fixture truth —
    chance-corrected agreement, the number that tells you whether x37's
    pretty diagonal is skill or prior imbalance (a router that says
    'en' always scores high accuracy on an English-heavy corpus and
    kappa ~ 0). Exact integer assembly from the same confusion matrix
    x37 ships: kappa = (p_o - p_e)/(1 - p_e) cross-multiplied by N² to
    kappa = (N·Σdiag - Σ_k row_k·col_k)/(N² - Σ_k row_k·col_k) — both
    numerator and denominator exact BIGINTs (int64-safe to N ~ 3e9
    docs; the m17 decimal widening applies past that), ONE final
    division, NULL-guarded when p_e = 1 (single-cell degenerate
    matrix, the a15 ANSI lesson). Labels missing from a margin
    contribute via the full-outer margin join with coalesce(0) —
    dropping a never-predicted class would silently shrink p_e.

    Shape: one scan through the single-pass x6 Column expression into
    a <=36-row confusion agg (map-side combined); every margin/total
    re-agg runs on that tiny relation. Corpus cost = x37's."""
    d = tbl(spark, sf_dir, "documents")
    conf = (
        d.select("lang", _tx.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()  # cache: caller-owns
    )
    rows_t = conf.groupBy(F.col("lang").alias("lab")).agg(
        F.sum("n").cast("bigint").alias("r")
    )
    cols_t = conf.groupBy(F.col("lang_pred").alias("lab")).agg(
        F.sum("n").cast("bigint").alias("c")
    )
    m = (
        rows_t.join(cols_t, "lab", "full_outer")
        .select(
            (F.coalesce(F.col("r"), F.lit(0)) * F.coalesce(F.col("c"), F.lit(0))).alias("rc")
        )
        .agg(F.sum("rc").cast("bigint").alias("src"))
    )
    t = conf.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sd"),
    )
    num = F.col("nn") * F.col("sd") - F.col("src")
    den = F.col("nn") * F.col("nn") - F.col("src")
    return t.crossJoin(m).select(
        F.col("nn").alias("n"),
        F.col("sd").alias("n_agree"),
        F.col("src").alias("sum_rowcol"),
        num.cast("bigint").alias("kappa_num"),
        den.cast("bigint").alias("kappa_den"),
        F.when(den != 0, num.cast("double") / den.cast("double"))
        .cast("double")
        .alias("kappa"),
    )


@register(
    "j16_fk_orphan_audit",
    """
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey->orders' AS edge,
             CAST(count(*) AS BIGINT) AS n_child,
             CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_keys,
             CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
               AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l.l_partkey) AS BIGINT),
             CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l.l_suppkey) AS BIGINT),
             CAST(count(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT o.o_custkey) AS BIGINT),
             CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT c.c_nationkey) AS BIGINT),
             CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT s.s_nationkey) AS BIGINT),
             CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'nation.n_regionkey->region',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT n.n_regionkey) AS BIGINT),
             CAST(count(*) FILTER (WHERE r.r_regionkey IS NULL) AS BIGINT)
      FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    )
    """,
)
def j16_fk_orphan_audit(spark, sf_dir):
    """Referential-integrity audit over every foreign-key edge of the
    star schema — the DQ gate a warehouse load runs before letting any
    join-based query (q3/q5/q7...) near the data, because a broken FK
    silently shrinks every inner join downstream: per edge, total child
    rows, distinct child keys, and ORPHANS (children whose parent is
    missing). One left join per edge with a null-parent filter count —
    the audit must COUNT orphans, not just detect them, so semi/anti
    shapes that stop at existence are not enough; the three aggregates
    ride one pass over each join's output with no materialized row set.
    A healthy load reports an all-zero orphan column — the zero vector
    IS the audit's contract, so every edge emits its row
    unconditionally (absence of an edge row would be indistinguishable
    from a skipped check — the a31 absent-digit rule).

    Shape (r13 optimization — guide §2.3 aggregate-before-shuffle +
    §2.4 share-one-exchange; before: 7 independent two-table plans =
    3 lineitem scans + 7 joins + 7 two-phase count_distinct aggs, 41
    AQE stage-jobs at sf0.1): every child table is scanned ONCE —
    lineitem emits its three FK edges from a single scan via a
    3-struct explode of just the key columns — and all seven edges
    flow through ONE (edge, key) pre-aggregation, so the only
    corpus-sized shuffle input is the map-side-combined per-key count
    table (distinct keys per edge, never raw child rows: for
    lineitem->orders that is ~|orders| narrow rows instead of
    |lineitem| rows through a join). Parents union to one
    (edge, pk) key set joined LEFT in a single pass; n_child/n_keys/
    n_orphans fold from the per-key counts (count(k) skips the NULL
    child-key group exactly as countDistinct did; a NULL child key
    finds no parent and its rows count as orphans, unchanged). At
    100 TB the win is reading the fact table once instead of three
    times and shuffling counted keys instead of raw child rows on the
    fact-fact edge; the 7-row audit surface is bit-identical."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    # children: one scan per TABLE (not per edge) — lineitem's three FK
    # columns explode from the same scan into (edge_id, key) rows
    by_child: dict[str, list[tuple[int, str]]] = {}
    for eid, (child, ck, _p, _pk) in enumerate(edges):
        by_child.setdefault(child, []).append((eid, ck))
    kids = None
    for child, cols in by_child.items():
        t = tbl(spark, sf_dir, child)
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(eid).alias("e"),
                        F.col(ck).cast("bigint").alias("k"),
                    )
                    for eid, ck in cols
                ]
            )
        ).alias("p")
        part = t.select(pairs).select("p.e", "p.k")
        kids = part if kids is None else kids.unionByName(part)
    # parents: one (edge, pk) key set, distinct once
    pars = None
    for eid, (_c, _ck, parent, pk) in enumerate(edges):
        p = tbl(spark, sf_dir, parent).select(
            F.lit(eid).alias("e"), F.col(pk).cast("bigint").alias("pk")
        )
        pars = p if pars is None else pars.unionByName(p)
    pars = pars.distinct()
    perkey = kids.groupBy("e", "k").agg(F.count(F.lit(1)).alias("cnt"))
    j = perkey.join(
        pars, (perkey.e == pars.e) & (perkey.k == pars.pk), "left"
    ).select(perkey.e.alias("e"), "k", "cnt", "pk")
    agg = j.groupBy("e").agg(
        F.sum("cnt").cast("bigint").alias("n_child"),
        F.count("k").cast("bigint").alias("n_keys"),
        F.coalesce(
            F.sum(F.when(F.col("pk").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_orphans"),
    )
    # every edge emits unconditionally (the a31 absent-digit rule): an
    # empty child table must still report its all-zero row, exactly as
    # the oracle's per-edge global aggregates do
    spine = spark.createDataFrame([(i,) for i in range(len(edges))], "e int")
    full = spine.join(agg, "e", "left")
    label = F.array(
        *[F.lit(f"{c}.{ck}->{p}") for c, ck, p, _pk in edges]
    )
    return full.select(
        F.element_at(label, F.col("e").cast("int") + 1).alias("edge"),
        F.coalesce("n_child", F.lit(0)).cast("bigint").alias("n_child"),
        F.coalesce("n_keys", F.lit(0)).cast("bigint").alias("n_keys"),
        F.coalesce("n_orphans", F.lit(0)).cast("bigint").alias("n_orphans"),
    )


@register(
    "d16_token_set_dedup",
    f"""
    WITH base AS (
      SELECT doc_id,
             list_aggregate(
               list_sort(list_distinct({_tx.tokens_sql('text')})),
               'string_agg', ' ') AS k
      FROM documents
    ), g AS (
      SELECT k, CAST(min(doc_id) AS BIGINT) AS canonical_id,
             CAST(count(*) AS BIGINT) AS n_members,
             list_aggregate(
               list_transform(list_sort(list(doc_id)),
                              x -> CAST(x AS VARCHAR)),
               'string_agg', ' ') AS member_ids
      FROM base GROUP BY k HAVING count(*) > 1
    )
    SELECT canonical_id, n_members, member_ids FROM g
    """,
)
def d16_token_set_dedup(spark, sf_dir):
    """EXACT Jaccard = 1.0 dedup — the boundary case every MinHash
    pipeline (d2) only ESTIMATES, detected with zero error: two
    documents whose token SETS are equal have unigram Jaccard exactly
    1 regardless of word order or repetition counts (scraper
    re-renders, shuffled list pages, boilerplate re-expansions), yet
    d1's byte hash misses them and d2 only flags them with
    sketch-collision probability. The canonical key is the sorted
    DISTINCT token set rendered to one string (array_sort ∘
    array_distinct + single-space join — a deterministic
    canonicalization, not a lossy sketch, so false positives are
    impossible by construction); grouping on it is one hash agg, and
    only classes with >1 member survive — each class reports its
    canonical (minimum) doc_id, size, and sorted member list rendered
    to one space-joined string (numeric-sorted BEFORE the string cast
    so 2 < 10; flat string output because the driver's pandas-based
    hash canonicalizer cannot factorize array cells — r9's only red
    row was this column as array<bigint>).
    Together d1 (bytes) / d16 (token set) / d2 (Jaccard >= t) tile the
    dedup spectrum at t = 1-exact, with d16 catching what the fixture
    actually contains: template docs over identical vocabularies.

    Shape: one scan, one map-side-combined hash agg keyed on the
    canonical string — d1's scaling argument verbatim; the key build
    is per-row Column work (distinct + sort over ~100 tokens). At
    100 TB the only added cost vs d1 is that per-row canonicalization;
    the shuffle carries one (key, doc_id) pair per row."""
    d = tbl(spark, sf_dir, "documents")
    k = F.concat_ws(" ", F.array_sort(F.array_distinct(_tx.tokens(F.col("text")))))
    g = (
        d.select(k.alias("k"), "doc_id")
        .groupBy("k")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )
    return g.select("canonical_id", "n_members", "member_ids")


@register(
    "f16_macd",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), arrs AS (
      SELECT series,
             list(day ORDER BY day) AS days,
             list_transform(list(close_c ORDER BY day),
                            x -> CAST(x * 1024 AS BIGINT)) AS vals
      FROM c GROUP BY series
    ), pre AS (
      SELECT series, days[u.i] AS day, vals[u.i] // 1024 AS close_c,
             CAST(list_reduce(list_slice(vals, 1, u.i),
                  (acc, x) -> (2 * x + 11 * acc) // 13) AS BIGINT) AS ema12_x,
             CAST(list_reduce(list_slice(vals, 1, u.i),
                  (acc, x) -> (2 * x + 25 * acc) // 27) AS BIGINT) AS ema26_x
      FROM arrs, unnest(generate_series(1, len(vals))) AS u(i)
    ), m AS (
      SELECT series, day, close_c, ema12_x, ema26_x,
             ema12_x - ema26_x AS macd_x
      FROM pre
    )
    SELECT series, day, CAST(close_c AS BIGINT) AS close_c,
           ema12_x, ema26_x, CAST(macd_x AS BIGINT) AS macd_x,
           CAST(CASE WHEN count(*) OVER w = 9
                THEN 9 * macd_x - sum(macd_x) OVER w
           END AS BIGINT) AS hist9_x
    FROM m
    WINDOW w AS (PARTITION BY series ORDER BY day
                 ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    """,
)
def f16_macd(spark, sf_dir):
    """MACD (12/26 EMA spread) with a 9-period signal histogram over
    each series' daily closes — the second canonical momentum overlay
    after f12's RSI, and the entry that proves EMA-family indicators
    can be hash-gated: the float recursion every charting library uses
    (m9's Holt lesson: cross-engine float folds flap) is replaced by an
    INTEGER EMA — closes scaled x1024, recurrence e' = (2x + (q-2)e')
    div q with q = 13/27, every step a floor division of positive
    integers both engines truncate identically, seeded with the first
    close (w9's rule: an EMA from zero underestimates every head).
    Quantization costs < 1/1024 cent per step against the real EMA — a
    documented resolution trade for bit-stable output. The signal leg
    is Cutler-style (f12 precedent): hist9_x = 9*macd - Σ(last 9 macd)
    is the SMA-9 crossover test cross-multiplied into exact integers —
    its sign flip IS the trading signal, no division ever taken.

    Shape: one (series, day) hash agg collapses the scan; per-series
    arrays hold ~30 day-rows (calendar-bounded, corpus-independent),
    and the per-day prefix folds are O(days²) per series — 900 integer
    ops on a 30-day window, still nothing against the scan; unbounded
    histories belong to the t6 stateful form instead (documented, the
    w9 contract). The hist9 window runs per series over day rows. No
    global sort, no float until nothing is left to compute."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = (
        ev.select(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("day"),
            F.struct(F.col("ts").alias("t"), cents.alias("v")).alias("s"),
        )
        .groupBy("series", "day")
        .agg(F.max("s")["v"].alias("close_c"))
    )
    arrs = c.groupBy("series").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day").alias("d"), F.col("close_c").alias("v")))
        ).alias("a")
    )
    pre = (
        arrs.withColumn(
            "vals", F.expr("transform(a, s -> CAST(s.v * 1024 AS BIGINT))")
        )
        .select("series", "vals", F.posexplode("a").alias("i0", "s"))
        .select(
            "series",
            F.col("s.d").alias("day"),
            F.col("s.v").alias("close_c"),
            F.expr(
                "aggregate(slice(vals, 2, i0), vals[0],"
                " (acc, x) -> (2 * x + 11 * acc) div 13)"
            ).alias("ema12_x"),
            F.expr(
                "aggregate(slice(vals, 2, i0), vals[0],"
                " (acc, x) -> (2 * x + 25 * acc) div 27)"
            ).alias("ema26_x"),
        )
    )
    m = pre.withColumn("macd_x", F.col("ema12_x") - F.col("ema26_x"))
    w = Window.partitionBy("series").orderBy("day").rowsBetween(-8, 0)
    return m.select(
        "series",
        "day",
        F.col("close_c").cast("bigint").alias("close_c"),
        "ema12_x",
        "ema26_x",
        F.col("macd_x").cast("bigint").alias("macd_x"),
        F.when(
            F.count(F.lit(1)).over(w) == 9,
            9 * F.col("macd_x") - F.sum("macd_x").over(w),
        )
        .cast("bigint")
        .alias("hist9_x"),
    )


@register(
    "f17_atr",
    """
    WITH b AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             CAST(max(round(value * 100)) AS BIGINT) AS high_c,
             CAST(min(round(value * 100)) AS BIGINT) AS low_c,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), tr AS (
      SELECT series, day, high_c, low_c, close_c,
             CAST(CASE WHEN lag(close_c) OVER w IS NULL THEN high_c - low_c
                  ELSE greatest(high_c - low_c,
                                abs(high_c - lag(close_c) OVER w),
                                abs(low_c - lag(close_c) OVER w))
             END AS BIGINT) AS tr_c
      FROM b WINDOW w AS (PARTITION BY series ORDER BY day)
    )
    SELECT series, day, tr_c,
           CAST(sum(tr_c) OVER v AS BIGINT) AS atr14_sum_c,
           CAST(CASE WHEN count(*) OVER v = 14
                THEN CAST(sum(tr_c) OVER v AS DOUBLE) / 14.0
           END AS DOUBLE) AS atr_c
    FROM tr
    WINDOW v AS (PARTITION BY series ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
)
def f17_atr(spark, sf_dir):
    """14-day Average True Range per series — the volatility yardstick
    position sizing and stop placement are quoted in, computed over the
    same daily bars the engine's batch view maintains (f6's OHLC
    algebra: high/low are plain cent extrema, close is the
    deterministic (ts, value)-struct argmax). True range extends the
    bar's high-low span across the overnight gap: TR = max(high-low,
    |high-prev_close|, |low-prev_close|), with the textbook first-bar
    rule TR = high-low when no prior close exists — all exact cent
    integers from one lag. The smoothing leg is Cutler-form (the f12
    decision, same reasoning: Wilder's exponential tail is a float
    recursion that flaps cross-engine; f16 shows the integer-EMA
    escape hatch when the exponential form is non-negotiable): the
    14-bar rolling SUM is the exact BIGINT carried in the output, and
    ATR itself is that integer over 14 — ONE division, emitted only
    where the window holds 14 bars (f12's warm-up rule; earlier rows
    keep a NULL ATR but still report their exact partial sum).

    Shape: one (series, day) hash agg collapses the scan (map-side
    combined); ONE window partitioned by series covers the lag and
    both rolling aggregates — Catalyst fuses them into a single
    sort+window over calendar-bounded per-series relations. No global
    sort; window state is bounded by series count, never corpus."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    b = (
        ev.select(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("day"),
            cents.alias("c"),
            F.struct(F.col("ts").alias("t"), cents.alias("v")).alias("s"),
        )
        .groupBy("series", "day")
        .agg(
            F.max("c").alias("high_c"),
            F.min("c").alias("low_c"),
            F.max("s")["v"].alias("close_c"),
        )
    )
    w = Window.partitionBy("series").orderBy("day")
    pc = F.lag("close_c").over(w)
    tr = b.select(
        "series",
        "day",
        F.when(pc.isNull(), F.col("high_c") - F.col("low_c"))
        .otherwise(
            F.greatest(
                F.col("high_c") - F.col("low_c"),
                F.abs(F.col("high_c") - pc),
                F.abs(F.col("low_c") - pc),
            )
        )
        .cast("bigint")
        .alias("tr_c"),
    )
    v = w.rowsBetween(-13, 0)
    return tr.select(
        "series",
        "day",
        "tr_c",
        F.sum("tr_c").over(v).cast("bigint").alias("atr14_sum_c"),
        F.when(
            F.count(F.lit(1)).over(v) == 14,
            F.sum("tr_c").over(v).cast("double") / F.lit(14.0),
        )
        .cast("double")
        .alias("atr_c"),
    )


@register(
    "a34_entropy_balance",
    """
    WITH h AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), hn AS (
      SELECT event_type, hr, c,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM h
    ), s AS (
      SELECT event_type,
             CAST(max(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(c * (length(bin(n * n)) - length(bin(c * c))))
                  AS BIGINT) AS ent_hb_n
      FROM hn GROUP BY event_type
    )
    SELECT event_type, n, n_buckets, ent_hb_n,
           CAST(CASE WHEN n > 0
                THEN CAST(ent_hb_n AS DOUBLE) / (2.0 * n)
           END AS DOUBLE) AS ent_bits_approx
    FROM s
    """,
)
def a34_entropy_balance(spark, sf_dir):
    """Shannon-entropy balance audit of each event type's hour-of-day
    distribution — the diversity number a corpus-mixing pipeline (x22's
    domain mixture) thresholds on: near-zero entropy means a source
    fires from one hour/domain/shard (bot, replay, stuck producer),
    near-log2(24) means uniform spread. Exactness discipline: N·H =
    Σ c_i·(log2 N - log2 c_i) is quantized with the m18/x26 half-bit
    integer log2 (floor(log2 n²)+1 = length(bin(n·n)); the shared +1s
    cancel in the difference), giving ent_hb_n = Σ c_i·(hb(N)-hb(c_i))
    — an exact BIGINT both engines assemble identically, ~N·2H
    half-bits with ≤0.5-bit-per-term quantization (documented accuracy
    trade, the transcendental-log refusal rule). The readable
    ent_bits_approx is ONE final division. Bound: each term ≤ c_i·126,
    int64-safe to ~7e16 rows per group.

    Shape: one (type, hour) map-side-combined count agg collapses the
    scan to ≤ types×24 rows; the entropy assembly is a window + re-agg
    on that tiny relation (the SQL's nested window-in-agg is spelled
    as two stages in Spark). Scan-bound at any scale."""
    ev = tbl(spark, sf_dir, "events")
    h = (
        ev.select("event_type", F.hour("ts").cast("bigint").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    from pyspark.sql import Window

    wn = Window.partitionBy("event_type")
    hb = lambda col: F.length(F.bin(col * col))  # noqa: E731
    hn = h.withColumn("n", F.sum("c").over(wn))
    s = hn.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("c") * (hb(F.col("n")) - hb(F.col("c"))))
        .cast("bigint")
        .alias("ent_hb_n"),
    )
    return s.select(
        "event_type",
        "n",
        "n_buckets",
        "ent_hb_n",
        F.when(F.col("n") > 0, F.col("ent_hb_n").cast("double") / (F.lit(2.0) * F.col("n")))
        .cast("double")
        .alias("ent_bits_approx"),
    )


@register(
    "g18_clustering_coefficient",
    """
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
    ),
    pt AS (
      SELECT node, count(*) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT deg.node, CAST(coalesce(pt.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(deg.d * (deg.d - 1) AS BIGINT) AS wedges2,
           CAST(2.0 * coalesce(pt.n_tri, 0)
                / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS DOUBLE) AS lcc
    FROM deg LEFT JOIN pt USING (node)
    WHERE deg.d >= 2
    """,
)
def g18_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node over the g8 co-purchase
    graph — lcc(v) = 2·tri(v) / (d(v)·(d(v)-1)), the community-density
    score that turns g8's raw triangle counts into a comparable
    per-node number (link prediction g15 and the k-core screen g14 both
    rank candidates better with density context; a near-1 lcc marks a
    clique member, near-0 a bridge/hub). Same support-thresholded,
    DEGREE-ORDERED enumeration as g8 (every triangle found exactly
    once, wedge work bounded O(m^1.5) under skew — the hub-node
    quadratic blowup is solved structurally, not by sampling); the new
    work is only the final LEFT join of the degree table onto the
    corner counts, direction chosen so every node with d >= 2 emits a
    row EVEN WITH ZERO TRIANGLES — an inner join would silently drop
    exactly the bridge nodes whose lcc = 0 is the finding (the
    j16/a31 absent-row rule). Exactness: tri, degree, and the wedge
    denominator d·(d-1) are exact BIGINTs; lcc is ONE final division
    (d >= 2 makes it well-defined — no ANSI 0/0 path).

    Shape: identical to g8 through the wedge join (support agg,
    symmetrized degree agg, three equi-joins, corner explode), then one
    hash agg + one left equi-join on node — the degree side is the
    node relation (small), broadcast at fixture scale, shuffled equi at
    100 TB. Citation: clustering coefficient belongs to the same
    operator family the reference's news/stock co-movement analysis
    implies (SURVEY §2.5 graph battery extension)."""
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
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    pt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    # LEFT join from the degree relation: zero-triangle nodes must emit
    # lcc = 0 rows (dropping them is indistinguishable from not checking)
    out = deg.filter(F.col("d") >= 2).join(pt, "node", "left")
    nt = F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
    return out.select(
        "node",
        nt.alias("n_tri"),
        F.col("d").cast("bigint").alias("degree"),
        (F.col("d") * (F.col("d") - 1)).cast("bigint").alias("wedges2"),
        (
            F.lit(2.0) * nt / (F.col("d") * (F.col("d") - 1)).cast("double")
        ).cast("double").alias("lcc"),
    )


#: phrase queries for x38 and keyword queries for x39 — ONE literal feeds
#: both the Spark plan and the oracle SQL text (the GBT_TREES discipline:
#: the "model" cannot drift between engines).
PHRASE_QUERIES = [
    ("p1", "hash", "join"),
    ("p2", "table", "scan"),
    ("p3", "sort", "merge"),
]
BM25_QUERIES = [
    ("q1", ("hash", "join")),
    ("q2", ("window", "agg", "sort")),
    ("q3", ("vector", "scan")),
]


@register(
    "x38_phrase_search",
    f"""
    WITH base AS (
      SELECT doc_id, {_tx.tokens_sql('text')} AS tl
      FROM documents
    ), toks AS (
      SELECT doc_id, tl[u.i] AS t, u.i AS pos
      FROM base, unnest(generate_series(1, len(tl))) AS u(i)
      WHERE tl[u.i] IN ({', '.join(repr(w) for p in PHRASE_QUERIES for w in p[1:])})
    ), q(phrase_id, w1, w2) AS (
      VALUES {', '.join(f"('{p}', '{a}', '{b}')" for p, a, b in PHRASE_QUERIES)}
    )
    SELECT q.phrase_id, t1.doc_id, CAST(count(*) AS BIGINT) AS n_occ
    FROM q
    JOIN toks t1 ON t1.t = q.w1
    JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.t = q.w2
                AND t2.pos = t1.pos + 1
    GROUP BY 1, 2
    """,
)
def x38_phrase_search(spark, sf_dir):
    """Exact PHRASE query over a positional inverted index — the search
    primitive tf/BM25 ranking cannot express: "hash join" must match
    adjacent tokens in order, not co-occurrence (s15/s16's term joins
    would conflate "join ... hash" pages). The index is the classic
    (term, doc, position) posting relation built by one posexplode;
    adjacency is an equi-join of the two terms' postings on (doc_id,
    pos+1) — integer keys, no regex over text at query time, and the
    count per doc is exact occurrences (overlapping matches included,
    the standard positional-index contract). Positions are 1-based
    token ordinals AFTER tokenization, so punctuation/case differences
    between renders of the same phrase do not break matches (same
    normalization as every text entry, _tx.tokens).

    Shape: the posting build FILTERS to the queried terms inside the
    projection that explodes (predicate on the generator output — only
    the ~6 queried terms' postings ever reach a shuffle; the full
    positional index would be built once and bucketed by term in a
    serving deployment, the s16 layout). Both join legs are equi-joins
    keyed (doc_id, pos) — candidate pairs are bounded by the rarer
    term's posting list, the s15 champion-list argument. The phrase
    relation (3 rows) broadcasts."""
    d = tbl(spark, sf_dir, "documents")
    terms = sorted({w for p in PHRASE_QUERIES for w in p[1:]})
    toks = (
        d.select("doc_id", F.posexplode(_tx.tokens(F.col("text"))).alias("i0", "t"))
        .filter(F.col("t").isin(terms))
        .select("doc_id", "t", (F.col("i0") + 1).alias("pos"))
    )
    q = spark.createDataFrame(PHRASE_QUERIES, "phrase_id string, w1 string, w2 string")
    t1 = toks.select(F.col("doc_id"), F.col("t").alias("t1"), F.col("pos").alias("p1"))
    t2 = toks.select(
        F.col("doc_id").alias("doc2"), F.col("t").alias("t2"), F.col("pos").alias("p2")
    )
    j = (
        F.broadcast(q)
        .join(t1, F.col("t1") == F.col("w1"))
        .join(
            t2,
            (F.col("doc2") == F.col("doc_id"))
            & (F.col("t2") == F.col("w2"))
            & (F.col("p2") == F.col("p1") + 1),
        )
    )
    return j.groupBy("phrase_id", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )


@register(
    "x39_bm25",
    f"""
    WITH base AS (
      SELECT doc_id, {_tx.tokens_sql('text')} AS tl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(tl)) AS BIGINT) AS l
      FROM base
    ), toks AS (
      SELECT doc_id, u.t AS t, CAST(len(tl) AS BIGINT) AS dl
      FROM base, unnest(tl) AS u(t)
      WHERE u.t IN ({', '.join(sorted(repr(w) for w in {w for _, ts in BM25_QUERIES for w in ts}))})
    ), tf AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf,
             CAST(max(dl) AS BIGINT) AS dl
      FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
    ), q(query_id, term) AS (
      VALUES {', '.join(f"('{q}', '{w}')" for q, ts in BM25_QUERIES for w in ts)}
    ), sc AS (
      SELECT q.query_id, tf.doc_id,
             ((length(bin((2 * s.n + 2) * (2 * s.n + 2)))
               - length(bin((2 * df.df + 1) * (2 * df.df + 1))))
              * 22 * tf.tf * s.l * 64)
             // (10 * tf.tf * s.l + 3 * s.l + 9 * tf.dl * s.n) AS sterm
      FROM q
      JOIN tf ON tf.t = q.term
      JOIN df ON df.t = q.term
      CROSS JOIN stats s
    ), agg AS (
      SELECT query_id, doc_id, CAST(sum(sterm) AS BIGINT) AS score_q
      FROM sc GROUP BY 1, 2
    ), r AS (
      SELECT query_id, doc_id, score_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_q DESC, doc_id) AS rnk
      FROM agg
    )
    SELECT query_id, doc_id, score_q, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def x39_bm25(spark, sf_dir):
    """BM25 top-10 retrieval (k1 = 1.2, b = 0.75) — the ranking function
    s16's raw tf dot deliberately omitted, hash-gated by refusing every
    float in it: the idf log2((N+0.5+0.5)/(df+0.5)) doubles through to
    integers as hb(2N+2) - hb(2df+1) in half-bit units (the m18/x26
    length(bin(n²)) quantization; non-negative since df <= N), and the
    length-normalized tf leg tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    clears its fractions EXACTLY by multiplying through by 10·L
    (avgdl = L/N): term score = idf_hb·22·tf·L·64 div (10·tf·L + 3·L +
    9·dl·N) — one integer floor division per (term, doc), x64 so the
    division keeps ~6 bits of fraction, summed per (query, doc) as
    exact BIGINTs. Deterministic top-10 by (score desc, doc_id).
    Int64 ceiling: idf_hb·22·tf·L·64 needs tf·L < 5e13 (fixture sf1:
    ~6e9) — past that the m17 decimal(38,0) widening applies,
    documented not silent. Quantization moves scores < 1 part in 64 —
    ranking changes only at near-ties, and deterministically.

    Shape: postings are filtered to the query vocabulary inside the
    exploding projection (only queried terms shuffle — the s15
    champion-list bound on posting joins); df and the 3-row query
    relation broadcast; corpus totals (N, L) ride a 1-row broadcast
    crossJoin (the x10/x26 bound); per-query top-10 is a window over
    each query's candidate docs, never a global sort."""
    d = tbl(spark, sf_dir, "documents")
    from pyspark.sql import Window

    base = d.select("doc_id", _tx.tokens(F.col("text")).alias("tl")).withColumn(
        "dl", F.size("tl").cast("bigint")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("l"),
    )
    terms = sorted({w for _, ts in BM25_QUERIES for w in ts})
    toks = base.select("doc_id", "dl", F.explode("tl").alias("t")).filter(
        F.col("t").isin(terms)
    )
    tf = toks.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.max("dl").cast("bigint").alias("dl"),
    )
    df = tf.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    q = spark.createDataFrame(
        [(qq, w) for qq, ts in BM25_QUERIES for w in ts], "query_id string, term string"
    )
    hb = lambda col: F.length(F.bin(col))  # noqa: E731  (squared inline below)
    sc = (
        F.broadcast(q)
        .join(tf, tf.t == F.col("term"))
        .join(F.broadcast(df), "t")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_hb",
            hb((2 * F.col("n") + 2) * (2 * F.col("n") + 2))
            - hb((2 * F.col("df") + 1) * (2 * F.col("df") + 1)),
        )
        .withColumn(
            "sterm",
            F.expr(
                "(idf_hb * 22 * tf * l * 64)"
                " div (10 * tf * l + 3 * l + 9 * dl * n)"
            ),
        )
    )
    agg = sc.groupBy("query_id", "doc_id").agg(
        F.sum("sterm").cast("bigint").alias("score_q")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_q").desc(), "doc_id")
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "doc_id", "score_q", F.col("rnk").cast("bigint").alias("rnk"))
    )


@register(
    "w22_theil_sen",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), pr AS (
      SELECT a.series,
             CAST(b.close_c - a.close_c AS BIGINT) AS dy,
             CAST(date_diff('day', a.day, b.day) AS BIGINT) AS dx
      FROM c a JOIN c b ON a.series = b.series AND a.day < b.day
    ), r AS (
      SELECT series, dy, dx,
             row_number() OVER (PARTITION BY series
                                ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx)
               AS rn,
             count(*) OVER (PARTITION BY series) AS np
      FROM pr
    )
    SELECT series, CAST(np AS BIGINT) AS n_pairs,
           dy AS med_dy_c, dx AS med_dx_days,
           CAST(CAST(dy AS DOUBLE) / dx AS DOUBLE) AS slope_c_per_day
    FROM r WHERE rn = (np + 1) // 2
    """,
)
def w22_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per series — the median of all pairwise
    slopes over the daily closes, the estimator that shrugs off the
    outlier days that drag f7's least-squares line (29.3% breakdown
    point vs OLS's zero). Exactness: each pairwise slope is the exact
    integer PAIR (dy cents, dx days); the median is selected — never
    averaged — by ranking on the double quotient dy/dx with (dy, dx)
    integer tiebreaks. The double sort key is provably ORDER-EXACT
    here, not approximate: distinct slope fractions with dx <= 31
    differ by >= 1/(31·31) ~ 1e-3 while the quotient rounding error is
    ~1e-10, so both engines sort identically; the lower median
    (rn = (P+1) div 2) pins the even-count case to one element (the
    d14/a18 deterministic-selection rule). Output keeps the exact
    (dy, dx) witness pair alongside the one divided readout.

    Shape: the pair build is a per-series self-join of the ~30-row
    DAILY relation — O(days²) per series, calendar-bounded and
    corpus-independent (the f16 contract; the raw corpus collapses in
    the first map-side-combined agg and is never pairwise-joined), and
    the ranking window runs over those same bounded pair sets. For
    multi-year series the windowed/repeated-median variants apply —
    documented, not silently different."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = (
        ev.select(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("day"),
            F.struct(F.col("ts").alias("t"), cents.alias("v")).alias("s"),
        )
        .groupBy("series", "day")
        .agg(F.max("s")["v"].alias("close_c"))
    )
    a = c.select("series", F.col("day").alias("d1"), F.col("close_c").alias("c1"))
    b = c.select(
        F.col("series").alias("series_b"),
        F.col("day").alias("d2"),
        F.col("close_c").alias("c2"),
    )
    pr = a.join(
        b, (F.col("series") == F.col("series_b")) & (F.col("d1") < F.col("d2"))
    ).select(
        "series",
        (F.col("c2") - F.col("c1")).cast("bigint").alias("dy"),
        F.datediff(F.col("d2"), F.col("d1")).cast("bigint").alias("dx"),
    )
    w = Window.partitionBy("series").orderBy(
        F.col("dy").cast("double") / F.col("dx"), "dy", "dx"
    )
    wp = Window.partitionBy("series")
    r = pr.select(
        "series",
        "dy",
        "dx",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("np"),
    )
    # integer div, not `/`: float division made rn == np/2 + 0.5 vacuous
    # for EVEN pair counts (every fixture series has odd C(30,2) = 435
    # pairs, so only the generated-data fuzz battery caught it)
    return r.filter(F.col("rn") == F.expr("(np + 1) div 2")).select(
        "series",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("dy").alias("med_dy_c"),
        F.col("dx").alias("med_dx_days"),
        (F.col("dy").cast("double") / F.col("dx")).cast("double").alias("slope_c_per_day"),
    )


@register(
    "f18_sharpe",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT series,
             CAST(close_c - lag(close_c)
                  OVER (PARTITION BY series ORDER BY day) AS BIGINT) AS ret_c
      FROM c
    ), s AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ret_c) AS BIGINT) AS sr,
             CAST(sum(ret_c * ret_c) AS BIGINT) AS ssq
      FROM d WHERE ret_c IS NOT NULL GROUP BY series
    )
    SELECT series, n AS n_rets, sr AS sum_ret_c, ssq AS ssq_ret_c,
           CAST(CASE WHEN n >= 2 AND n * ssq - sr * sr > 0
                THEN (CAST(sr AS DOUBLE) * sqrt(CAST(n * (n - 1) AS DOUBLE)))
                     / (CAST(n AS DOUBLE)
                        * sqrt(CAST(n * ssq - sr * sr AS DOUBLE)))
           END AS DOUBLE) AS sharpe_daily
    FROM s
    """,
)
def f18_sharpe(spark, sf_dir):
    """Daily Sharpe ratio per series (zero risk-free rate) over cent
    P&L returns — mean over sample-stddev of the day-over-day close
    changes, THE risk-adjusted headline number every backtest (f13)
    must report next to its raw PnL. Returns are kept as exact cent
    DIFFERENCES (arithmetic P&L per unit, not log/pct ratios — the
    integer-exactness choice, documented; ratio returns would force a
    float at step one). The a15/a33 sufficient-statistic discipline:
    (n, Σr, Σr²) are exact BIGINTs and Sharpe is assembled as
    s·√(n(n-1)) / (n·√(nΣr²-s²)) — two correctly-rounded IEEE sqrts of
    exact integers, one multiply each side, ONE division, spelled
    identically in both engines so every intermediate double is
    bit-equal. Zero-variance and single-return series yield NULL by
    guard (a15's ANSI 0/0 lesson). Int64 bound: n·Σr² needs n·r² <
    9e18 — safe beyond 10⁶ trading days at ±$30k daily moves.

    Shape: one (series, day) map-side-combined agg collapses the scan,
    one per-series lag window over calendar-bounded rows, one final
    tiny agg — scan-bound at any scale, no global sort. Annualization
    is a literal √252 multiple the consumer applies; baking it in
    would just scale every row by one constant."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    c = (
        ev.select(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("day"),
            F.struct(F.col("ts").alias("t"), cents.alias("v")).alias("s"),
        )
        .groupBy("series", "day")
        .agg(F.max("s")["v"].alias("close_c"))
    )
    w = Window.partitionBy("series").orderBy("day")
    d = c.select(
        "series", (F.col("close_c") - F.lag("close_c").over(w)).cast("bigint").alias("ret_c")
    ).filter(F.col("ret_c").isNotNull())
    s = d.groupBy("series").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ret_c").cast("bigint").alias("sr"),
        F.sum(F.col("ret_c") * F.col("ret_c")).cast("bigint").alias("ssq"),
    )
    var_n = F.col("n") * F.col("ssq") - F.col("sr") * F.col("sr")
    return s.select(
        "series",
        F.col("n").alias("n_rets"),
        F.col("sr").alias("sum_ret_c"),
        F.col("ssq").alias("ssq_ret_c"),
        F.when(
            (F.col("n") >= 2) & (var_n > 0),
            (
                F.col("sr").cast("double")
                * F.sqrt((F.col("n") * (F.col("n") - 1)).cast("double"))
            )
            / (F.col("n").cast("double") * F.sqrt(var_n.cast("double"))),
        )
        .cast("double")
        .alias("sharpe_daily"),
    )


