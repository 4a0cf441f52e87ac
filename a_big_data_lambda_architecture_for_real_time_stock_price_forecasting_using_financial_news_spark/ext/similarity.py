"""Similarity search over the `embeddings` table (array<float>, 64-dim).

The ANN quantization ladder (exact -> coarse cells -> scalar int8 ->
product quantization) plus a near-dup pass:

  brute-force top-k   broadcast the (small) query set, score every corpus
                      vector, per-query top-k window. O(Q*N) — exact
                      baseline; at 100 TB this is the recall yardstick run
                      on samples, not the serving path.
  IVF top-k           coarse-quantize every vector into a sign-bit cell
                      (first IVF_DIMS dimensions), probe only the query's
                      cell: equi-join on cell id, O(Q*N/cells) expected.
                      Cells are data-independent (no training step) so the
                      same SQL is the oracle; a learned k-means coarse
                      quantizer drops in by replacing `ivf_cell`.
  near-dup pairs      cosine >= tau inside a coarse cell (here the fixture
                      `label`) — the embedding leg of dedup.

Float determinism: cosine is computed as explicit left-fold dot/norm over
float->double casts (`F.aggregate` in Spark, `list_reduce` in DuckDB, both
sequential), so both engines produce bit-identical doubles and the driver's
value-hash compare holds. Built-in reducers (DuckDB list_dot_product etc.)
are NOT used in oracles because their summation order is unspecified.

All expressions are JVM-side higher-order functions — no Python worker in
the scoring loop. At 64 dims the fold is ~128 fused ops/row inside codegen;
for much wider vectors switch to a pandas_udf with numpy dot (Arrow-batched).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

IVF_DIMS = 6  # 2^6 = 64 cells

# The top-k entry points broadcast the QUERY side (serving contract: Q is
# request-sized, the corpus is the big side). A corpus-sized query set —
# batch self-similarity — must NOT go through them: broadcasting it would
# OOM every executor. That job's documented path is `near_dup_pairs` /
# dedup's LSH. The guard below turns the misuse into a loud error instead.
MAX_BROADCAST_QUERIES = 100_000


def _serving_sized(queries: DataFrame, fn: str, limit: int | None = None) -> DataFrame:
    """Assert the query set honors the serving-sized broadcast contract.

    The check takes at most ``limit + 1`` zero-column rows, not a full
    count, so its cost is bounded by the contract itself, and it fails
    with the intended alternative named instead of an executor OOM.
    ``take`` plans a CollectLimit, which is not code-generated. A
    ``limit().count()`` would plan a Local/GlobalLimit pair whose counter
    field Spark names from a JVM-global sequence, so every build would
    compile two new classes (and run one more job)."""
    limit = MAX_BROADCAST_QUERIES if limit is None else limit
    n = len(queries.select().take(limit + 1))
    if n > limit:
        raise ValueError(
            f"{fn}: query set exceeds {limit} rows — the query side is "
            "broadcast, so corpus-sized query sets would OOM executors. "
            "For batch all-pairs similarity use near_dup_pairs (or dedup's "
            "minhash/simhash LSH); for batch top-k, chunk the query set."
        )
    return queries


# Per-partition byte target for LIGHT passes (one probe/encode per row):
# far denser than Spark's 128MB scan default because vector columns expand
# ~4x from parquet to rows, but still coarse enough that task scheduling
# doesn't dominate. Measured at sf0.1 (1.3MB corpus): repartition(32) cost
# 0.6s of shuffle+scheduling against ~0 compute win — the r4->r5 "s2
# drift" was exactly this, the fixture regen changed nothing but the
# constant overhead share.
SPREAD_LIGHT_BYTES = 2 << 20


def _spread_corpus(df: DataFrame, heavy: bool = False) -> DataFrame:
    """Round-robin repartition for under-partitioned (single-file) corpora —
    same rationale as dedup._spread; no-op when the source has real files
    (at scale parquet splits cap partitions at maxPartitionBytes, so an
    under-partitioned input is BY CONSTRUCTION a small one).

    ``heavy`` callers (per-row cost is many vector ops: brute-force Q*N
    scoring, k-means assigns, quadratic within-cell pair passes) spread to
    all slots — compute dwarfs task overhead. Light callers (cell-probe
    joins, int8 encodes) spread proportionally to the optimizer's size
    estimate instead: a corpus that fits in a couple of partitions is
    CHEAPER on a couple of partitions than behind a 32-way shuffle."""
    slots = min(df.sparkSession.sparkContext.defaultParallelism, 32)
    if df.rdd.getNumPartitions() >= min(slots, 8):
        return df
    if heavy:
        return df.repartition(slots)
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    target = max(1, min(slots, -(-size // SPREAD_LIGHT_BYTES)))
    if target <= df.rdd.getNumPartitions():
        return df
    return df.repartition(target)


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _fold_sum_sql(list_expr: str) -> str:
    # seed the fold with 0.0 via prepend: matches F.aggregate's zero term
    return f"list_reduce(list_prepend(0.0, {list_expr}), (acc, x) -> acc + x)"


def dot_sql(a: str, b: str) -> str:
    # index-based zip: DuckDB's list_zip yields structs whose field access
    # is clunky in lambdas; range indexing matches Spark's zip_with order
    return _fold_sum_sql(
        f"list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({_fold_sum_sql(f'list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))')})"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def ivf_cell(emb: Column, dims: int = IVF_DIMS) -> Column:
    """Data-independent coarse cell: sign bits of the first `dims` dims.
    try_element_at, not element_at: vectors SHORTER than `dims` must
    contribute 0 for the missing dimensions (DuckDB's list index returns
    NULL there; ANSI element_at raised INVALID_ARRAY_INDEX — r10 fuzz
    catch on a 1-dim generated corpus)."""
    cell = F.lit(0)
    for i in range(dims):
        cell = cell + F.when(
            F.try_element_at(emb, F.lit(i + 1)) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return cell


def ivf_cell_sql(emb: str, dims: int = IVF_DIMS) -> str:
    return " + ".join(
        f"CASE WHEN {emb}[{i + 1}] > 0 THEN {2**i} ELSE 0 END" for i in range(dims)
    )


def topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x full corpus scan.

    The query side is explicitly broadcast, so the plan is a single pass
    over the corpus with no shuffle of the big side; the window top-k then
    shuffles only Q*N score rows — at scale, pre-aggregate with a partial
    top-k per partition before the window if Q*N is large."""
    queries = _serving_sized(queries, "topk_bruteforce")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"),
            norm(F.col(emb_col)).alias("q_norm"),
        )
    )
    c = _spread_corpus(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")),
        heavy=True,  # Q*N cosine scoring: compute dwarfs task overhead
    ).withColumn("c_norm", norm(F.col("c_emb")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # norms are computed once per input row BELOW the join (not once per
        # pair); dot/(q_norm*c_norm) is value-identical to dot/(|a|*|b|)
        .withColumn("score", dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def topk_bruteforce_sql(
    table: str, query_pred: str, k: int, id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    cos = cosine_sql("q.q_emb", "c.c_emb")
    return f"""
    WITH q AS (
      SELECT {id_col} AS query_id, {emb_col} AS q_emb FROM {table} WHERE {query_pred}
    ), c AS (
      SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb FROM {table}
    ), scored AS (
      SELECT q.query_id, c.neighbor_id, {cos} AS score
      FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {k}
    """


def topk_ivf(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id",
    emb_col: str = "embedding", dims: int = IVF_DIMS,
) -> DataFrame:
    """Approximate top-k probing only the query's coarse cell. The join is
    an equi-join on cell id, so Catalyst broadcasts the (small) query side
    and the corpus shuffles at most once on cell — skewed cells are AQE's
    problem, empty candidate sets mean fewer than k results (expected ANN
    behavior, measured as recall vs. topk_bruteforce)."""
    queries = _serving_sized(queries, "topk_ivf")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            norm(F.col(emb_col)).alias("q_norm"),
            ivf_cell(F.col(emb_col), dims).alias("cell"),
        )
    )
    c = _spread_corpus(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb"))
    ).select(
        "neighbor_id",
        "c_emb",
        norm(F.col("c_emb")).alias("c_norm"),
        ivf_cell(F.col("c_emb"), dims).alias("cell"),
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def topk_ivf_sql(
    table: str, query_pred: str, k: int, id_col: str = "vec_id",
    emb_col: str = "embedding", dims: int = IVF_DIMS,
) -> str:
    cos = cosine_sql("q.q_emb", "c.c_emb")
    return f"""
    WITH q AS (
      SELECT {id_col} AS query_id, {emb_col} AS q_emb,
             {ivf_cell_sql(emb_col, dims)} AS cell
      FROM {table} WHERE {query_pred}
    ), c AS (
      SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb,
             {ivf_cell_sql(emb_col, dims)} AS cell
      FROM {table}
    ), scored AS (
      SELECT q.query_id, c.neighbor_id, {cos} AS score
      FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {k}
    """


def embedding_near_dup(
    df: DataFrame, threshold: float, cell_col: str = "label",
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a coarse cell (blocked like
    the text dedup passes: the self-join key is the cell)."""
    base = _spread_corpus(
        df.select(
            F.col(id_col).alias("vid"), F.col(cell_col).alias("cell"),
            F.col(emb_col).alias("emb"),
        ),
        heavy=True,  # within-cell pair scoring is quadratic in cell size
    ).withColumn("nrm", norm(F.col("emb")))
    # persist: both self-join sides read the same normed table; without the
    # barrier each side re-runs the scan + spread + norm fold
    base = base.persist()  # cache: caller-owns
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, "cell")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .withColumn(
            "score",
            dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm")),
        )
        .filter(F.col("score") >= threshold)
        .select(
            F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"),
            F.col("score"),
        )
    )


def embedding_near_dup_sql(
    table: str, threshold: float, cell_col: str = "label",
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> str:
    cos = cosine_sql("a.emb", "b.emb")
    return f"""
    WITH base AS (
      SELECT {id_col} AS vid, {cell_col} AS cell, {emb_col} AS emb FROM {table}
    )
    SELECT a.vid AS id_a, b.vid AS id_b, {cos} AS score
    FROM base a JOIN base b ON a.cell = b.cell AND a.vid < b.vid
    WHERE {cos} >= {threshold}
    """


# --- int8 quantization ------------------------------------------------------


def quantize_int8(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: code_i = floor(x_i/m*127+0.5)
    with m = max|x| — the storage/serving compression step of an embedding
    pipeline (4x smaller than float32, SIMD-friendly dot products).

    Shape: ZERO-shuffle, zero-join single pass. The per-vector max is an
    `array_max(transform(...))` column staged in the projection BELOW the
    posexplode — the Generate keeps it as a plain attribute, so it is
    evaluated once per VECTOR, never per element (mentioning the max
    expression inside the per-element arithmetic would re-run it once per
    element — the measured lambda-inlining trap, see ext/dedup.py). An
    earlier shape computed the max as a groupBy + `F.broadcast` join-back:
    correct, but the "small" side has one row per corpus vector, and at
    billions of vectors that broadcast pins the whole corpus into every
    executor — the projected-column form removes the shuffle AND the OOM.
    floor(+0.5) not round(): Spark rounds HALF_UP, DuckDB rounds half away
    from zero — floor is the same function in both engines. Zero vectors
    (m = 0) are dropped.
    """
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("e"),
        F.array_max(
            F.transform(F.col(vec_col), lambda v: F.abs(v.cast("double")))
        ).alias("m"),
    ).filter(F.col("m") > 0)
    return base.select("vec_id", "m", F.posexplode("e")).select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("pos"),
        F.floor(F.col("col").cast("double") / F.col("m") * 127 + F.lit(0.5))
        .cast("int")
        .alias("code"),
    )


def quantize_int8_sql(table: str, id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    return f"""
    WITH base AS (
      SELECT {id_col} AS vec_id,
             list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS e
      FROM {table}
    ), withm AS (
      SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS m FROM base
    )
    SELECT vec_id, CAST(i AS INTEGER) AS pos,
           CAST(floor(e[i] / m * 127 + 0.5) AS INTEGER) AS code
    FROM withm, unnest(range(1, len(e) + 1)) AS t(i)
    WHERE m > 0
    """


# --- k-means-trained IVF (learned coarse quantizer + multiprobe) ------------
#
# The sign-bit `ivf_cell` above is data-independent; the standard upgrade is
# a k-means-trained coarse quantizer: centroids learned from a sample,
# vectors assigned to their nearest centroid's cell, queries probing the
# `probe` nearest cells (multiprobe). At 100 TB: training touches only a
# hash-gated sample, the k centroids broadcast everywhere (k x dim doubles),
# assignment is one map-side pass (cost fold + min-struct partial agg), and
# the probe join is a plain equi-join on cell id — the same shuffle shape as
# the sign-bit path, with data-adaptive cells.
#
# Oracle exactness (the driver hash-compares against DuckDB): every training
# step is integer-exact or deterministic-IEEE —
#   * coordinates quantize to ints via floor(x * 1024); 1024 = 2^10, so the
#     multiply is a pure exponent shift and floor sees an exact double;
#   * Lloyd updates aggregate INTEGER sums per (cell, dim) — sums are
#     order-independent, so shuffle order cannot perturb centroids;
#   * centroid coords are one double division sum/count of exact ints;
#   * distance folds are sequential left-folds with identical op order in
#     both engines (zip_with/aggregate <-> list_transform/list_reduce);
#   * seeding ranks a 60-bit md5 hash (ext/hashing.py) — no RNG anywhere.

KM_K = 64  # centroids = cells; matches the sign-bit path's 2^IVF_DIMS cells
# Lloyd updates from the deterministic seeds. One update already moves every
# seed to the mean of its catchment; on the fixture corpus measured recall is
# IDENTICAL at 1/2/3 updates (0.42 vs sign-bit 0.06), while each extra round
# costs a full assign+recompute pass — so the default trains exactly one.
# Raise per call for harder corpora; the oracle SQL tracks the parameter.
KM_ITERS = 1
KM_SAMPLE_MOD = 4  # train on the ~1/4 hash-gated sample
_KM_QSCALE = 1024  # 2^10: exact double multiply before floor


def _km_quant(emb: Column) -> Column:
    return F.transform(
        emb, lambda x: F.floor(x.cast("double") * _KM_QSCALE).cast("bigint")
    )


def _km_cost(q: Column, c: Column, cn2: Column) -> Column:
    """Nearest-centroid ranking cost: ||c||^2 - 2*(q . c).

    Equivalent argmin to squared L2 (||q||^2 is constant within a vector's
    comparison set, so it cannot change the ranking) at ~half the
    higher-order-function work per pair — the dot is ONE zip_with+fold, and
    ||c||^2 is a staged per-CENTROID column (k rows total, never per pair).
    Both engines compute the identical formula and op order, so the doubles
    (and therefore the argmin + tie-break) agree bit-for-bit."""
    d = F.aggregate(
        F.zip_with(q, c, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return cn2 - F.lit(2.0) * d


def _km_cn2(c: Column) -> Column:
    return F.aggregate(
        F.transform(c, lambda y: y * y), F.lit(0.0), lambda a, x: a + x
    )


def _km_cost_sql(q: str, c: str, cn2: str) -> str:
    prods = (
        f"list_transform(range(1, len({q}) + 1),"
        f" i -> CAST({q}[i] AS DOUBLE) * {c}[i])"
    )
    d = f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"
    return f"({cn2} - 2.0 * {d})"


def _km_cn2_sql(c: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform({c}, y -> y * y)),"
        f" (acc, x) -> acc + x)"
    )


def _km_assign(vecs: DataFrame, cents: DataFrame, extra: list[str]) -> DataFrame:
    """Nearest centroid per vector, computed ENTIRELY inside one projection:
    the k-row centroid table collapses to a single array-of-structs row
    (sorted by cid), rides a 1-row broadcast, and each vector folds the
    lexicographic (cost, cid) min over that array in-expression.

    r13 rewrite (guide §2.1 remove-shuffles): the previous shape crossJoined
    the corpus against the broadcast k-row table (k x N rows materialized)
    and took min(struct(cost, cid, extra)) through a groupBy(vec_id) — a
    full-corpus hash exchange CARRYING THE EMBEDDING PAYLOADS, per
    assignment call, that exists only to undo the k-way row blowup. At
    100 TB that exchange shuffles the whole corpus once per assign (train,
    store build, batch probe each pay it); the fold keeps assignment a
    map-only operator, so the only exchange left in an assign is the k-row
    collect (hash on a constant key — k rows, not corpus rows).

    Exact-equivalence notes (the oracle pins argmin + tie-break):
    - fold order is ascending cid (sort_array on the unique leading field),
      and the keep-condition replicates min(struct)'s NULLS FIRST struct
      comparison: s beats acc iff s.cost IS NULL AND acc.cost IS NOT NULL,
      or s.cost < acc.cost; ties (incl. both-null) keep the earlier cid.
    - _km_cost is evaluated once per centroid inside a transform (module
      rule: no expensive expression twice in one lambda/projection chain),
      and the fold result is mentioned exactly once in the projection.
    - the k-row collapse groups on a CONSTANT KEY rather than a global
      agg, so an empty centroid table yields zero rows and the crossJoin
      stays empty — identical to the old shape's empty-join behavior.
    ``extra`` columns now simply stay on the vector's row (no shuffle, so
    nothing needs to ride a struct)."""
    ca = cents.select("cid", "c", _km_cn2(F.col("c")).alias("cn2"))
    carr = (
        ca.groupBy(F.lit(1).alias("_g"))
        .agg(
            F.sort_array(F.collect_list(F.struct("cid", "c", "cn2"))).alias(
                "_cents"
            )
        )
        .drop("_g")
    )
    scored = F.transform(
        F.col("_cents"),
        lambda ct: F.struct(
            _km_cost(F.col("q"), ct["c"], ct["cn2"]).alias("cost"),
            ct["cid"].alias("cid"),
        ),
    )
    zero = F.struct(
        F.lit(float("inf")).alias("cost"), F.lit(None).cast("int").alias("cid")
    )
    best = F.aggregate(
        scored,
        zero,
        lambda acc, s: F.when(
            (s["cost"].isNull() & acc["cost"].isNotNull())
            | (s["cost"] < acc["cost"]),
            s,
        ).otherwise(acc),
    )
    return vecs.crossJoin(F.broadcast(carr)).select(
        "vec_id", best["cid"].alias("cid"), *extra
    )


def train_kmeans_centroids(
    emb: DataFrame,
    k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """-> (cid int, c array<double>): centroids after ``iters`` Lloyd
    updates over the hash-gated sample, seeded by the k sample vectors with
    the smallest md5-derived hash. Fully deterministic (see module notes),
    so the same procedure in SQL is the oracle."""
    from . import hashing as _h

    base = emb.select(
        F.col(id_col).alias("vec_id"), _km_quant(F.col(emb_col)).alias("q")
    )
    # persist the training sample and every centroid generation: each
    # centroid table is re-referenced by 2-3 downstream broadcasts (next
    # Lloyd round + corpus assign + query probe), and without a
    # materialization barrier every broadcast would replay the WHOLE
    # training lineage from the scan. All tiny (sample rows / k rows).
    samp = base.filter(
        _h.phash60(F.col("vec_id").cast("string"), "km-sample") % KM_SAMPLE_MOD == 0
    ).persist()  # cache: caller-owns
    seeds = (
        samp.withColumn("h", _h.phash60(F.col("vec_id").cast("string"), "km-seed"))
        .orderBy("h", "vec_id")
        .limit(k)
        .withColumn("cid", F.row_number().over(Window.orderBy("h", "vec_id")))
    )
    cents = seeds.select(
        "cid", F.transform("q", lambda x: x.cast("double")).alias("c")
    )
    for _ in range(iters):
        assigned = _km_assign(samp, cents, extra=["q"])
        percell = (
            assigned.select("cid", F.posexplode("q"))
            .groupBy("cid", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cents = (
            percell.withColumn("m", F.col("s").cast("double") / F.col("n"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda t: t.getField("m"),
                ).alias("c")
            )
            .persist()  # cache: caller-owns
        )
    return cents


def _km_ctes(
    table: str,
    km_k: int,
    iters: int,
    id_col: str,
    emb_col: str,
    prefix: str = "",
) -> tuple[str, str]:
    """DuckDB CTE chain replicating train_kmeans_centroids step for step;
    returns (cte_sql, final_centroid_cte_name). ``prefix`` namespaces every
    CTE so multiple chains (the per-subspace PQ codebooks) can coexist in
    one WITH clause."""
    from .hashing import phash60_sql

    h_samp = phash60_sql(f"CAST({id_col} AS VARCHAR)", "km-sample")
    h_seed = phash60_sql(f"CAST({id_col} AS VARCHAR)", "km-seed")
    cost = _km_cost_sql("s.q", "c.c", "c.cn2")
    p = prefix
    ctes = f"""
    {p}kmbase AS (
      SELECT {id_col} AS vec_id, {emb_col} AS e,
             list_transform({emb_col},
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS q
      FROM {table}
    ),
    {p}kmsamp AS (SELECT * FROM {p}kmbase WHERE {h_samp} % {KM_SAMPLE_MOD} = 0),
    {p}kmseeds AS (
      SELECT vec_id, q,
             CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cid
      FROM (SELECT vec_id, q, {h_seed} AS h FROM {p}kmsamp
            ORDER BY h, vec_id LIMIT {km_k})
    ),
    {p}cents0 AS (SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS c FROM {p}kmseeds)"""
    prev = f"{p}cents0"
    for t in range(1, iters + 1):
        ctes += f""",
    {p}caug{t} AS (SELECT cid, c, {_km_cn2_sql("c")} AS cn2 FROM {prev}),
    {p}asg{t} AS (
      SELECT vec_id, q, cid FROM (
        SELECT s.vec_id, s.q, c.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM {p}kmsamp s CROSS JOIN {p}caug{t} c
      ) WHERE rn = 1
    ),
    {p}cents{t} AS (
      SELECT cid, list(m ORDER BY i) AS c FROM (
        SELECT cid, i, CAST(sum(q[i]) AS DOUBLE) / count(*) AS m
        FROM {p}asg{t}, unnest(range(1, len(q) + 1)) AS u{p}{t}(i)
        GROUP BY cid, i
      ) GROUP BY cid
    )"""
        prev = f"{p}cents{t}"
    return ctes, prev


def topk_ivf_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    probe: int = 2,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN top-k with the learned quantizer: corpus vectors live in their
    nearest centroid's cell; each query probes its ``probe`` nearest cells
    (multiprobe) and scores exact cosine against just those candidates."""
    queries = _serving_sized(queries, "topk_ivf_kmeans")
    cents = train_kmeans_centroids(corpus, km_k, iters, id_col, emb_col)
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("e"),
        _km_quant(F.col(emb_col)).alias("q"),
    )
    ccells = _km_assign(_spread_corpus(base, heavy=True), cents, extra=["e"]).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cid").alias("cell"),
        F.col("e").alias("c_emb"),
        norm(F.col("e")).alias("c_norm"),
    )
    qbase = queries.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("e"),
        _km_quant(F.col(emb_col)).alias("q"),
    )
    ca = cents.select("cid", "c", _km_cn2(F.col("c")).alias("cn2"))
    qscored = qbase.crossJoin(F.broadcast(ca)).withColumn(
        "cost", _km_cost(F.col("q"), F.col("c"), F.col("cn2"))
    )
    wq = Window.partitionBy("vec_id").orderBy("cost", "cid")
    probes = F.broadcast(
        qscored.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= probe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("cell"),
            F.col("e").alias("q_emb"),
            norm(F.col("e")).alias("q_norm"),
        )
    )
    scored = (
        probes.join(ccells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def topk_ivf_kmeans_sql(
    table: str,
    query_pred: str,
    k: int,
    probe: int = 2,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    ctes, cfinal = _km_ctes(table, km_k, iters, id_col, emb_col)
    cost = _km_cost_sql("b.q", "c.c", "c.cn2")
    cos = cosine_sql("p.e", "cc.e")
    return f"""
    WITH {ctes},
    caugf AS (SELECT cid, c, {_km_cn2_sql("c")} AS cn2 FROM {cfinal}),
    corpus_cells AS (
      SELECT vec_id, e, cid FROM (
        SELECT b.vec_id, b.e, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM kmbase b CROSS JOIN caugf c
      ) WHERE rn = 1
    ),
    qprobes AS (
      SELECT vec_id, e, cid FROM (
        SELECT b.vec_id, b.e, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM (SELECT * FROM kmbase WHERE {query_pred}) b CROSS JOIN caugf c
      ) WHERE rn <= {probe}
    ),
    kmscored AS (
      SELECT p.vec_id AS query_id, cc.vec_id AS neighbor_id, {cos} AS score
      FROM qprobes p JOIN corpus_cells cc
        ON p.cid = cc.cid AND p.vec_id <> cc.vec_id
    ),
    kmranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM kmscored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
    FROM kmranked WHERE rank <= {k}
    """


# --- int8-dot candidate cascade (IVF probe -> quantized prefilter -> exact
# rerank) ---------------------------------------------------------------------

RERANK_CAND = 25


def _int8_codes(e: Column, m: Column) -> Column:
    return F.transform(
        e, lambda x: F.floor(x.cast("double") / m * 127 + F.lit(0.5)).cast("bigint")
    )


def _int8_codes_sql(e: str, m: str) -> str:
    return (
        f"list_transform({e},"
        f" x -> CAST(floor(CAST(x AS DOUBLE) / {m} * 127 + 0.5) AS BIGINT))"
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _int_dot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])),"
        f" (acc, x) -> acc + x) AS BIGINT)"
    )


def topk_int8_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    cand: int = RERANK_CAND,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = IVF_DIMS,
) -> DataFrame:
    """The production ANN serving cascade: coarse IVF cell probe ->
    int8-quantized integer-dot prefilter (top ``cand`` per query) -> exact
    float cosine rerank of the survivors (top ``k``).

    Why the middle stage exists: at scale the cell join emits
    O(Q * N / cells) candidate pairs, and scoring each with the full-width
    float dot is the dominant cost. The int8 dot is 4x less memory traffic
    (SIMD int8 FMA on real hardware), and only ``cand`` survivors per query
    pay the exact cosine. Both phases rank by exact-integer or
    bit-reproducible scores with id tie-breaks, so results are
    deterministic and the SQL twin matches bit-for-bit. Zero-magnitude
    vectors carry no quantization scale and are filtered from both sides
    (same rule as quantize_int8)."""
    queries = _serving_sized(queries, "topk_int8_rerank")

    def enc(df: DataFrame, idal: str, embal: str, nal: str):
        base = df.select(
            F.col(id_col).alias(idal),
            F.col(emb_col).alias(embal),
            F.array_max(
                F.transform(F.col(emb_col), lambda v: F.abs(v.cast("double")))
            ).alias("_m"),
        ).filter(F.col("_m") > 0)
        return base.select(
            idal,
            embal,
            norm(F.col(embal)).alias(nal),
            ivf_cell(F.col(embal), dims).alias("cell"),
            _int8_codes(F.col(embal), F.col("_m")).alias(f"{embal}_q"),
        )

    q = F.broadcast(enc(queries, "query_id", "q_emb", "q_norm"))
    c = enc(_spread_corpus(corpus), "neighbor_id", "c_emb", "c_norm")
    pre = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("qdot", _int_dot(F.col("q_emb_q"), F.col("c_emb_q")))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("qdot"), F.asc("neighbor_id")
    )
    survivors = (
        pre.withColumn("crank", F.row_number().over(w1))
        .filter(F.col("crank") <= cand)
    )
    rer = survivors.withColumn(
        "score",
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "score", "rank")
    )


def topk_int8_rerank_sql(
    table: str,
    query_pred: str,
    k: int,
    cand: int = RERANK_CAND,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = IVF_DIMS,
) -> str:
    cos = cosine_sql("q.q_emb", "c.c_emb")
    idot = _int_dot_sql("q.qq", "c.cq")
    return f"""
    WITH base AS (
      SELECT {id_col}, {emb_col} AS e,
             list_max(list_transform({emb_col}, v -> abs(CAST(v AS DOUBLE)))) AS m,
             {ivf_cell_sql(emb_col, dims)} AS cell
      FROM {table}
    ), enc AS (
      SELECT {id_col}, e, cell, {_int8_codes_sql("e", "m")} AS cq
      FROM base WHERE m > 0
    ), pre AS (
      SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
             q.e AS q_emb, c.e AS c_emb, {idot} AS qdot
      FROM (SELECT {id_col}, e, cell, cq AS qq FROM enc WHERE {query_pred}) q
      JOIN enc c ON q.cell = c.cell AND q.{id_col} <> c.{id_col}
    ), survivors AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, q_emb, c_emb, qdot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qdot DESC, neighbor_id) AS crank
        FROM pre
      ) WHERE crank <= {cand}
    ), rer AS (
      SELECT query_id, neighbor_id, qdot,
             {cos.replace('q.q_emb', 'q_emb').replace('c.c_emb', 'c_emb')} AS score
      FROM survivors
    ), ranked AS (
      SELECT query_id, neighbor_id, qdot, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM rer
    )
    SELECT query_id, neighbor_id, qdot, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Deterministic random projection (dimensionality reduction)
# ---------------------------------------------------------------------------

PROJ_DIM_IN = 64
PROJ_DIM_OUT = 8


def _proj_weight(i: int, j: int) -> int:
    """Integer projection weight in [-6, 6], a fixed pseudo-random pattern.

    Sparse-integer random projections (Achlioptas-style) preserve pairwise
    distances like Gaussian ones do; INTEGER weights mean every product
    `x_i * w_ij` is a single correctly-rounded IEEE multiply, so the
    projection is bit-deterministic across engines — a seeded float matrix
    would not be (each engine's RNG differs)."""
    return ((3 + 31 * i + 17 * j) % 13) - 6


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim_in: int = PROJ_DIM_IN,
    dim_out: int = PROJ_DIM_OUT,
) -> DataFrame:
    """Project dim_in-dim embeddings to dim_out dims with a fixed sparse
    integer matrix: out_j = sum_i x_i * w(i,j), summed in ascending-i
    order (left-associated adds, the cross-engine float contract used by
    every fold in this repo).

    The 100 TB shape: ZERO shuffle, zero join, zero Python — one narrow
    Project evaluated inside whole-stage codegen, embarrassingly parallel,
    pipelined into whatever consumes it (typically an ANN index build at
    1/8th the vector bandwidth; recall loss is the JL-lemma tradeoff the
    caller opted into). Vectors of the wrong cardinality are dropped (the
    same dense-input contract as mlp_infer, enforced not assumed).

    Zero-weight terms are omitted from the sum in BOTH engines (the weight
    pattern zeroes ~1/13 of entries), keeping the add chains identical.
    """
    v = F.col(vec_col)
    cols = [F.col(id_col).alias("vec_id")]
    for j in range(dim_out):
        expr = None
        for i in range(dim_in):
            w = _proj_weight(i, j)
            if w == 0:
                continue
            term = F.element_at(v, i + 1).cast("double") * F.lit(w)
            expr = term if expr is None else expr + term
        cols.append(expr.alias(f"p{j}"))
    return df.filter(F.size(v) == dim_in).select(*cols)


def random_projection_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim_in: int = PROJ_DIM_IN,
    dim_out: int = PROJ_DIM_OUT,
) -> str:
    """DuckDB twin of :func:`random_projection` — textually left-assoc
    sums in the same term order, so the IEEE rounding sequence matches."""
    outs = []
    for j in range(dim_out):
        terms = [
            f"CAST({vec_col}[{i + 1}] AS DOUBLE) * {_proj_weight(i, j)}"
            for i in range(dim_in)
            if _proj_weight(i, j) != 0
        ]
        outs.append(" + ".join(terms) + f" AS p{j}")
    cols = ",\n           ".join(outs)
    return (
        f"SELECT {id_col} AS vec_id,\n           {cols}\n"
        f"    FROM {table} WHERE len({vec_col}) = {dim_in}"
    )


def incremental_ivf_assign(
    old_assign: DataFrame,
    new_df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maintain an IVF index incrementally: assign ONLY the incoming batch
    to the FROZEN centroid table and append it to the stored assignment —
    the indexed corpus is never re-scanned (the ANN mirror of
    dedup.incremental_minhash_pairs). Returns the merged
    (vec_id, cid, is_new) assignment.

    At 100 TB this is the only sane maintenance shape: the stored
    assignment is a parquet/Delta table partitioned by ingest batch, the
    centroid table is tiny and broadcast, and each increment costs one
    scan of the NEW data (k centroid dots per new row). Centroid drift is
    handled by periodic re-trains, not per-batch ones — the standard
    IVF serving tradeoff; recall on drifted data degrades gracefully and
    measurably (s7's recall harness applies unchanged)."""
    new_base = new_df.select(
        F.col(id_col).alias("vec_id"), _km_quant(F.col(emb_col)).alias("q")
    )
    new_assign = _km_assign(new_base, cents, extra=[]).select(
        "vec_id", "cid", F.lit(True).alias("is_new")
    )
    return old_assign.select(
        "vec_id", "cid", F.lit(False).alias("is_new")
    ).unionByName(new_assign)


def incremental_ivf_sql(
    table: str,
    old_pred: str,
    new_pred: str,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of train-on-old + assign-old + incremental-assign-new,
    summarized per cell (the registry entry's shape)."""
    ctes, cfin = _km_ctes(
        f"(SELECT * FROM {table} WHERE {old_pred})", km_k, iters, id_col, emb_col
    )
    cost = _km_cost_sql("s.q", "c.c", "c.cn2")
    return f"""
    WITH {ctes},
    cfin AS (SELECT cid, c, {_km_cn2_sql("c")} AS cn2 FROM {cfin}),
    oldasg AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM kmbase s CROSS JOIN cfin c
      ) WHERE rn = 1
    ),
    newbase AS (
      SELECT {id_col} AS vec_id,
             list_transform({emb_col},
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS q
      FROM {table} WHERE {new_pred}
    ),
    newasg AS (
      SELECT vec_id, cid FROM (
        SELECT s.vec_id, c.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM newbase s CROSS JOIN cfin c
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT vec_id, cid, FALSE AS is_new FROM oldasg
      UNION ALL
      SELECT vec_id, cid, TRUE AS is_new FROM newasg
    )
    SELECT cid, count(CASE WHEN NOT is_new THEN 1 END) AS n_old,
           count(CASE WHEN is_new THEN 1 END) AS n_new
    FROM merged GROUP BY cid
    """


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ with asymmetric-distance scoring)
# ---------------------------------------------------------------------------
# Jegou/Douze/Schmid 2011 ("Product Quantization for Nearest Neighbor
# Search"), composed from the deterministic pieces above: the 64-dim vector
# splits into PQ_M subspaces of SUB_DIM dims, each with its own
# PQ_KSUB-centroid codebook trained by the same integer-exact Lloyd
# procedure as the coarse k-means (train_kmeans_centroids); a corpus vector
# is stored as PQ_M small codes (here 4x4 bits); a query never decodes the
# corpus — it builds a PQ_M x PQ_KSUB lookup table of per-subspace
# distances once, and every candidate scores as PQ_M table lookups
# (asymmetric distance, ADC). The coarse stage is the data-independent
# sign-bit cell (ivf_cell), making this the FAISS IVF-PQ serving shape:
# cell probe bounds candidates, codes bound memory (4 bytes/vector instead
# of 256), the LUT bounds per-candidate math.
#
# Distance: sum_m (||c_m||^2 - 2 q_m . c_m) ranks identically to true
# squared L2 (sum_m ||q_m||^2 is constant per query), computed in the exact
# _km_cost form both engines share; the fold over m is sequential so the
# doubles agree bit-for-bit.

PQ_M = 4
PQ_KSUB = 16
SUB_DIM = 16  # 64-dim fixture vectors / PQ_M


def _pq_subspaces(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """-> (vec_id, m, sub): one row per vector per subspace, sub = the
    integer-quantized SUB_DIM-dim slice (same _KM_QSCALE grid as the
    coarse trainer)."""
    slices = F.array(
        *[
            F.slice(_km_quant(F.col(emb_col)), m * SUB_DIM + 1, SUB_DIM)
            for m in range(PQ_M)
        ]
    )
    return df.select(
        F.col(id_col).alias("vec_id"), F.posexplode(slices).alias("m", "sub")
    )


def train_pq_codebooks(
    emb: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """-> (m, cid, c, cn2): PQ_M codebooks of PQ_KSUB centroids trained on
    the subspace slices of the hash-gated sample — value-identical to
    running train_kmeans_centroids once per subspace (the oracle SQL's
    shape: same sample gate, same seed ordering, slicing commutes with
    per-element quantization and per-dimension Lloyd means), but computed
    in ONE combined pass: a single sample scan, one seed window, one
    assign join over (vec_id, m) rows and one recompute agg serve all
    PQ_M codebooks instead of PQ_M separate training pipelines (4x fewer
    stages; 3.9s -> 3.4s on the s12 entry at sf0.1, where the fixture is
    small enough that stage latency, not compute, dominates — at real
    corpus sizes the win is PQ_M fewer scans of the sample). The result
    is <= PQ_M * PQ_KSUB rows: broadcast-sized regardless of corpus
    size."""
    from . import hashing as _h

    samp = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("e"))
        .filter(
            _h.phash60(F.col("vec_id").cast("string"), "km-sample") % KM_SAMPLE_MOD
            == 0
        )
        .persist()  # cache: released-in-fn
    )
    subs = _pq_subspaces(samp, "vec_id", "e").persist()  # cache: released-in-fn
    # one seed choice for every subspace: the PQ_KSUB sample vectors with
    # the smallest md5 seed hash (same ids train_kmeans_centroids picks
    # per-subspace, since the hash ignores the embedding)
    seed_ids = (
        samp.withColumn("h", _h.phash60(F.col("vec_id").cast("string"), "km-seed"))
        .orderBy("h", "vec_id")
        .limit(PQ_KSUB)
        .withColumn("cid", F.row_number().over(Window.orderBy("h", "vec_id")))
        .select("vec_id", "cid")
    )
    cents = subs.join(F.broadcast(seed_ids), "vec_id").select(
        "m", "cid", F.transform("sub", lambda x: x.cast("double")).alias("c")
    )
    for _ in range(KM_ITERS):
        ca = cents.select("m", "cid", "c", _km_cn2(F.col("c")).alias("cn2"))
        scored = subs.join(F.broadcast(ca), "m").withColumn(
            "cost", _km_cost(F.col("sub"), F.col("c"), F.col("cn2"))
        )
        assigned = scored.groupBy("vec_id", "m").agg(
            F.min(F.struct("cost", "cid", "sub")).alias("b")
        )
        percell = (
            assigned.select("m", F.col("b.cid").alias("cid"), F.posexplode("b.sub"))
            .groupBy("m", "cid", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cents = (
            percell.withColumn("mean", F.col("s").cast("double") / F.col("n"))
            .groupBy("m", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda t: t.getField("mean"),
                ).alias("c")
            )
        )
    books = _densify_cids(cents).withColumn("cn2", _km_cn2(F.col("c"))).persist()  # cache: caller-owns
    # materialize the <=64-row codebook eagerly so the training-only caches
    # can be released here instead of leaking into the caller's session
    # (repeated serving calls would otherwise accumulate cached blocks);
    # the returned books table is the ONE cache the caller owns — drop it
    # with .unpersist() (or clearCache) when done serving
    books.count()
    samp.unpersist()
    subs.unpersist()
    return books


def _densify_cids(cents: DataFrame) -> DataFrame:
    """Re-number codebook cids densely (1..n per subspace, order-preserving).

    Lloyd recompute drops empty clusters (the groupBy keeps only assigned
    cids), so a duplicate seed sub-slice or a captured cluster leaves gaps
    in {1..PQ_KSUB}. ADC scoring indexes the LUT row POSITIONALLY by cid
    (``lut[m][code[m]]``, with the row built as list(d ORDER BY cid)); a
    mid-gap cid silently reads the wrong centroid's distance, and a gap
    below the max cid makes code[m] exceed the row length — Spark 4 (ANSI)
    throws ARRAY_INDEX_OUT_OF_BOUNDS while DuckDB returns NULL. A dense
    order-preserving relabel makes position == cid by construction; the
    identical renumber runs in the oracle SQL's books CTE. Relabeling is
    order-preserving, so every downstream (cost, cid) tie-break picks the
    same centroid as before."""
    return cents.withColumn(
        "cid", F.row_number().over(Window.partitionBy("m").orderBy("cid"))
    )


def encode_pq(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """-> (vec_id, code array<int>): nearest sub-centroid per subspace.
    One explode to (vec_id, m) rows, one broadcast join against the <=64-row
    codebook table, one min-struct agg per (vec_id, m), one collect per
    vec_id — two map-side-combinable aggs, no window."""
    subs = _pq_subspaces(corpus, id_col, emb_col)
    scored = subs.join(F.broadcast(codebooks), "m").withColumn(
        "cost", _km_cost(F.col("sub"), F.col("c"), F.col("cn2"))
    )
    best = scored.groupBy("vec_id", "m").agg(
        F.min(F.struct("cost", "cid")).alias("b")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", F.col("b.cid").alias("cid")))),
            lambda t: t.getField("cid"),
        ).alias("code")
    )


def topk_ivfpq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = IVF_DIMS,
) -> DataFrame:
    """IVF-PQ top-k serving: sign-bit cell probe -> ADC scoring over
    4-byte codes -> deterministic (distance, id) top-k.

    Scale shape: codes + cell are ONE narrow encode pass over the corpus
    (persist/write once, reuse per query batch); the probe is an equi-join
    on cell; scoring a candidate is PQ_M nested-array lookups into the
    query's broadcast LUT — no vector math per pair at all, which is the
    whole point of PQ: the 64-dim fold that topk_ivf pays per candidate
    becomes 4 lookups, and corpus memory drops 64x."""
    queries = _serving_sized(queries, "topk_ivfpq_adc")
    books = train_pq_codebooks(corpus, id_col, emb_col)
    enc = encode_pq(
        _spread_corpus(corpus.select(F.col(id_col), F.col(emb_col))), books, id_col, emb_col
    )
    cells = corpus.select(
        F.col(id_col).alias("vec_id"), ivf_cell(F.col(emb_col), dims).alias("cell")
    )
    cand = enc.join(cells, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "code", "cell"
    )
    # LUT: per query, per subspace, distance to each of the <=16 centroids,
    # assembled into a PQ_M x PQ_KSUB nested array ordered (m, cid)
    qsubs = _pq_subspaces(queries, id_col, emb_col)
    lut_rows = qsubs.join(F.broadcast(books), "m").select(
        F.col("vec_id").alias("query_id"),
        "m",
        "cid",
        _km_cost(F.col("sub"), F.col("c"), F.col("cn2")).alias("d"),
    )
    per_m = lut_rows.groupBy("query_id", "m").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cid", "d"))),
            lambda t: t.getField("d"),
        ).alias("row")
    )
    lut = per_m.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", F.col("row").alias("row")))),
            lambda t: t.getField("row"),
        ).alias("lut")
    )
    qmeta = queries.select(
        F.col(id_col).alias("query_id"), ivf_cell(F.col(emb_col), dims).alias("cell")
    )
    q = F.broadcast(lut.join(qmeta, "query_id"))
    # fold over the subspaces the CODEBOOK actually has, not a hardcoded
    # 1..PQ_M: vectors shorter than PQ_M*SUB_DIM dims leave the trailing
    # subspaces' slices empty, Lloyd's recompute then keeps no centroids
    # for them, and code/lut both carry size(books.m) < PQ_M entries —
    # ANSI element_at(lut, m) threw where DuckDB indexed NULL (r10 fuzz
    # catch on a 1-dim generated corpus; the fixture's 64 dims always
    # fill all 4). code and lut are m-sorted over the SAME m set by
    # construction, so position i is the same subspace in both — and the
    # lookups are try_element_at (the ivf_cell precedent) so that if the
    # invariant ever shifts (e.g. per-query subspace pruning makes
    # len(lut) < len(code)) BOTH engines degrade identically to a NULL
    # distance instead of Spark alone throwing ANSI element_at
    # (ADVICE r10 item 3).
    adc = F.aggregate(
        F.sequence(F.lit(1), F.size(F.col("code"))),
        F.lit(0.0),
        lambda acc, m: acc
        + F.try_element_at(
            F.try_element_at(F.col("lut"), m),
            F.try_element_at(F.col("code"), m),
        ),
    )
    scored = (
        q.join(cand, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_dist", adc)
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def topk_ivfpq_adc_sql(
    table: str,
    query_pred: str,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = IVF_DIMS,
) -> str:
    """DuckDB twin of topk_ivfpq_adc: PQ_M prefixed k-means chains (one per
    subspace codebook), code assignment, per-query LUT, cell-probe ADC."""
    chains, books_union = [], []
    for m in range(PQ_M):
        lo, hi = m * SUB_DIM + 1, (m + 1) * SUB_DIM
        chains.append(
            f"""
    pq{m}src AS (
      SELECT {id_col} AS vec_id, list_slice({emb_col}, {lo}, {hi}) AS sube
      FROM {table}
    ),"""
            + _km_ctes(f"pq{m}src", PQ_KSUB, KM_ITERS, "vec_id", "sube", prefix=f"pq{m}")[0]
        )
        books_union.append(
            f"SELECT {m} AS m, cid, c FROM "
            + _km_ctes(f"pq{m}src", PQ_KSUB, KM_ITERS, "vec_id", "sube", prefix=f"pq{m}")[1]
        )
    cost = _km_cost_sql("s.sub", "b.c", "b.cn2")
    return (
        "WITH "
        + ",".join(chains)
        + f""",
    books AS (
      -- dense order-preserving cid relabel: Lloyd recompute drops empty
      -- clusters, and ADC below indexes lut rows POSITIONALLY by cid —
      -- mirrors _densify_cids in the Spark engine
      SELECT m,
             CAST(row_number() OVER (PARTITION BY m ORDER BY cid) AS INTEGER)
               AS cid,
             c, {_km_cn2_sql("c")} AS cn2 FROM (
        {" UNION ALL ".join(books_union)}
      )
    ),
    base AS (
      SELECT {id_col} AS vec_id,
             list_transform({emb_col},
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS q,
             {ivf_cell_sql(emb_col, dims)} AS cell
      FROM {table}
    ),
    subs AS (
      SELECT vec_id, m, list_slice(q, m * {SUB_DIM} + 1, (m + 1) * {SUB_DIM}) AS sub,
             cell
      FROM base, unnest(range({PQ_M})) AS t(m)
    ),
    asg AS (
      SELECT vec_id, m, cid, cell FROM (
        SELECT s.vec_id, s.m, b.cid, s.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {cost}, b.cid) AS rn
        FROM subs s JOIN books b ON s.m = b.m
      ) WHERE rn = 1
    ),
    codes AS (
      SELECT vec_id, any_value(cell) AS cell, list(cid ORDER BY m) AS code
      FROM asg GROUP BY vec_id
    ),
    qsubs AS (
      SELECT vec_id AS query_id, m,
             list_slice(q, m * {SUB_DIM} + 1, (m + 1) * {SUB_DIM}) AS sub, cell
      FROM base, unnest(range({PQ_M})) AS t(m)
      WHERE vec_id IN (SELECT {id_col} FROM {table} WHERE {query_pred})
    ),
    lut_rows AS (
      SELECT s.query_id, s.m, b.cid, {cost} AS d, s.cell
      FROM qsubs s JOIN books b ON s.m = b.m
    ),
    per_m AS (
      SELECT query_id, m, any_value(cell) AS cell, list(d ORDER BY cid) AS lrow
      FROM lut_rows GROUP BY query_id, m
    ),
    lut AS (
      SELECT query_id, any_value(cell) AS cell, list(lrow ORDER BY m) AS lut
      FROM per_m GROUP BY query_id
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_reduce(
               list_prepend(0.0,
                 -- over the PRESENT subspaces (len(code) == len(lut)),
                 -- mirroring the engine's size(code)-bounded fold
                 list_transform(range(1, len(c.code) + 1),
                                m -> q.lut[m][c.code[m]])),
               (acc, x) -> acc + x) AS adc_dist
      FROM lut q JOIN codes c ON q.cell = c.cell AND q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {k}
    """
    )


def topk_mips(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id",
    emb_col: str = "embedding", dims: int = IVF_DIMS,
) -> DataFrame:
    """Maximum-inner-product (MIPS) top-k — the retrieval objective for
    UN-normalized embeddings (recommender factors, ColBERT-style scores),
    where the answer is argmax dot(q, v), NOT argmax cosine: a long vector
    can win on inner product while losing on angle, so cosine ANN ranking
    is simply wrong for MIPS (the orderings differ whenever corpus norms
    vary).

    Serving shape mirrors topk_ivf: sign-bit cell probe (equi-join,
    broadcast query side, corpus shuffles at most once on cell) with the
    score swapped to the raw sequential-fold dot product. At index-build
    scale, the classic norm-augmentation reduction (append
    sqrt(M^2 - |v|^2) to each corpus vector, 0 to queries, M = max corpus
    norm) makes every augmented norm equal M, so ANY cosine index —
    k-means IVF (s6), PQ (s12) — serves MIPS unchanged; the probe here
    scores candidates by dot directly, which is the augmented route's
    ordering without the sqrt in the scoring path (dot(q_aug, v_aug) ==
    dot(q, v) exactly, since the query's augmented coordinate is 0)."""
    queries = _serving_sized(queries, "topk_mips")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            ivf_cell(F.col(emb_col), dims).alias("cell"),
        )
    )
    c = _spread_corpus(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb"))
    ).select(
        "neighbor_id",
        "c_emb",
        ivf_cell(F.col("c_emb"), dims).alias("cell"),
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", dot(F.col("q_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def topk_mips_sql(
    table: str, query_pred: str, k: int, id_col: str = "vec_id",
    emb_col: str = "embedding", dims: int = IVF_DIMS,
) -> str:
    d = dot_sql("q.q_emb", "c.c_emb")
    return f"""
    WITH q AS (
      SELECT {id_col} AS query_id, {emb_col} AS q_emb,
             {ivf_cell_sql(emb_col, dims)} AS cell
      FROM {table} WHERE {query_pred}
    ), c AS (
      SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb,
             {ivf_cell_sql(emb_col, dims)} AS cell
      FROM {table}
    ), scored AS (
      SELECT q.query_id, c.neighbor_id, {d} AS score
      FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {k}
    """


# --- semantic dedup (SemDeDup: cluster-blocked embedding dedup) --------------

SEM_TAU = 0.35  # within-cluster cosine above this = semantic duplicate
# Skewed-cell salting for the within-cell pair pass: cells larger than
# SEM_SALT_CELL split into SEM_SALT_B salted sub-blocks on the self-join
# key, so one hot cell's quadratic work spreads over SEM_SALT_B reducers
# instead of landing on one. Pair coverage is exact (each unordered pair
# appears exactly once — the probe side replicates over all blocks, the
# build side keeps its own hash block, and id_a < id_b dedups), so the
# verdict set is identical salted or not. Threshold rationale: the cost
# unit is cell_n^2 cosine folds per reducer; 256 rows ~ 32k pairs is the
# measured point where one cell's fold time dominates a task (sf1,
# local[32], median of 3: unsalted 11.8s -> 8.1s at 256, while 512 was a
# no-op because the largest k-means cell held 460 rows). Production sets
# this to its per-reducer pair budget (pairs_per_task ~ salt_cell^2 /
# salt_b); the per-cell size map the decision rides is computed inside
# the plan, so no extra pass.
SEM_SALT_CELL = 256
SEM_SALT_B = 8


def _sem_cells(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign (already zero-norm-filtered) vectors to their nearest
    centroid from a GIVEN (cid, c) table: -> (vec_id, cid, e, nrm).
    The d17 assignment stage, factored so the incremental probe (d22)
    can run it against STORED centroids instead of freshly-trained ones
    — assignment is a pure function of (vector, centroid table), which
    is what makes the incremental equivalence contract provable."""
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("e"),
        _km_quant(F.col(emb_col)).alias("q"),
    )
    return _km_assign(_spread_corpus(base, heavy=True), cents, extra=["e"]).select(
        "vec_id", "cid", "e", norm(F.col("e")).alias("nrm")
    )


def _nonzero_vec(emb_col: str):
    """Zero-norm vectors are dropped BEFORE any cosine (the m22/m23/s4
    rule): cosine is undefined there and the engines diverge loudly if
    asked — Spark's ANSI mode raises DIVIDE_BY_ZERO, DuckDB emits inf."""
    return F.array_max(F.transform(emb_col, lambda v: F.abs(v.cast("double")))) > 0


def _nonzero_vec_sql(emb: str) -> str:
    return f"list_max(list_transform({emb}, v -> abs(CAST(v AS DOUBLE)))) > 0"


def semantic_dedup(
    df: DataFrame,
    tau: float = SEM_TAU,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    salt_cell: int = SEM_SALT_CELL,
    salt_b: int = SEM_SALT_B,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means clustering + WITHIN-CLUSTER pairwise cosine — the embedding
    answer to the question MinHash asks about text. Near-duplicate
    *meaning* (paraphrases, re-encodes, boilerplate variants) survives
    every lexical pass (d1-d16 operate on tokens/shingles); clustering
    first makes the quadratic pair pass tractable: candidates are blocked
    by learned cell exactly like d2 blocks by band and d10 by byte, so
    the cost is sum(|cell|^2), never corpus^2 — the paper's own scale
    trick, and this registry's no-all-pairs rule (plancheck gate).

    Keep rule: within a cluster, a vector is REMOVED iff some
    smaller-id cluster-mate scores cosine >= tau against it; the
    survivor (``dup_of``) is the SMALLEST such id — d1's min-id
    canonical-doc discipline, deterministic under the driver hash.
    (The paper keeps the vector least similar to the centroid; that
    variant swaps the min key for the staged centroid-cosine and is a
    parameter, not a different plan.)

    Shape: centroid training is the s6 machinery verbatim (sampled
    corpus, broadcast k-row centroid table, one Lloyd round); assignment
    is one broadcast-join argmin pass; the pair pass self-joins the
    persisted (vec_id, cid, e, nrm) table on cid — ONE shuffle keyed on
    cid per side; the removal map is a tiny groupBy + left join back.
    At 100 TB: cells are the unit of work (the paper runs 50k clusters
    over 5B embeddings); skewed cells ARE salted here — cells above
    ``salt_cell`` rows split into ``salt_b`` sub-blocks on the join key
    (probe side explodes over all blocks, build side hashes into one;
    the per-cell block count rides a broadcast k-row size map), so a hot
    cell's |cell|^2 work lands on salt_b reducers instead of one. The
    cosine threshold filter runs INSIDE the join's projection so no pair
    table ever materializes."""
    emb = df.filter(_nonzero_vec(emb_col))
    cents = train_kmeans_centroids(emb, km_k, iters, id_col, emb_col)
    cells = _sem_cells(emb, cents, id_col, emb_col).persist()  # cache: caller-owns — feeds both self-join sides + final left join
    # per-cell block count: 1 for small cells, salt_b for skewed ones —
    # a k-row broadcast map, never a corpus-wide shuffle
    blocks = F.broadcast(
        cells.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cell_n"))
        .select(
            "cid",
            F.when(F.col("cell_n") > salt_cell, F.lit(salt_b))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("nb"),
        )
    )
    withnb = cells.join(blocks, "cid")
    a = withnb.select(
        "cid",
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("e_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("blk"),
    )
    b = withnb.select(
        "cid",
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("nrm_b"),
        F.pmod(F.xxhash64("vec_id"), F.col("nb").cast("bigint"))
        .cast("int")
        .alias("blk"),
    )
    pairs = (
        a.join(b, ["cid", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        # spelled dot/(na*nb) exactly like cosine_sql so the doubles (and
        # therefore the >= tau decisions) agree bit-for-bit cross-engine
        .withColumn(
            "score",
            dot(F.col("e_a"), F.col("e_b")) / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .filter(F.col("score") >= tau)
        .select("id_a", "id_b")
    )
    rm = pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        cells.join(rm, cells["vec_id"] == rm["id_b"], "left")
        .select(
            cells["vec_id"],
            F.col("cid").cast("int").alias("cid"),
            F.when(F.col("id_b").isNull(), 1).otherwise(0).cast("int").alias("kept"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
        )
    )


def semantic_dedup_sql(
    table: str,
    tau: float = SEM_TAU,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    src = f"(SELECT * FROM {table} WHERE {_nonzero_vec_sql(emb_col)})"
    ctes, cfinal = _km_ctes(src, km_k, iters, id_col, emb_col)
    cost = _km_cost_sql("b.q", "c.c", "c.cn2")
    cos = cosine_sql("a.e", "b.e")
    return f"""
    WITH {ctes},
    caugf AS (SELECT cid, c, {_km_cn2_sql("c")} AS cn2 FROM {cfinal}),
    sd_cells AS (
      SELECT vec_id, e, cid FROM (
        SELECT b.vec_id, b.e, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM kmbase b CROSS JOIN caugf c
      ) WHERE rn = 1
    ),
    sd_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sd_cells a JOIN sd_cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {cos} >= {tau}
    ),
    sd_rm AS (SELECT id_b, min(id_a) AS dup_of FROM sd_pairs GROUP BY 1)
    SELECT c.vec_id, CAST(c.cid AS INTEGER) AS cid,
           CAST(CASE WHEN r.id_b IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept,
           CAST(r.dup_of AS BIGINT) AS dup_of
    FROM sd_cells c LEFT JOIN sd_rm r ON c.vec_id = r.id_b
    """


def incremental_semantic_dedup(
    stored_cells: DataFrame,
    new_df: DataFrame,
    cents: DataFrame,
    tau: float = SEM_TAU,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    salt_cell: int = SEM_SALT_CELL,
    salt_b: int = SEM_SALT_B,
) -> DataFrame:
    """Probe an arriving embedding batch against a STORED SemDeDup state
    WITHOUT re-training k-means or re-pairing the old corpus — d6's
    (MinHash) and d21's (substring) amortized-store regime applied to
    semantic dedup, the one dedup rung that still re-ran corpus-wide per
    batch (r11 verdict item 1). At 100 TB the full d17 pass re-trains
    centroids and re-pays sum(|cell|^2) cosines over the WHOLE corpus
    for every arriving batch; production freezes the centroids per
    snapshot and each batch pays only its own assignment plus pair work
    inside the cells it actually touches.

    Inputs: ``stored_cells`` is the persisted (vec_id, cid, e, nrm)
    assignment table (:func:`_sem_cells` output, parquet-backed and
    partitioned by cid in production so the touched-cell probe prunes
    partitions); ``cents`` is the frozen (cid, c) centroid table
    (:func:`train_kmeans_centroids` output, k rows, broadcast);
    ``new_df`` is the arriving batch, zero-norm-filtered here.

    Shape: assign the batch with one broadcast-argmin pass (pure
    function of (vector, centroids) — identical to what the store
    holds for old vectors, which is what makes the contract provable);
    prune the store to TOUCHED cells via a broadcast <=k-row cell list;
    pair-pass new x (old + new) inside touched cells only, with d17's
    skewed-cell salting verbatim (probe side explodes over the block
    count, build side hashes into one block; the per-cell block map is
    a broadcast k-row agg) and new-new pairs kept once by id order.

    Output — the mergeable REMOVAL-MAP DELTA, one row per vector that
    gained at least one smaller-id duplicate partner through a pair
    touching the batch: (vec_id, cid, dup_of = min such partner,
    n_dups). Contract (stated by the oracle): because assignment is
    deterministic under frozen centroids, this EQUALS the full d17
    pair relation restricted to pairs touching a new vector, min-grouped
    per victim; min-merging the delta into the stored removal map (k5's
    mergeable-state discipline — min is associative/commutative) yields
    exactly the removal map a full frozen-centroid d17 run over the
    grown corpus would produce. Old-old pairs were found when the old
    data arrived; a small-id arrival correctly evicts larger-id OLD
    vectors (rows for old victims appear in the delta).

    Scale: probe cost tracks the batch and its touched cells, never the
    corpus — batch assignment is |batch| x k broadcast work, the store
    scan is partition-pruned to touched cells, and the pair join's
    per-reducer fan-out is bounded by the same salting budget d17
    measured (~salt_cell^2/salt_b pairs per task)."""
    new_cells = _sem_cells(
        new_df.filter(_nonzero_vec(emb_col)), cents, id_col, emb_col
    )
    cols = ["vec_id", "cid", "e", "nrm"]
    allc = (
        stored_cells.select(*cols)
        .withColumn("is_new", F.lit(0))
        .unionByName(new_cells.select(*cols).withColumn("is_new", F.lit(1)))
    )
    touched = new_cells.select("cid").distinct()
    build = allc.join(F.broadcast(touched), "cid").persist()  # cache: caller-owns — feeds the block-size agg + both pair-join sides
    blocks = F.broadcast(
        build.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cell_n"))
        .select(
            "cid",
            F.when(F.col("cell_n") > salt_cell, F.lit(salt_b))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("nb"),
        )
    )
    withnb = build.join(blocks, "cid")
    n = withnb.filter(F.col("is_new") == 1).select(
        "cid",
        F.col("vec_id").alias("id_n"),
        F.col("e").alias("e_n"),
        F.col("nrm").alias("nrm_n"),
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("blk"),
    )
    o = withnb.select(
        "cid",
        F.col("vec_id").alias("id_o"),
        F.col("e").alias("e_o"),
        F.col("nrm").alias("nrm_o"),
        "is_new",
        F.pmod(F.xxhash64("vec_id"), F.col("nb").cast("bigint"))
        .cast("int")
        .alias("blk"),
    )
    pairs = (
        n.join(o, ["cid", "blk"])
        .filter(F.col("id_n") != F.col("id_o"))
        # each new-new pair exactly once (kept in the orientation where
        # the probe side holds the smaller id); new-old pairs appear once
        # by construction since the probe side is new-only
        .filter((F.col("is_new") == 0) | (F.col("id_n") < F.col("id_o")))
        # dot/(na*nb) spelled exactly like d17/cosine_sql; dot and the
        # fold order are orientation-symmetric, so the score (and the
        # >= tau decision) is identical however the pair arrived
        .withColumn(
            "score",
            dot(F.col("e_n"), F.col("e_o")) / (F.col("nrm_n") * F.col("nrm_o")),
        )
        .filter(F.col("score") >= tau)
    )
    flip = F.col("id_o") < F.col("id_n")
    orient = pairs.select(
        "cid",
        F.when(flip, F.col("id_o")).otherwise(F.col("id_n")).alias("id_a"),
        F.when(flip, F.col("id_n")).otherwise(F.col("id_o")).alias("id_b"),
    )
    return (
        orient.groupBy("id_b", "cid")
        .agg(
            F.min("id_a").cast("bigint").alias("dup_of"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
        .select(
            F.col("id_b").cast("bigint").alias("vec_id"),
            F.col("cid").cast("int").alias("cid"),
            "dup_of",
            "n_dups",
        )
    )


def incremental_semantic_dedup_sql(
    table: str,
    new_pred: str,
    tau: float = SEM_TAU,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`incremental_semantic_dedup`, stating the
    equivalence contract directly: train k-means on the OLD subset only
    (frozen centroids), assign the WHOLE corpus to them, build the full
    within-cell pair relation, restrict it to pairs touching a new
    vector, min-group per victim. ``new_pred`` is a format string with
    an ``{id}`` placeholder (e.g. ``'{id} % 5 = 0'``) so the same batch
    rule applies to the training filter and both pair sides."""
    src_old = (
        f"(SELECT * FROM {table} WHERE {_nonzero_vec_sql(emb_col)}"
        f" AND NOT ({new_pred.format(id=id_col)}))"
    )
    ctes, cfinal = _km_ctes(src_old, km_k, iters, id_col, emb_col)
    cost = _km_cost_sql("b.q", "c.c", "c.cn2")
    cos = cosine_sql("a.e", "b.e")
    pa = new_pred.format(id="a.vec_id")
    pb = new_pred.format(id="b.vec_id")
    return f"""
    WITH {ctes},
    caugf AS (SELECT cid, c, {_km_cn2_sql("c")} AS cn2 FROM {cfinal}),
    isd_all AS (
      SELECT {id_col} AS vec_id, {emb_col} AS e,
             list_transform({emb_col},
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS q
      FROM {table} WHERE {_nonzero_vec_sql(emb_col)}
    ),
    isd_cells AS (
      SELECT vec_id, e, cid FROM (
        SELECT b.vec_id, b.e, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM isd_all b CROSS JOIN caugf c
      ) WHERE rn = 1
    ),
    isd_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid AS cid
      FROM isd_cells a JOIN isd_cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {cos} >= {tau} AND (({pa}) OR ({pb}))
    )
    SELECT id_b AS vec_id, CAST(cid AS INTEGER) AS cid,
           CAST(min(id_a) AS BIGINT) AS dup_of,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM isd_pairs GROUP BY 1, 2
    """


def frozen_semantic_dedup_sql(
    table: str,
    train_pred: str,
    tau: float = SEM_TAU,
    km_k: int = KM_K,
    iters: int = KM_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB oracle for the STREAMED SemDeDup view (t31): k-means is
    trained on the frozen snapshot subset only (``train_pred``, a format
    string with an ``{id}`` placeholder), the WHOLE corpus is assigned
    to those frozen centroids, the full within-cell pair relation is
    min-grouped per victim, and every nonzero vector gets a
    (kept, dup_of, n_dups) row. This is the fixed point the streaming
    replay must converge to regardless of micro-batch boundaries: each
    unordered qualifying pair is found exactly once (in the batch where
    its later-arriving member lands, new x (old+new)), so min-merging
    dup_of and sum-merging n_dups across batch deltas reproduces this
    relation — the k5 mergeable-state argument, stated as SQL. An empty
    (or all-zero-norm) training subset yields no centroids, hence no
    assignable cells and an EMPTY view on both engines."""
    src_train = (
        f"(SELECT * FROM {table} WHERE {_nonzero_vec_sql(emb_col)}"
        f" AND ({train_pred.format(id=id_col)}))"
    )
    ctes, cfinal = _km_ctes(src_train, km_k, iters, id_col, emb_col)
    cost = _km_cost_sql("b.q", "c.c", "c.cn2")
    cos = cosine_sql("a.e", "b.e")
    return f"""
    WITH {ctes},
    caugf AS (SELECT cid, c, {_km_cn2_sql("c")} AS cn2 FROM {cfinal}),
    fsd_all AS (
      SELECT {id_col} AS vec_id, {emb_col} AS e,
             list_transform({emb_col},
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT)) AS q
      FROM {table} WHERE {_nonzero_vec_sql(emb_col)}
    ),
    fsd_cells AS (
      SELECT vec_id, e, cid FROM (
        SELECT b.vec_id, b.e, c.cid,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY {cost}, c.cid) AS rn
        FROM fsd_all b CROSS JOIN caugf c
      ) WHERE rn = 1
    ),
    fsd_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM fsd_cells a JOIN fsd_cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {cos} >= {tau}
    ),
    fsd_rm AS (
      SELECT id_b, CAST(min(id_a) AS BIGINT) AS dup_of,
             CAST(count(*) AS BIGINT) AS n_dups
      FROM fsd_pairs GROUP BY 1
    )
    SELECT c.vec_id, CAST(c.cid AS INTEGER) AS cid,
           CAST(CASE WHEN r.id_b IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept,
           r.dup_of,
           COALESCE(r.n_dups, CAST(0 AS BIGINT)) AS n_dups
    FROM fsd_cells c LEFT JOIN fsd_rm r ON c.vec_id = r.id_b
    """
