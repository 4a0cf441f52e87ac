"""Tokenizer training, PCA kernel, keyness, substring dedup family, d22/d23.

Mechanically split from plans/registry.py (r12): entry bodies moved
verbatim, registration order preserved by the facade import sequence,
names unchanged."""

from __future__ import annotations

from ..ext import dedup as _dd
from ..ext import hashing as _hh
from ..ext import similarity as _sim
from ..ext import text as _tx
from ..ext.hashing import phash60, phash60_sql
from ..session import prepare
from ..streaming.replay import run_foreach_batch, staged_stream
from pyspark.sql import functions as F
from .registry_base import DEC, register, scratch_dir, tbl
from .registry_corpus import _split_col, _split_sql
from .registry_finance import (
    _PIPE_FUNNEL_CTES,
    _gbt_score_col,
    _gbt_score_sql,
    _prep_survivor_flags,
)
from .registry_sketch import N_SHUF_SHARDS

# ---------------------------------------------------------------------------
# r9c: tokenizer training, PCA kernel, community detection, corpus keyness,
# stochastic oscillator — the remaining pipeline primitives
# ---------------------------------------------------------------------------


def _bpe_oracle(n_merges: int = 3, final: str | None = None) -> str:
    """Unrolled DuckDB twin of x40/x42: fixed-k BPE merge rounds as chained
    CTEs (pairs_k -> top_k -> rep_k). list_reduce folds the winning pair
    into each word's symbol string with EXACTLY the Spark aggregate()
    lambda's semantics (see x40's docstring for the equivalence argument).
    ``final`` overrides the closing SELECT (default: the merge table);
    x42 closes over the fused corpus r{n} instead."""
    parts = [
        """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE w <> ''
      GROUP BY w
    ), r0 AS (
      SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>' AS rep,
             freq
      FROM wf
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f""", p{k} AS (
      SELECT l[i] AS pa, l[i+1] AS pb, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT string_split(rep, ' ') AS l, freq FROM r{k - 1}) s,
           LATERAL unnest(generate_series(1, len(l) - 1)) AS u(i)
      GROUP BY 1, 2
    ), t{k} AS (
      SELECT CAST({k} AS BIGINT) AS merge_no, pa, pb, cnt
      FROM p{k} ORDER BY cnt DESC, pa, pb LIMIT 1
    ), r{k} AS (
      SELECT CASE WHEN t.pa IS NULL THEN rep
             ELSE list_reduce(string_split(rep, ' '),
               (acc, x) -> CASE
                 WHEN x = t.pb
                      AND (acc = t.pa OR ends_with(acc, ' ' || t.pa))
                 THEN left(acc, length(acc) - length(t.pa)) || t.pa || t.pb
                 ELSE acc || ' ' || x END) END AS rep,
             freq
      FROM r{k - 1} LEFT JOIN t{k} AS t ON TRUE
    )"""
        )
    if final is None:
        final = "\n      UNION ALL ".join(
            f"SELECT merge_no, pa, pb, cnt FROM t{k}"
            for k in range(1, n_merges + 1)
        )
    parts.append(f"\n    {final}")
    return "".join(parts)


@register("x40_bpe_merges", _bpe_oracle(3))
def x40_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016), the first
    3 merge rounds: the vocabulary-learning step every LLM data pipeline
    runs BEFORE token counting (x8), packing (x20) or surprisal (x26) can
    exist. Per round: count adjacent symbol pairs across the corpus
    weighted by word frequency, pick the most frequent pair (ties broken
    (count DESC, pa, pb) — deterministic), fuse it into every word, repeat.

    Exactness: the merge fold is EXACT greedy left-to-right BPE — Spark's
    ``aggregate()`` and DuckDB's ``list_reduce`` both fold the symbol list
    into a string accumulator with the identical lambda: merge when the
    accumulator's LAST symbol equals pa and the next symbol equals pb,
    else append. Re-merging into a just-fused token is impossible by
    construction (the fused symbol is the string pa||pb, never equal to
    pa since pb is non-empty) — the same invariant reference BPE
    implementations rely on. All counts are exact BIGINTs; no floats
    anywhere. A rejected alternative — space-delimited string replace()
    of ' pa pb ' — silently DIVERGES from greedy BPE on odd-length runs of
    a repeated symbol (the second match loses its leading space to the
    first), so the fold is semantic, not a convenience.

    Shape, and why this is the 100 TB design: the corpus collapses in the
    FIRST map-side-combined word-count agg — every later stage runs on the
    WORD-TYPE table (vocabulary-sized, Heaps-law sublinear in corpus
    size), exactly how production BPE trainers scale. Each round is one
    pair-count agg over exploded bigrams of word types (map-side partial
    agg, a few dozen live groups) plus a 1-row broadcast of the winner
    folded back in a map-side projection — k rounds = k tiny shuffles,
    zero corpus-sized joins, no driver-side loop over data (the loop is
    over ROUNDS, a plan-construction constant, the g7 fixed-point
    pattern). Full-vocab training just raises k."""
    _, tops = _bpe_train(spark, sf_dir, n_merges=3)
    out = tops[0]
    for t_ in tops[1:]:
        out = out.unionByName(t_)
    return out


#: exact greedy left-to-right BPE merge of the 1-row broadcast pair
#: (_pa, _pb) into the space-joined symbol string `rep` — see x40's
#: docstring for the list_reduce equivalence argument. Guarded on an
#: EMPTY winner (ADVICE r10): when a merge round finds no pairs (corpus
#: fully fused before the last round — e.g. a single-character vocab),
#: the winner relation is empty; the fold round must then be a NO-OP
#: (left-join NULL `_pa` keeps `rep`), never an empty crossJoin that
#: silently drops the whole word-type table.
_BPE_FOLD = (
    "IF(_pa IS NULL, rep, "
    "aggregate(slice(split(rep, ' '), 2, size(split(rep, ' ')) - 1), "
    "split(rep, ' ')[0], "
    "(acc, x) -> IF(x = _pb AND (acc = _pa OR endswith(acc, concat(' ', _pa))), "
    "concat(left(acc, length(acc) - length(_pa)), _pa, _pb), "
    "concat(acc, ' ', x))))"
)


def _bpe_train(spark, sf_dir: str, n_merges: int = 3):
    """Shared BPE trainer for x40 (merge table) and x42 (fused corpus):
    returns (cur, tops) — the word-type table after ``n_merges`` fold
    rounds and the per-round 1-row winner DataFrames."""
    docs = tbl(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # localCheckpoint: the corpus must collapse into the word-type table
    # EXACTLY once — with lazy lineage, round k's pair agg re-derives wf
    # and re-scans the corpus (measured 8.9s -> ~3s at sf0.1); each round
    # below re-checkpoints the vocab-sized fold result for the same reason
    # (the g7 fixed-point discipline: iteration state is materialized,
    # never re-derived from the root).
    cur = wf.select(
        F.concat(
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), F.lit(" </w>")
        ).alias("rep"),
        "freq",
    ).localCheckpoint()
    tops = []
    for k in range(1, n_merges + 1):
        # size >= 2 filter BEFORE the bigram transform: a fully-fused
        # single-symbol word makes sequence(1, size-1) = sequence(1, 0),
        # which Spark evaluates as the DESCENDING [1, 0] (ANSI
        # out-of-bounds error) while DuckDB's generate_series(1, 0) is
        # empty — the one engine-semantics divergence in this entry,
        # caught by the fuzz battery on a single-word corpus
        pairs = cur.select(
            "freq", F.split(F.col("rep"), " ").alias("syms")
        ).filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i-1] AS pa, syms[i] AS pb))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "pa", "pb")
            .limit(1)
            .select(F.lit(k).cast("bigint").alias("merge_no"), "pa", "pb", "cnt")
        )
        tops.append(top)
        # LEFT join on a constant key, not crossJoin: an EMPTY winner
        # (no pairs left to merge) must leave `rep` untouched, not erase
        # the word-type table (ADVICE r10 — the oracle goes empty
        # identically, so only this guard makes the arm reachable-safe)
        winner = F.broadcast(
            top.select(
                F.lit(1).alias("_k"),
                F.col("pa").alias("_pa"),
                F.col("pb").alias("_pb"),
            )
        )
        cur = (
            cur.withColumn("_k", F.lit(1))
            .join(winner, "_k", "left")
            .select(F.expr(_BPE_FOLD).alias("rep"), "freq")
            .localCheckpoint()
        )
    return cur, tops


@register(
    "x42_bpe_tokenize",
    _bpe_oracle(
        3,
        final="""SELECT sym,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(rep, ' ')) AS sym, freq FROM r3)
      GROUP BY sym""",
    ),
)
def x42_bpe_tokenize(spark, sf_dir):
    """BPE APPLY — tokenize the corpus with the x40-learned merges and
    emit the resulting token histogram (symbol -> corpus frequency):
    the inference half of tokenizer training, and the vocabulary-usage
    audit a pipeline runs before freezing a tokenizer (dead symbols,
    fertility, compression ratio all read off this relation). Shares
    x40's trainer verbatim (one corpus collapse, k fold rounds), then
    one explode of the fused word-type reps weighted by word frequency
    — the corpus is never re-scanned for the apply because the
    word-type table IS the corpus under the bag-of-words invariant BPE
    training assumes. Exactness: same fold-equivalence as x40; the
    histogram is exact BIGINT sums over vocabulary-sized groups.

    At serving scale the merge table (k rows, broadcast) applies
    map-side to unseen text with the same fold — this entry pins the
    train-side application; the truth-table pytest pins the fold on
    crafted runs."""
    cur, _ = _bpe_train(spark, sf_dir, n_merges=3)
    return (
        cur.select(F.explode(F.split(F.col("rep"), " ")).alias("sym"), "freq")
        .groupBy("sym")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


@register(
    "m22_gram_matrix",
    """
    WITH base AS (
      SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ), wm AS (
      SELECT e, list_max(list_transform(e, v -> abs(v))) AS m FROM base
    ), q AS (
      SELECT list_transform(e, v -> CAST(floor(v / m * 127 + 0.5) AS BIGINT))
               AS q
      FROM wm WHERE m > 0
    )
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(sum(q[i] * q[j]) AS BIGINT) AS dot
    FROM q,
         LATERAL unnest(generate_series(1, len(q))) AS u(i),
         LATERAL unnest(generate_series(1, len(q))) AS v(j)
    WHERE j >= i
    GROUP BY 1, 2
    """,
)
def m22_gram_matrix(spark, sf_dir):
    """Distributed Gram matrix G = QᵀQ over s4-quantized int8 embedding
    codes — the reduction kernel of PCA / covariance estimation / whitening
    at corpus scale: the d x d Gram is what a pipeline actually
    DISTRIBUTES; the eigensolve on it is O(d³) driver-side arithmetic on a
    64x64 matrix and belongs there (documented seam, same split as m5's
    per-series SARIMAX slot). Codes use s4's exact quantization
    (floor(x/m*127+0.5), zero vectors dropped), so every Gram entry is an
    exact BIGINT — |code| <= 127 bounds each product at 16129, safe past
    5e14 vectors in int64.

    Shape: ZERO-join, zero-explode. mapInPandas accumulates per-Arrow-batch
    partial Grams with one int64 np.matmul (MᵀM) and emits 2,080
    upper-triangle rows PER PARTITION — the only shuffle is the final
    (i, j)-keyed sum over n_partitions x 2,080 tiny rows, map-side
    combined. The rejected relational shape — posexplode + self-join on
    vec_id — shuffles the whole corpus twice to build n x d² rows; the
    matmul form moves O(partitions · d²) instead, the m9_mlp Arrow-batch
    discipline applied to a reduction instead of a map. The per-vector
    max stays a plain projected attribute below the transform (s4's
    measured lambda-inlining trap)."""
    import numpy as np
    import pandas as pd

    emb = tbl(spark, sf_dir, "embeddings")
    q = (
        emb.select(
            F.col("embedding").alias("e"),
            F.array_max(
                F.transform("embedding", lambda v: F.abs(v.cast("double")))
            ).alias("m"),
        )
        .filter(F.col("m") > 0)
        .select(
            F.transform(
                "e",
                lambda v: F.floor(
                    v.cast("double") / F.col("m") * 127 + F.lit(0.5)
                ).cast("int"),
            ).alias("q")
        )
    )

    def gram_partial(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {
                "i": (iu[0] + 1).astype("int32"),
                "j": (iu[1] + 1).astype("int32"),
                "dot_part": acc[iu],
            }
        )

    parts = q.mapInPandas(gram_partial, schema="i int, j int, dot_part long")
    return parts.groupBy("i", "j").agg(
        F.sum("dot_part").cast("bigint").alias("dot")
    )


@register(
    "g19_label_propagation",
    """
    WITH pairs AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), raw AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM pairs a JOIN pairs b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    ), und AS MATERIALIZED (
      SELECT u, v FROM raw UNION ALL SELECT v AS u, u AS v FROM raw
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM und
    ), c1 AS (
      SELECT e.u AS node, l.label, count(*) AS cnt
      FROM und e JOIN l0 l ON e.v = l.node GROUP BY 1, 2
    ), l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c1) WHERE rn = 1
    ), c2 AS (
      SELECT e.u AS node, l.label, count(*) AS cnt
      FROM und e JOIN l1 l ON e.v = l.node GROUP BY 1, 2
    ), l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c2) WHERE rn = 1
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l2
    """,
)
def g19_label_propagation(spark, sf_dir):
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007), 2 rounds over the parts-bought-together graph (g15's
    support>=2 edge build): each node adopts the MAJORITY label among its
    neighbors, ties to the smallest label — communities ≠ connected
    components (g11 answers reachability; this answers density). Fixed
    synchronous rounds make the result deterministic and oracle-exact —
    classic async LPA is run-order dependent and UNVERIFIABLE, so the
    entry pins the sync-k semantics and documents that production runs
    more rounds with a convergence check (the g7 fixed-point pattern; LPA
    typically stabilizes in ~5 sync rounds).

    Shape per round: one equi-join of the edge list to the current label
    vector (labels co-partition with edges under the g9/g11 bucketed
    layout — the edge table never re-shuffles across rounds) + one
    (node,label) count agg + one per-node argmax window over
    degree-bounded rows. No neighborhood materialization, no all-pairs
    anything; the round count is a plan constant, not data-driven."""
    _, _, labels = _lpa_labels(spark, sf_dir, rounds=2)
    return labels.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("label"),
    )


def _lpa_labels(spark, sf_dir: str, rounds: int = 2):
    """Shared sync-LPA core for g19 (the labels) and g20 (their
    modularity): returns (raw, und, labels) — canonical u<v edges,
    symmetrized checkpointed edges, and the label vector after
    ``rounds`` synchronous majority updates."""
    li = tbl(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_partkey").distinct()
    b = pairs.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    # checkpoint the CANONICAL edge list, not just its symmetrization:
    # g20 references raw in two more subtrees (m and the within-edge
    # count) and Spark recomputes unshared subtrees — without this the
    # distinct + self-join + support agg ran 3x (measured 18.6s -> 7s
    # at sf0.1)
    raw = (
        pairs.join(b, (pairs.l_orderkey == b.o) & (pairs.l_partkey < b.v))
        .select(F.col("l_partkey").alias("u"), "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("u", "v")
        .localCheckpoint()
    )
    und = raw.unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(F.desc("cnt"), "label")
    for _ in range(rounds):
        msgs = und.join(
            labels.select(F.col("node").alias("v2"), "label"),
            F.col("v") == F.col("v2"),
        ).select(F.col("u").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            counts.select("node", "label", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return raw, und, labels


@register(
    "g20_modularity",
    """
    WITH pairs AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), raw AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM pairs a JOIN pairs b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    ), und AS MATERIALIZED (
      SELECT u, v FROM raw UNION ALL SELECT v AS u, u AS v FROM raw
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM und
    ), c1 AS (
      SELECT e.u AS node, l.label, count(*) AS cnt
      FROM und e JOIN l0 l ON e.v = l.node GROUP BY 1, 2
    ), l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c1) WHERE rn = 1
    ), c2 AS (
      SELECT e.u AS node, l.label, count(*) AS cnt
      FROM und e JOIN l1 l ON e.v = l.node GROUP BY 1, 2
    ), l2 AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c2) WHERE rn = 1
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM raw
    ), ein AS (
      SELECT lu.label, CAST(count(*) AS BIGINT) AS e_c
      FROM raw r
      JOIN l2 lu ON lu.node = r.u
      JOIN l2 lv ON lv.node = r.v
      WHERE lu.label = lv.label
      GROUP BY lu.label
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
    ), dsum AS (
      SELECT l.label, CAST(sum(d.d) AS BIGINT) AS d_c,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM l2 l JOIN deg d ON d.node = l.node GROUP BY l.label
    )
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(m.m) AS BIGINT) AS n_edges,
           CAST(sum(4 * m.m * coalesce(e.e_c, 0) - s.d_c * s.d_c) AS BIGINT)
             AS q_num,
           CAST(4 * max(m.m) * max(m.m) AS BIGINT) AS q_den,
           CAST(CAST(sum(4 * m.m * coalesce(e.e_c, 0) - s.d_c * s.d_c)
                     AS DOUBLE)
                / CAST(4 * max(m.m) * max(m.m) AS DOUBLE) AS DOUBLE)
             AS modularity
    FROM dsum s LEFT JOIN ein e ON e.label = s.label, m
    """,
)
def g20_modularity(spark, sf_dir):
    """Newman modularity Q of the g19 label-propagation partition — the
    quality score that tells you whether the communities are real
    structure or noise (Q near 0) before anything downstream trusts
    them. Exact rational arithmetic: Q = sum_c(e_c/m - (d_c/2m)^2)
    multiplied through by 4m^2 gives q_num = sum_c(4m*e_c - d_c^2) over
    q_den = 4m^2 — both exact BIGINTs, emitted as witnesses beside the
    ONE IEEE division (the w22/x41 discipline; transcendental-free by
    construction). Communities whose internal edge count is zero
    contribute -d_c^2 through the left join's coalesce — dropping them
    would overstate Q. Int64 bound: 4m*e_c needs m*e_c < 2.3e18, safe
    to ~1.5e9 edges; past that promote the two products to
    DECIMAL(38,0) (the m17 note pattern).

    Shape: g19's per-round joins plus three aggregates — within-edge
    count (both endpoints' labels equi-joined onto the canonical u<v
    edge list), per-community degree sums, and a final
    communities-count-sized rollup with the 1-row m broadcast. All
    equi-joins on node ids: the g9/g11 bucketed layout co-locates every
    stage at corpus scale."""
    raw, und, labels = _lpa_labels(spark, sf_dir, rounds=2)
    labels = labels.localCheckpoint()
    m_df = raw.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    ein = (
        raw.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dsum = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.sum("d").cast("bigint").alias("d_c"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        )
    )
    per_c = dsum.join(ein, "label", "left").select(
        "label",
        "d_c",
        F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_c"),
    )
    j = per_c.crossJoin(F.broadcast(m_df))
    q_num = F.sum(
        4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c")
    ).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.max("m").cast("bigint").alias("n_edges"),
        q_num.alias("q_num"),
        (4 * F.max("m") * F.max("m")).cast("bigint").alias("q_den"),
        (
            q_num.cast("double")
            / (4 * F.max("m") * F.max("m")).cast("double")
        )
        .cast("double")
        .alias("modularity"),
    )


@register(
    "x41_logodds_keyness",
    f"""
    WITH tk AS (
      SELECT source, unnest({_tx.tokens_sql('text')}) AS term FROM documents
    ), cnt AS (
      SELECT term,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT)
               AS b
      FROM tk GROUP BY term
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM cnt
    )
    SELECT term, a AS cnt_focus, b AS cnt_rest,
           CAST((a + 1) * (tb - b + 1) AS BIGINT) AS or_num,
           CAST((ta - a + 1) * (b + 1) AS BIGINT) AS or_den,
           CAST(CAST((a + 1) * (tb - b + 1) AS DOUBLE)
                / CAST((ta - a + 1) * (b + 1) AS DOUBLE) AS DOUBLE)
             AS odds_ratio
    FROM cnt, tot
    """,
)
def x41_logodds_keyness(spark, sf_dir):
    """Corpus-comparison keyness: per-term smoothed ODDS RATIO of the
    'src0' slice against the rest of the corpus — the statistic behind
    'what words characterize this source' (Monroe et al. 2008 log-odds;
    the log is monotone, so the RATIO carries the full ranking and the
    entry never computes a transcendental — ln is NOT correctly-rounded
    per IEEE and diverges by ulps across engines, the a15/f18 discipline
    applied by *removing* the function instead of matching it). Add-one
    smoothing keeps zero-count cells finite. Output keeps the exact
    integer numerator/denominator witnesses plus the ONE correctly-rounded
    IEEE division; consumers sort by it or ln it.

    The companion of x22_domain_mix (which balances sources) — this is
    the audit that tells you WHAT distributional difference the mix is
    balancing away. Overflow: (a+1)(tb-b+1) < 2^63 until a source holds
    ~3e9 tokens against ~3e9; beyond that, promote to DECIMAL(38,0).

    Shape: one token explode into a map-side-combined conditional-count
    agg (terms are the groups — vocabulary-sized, Heaps-law), one
    1-row-total broadcast join back. Scan-bound at any corpus size."""
    d = tbl(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(_tx.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("source") != "src0", 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
        )
    )
    tot = cnt.agg(
        F.sum("a").cast("bigint").alias("ta"), F.sum("b").cast("bigint").alias("tb")
    )
    j = cnt.crossJoin(F.broadcast(tot))
    or_num = (F.col("a") + 1) * (F.col("tb") - F.col("b") + 1)
    or_den = (F.col("ta") - F.col("a") + 1) * (F.col("b") + 1)
    return j.select(
        "term",
        F.col("a").alias("cnt_focus"),
        F.col("b").alias("cnt_rest"),
        or_num.cast("bigint").alias("or_num"),
        or_den.cast("bigint").alias("or_den"),
        (or_num.cast("double") / or_den.cast("double"))
        .cast("double")
        .alias("odds_ratio"),
    )


@register(
    "f19_stochastic_oscillator",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT series, day, close_c,
             min(close_c) OVER win AS lo_c,
             max(close_c) OVER win AS hi_c,
             count(*) OVER win AS n_win
      FROM c
      WINDOW win AS (PARTITION BY series ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT series, day, close_c, lo_c, hi_c,
           CAST(close_c - lo_c AS BIGINT) AS k_num,
           CAST(hi_c - lo_c AS BIGINT) AS k_den,
           CAST(CASE WHEN hi_c > lo_c
                THEN CAST(100 * (close_c - lo_c) AS DOUBLE)
                     / CAST(hi_c - lo_c AS DOUBLE)
           END AS DOUBLE) AS pct_k
    FROM w WHERE n_win = 14
    """,
)
def f19_stochastic_oscillator(spark, sf_dir):
    """Stochastic oscillator %K over a 14-day lookback per series: where
    today's close sits inside the recent [low, high] range — the
    overbought/oversold momentum gauge that completes the indicator
    battery (f12 RSI, f14 Bollinger, f16 MACD, f17 ATR). Exact-integer
    inside the window (cent closes, min/max/diff all BIGINT), the f18
    discipline: output carries the exact (num, den) witness pair and ONE
    IEEE division; flat ranges (den = 0) yield NULL by guard, and warm-up
    rows (< 14 closed days) are excluded by an exact window count — both
    engines agree on membership, not just values. %D (the 3-day SMA of
    %K) would average three quotients — f6's exact-mean rule doesn't
    reach it, so consumers derive it from the witness pairs.

    Shape: one map-side-combined (series, day) agg collapses the corpus,
    then one bounded ROWS window per series — no global sort, no join;
    scan-bound at any scale (the f12/f17 shape)."""
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
    win = Window.partitionBy("series").orderBy("day").rowsBetween(-13, 0)
    w = c.select(
        "series",
        "day",
        "close_c",
        F.min("close_c").over(win).alias("lo_c"),
        F.max("close_c").over(win).alias("hi_c"),
        F.count(F.lit(1)).over(win).alias("n_win"),
    ).filter(F.col("n_win") == 14)
    return w.select(
        "series",
        "day",
        "close_c",
        "lo_c",
        "hi_c",
        (F.col("close_c") - F.col("lo_c")).cast("bigint").alias("k_num"),
        (F.col("hi_c") - F.col("lo_c")).cast("bigint").alias("k_den"),
        F.when(
            F.col("hi_c") > F.col("lo_c"),
            (100 * (F.col("close_c") - F.col("lo_c"))).cast("double")
            / (F.col("hi_c") - F.col("lo_c")).cast("double"),
        )
        .cast("double")
        .alias("pct_k"),
    )


@register(
    "t27_stream_gram_view",
    """
    WITH base AS (
      SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ), wm AS (
      SELECT e, list_max(list_transform(e, v -> abs(v))) AS m FROM base
    ), q AS (
      SELECT list_transform(e, v -> CAST(floor(v / m * 127 + 0.5) AS BIGINT))
               AS q
      FROM wm WHERE m > 0
    )
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(sum(q[i] * q[j]) AS BIGINT) AS dot
    FROM q,
         LATERAL unnest(generate_series(1, len(q))) AS u(i),
         LATERAL unnest(generate_series(1, len(q))) AS v(j)
    WHERE j >= i
    GROUP BY 1, 2
    """,
    lazy_replay=True,
)
def t27_stream_gram_view(spark, sf_dir):
    """STREAMING maintenance of m22's Gram matrix — the Lambda invariant
    (t17/t20) proven for LINEAR-ALGEBRA state: the embedding corpus
    arrives in 3 micro-batches, each batch reduces to its partial Gram
    through the same Arrow-matmul kernel as m22 (MapInPandas M^T M +
    a 2,080-key batch-local agg, all BEFORE touching the view), and the
    partials merge into the keyed view by ADDITION under the
    writer-lease/replay contract. After the replay the view must
    hash-match m22's one-shot batch recompute (the oracle is m22's,
    verbatim) — Gram/covariance/co-occurrence matrices are additive, so
    the speed layer maintains them incrementally with NO recompute,
    which is how a streaming feature pipeline keeps PCA/whitening
    statistics current between batch rebuilds.

    Scale shape: per batch the shuffle carries n_partitions x 2,080
    partial rows and the view rewrite is O(one aggregate-sized table);
    the corpus streams through map-side matmuls exactly once."""
    import os as _os
    import uuid

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    emb = tbl(spark, sf_dir, "embeddings")
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "gram_" + uuid.uuid4().hex[:8])
    stream = staged_stream(emb, _os.path.join(root, "feed"), 3, "vec_id")
    view = KeyedParquetView(spark, _os.path.join(root, "mv"), ["i", "j"], partition_by="pb")

    def batch_gram(b):
        q = (
            b.select(
                F.col("embedding").alias("e"),
                F.array_max(
                    F.transform("embedding", lambda v: F.abs(v.cast("double")))
                ).alias("m"),
            )
            .filter(F.col("m") > 0)
            .select(
                F.transform(
                    "e",
                    lambda v: F.floor(
                        v.cast("double") / F.col("m") * 127 + F.lit(0.5)
                    ).cast("int"),
                ).alias("q")
            )
        )

        def gram_partial(batches):
            import numpy as np
            import pandas as pd

            acc = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                g = mat.T @ mat
                acc = g if acc is None else acc + g
            if acc is None:
                return
            iu = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "dot_part": acc[iu],
                }
            )

        return (
            q.mapInPandas(gram_partial, schema="i int, j int, dot_part long")
            .groupBy("i", "j")
            .agg(F.sum("dot_part").cast("bigint").alias("dot"))
        )

    def fn(cur, b):
        delta = b.groupBy("i", "j", "pb").agg(
            F.sum("dot").cast("bigint").alias("dot")
        )
        if cur is None:
            return delta
        return (
            cur.alias("v")
            .join(delta.alias("d"), ["i", "j"], "full_outer")
            .select(
                "i",
                "j",
                F.coalesce(F.col("v.pb"), F.col("d.pb")).alias("pb"),
                (
                    F.coalesce(F.col("v.dot"), F.lit(0))
                    + F.coalesce(F.col("d.dot"), F.lit(0))
                ).cast("bigint").alias("dot"),
            )
        )

    def sink(batch_df, batch_id):
        g = batch_gram(batch_df).withColumn(
            "pb", F.pmod(F.xxhash64("i"), F.lit(8))
        )
        view.merge_custom(g, fn, batch_id=batch_id, writer="grammv")

    run_foreach_batch(stream, sink, _os.path.join(root, "ckpt"))
    return view.read().select("i", "j", "dot")


#: NDCG@10 rank weights in 2^20 fixed-point units: W[r] =
#: round(2^20 / log2(r+1)) for r = 1..10, precomputed ONCE as integer
#: literals so neither engine evaluates a transcendental (the x39
#: half-bit-idf discipline applied to rank discounting); _NDCG_CW[g] is
#: the ideal-DCG prefix sum for g relevant hits.
_NDCG_W = [1048576, 661578, 524288, 451597, 405645,
           373510, 349525, 330789, 315653, 303106]
_NDCG_CW = [0, 1048576, 1710154, 2234442, 2686039, 3091684,
            3465194, 3814719, 4145508, 4461161, 4764267]


@register(
    "m23_ndcg",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, label AS tl
      FROM embeddings WHERE vec_id % 50 = 0
        AND list_max(list_transform(embedding,
                                    v -> abs(CAST(v AS DOUBLE)))) > 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS c_emb, label AS nl
      FROM embeddings WHERE vec_id % 50 <> 0
        AND list_max(list_transform(embedding,
                                    v -> abs(CAST(v AS DOUBLE)))) > 0
    ), scored AS (
      SELECT q.query_id, q.tl, c.nl,
             {_sim.cosine_sql('q.q_emb', 'c.c_emb')} AS score,
             c.neighbor_id
      FROM q CROSS JOIN c
    ), ranked AS (
      SELECT query_id, tl, nl,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    ), g AS (
      SELECT query_id,
             CASE WHEN nl = tl THEN 1 ELSE 0 END AS gain, rank
      FROM ranked WHERE rank <= 10
    ), per AS (
      SELECT query_id,
             CAST(sum(gain) AS BIGINT) AS n_rel,
             CAST(sum(gain * ({_NDCG_W})[rank]) AS BIGINT) AS dcg_w
      FROM g GROUP BY 1
    )
    SELECT query_id, n_rel, dcg_w,
           CAST(({_NDCG_CW})[n_rel + 1] AS BIGINT) AS idcg_w,
           CAST(CASE WHEN n_rel > 0
                THEN CAST(dcg_w AS DOUBLE)
                     / CAST(({_NDCG_CW})[n_rel + 1] AS DOUBLE)
           END AS DOUBLE) AS ndcg
    FROM per
    """,
)
def m23_ndcg(spark, sf_dir):
    """NDCG@10 of the exact-cosine retriever against label relevance —
    the rank-sensitive retrieval eval (m14 scores the CLASSIFICATION
    readout of the same neighbors; NDCG scores the ORDERING, which is
    what a retrieval stack actually serves). Binary gains (neighbor
    label == query label) discounted by 1/log2(rank+1) — but the
    discount table is precomputed as 2^20 fixed-point INTEGER literals
    (one literal feeding both engines, the GBT_TREES rule), so DCG and
    ideal-DCG are exact BIGINTs and the entry never evaluates a log:
    transcendentals are not correctly-rounded across engines (the x41
    lesson). Ideal DCG for g hits is the prefix-sum literal CW[g]
    (ideal ordering front-loads all hits); ndcg is the ONE IEEE
    division, NULL-guarded for zero-relevant queries — dropping them
    would inflate the average a consumer computes.

    Shape: the s1/m14 sanctioned broadcast-queries x corpus-scan leg
    (serving-sized query side enforced), then per-query windows over
    Q x 10 rows and an 11-element literal array lookup — at corpus
    scale the brute-force leg swaps for the s8 cascade unchanged.
    Ranks inherit s1's determinism: identically-spelled cosine plus
    the (score DESC, neighbor_id) tiebreak. Zero-norm vectors are
    dropped on BOTH sides before scoring (the m22/s4 rule): cosine is
    undefined there, and the engines DIVERGE loudly if asked — Spark's
    ANSI mode raises DIVIDE_BY_ZERO while DuckDB emits inf-ranked rows
    (the fuzz battery surfaced this; the fixture has no zero vectors)."""
    emb = tbl(spark, sf_dir, "embeddings")
    nonzero = F.array_max(
        F.transform("embedding", lambda v: F.abs(v.cast("double")))
    ) > 0
    test = emb.filter((F.col("vec_id") % 50 == 0) & nonzero)
    train = emb.filter((F.col("vec_id") % 50 != 0) & nonzero)
    nn = _sim.topk_bruteforce(train, test, k=10)
    nlab = train.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    tlab = test.select(F.col("vec_id").alias("query_id"), F.col("label").alias("tl"))
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    cwarr = F.array(*[F.lit(w) for w in _NDCG_CW])
    g = (
        nn.join(nlab, "neighbor_id")
        .join(F.broadcast(tlab), "query_id")
        .select(
            "query_id",
            F.when(F.col("nl") == F.col("tl"), 1).otherwise(0).alias("gain"),
            "rank",
        )
    )
    per = g.groupBy("query_id").agg(
        F.sum("gain").cast("bigint").alias("n_rel"),
        F.sum(F.col("gain") * F.element_at(warr, F.col("rank")))
        .cast("bigint")
        .alias("dcg_w"),
    )
    idcg = F.element_at(cwarr, (F.col("n_rel") + 1).cast("int")).cast("bigint")
    return per.select(
        "query_id",
        "n_rel",
        "dcg_w",
        idcg.alias("idcg_w"),
        F.when(
            F.col("n_rel") > 0, F.col("dcg_w").cast("double") / idcg.cast("double")
        )
        .cast("double")
        .alias("ndcg"),
    )


def _acf_oracle() -> str:
    legs = "\n      UNION ALL ".join(
        f"""SELECT series, {k} AS lag, close_c AS x,
             lead(close_c, {k}) OVER (PARTITION BY series ORDER BY day) AS y
      FROM c"""
        for k in range(1, 8)
    )
    return f"""
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c
      FROM events GROUP BY 1, 2
    ), lagged AS (
      {legs}
    ), s AS (
      SELECT series, CAST(lag AS INTEGER) AS lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged WHERE y IS NOT NULL GROUP BY 1, 2
    )
    SELECT series, lag, n, sx, sy, sxy, sxx, syy,
           CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS DOUBLE) AS acf
    FROM s
    """


@register("w23_autocorrelation", _acf_oracle())
def w23_autocorrelation(spark, sf_dir):
    """Autocorrelation function per series, lags 1..7 — the diagnostic
    that decides the AR order (and whether w15's weekly seasonality is
    real: a lag-7 spike says yes) before any m5/m9 forecaster is fit.
    Defined as the Pearson correlation of the (close_t, close_{t+k})
    pair set (the a15/f15 sufficient-statistic assembly): six exact
    BIGINT statistics per (series, lag), correlation assembled as
    (n·sxy − sx·sy) / (√(n·sxx − sx²)·√(n·syy − sy²)) — two
    correctly-rounded sqrts of exact integers, one division, spelled
    identically in both engines. Zero-variance guards on the EXACT
    integer dens (the f15 rule). Int64 bound: n·sxy needs
    n·x·y < 9e18 — safe past 10⁶ days at ±$30k closes.

    Shape: one map-side-combined (series, day) agg collapses the
    corpus; ONE window pass computes all 7 leads (Spark plans
    same-partition/same-order window functions in a single Window
    node — 7 lags cost one sort, not seven); an explode unpivots to
    (lag, x, y) and one final hash agg keyed by (series, lag) emits
    7 x #series rows. Calendar-bounded after the first agg."""
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
    leads = c.select(
        "series",
        F.col("close_c").alias("x"),
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("lag"),
                    F.lead("close_c", k).over(wd).alias("y"),
                )
                for k in range(1, 8)
            ]
        ).alias("ys"),
    )
    lagged = (
        leads.select("series", "x", F.explode("ys").alias("p"))
        .select("series", F.col("p.lag").alias("lag"), "x", F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    s = lagged.groupBy("series", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "series",
        "lag",
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        F.when(
            (vx > 0) & (vy > 0),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
        )
        .cast("double")
        .alias("acf"),
    )


@register(
    "x43_source_overlap",
    f"""
    WITH pres AS (
      SELECT DISTINCT source, t
      FROM documents, unnest({_tx.tokens_sql('text')}) AS u(t)
    ), sz AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM pres GROUP BY 1
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM pres a JOIN pres b ON a.t = b.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa.source AS src_a, sb.source AS src_b,
           sa.n AS n_a, sb.n AS n_b,
           CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
           CAST(sa.n + sb.n - coalesce(i.inter, 0) AS BIGINT) AS uni,
           CAST(CAST(coalesce(i.inter, 0) AS DOUBLE)
                / CAST(sa.n + sb.n - coalesce(i.inter, 0) AS DOUBLE)
             AS DOUBLE) AS jaccard
    FROM sz sa JOIN sz sb ON sa.source < sb.source
    LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source
    """,
)
def x43_source_overlap(spark, sf_dir):
    """Pairwise vocabulary-overlap matrix between sources — exact
    Jaccard of the distinct-token SETS of every source pair, the
    corpus-level companion to x41's per-term keyness (x41 says WHICH
    terms differ; this says HOW FAR APART each pair of sources is —
    the number a mixing plan (x22) reads before deciding whether two
    sources even need separate quotas). Exact by construction: token
    presence collapses to one distinct (source, token) relation
    (vocabulary x sources sized), the intersection is a token-keyed
    equi-self-join counted per ordered pair, and union = n_a + n_b −
    inter by inclusion-exclusion — zero floats until the single
    output division. Pairs with empty intersections survive through
    the left join (their jaccard = 0 rows are the finding).

    Shape: one explode + distinct (map-side combinable), one
    vocabulary-sized self equi-join on token, then source-count²-sized
    rollups — corpus-scan-bound; the self-join never touches corpus
    rows. At 100 TB with huge vocabularies the same relation feeds a
    KMV/minhash estimate (a30's algebra) — this entry is the exact
    form, preferred while #distinct tokens x #sources fits a shuffle."""
    d = tbl(spark, sf_dir, "documents")
    pres = (
        d.select("source", F.explode(_tx.tokens(F.col("text"))).alias("t"))
        .distinct()
        .localCheckpoint()
    )
    sz = pres.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = pres.select(F.col("source").alias("src_a"), "t")
    b = pres.select(F.col("source").alias("src_b"), "t")
    inter = (
        a.join(b, "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    pairs = sa.join(sb, F.col("src_a") < F.col("src_b")).join(
        inter, ["src_a", "src_b"], "left"
    )
    inter_c = F.coalesce(F.col("inter"), F.lit(0)).cast("bigint")
    uni = (F.col("n_a") + F.col("n_b") - inter_c).cast("bigint")
    return pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        inter_c.alias("inter"),
        uni.alias("uni"),
        (inter_c.cast("double") / uni.cast("double")).cast("double").alias("jaccard"),
    )


@register(
    "f20_obv",
    """
    WITH c AS (
      SELECT event_type AS series, CAST(ts AS DATE) AS day,
             max(struct_pack(t := CAST(ts AS TIMESTAMP),
                             v := CAST(round(value * 100) AS BIGINT))).v
               AS close_c,
             CAST(count(*) AS BIGINT) AS vol
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT series, day, close_c, vol,
             close_c - lag(close_c)
               OVER (PARTITION BY series ORDER BY day) AS diff
      FROM c
    )
    SELECT series, day, close_c, vol,
           CAST(sum(CASE WHEN diff > 0 THEN vol
                         WHEN diff < 0 THEN -vol ELSE 0 END)
                OVER (PARTITION BY series ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM d
    """,
)
def f20_obv(spark, sf_dir):
    """On-balance volume per series — the volume-flow confirmation
    indicator (rising price on rising OBV = conviction; divergence =
    distribution), completing the f12-f19 overlay battery. The events
    fixture has no share-volume column, so volume is the per-(series,
    day) EVENT COUNT — activity as the volume proxy, stated here
    rather than silently assumed; swapping a real volume column
    changes one aggregate. Exact throughout: cent closes, integer
    day-over-day sign, BIGINT running sum; first-day and flat days
    contribute 0 (the NULL diff falls into the ELSE arm — pinned, not
    engine-defaulted).

    Shape: one map-side-combined (series, day) agg collapses the
    corpus, then one lag + one running-sum window over the SAME
    per-series ordering (one sort, calendar-bounded rows). The f12/f17
    scan-bound shape."""
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
        .agg(
            F.max("s")["v"].alias("close_c"),
            F.count(F.lit(1)).cast("bigint").alias("vol"),
        )
    )
    wd = Window.partitionBy("series").orderBy("day")
    wrun = wd.rowsBetween(Window.unboundedPreceding, 0)
    diff = F.col("close_c") - F.lag("close_c").over(wd)
    signed = (
        F.when(diff > 0, F.col("vol"))
        .when(diff < 0, -F.col("vol"))
        .otherwise(F.lit(0))
    )
    d = c.select("series", "day", "close_c", "vol", signed.alias("sv"))
    return d.select(
        "series",
        "day",
        "close_c",
        "vol",
        F.sum("sv").over(wrun).cast("bigint").alias("obv"),
    )


def _m24_oracle() -> str:
    score_base = _gbt_score_sql()
    legs = []
    for feat in ("q", "dc", "pc"):
        sc = _gbt_score_sql({feat: f"{feat}_p"})
        legs.append(
            f"""SELECT '{feat}' AS feature, n, corr_base AS n_correct_base,
             corr_{feat} AS n_correct_perm,
             CAST(CAST(corr_base - corr_{feat} AS DOUBLE)
                  / CAST(n AS DOUBLE) AS DOUBLE) AS acc_drop
      FROM agg"""
        )
    corr_cols = ",\n             ".join(
        f"""CAST(sum(CASE WHEN (CASE WHEN {_gbt_score_sql({feat: f"{feat}_p"})} > 0
                              THEN 1 ELSE 0 END) = label
                       THEN 1 ELSE 0 END) AS BIGINT) AS corr_{feat}"""
        for feat in ("q", "dc", "pc")
    )
    union = "\n      UNION ALL ".join(legs)
    return f"""
    WITH f AS (
      SELECT concat(CAST(l_orderkey AS VARCHAR), '-',
                    CAST(l_linenumber AS VARCHAR)) AS rowkey,
             CAST(floor(l_quantity) AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS dc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ), h AS (
      SELECT *, {_hh.phash60_sql("rowkey", seed="permimp")} AS hv
      FROM f
    ), s AS (
      SELECT *, hv % 64 AS shard FROM h
    ), p AS (
      SELECT q, dc, pc,
             coalesce(lead(q)  OVER w, first_value(q)  OVER w) AS q_p,
             coalesce(lead(dc) OVER w, first_value(dc) OVER w) AS dc_p,
             coalesce(lead(pc) OVER w, first_value(pc) OVER w) AS pc_p,
             CASE WHEN pc * (100 - dc) > 300000000 THEN 1 ELSE 0 END AS label
      FROM s
      WINDOW w AS (PARTITION BY shard ORDER BY hv, rowkey, q, dc, pc)
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN (CASE WHEN {score_base} > 0
                                 THEN 1 ELSE 0 END) = label
                      THEN 1 ELSE 0 END) AS BIGINT) AS corr_base,
             {corr_cols}
      FROM p
    )
    {union}
    """


@register("m24_permutation_importance", _m24_oracle())
def m24_permutation_importance(spark, sf_dir):
    """Permutation feature importance for the m19 plan-compiled GBT —
    the model-agnostic explainability eval: break one feature's
    row-association, re-score, and read the accuracy drop (a feature
    whose permutation costs nothing is dead weight; here pc carries the
    signal because the m19 label derives from it — the expected
    readout, now measured rather than asserted). The "permutation" is a
    DETERMINISTIC within-shard rotation: rows rank by the 60-bit
    cross-engine md5 hash inside 64 hash shards and each row takes its
    successor's feature value (the last row wraps to the shard's
    first) — association-breaking like a random permutation, but
    reproducible, oracle-exact, and free of the global sort a true
    random permutation join would need (the x31 per-shard discipline).
    All three permuted variants ride ONE window pass; the four scores
    (base + 3) are CASE chains from the SAME GBT_TREES literal
    (_gbt_score_sql's rename map — model and oracle cannot drift), and
    accuracy counts are exact BIGINTs with one output division per
    feature row.

    Shape: one scan, one 64-shard window sort (no global ordering),
    one 1-row aggregate, a 3-row literal unpivot. Scan-bound at any
    scale; the shard count just tracks cluster parallelism."""
    from pyspark.sql import Window

    li = tbl(spark, sf_dir, "lineitem")
    f = li.select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).alias("rowkey"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("dc"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
    ).withColumn("hv", _hh.phash60(F.col("rowkey"), seed="permimp"))
    # (hv, rowkey) alone is NOT a total order: the synthetic fixture has
    # duplicate (l_orderkey, l_linenumber) pairs (45,832 distinct keys on
    # 60,000 rows at sf0.01 — caught by the oracle gate as a ±5-count
    # drift in the permuted accuracies). Appending the feature columns
    # makes remaining ties INDISTINGUISHABLE rows: either engine may
    # order them freely, but the multiset of (features, permuted value)
    # pairs — all the scoring sees — is then identical by construction.
    w = Window.partitionBy(F.col("hv") % 64).orderBy(
        "hv", "rowkey", "q", "dc", "pc"
    )
    perm = f.select(
        "q",
        "dc",
        "pc",
        *[
            F.coalesce(F.lead(c).over(w), F.first(c).over(w)).alias(f"{c}_p")
            for c in ("q", "dc", "pc")
        ],
        F.when(
            F.col("pc") * (100 - F.col("dc")) > 300000000, F.lit(1)
        ).otherwise(F.lit(0)).alias("label"),
    )
    def cols_with(feat=None):
        base = {c: F.col(c) for c in ("q", "dc", "pc")}
        if feat:
            base[feat] = F.col(f"{feat}_p")
        return base

    def corr(feat=None):
        pred = F.when(_gbt_score_col(cols_with(feat)) > 0, 1).otherwise(0)
        return (
            F.sum(F.when(pred == F.col("label"), 1).otherwise(0))
            .cast("bigint")
        )

    agg = perm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        corr().alias("corr_base"),
        *[corr(feat).alias(f"corr_{feat}") for feat in ("q", "dc", "pc")],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(feat).alias("feature"),
                    F.col(f"corr_{feat}").alias("cp"),
                )
                for feat in ("q", "dc", "pc")
            ]
        )
    ).alias("r")
    return agg.select("n", "corr_base", rows).select(
        F.col("r.feature").alias("feature"),
        "n",
        F.col("corr_base").alias("n_correct_base"),
        F.col("r.cp").alias("n_correct_perm"),
        (
            (F.col("corr_base") - F.col("r.cp")).cast("double")
            / F.col("n").cast("double")
        )
        .cast("double")
        .alias("acc_drop"),
    )


#: Poisson(1) CDF in parts-per-million, cumulative for k = 0..7 — ONE
#: literal table feeding both engines (the GBT_TREES/_NDCG_W rule). A
#: hash-uniform u in [0, 1e6) maps to weight w = #thresholds <= u, i.e.
#: P(w = k) = the Poisson(1) pmf truncated at 8 (tail mass 1e-5).
_POIS_PPM = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990]
_BOOT_B = 32


def _m25_oracle() -> str:
    w_sql = "(" + " + ".join(
        f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in _POIS_PPM
    ) + ")"
    return f"""
    WITH t AS (
      SELECT event_type AS series, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ), pt AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sx
      FROM t GROUP BY 1
    ), r AS (
      SELECT series, cents, b,
             {_hh.phash60_sql(
                 "concat(CAST(event_id AS VARCHAR), '|', CAST(b AS VARCHAR))",
                 seed="boot")} % 1000000 AS u
      FROM t, LATERAL unnest(generate_series(0, {_BOOT_B - 1})) AS g(b)
    ), wts AS (
      SELECT series, b, {w_sql} AS w, cents FROM r
    ), rep AS (
      SELECT series, b, CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w * cents) AS BIGINT) AS swx
      FROM wts GROUP BY 1, 2 HAVING sum(w) > 0
    ), means AS (
      SELECT series, b, CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS m,
             row_number() OVER (PARTITION BY series
                                ORDER BY CAST(swx AS DOUBLE)
                                         / CAST(sw AS DOUBLE), b) AS rn,
             count(*) OVER (PARTITION BY series) AS np
      FROM rep
    )
    SELECT p.series, p.n,
           CAST(CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE) AS DOUBLE)
             AS mean_cents,
           CAST(max(np) AS BIGINT) AS n_replicas,
           CAST(max(CASE WHEN np >= 3 AND rn = 2 THEN m END) AS DOUBLE)
             AS ci_lo,
           CAST(max(CASE WHEN np >= 3 AND rn = np - 1 THEN m END) AS DOUBLE)
             AS ci_hi
    FROM pt p JOIN means USING (series)
    GROUP BY 1, 2, 3
    """


@register("m25_bootstrap_ci", _m25_oracle())
def m25_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap confidence interval for the per-series mean —
    THE distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of resampling n
    rows with replacement (a shuffle per replica), every row draws an
    independent Poisson(1) weight per replica — multinomial(n, 1/n)
    converges to iid Poisson(1) as n grows — so ALL B = 32 replicas
    ride ONE pass over the corpus with zero resampling shuffles.
    Determinism and exactness: the weight is derived from the 60-bit
    cross-engine md5 hash of (event_id, replica) reduced mod 1e6 and
    cut against the Poisson(1) CDF as parts-per-million INTEGER
    literals (_POIS_PPM — one literal feeds both engines; no RNG, no
    transcendental); per-replica (Σw, Σw·x) are exact BIGINTs with one
    division per replica mean; the CI bounds are SELECTED order
    statistics of the replica means (rank 2 and rank B−1 of the
    surviving replicas ≈ a 94% interval at B = 32) — selected, never
    averaged (the d14/a18/w22 rule), ranked by (mean, replica-id) where
    the means are bit-identical doubles in both engines by identical
    spelling. Zero-weight replicas (possible only on tiny groups) are
    excluded by an exact HAVING on Σw and the bounds are NULL when
    fewer than 3 replicas survive — pinned, not engine-defaulted.

    Shape: one corpus scan exploded x32 (map-side-combined agg
    collapses it immediately; the explode is a Generate over a
    sequence literal, no join), one (series, replica) agg, one
    per-series window over <= 32 rows, a broadcast-sized join back to
    the exact point estimate. At 100 TB this is exactly the production
    uncertainty pipeline: B more replicas = one wider integer array,
    never another data pass."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    t = ev.select(
        F.col("event_type").alias("series"),
        "event_id",
        (F.col("value").cast(DEC) * 100).cast("bigint").alias("cents"),
    )
    pt = t.groupBy("series").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
    )
    r = t.select(
        "series",
        "cents",
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"),
        "event_id",
    ).withColumn(
        "u",
        _hh.phash60(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            ),
            seed="boot",
        )
        % 1000000,
    )
    w = sum(
        F.when(F.col("u") >= F.lit(thr), 1).otherwise(0) for thr in _POIS_PPM
    )
    rep = (
        r.select("series", "b", w.alias("w"), "cents")
        .groupBy("series", "b")
        .agg(
            F.sum("w").cast("bigint").alias("sw"),
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("swx"),
        )
        .filter(F.col("sw") > 0)
    )
    m = (F.col("swx").cast("double") / F.col("sw").cast("double")).alias("m")
    wd = Window.partitionBy("series").orderBy(
        F.col("swx").cast("double") / F.col("sw").cast("double"), "b"
    )
    wp = Window.partitionBy("series")
    means = rep.select(
        "series",
        m,
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("np"),
    )
    sel = means.groupBy("series").agg(
        F.max("np").cast("bigint").alias("n_replicas"),
        F.max(
            F.when((F.col("np") >= 3) & (F.col("rn") == 2), F.col("m"))
        ).cast("double").alias("ci_lo"),
        F.max(
            F.when(
                (F.col("np") >= 3) & (F.col("rn") == F.col("np") - 1),
                F.col("m"),
            )
        ).cast("double").alias("ci_hi"),
    )
    return pt.join(sel, "series").select(
        "series",
        "n",
        (F.col("sx").cast("double") / F.col("n").cast("double"))
        .cast("double")
        .alias("mean_cents"),
        "n_replicas",
        "ci_lo",
        "ci_hi",
    )


@register(
    "x44_temperature_mix",
    """
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ), w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 10000.0)) AS BIGINT)
               AS weight
      FROM c
    ), t AS (
      SELECT source, n_docs, weight,
             CAST(sum(weight) OVER () AS BIGINT) AS wtot
      FROM w
    ), q AS (
      SELECT source, n_docs, weight,
             CAST(1000 * weight // wtot AS BIGINT) AS q0,
             CAST((1000 * weight) % wtot AS BIGINT) AS rem
      FROM t
    ), dq AS (
      SELECT *, CAST(1000 - sum(q0) OVER () AS BIGINT) AS deficit FROM q
    ), r AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rn FROM dq
    )
    SELECT source, n_docs, weight,
           CAST(q0 + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS BIGINT)
             AS quota
    FROM r
    """,
)
def x44_temperature_mix(spark, sf_dir):
    """Temperature-scaled domain-mixture quotas — the sampling budget a
    multilingual/multi-domain training run actually allocates: raw
    per-domain counts are flattened by alpha = 0.5 (w_i ~ n_i^0.5, the
    mT5/CC-mix temperature rule), and a fixed budget of 1000 documents
    is apportioned by LARGEST-REMAINDER rounding (floor quotas, then the
    leftover seats go to the largest fractional remainders, ties to the
    alphabetically-first domain) so the quotas are integers that sum to
    the budget EXACTLY — no stochastic rounding, no drifting totals.

    Exactness discipline: sqrt is NOT in the banned-transcendental class
    (the m9/x26 quantized-log rule) because IEEE 754 REQUIRES correctly
    rounded sqrt — both engines produce the identical double for the
    identical integer, and the x100 fixed-point scale (floor(sqrt(n *
    10^4)) = floor(100*sqrt(n))) keeps the product inside the 2^52
    exact-integer range for any plausible domain count (< 4e11 docs per
    domain). Everything after the sqrt is int64: floor division against
    the weight total, modular remainders, one row_number over the
    domain-sized frame.

    Scale shape: one map-side-combined count agg over the corpus; the
    apportionment runs on the DOMAIN-count-sized frame (thousands of
    rows at worst) in a single partition window — the corpus itself is
    touched exactly once. Pairs with x22 (domain mix audit) and o5 (PPS
    sampling): x43 decides the quota, o5-style hash gates then draw it
    deterministically."""
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = c.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("n_docs").cast("double") * F.lit(10000.0))).cast(
            "bigint"
        ),
    )
    everything = Window.partitionBy()
    wtot = F.sum("weight").over(everything)
    q = w.select(
        "source",
        "n_docs",
        "weight",
        F.expr("1000 * weight").alias("_bw"),
        wtot.alias("_wtot"),
    ).select(
        "source",
        "n_docs",
        "weight",
        F.expr("_bw div _wtot").cast("bigint").alias("q0"),
        (F.col("_bw") % F.col("_wtot")).cast("bigint").alias("rem"),
    )
    q = q.withColumn(
        "deficit", (F.lit(1000) - F.sum("q0").over(everything)).cast("bigint")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy().orderBy(F.col("rem").desc(), F.col("source"))
        ),
    )
    return q.select(
        "source",
        "n_docs",
        "weight",
        (
            F.col("q0")
            + F.when(F.col("rn") <= F.col("deficit"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("quota"),
    )


@register(
    "t28_stream_histogram_view",
    """
    WITH b AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) // 1000 AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bin, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM b
    )
    SELECT event_type,
           CAST(max(tot) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(min(CASE WHEN 2 * cum >= tot THEN bin END) AS BIGINT)
             AS med_bin
    FROM c GROUP BY 1
    """,
    lazy_replay=True,
)
def t28_stream_histogram_view(spark, sf_dir):
    """STREAMING maintenance of per-series sparse equi-width histograms —
    the MERGEABLE-QUANTILE member of the sketch-view family (t20 add /
    t22 register-max / t25 word-OR / t26 order-statistic): bin counts
    merge by CELL-WISE ADDITION exactly like the CMS matrix (the sketch
    is linear), but unlike the CMS the serving read answers ORDER
    statistics — the median bin is the first bin whose doubled
    cumulative count reaches the series total, i.e. a quantile answered
    from state without ever re-sorting raw data. Bins are 10-dollar
    (1000-cent) buckets keyed sparsely: only observed bins hold a row,
    so the state is O(distinct bins), not O(range). The feed replays in
    3 micro-batches; each batch collapses map-side to its own (type,
    bin, n) partials before touching the view; the merged view must
    hash-match the one-shot batch histogram and its derived median bin
    (one quantized bin boundary, exact integers on both engines).

    Scale: a 100 TB feed reduces per micro-batch to at most
    |types| x |bins| rows before the merge join; the view never exceeds
    the same bound, and the serving read's window runs over bin-count
    frames (hundreds of rows), never over events. The production shape
    for 'p50/p99 per key, updated every batch' dashboards where a
    t-digest's float centroids would not hash-gate."""
    import os as _os
    import uuid

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    ev = tbl(spark, sf_dir, "events")
    feed = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "histmv_" + uuid.uuid4().hex[:8])
    stream = staged_stream(feed, _os.path.join(root, "feed"), 3, "event_id")
    view = KeyedParquetView(
        spark,
        _os.path.join(root, "mv"),
        ["event_type", "bin"],
        partition_by="event_type",
    )

    def fn(cur, b):
        delta = b.groupBy(
            "event_type", F.expr("value_c div 1000").cast("bigint").alias("bin")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        if cur is None:
            return delta
        return (
            cur.alias("v")
            .join(delta.alias("d"), ["event_type", "bin"], "full_outer")
            .select(
                "event_type",
                "bin",
                (
                    F.coalesce(F.col("v.n"), F.lit(0))
                    + F.coalesce(F.col("d.n"), F.lit(0))
                )
                .cast("bigint")
                .alias("n"),
            )
        )

    run_foreach_batch(
        stream,
        lambda b, bid: view.merge_custom(b, fn, batch_id=bid, writer="hist"),
        _os.path.join(root, "ckpt"),
    )
    from pyspark.sql import Window

    hist = view.read()
    w = Window.partitionBy("event_type").orderBy("bin")
    c = hist.select(
        "event_type",
        "bin",
        "n",
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("n").over(Window.partitionBy("event_type")).alias("tot"),
    )
    return c.groupBy("event_type").agg(
        F.max("tot").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("bin")))
        .cast("bigint")
        .alias("med_bin"),
    )


@register(
    "t29_stream_minhash_view",
    f"""
    WITH sigs AS (
      SELECT source, {_dd.minhash_signature_sql('text')} AS sig
      FROM documents
      WHERE len({_tx.tokens_sql('text')}) >= {_dd.SHINGLE}
    ), per AS (
      SELECT source, u.i AS perm, CAST(min(sig[u.i]) AS BIGINT) AS v
      FROM sigs, unnest(generate_series(1, {_dd.MH_K})) AS u(i)
      GROUP BY 1, 2
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE)
                / {_dd.MH_K} AS DOUBLE) AS est_jaccard
    FROM per a JOIN per b ON a.perm = b.perm AND a.source < b.source
    GROUP BY 1, 2
    """,
    lazy_replay=True,
)
def t29_stream_minhash_view(spark, sf_dir):
    """STREAMING domain-overlap monitor: per-SOURCE minhash signatures
    maintained as a keyed view under REGISTER-WISE MIN — the merge
    algebra the sketch-view family was missing (t20 add / t22 register
    MAX / t25 word OR / t26 order-statistic / t28 cell add; minhash is
    the MIN dual of HLL's MAX): min over a union of shingle sets is the
    elementwise min of the parts' minima, so micro-batch boundaries are
    invisible by algebra and the streamed signatures converge exactly
    to the one-shot batch sketch. The serving read then estimates
    cross-domain Jaccard similarity as the fraction of agreeing
    permutations between any two sources — the incremental
    contamination/overlap audit an ingest pipeline runs WHILE crawling
    (is this new feed a near-copy of a domain we already hold?), using
    d2's exact signature machinery (ext/dedup.py:minhash_signature,
    identical constants, so the estimates are comparable across the
    dedup battery). Documents too short to shingle (< 3 tokens) carry
    no evidence and are dropped identically in both engines.

    Scale: each micro-batch collapses map-side to <= |sources| x 16
    (source, perm, min) rows BEFORE touching the view (the t22 shape);
    the view holds exactly |sources| x 16 rows forever, and the pair
    read is a self-join on the 16-row perm axis of a domain-sized
    table — no stage ever re-reads the corpus. The per-doc sketching
    cost is d2's, paid once per arriving batch."""
    import os as _os
    import uuid

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    d = tbl(spark, sf_dir, "documents")
    feed = d.select("doc_id", "source", "text")
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "mhmv_" + uuid.uuid4().hex[:8])
    stream = staged_stream(feed, _os.path.join(root, "feed"), 3, "doc_id")
    view = KeyedParquetView(
        spark,
        _os.path.join(root, "mv"),
        ["source", "perm"],
        partition_by="source",
    )

    def fn(cur, b):
        toks = b.select("source", _tx.tokens(F.col("text")).alias("_toks"))
        sh = toks.select(
            "source", _dd.shingles_of_tokens(F.col("_toks")).alias("_sh")
        )
        hs = sh.select("source", _dd.shingle_hashes(F.col("_sh")).alias("hs"))
        sig = hs.filter(F.size("hs") > 0).select(
            "source", _dd.minhash_signature(F.col("hs")).alias("sig")
        )
        delta = (
            sig.select(
                "source", F.posexplode("sig").alias("perm0", "v")
            )
            .select(
                "source",
                (F.col("perm0") + 1).cast("bigint").alias("perm"),
                F.col("v").cast("bigint").alias("v"),
            )
            .groupBy("source", "perm")
            .agg(F.min("v").cast("bigint").alias("v"))
        )
        if cur is None:
            return delta
        return (
            cur.alias("c")
            .join(delta.alias("d"), ["source", "perm"], "full_outer")
            .select(
                "source",
                "perm",
                F.least(F.col("c.v"), F.col("d.v")).cast("bigint").alias("v"),
            )
        )

    run_foreach_batch(
        stream,
        lambda b, bid: view.merge_custom(b, fn, batch_id=bid, writer="mh"),
        _os.path.join(root, "ckpt"),
    )
    per = view.read()
    if per is None:
        # every document was too short to shingle: the view holds no
        # signatures and there are no source pairs — same as the oracle's
        # empty `sigs` CTE
        return spark.createDataFrame(
            [],
            "src_a string, src_b string, n_match bigint, est_jaccard double",
        )
    a = per.select(
        F.col("source").alias("src_a"), "perm", F.col("v").alias("va")
    )
    b2 = per.select(
        F.col("source").alias("src_b"), "perm", F.col("v").alias("vb")
    )
    pairs = a.join(b2, "perm").filter(F.col("src_a") < F.col("src_b"))
    return pairs.groupBy("src_a", "src_b").agg(
        F.sum(F.when(F.col("va") == F.col("vb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
        (
            F.sum(F.when(F.col("va") == F.col("vb"), 1).otherwise(0)).cast(
                "double"
            )
            / F.lit(float(_dd.MH_K))
        )
        .cast("double")
        .alias("est_jaccard"),
    )


@register(
    "m26_mcnemar_test",
    f"""
    WITH p AS (
      SELECT lang,
             CASE WHEN {_tx.lang_id_sql('text')} = lang THEN 1 ELSE 0 END
               AS a_ok,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b_ok
      FROM documents
    )
    SELECT CAST(sum(a_ok * b_ok) AS BIGINT) AS n_both_right,
           CAST(sum(a_ok * (1 - b_ok)) AS BIGINT) AS n_a_only,
           CAST(sum((1 - a_ok) * b_ok) AS BIGINT) AS n_b_only,
           CAST(sum((1 - a_ok) * (1 - b_ok)) AS BIGINT) AS n_both_wrong,
           CAST((sum(a_ok * (1 - b_ok)) - sum((1 - a_ok) * b_ok))
                * (sum(a_ok * (1 - b_ok)) - sum((1 - a_ok) * b_ok))
                AS BIGINT) AS chi2_num,
           CAST(sum(a_ok * (1 - b_ok)) + sum((1 - a_ok) * b_ok) AS BIGINT)
             AS chi2_den,
           CASE WHEN sum(a_ok * (1 - b_ok)) + sum((1 - a_ok) * b_ok) = 0
                THEN NULL
                ELSE CAST(
                  CAST((sum(a_ok * (1 - b_ok)) - sum((1 - a_ok) * b_ok))
                       * (sum(a_ok * (1 - b_ok)) - sum((1 - a_ok) * b_ok))
                       AS DOUBLE)
                  / CAST(sum(a_ok * (1 - b_ok)) + sum((1 - a_ok) * b_ok)
                         AS DOUBLE) AS DOUBLE)
           END AS chi2
    FROM p
    """,
)
def m26_mcnemar_test(spark, sf_dir):
    """McNemar's paired-classifier test — the missing member of the eval
    battery (m20 ROC-AUC ranks ONE scorer, m21 kappa agreement, m23
    NDCG, m12 calibration): when you replace classifier B with
    classifier A over the SAME corpus, accuracy deltas lie — what
    matters is the DISAGREEMENT cells, the documents exactly one model
    gets right. Here A = the x6 language router and B = the
    majority-class baseline (predict 'en' always — the bar every
    learned router must clear); the 2x2 paired-outcome table (both
    right / A-only / B-only / both wrong) is four exact integer sums
    over one scan, and the McNemar statistic (b - c)^2 / (b + c) ships
    as exact integer numerator + denominator (hash-gated) plus ONE IEEE
    division (the quality_score single-division rule — both engines
    produce the identical double of the identical integer ratio). No
    disagreements -> NULL statistic by guard, the a15/a19 ANSI-0/0
    discipline.

    Shape: one corpus scan, one map-side-combined agg to a single row;
    the lang vote is the same Column expression x6/x37 ship. At 100 TB
    the cost IS the scan — the eval is free relative to the inference
    pass it audits."""
    d = tbl(spark, sf_dir, "documents")
    a_ok = F.when(_tx.lang_id(F.col("text")) == F.col("lang"), 1).otherwise(0)
    b_ok = F.when(F.col("lang") == "en", 1).otherwise(0)
    p = d.select(a_ok.alias("a_ok"), b_ok.alias("b_ok"))
    agg = p.agg(
        F.sum(F.col("a_ok") * F.col("b_ok")).cast("bigint").alias("n_both_right"),
        F.sum(F.col("a_ok") * (1 - F.col("b_ok")))
        .cast("bigint")
        .alias("n_a_only"),
        F.sum((1 - F.col("a_ok")) * F.col("b_ok"))
        .cast("bigint")
        .alias("n_b_only"),
        F.sum((1 - F.col("a_ok")) * (1 - F.col("b_ok")))
        .cast("bigint")
        .alias("n_both_wrong"),
    )
    diff = F.col("n_a_only") - F.col("n_b_only")
    den = F.col("n_a_only") + F.col("n_b_only")
    return agg.select(
        "n_both_right",
        "n_a_only",
        "n_b_only",
        "n_both_wrong",
        (diff * diff).cast("bigint").alias("chi2_num"),
        den.cast("bigint").alias("chi2_den"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise((diff * diff).cast("double") / den.cast("double"))
        .cast("double")
        .alias("chi2"),
    )


@register(
    "d17_semdedup",
    _sim.semantic_dedup_sql("embeddings"),
)
def d17_semdedup(spark, sf_dir):
    """SemDeDup — SEMANTIC dedup over the embedding column, completing the
    dedup taxonomy: d1 exact bytes, d2/d16 token sets, d3/d10 simhash,
    d4 char-grams, d5 raw-cosine-within-label, d8 passages, d12
    containment, d15 edit distance — and now meaning: k-means clusters
    first (the s6 learned quantizer verbatim), then pairwise cosine ONLY
    within each learned cell (Abbas et al. 2023). The keep/remove verdict
    per vector is the training-set curation signal the paper ships:
    kept=0 rows are the semantically redundant slice of the corpus.

    Candidate generation is cluster-blocked by construction — sum(|cell|^2)
    pairs, never corpus^2 (the d2-band / d10-byte / d5-label rule, enforced
    registry-wide by plancheck's no-CartesianProduct gate; the only cross
    join in the plan is the k-row broadcast centroid table). Removal rule:
    min-id cluster-mate with cosine >= tau survives as ``dup_of`` (d1's
    canonical-id discipline). Zero-norm vectors are dropped on both sides
    before any cosine (the m23 ANSI-DIVIDE_BY_ZERO rule).

    Shape: train = sampled corpus + broadcast k-row centroids (s6);
    assign = one broadcast argmin pass, no window; pair pass = self-join
    of the persisted (vec_id, cid, e, nrm) table keyed on cid — one
    shuffle per side, threshold filter inside the join projection so no
    pair table materializes; verdict = tiny groupBy + left join back.
    At 100 TB the paper's regime applies directly: k scales to ~sqrt(N)
    cells, cells are the parallelism unit, skewed cells salt the
    self-join key."""
    return _sim.semantic_dedup(tbl(spark, sf_dir, "embeddings"))


_CHI2_MIN_DF = 5  # document-frequency floor: rare-token chi2 is noise
_CHI2_TOPK = 10


@register(
    "m28_chi2_feature_select",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, lang, unnest({_tx.tokens_sql('text')}) AS term
      FROM documents
    ), nl AS (
      SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_c FROM tok GROUP BY 1
    ), tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
    dtc AS (
      SELECT term, lang, CAST(count(*) AS BIGINT) AS a FROM tok GROUP BY 1, 2
    ), dt AS (
      SELECT term, CAST(sum(a) AS BIGINT) AS df_t FROM dtc GROUP BY 1
      HAVING sum(a) >= {_CHI2_MIN_DF}
    ), grid AS (
      SELECT dt.term, nl.lang, nl.n_c, dt.df_t, tot.n,
             coalesce(dtc.a, 0) AS a
      FROM dt CROSS JOIN nl CROSS JOIN tot
      LEFT JOIN dtc ON dtc.term = dt.term AND dtc.lang = nl.lang
    ), cells AS (
      SELECT term, lang, a,
             n_c - a AS b, df_t - a AS c, n - n_c - (df_t - a) AS d,
             a * (n - n_c - (df_t - a)) - (n_c - a) * (df_t - a) AS dev,
             n_c * (n - n_c) AS rp, df_t * (n - df_t) AS cp, n
      FROM grid
    ), scored AS (
      SELECT term, lang, a, b, c, d,
             (CAST(n AS DOUBLE) * CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE))
               / (CAST(rp AS DOUBLE) * CAST(cp AS DOUBLE)) AS chi2
      FROM cells WHERE rp > 0 AND cp > 0
    ), ranked AS (
      SELECT lang, term, a, b, c, d, chi2,
             row_number() OVER (PARTITION BY lang
                                ORDER BY chi2 DESC, term) AS rank
      FROM scored
    )
    SELECT lang, term, CAST(rank AS INTEGER) AS rank,
           a AS n_class_with, b AS n_class_without,
           c AS n_other_with, d AS n_other_without,
           CAST(chi2 AS DOUBLE) AS chi2
    FROM ranked WHERE rank <= {_CHI2_TOPK}
    """,
)
def m28_chi2_feature_select(spark, sf_dir):
    """Chi-square feature selection — the vocabulary-pruning pass that
    precedes every bag-of-words model build (the m18 Naive Bayes trains
    on whatever survives it): per (term, class) the 2x2 presence
    contingency {{A: class docs with term, B: class docs without, C:
    other docs with, D: other docs without}} scores
    chi2 = N*(AD-BC)^2 / ((A+B)(C+D)(A+C)(B+D)), and the top-10 terms
    per language class ship with their exact integer cells.

    Exactness: every contingency cell is an exact BIGINT from two count
    aggs; the deviation AD-BC and both marginal products stay integer
    (bounds: all four cells <= N, so dev <= N^2 — 2.5e9 at sf1, squared
    only AFTER the double cast because N*dev^2 would overflow BIGINT at
    ~50k docs). The statistic itself is three IEEE multiplies + one
    division in the SAME spelled order in both engines — identical
    doubles, so the (chi2 DESC, term) ranking can't flap (the x41 rule:
    exact integer witnesses ride along, the one float is output-only).
    Degenerate margins (single-class corpora, every-doc terms) zero a
    marginal product and are EXCLUDED by the rp/cp guards — chi2 is
    undefined there (fuzz: single-lang generated corpora hit this).

    Shape: ONE corpus scan explodes to the distinct (doc, lang, term)
    presence stream (map-side partial distinct); class-conditional and
    global document frequencies are two map-side-combined aggs over it;
    the scoring grid is vocabulary x |classes| — built by crossJoining
    the df-floored term table with the 5-row class table (broadcast,
    the m18 model-head bound) — then ONE vocabulary-sized equi-join
    pulls A. The per-class top-10 window sorts the trimmed vocabulary,
    never the corpus. At 100 TB the token stream is the staged d4/pipe1
    table and the min-df floor bounds the grid: the whole selection
    costs one corpus pass + vocabulary-sized tails."""
    docs = tbl(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id", "lang", F.explode(_tx.tokens(F.col("text"))).alias("term")
        )
        .distinct()
        .persist()  # cache: caller-owns — feeds nl/tot/dtc
    )
    nl = tok.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_c")
    )
    tot = tok.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    dtc = tok.groupBy("term", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    dt = (
        dtc.groupBy("term")
        .agg(F.sum("a").cast("bigint").alias("df_t"))
        .filter(F.col("df_t") >= _CHI2_MIN_DF)
    )
    grid = (
        dt.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(tot))
        .join(dtc, ["term", "lang"], "left")
        .select(
            "term",
            "lang",
            "n_c",
            "df_t",
            "n",
            F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("a"),
        )
    )
    cells = grid.select(
        "term",
        "lang",
        "a",
        (F.col("n_c") - F.col("a")).alias("b"),
        (F.col("df_t") - F.col("a")).alias("c"),
        (F.col("n") - F.col("n_c") - (F.col("df_t") - F.col("a"))).alias("d"),
        (
            F.col("a") * (F.col("n") - F.col("n_c") - (F.col("df_t") - F.col("a")))
            - (F.col("n_c") - F.col("a")) * (F.col("df_t") - F.col("a"))
        ).alias("dev"),
        (F.col("n_c") * (F.col("n") - F.col("n_c"))).alias("rp"),
        (F.col("df_t") * (F.col("n") - F.col("df_t"))).alias("cp"),
        "n",
    )
    scored = cells.filter((F.col("rp") > 0) & (F.col("cp") > 0)).select(
        "term",
        "lang",
        "a",
        "b",
        "c",
        "d",
        (
            (
                F.col("n").cast("double")
                * F.col("dev").cast("double")
                * F.col("dev").cast("double")
            )
            / (F.col("rp").cast("double") * F.col("cp").cast("double"))
        ).alias("chi2"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CHI2_TOPK)
        .select(
            "lang",
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.col("a").alias("n_class_with"),
            F.col("b").alias("n_class_without"),
            F.col("c").alias("n_other_with"),
            F.col("d").alias("n_other_without"),
            F.col("chi2").cast("double").alias("chi2"),
        )
    )


def _bpe_fertility_oracle(n_merges: int = 3) -> str:
    """Per-language twin of _bpe_oracle: lang rides the word-type table
    through every fold round (the merge WINNERS stay global — pair counts
    aggregate over all languages, matching x40's merge table exactly),
    and the close reads per-language fertility off the fused reps."""
    parts = [
        """
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), wf AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE w <> ''
      GROUP BY 1, 2
    ), r0 AS (
      SELECT lang,
             trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>' AS rep,
             freq, CAST(length(w) AS BIGINT) AS wlen
      FROM wf
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f""", p{k} AS (
      SELECT l[i] AS pa, l[i+1] AS pb, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT string_split(rep, ' ') AS l, freq FROM r{k - 1}) s,
           LATERAL unnest(generate_series(1, len(l) - 1)) AS u(i)
      GROUP BY 1, 2
    ), t{k} AS (
      SELECT pa, pb FROM p{k} ORDER BY cnt DESC, pa, pb LIMIT 1
    ), r{k} AS (
      SELECT lang,
             CASE WHEN t.pa IS NULL THEN rep
             ELSE list_reduce(string_split(rep, ' '),
               (acc, x) -> CASE
                 WHEN x = t.pb
                      AND (acc = t.pa OR ends_with(acc, ' ' || t.pa))
                 THEN left(acc, length(acc) - length(t.pa)) || t.pa || t.pb
                 ELSE acc || ' ' || x END) END AS rep,
             freq, wlen
      FROM r{k - 1} LEFT JOIN t{k} AS t ON TRUE
    )"""
        )
    parts.append(
        f"""
    , fused AS (
      SELECT lang, freq, wlen, string_split(rep, ' ') AS syms FROM r{n_merges}
    ), sized AS (
      SELECT lang, freq, wlen,
             CAST(len(syms)
                  - CASE WHEN syms[len(syms)] = '</w>' THEN 1 ELSE 0 END
                  AS BIGINT) AS ntok
      FROM fused
    ), agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_word_types,
             CAST(sum(freq) AS BIGINT) AS ws_tokens,
             CAST(sum(freq * ntok) AS BIGINT) AS bpe_tokens,
             CAST(sum(freq * wlen) AS BIGINT) AS n_chars
      FROM sized GROUP BY 1
    )
    SELECT lang, n_word_types, ws_tokens, bpe_tokens, n_chars,
           CAST(CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE)
                AS DOUBLE) AS fertility,
           CAST(CAST(n_chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE)
                AS DOUBLE) AS chars_per_token
    FROM agg
    """
    )
    return "".join(parts)


@register("x45_tokenizer_fertility", _bpe_fertility_oracle(3))
def x45_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer FERTILITY audit — BPE tokens per whitespace
    word and characters per BPE token, the metric multilingual pipelines
    read before freezing a tokenizer (a vocabulary trained on an
    en-heavy mix over-segments the other languages; fertility is where
    that shows up, and it prices every downstream token budget x20/x27
    allocates). Completes the x40/x42 tokenizer pair with its EVAL: x40
    learns the merges, x42 applies them, x45 scores the result per
    language class.

    Semantics: merges are trained GLOBALLY (pair counts aggregate over
    all languages — bit-identical winners to x40's merge table since
    summing per-language word frequencies commutes with the pair
    explode), then scored per language off the lang-keyed word-type
    table. A word's token count is its fused symbol count EXCLUDING a
    still-unfused trailing '</w>' sentinel (a symbol that ABSORBED the
    sentinel is a real token); all counts are exact BIGINTs weighted by
    word frequency, and the two ratios are single IEEE divisions of
    exact integers (the m26 rule — denominators are positive whenever
    the language group exists, since every surviving word contributes
    >= 1 whitespace token and >= 1 symbol).

    Shape: ONE corpus collapse into the (lang, word-type) table (the
    x40 Heaps-law move — everything after is vocabulary-sized), k fold
    rounds each = one map-side pair-count agg + a 1-row broadcast winner
    crossJoin folded map-side (localCheckpoint per round, the g7
    fixed-point discipline), then one final per-lang agg. No window, no
    sort, no Python; lang never enters a shuffle key until the 5-group
    closing agg."""
    docs = tbl(spark, sf_dir, "documents")
    wf = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    cur = wf.select(
        "lang",
        F.concat(
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), F.lit(" </w>")
        ).alias("rep"),
        "freq",
        F.length("w").cast("bigint").alias("wlen"),
    ).localCheckpoint()
    for _k in range(3):
        pairs = (
            cur.select("freq", F.split(F.col("rep"), " ").alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS pa, syms[i] AS pb))"
                    )
                ).alias("p"),
            )
        )
        top = (
            pairs.groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "pa", "pb")
            .limit(1)
            .select(
                F.lit(1).alias("_k"),
                F.col("pa").alias("_pa"),
                F.col("pb").alias("_pb"),
            )
        )
        # same empty-winner guard as _bpe_train: a round with no pairs
        # left must no-op, never empty the lang-keyed word-type table
        cur = (
            cur.withColumn("_k", F.lit(1))
            .join(F.broadcast(top), "_k", "left")
            .select("lang", F.expr(_BPE_FOLD).alias("rep"), "freq", "wlen")
            .localCheckpoint()
        )
    sized = cur.select(
        "lang",
        "freq",
        "wlen",
        (
            F.size(F.split(F.col("rep"), " "))
            - F.when(
                F.element_at(F.split(F.col("rep"), " "), -1) == "</w>", 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ntok"),
    )
    agg = sized.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
        F.sum("freq").cast("bigint").alias("ws_tokens"),
        F.sum(F.col("freq") * F.col("ntok")).cast("bigint").alias("bpe_tokens"),
        F.sum(F.col("freq") * F.col("wlen")).cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_word_types",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        (F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double"))
        .cast("double")
        .alias("fertility"),
        (F.col("n_chars").cast("double") / F.col("bpe_tokens").cast("double"))
        .cast("double")
        .alias("chars_per_token"),
    )


@register(
    "pipe4_export_manifest",
    _PIPE_FUNNEL_CTES
    + f"""
    , kept AS (
      SELECT doc_id, source, n_chars, ntok,
             {phash60_sql("CAST(doc_id AS VARCHAR)", seed="shuf")}
               % {N_SHUF_SHARDS} AS shard
      FROM g WHERE s5 = 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM kept GROUP BY 1, 2
    """,
)
def pipe4_export_manifest(spark, sf_dir):
    """Training-shard EXPORT MANIFEST — the closing stage of the corpus
    prep story and the artifact a training run actually mounts: pipe1
    proves the gates, pipe3 prices the attrition, pipe4 says what SHIPS —
    per (shard, domain): document count, exact whitespace-token budget,
    char mass, and the doc-id range, for every document that survives the
    full funnel (length, langid, quality, canonical-dedup,
    eval-decontamination). Shards are x31's reproducible hash shards
    (same 60-bit key, same seed, same modulus), so this manifest IS the
    read plan for x31's shuffled loading order — the two entries describe
    one export.

    The manifest is the load-balance audit in table form: a skewed
    hash (or a domain glued to one shard) shows as an n_tokens outlier
    row, which is exactly what a 1000-reader training job checks before
    launch. All columns are exact integers off the shared funnel frame —
    no new corpus work beyond pipe3's one scan (the flag battery and the
    shard key ride the same staged token barrier).

    Shape: _prep_survivor_flags (one scan + one h-keyed window exchange +
    one broadcast) -> s5 filter -> ONE map-side-combined agg keyed
    (shard, source) — 16 x |domains| output rows regardless of corpus
    size. At 100 TB the kept rows would also WRITE partitioned by shard
    (the p12 layout); the manifest is this same agg emitted by that job."""
    g = _prep_survivor_flags(spark, sf_dir)
    kept = g.filter(F.col("s5") == 1).select(
        "doc_id",
        "source",
        "n_chars",
        "ntok",
        (phash60(F.col("doc_id").cast("string"), seed="shuf") % N_SHUF_SHARDS)
        .cast("bigint")
        .alias("shard"),
    )
    return kept.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


@register(
    "d18_substring_dedup",
    _dd.substring_spans_sql("documents"),
)
def d18_substring_dedup(spark, sf_dir):
    """Substring-level exact dedup (Lee et al. 2022) — the LAST rung of
    the dedup ladder: d1 dedups whole documents, d8 fixed passages, x36
    reports shared content-defined chunks; this entry finds MAXIMAL
    cross-document verbatim substring spans — the quoted-article /
    license-block / templated-intro duplication that survives every
    document-level pass and that the paper removes with a corpus-wide
    suffix array. Distributed re-expression (ext/dedup.substring_spans):
    content-defined chunk fingerprints (boundaries re-synchronize one
    chunk after any edit, so a shared TAIL still collides even when the
    head was edited) equi-join across documents, then adjacent shared
    chunks stitch into maximal spans via gaps-and-islands on the
    (doc_a, doc_b, chunk-index-difference) diagonal — chunk index minus
    rank is constant exactly on a consecutive run, so one groupBy emits
    each maximal span once. Output: (doc_a, doc_b, start_a, start_b,
    n_chunks, span_toks) per span >= 20 tokens (the paper's production
    floor is 50 on web-scale docs; the fixture's ~55-token docs need the
    lower floor to exercise multi-chunk stitching).

    Scale: never a suffix array in the driver — the chunk table is
    ~N_tokens/8 rows built by one per-doc window; the document-frequency
    gate (2..8 docs) bounds the pair join's worst key fan-out at df_cap^2
    (boilerplate chunks shared by MORE docs are a different signal, x36's
    corpus-wide report owns them); the islands window partitions by
    (doc_a, doc_b, diag) — millions of tiny partitions, no global sort.
    Reference parity: the reference has no dedup at all (its news
    pipeline trusts the feed); this is part of the beyond-reference
    training-data battery."""
    return _dd.substring_spans(tbl(spark, sf_dir, "documents"))


@register(
    "d19_substring_trim_plan",
    _dd.substring_trim_plan_sql("documents"),
)
def d19_substring_trim_plan(spark, sf_dir):
    """The trim PLAN on top of d18 — what a substring-dedup pass would
    actually DO to the corpus: per victim document (the higher doc_id of
    each span, d1's keep-the-lower-id rule), the exact token budget
    removed. Spans from different partners overlap on the same victim
    (k near-copies of one passage each contribute a span over the same
    region), so the exact count is the per-doc INTERVAL UNION of
    [start_b, start_b + span_toks) — w19's running-max-of-ends
    gaps-and-islands replayed over token positions. Real pipelines
    ship exactly this artifact (Lee et al. 2022 cut the spans, not the
    docs): trim_toks prices the cut, n_spans/n_islands say how
    fragmented it is.

    Scale: d18's plan plus one window and two hash aggs over the SPAN
    relation — which is duplication-sized, not corpus-sized; the window
    partitions per victim doc. All exact integers."""
    return _dd.substring_trim_plan(tbl(spark, sf_dir, "documents"))


@register(
    "d20_substring_decontamination",
    _dd.substring_contamination_sql("documents", _split_sql("doc_id")),
)
def d20_substring_decontamination(spark, sf_dir):
    """Substring-level train/eval DECONTAMINATION — the quoted-passage
    leak doc-level decontamination cannot see: x14 and the pipe funnel's
    s5 stage drop train docs whose whole-document fingerprint matches an
    eval doc (and pipe2 audits near-dup split leakage), but a train doc
    QUOTING twenty eval tokens verbatim sails through both and inflates
    the benchmark anyway. GPT-3 scrubbed this class with 13-gram overlap
    (Brown et al. 2020, App. C); Lee et al. 2022 §6.2 measure it with
    shared substrings. Here: d18's chunk-fingerprint machinery with the
    self-join swapped for a train-side x val-side equi-join (same
    x31-seeded hash split as pipe1/pipe2, same corpus-wide df
    boilerplate cap), islands stitched per (train doc, val doc)
    diagonal, spans >= 20 tokens flag the train doc. Output: one row per
    contaminated train doc — distinct eval partners, span count, worst
    span length; the drop list a decontaminated export would subtract.

    Scale: identical bounds to d18 (chunk table ~N_tokens/8, df-capped
    pair fan-out, per-pair islands windows), with the val side typically
    corpus-fraction-sized so the pair join's probe side is small."""
    d = tbl(spark, sf_dir, "documents")
    return _dd.substring_contamination(
        d.withColumn("split", _split_col(F.col("doc_id")))
    )


@register(
    "d21_substring_incremental",
    f"""
    SELECT * FROM (
      {_dd.substring_spans_sql("documents")}
    ) WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
    """,
)
def d21_substring_incremental(spark, sf_dir):
    """Incremental substring dedup (ext/dedup.py:
    incremental_substring_spans) — d6's amortized-store regime closing
    the r11 substring family: docs with doc_id % 5 == 0 arrive as the
    NEW batch and are chunk-fingerprinted + probed against the stored
    fingerprints of the rest; the old corpus is never re-tokenized.
    Chunking and fingerprints are deterministic pure functions of the
    text, so the result must EQUAL the full-corpus d18 run restricted
    to spans touching a new doc — the oracle states exactly that (the
    d6 equivalence contract). At 100 TB this is the only affordable
    shape: the corpus chunk table (~N_tokens/8 fingerprint rows) is
    written once per snapshot, each day's batch pays its own hashing
    plus fingerprint-table equi-joins, and the df boilerplate gate is
    one mergeable per-hash count over the store."""
    d = tbl(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    return _dd.incremental_substring_spans(_dd._chunk_fps(old), new)


@register(
    "d22_semdedup_incremental",
    _sim.incremental_semantic_dedup_sql("embeddings", "{id} % 5 = 0"),
)
def d22_semdedup_incremental(spark, sf_dir):
    """Incremental SemDeDup (ext/similarity.py:incremental_semantic_dedup)
    — the amortized-store regime (d6 for MinHash, d21 for substrings)
    applied to the last dedup rung that still re-ran corpus-wide per
    batch: vectors with vec_id % 5 == 0 arrive as the NEW batch, are
    assigned to centroids TRAINED ON THE STORED 80% ONLY (the frozen
    snapshot), and pair-pass only inside the cells the batch touches;
    the old corpus is never re-trained or re-paired.

    Output is the mergeable removal-map DELTA: per victim vector, the
    min-id duplicate partner among pairs touching the batch. The oracle
    states the d21-style equivalence contract directly — train k-means
    on the old subset, assign EVERYONE to those frozen centroids, build
    the full within-cell pair relation, keep only pairs touching a new
    vector, min-group per victim. Equality holds because cell assignment
    is a pure function of (vector, frozen centroids): the store's rows
    for old vectors are bit-identical to a recompute, so pruning the
    pair pass to (new x touched-cell) loses exactly the old-old pairs —
    the ones the store already accounted for when that data arrived.

    At 100 TB: the store is partitioned by cid (touched-cell probe =
    partition pruning), the batch pays |batch| x k broadcast-argmin
    assignment work, and the pair pass inherits d17's measured
    skewed-cell salting budget. Min-merging the delta into the stored
    removal map (k5's mergeable-state discipline) reproduces the full
    frozen-centroid d17 map over the grown corpus."""
    emb = tbl(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0).filter(
        _sim._nonzero_vec("embedding")
    )
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = _sim.train_kmeans_centroids(old)
    stored = _sim._sem_cells(old, cents)
    return _sim.incremental_semantic_dedup(stored, new, cents)


@register(
    "d23_substring_exact_bounds",
    _dd.substring_spans_exact_sql("documents"),
)
def d23_substring_exact_bounds(spark, sf_dir):
    """d18 with TOKEN-EXACT span boundaries (ext/dedup.py:
    substring_spans_exact) — closing the r11 verdict's disclosed
    one-chunk edge approximation: CDC chunking loses up to one
    ~8-token chunk at each span edge, and d20's contamination
    decisions near the >= 20-token threshold inherited that blur.
    For every d18 span, the two edge-adjacent chunk pairs are
    re-compared token-by-token — left extension = longest common
    suffix of the preceding chunks, right = longest common prefix of
    the following ones. CDC determinism (cut-before-token is a pure
    per-token hash rule, so boundaries align inside any matched
    region) makes the one-chunk comparison token-exact; a match
    covering the WHOLE neighbor chunk can only abut a df_cap-gated
    boilerplate chunk, where extension stops at the gate's own edge.

    Reconciliation contract (pytest-pinned): candidates are exactly
    d18's spans; per row, start = d18.start - ext_left and span_toks =
    d18.span_toks + ext_left + ext_right, with ext bounded by the
    neighbor chunk lengths. The oracle pins the exact start/length
    columns directly.

    Scale: d18's plan plus four span-count-sized LEFT equi-joins
    against the chunk table on (doc_id, cidx) and chunk-sized array
    compares — no new corpus-sized pass, no window, no all-pairs."""
    return _dd.substring_spans_exact(tbl(spark, sf_dir, "documents"))


@register(
    "t30_stream_substring_view",
    _dd.substring_spans_sql("documents"),
    lazy_replay=True,
)
def t30_stream_substring_view(spark, sf_dir):
    """STREAMING maintenance of the d18 substring-span view — the
    t17/t20/t22/t23/t25/t26/t27/t28/t29 convergence pattern applied to
    the newest family (r12 verdict item 1, on the r12-proven
    ext/dedup.substring_spans_delta core): documents replay in 3
    micro-batches; each batch appends its chunk fingerprints to a stored
    fp view, additively merges its per-hash document-frequency delta
    into a stored ndocs view (ext/dedup.ndocs_delta + merge_ndocs — the
    amortized gate, r12 verdict item 3: the corpus-wide count_distinct
    never re-runs per batch), and replace-by-pair merges the delta
    step's output into the spans view under the writer-lease/batch-id
    replay contract. After the replay the view must equal
    substring_spans over the whole corpus — same oracle as d18,
    streaming twin.

    Replace-by-pair is forced by the NON-MONOTONE df-cap gate: an
    arriving batch can push a chunk over the boilerplate cap and
    retroactively erase spans between two OLD documents, which
    append-only deltas (d6/d21) cannot express. The empty-pair tombstone
    row is load-bearing: an affected pair whose recomputed span set is
    empty still ships one null-span row so its partition is rewritten —
    vanished spans actually leave the view (pytest-pinned).

    Scale: per batch the work is (batch hashing) + (df_cap^2-bounded
    candidate fan-out ∪ view-bounded semi-joins) + (pair-count-sized
    recompute) + (batch-sized ndocs delta against the hash-pruned fp
    store) — never corpus-sized; the stores are the 100 TB layout
    (fingerprints bucketed by chunk_hash, spans partitioned by pair
    hash), and micro-batch boundaries are invisible by the replay
    convergence contract, not by care."""
    import os as _os
    import uuid

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    docs = tbl(spark, sf_dir, "documents")
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "ssv_" + uuid.uuid4().hex[:8])
    stream = staged_stream(docs, _os.path.join(root, "feed"), 3, "doc_id")
    fps_v = KeyedParquetView(
        spark, _os.path.join(root, "fps"), ["doc_id", "cidx"], partition_by="pb"
    )
    nd_v = KeyedParquetView(
        spark, _os.path.join(root, "nd"), ["chunk_hash"], partition_by="pb"
    )
    spans_v = KeyedParquetView(
        spark, _os.path.join(root, "spans"), ["doc_a", "doc_b"], partition_by="pb"
    )
    FP_COLS = ["doc_id", "cidx", "n_toks", "pos0", "chunk_hash"]
    nd_pb = F.pmod(F.xxhash64("chunk_hash"), F.lit(4))

    def sink(batch_df, batch_id):
        new_fps = _dd._chunk_fps(batch_df).persist()  # cache: released-in-fn
        cur_store = fps_v.read()
        stored = None if cur_store is None else cur_store.select(*FP_COLS)
        all_fps = (
            new_fps if stored is None else stored.unionByName(new_fps)
        )
        delta = _dd.ndocs_delta(stored, new_fps).persist()  # cache: released-in-fn
        cur_nd = nd_v.read()
        # gate READ uses the broadcast-friendly merged view (store scanned,
        # never shuffled); store MAINTENANCE below keeps merge_ndocs, whose
        # full-outer shape is right per touched partition
        merged_nd = _dd.merged_ndocs(
            None if cur_nd is None else cur_nd.select("chunk_hash", "ndocs"),
            delta,
        )
        cur_spans = spans_v.read()
        vp = (
            None
            if cur_spans is None
            else cur_spans.select("doc_a", "doc_b").distinct()
        )
        affected, recomputed = _dd.substring_spans_delta(
            all_fps, new_fps, vp, dfreq=merged_nd
        )
        batch = affected.join(
            recomputed, ["doc_a", "doc_b"], "left"
        ).withColumn("pb", F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(4)))

        def merge_spans(cur, b):
            real = b.filter(F.col("start_a").isNotNull()).select(
                "doc_a", "doc_b", "start_a", "start_b",
                "n_chunks", "span_toks", "pb",
            )
            if cur is None:
                return real
            keep = cur.join(
                b.select("doc_a", "doc_b").distinct(),
                ["doc_a", "doc_b"],
                "left_anti",
            )
            return keep.unionByName(real)

        spans_v.merge_custom(batch, merge_spans, batch_id=batch_id, writer="ssd")
        nd_v.merge_custom(
            delta.withColumn("pb", nd_pb),
            lambda cur, b: _dd.merge_ndocs(
                None if cur is None else cur.select("chunk_hash", "ndocs"),
                b.select("chunk_hash", "ndocs"),
            ).withColumn("pb", nd_pb),
            batch_id=batch_id,
            writer="nd",
        )
        fps_v.merge_custom(
            new_fps.withColumn("pb", F.pmod(F.xxhash64("doc_id"), F.lit(4))),
            lambda cur, b: b if cur is None else cur.unionByName(b),
            batch_id=batch_id,
            writer="fps",
        )
        affected.unpersist()
        delta.unpersist()
        new_fps.unpersist()

    run_foreach_batch(stream, sink, _os.path.join(root, "ckpt"))
    final = spans_v.read()
    out_cols = ["doc_a", "doc_b", "start_a", "start_b", "n_chunks", "span_toks"]
    if final is None:
        return spark.createDataFrame(
            [], ", ".join(f"{c} bigint" for c in out_cols)
        )
    return final.select(*out_cols)


@register(
    "t31_stream_semdedup_view",
    _sim.frozen_semantic_dedup_sql("embeddings", "{id} % 3 = 0"),
    lazy_replay=True,
)
def t31_stream_semdedup_view(spark, sf_dir):
    """STREAMING maintenance of the frozen-centroid SemDeDup view (r12
    verdict item 5 — the streamed twin t30 gave the substring family,
    applied to semantic dedup on the r12-proven
    ext/similarity.incremental_semantic_dedup core): centroids are
    trained ONCE on the snapshot subset vec_id % 3 == 0 and written to a
    store (production's per-snapshot freeze, d22's framing); embeddings
    then replay in 3 micro-batches; each batch is assigned to the FROZEN
    stored centroids, probed against the cells view accumulated so far
    (new x (old+new) pairs only, d17's salting verbatim inside
    incremental_semantic_dedup), and its removal-map delta is merged
    into a keyed view with MIN on dup_of and SUM on n_dups — both
    associative/commutative (k5's mergeable-state discipline), which is
    why micro-batch boundaries are invisible by algebra: each unordered
    qualifying pair is found exactly once, in the batch where its
    later-arriving member lands. After the replay the view must equal
    the full frozen-centroid SemDeDup relation over the whole corpus —
    the oracle states that fixed point directly (train on the snapshot
    subset, assign everyone, full within-cell pairs, min/count per
    victim).

    Unlike t30's replace-by-pair, this merge IS append-only-mergeable:
    the tau gate is per-pair (no corpus-global non-monotone state like
    the df cap), so arriving data can only ADD removal evidence, never
    retract it — the two streamed views document the two regimes.

    Scale: per batch the work is |batch| x k broadcast-argmin assignment
    + pair work inside touched cells only (store pruned via a broadcast
    <=k-row cell list, skewed cells salted with d17's measured budget);
    the cells store appends and the removal map min/sum-merges through
    the keyed view's O(touched-partition) writes. Never corpus-sized,
    never retrained."""
    import os as _os
    import uuid

    from ..streaming.upsert import KeyedParquetView

    prepare(spark)
    emb = tbl(spark, sf_dir, "embeddings")
    _tag, scratch = scratch_dir("spark_graft_speedview", sf_dir)
    root = _os.path.join(scratch, "ssv31_" + uuid.uuid4().hex[:8])
    cdir = _os.path.join(root, "cents")
    # the frozen snapshot: train on the %3==0 subset once, store, reload
    train = emb.filter(F.col("vec_id") % 3 == 0).filter(
        _sim._nonzero_vec("embedding")
    )
    _sim.train_kmeans_centroids(train).write.mode("overwrite").parquet(cdir)
    stream = staged_stream(emb, _os.path.join(root, "feed"), 3, "vec_id")
    cells_v = KeyedParquetView(
        spark, _os.path.join(root, "cells"), ["vec_id"], partition_by="pb"
    )
    rm_v = KeyedParquetView(
        spark, _os.path.join(root, "rm"), ["vec_id"], partition_by="pb"
    )
    CELL_COLS = ["vec_id", "cid", "e", "nrm"]
    pb = F.pmod(F.xxhash64("vec_id"), F.lit(4))

    def sink(batch_df, batch_id):
        cents = spark.read.parquet(cdir)
        new_cells = _sim._sem_cells(
            batch_df.filter(_sim._nonzero_vec("embedding")), cents
        ).persist()  # cache: released-in-fn
        cur_cells = cells_v.read()
        stored = (
            new_cells.limit(0)
            if cur_cells is None
            else cur_cells.select(*CELL_COLS)
        )
        delta = _sim.incremental_semantic_dedup(stored, batch_df, cents)

        def merge_rm(cur, b):
            bb = b.select("vec_id", "cid", "dup_of", "n_dups", "pb")
            if cur is None:
                return bb
            return (
                cur.alias("c")
                .join(bb.alias("d"), "vec_id", "full_outer")
                .select(
                    "vec_id",
                    F.coalesce(F.col("c.cid"), F.col("d.cid")).alias("cid"),
                    # least/greatest skip NULLs in Spark: min-merge for free
                    F.least(F.col("c.dup_of"), F.col("d.dup_of"))
                    .cast("bigint")
                    .alias("dup_of"),
                    (
                        F.coalesce(F.col("c.n_dups"), F.lit(0))
                        + F.coalesce(F.col("d.n_dups"), F.lit(0))
                    )
                    .cast("bigint")
                    .alias("n_dups"),
                    F.coalesce(F.col("c.pb"), F.col("d.pb")).alias("pb"),
                )
            )

        rm_v.merge_custom(
            delta.withColumn("pb", pb), merge_rm, batch_id=batch_id, writer="rm"
        )
        cells_v.merge_custom(
            new_cells.withColumn("pb", pb),
            lambda cur, b: b if cur is None else cur.unionByName(b),
            batch_id=batch_id,
            writer="cells",
        )
        new_cells.unpersist()

    run_foreach_batch(stream, sink, _os.path.join(root, "ckpt"))
    cells = cells_v.read()
    if cells is None:
        return spark.createDataFrame(
            [], "vec_id bigint, cid int, kept int, dup_of bigint, n_dups bigint"
        )
    rm = rm_v.read()
    if rm is None:
        rm = spark.createDataFrame(
            [], "vec_id bigint, dup_of bigint, n_dups bigint"
        )
    return (
        cells.select("vec_id", "cid")
        .join(rm.select("vec_id", "dup_of", "n_dups"), "vec_id", "left")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("cid").cast("int").alias("cid"),
            F.when(F.col("dup_of").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("bigint").alias("n_dups"),
        )
    )
