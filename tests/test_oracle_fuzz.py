"""Oracle-equivalence FUZZING: run registry entries and their DuckDB
oracles side by side on hypothesis-GENERATED fixtures — the driver's
value-exact gate, but on adversarial input shapes the testdata never
exercises (ties everywhere, hot keys, one-sided periods, single-row
groups, duplicate values on window order keys).

This is the strongest form of the §5 property layer: instead of
comparing an engine path against a naive reference formulation, it
compares the ENTIRE cross-engine contract (types, column order,
rounding discipline, tie rules) on arbitrary data.  Any ordering
nondeterminism the registry's struct-argmax/tiebreak rules fail to pin
shows up here as a flaky mismatch long before the driver sees it.

Example counts are small: every example stages parquet and runs both
engines.  Entries chosen are the r9 additions whose inputs are cheap to
generate; the fixture-heavy ones (pipe3, u11, t25/t26 streaming) are
covered by their own convergence/robustness tests.
"""

from __future__ import annotations

import datetime
import os
import uuid

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

import selfcheck as sc
from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.plans import (
    registry,
)

BASE = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _fuzz_tmp(tmp_path_factory) -> str:
    """Fresh per-example staging dir: a CHILD of pytest's numbered dir,
    never a sibling. A sibling named fuzz<N>_<hex> whose hex happens to
    be all digits parses as a Python GROUPED int (int("31_493420") ==
    31493420) in pytest's make-numbered-dir scan, exploding the counter
    digits roughly 2x per collision until ENAMETOOLONG killed every
    later test of a full-file run (r10). The uuid child keeps DuckDB
    view paths unique without ever entering the counter namespace."""
    return os.path.join(str(tmp_path_factory.mktemp("fuzz")), uuid.uuid4().hex[:6])




def _stage(spark, tmp, name, rows, schema):
    path = os.path.join(tmp, f"{name}.parquet")
    # One slice, so one file. Local rows pass through a Python worker once
    # per slice; coalesce(1) over the default slices ran those round trips
    # one after another (about 0.2 s each, most of a staging's cost).
    rdd = spark.sparkContext.parallelize(rows, 1)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
    return path


def _check(spark, tmp, qname, tables):
    con = duckdb.connect()
    for t in tables:
        # Spark stages write parquet DIRECTORIES; dims copied from the
        # fixture are single FILES — pick the matching read pattern
        p = os.path.join(tmp, t + ".parquet")
        pat = p + "/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    df = registry.QUERIES[qname](spark, tmp)
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    res = con.execute(registry.ORACLES[qname])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    c1, r1 = sc.norm_rows(cols, rows)
    c2, r2 = sc.norm_rows(ocols, orows)
    assert c1 == c2, (qname, c1, c2)
    assert r1 == r2 or sc.approx_equal(r1, r2), (qname, r1[:5], r2[:5])


# -- generated events: tiny key/type spaces force ties and hot groups ------
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=28),  # day offset
        st.integers(min_value=0, max_value=86_399),  # second of day
        st.integers(min_value=0, max_value=5),  # user_id
        st.sampled_from(["click", "view", "purchase"]),
        st.integers(min_value=0, max_value=60_000),  # cents
    ),
    min_size=1,
    max_size=60,
)


def _events_rows(raw):
    return [
        (
            i,
            BASE + datetime.timedelta(days=d, seconds=s),
            u,
            t,
            c / 100.0,
            '{"k": ' + str(c % 100) + "}",
        )
        for i, (d, s, u, t, c) in enumerate(raw)
    ]


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)

EVENT_ENTRIES = [
    "w20_cusum_changepoint",
    "w21_ks_drift",
    "f14_bollinger_breakout",
    "f15_capm_beta",
    "a29_bitmap_distinct",
    "a30_kmv_setops",
    "a31_benford_audit",
    "a32_hll_union",
]


@pytest.mark.parametrize("qname", EVENT_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_events)
def test_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


# -- generated documents: tiny vocab forces cross-class token collisions --
_docs = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),
        st.sampled_from(["web", "wiki"]),
        st.lists(
            st.sampled_from(["the", "und", "alpha", "beta", "gamma"]),
            min_size=0,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=20,
)

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

DOC_ENTRIES = [
    "o5_systematic_sample",
    "m18_naive_bayes",
    "x6_lang_id",
    "x7_quality_score",
    "x8_token_count",
    "x9_fingerprint",
    "x11_repetition_score",
    "x12_length_histogram",
    "x19_ngram_freq",
    "x26_unigram_surprisal",
    "x29_sentence_split",
    "d1_dedup_exact",
    "x35_vocab_coverage",
    "a14_distribution_stats",
    "x13_pii_redact",
    "x20_token_packing",
    "x28_doc_chunking",
    "d12_containment",
]


@pytest.mark.parametrize("qname", DOC_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_docs)
def test_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    # empty docs stay in: weight-0 rows are exactly what o5's
    # greatest(tw,1) guard exists for, and m18 must drop token-less docs
    # identically in both engines
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


# -- legacy events-based entries: same harness, proactive tie hunting ------
LEGACY_EVENT_ENTRIES = [
    "f12_rsi",
    "f13_signal_backtest",
    "w19_interval_coalesce",
    "u10_cdc_apply",
    "a22_last_touch_attribution",
    "w5_sessionize",
    "w11_max_drawdown",
    "w17_streaks",
    "w18_calendar_gaps",
    "a18_mode",
]


LEGACY_EVENT_ENTRIES_2 = [
    "w9_ewma",
    "w12_rolling_zscore",
    "w14_linear_interpolate",
    "w15_seasonal_profile",
    "w16_time_to_convert",
    "a13_winsorize",
    "a25_mad_outliers",
    "a26_rolling_distinct_reach",
    "f4_vwap",
    "f5_twap",
    "f6_ohlc_resample",
    "f9_realized_variance",
    "f10_historical_var",
    "f11_hhi_concentration",
    "t9_gap_fill",
    "w13_rolling_median",
    "j7_interval_join",
    "a1_a2_daily_agg",
    "a5_dedup_at_most_once",
    "w8_funnel_steps",
    "w10_retention_cohorts",
    "j15_dpp_join",
]


@pytest.mark.parametrize("qname", LEGACY_EVENT_ENTRIES + LEGACY_EVENT_ENTRIES_2)
@settings(max_examples=4, deadline=None)
@given(raw=_events)
def test_legacy_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


# -- generated lineitem: tiny key spaces, boundary dates/quantities --------
_lineitems = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),      # orderkey
        st.integers(min_value=0, max_value=6),      # partkey
        st.integers(min_value=0, max_value=3),      # suppkey
        st.integers(min_value=1, max_value=50),     # quantity
        st.integers(min_value=90_000, max_value=10_500_000),  # price cents
        st.integers(min_value=0, max_value=10),     # discount %
        st.integers(min_value=0, max_value=8),      # tax %
        st.sampled_from(["A", "N", "R"]),
        st.sampled_from(["O", "F"]),
        st.integers(min_value=0, max_value=2400),   # days from 1995-01-01
    ),
    min_size=1,
    max_size=50,
)

LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp"
)

LI_BASE = datetime.datetime(1995, 1, 1)

LINEITEM_ENTRIES = [
    "a15_corr_stats",
    "a17_weighted_median",
    "a24_dq_audit",
    "g13_degree_histogram",
    "x23_zorder_layout",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "m19_gbt_inference",
]


@pytest.mark.parametrize("qname", LINEITEM_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_lineitems)
def test_lineitem_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (
            ok,
            pk,
            sk,
            i + 1,
            float(qty),
            pc / 100.0,
            dc / 100.0,
            tx / 100.0,
            rf,
            ls,
            LI_BASE + datetime.timedelta(days=d),
        )
        for i, (ok, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "lineitem", rows, LINEITEM_SCHEMA)
    _check(spark, tmp, qname, ["lineitem"])


# -- TPC-H join battery: real dims + GENERATED facts ------------------------
# region/nation/customer/supplier/part copy over from the sf0.001 fixture
# (stable dimension data); orders and lineitem are hypothesis-generated with
# foreign keys drawn from the real dims' ranges — referential realism with
# adversarial fact shapes (empty join sides, all-filtered windows, hot
# customers, single-line orders).

_orders = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=149),         # custkey (real range)
        st.sampled_from(["O", "F", "P"]),
        st.integers(min_value=90_000, max_value=40_000_000),  # totalprice cents
        st.integers(min_value=0, max_value=2400),        # days from 1995-01-01
        st.sampled_from(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        ),
    ),
    min_size=1,
    max_size=25,
)

ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)

_fact_lineitems = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=24),     # index into orders list
        st.integers(min_value=0, max_value=199),    # partkey (real range)
        st.integers(min_value=0, max_value=9),      # suppkey (real range)
        st.integers(min_value=1, max_value=50),
        st.integers(min_value=90_000, max_value=10_500_000),
        st.integers(min_value=0, max_value=10),
        st.integers(min_value=0, max_value=8),
        st.sampled_from(["A", "N", "R"]),
        st.sampled_from(["O", "F"]),
        st.integers(min_value=0, max_value=2400),
    ),
    min_size=1,
    max_size=40,
)

TPCH_DIMS = ("region", "nation", "customer", "supplier", "part")

TPCH_ENTRIES = [
    "q3_shipping_priority",
    "q4_exists_agg",
    "q5_regional_revenue",
    "q10_returned_revenue",
    "q12_priority_class",
    "q13_customer_distribution",
    "q14_promo_share",
    "q18_large_orders",
    "q19_disjunctive_filter",
    "q22_global_sales_opportunity",
    "j1_broadcast_dim_join",
    "j4_semi_anti_join",
    "j12_star_broadcast",
    "j16_fk_orphan_audit",
    "o1_sort_limit_topn",
    # the remaining TPC-H shapes: generated facts force empty joins,
    # single-row groups, and all-NULL aggregates the fixture never does
    "q2_min_cost_supplier",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q15_top_supplier",
    "q16_excluded_suppliers",
    "q17_small_quantity_revenue",
    "q20_potential_promotion",
    "q21_suppliers_kept_waiting",
]


@pytest.mark.parametrize("qname", TPCH_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(orders_raw=_orders, li_raw=_fact_lineitems)
def test_tpch_entries_match_oracle_on_generated_facts(
    spark, tmp_path_factory, qname, orders_raw, li_raw
):
    import shutil

    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    for d in TPCH_DIMS:
        shutil.copy(f"/root/testdata/sf0.001/{d}.parquet", f"{tmp}/{d}.parquet")
    orows = [
        (
            i,
            ck,
            stx,
            tp / 100.0,
            LI_BASE + datetime.timedelta(days=d),
            pri,
        )
        for i, (ck, stx, tp, d, pri) in enumerate(orders_raw)
    ]
    lrows = [
        (
            oi % len(orows),
            pk,
            sk,
            i + 1,
            float(qty),
            pc / 100.0,
            dc / 100.0,
            tx / 100.0,
            rf,
            ls,
            LI_BASE + datetime.timedelta(days=d),
        )
        for i, (oi, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(li_raw)
    ]
    _stage(spark, tmp, "orders", orows, ORDERS_SCHEMA)
    _stage(spark, tmp, "lineitem", lrows, LINEITEM_SCHEMA)
    tables = list(TPCH_DIMS) + ["orders", "lineitem"]
    # dims are single files, facts are directories: _check globs both via
    # the read_parquet pattern only when the path is a dir — handle here
    con = duckdb.connect()
    for tname in tables:
        p = os.path.join(tmp, tname + ".parquet")
        pat = p + "/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{pat}')"
        )
    df = registry.QUERIES[qname](spark, tmp)
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    res = con.execute(registry.ORACLES[qname])
    ocols = [d[0] for d in res.description]
    orows2 = res.fetchall()
    c1, r1 = sc.norm_rows(cols, rows)
    c2, r2 = sc.norm_rows(ocols, orows2)
    assert c1 == c2, (qname, c1, c2)
    assert r1 == r2 or sc.approx_equal(r1, r2), (qname, r1[:5], r2[:5])


# -- r9b additions: exact-stat analytics batch ------------------------------

R9B_EVENT_ENTRIES = [
    "a33_spearman_rank",
    "m20_roc_auc",
    "f16_macd",
    "f17_atr",
    "a34_entropy_balance",
    "w22_theil_sen",
    "f18_sharpe",
]


@pytest.mark.parametrize("qname", R9B_EVENT_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_events)
def test_r9b_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


# documents with the x38/x39 query vocabulary IN the sampled token space, so
# phrase adjacency and BM25 postings actually fire on generated corpora
_docs_searchable = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),
        st.sampled_from(["web", "wiki"]),
        st.lists(
            st.sampled_from(
                ["the", "und", "hash", "join", "table", "scan",
                 "sort", "merge", "window", "agg", "vector"]
            ),
            min_size=0,
            max_size=8,
        ),
    ),
    min_size=1,
    max_size=20,
)

R9B_DOC_ENTRIES = [
    "m21_cohens_kappa",
    "d16_token_set_dedup",
    "x38_phrase_search",
    "x39_bm25",
]


@pytest.mark.parametrize("qname", R9B_DOC_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_docs_searchable)
def test_r9b_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


@pytest.mark.parametrize("qname", ["g18_clustering_coefficient"])
@settings(max_examples=3, deadline=None)
@given(raw=_lineitems)
def test_g18_matches_oracle_on_generated_lineitem(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (
            ok, pk, sk, i + 1, float(qty), pc / 100.0, dc / 100.0,
            tx / 100.0, rf, ls, LI_BASE + datetime.timedelta(days=d),
        )
        for i, (ok, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "lineitem", rows, LINEITEM_SCHEMA)
    _check(spark, tmp, qname, ["lineitem"])


# -- r9c batch ---------------------------------------------------------------

# repeated-letter words hammer the BPE fold's greedy-run semantics (the
# exact case where a replace()-style merge silently diverges); 'src0' in
# the source space makes x41's focus slice non-empty on some examples
_docs_bpe = st.lists(
    st.tuples(
        st.sampled_from(["src0", "web", "wiki"]),
        st.lists(
            st.sampled_from(
                ["a", "aa", "aaa", "aaaa", "ab", "aab", "abab",
                 "b", "bb", "the", "hash", "join"]
            ),
            min_size=0,
            max_size=8,
        ),
    ),
    min_size=1,
    max_size=20,
)


@pytest.mark.parametrize(
    "qname",
    [
        "x40_bpe_merges",
        "x41_logodds_keyness",
        "x42_bpe_tokenize",
        "x43_source_overlap",
    ],
)
@settings(max_examples=4, deadline=None)
@given(raw=_docs_bpe)
def test_r9c_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), "en", src, len(" ".join(toks)))
        for i, (src, toks) in enumerate(raw)
    ]
    if qname != "x41_logodds_keyness" and not any(t for _, t in raw):
        return  # all-empty corpus: no pairs, LIMIT 1 yields zero merges
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


@pytest.mark.parametrize(
    "qname", ["f19_stochastic_oscillator", "w23_autocorrelation", "f20_obv"]
)
@settings(max_examples=4, deadline=None)
@given(raw=_events)
def test_r9c_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    # day space 0-28 straddles the 14-day warm-up: examples cover both
    # empty results (parity on emptiness) and multi-window series with
    # duplicate closes (den = 0 NULL guard) on both engines
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


@pytest.mark.parametrize(
    "qname",
    ["g19_label_propagation", "g20_modularity", "m24_permutation_importance"],
)
@settings(max_examples=3, deadline=None)
@given(raw=_lineitems)
def test_r9c_g19_matches_oracle_on_generated_lineitem(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (
            ok, pk, sk, i + 1, float(qty), pc / 100.0, dc / 100.0,
            tx / 100.0, rf, ls, LI_BASE + datetime.timedelta(days=d),
        )
        for i, (ok, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "lineitem", rows, LINEITEM_SCHEMA)
    _check(spark, tmp, qname, ["lineitem"])


# embeddings with shared per-example dim (the Gram contract: one corpus,
# one dimensionality), zero vectors included (both engines must drop them)
_gram_examples = st.integers(min_value=1, max_value=4).flatmap(
    lambda dim: st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000).map(lambda v: v / 250.0),
            min_size=dim,
            max_size=dim,
        ),
        min_size=1,
        max_size=12,
    )
)


@pytest.mark.parametrize("qname", ["m22_gram_matrix"])
@settings(max_examples=4, deadline=None)
@given(raw=_gram_examples)
def test_r9c_m22_matches_oracle_on_generated_embeddings(
    spark, tmp_path_factory, qname, raw
):
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    if all(all(x == 0.0 for x in vec) for vec in raw):
        return  # every vector dropped: Gram empty on both sides, vacuous
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


@pytest.mark.parametrize("qname", ["t27_stream_gram_view"])
@settings(max_examples=2, deadline=None)
@given(raw=_gram_examples)
def test_r9c_t27_stream_gram_matches_oracle_on_generated_embeddings(
    spark, tmp_path_factory, qname, raw
):
    """The streaming incremental-Gram view must match the batch oracle on
    arbitrary corpora too — including corpora smaller than the 3-chunk
    replay (empty micro-batches must merge as identity)."""
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    if all(all(x == 0.0 for x in vec) for vec in raw):
        return  # every vector dropped: view has no rows to key
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


# labeled embeddings for the ranking-eval entry: vec_id 0 is always a
# query (0 % 50 = 0); tiny corpora exercise fewer-than-k candidate sets
# and zero-relevant NULL guards on both engines
@pytest.mark.parametrize("qname", ["m23_ndcg"])
@settings(max_examples=4, deadline=None)
@given(raw=_gram_examples)
def test_r9c_m23_matches_oracle_on_generated_embeddings(
    spark, tmp_path_factory, qname, raw
):
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


# -- fuzz batch 5: widening coverage over the legacy single-table entries --
LEGACY_EVENT_ENTRIES_3 = [
    "a3_last_write_wins",
    "a6_distinct_agg",
    "a8_quantiles",
    "a11_collect_sorted",
    "a19_gini",
    "a23_equidepth_bins",
    "f7_ols_trend",
    "f8_pairwise_activity_corr",
    "w1_window_functions",
    "w2_ranking_functions",
    "w3_range_frame",
    "w4_value_window_functions",
    "w7_locf_impute",
    "x34_markov_transitions",
]
# o1 fuzzes in TPCH_ENTRIES (it reads orders); o3 reads only the `part`
# dim, which the harness copies FIXED from the fixture — no generative
# value, so it stays covered by selfcheck alone.


@pytest.mark.parametrize("qname", LEGACY_EVENT_ENTRIES_3)
@settings(max_examples=4, deadline=None)
@given(raw=_events)
def test_batch5_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


DOC_ENTRIES_2 = [
    "x10_tfidf_top_terms",
    "x14_decontaminate",
    "x22_domain_mix",
    "x27_token_budget_sample",
    "x37_langid_confusion",
    "d4_dedup_ngram_jaccard",
    "d9_fuzzy_prefix_pairs",
    "d14_canonical_selection",
]


@pytest.mark.parametrize("qname", DOC_ENTRIES_2)
@settings(max_examples=4, deadline=None)
@given(raw=_docs)
def test_batch5_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


# -- fuzz batch 6: graph entries on generated lineitem, as-of joins on
# generated events, passage/sparse-retrieval on generated documents, and
# the embedding-cosine dedup on generated vectors --
BATCH6_EVENT_ENTRIES = [
    "j13_asof_tolerance_join",
    "m10_arrow_group_stats",
    # tiny generated groups exercise m25's zero-weight-replica HAVING
    # and the np < 3 NULL-bound arm on both engines
    "m25_bootstrap_ci",
]


@pytest.mark.parametrize("qname", BATCH6_EVENT_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_events)
def test_batch6_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


BATCH6_DOC_ENTRIES = ["d8_passage_dedup", "s16_sparse_doc_topk"]


@pytest.mark.parametrize("qname", BATCH6_DOC_ENTRIES)
@settings(max_examples=4, deadline=None)
@given(raw=_docs_searchable)
def test_batch6_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


BATCH6_LINEITEM_ENTRIES = [
    "g8_triangle_count",
    "g12_bfs_distances",
    "g14_kcore_peel",
    "g15_common_neighbors",
    "g16_deterministic_walks",
    "g17_adamic_adar",
]


@pytest.mark.parametrize("qname", BATCH6_LINEITEM_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_lineitems)
def test_batch6_graph_entries_match_oracle_on_generated_lineitem(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (
            ok, pk, sk, i + 1, float(qty), pc / 100.0, dc / 100.0,
            tx / 100.0, rf, ls, LI_BASE + datetime.timedelta(days=d),
        )
        for i, (ok, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "lineitem", rows, LINEITEM_SCHEMA)
    _check(spark, tmp, qname, ["lineitem"])


@pytest.mark.parametrize("qname", ["d5_dedup_embedding_cosine"])
@settings(max_examples=4, deadline=None)
@given(raw=_gram_examples)
def test_batch6_d5_matches_oracle_on_generated_embeddings(
    spark, tmp_path_factory, qname, raw
):
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


# -- fuzz batch 8 (r10): close the long tail — grouping-set shapes, sketch
# algebras, lambda merges, staged-layout roundtrips, the pipe funnels, the
# FULL streaming-view battery, and the embedding eval/quantize entries.
# Everything here rides the existing generators; streaming replays get
# fewer examples (each example runs a real bounded Structured Streaming
# query). The r9 fuzz layer's catch record (4 real cross-engine
# divergences) is the reason this tier keeps growing.

B8_EVENT_ENTRIES = [
    "g1_rollup",
    "g2_pivot",
    "g3_unpivot",
    "g4_cube",
    "g5_rollup_grouping_id",
    "g6_grouping_sets",
    "a4_pairwise_compat",
    "a7_salted_agg",
    "a12_salted_count_distinct",
    "a9_approx_distinct",
    "a10_approx_quantiles",
    "a16_distinct_sketch_gate",
    "a20_hll_distinct",
    "a21_cms_heavy_hitters",
    "j11_interval_join",
    "j2_keyed_column_merge",
    "j3_asof_join",
    "k4_column_half_upsert",
    "k5_incremental_mean_merge",
    "m5_serving_forecast",
    "m9_holt_forecast",
    "m16_drift_tv",
    "w6_sequence_assembly",
    "x3_date_format",
    "x16_datetime_battery",
    "u2_union_distinct_except",
    "p1_p2_json_parse",
    "p4_constant_columns",
    "f1_filter_exclude_today",
    "flagship_batch_view",
    "t5_tumbling_window",
    "t5_sliding_window",
    "t5_session_window",
    "t7_lambda_reconciliation",
    "p12_partitioned_pruned_scan",
    "p13_compaction",
    "u11_zonemap_skipping",
]


@pytest.mark.parametrize("qname", B8_EVENT_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_events)
def test_batch8_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


# the full streaming-view battery on generated feeds: corpora smaller than
# the replay chunk count force EMPTY micro-batches, single-key feeds force
# every merge onto one state row, and tie-heavy data stresses the
# struct-argmax LWW rules — exactly the states the fixture never produces
B8_STREAM_EVENT_ENTRIES = [
    "t6_stream_running_mean",
    "t10_stream_topk",
    "t11_stream_stream_join",
    "t13_stream_dedup",
    "t14_stream_state_expiry",
    "t15_stream_windowed_topk",
    "t16_stream_dedup_within_watermark",
    "t17_lambda_convergence",
    "t19_time_travel",
    "t21_speed_view_stream_join",
    "t22_stream_hll_view",
    "t23_stream_cms_view",
    "t24_stream_erasure",
    "t25_stream_bitmap_view",
    "t26_stream_kmv_view",
    "t28_stream_histogram_view",
    "u9_right_to_erasure",
    "p15_shallow_clone",
]


@pytest.mark.parametrize("qname", B8_STREAM_EVENT_ENTRIES)
@settings(max_examples=2, deadline=None)
@given(raw=_events)
def test_batch8_stream_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


B8_DOC_ENTRIES = [
    "x4_x5_text_clean",
    "x15_scalar_battery",
    "x17_array_battery",
    "x18_regexp_groups",
    "f3_keyword_filter",
    "p6_dropna_short_text",
    "d2_dedup_minhash_lsh",
    "d3_dedup_simhash",
    "d7_dedup_clusters",
    "d13_leakage_safe_split",
    "x30_pmi_collocations",
    "x31_corpus_shuffle",
    "x36_cdc_chunks",
    "s3_stratified_sample",
    "s9_shuffle_shards",
    "m13_feature_hashing",
    "pipe1_corpus_filter",
    "pipe2_split_leakage",
    "pipe3_prep_funnel",
    "m1_m4_news_pipeline",
    "x44_temperature_mix",
    "m26_mcnemar_test",
]


@pytest.mark.parametrize("qname", B8_DOC_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_docs)
def test_batch8_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


# documents with NULL langs: the null-safe join's whole contract
_docs_nullable = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", None]),
        st.sampled_from(["web", "wiki"]),
        st.lists(
            st.sampled_from(["the", "und", "alpha", "beta", "gamma"]),
            min_size=0,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=20,
)


@pytest.mark.parametrize("qname", ["j6_nullsafe_join"])
@settings(max_examples=4, deadline=None)
@given(raw=_docs_nullable)
def test_batch8_j6_matches_oracle_on_nullable_langs(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


B8_ORDERS_ENTRIES = [
    "c1_correlated_subquery",
    "o2_limit_offset_page",
    "o4_keyset_pagination",
    "u1_set_ops",
    "u4_table_diff",
    "u5_scd2_dimension",
    "u7_incremental_agg_view",
    "u8_merge_apply",
    "f2_date_range_pushdown",
    "p8_csv_source_roundtrip",
    "p11_schema_evolution",
    "p14_schema_evolution",
]


@pytest.mark.parametrize("qname", B8_ORDERS_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_orders)
def test_batch8_orders_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    orows = [
        (i, ck, stx, tp / 100.0, LI_BASE + datetime.timedelta(days=d), pri)
        for i, (ck, stx, tp, d, pri) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "orders", orows, ORDERS_SCHEMA)
    _check(spark, tmp, qname, ["orders"])


B8_STREAM_ORDERS_ENTRIES = ["t18_stream_scd2", "t20_stream_agg_view"]


@pytest.mark.parametrize("qname", B8_STREAM_ORDERS_ENTRIES)
@settings(max_examples=2, deadline=None)
@given(raw=_orders)
def test_batch8_stream_orders_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    orows = [
        (i, ck, stx, tp / 100.0, LI_BASE + datetime.timedelta(days=d), pri)
        for i, (ck, stx, tp, d, pri) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "orders", orows, ORDERS_SCHEMA)
    _check(spark, tmp, qname, ["orders"])


B8_EMB_ENTRIES = [
    "s1_ann_topk_bruteforce",
    "s4_embedding_quantize",
    "s13_mips_topk",
    "s10_random_projection",
    "m9_mlp_inference",
    "m11_eval_metrics",
    "m12_calibration_curve",
    "m14_knn_eval",
    "m15_autolabel_audit",
    "m17_nearest_centroid",
]


@pytest.mark.parametrize("qname", B8_EMB_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_gram_examples)
def test_batch8_embedding_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


B8_LINEITEM_ENTRIES = [
    "u3_multiset_ops",
    "a27_assoc_rules",
    "p3_p5_project_rename_cast",
    "p10_orc_roundtrip",
]


@pytest.mark.parametrize("qname", B8_LINEITEM_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_lineitems)
def test_batch8_lineitem_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (
            ok, pk, sk, i + 1, float(qty), pc / 100.0, dc / 100.0,
            tx / 100.0, rf, ls, LI_BASE + datetime.timedelta(days=d),
        )
        for i, (ok, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "lineitem", rows, LINEITEM_SCHEMA)
    _check(spark, tmp, qname, ["lineitem"])


# dims + generated facts (the TPCH harness shape) for the join-layout and
# point-in-time entries that read two fact tables or a fixed dim
B8_TPCH_ENTRIES = [
    "j8_bucketed_colocated_join",
    "u6_pit_dimension_join",
    "j10_bloom_prune",
    "c2_lateral_topn",
]


@pytest.mark.parametrize("qname", B8_TPCH_ENTRIES)
@settings(max_examples=2, deadline=None)
@given(orders_raw=_orders, li_raw=_fact_lineitems)
def test_batch8_tpch_entries_match_oracle_on_generated_facts(
    spark, tmp_path_factory, qname, orders_raw, li_raw
):
    import shutil

    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    for d in TPCH_DIMS:
        shutil.copy(f"/root/testdata/sf0.001/{d}.parquet", f"{tmp}/{d}.parquet")
    orows = [
        (i, ck, stx, tp / 100.0, LI_BASE + datetime.timedelta(days=d), pri)
        for i, (ck, stx, tp, d, pri) in enumerate(orders_raw)
    ]
    lrows = [
        (
            oi % len(orows), pk, sk, i + 1, float(qty), pc / 100.0,
            dc / 100.0, tx / 100.0, rf, ls,
            LI_BASE + datetime.timedelta(days=d),
        )
        for i, (oi, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(li_raw)
    ]
    _stage(spark, tmp, "orders", orows, ORDERS_SCHEMA)
    _stage(spark, tmp, "lineitem", lrows, LINEITEM_SCHEMA)
    con = duckdb.connect()
    for tname in list(TPCH_DIMS) + ["orders", "lineitem"]:
        p = os.path.join(tmp, tname + ".parquet")
        pat = p + "/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{pat}')"
        )
    df = registry.QUERIES[qname](spark, tmp)
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    res = con.execute(registry.ORACLES[qname])
    ocols = [d[0] for d in res.description]
    orows2 = res.fetchall()
    c1, r1 = sc.norm_rows(cols, rows)
    c2, r2 = sc.norm_rows(ocols, orows2)
    assert c1 == c2, (qname, c1, c2)
    assert r1 == r2 or sc.approx_equal(r1, r2), (qname, r1[:5], r2[:5])


@pytest.mark.parametrize("qname", ["t29_stream_minhash_view"])
@settings(max_examples=2, deadline=None)
@given(raw=_docs)
def test_batch8_t29_matches_oracle_on_generated_documents(
    spark, tmp_path_factory, qname, raw
):
    """The streamed per-source minhash view on arbitrary corpora: short
    docs drop identically, single-source corpora yield zero pairs, and
    register-wise MIN across replay chunks must equal the batch sketch."""
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


# -- fuzz batch 9 (r10): FULL-registry sweep — the last 28 entries. New
# generators for part (record-linkage name fuzzing) and customer
# (k-anonymity buckets); the k-means / IVF / PQ ANN ladder and the
# bucketed graph/dedup twins run on generated inputs for the first time
# (degenerate corpora: fewer vectors than centroids, empty cells,
# single-node graphs). Heavier entries get 2 examples.

B9_EVENT_ENTRIES = ["p7_malformed_json", "p9_variant_json"]


@pytest.mark.parametrize("qname", B9_EVENT_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_events)
def test_batch9_events_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["events"])


B9_DOC_ENTRIES = [
    "x1_x2_nested_access",
    "d6_dedup_incremental",
    "d10_simhash_bucketed",
    "d11_lsh_recall",
    "g11_components_bucketed",
    "m6_multimodal_features",
    "m7_resize_plan",
    "m8_frame_sample",
]


@pytest.mark.parametrize("qname", B9_DOC_ENTRIES)
@settings(max_examples=2, deadline=None)
@given(raw=_docs)
def test_batch9_documents_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


B9_EMB_ENTRIES = [
    "s2_ann_topk_ivf",
    "s5_ivf_recall",
    "s6_ann_topk_ivf_kmeans",
    "s7_ann_recall_kmeans_vs_signbit",
    "s8_ann_int8_rerank",
    "s11_incremental_ivf",
    "s12_ann_ivfpq_adc",
    "s14_filtered_ann",
]


@pytest.mark.parametrize("qname", B9_EMB_ENTRIES)
@settings(max_examples=2, deadline=None)
@given(raw=_gram_examples)
def test_batch9_embedding_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


# s15 joins lexical postings (documents) with IVF candidates (embeddings)
@pytest.mark.parametrize("qname", ["s15_hybrid_rrf"])
@settings(max_examples=2, deadline=None)
@given(docs_raw=_docs_searchable, emb_raw=_gram_examples)
def test_batch9_s15_matches_oracle_on_generated_data(
    spark, tmp_path_factory, qname, docs_raw, emb_raw
):
    drows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(docs_raw)
    ]
    erows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(emb_raw)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", drows, DOCS_SCHEMA)
    _stage(
        spark, tmp, "embeddings", erows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["documents", "embeddings"])


# generated parts: tiny name vocab forces linkage blocks, ties, and
# Pareto plateaus the fixture's unique names never produce
_parts = st.lists(
    st.tuples(
        st.sampled_from(
            ["alpha beta", "alpha gamma", "beta", "gamma delta", "alpha beta gamma"]
        ),
        st.sampled_from(["BRAND#1", "BRAND#2"]),
        st.sampled_from(["STANDARD", "SMALL", "LARGE"]),
        st.integers(min_value=1, max_value=50),          # size
        st.integers(min_value=90_000, max_value=200_000),  # price cents
    ),
    min_size=1,
    max_size=30,
)

PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string,"
    " p_size int, p_retailprice double"
)

B9_PART_ENTRIES = ["d15_edit_distance_blocked", "j9_record_linkage", "o3_pareto_frontier"]


@pytest.mark.parametrize("qname", B9_PART_ENTRIES)
@settings(max_examples=3, deadline=None)
@given(raw=_parts)
def test_batch9_part_entries_match_oracle_on_generated_data(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, name, brand, ptype, size, pc / 100.0)
        for i, (name, brand, ptype, size, pc) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "part", rows, PART_SCHEMA)
    _check(spark, tmp, qname, ["part"])


# generated customers: hot (nation, segment, balance-bucket) cells and
# negative balances exercise the k-anonymity HAVING and salted-join keys
_customers = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),            # nationkey
        st.integers(min_value=-99_999, max_value=999_999),  # acctbal cents
        st.sampled_from(["AUTOMOBILE", "BUILDING", "MACHINERY"]),
    ),
    min_size=1,
    max_size=40,
)

CUSTOMER_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string"
)


@pytest.mark.parametrize("qname", ["a28_k_anonymity"])
@settings(max_examples=3, deadline=None)
@given(raw=_customers)
def test_batch9_a28_matches_oracle_on_generated_customers(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, f"Customer#{i}", nk, bal / 100.0, seg)
        for i, (nk, bal, seg) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "customer", rows, CUSTOMER_SCHEMA)
    _check(spark, tmp, qname, ["customer"])


@pytest.mark.parametrize("qname", ["j5_salted_join"])
@settings(max_examples=3, deadline=None)
@given(raw=_customers)
def test_batch9_j5_matches_oracle_on_generated_customers(
    spark, tmp_path_factory, qname, raw
):
    """Fixture nation dim + generated (hot-keyed) customers: the salted
    join must stay value-identical to the plain join it replaces."""
    import shutil

    rows = [
        (i, f"Customer#{i}", nk, bal / 100.0, seg)
        for i, (nk, bal, seg) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/nation.parquet", f"{tmp}/nation.parquet")
    _stage(spark, tmp, "customer", rows, CUSTOMER_SCHEMA)
    _check(spark, tmp, qname, ["nation", "customer"])


@pytest.mark.parametrize("qname", ["t12_stream_static_join"])
@settings(max_examples=2, deadline=None)
@given(raw=_events)
def test_batch9_t12_matches_oracle_on_generated_events(
    spark, tmp_path_factory, qname, raw
):
    """Fixture customer dim + generated event stream through the real
    stream-static enrichment join replay."""
    import shutil

    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/customer.parquet", f"{tmp}/customer.parquet")
    _stage(spark, tmp, "events", _events_rows(raw), EVENTS_SCHEMA)
    _check(spark, tmp, qname, ["customer", "events"])


B9_GRAPH_ENTRIES = [
    "g7_pagerank_fixedpoint",
    "g9_triangle_count_bucketed",
    "g10_pagerank_bucketed",
]


@pytest.mark.parametrize("qname", B9_GRAPH_ENTRIES)
@settings(max_examples=2, deadline=None)
@given(raw=_lineitems)
def test_batch9_graph_entries_match_oracle_on_generated_lineitem(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (
            ok, pk, sk, i + 1, float(qty), pc / 100.0, dc / 100.0,
            tx / 100.0, rf, ls, LI_BASE + datetime.timedelta(days=d),
        )
        for i, (ok, pk, sk, qty, pc, dc, tx, rf, ls, d) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "lineitem", rows, LINEITEM_SCHEMA)
    _check(spark, tmp, qname, ["lineitem"])


# -- r10 batch 10: the new-entry pair ---------------------------------------
# d17 semantic dedup on generated embeddings: tiny dims + the /250 grid
# produce exact-duplicate and zero-norm vectors (the ANSI-cosine arm and
# the tau >= 1.0 boundary) that the fixture never has; single-vector
# corpora exercise the k > n seed path.
@pytest.mark.parametrize("qname", ["d17_semdedup"])
@settings(max_examples=4, deadline=None)
@given(raw=_gram_examples)
def test_batch10_d17_matches_oracle_on_generated_embeddings(
    spark, tmp_path_factory, qname, raw
):
    rows = [(i, [float(x) for x in vec], i % 3) for i, vec in enumerate(raw)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, qname, ["embeddings"])


# d22 incremental semantic dedup on the same generated embeddings: the
# /250 grid produces exact duplicates (tau boundary) and zero-norm
# vectors on BOTH sides of the batch split; `stride` flips the corpus
# between mixed old/new (stride 1), ALL-NEW (stride 5: every id % 5 == 0,
# so the stored snapshot is EMPTY — no centroids, vacuously empty delta
# on both engines — the bootstrap-with-full-d17 regime), and all-old
# (stride 5, offset 1: empty arriving batch, empty delta).
@pytest.mark.parametrize("stride,offset", [(1, 0), (5, 0), (5, 1)])
@settings(max_examples=3, deadline=None)
@given(raw=_gram_examples)
def test_batch12_d22_matches_oracle_on_generated_embeddings(
    spark, tmp_path_factory, stride, offset, raw
):
    rows = [
        (i * stride + offset, [float(x) for x in vec], i % 3)
        for i, vec in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, "d22_semdedup_incremental", ["embeddings"])


# t31 streamed SemDeDup view on generated embeddings: the full replay —
# frozen %3==0 snapshot centroids, 3 range-split micro-batches, min/sum
# removal-map merges — against the oracle's one-shot frozen-centroid
# fixed point. `stride` flips the corpus between mixed train/stream
# (stride 1), NO training subset (stride 3, offset 1: no id % 3 == 0, so
# zero centroids and an EMPTY view on both engines — the bootstrap arm),
# and all-training (stride 3, offset 0). The /250 grid plants exact
# duplicates (tau boundary) and zero-norm vectors inside every arm.
@pytest.mark.parametrize("stride,offset", [(1, 0), (3, 1), (3, 0)])
@settings(max_examples=2, deadline=None)
@given(raw=_gram_examples)
def test_batch13_t31_streamed_view_matches_frozen_oracle(
    spark, tmp_path_factory, stride, offset, raw
):
    rows = [
        (i * stride + offset, [float(x) for x in vec], i % 3)
        for i, vec in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, "t31_stream_semdedup_view", ["embeddings"])


# m28 chi2 on generated documents: the tiny-vocab corpus hits every
# degenerate margin — single-class corpora (rp = 0), terms present in
# every doc (cp = 0), and sub-min-df vocabularies yielding empty output.
_m28_docs = st.lists(
    st.tuples(
        st.sampled_from(["en", "en", "de"]),  # en-heavy: single-class runs
        st.lists(
            st.sampled_from(["the", "und", "alpha"]),
            min_size=0,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.parametrize("qname", ["m28_chi2_feature_select"])
@settings(max_examples=5, deadline=None)
@given(raw=_m28_docs)
def test_batch10_m28_matches_oracle_on_generated_documents(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, "web", len(" ".join(toks)))
        for i, (lang, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


# x45 fertility on generated documents: single-symbol words (fully fused
# after round 1), single-language corpora, and empty-text docs exercise
# the sentinel-exclusion count and the absent-group arms.
@pytest.mark.parametrize("qname", ["x45_tokenizer_fertility"])
@settings(max_examples=4, deadline=None)
@given(raw=_m28_docs)
def test_batch10_x45_matches_oracle_on_generated_documents(
    spark, tmp_path_factory, qname, raw
):
    rows = [
        (i, " ".join(toks), lang, "web", len(" ".join(toks)))
        for i, (lang, toks) in enumerate(raw)
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


# pipe3/pipe4 on generated documents with a repeat factor so some docs
# cross the 100-char gate (g1) while others fail langid/quality/dedup —
# both the empty-manifest and mixed-survivor arms get exercised.
_pipe_docs = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),
        st.sampled_from(["web", "wiki"]),
        st.lists(
            st.sampled_from(["the", "and", "is", "und", "der", "alpha"]),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=1, max_value=20),  # repeat factor
    ),
    min_size=1,
    max_size=15,
)


@pytest.mark.parametrize("qname", ["pipe4_export_manifest", "pipe3_prep_funnel"])
@settings(max_examples=3, deadline=None)
@given(raw=_pipe_docs)
def test_batch10_pipe_entries_match_oracle_on_generated_documents(
    spark, tmp_path_factory, qname, raw
):
    rows = []
    for i, (lang, src, toks, rep) in enumerate(raw):
        text = " ".join(toks * rep)
        rows.append((i, text, lang, src, len(text)))
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


def test_t19_time_travel_empty_first_merge(spark, tmp_path_factory):
    """Regression (r10): a feed whose only events fall AFTER day 15 makes
    t19's merge-1 legitimately empty; version 1 owns zero partitions,
    read_at(1) returns None, and the snapshot must materialize as the
    typed empty relation the oracle computes — not crash on .select."""
    rows = [(0, BASE + datetime.timedelta(days=15), 0, "click", 0.0, '{"k": 0}')]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", rows, EVENTS_SCHEMA)
    _check(spark, tmp, "t19_time_travel", ["events"])


@pytest.mark.soak
def test_t21_stream_join_single_purchase_feed(spark, tmp_path_factory):
    """Regression (r10): a feed with exactly ONE purchase event gave the
    stock leg a watermark that never passed any window end — stage 1
    finalized nothing and the join lost a both-halves day the batch
    oracle keeps. The raw-replay sentinel events (end-of-input
    punctuation per leg) must close every real day."""
    rows = _events_rows(
        [
            (13, 73600, 4, "click", 16498),
            (13, 0, 0, "purchase", 0),
            (0, 0, 0, "click", 0),
        ]
    )
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "events", rows, EVENTS_SCHEMA)
    _check(spark, tmp, "t21_speed_view_stream_join", ["events"])


def test_s12_ivfpq_short_vectors(spark, tmp_path_factory):
    """Regression (r10): a corpus whose dim < PQ_M*SUB_DIM leaves the
    trailing PQ subspaces with empty slices; Lloyd keeps no centroids
    for them, code/lut shrink below PQ_M, and the ADC fold must bound
    itself by the PRESENT subspaces instead of throwing ANSI
    element_at out-of-bounds (DuckDB indexed NULL)."""
    rows = [(i, [float(v)], i % 3) for i, v in enumerate([0.0, 0.0, 1.0, -1.0])]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(
        spark, tmp, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    _check(spark, tmp, "s12_ann_ivfpq_adc", ["embeddings"])


# -- batch 11: d18 substring dedup on generated documents -------------------
# Repeat-heavy corpora (one token block repeated many times collapses every
# chunk fingerprint onto a handful of values — the df-cap arm), single-chunk
# docs (no boundary token ever fires), identical docs (span = whole doc),
# and empty docs all land here; the tiny vocab forces cross-doc chunk
# collisions the fixture's English text never produces.
_sub_docs = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["the", "and", "alpha", "beta", "gamma", "delta"]),
            min_size=0,
            max_size=30,
        ),
        st.integers(min_value=1, max_value=6),  # repeat factor
    ),
    min_size=1,
    max_size=12,
)


@pytest.mark.parametrize(
    "qname",
    [
        "d18_substring_dedup",
        "d19_substring_trim_plan",
        "d20_substring_decontamination",
        "d21_substring_incremental",
        # d23 inherits every arm (repeat-heavy, single-chunk, identical,
        # empty) and adds the edge-refinement geometry to each of them
        "d23_substring_exact_bounds",
    ],
)
@settings(max_examples=6, deadline=None)
@given(raw=_sub_docs)
def test_batch11_d18_matches_oracle_on_generated_documents(
    spark, tmp_path_factory, qname, raw
):
    rows = []
    for i, (toks, rep) in enumerate(raw):
        text = " ".join(toks * rep)
        rows.append((i, text, "en", "web", len(text)))
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])


@settings(max_examples=2, deadline=None)
@given(raw=_sub_docs)
def test_batch11_t30_streamed_view_matches_d18_oracle(
    spark, tmp_path_factory, raw
):
    """t30's fuzz arm (the stream battery's convergence contract on the
    substring family): the streamed spans view — 3 micro-batch replay,
    amortized ndocs store, replace-by-pair merges with tombstones — must
    match d18's batch oracle on generated corpora, including the arms the
    fixture never produces: corpora smaller than the replay chunk count
    (EMPTY micro-batches), repeat-heavy docs that saturate the df gate
    (non-monotone crossings mid-replay), single-chunk and empty docs."""
    rows = []
    for i, (toks, rep) in enumerate(raw):
        text = " ".join(toks * rep)
        rows.append((i, text, "en", "web", len(text)))
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, "t30_stream_substring_view", ["documents"])


def test_batch11_d18_identical_docs_span_whole_doc(spark, tmp_path_factory):
    """Two byte-identical docs must share one maximal span on diagonal 0
    covering every chunk — the degenerate arm where substring dedup and
    document dedup (d1) agree; a third unrelated doc pairs with neither."""
    shared = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, shared, "en", "web", len(shared)),
        (2, shared, "en", "web", len(shared)),
        (3, " ".join(f"zzz{i}" for i in range(60)), "en", "web", 0),
    ]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, "d18_substring_dedup", ["documents"])
    out = registry.QUERIES["d18_substring_dedup"](spark, tmp).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(1, 2)}
    (span,) = out
    assert span.span_toks == 60 and span.start_a == 1 and span.start_b == 1


@pytest.mark.parametrize(
    "qname", ["x40_bpe_merges", "x42_bpe_tokenize", "x45_tokenizer_fertility"]
)
def test_batch11_bpe_empty_merge_round_is_a_noop(
    spark, tmp_path_factory, qname
):
    """Regression (ADVICE r10): a corpus that fully fuses before the last
    merge round ('a' -> 'a</w>' after round 1; rounds 2-3 find NO pairs)
    previously crossJoined an EMPTY winner and silently erased the whole
    word-type table — x42/x45 returned zero rows and the oracle went
    empty identically, so the value-hash gate could not catch it. The
    guarded fold must no-op instead: x42's fused corpus and x45's
    per-lang rows are non-empty, and both engines agree."""
    rows = [(0, "a a a", "en", "web", 5), (1, "a", "en", "web", 1)]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, qname, ["documents"])
    if qname != "x40_bpe_merges":  # x40's merge TABLE is legitimately short
        assert registry.QUERIES[qname](spark, tmp).count() > 0


def test_batch11_d20_flags_quoting_train_doc(spark, tmp_path_factory):
    """Deterministic arm: doc 7 hashes into the 'val' split (the
    x31-seeded 60-bit hash, seed='split'); doc 0 is a train doc QUOTING
    a 30-token val passage inside otherwise-original text — the leak
    class doc-level fingerprint decontamination (x14/s5) cannot see.
    d20 must flag exactly train doc 0; the unrelated train doc 2 stays
    clean. Cross-engine checked, then the verdict pinned."""
    # 40 tokens, not 30: CDC boundaries fall where token-hash % 8 == 0,
    # and only chunks FULLY inside the quote are shared (the edge chunks
    # merge with each doc's differing context) — for this vocab the
    # interior boundary run spans tokens 3..38, a 35-token shared span,
    # comfortably over the 20-token floor (30 tokens left only 17)
    quote = " ".join(f"eval{i}" for i in range(40))
    rows = [
        (0, "intro words here " + quote + " closing remarks follow now",
         "en", "web", 0),
        (7, "question preamble " + quote + " answer key text", "en", "web", 0),
        (2, " ".join(f"clean{i}" for i in range(40)), "en", "web", 0),
    ]
    rows = [(i, t, l, s, len(t)) for (i, t, l, s, _) in rows]
    tmp = _fuzz_tmp(tmp_path_factory)
    os.makedirs(tmp, exist_ok=True)
    _stage(spark, tmp, "documents", rows, DOCS_SCHEMA)
    _check(spark, tmp, "d20_substring_decontamination", ["documents"])
    out = registry.QUERIES["d20_substring_decontamination"](spark, tmp).collect()
    assert [r.train_doc_id for r in out] == [0]
    assert out[0].n_val_docs == 1 and out[0].max_span_toks >= 20
