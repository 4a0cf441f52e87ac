"""Unit tests for the training-data extensions: planted duplicates and known
inputs, independent of the driver fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
    dedup,
    multimodal,
    similarity,
    text,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the tall green tree near the old stone wall"
)


def docs_df(spark):
    rows = [
        Row(doc_id=0, text=BASE, lang="en", source="s0"),
        # exact dup modulo case/whitespace
        Row(doc_id=1, text="  The QUICK  brown fox jumps over the lazy dog "
                           "while the cat watches from the tall green tree "
                           "near the old stone wall ", lang="en", source="s0"),
        # near dup: one word changed
        Row(doc_id=2, text=BASE.replace("green", "blue"), lang="en", source="s0"),
        # unrelated
        Row(doc_id=3, text="completely different subject matter entirely "
                           "unrelated words about databases and query engines "
                           "running distributed shuffles", lang="en", source="s0"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_groups_normalized_copies(spark):
    out = dedup.exact_dedup(docs_df(spark), "doc_id", "text").collect()
    groups = {r.canonical_id: r.n_copies for r in out}
    assert groups[0] == 2  # doc 0 and doc 1 collapse
    assert groups[2] == 1 and groups[3] == 1


def test_minhash_lsh_finds_planted_near_dup(spark):
    # (0,1) is deterministic recall: identical token sequences -> identical
    # signatures -> same bucket in every band. (0,2) (one word changed,
    # jaccard ~0.89) is only probabilistically caught (P~0.96 at b=4,r=4),
    # so assert the verify-stage guarantees instead of its presence.
    pairs = dedup.minhash_lsh_pairs(docs_df(spark), "doc_id", "text", 0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert all(3 not in p for p in found)  # unrelated doc never verifies
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(0, 1)] == 1.0  # lowercased tokenization makes 0 and 1 equal
    assert all(j >= 0.5 for j in jac.values())


def test_minhash_hash_space_jaccard_equals_shingle_jaccard(spark):
    """The sketch table stores shingle HASHES; verify-stage Jaccard over
    the hash sets must equal Jaccard over the shingle strings (no 60-bit
    collision at test scale, and the hash is deterministic). Guards the
    hash-space verify refactor against accidental re-hashing/modding that
    would silently change multiplicities."""
    from pyspark.sql import functions as F

    d = docs_df(spark)
    sk = dedup.minhash_sketches(d, "doc_id", "text")
    raw = d.select(
        "doc_id", dedup.shingles(F.col("text")).alias("sh")
    ).filter(F.size("sh") > 0)
    joined = sk.join(raw, "doc_id").select(
        "doc_id",
        F.size("hs").alias("n_hashes"),
        F.size("sh").alias("n_shingles"),
        F.size(F.array_distinct("hs")).alias("n_distinct_hashes"),
    )
    for r in joined.collect():
        assert r.n_hashes == r.n_shingles == r.n_distinct_hashes


def test_simhash_identical_text_hamming_zero(spark):
    pairs = dedup.simhash_pairs(docs_df(spark), "doc_id", "text", 3).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(0, 1)] == 0
    assert (0, 2) in ham  # one changed word moves few bits


def test_ngram_jaccard_blocked(spark):
    pairs = dedup.ngram_jaccard_pairs(
        docs_df(spark), "doc_id", "text", ["lang", "source"], 0.8
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found and (0, 2) in found
    assert all(3 not in p for p in found)


def vec_df(spark):
    v = [float(i % 7 - 3) for i in range(8)]
    w = [float((i * 3) % 5 - 2) for i in range(8)]
    rows = [
        Row(vec_id=0, embedding=v, label=0),
        Row(vec_id=1, embedding=list(v), label=0),  # identical -> cosine 1
        Row(vec_id=2, embedding=w, label=0),
        Row(vec_id=3, embedding=[-x for x in v], label=1),  # anti-parallel
    ]
    return spark.createDataFrame(rows)


def test_topk_bruteforce_identical_vector_first(spark):
    emb = vec_df(spark)
    out = similarity.topk_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 1 and rows[0].score == pytest.approx(1.0)
    assert rows[-1].neighbor_id != 3  # anti-parallel is never in top-2


def test_topk_ivf_subset_of_bruteforce_candidates(spark):
    emb = vec_df(spark)
    q = emb.filter(F.col("vec_id") == 0)
    ivf = {r.neighbor_id for r in similarity.topk_ivf(emb, q, k=3, dims=4).collect()}
    # IVF probes only vec 0's cell; identical vec 1 shares it by construction
    assert 1 in ivf and 3 not in ivf


def test_topk_rejects_corpus_sized_query_set(spark, monkeypatch):
    """The top-k entry points broadcast the query side; a corpus-sized
    query set must fail loudly (naming the batch alternative) instead of
    OOMing executors at scale."""
    emb = vec_df(spark)
    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERIES", 2)
    with pytest.raises(ValueError, match="near_dup_pairs"):
        similarity.topk_bruteforce(emb, emb, k=2)
    with pytest.raises(ValueError, match="broadcast"):
        similarity.topk_ivf(emb, emb, k=2)
    with pytest.raises(ValueError, match="topk_ivf_kmeans"):
        similarity.topk_ivf_kmeans(emb, emb, k=2)
    with pytest.raises(ValueError, match="topk_int8_rerank"):
        similarity.topk_int8_rerank(emb, emb, k=2)
    with pytest.raises(ValueError, match="topk_ivfpq_adc"):
        similarity.topk_ivfpq_adc(emb, emb, k=2)
    # serving-sized sets still pass through untouched
    q = emb.filter(F.col("vec_id") == 0)
    assert similarity.topk_bruteforce(emb, q, k=2).count() == 2


def test_serving_size_check_reuses_its_generated_classes(spark, tmp_path):
    """Every top-k build runs the query-set check, so a repeated check must
    compile nothing: a generated limit names its counter field from a
    JVM-global sequence, which made each check two new classes. (A parquet
    source, because a range's known row count lets Catalyst drop the limit.)"""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    spark.range(0, 64, 1, 2).write.parquet(str(tmp_path / "q"))
    q = spark.read.parquet(str(tmp_path / "q")).filter(F.col("id") % 3 == 0)
    similarity._serving_sized(q, "topk_test")
    before = cm.METRIC_COMPILATION_TIME().getCount()
    assert similarity._serving_sized(q, "topk_test") is q
    assert cm.METRIC_COMPILATION_TIME().getCount() == before


def test_embedding_near_dup_within_cell(spark):
    out = similarity.embedding_near_dup(vec_df(spark), 0.99, cell_col="label")
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_lang_id_stopword_vote(spark):
    df = spark.createDataFrame(
        [
            Row(t="le chat est sur la table et il ne bouge pas avec un livre"),
            Row(t="the dog is in the house and it does not move"),
            Row(t="zzz qqq www"),  # no stopwords anywhere
        ]
    )
    out = [r.l for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["fr", "en", "und"]


def test_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [Row(t="alpha beta gamma"), Row(t="gamma beta alpha")]
    )
    fps = [r.fp for r in df.select(text.fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] != fps[1]


def test_token_counts_known_string(spark):
    df = spark.createDataFrame([Row(t="Hello, world! x2")])
    ws, bpe = text.token_counts(F.col("t"))
    r = df.select(ws.alias("ws"), bpe.alias("bpe")).first()
    assert r.ws == 3  # hello / world / x2
    assert r.bpe == 6  # hello , world ! x 2


def test_multimodal_fake_backend_features(spark):
    d = docs_df(spark)
    feats = multimodal.extract_features(
        multimodal.attach_media(d, "doc_id", "text")
    ).collect()
    assert len(feats) == 4
    for r in feats:
        assert r.byte_len == 16 and r.fmt == "fake"
        assert 0 <= r.byte_sum <= 16 * 255 and r.head64 >= 0


def test_multimodal_real_backend_is_stubbed(spark):
    d = docs_df(spark)
    media = multimodal.attach_media(d, "doc_id", "text")
    with pytest.raises(Exception, match="not available"):
        multimodal.extract_features(media, backend="pil").collect()


def test_multimodal_pil_backend_parity_with_bmp(spark):
    """Where pillow IS installed, backend='pil' runs the REAL decode and
    must agree exactly with the numpy BMP codec — decode is lossless and
    resampling is engine-owned, so both pixel features and resized
    payloads are bit-identical (r11 verdict item 6: test the seam's
    contract on capable machines instead of only disclosing it; skipped
    here exactly when the dependency is absent)."""
    pytest.importorskip("PIL", reason="requires the 'pillow' package (PIL)")
    d = docs_df(spark)
    media = multimodal.attach_bmp_media(d, "doc_id")
    feats_bmp = sorted(
        map(
            tuple,
            multimodal.extract_pixel_features(media, backend="bmp").collect(),
        )
    )
    feats_pil = sorted(
        map(
            tuple,
            multimodal.extract_pixel_features(media, backend="pil").collect(),
        )
    )
    assert feats_bmp == feats_pil and feats_bmp
    rz_bmp = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.resize(media, 4, 4, backend="bmp").collect()
    }
    rz_pil = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.resize(media, 4, 4, backend="pil").collect()
    }
    assert rz_bmp == rz_pil


def test_frame_sampling_plan(spark):
    d = docs_df(spark)
    frames = multimodal.sample_frames(multimodal.attach_media(d, "doc_id", "text"))
    r = {row.doc_id: row for row in frames.groupBy("doc_id").count().collect()}
    # doc_id d has (d % 16) + 1 frames, sampled every 4
    for did, row in r.items():
        n = did % 16 + 1
        assert row["count"] == (n + 3) // 4


def test_incremental_minhash_matches_full_run(spark):
    """Sketch the old corpus once; dedup a new batch against the stored
    sketches. New-involving pairs must match the full-corpus run."""
    from pyspark.sql import Row

    old = docs_df(spark)  # ids 0-3
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text=BASE, lang="en", source="s0"),  # dup of 0/1
            Row(doc_id=11, text="totally novel content about streaming "
                                "watermarks and stateful aggregation modes "
                                "in structured streaming", lang="en", source="s0"),
        ]
    )
    old_sk = dedup.minhash_sketches(old, "doc_id", "text").persist()
    inc = dedup.incremental_minhash_pairs(old_sk, new, "doc_id", "text", 0.5)
    inc_pairs = {(r.id_a, r.id_b) for r in inc.collect()}

    full = dedup.minhash_lsh_pairs(
        old.unionByName(new), "doc_id", "text", 0.5
    ).collect()
    want = {(r.id_a, r.id_b) for r in full if r.id_a >= 10 or r.id_b >= 10}
    assert inc_pairs == want
    assert (0, 10) in inc_pairs and (1, 10) in inc_pairs
    assert all(11 not in p for p in inc_pairs)


def test_salted_agg_equals_direct_agg(spark, sf_dir):
    """Salted two-stage aggregation must be value-identical to the direct
    groupBy for algebraic aggregates."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.operators.aggregate import (
        salted_agg,
    )
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.sources.batch import (
        load_table,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("decimal(18,2)").alias("q")
    )
    got = {
        r["l_returnflag"]: (r["s"], r["n"], r["mx"])
        for r in salted_agg(
            li, ["l_returnflag"], {"s": ("q", "sum"), "n": ("q", "count"), "mx": ("q", "max")}
        ).collect()
    }
    want = {
        r["l_returnflag"]: (r["s"], r["n"], r["mx"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("q").alias("s"), F.count("q").alias("n"), F.max("q").alias("mx"))
        .collect()
    }
    assert got == want


def test_asof_join_semantics(spark):
    """As-of join: most recent right value at-or-before left.ts per key;
    equal timestamps match; no prior quote -> null."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.operators.asof import (
        asof_join,
    )

    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0), ("b", 15, 9.0)],
        "k string, ts int, price double",
    )
    left = spark.createDataFrame(
        [("a", 5, 100), ("a", 10, 101), ("a", 19, 102), ("a", 25, 103), ("b", 14, 104)],
        "k string, ts int, id int",
    )
    out = {r["id"]: r["price"] for r in asof_join(left, right, ["k"], "ts", ["price"]).collect()}
    assert out == {100: None, 101: 1.0, 102: 1.0, 103: 2.0, 104: None}


def test_resize_dimension_plan(spark):
    """Resize: aspect-preserving downscale, never upscale; pixel work is the
    stubbed backend seam."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext.multimodal import (
        attach_media,
        resize,
    )

    d = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in (0, 63, 31)]
    )
    media = attach_media(d, "doc_id", "text")
    # widths = doc_id % 64 + 1, heights = doc_id % 48 + 1
    out = {r["doc_id"]: r["meta"] for r in resize(media, 16, 16).collect()}
    # doc 0: 1x1 -> no-op
    assert (out[0]["width"], out[0]["height"]) == (1, 1)
    # doc 63: 64x16 -> landscape, clamp width, height floors to >= 1
    m = out[63]
    assert m["width"] <= 16 and m["height"] >= 1
    assert m["width"] == 16 and m["height"] == 4  # 16/64 * 16 = 4
    # doc 31: 32x32 -> square, scales to 16x16
    assert (out[31]["width"], out[31]["height"]) == (16, 16)
    # payload untouched by the fake backend
    raw = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    got = {r["doc_id"]: bytes(r["payload"]) for r in resize(media, 16, 16).collect()}
    assert raw == got

    import pytest as _pytest

    try:
        import PIL  # noqa: F401

        # pillow present: the pil backend is REAL, and fake payloads are
        # not decodable images — PIL itself must reject them
        with _pytest.raises(Exception):
            resize(media, 16, 16, backend="pil").collect()
    except ImportError:
        # pillow absent: the seam raises its dependency error, naming
        # the missing package (the protobuf honesty pattern)
        with _pytest.raises(Exception, match="pillow"):
            resize(media, 16, 16, backend="pil").collect()


def test_repetition_stats_counts(spark):
    """x11: duplicate trigram fraction; short docs have null ratio."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import text as tx
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c a b c a b c"),  # 7 grams: abc bca cab x2 + abc
            Row(doc_id=2, text="all words differ here now"),
            Row(doc_id=3, text="too short"),
        ]
    )
    rows = {r["doc_id"]: r for r in tx.repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1]["n_trigrams"] == 7 and rows[1]["n_distinct"] == 3
    assert rows[1]["rep_ratio"] == (7 - 3) / 7
    assert rows[2]["rep_ratio"] == 0.0
    assert rows[3]["n_trigrams"] == 0 and rows[3]["rep_ratio"] is None


def test_stratified_sample_deterministic_and_stable(spark, sf_dir):
    """s3: hash sampling is a pure row function — identical membership
    across arbitrary repartitioning, and a subset filter commutes with it."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import sampling as sp
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.sources import batch as sources

    docs = sources.load_table(spark, sf_dir, "documents")
    kept = sp.stratified_sample(docs, "lang", "doc_id", {"en": 200}, 600)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    ids_repart = {
        r["doc_id"]
        for r in sp.stratified_sample(
            docs.repartition(13), "lang", "doc_id", {"en": 200}, 600
        ).select("doc_id").collect()
    }
    assert ids == ids_repart
    # sampling a subset yields the subset of the sample
    en_only = sp.stratified_sample(
        docs.filter("lang = 'en'"), "lang", "doc_id", {"en": 200}, 600
    )
    assert {r["doc_id"] for r in en_only.select("doc_id").collect()} == {
        i for i in ids if i in {r["doc_id"] for r in docs.filter("lang='en'").select("doc_id").collect()}
    }
    # different seed draws a different (overlapping) sample
    ids_seed2 = {
        r["doc_id"]
        for r in sp.stratified_sample(
            docs, "lang", "doc_id", {"en": 200}, 600, seed="other"
        ).select("doc_id").collect()
    }
    assert ids_seed2 != ids


def test_cluster_pairs_connected_components(spark):
    """d7: chains and cliques collapse to min-id clusters with right sizes."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import dedup as dd

    # components: {1,2,3,4} (a chain), {10,11}, singleton pairs absent
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
         Row(id_a=10, id_b=11)]
    )
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in dd.cluster_pairs(pairs).collect()}
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2),
    }


def test_cluster_pairs_durable_checkpoint(spark, tmp_path):
    """Passing checkpoint_dir switches lineage-capping to reliable
    checkpoint() storage (cluster fault tolerance); results unchanged and
    checkpoint data actually lands in the directory."""
    import os

    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import dedup as dd

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11)]
    )
    ck = str(tmp_path / "ck")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dd.cluster_pairs(pairs, checkpoint_dir=ck).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert any(os.scandir(ck))  # checkpoint blocks written to reliable dir


def test_cluster_pairs_diameter_over_budget_fails_loudly(spark):
    """A pathological chain whose diameter exceeds max_iter must raise —
    returning half-propagated labels would silently split the cluster."""
    import pytest
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import dedup as dd

    # path graph 0-1-2-...-9: min-label propagation moves label 0 one hop
    # per round, so convergence needs ~9 rounds; cap at 3
    chain = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(9)])
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.cluster_pairs(chain, max_iter=3)


def test_quantize_int8_roundtrip_bounds(spark):
    """s4: codes bounded by [-127, 127], max-|x| element hits ±127, zero
    vectors dropped."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import similarity as sim

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.5, -1.0, 0.25]),
         Row(vec_id=2, embedding=[0.0, 0.0, 0.0])]
    )
    rows = sim.quantize_int8(df).collect()
    by_pos = {r["pos"]: r["code"] for r in rows}
    assert {r["vec_id"] for r in rows} == {1}  # zero vector dropped
    assert by_pos[2] == -127  # the max-magnitude element
    assert by_pos[1] == 64 and by_pos[3] == 32  # floor(0.5*127+0.5)=64
    assert all(-127 <= c <= 127 for c in by_pos.values())


def test_view_vacuum_drops_only_unreferenced_versions(spark):
    """Old version dirs whose partitions were all re-pointed are removed;
    referenced ones survive and the view still reads correctly."""
    import os
    import tempfile as tf

    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.streaming import upsert

    with tf.TemporaryDirectory() as tmp:
        view = upsert.KeyedParquetView(spark, f"{tmp}/v", ["d"])
        view.merge_overwrite_by_key(
            spark.createDataFrame([Row(d="a", t=1, v=1.0), Row(d="b", t=1, v=2.0)]),
            "t", batch_id=0,
        )
        # rewrite BOTH partitions -> v=1 becomes fully unreferenced
        view.merge_overwrite_by_key(
            spark.createDataFrame([Row(d="a", t=2, v=3.0), Row(d="b", t=2, v=4.0)]),
            "t", batch_id=1,
        )
        assert view.vacuum() == [1]
        assert not os.path.exists(f"{tmp}/v/v=1")
        got = {r["d"]: r["v"] for r in view.read().collect()}
        assert got == {"a": 3.0, "b": 4.0}

        # partial rewrite: v=2 still owns partition b -> nothing to vacuum
        view.merge_overwrite_by_key(
            spark.createDataFrame([Row(d="a", t=3, v=5.0)]), "t", batch_id=2,
        )
        assert view.vacuum() == []
        got = {r["d"]: r["v"] for r in view.read().collect()}
        assert got == {"a": 5.0, "b": 4.0}


def test_salted_join_equals_plain_join(spark, sf_dir):
    """j5 machinery: the salted join's result must be exactly the plain
    join's, for inner and left, including unmatched left rows."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [Row(k=1, a="x"), Row(k=1, a="y"), Row(k=2, a="z"), Row(k=9, a="w")]
    )
    right = spark.createDataFrame([Row(k=1, b="p"), Row(k=2, b="q"), Row(k=2, b="r")])
    for how in ("inner", "left"):
        plain = {tuple(r) for r in left.join(right, ["k"], how).collect()}
        salted = {tuple(r) for r in salted_join(left, right, ["k"], 4, how).collect()}
        assert salted == plain, how


def test_operators_tolerate_empty_and_degenerate_input(spark):
    """Empty partitions are routine at 100 TB (filters + pruning leave many
    tasks rowless); every operator family must return an empty/sane result,
    never throw."""
    from pyspark.sql import Row, types as T

    PKGP = "a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark"
    from importlib import import_module

    dd = import_module(f"{PKGP}.ext.dedup")
    tx = import_module(f"{PKGP}.ext.text")
    sim = import_module(f"{PKGP}.ext.similarity")
    fc = import_module(f"{PKGP}.ml.forecast")
    agg = import_module(f"{PKGP}.operators.aggregate")
    asof = import_module(f"{PKGP}.operators.asof")

    empty_docs = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string"
    )
    assert dd.exact_dedup(empty_docs, "doc_id", "text").count() == 0
    assert dd.minhash_lsh_pairs(empty_docs, "doc_id", "text", 0.5).count() == 0
    assert dd.simhash_pairs(empty_docs, "doc_id", "text", 3).count() == 0
    assert tx.repetition_stats(empty_docs, "doc_id", "text").count() == 0
    assert tx.tfidf_top_terms(empty_docs, "doc_id", "text").count() == 0
    assert dd.cluster_pairs(
        spark.createDataFrame([], "id_a bigint, id_b bigint, jaccard double")
    ).count() == 0

    empty_vecs = spark.createDataFrame(
        [], T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ])
    )
    assert sim.quantize_int8(empty_vecs).count() == 0

    empty_daily = spark.createDataFrame(
        [], "series string, day date, close_v double"
    )
    assert fc.forecast_per_series(empty_daily, fc.holt_forecast).count() == 0

    # single-token / empty-string docs: no shingles, no crash
    tiny = spark.createDataFrame(
        [Row(doc_id=1, text="", lang="en", source="s"),
         Row(doc_id=2, text="one", lang="en", source="s")]
    )
    assert dd.minhash_lsh_pairs(tiny, "doc_id", "text", 0.5).count() == 0
    r = {x["doc_id"]: x for x in tx.repetition_stats(tiny, "doc_id", "text").collect()}
    assert r[1]["n_trigrams"] == 0 and r[1]["rep_ratio"] is None

    # as-of join with an empty quote side: all lookups null-priced
    lookups = spark.createDataFrame([Row(event_id=1, user_id=1, ts=1)])
    quotes = spark.createDataFrame([], "user_id bigint, ts bigint, price double")
    out = asof.asof_join(lookups, quotes, ["user_id"], "ts", ["price"]).collect()
    assert len(out) == 1 and out[0]["price"] is None

    # salted agg on empty input
    e = spark.createDataFrame([], "k string, v bigint")
    assert agg.salted_agg(e, ["k"], {"s": ("v", "sum")}).count() == 0


def test_point_in_interval_join_edges(spark):
    """Range-join boundary semantics: start inclusive, end exclusive,
    bucket boundaries invisible; keys isolate users."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.operators.range_join import point_in_interval_join

    def ts(s):
        import datetime
        return datetime.datetime.fromisoformat(s)

    pts = spark.createDataFrame(
        [Row(u=1, ts=ts("2024-01-01T10:00:00"), pid=1),   # == start: in
         Row(u=1, ts=ts("2024-01-01T11:59:59"), pid=2),   # just inside
         Row(u=1, ts=ts("2024-01-01T12:00:00"), pid=3),   # == end: out
         Row(u=2, ts=ts("2024-01-01T10:30:00"), pid=4)]   # other key: out
    )
    iv = spark.createDataFrame(
        [Row(u=1, start=ts("2024-01-01T10:00:00"), end=ts("2024-01-01T12:00:00"))]
    )
    got = {r["pid"] for r in point_in_interval_join(
        pts, iv, ["u"], "ts", "start", "end", bucket_seconds=3600
    ).collect()}
    assert got == {1, 2}


def test_point_in_interval_join_subsecond_end(spark):
    """Regression: an interval end with fractional seconds just past a
    bucket boundary (end=11:00:00.5, bucket=3600) must still produce the
    final bucket — second-truncating bucket math silently dropped points
    in [11:00:00, 11:00:00.5)."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.operators.range_join import point_in_interval_join

    def ts(s):
        import datetime
        return datetime.datetime.fromisoformat(s)

    pts = spark.createDataFrame(
        [Row(u=1, ts=ts("2024-01-01T11:00:00.250000"), pid=1),  # in final bucket
         Row(u=1, ts=ts("2024-01-01T11:00:00.500000"), pid=2),  # == end: out
         Row(u=1, ts=ts("2024-01-01T10:59:59.999999"), pid=3)]  # in
    )
    iv = spark.createDataFrame(
        [Row(u=1, start=ts("2024-01-01T10:00:00"),
             end=ts("2024-01-01T11:00:00.500000"))]
    )
    got = {r["pid"] for r in point_in_interval_join(
        pts, iv, ["u"], "ts", "start", "end", bucket_seconds=3600
    ).collect()}
    assert got == {1, 3}


def test_kmeans_ivf_beats_signbit_at_equal_probe(spark, sf_dir):
    """s7: the learned quantizer's whole reason to exist — at equal probe
    fraction (64 cells, probe 1 both) its recall must be at least the
    data-independent sign-bit quantizer's."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.plans import registry

    (r,) = registry.QUERIES["s7_ann_recall_kmeans_vs_signbit"](spark, sf_dir).collect()
    assert r["total_true"] == r["n_queries"] * 5
    assert r["recall_kmeans"] >= r["recall_signbit"], dict(r.asDict())


def test_kmeans_centroids_deterministic_across_runs(spark, sf_dir):
    """Training must be run-to-run deterministic (hash seeding, integer
    Lloyd sums) — the property the SQL oracle depends on."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import similarity as sim
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {r["cid"]: r["c"] for r in sim.train_kmeans_centroids(emb).collect()}
    b = {r["cid"]: r["c"] for r in sim.train_kmeans_centroids(emb).collect()}
    assert a == b and len(a) > 1


def test_bmp_codec_roundtrip():
    """Pure-numpy BMP codec: encode->decode is the identity for any RGB
    array, including widths that need row padding."""
    import numpy as np

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import multimodal as mm

    rng = np.random.default_rng(7)
    for w, h in ((1, 1), (3, 2), (5, 4), (16, 12)):  # w=3,5 exercise padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(mm.decode_bmp(mm.encode_bmp(px)), px), (w, h)


def test_bmp_pixel_features_exact(spark):
    """Real pixel statistics through the Arrow seam: channel means of the
    synthesized BMPs match an independent numpy recomputation exactly."""
    import numpy as np

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import multimodal as mm
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(doc_id=i) for i in (0, 5, 17, 40)])
    media = mm.attach_bmp_media(df, "doc_id")
    got = {r["doc_id"]: r for r in mm.extract_pixel_features(media).collect()}
    for did in (0, 5, 17, 40):
        w, h = did % 16 + 1, did % 12 + 1
        px = mm._bmp_pixels_for(did, w, h)
        r = got[did]
        assert (r["width"], r["height"]) == (w, h)
        sums = px.reshape(-1, 3).astype("int64").sum(axis=0)
        assert r["mean_r"] == sums[0] / (w * h)
        assert r["mean_g"] == sums[1] / (w * h)
        assert r["mean_b"] == sums[2] / (w * h)


def test_bmp_resize_real_resample(spark):
    """backend="bmp" really resamples: decoded output pixels equal the
    nearest-neighbor index map of the source, and oversized images land
    within (max_w, max_h) preserving aspect."""
    import numpy as np

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import multimodal as mm
    from pyspark.sql import Row

    # doc 40 -> 9x5 source (40%16+1=9, 40%12+1=5): wider than 4x4 box
    df = spark.createDataFrame([Row(doc_id=40)])
    media = mm.attach_bmp_media(df, "doc_id")
    (out,) = mm.resize(media, max_w=4, max_h=4, backend="bmp").collect()
    assert out["meta"]["width"] <= 4 and out["meta"]["height"] <= 4
    src = mm._bmp_pixels_for(40, 9, 5)
    tw, th = out["meta"]["width"], out["meta"]["height"]
    ys = (np.arange(th) * src.shape[0]) // th
    xs = (np.arange(tw) * src.shape[1]) // tw
    assert np.array_equal(mm.decode_bmp(bytes(out["payload"])), src[ys][:, xs])


def test_passage_dedup_chunks_and_degenerate_docs(spark):
    """Chunk boundaries: a 33-token doc yields 3 passages (16/16/1); empty
    and whitespace-only docs yield none; identical passages across docs
    collapse to one hash with the right counts."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        dedup,
    )

    words = " ".join(f"w{i}" for i in range(33))
    shared = " ".join(f"s{i}" for i in range(16))
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=words),
            Row(doc_id=2, text=""),
            Row(doc_id=3, text="   "),
            Row(doc_id=4, text=shared),
            Row(doc_id=5, text=shared),
        ]
    )
    out = dedup.passage_dedup(df, "doc_id", "text").collect()
    # doc 1 -> 3 unique passages; docs 4+5 -> one shared passage
    assert len(out) == 4
    shared_row = [r for r in out if r.n_docs == 2]
    assert len(shared_row) == 1
    assert shared_row[0].n_copies == 2 and shared_row[0].canonical_id == 4
    assert sum(r.n_copies for r in out) == 5  # 3 + 2 passages total


def test_ngram_freq_deterministic_topk_tiebreak(spark):
    """Boundary ties resolve by gram text: with k=2 and three grams at
    count 1, the two lexicographically-smallest survive."""
    from pyspark.sql import Row

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        text as tx,
    )

    df = spark.createDataFrame(
        [Row(text="b c"), Row(text="a b"), Row(text="c d")]
    )
    out = tx.ngram_freq(df, "text", n=2, k=2).collect()
    assert sorted((r.gram, r.n_occurrences) for r in out) == [("a b", 1), ("b c", 1)]


def test_int8_rerank_cascade_never_widens_candidates(spark, sf_dir):
    """Every (query, neighbor) the cascade returns must lie in the query's
    IVF cell (candidate discipline), and ranks are 1..k dense per query."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.topk_int8_rerank(emb, emb.filter(F.col("vec_id") % 50 == 0), k=5)
    rows = out.collect()
    cells = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", sim.ivf_cell(F.col("embedding")).alias("cell")
        ).collect()
    }
    per_q = {}
    for r in rows:
        assert cells[r.query_id] == cells[r.neighbor_id]
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_fuzzy_prefix_pairs_catches_typo_variant(spark):
    """A typo-level variant of the same leading text pairs up; documents
    with different prefixes never even become candidates."""
    rows = [
        Row(doc_id=0, text=BASE),
        # typo past the 12-char block prefix: same block, 2 edits in head
        Row(doc_id=1, text=BASE.replace("jumps", "jmups")),
        Row(doc_id=2, text="zzz " + BASE),  # different first-12 chars
        Row(doc_id=3, text="short"),  # below block length, excluded
    ]
    out = dedup.fuzzy_prefix_pairs(spark.createDataFrame(rows), "doc_id", "text")
    pairs = {(r.id_a, r.id_b): r.dist for r in out.collect()}
    assert set(pairs) == {(0, 1)}
    assert 0 < pairs[(0, 1)] <= 8


def test_shuffle_shards_deterministic_and_balanced(spark):
    """Shard assignment is a pure function of the id (stable across
    partitionings) and hash-uniform (no shard more than 2x the mean)."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        export,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = export.shuffle_shards(df, "doc_id", n_shards=8)
    b = export.shuffle_shards(df.repartition(13), "doc_id", n_shards=8)
    amap = {r.doc_id: (r.shard_id, r.pos) for r in a.collect()}
    bmap = {r.doc_id: (r.shard_id, r.pos) for r in b.collect()}
    assert amap == bmap
    sizes = a.groupBy("shard_id").count().collect()
    assert len(sizes) == 8
    assert max(r["count"] for r in sizes) < 2 * (2000 / 8)


def test_pack_manifest_packs_are_contiguous_and_budget_shaped(spark):
    """Within every shard: pack ids start at 0, are contiguous, every pack
    except possibly the last crosses the budget boundary (concat-and-chunk
    semantics), and totals are preserved."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        export,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 10).alias("tok")
    )
    m = export.pack_manifest(df, "doc_id", "tok", budget=200, n_shards=4)
    rows = m.collect()
    assert sum(r.tok for r in rows) == 500 * 10 + sum(i % 97 for i in range(500))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r)
    for shard, rs in by_shard.items():
        packs = sorted({r.pack_id for r in rs})
        assert packs == list(range(len(packs)))
        # cumulative tokens entering each non-final pack must reach budget
        tot = {}
        for r in rs:
            tot[r.pack_id] = tot.get(r.pack_id, 0) + r.tok
        for p in packs[:-1]:
            assert tot[p] >= 200 - 97 - 10  # last doc may overhang the cut


def test_write_shards_layout_sorted_within_each_shard(spark, tmp_path):
    """The physical export: one directory per shard, rows inside each shard
    file in shuffle-position order."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        export,
    )

    df = spark.range(300).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "shards")
    export.write_shards(df, path, "doc_id", n_shards=4)
    out = spark.read.parquet(path)
    assert out.count() == 300
    assert out.select("shard_id").distinct().count() == 4
    import glob as g
    import pyarrow.parquet as pq

    for d in g.glob(f"{path}/shard_id=*"):
        for f in g.glob(f"{d}/*.parquet"):
            pos = pq.read_table(f, columns=["pos"]).column("pos").to_pylist()
            assert pos == sorted(pos)


# ---------------------------------------------------------------------------
# r5: temperature mixture, random projection, z-order layout
# ---------------------------------------------------------------------------


def test_temperature_rebalance_flattens_the_mixture(spark):
    """A 10:1 skewed two-domain corpus rebalanced at alpha=0.5 must keep a
    higher FRACTION of the minority domain than of the majority one, and
    membership must be partitioning-invariant."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        sampling,
    )

    df = spark.range(1100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "web").otherwise("books").alias("domain"),
    )
    kept = sampling.temperature_rebalance(df, "domain", "doc_id", 500)
    frac = {
        r.domain: r.kept / r.total
        for r in kept.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("kept"))
        .join(
            df.groupBy("domain").agg(F.count(F.lit(1)).alias("total")), "domain"
        )
        .collect()
    }
    assert frac["books"] > frac["web"]
    # ~half the corpus kept overall (hash sampling: binomial tolerance)
    total_kept = kept.count()
    assert 400 < total_kept < 700
    # deterministic under repartitioning
    kept2 = sampling.temperature_rebalance(df.repartition(7), "domain", "doc_id", 500)
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == sorted(
        r.doc_id for r in kept2.select("doc_id").collect()
    )


def test_temperature_rates_cap_at_full_keep(spark):
    """A domain so small its flattened share exceeds its size keeps 100%
    (rate capped at DENOM), never oversamples."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        sampling,
    )

    df = spark.range(1005).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "web").otherwise("rare").alias("domain"),
    )
    rates = {
        r.domain: r.rate_mille
        for r in sampling.temperature_rates(df, "domain", 900).collect()
    }
    assert rates["rare"] == 1000
    assert rates["web"] < 1000


def test_random_projection_matches_numpy(spark):
    """The Spark projection equals the numpy matmul with the same weight
    matrix, and wrong-cardinality vectors are dropped."""
    import numpy as np

    vecs = [
        [float(((i * 7 + k * 3) % 11) - 5) / 4 for i in range(64)] for k in range(5)
    ]
    rows = [Row(vec_id=k, embedding=v) for k, v in enumerate(vecs)]
    rows.append(Row(vec_id=99, embedding=[1.0, 2.0]))  # wrong dim: dropped
    df = spark.createDataFrame(rows)
    out = {
        r.vec_id: [r[f"p{j}"] for j in range(8)]
        for r in similarity.random_projection(df).collect()
    }
    assert 99 not in out and len(out) == 5
    W = np.array(
        [[similarity._proj_weight(i, j) for j in range(8)] for i in range(64)],
        dtype=np.float64,
    )
    for k, v in enumerate(vecs):
        expect = np.float32(v).astype(np.float64) @ W
        assert np.allclose(out[k], expect, rtol=1e-12)


def test_morton_bucket_locality(spark):
    """Every z-order bucket covers a bounded square: d1/d2 spans <= 16 for
    8-bit dims bucketed by the top 8 morton bits — the row-group-stats
    locality claim. A d1-sorted layout on the same grid spans all of d2."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        layout,
    )

    grid = spark.range(256 * 256).select(
        (F.col("id") / 256).cast("int").alias("d1"),
        (F.col("id") % 256).cast("int").alias("d2"),
    )
    spans = (
        grid.select(
            layout.zorder_bucket(F.col("d1"), F.col("d2")).alias("bucket"),
            "d1",
            "d2",
        )
        .groupBy("bucket")
        .agg(
            (F.max("d1") - F.min("d1")).alias("s1"),
            (F.max("d2") - F.min("d2")).alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert len(spans) == 256
    for r in spans:
        assert r.s1 <= 15 and r.s2 <= 15 and r.n == 256


def test_write_zordered_prunes_on_both_dims(spark, tmp_path):
    """The physical z-ordered layout: parquet row-group stats must let a
    selective filter on EITHER dimension skip most files."""
    import glob as g

    import pyarrow.parquet as pq

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        layout,
    )

    grid = spark.range(256 * 256).select(
        (F.col("id") / 256).cast("int").alias("d1"),
        (F.col("id") % 256).cast("int").alias("d2"),
    )
    path = str(tmp_path / "zorder")
    layout.write_zordered(grid, path, "d1", "d2", n_files=16)

    def files_containing(col, val):
        hits = 0
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            for rg in range(md.num_row_groups):
                idx = next(
                    i for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                st = md.row_group(rg).column(idx).statistics
                if st.min <= val <= st.max:
                    hits += 1
                    break
        return hits

    n_files = len(g.glob(f"{path}/*.parquet"))
    assert n_files >= 8
    # a point predicate on either dim must prune at least half the files
    assert files_containing("d1", 7) <= n_files / 2
    assert files_containing("d2", 7) <= n_files / 2


def test_doc_chunking_overlap_and_short_doc(spark):
    """Chunk invariants: a doc shorter than one window yields exactly one
    full-coverage chunk; long docs produce stride-24 windows where
    consecutive chunks overlap by exactly CHUNK_WORDS - CHUNK_STRIDE
    words, and every word of the doc appears in some chunk."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.plans.registry import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
        x28_doc_chunking,
    )
    import tempfile

    words = [f"w{i}" for i in range(80)]
    rows = [
        (1, " ".join(words), "en", "src0", 400),
        (2, "tiny doc only", "en", "src0", 13),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(f"{d}/documents.parquet")
        out = x28_doc_chunking(spark, d).collect()

    short = [r for r in out if r.doc_id == 2]
    assert len(short) == 1 and short[0].n_words == 3
    assert short[0].chunk_text == "tiny doc only"

    long_chunks = sorted((r for r in out if r.doc_id == 1), key=lambda r: r.chunk_idx)
    # 80 words, stride 24 -> starts 0,24,48,72
    assert [r.start_word for r in long_chunks] == [0, 24, 48, 72]
    assert [r.n_words for r in long_chunks] == [32, 32, 32, 8]
    overlap = CHUNK_WORDS - CHUNK_STRIDE
    for a, b in zip(long_chunks, long_chunks[1:]):
        a_w, b_w = a.chunk_text.split(" "), b.chunk_text.split(" ")
        if len(a_w) == CHUNK_WORDS:
            assert a_w[-overlap:] == b_w[:overlap]
    covered = {w for r in long_chunks for w in r.chunk_text.split(" ")}
    assert covered == set(words)


def test_variant_get_null_on_missing_path(spark):
    """try_variant_get on an absent path is NULL, matching the oracle's
    ->> semantics; the typed path extraction round-trips exact ints."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"k": 42}'), (2, '{"k": 7, "extra": "x"}')], "event_id long, props string"
    )
    v = F.parse_json(F.col("props"))
    out = df.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "string").alias("m"),
    ).collect()
    assert {(r.event_id, r.k, r.m) for r in out} == {(1, 42, None), (2, 7, None)}


def test_triangle_count_exact_tiny_graph(spark):
    """Degree-ordered triangle enumeration pins exact per-node counts on a
    hand-built graph: orders 1/10 make the triangle {1,2,3}, orders 2/20
    add a dangling edge 3-4 (no triangle), orders 3/30 close {2,3,4}
    making a second triangle. Every pair co-occurs in two orders so it
    passes the support >= 2 threshold; order 4's one-off pair {1,4} has
    support 1 and must be dropped by it (it would otherwise create two
    more triangles)."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.plans.registry import (
        g8_triangle_count,
    )
    import tempfile

    rows = [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4), (3, 2), (3, 4),
            (10, 1), (10, 2), (10, 3), (20, 3), (20, 4), (30, 2), (30, 4),
            (4, 1), (4, 4)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.parquet(f"{d}/lineitem.parquet")
        out = {r.node: r.n_tri for r in g8_triangle_count(spark, d).collect()}
    # triangles: {1,2,3} and {2,3,4}
    assert out == {1: 1, 2: 2, 3: 2, 4: 1}


def test_record_linkage_resolves_corrupted_name(spark):
    """A vowel-stripped query resolves back to its own catalog row when the
    adjective is unique within the block."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.plans.registry import (
        j9_record_linkage,
    )
    import tempfile

    rows = [
        (0, "small ring", "M1", "B1", "T1", 1.0),
        (50, "red widget", "M1", "B1", "T1", 1.0),
        (100, "rusty bolt", "M1", "B1", "T1", 1.0),
        (3, "round gear", "M1", "B1", "T1", 1.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "p_partkey long, p_name string, p_mfgr string, p_brand string,"
            " p_type string, p_retailprice double",
        ).write.parquet(f"{d}/part.parquet")
        out = {r.query_key: r for r in j9_record_linkage(spark, d).collect()}
    # queries are keys % 50 == 0: parts 0, 50, 100
    assert set(out) == {0, 50, 100}
    assert out[0].matched_key == 0 and out[0].dirty_name == "smll rng"
    assert out[50].matched_key == 50
    assert out[100].matched_key == 100


def test_ivfpq_adc_agreement_with_exact_l2_within_probe(spark):
    """PQ quality, measured where PQ is responsible: within the probed
    candidate set, ADC top-5 must largely agree with exact squared-L2
    top-5 (the coarse sign-bit stage bounds RECALL for s2 and s12 alike
    — that ceiling is s7's documented story, not PQ's). Everything is
    deterministic, so the agreement is pinned exactly: 39 of 48 pairs
    (81%) at sf0.01, at 64x corpus-memory compression."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        similarity as S,
    )
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.sources.batch import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    qq = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        S.ivf_cell(F.col("embedding")).alias("cell"),
    )
    cc = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        S.ivf_cell(F.col("embedding")).alias("cell"),
    )
    l2 = (
        S.dot(F.col("qe"), F.col("qe"))
        - 2 * S.dot(F.col("qe"), F.col("ce"))
        + S.dot(F.col("ce"), F.col("ce"))
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = (
        qq.join(cc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d", l2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    pq = S.topk_ivfpq_adc(emb, q, k=5).select("query_id", "neighbor_id")
    tot = exact.count()
    agree = exact.join(pq, ["query_id", "neighbor_id"]).count()
    assert tot == 48
    assert agree == 39


def test_pq_combined_training_equals_per_subspace_reference(spark):
    """The combined-pass codebook trainer must produce centroids
    bit-identical to running train_kmeans_centroids once per subspace
    slice (the shape the oracle SQL replicates) — slicing commutes with
    quantization and per-dimension Lloyd means, and the seed hash ignores
    the embedding, so the two constructions are the same math."""
    from pyspark.sql import functions as F

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        similarity as S,
    )
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.sources.batch import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    combined = {
        (r.m, r.cid): tuple(r.c) for r in S.train_pq_codebooks(emb).collect()
    }
    reference = {}
    for m in range(S.PQ_M):
        sub = emb.select(
            "vec_id",
            F.slice(F.col("embedding"), m * S.SUB_DIM + 1, S.SUB_DIM).alias("sube"),
        )
        cents = S.train_kmeans_centroids(
            sub, k=S.PQ_KSUB, iters=S.KM_ITERS, id_col="vec_id", emb_col="sube"
        )
        # apply the same order-preserving dense relabel train_pq_codebooks
        # applies (_densify_cids) so the comparison is cid-gap-proof
        for dense, r in enumerate(
            sorted(cents.collect(), key=lambda r: r.cid), start=1
        ):
            reference[(m, dense)] = tuple(r.c)
    assert combined == reference
    assert len(combined) > 0


def test_densify_cids_renumbers_sparse_codebooks(spark):
    """_densify_cids must relabel per-subspace cids to contiguous 1..n
    while preserving order (so (cost, cid) tie-breaks are unchanged)."""
    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        similarity as S,
    )

    sparse = spark.createDataFrame(
        [
            (0, 1, [1.0]), (0, 3, [2.0]), (0, 9, [3.0]),
            (1, 2, [4.0]), (1, 16, [5.0]),
        ],
        "m int, cid int, c array<double>",
    )
    got = {
        (r.m, r.cid): r.c[0]
        for r in S._densify_cids(sparse).collect()
    }
    assert got == {
        (0, 1): 1.0, (0, 2): 2.0, (0, 3): 3.0,
        (1, 1): 4.0, (1, 2): 5.0,
    }


def _pq_degenerate_corpus():
    """Build a corpus whose PQ training drops a MID-GAP cluster: seed
    ranks 1,2 are kind A (duplicate centroids -> rank-2 empty), rank 3 is
    kind B, everything else A. Pre-densify survivors were {1, 3} -- the
    exact non-contiguous-cid case where positional ADC (lut[m][code[m]])
    reads the wrong centroid or (Spark 4 ANSI) throws
    ARRAY_INDEX_OUT_OF_BOUNDS. Replicates the engine's own hash gates in
    pure Python so the construction is deterministic."""
    import hashlib

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        similarity as S,
    )

    def phash60(s: str, seed: str) -> int:
        return int(hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:15], 16)

    ids = list(range(200))
    sampled = [i for i in ids if phash60(str(i), "km-sample") % S.KM_SAMPLE_MOD == 0]
    assert len(sampled) >= S.PQ_KSUB + 4
    seeds = sorted(sampled, key=lambda i: (phash60(str(i), "km-seed"), i))[: S.PQ_KSUB]
    dims = S.PQ_M * S.SUB_DIM
    kind_a = [0.5] * dims                      # same cell (all-positive signs)
    kind_b = [0.5] * (dims // 2) + [0.9] * (dims // 2)  # differs in m=2,3 only
    b_ids = {seeds[2]}
    return [
        (i, kind_b if i in b_ids else kind_a) for i in ids
    ]


def test_ivfpq_adc_survives_empty_pq_cluster(spark, tmp_path):
    """End-to-end IVF-PQ on the degenerate corpus: training must yield
    DENSE per-subspace cids, serving must not throw, and the DuckDB oracle
    twin must agree row-for-row (cross-engine, including the relabel)."""
    import duckdb

    from a_big_data_lambda_architecture_for_real_time_stock_price_forecasting_using_financial_news_spark.ext import (
        similarity as S,
    )

    rows = _pq_degenerate_corpus()
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    books = S.train_pq_codebooks(emb)
    per_m = {}
    for r in books.collect():
        per_m.setdefault(r.m, []).append(r.cid)
    for m, cids in per_m.items():
        assert sorted(cids) == list(range(1, len(cids) + 1)), (m, cids)
    # the degenerate construction really did drop a cluster somewhere
    assert any(len(c) < S.PQ_KSUB for c in per_m.values()), per_m

    got = (
        S.topk_ivfpq_adc(emb, emb.filter(F.col("vec_id") % 50 == 0), k=3)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert got, "degenerate corpus produced no neighbors"

    path = str(tmp_path / "pqdeg.parquet")
    emb.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW pqdeg AS SELECT * FROM '{path}/*.parquet'")
    want = con.execute(
        S.topk_ivfpq_adc_sql("pqdeg", "vec_id % 50 = 0", k=3)
        + " ORDER BY query_id, rank"
    ).fetchall()
    assert [
        (r.query_id, r.neighbor_id, r.adc_dist, r.rank) for r in got
    ] == [tuple(w) for w in want]


def test_substring_spans_resyncs_after_edit(spark):
    """d18's content-defined boundaries must RE-SYNCHRONIZE after an
    insertion: doc 11 = doc 10 with one word injected near the front, so
    fixed-window passages would lose every fingerprint after the edit,
    but CDC chunks recover — a long shared span over the untouched tail
    must still surface (on a shifted diagonal when the insertion adds a
    boundary, diagonal 0 otherwise)."""
    base_toks = [f"word{i}" for i in range(80)]
    edited = base_toks[:5] + ["inserted"] + base_toks[5:]
    rows = [
        Row(doc_id=10, text=" ".join(base_toks), lang="en", source="s"),
        Row(doc_id=11, text=" ".join(edited), lang="en", source="s"),
    ]
    out = dedup.substring_spans(spark.createDataFrame(rows)).collect()
    assert out, "no shared span found after a single-word insertion"
    best = max(out, key=lambda r: r.span_toks)
    assert best.doc_a == 10 and best.doc_b == 11
    # the tail after the edit is 75 shared tokens; at least the portion
    # after the next chunk boundary must be recovered
    assert best.span_toks >= 40


def test_substring_spans_df_cap_drops_boilerplate(spark):
    """Chunks shared by more than df_cap docs are boilerplate and must
    NOT pair up (x36's corpus-wide report owns that signal): 12 docs
    carrying the same license block produce no spans at cap 8, and the
    same corpus passes with cap 16."""
    block = " ".join(f"lic{i}" for i in range(40))
    rows = [
        Row(doc_id=i, text=block, lang="en", source="s") for i in range(12)
    ]
    df = spark.createDataFrame(rows)
    assert dedup.substring_spans(df, df_cap=8).count() == 0
    assert dedup.substring_spans(df, df_cap=16).count() == 12 * 11 // 2


def test_semantic_dedup_salted_verdicts_identical_under_skew(spark):
    """d17's skewed-cell salting is a PHYSICAL rewrite only: a corpus
    with one giant near-duplicate blob (everything lands in one k-means
    cell) must produce the identical (vec_id, cid, kept, dup_of) rows
    whether the hot cell salts into sub-blocks or not."""
    rows = [
        Row(vec_id=i, embedding=[1.0, 0.01 * (i % 7)], label=0)
        for i in range(120)
    ] + [
        Row(vec_id=1000 + i, embedding=[-1.0, float(i)], label=1)
        for i in range(6)
    ]
    df = spark.createDataFrame(rows)
    unsalted = sorted(
        map(tuple, similarity.semantic_dedup(df, salt_cell=10**9).collect())
    )
    salted = sorted(
        map(tuple, similarity.semantic_dedup(df, salt_cell=16, salt_b=4).collect())
    )
    assert salted == unsalted
    assert any(r[2] == 0 for r in salted), "blob produced no removals"


def test_semantic_dedup_salted_pair_join_keys_on_block(spark):
    """Plan pin for the salting: with a forced-low threshold the pair
    join's key set includes the salt block alongside the cell id, and the
    block map rides a broadcast (never a corpus-keyed shuffle)."""
    rows = [
        Row(vec_id=i, embedding=[1.0, 0.1 * (i % 5)], label=0) for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    out = similarity.semantic_dedup(df, salt_cell=8, salt_b=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "blk" in plan, "salt block column absent from the physical plan"
    assert "CartesianProduct" not in plan


def test_incremental_semdedup_plan_salts_and_prunes(spark):
    """d22 plan pins: the probe inherits d17's salting (salt block in
    the pair-join key set under a forced-low threshold), the store side
    is pruned by a BROADCAST touched-cell join (never a corpus-keyed
    shuffle of the store against the batch), and the only nested-loop
    is the <=k-row broadcast centroid assignment — no CartesianProduct,
    no Python in the plan."""
    rows = [
        Row(vec_id=i, embedding=[1.0, 0.1 * (i % 5)], label=0) for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    old = df.filter(F.col("vec_id") % 5 != 0)
    new = df.filter(F.col("vec_id") % 5 == 0)
    cents = similarity.train_kmeans_centroids(old)
    stored = similarity._sem_cells(old, cents)
    out = similarity.incremental_semantic_dedup(
        stored, new, cents, salt_cell=8, salt_b=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "blk" in plan, "salt block column absent from the physical plan"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # touched-cell prune: at least two broadcast joins (centroid assign
    # + the touched-cell list); the store never range-partitions
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "rangepartitioning" not in plan.lower()


def test_substring_exact_bounds_plan_is_equi_only(spark):
    """d23 plan pins: the four edge-chunk probes are LEFT equi-joins on
    (doc_id, cidx) — no cartesian, no nested loop, no Python — and the
    suffix/prefix compares stay in JVM array expressions."""
    rows = [
        Row(doc_id=i, text=" ".join(f"tok{j}" for j in range(60)),
            lang="en", source="s")
        for i in range(4)
    ]
    out = dedup.substring_spans_exact(spark.createDataFrame(rows))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_incremental_substring_probe_equals_full_restriction(spark):
    """d21's equivalence contract on a planted corpus: the probe of a
    new batch against the stored chunk table equals the full
    substring_spans run restricted to pairs touching a new doc — and
    old-old spans are genuinely absent from the probe."""
    base = [f"tok{i}" for i in range(60)]
    rows = [
        Row(doc_id=1, text=" ".join(base), lang="en", source="s"),        # old
        Row(doc_id=2, text=" ".join(base), lang="en", source="s"),        # old
        Row(doc_id=5, text=" ".join(base[:40]), lang="en", source="s"),   # new
        Row(doc_id=10, text=" ".join(f"z{i}" for i in range(40)),
            lang="en", source="s"),                                        # new
    ]
    df = spark.createDataFrame(rows)
    old = df.filter(F.col("doc_id") % 5 != 0)
    new = df.filter(F.col("doc_id") % 5 == 0)
    probe = sorted(
        map(tuple, dedup.incremental_substring_spans(
            dedup._chunk_fps(old), new).collect())
    )
    full = dedup.substring_spans(df)
    want = sorted(
        map(tuple, full.filter(
            (F.col("doc_a") % 5 == 0) | (F.col("doc_b") % 5 == 0)
        ).collect())
    )
    assert probe == want and probe, "probe must find the new-old spans"
    # the old-old pair (1,2) shares the whole doc but must NOT re-emerge
    assert all(not (a == 1 and b == 2) for (a, b, *_rest) in probe)


def test_substring_exact_bounds_reconciles_with_d18(spark):
    """d23's reconciliation contract on a half-shared-edge corpus: the
    candidate set is exactly d18's spans, and per row start_a =
    d18.start_a - ext_left, span_toks = d18.span_toks + ext_left +
    ext_right, ext >= 0. The planted pair shares a region whose edges
    fall MID-CHUNK on both sides (different prefixes/suffixes), so the
    refinement must recover tokens d18's chunk alignment dropped."""
    base = [f"tok{i}" for i in range(80)]
    rows = [
        Row(doc_id=1, text=" ".join(["aaa", "bbb"] + base + ["ccc"]),
            lang="en", source="s"),
        Row(doc_id=2, text=" ".join(["xx", "yy", "zz"] + base + ["qq", "rr"]),
            lang="en", source="s"),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40)),
            lang="en", source="s"),
    ]
    df = spark.createDataFrame(rows)
    plain = {
        (r.doc_a, r.doc_b): r for r in dedup.substring_spans(df).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r
        for r in dedup.substring_spans_exact(df).collect()
    }
    assert set(exact) == set(plain) == {(1, 2)}
    p, e = plain[(1, 2)], exact[(1, 2)]
    assert e.ext_left >= 0 and e.ext_right >= 0
    assert e.start_a == p.start_a - e.ext_left
    assert e.start_b == p.start_b - e.ext_left
    assert e.span_toks == p.span_toks + e.ext_left + e.ext_right
    assert e.n_chunks == p.n_chunks
    # token-exact: the shared region is all 80 base tokens, starting
    # right after doc 1's 2-token and doc 2's 3-token private prefixes
    assert (e.start_a, e.start_b, e.span_toks) == (3, 4, 80)
    # and d18 alone really had dropped edge tokens (the refinement is
    # not vacuous on this corpus)
    assert e.ext_left > 0 and e.ext_right > 0


def test_substring_exact_bounds_stops_at_doc_edges(spark):
    """Spans flush with document start/end have no neighbor chunks: both
    extensions must be 0 (the empty-array arm that caught the DuckDB
    list_position convention) — identical docs reconcile with d18
    exactly and keep the whole-doc span unchanged."""
    shared = " ".join(f"tok{i}" for i in range(60))
    rows = [
        Row(doc_id=1, text=shared, lang="en", source="s"),
        Row(doc_id=2, text=shared, lang="en", source="s"),
    ]
    df = spark.createDataFrame(rows)
    (e,) = dedup.substring_spans_exact(df).collect()
    (p,) = dedup.substring_spans(df).collect()
    assert (e.ext_left, e.ext_right) == (0, 0)
    assert (e.doc_a, e.doc_b, e.start_a, e.start_b, e.n_chunks, e.span_toks) == (
        p.doc_a, p.doc_b, p.start_a, p.start_b, p.n_chunks, p.span_toks,
    )


def test_substring_spans_delta_replays_to_batch_truth(spark):
    """t30's core contract, batch-sequential: applying
    substring_spans_delta's replace-by-pair step per arriving batch
    reconstructs substring_spans(corpus-so-far) EXACTLY at every step —
    including the non-monotone arm where batch 3's extra copies push the
    shared block's ndocs over df_cap and all its OLD-OLD spans must be
    RETROACTIVELY REMOVED, while an untouched dup pair (100, 101) passes
    through every step unchanged."""
    block = [f"lic{i}" for i in range(40)]
    other = [f"dup{i}" for i in range(50)]

    def doc(i, toks):
        return Row(doc_id=i, text=" ".join(toks), lang="en", source="s")

    batches = [
        # 4 block carriers (each with a unique tail) + the stable dup pair
        [doc(i, block + [f"tail{i}x{j}" for j in range(5)]) for i in range(4)]
        + [doc(100, other), doc(101, other)],
        # 3 more carriers: ndocs=7, still inside the gate — more spans
        [doc(i, block + [f"tail{i}x{j}" for j in range(5)]) for i in range(4, 7)],
        # 4 more: ndocs=11 > 8 — every block span must vanish
        [doc(i, block + [f"tail{i}x{j}" for j in range(5)]) for i in range(7, 11)],
    ]
    seen: list = []
    view: list = []
    all_fps = None
    for rows in batches:
        bdf = spark.createDataFrame(rows)
        new_fps = dedup._chunk_fps(bdf)
        all_fps = (
            new_fps
            if all_fps is None
            else all_fps.unionByName(new_fps)
        )
        vp = (
            spark.createDataFrame(
                [(a, b) for (a, b, *_r) in view], "doc_a long, doc_b long"
            )
            if view
            else None
        )
        affected, recomputed = dedup.substring_spans_delta(all_fps, new_fps, vp)
        aff = {(r.doc_a, r.doc_b) for r in affected.collect()}
        view = [r for r in view if (r[0], r[1]) not in aff] + sorted(
            map(tuple, recomputed.collect())
        )
        seen.extend(rows)
        truth = sorted(
            map(tuple, dedup.substring_spans(spark.createDataFrame(seen)).collect())
        )
        assert sorted(view) == truth, f"diverged after batch of {len(rows)} docs"
    # end state: the block's spans are gone, the dup pair's span remains
    pairs_left = {(a, b) for (a, b, *_r) in view}
    assert (100, 101) in pairs_left
    assert all(a == 100 for (a, _b) in pairs_left), (
        "df_cap crossing must have retroactively removed all block spans"
    )


@pytest.mark.soak
def test_substring_ndocs_store_equals_recompute_across_batches(spark):
    """The amortized df-count store (r12 verdict item 3): maintaining the
    per-hash ndocs table via ndocs_delta + merge_ndocs across arriving
    batches equals the corpus-wide count_distinct recompute at EVERY
    step — including the batch that pushes the shared block's ndocs over
    df_cap (the non-monotone gate crossing) — and feeding the stored
    table into substring_spans_delta via ``dfreq`` reproduces the
    recompute path's (affected, recomputed) output exactly. A replayed
    document (same doc's fingerprints arriving twice) contributes a zero
    delta: the first-seen contract."""
    block = [f"lic{i}" for i in range(40)]
    other = [f"dup{i}" for i in range(50)]

    def doc(i, toks):
        return Row(doc_id=i, text=" ".join(toks), lang="en", source="s")

    batches = [
        [doc(i, block + [f"tail{i}x{j}" for j in range(5)]) for i in range(4)]
        + [doc(100, other), doc(101, other)],
        [doc(i, block + [f"tail{i}x{j}" for j in range(5)]) for i in range(4, 7)],
        # crossing: ndocs 7 -> 11 > 8, every block span must vanish
        [doc(i, block + [f"tail{i}x{j}" for j in range(5)]) for i in range(7, 11)],
    ]
    stored_fps = None
    ndocs = None
    view: list = []
    for rows in batches:
        bdf = spark.createDataFrame(rows)
        new_fps = dedup._chunk_fps(bdf)
        ndocs = dedup.merge_ndocs(ndocs, dedup.ndocs_delta(stored_fps, new_fps))
        all_fps = (
            new_fps if stored_fps is None else stored_fps.unionByName(new_fps)
        )
        # store == corpus-wide recompute, exactly, at every step
        want_counts = sorted(
            map(
                tuple,
                all_fps.groupBy("chunk_hash")
                .agg(F.count_distinct("doc_id").alias("ndocs"))
                .collect(),
            )
        )
        assert sorted(map(tuple, ndocs.collect())) == want_counts
        vp = (
            spark.createDataFrame(
                [(a, b) for (a, b, *_r) in view], "doc_a long, doc_b long"
            )
            if view
            else None
        )
        aff_s, rec_s = dedup.substring_spans_delta(
            all_fps, new_fps, vp, dfreq=ndocs
        )
        aff_r, rec_r = dedup.substring_spans_delta(all_fps, new_fps, vp)
        assert sorted(map(tuple, aff_s.collect())) == sorted(
            map(tuple, aff_r.collect())
        )
        got = sorted(map(tuple, rec_s.collect()))
        assert got == sorted(map(tuple, rec_r.collect()))
        aff = {(r.doc_a, r.doc_b) for r in aff_s.collect()}
        view = [r for r in view if (r[0], r[1]) not in aff] + got
        stored_fps = all_fps
    # replayed DATA (not a replayed batch id): zero contribution
    redup = dedup._chunk_fps(spark.createDataFrame(batches[0]))
    assert dedup.ndocs_delta(stored_fps, redup).count() == 0
    # the maintained view still matches the full batch recompute
    seen = [r for rows in batches for r in rows]
    truth = sorted(
        map(tuple, dedup.substring_spans(spark.createDataFrame(seen)).collect())
    )
    assert sorted(view) == truth


def test_merged_ndocs_read_view_equals_merge_ndocs(spark):
    """merged_ndocs (the broadcast-friendly gate-read shape: untouched
    store anti-joined against the batch's hash set union a batch-sized
    touched merge) must equal merge_ndocs (the full-outer maintenance
    shape) row-for-row — across overlapping, store-only, and delta-only
    hashes, and with a None store. Also pins the plan claim: the store
    side of the read view must carry NO SortMergeJoin (the corpus-wide
    shuffle the view exists to avoid) — its joins against the batch hash
    set broadcast."""
    cur = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 8)], "chunk_hash long, ndocs long"
    )
    delta = spark.createDataFrame(
        [(2, 2), (4, 5)], "chunk_hash long, ndocs long"
    )
    got = sorted(map(tuple, dedup.merged_ndocs(cur, delta).collect()))
    want = sorted(map(tuple, dedup.merge_ndocs(cur, delta).collect()))
    assert got == want == [(1, 3), (2, 3), (3, 8), (4, 5)]
    none_got = sorted(map(tuple, dedup.merged_ndocs(None, delta).collect()))
    assert none_got == sorted(map(tuple, delta.collect()))
    # the only SMJ allowed is the batch-hash-sized touched merge
    # (full-outer can't broadcast); the corpus-sized anti/semi probes must
    # be broadcast joins
    plan = dedup.merged_ndocs(cur, delta)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_incremental_substring_spans_with_stored_counts_is_identical(spark):
    """d21's probe with the stored per-hash ndocs table passed via
    ``dfreq`` equals the recompute path row-for-row — the store is a pure
    substitution for the corpus-wide aggregate (same gate, same spans)."""
    shared = " ".join(f"tok{i}" for i in range(60))
    rows = [
        Row(doc_id=1, text=shared, lang="en", source="s"),
        Row(doc_id=2, text=shared + " extra tail tokens here", lang="en", source="s"),
        Row(doc_id=5, text=shared, lang="en", source="s"),
        Row(doc_id=3, text=" ".join(f"zzz{i}" for i in range(60)), lang="en", source="s"),
    ]
    df = spark.createDataFrame(rows)
    old = df.filter(F.col("doc_id") % 5 != 0)
    new = df.filter(F.col("doc_id") % 5 == 0)
    old_fps = dedup._chunk_fps(old)
    counts = dedup.merge_ndocs(
        old_fps.groupBy("chunk_hash").agg(
            F.count_distinct("doc_id").alias("ndocs")
        ),
        dedup.ndocs_delta(old_fps, dedup._chunk_fps(new)),
    )
    got = sorted(
        map(
            tuple,
            dedup.incremental_substring_spans(old_fps, new, dfreq=counts).collect(),
        )
    )
    want = sorted(
        map(tuple, dedup.incremental_substring_spans(old_fps, new).collect())
    )
    assert got == want and got


def test_incremental_semdedup_probe_equals_full_restriction(spark):
    """d22's equivalence contract on a planted corpus: probing a new
    batch against the stored cell table (frozen centroids) equals the
    FULL within-cell pair relation under the same centroids restricted
    to pairs touching a new vector, min-grouped per victim — i.e. the
    touched-cell pruning, probe orientation, and salting lose nothing.
    Planted facts: a new copy of an old vector (new-old pair), two new
    copies of each other (new-new pair kept once), an old-old duplicate
    pair that must NOT re-emerge, a zero-norm new vector (dropped), and
    a small-id new arrival evicting a larger-id OLD vector."""
    import math

    def vec(theta):
        return [float(math.cos(theta)), float(math.sin(theta)), 0.0]

    rows = [
        Row(vec_id=1, embedding=vec(0.0), label=0),     # old
        Row(vec_id=2, embedding=vec(0.01), label=0),    # old dup of 1 (old-old)
        Row(vec_id=3, embedding=vec(1.2), label=0),     # old, near 5's arrival
        Row(vec_id=5, embedding=vec(0.005), label=0),   # new dup of 1 and 2
        Row(vec_id=10, embedding=vec(0.006), label=0),  # new dup of 1/2/5
        Row(vec_id=15, embedding=[0.0, 0.0, 0.0], label=0),  # new zero-norm
        Row(vec_id=0, embedding=vec(1.21), label=0),    # new, evicts OLD 3
    ]
    df = spark.createDataFrame(rows)
    old = df.filter(F.col("vec_id") % 5 != 0).filter(
        similarity._nonzero_vec("embedding")
    )
    new = df.filter(F.col("vec_id") % 5 == 0)
    cents = similarity.train_kmeans_centroids(old)
    stored = similarity._sem_cells(old, cents)
    got = sorted(
        map(
            tuple,
            similarity.incremental_semantic_dedup(stored, new, cents).collect(),
        )
    )
    # salting must not change the verdict set (pair coverage is exact)
    salted = sorted(
        map(
            tuple,
            similarity.incremental_semantic_dedup(
                stored, new, cents, salt_cell=2, salt_b=3
            ).collect(),
        )
    )
    assert got == salted

    # reference: full pair relation under the SAME frozen centroids,
    # restricted to pairs touching a new vector, min-grouped per victim
    cells_all = similarity._sem_cells(
        df.filter(similarity._nonzero_vec("embedding")), cents
    )
    a = cells_all.select(
        F.col("vec_id").alias("id_a"),
        F.col("cid").alias("cid"),
        F.col("e").alias("e_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = cells_all.select(
        F.col("vec_id").alias("id_b"),
        F.col("cid").alias("cid"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("nrm_b"),
    )
    want = sorted(
        map(
            tuple,
            a.join(b, "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "score",
                similarity.dot(F.col("e_a"), F.col("e_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
            )
            .filter(F.col("score") >= similarity.SEM_TAU)
            .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
            .groupBy(F.col("id_b").alias("vec_id"), "cid")
            .agg(
                F.min("id_a").cast("bigint").alias("dup_of"),
                F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            )
            .select(
                F.col("vec_id").cast("bigint"),
                F.col("cid").cast("int"),
                "dup_of",
                "n_dups",
            )
            .collect(),
        )
    )
    assert got == want and got, "probe must find the new-touching pairs"
    victims = {r[0] for r in got}
    assert 15 not in victims, "zero-norm new vector must be dropped"
    assert 3 in victims, "small-id arrival (0) must evict larger-id OLD 3"
    assert all(v != 2 or d != 1 for (v, _c, d, _n) in got) or (
        # old victim 2's delta row may exist only via a NEW partner
        all(d % 5 == 0 for (v, _c, d, _n) in got if v == 2)
    ), "old-old pair (1,2) must not re-emerge as a 1->2 delta"
