"""Hashed linear quality classifier — Spark vs DuckDB twin vs independent
Python reference, strategy equivalence, plan purity, invariances."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from sequila_native_spark.functions.classify import (
    classify_documents,
    gram_array,
    quality_score_py,
    score_documents,
    score_documents_sql,
    synthetic_quality_weights,
    synthetic_quality_weights_sql,
    synthetic_weights_py,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown cat sleeps"),
    (3, ""),
    (4, "   "),
    (5, "solo"),
    (6, "a  double  space and nbsp stays one token"),
    (7, "numbers 123 and punct-uation! mix"),
    (8, "repeat repeat repeat repeat"),
]
BUCKETS = 128
SEED = 11
WSEED = 5


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


@pytest.fixture(scope="module")
def weights(spark):
    return synthetic_quality_weights(spark, BUCKETS, WSEED)


def _expected(word_ngrams=2):
    w = synthetic_weights_py(BUCKETS, WSEED)
    return {
        i: quality_score_py(
            t, w, buckets=BUCKETS, seed=SEED, word_ngrams=word_ngrams
        )
        for i, t in DOCS
    }


def _spark_scores(corpus, weights, **kw):
    out = score_documents(
        corpus, weights, buckets=BUCKETS, seed=SEED, **kw
    )
    return {r["doc_id"]: (r["n_grams"], r["score_milli"]) for r in out.collect()}


def test_scores_match_python_reference(corpus, weights):
    assert _spark_scores(corpus, weights) == _expected()


def test_scores_match_python_reference_unigram(corpus, weights):
    assert _spark_scores(corpus, weights, word_ngrams=1) == _expected(1)


def test_inline_equals_broadcast(corpus, weights):
    assert _spark_scores(corpus, weights, strategy="inline") == _spark_scores(
        corpus, weights, strategy="broadcast"
    )


@pytest.mark.parametrize("word_ngrams", [1, 2])
def test_arrow_equals_broadcast(corpus, weights, word_ngrams):
    """The r13 one-Arrow-pass strategy is value-identical to the broadcast
    join plan (same tokens, same md5 buckets, integer sums)."""
    assert _spark_scores(
        corpus, weights, strategy="arrow", word_ngrams=word_ngrams
    ) == _spark_scores(
        corpus, weights, strategy="broadcast", word_ngrams=word_ngrams
    )


def test_arrow_handles_duplicate_and_null_model_rows(spark, corpus):
    """A malformed model (duplicate buckets, null weight, out-of-range
    bucket) must score identically through arrow and broadcast — the join
    double-counts duplicates and the arrow twin reproduces that. A weight
    past 2^53 beside a null one stays exact: a float64 collect would round
    it."""
    big = 2**53 + 1
    solo = int(hashlib.md5(f"{SEED}:solo".encode()).hexdigest()[:8], 16) % BUCKETS
    w = spark.createDataFrame(
        [(3, 100), (3, 7), (5, None), (9999, 1), (None, 2), (7, -40), (solo, big)],
        "bucket int, weight_milli bigint",
    )
    a = _spark_scores(corpus, w, strategy="arrow")
    b = _spark_scores(corpus, w, strategy="broadcast")
    assert a == b
    assert a[5] == (1, big)


def test_arrow_over_budget_falls_back_to_broadcast(spark, corpus, weights):
    from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS

    want = _spark_scores(corpus, weights, strategy="broadcast")
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, str(BUCKETS - 1))
    try:
        got = _spark_scores(corpus, weights, strategy="arrow")
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)
    assert got == want


def test_scores_match_duckdb_twin(corpus, weights):
    got = _spark_scores(corpus, weights)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    sql = score_documents_sql(
        "documents",
        synthetic_quality_weights_sql(BUCKETS, WSEED),
        buckets=BUCKETS,
        seed=SEED,
    )
    want = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert got == want


def test_synthetic_weights_match_python(spark, weights):
    got = {r["bucket"]: r["weight_milli"] for r in weights.collect()}
    assert got == synthetic_weights_py(BUCKETS, WSEED)
    vals = set(got.values())
    assert min(vals) >= -1000 and max(vals) <= 1000 and len(vals) > 10


def test_every_doc_present_even_gramless(corpus, weights):
    got = _spark_scores(corpus, weights)
    assert set(got) == {i for i, _ in DOCS}
    assert got[3] == (0, 0) and got[4] == (0, 0)


def test_sparse_model_missing_buckets_weigh_zero(spark, corpus):
    # a pruned model: keep only half the buckets — absent buckets score 0,
    # identically in both strategies and in the Python reference
    full = synthetic_weights_py(BUCKETS, WSEED)
    sparse = {b: w for b, w in full.items() if b % 2 == 0}
    wdf = spark.createDataFrame(
        list(sparse.items()), "bucket int, weight_milli long"
    )
    want = {
        i: quality_score_py(t, sparse, buckets=BUCKETS, seed=SEED)
        for i, t in DOCS
    }
    assert _spark_scores(corpus, wdf) == want
    assert _spark_scores(corpus, wdf, strategy="inline") == want


def test_classify_mean_threshold_exact(spark, corpus, weights):
    out = {
        r["doc_id"]: r
        for r in classify_documents(
            corpus, weights, buckets=BUCKETS, seed=SEED, threshold_milli=50
        ).collect()
    }
    for i, _ in DOCS:
        r = out[i]
        if r["n_grams"] == 0:
            assert r["keep"] is False  # keep_empty default
        else:
            assert r["keep"] == (r["score_milli"] >= 50 * r["n_grams"])
    # at least one side of the threshold is populated each way
    keeps = {r["keep"] for r in out.values()}
    assert keeps == {True, False}
    kept_empty = {
        r["doc_id"]: r["keep"]
        for r in classify_documents(
            corpus, weights, buckets=BUCKETS, seed=SEED,
            threshold_milli=50, keep_empty=True,
        ).collect()
    }
    assert kept_empty[3] is True and kept_empty[4] is True


def test_gram_array_shapes(spark):
    df = spark.createDataFrame([("a b c",), ("x",), ("",)], "t string")
    rows = df.select(
        gram_array(F.col("t"), 2).alias("g2"), gram_array(F.col("t"), 1).alias("g1")
    ).collect()
    assert rows[0]["g2"] == ["a", "b", "c", "a b", "b c"]
    assert rows[0]["g1"] == ["a", "b", "c"]
    assert rows[1]["g2"] == ["x"] and rows[2]["g2"] == []


def test_partition_invariance(spark, corpus, weights):
    base = _spark_scores(corpus, weights)
    assert _spark_scores(corpus.repartition(7, "text"), weights) == base
    assert _spark_scores(corpus.coalesce(1), weights) == base


def test_plan_stays_jvm(spark, corpus, weights):
    from sequila_native_spark.plans.explain import formatted_plan

    for strategy, wants_join in (("broadcast", True), ("inline", False)):
        out = score_documents(
            corpus, weights, buckets=BUCKETS, seed=SEED, strategy=strategy
        )
        plan = formatted_plan(out)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, (strategy, marker)
        if wants_join:
            assert "BroadcastHashJoin" in plan  # model broadcast, not shuffled
        else:
            assert "Join" not in plan  # zero-join, zero-shuffle scan
            assert "Exchange" not in plan


def test_input_validation(spark, corpus, weights):
    with pytest.raises(ValueError, match="strategy"):
        score_documents(corpus, weights, buckets=BUCKETS, strategy="nope")
    with pytest.raises(ValueError, match="word_ngrams"):
        score_documents(corpus, weights, buckets=BUCKETS, word_ngrams=3)
    with pytest.raises(ValueError, match="buckets"):
        synthetic_quality_weights(spark, 0)
    with pytest.raises(ValueError, match="inline strategy"):
        score_documents(
            corpus, weights, buckets=1 << 20, strategy="inline"
        )
    with pytest.raises(ValueError, match="out of range"):
        score_documents(
            corpus,
            spark.createDataFrame([(BUCKETS + 3, 5)], "bucket int, weight_milli long"),
            buckets=BUCKETS,
            strategy="inline",
        )


def test_quality_tvf(spark, corpus, weights):
    """sequila_quality table function agrees with the Python API and
    validates its arity."""
    import pytest as _pytest

    from sequila_native_spark.sql import sequila_sql

    corpus.createOrReplaceTempView("tvf_q_docs")
    weights.createOrReplaceTempView("tvf_q_model")
    got = sequila_sql(
        spark,
        "SELECT doc_id, score_milli, keep FROM "
        f"sequila_quality('tvf_q_docs', 'tvf_q_model', 'text', 'doc_id', "
        f"{BUCKETS}, {SEED}, 50)",
    ).collect()
    want = classify_documents(
        corpus, weights, buckets=BUCKETS, seed=SEED, threshold_milli=50
    ).collect()
    key = lambda r: (r["doc_id"], r["score_milli"], r["keep"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    with _pytest.raises(ValueError, match="sequila_quality takes"):
        sequila_sql(spark, "SELECT * FROM sequila_quality('tvf_q_docs')")


def test_inline_scoring_stream_equals_batch(spark, tmp_path):
    """The inline strategy is a stateless projection (no joins, no aggs), so
    it runs on a streaming frame unchanged and scores the exact batch rows —
    the shape of a quality gate in a streaming ingest pipeline."""
    docs = spark.createDataFrame(DOCS, "doc_id int, text string")
    w = synthetic_quality_weights(spark, BUCKETS, WSEED)
    batch = {
        (r["doc_id"], r["n_grams"], r["score_milli"])
        for r in score_documents(
            docs, w, buckets=BUCKETS, seed=SEED, strategy="inline"
        ).collect()
    }
    src = str(tmp_path / "cls_src")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id int, text string").parquet(src)
    out = score_documents(
        stream, w, buckets=BUCKETS, seed=SEED, strategy="inline"
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("cls_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["n_grams"], r["score_milli"])
        for r in spark.table("cls_stream_out").collect()
    }
    assert got == batch and len(batch) == len(DOCS)


def test_inline_rejects_duplicate_buckets(spark, corpus):
    dup = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 9)], "bucket int, weight_milli long"
    )
    with pytest.raises(ValueError, match="duplicate buckets"):
        score_documents(corpus, dup, buckets=BUCKETS, strategy="inline")
