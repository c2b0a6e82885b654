"""DSIR importance-resampling data selection (dsir.py)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from sequila_native_spark.functions import (
    dsir_resample,
    dsir_score,
    dsir_weights,
    hashed_ngram_counts,
)
from _testdata import SF0_001

SF = SF0_001
BUCKETS = 64
SEED = 3


def _grams_py(text: str) -> list[str]:
    toks = [t for t in text.lower().split(" ") if t]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bucket_py(gram: str, buckets: int = BUCKETS, seed: int = SEED) -> int:
    digest = hashlib.md5(f"{seed}:{gram}".encode()).hexdigest()
    return int(digest[:8], 16) % buckets


def _counts_py(texts: list[str]) -> dict[int, int]:
    out: dict[int, int] = {}
    for t in texts:
        for g in _grams_py(t):
            b = _bucket_py(g)
            out[b] = out.get(b, 0) + 1
    return out


def _weights_py(
    raw: list[str], target: list[str], lam: float = 1.0
) -> dict[int, int]:
    qc, pc = _counts_py(raw), _counts_py(target)
    qt, pt = sum(qc.values()), sum(pc.values())
    out = {}
    for b in set(qc) | set(pc):
        lr = math.log((pc.get(b, 0) + lam) / (pt + lam * BUCKETS)) - math.log(
            (qc.get(b, 0) + lam) / (qt + lam * BUCKETS)
        )
        out[b] = math.floor(lr * 1000)
    return out


RAW = [
    "the cat sat on the mat",
    "dogs chase the ball in the park",
    "el gato se sienta en la alfombra",
    "los perros persiguen la pelota",
    "stock prices fell sharply on tuesday",
    "",
]
TARGET = [
    "the cat and the dog play in the park",
    "a ball and a mat for the cat",
]


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(RAW)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def target_df(spark):
    return spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(TARGET)], "doc_id long, text string"
    )


def test_hashed_ngram_counts_match_python(spark, raw_df):
    got = {
        r["bucket"]: r["count"]
        for r in hashed_ngram_counts(
            raw_df, buckets=BUCKETS, seed=SEED
        ).collect()
    }
    assert got == _counts_py(RAW)


def test_hashed_ngram_counts_arrow_equals_explode(spark, raw_df):
    """The r13 one-Arrow-pass counts equal the explode + groupBy plan
    (forced via the broadcast budget conf) row-for-row."""
    from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS

    def run():
        return {
            r["bucket"]: r["count"]
            for r in hashed_ngram_counts(
                raw_df, buckets=BUCKETS, seed=SEED
            ).collect()
        }

    arrow = run()
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, str(BUCKETS - 1))
    try:
        explode = run()
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)
    assert arrow == explode


def test_hashed_ngram_counts_bucket_ceiling_with_guard_off(spark, raw_df):
    """With the broadcast guard off (cap ≤ 0), a bucket count past the
    default cap still takes the explode plan: the Arrow pass allocates
    ``np.zeros(buckets)`` per batch, so its ceiling does not depend on
    the conf. Plan only — no action runs."""
    from sequila_native_spark.session import (
        DEFAULT_MAX_BROADCAST_BUILD_ROWS,
        MAX_BROADCAST_BUILD_ROWS,
    )

    def plan(buckets):
        df = hashed_ngram_counts(raw_df, buckets=buckets, seed=SEED)
        return df._jdf.queryExecution().analyzed().toString()

    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, "0")
    try:
        over = plan(DEFAULT_MAX_BROADCAST_BUILD_ROWS + 1)
        under = plan(BUCKETS)
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)
    assert "Generate explode" in over and "MapInPandas" not in over
    assert "MapInPandas" in under


def test_dsir_weights_match_python_reference(spark, raw_df, target_df):
    got = {
        r["bucket"]: r["weight_milli"]
        for r in dsir_weights(
            raw_df, target_df, buckets=BUCKETS, seed=SEED
        ).collect()
    }
    want = _weights_py(RAW, TARGET)
    assert set(got) == set(want)
    # ln() may differ by an ULP between JVM and CPython libm — the floor
    # can then flip by one milli at quantization boundaries
    assert all(abs(got[b] - want[b]) <= 1 for b in got)


def test_dsir_score_exact_given_model(spark, raw_df):
    # downstream of the model table everything is exact integer arithmetic:
    # pin scores EXACTLY against python given the same weights dict
    w = {b: (b % 7) - 3 for b in range(BUCKETS)}
    wdf = spark.createDataFrame(
        list(w.items()), "bucket int, weight_milli long"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["score_milli"])
        for r in dsir_score(raw_df, wdf, buckets=BUCKETS, seed=SEED).collect()
    }
    for i, text in enumerate(RAW):
        grams = _grams_py(text)
        want = sum(w[_bucket_py(g)] for g in grams)
        assert got[i] == (len(grams), want)
    assert got[5] == (0, 0)  # gramless doc survives with zero score


def test_dsir_end_to_end_prefers_target_like_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.where(F.col("lang") == "en")
    w = dsir_weights(docs, target, buckets=512, seed=SEED)
    scored = dsir_score(docs, w, buckets=512, seed=SEED)
    per_lang = {
        r["lang"]: r["m"]
        for r in scored.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg(F.col("score_milli") / F.greatest("n_grams", F.lit(1))).alias("m"))
        .collect()
    }
    non_en = [v for k, v in per_lang.items() if k != "en"]
    assert per_lang["en"] > max(non_en), per_lang


def test_dsir_resample_deterministic_sized_and_repartition_stable(spark, raw_df):
    w = {b: (b % 11) - 5 for b in range(BUCKETS)}
    wdf = spark.createDataFrame(list(w.items()), "bucket int, weight_milli long")
    scored = dsir_score(raw_df, wdf, buckets=BUCKETS, seed=SEED)
    sel1 = dsir_resample(scored, 3, seed=9).collect()
    sel2 = dsir_resample(scored.repartition(7), 3, seed=9).collect()
    assert len(sel1) == 3
    assert {r["doc_id"] for r in sel1} == {r["doc_id"] for r in sel2}
    keys = [r["resample_key_milli"] for r in sel1]
    assert keys == sorted(keys, reverse=True)


def test_dsir_resample_proportional_to_weight(spark):
    # Gumbel-top-k law: P(select) ∝ exp(score/T). doc 0 carries a +3000
    # milli (e^3 ≈ 20x) edge — across seeds it must be selected far more
    # often than any single peer.
    rows = [(0, 3000)] + [(i, 0) for i in range(1, 21)]
    spark_df = spark.createDataFrame(rows, "doc_id long, score_milli long")
    hits = sum(
        any(r["doc_id"] == 0 for r in dsir_resample(spark_df, 2, seed=s).collect())
        for s in range(30)
    )
    assert hits >= 20, hits  # expected ~0.88*30 ≈ 26; peers ~0.06*30 ≈ 2


def test_dsir_validation_errors(spark, raw_df, target_df):
    scored = spark.createDataFrame([(1, 0)], "doc_id long, score_milli long")
    with pytest.raises(ValueError, match="n must be positive"):
        dsir_resample(scored, 0)
    with pytest.raises(ValueError, match="temperature_milli"):
        dsir_resample(scored, 1, temperature_milli=0)
    with pytest.raises(ValueError, match="smoothing_milli"):
        dsir_weights(raw_df, target_df, buckets=BUCKETS, smoothing_milli=0)


def test_dsir_resample_plan_is_take_ordered(spark, raw_df):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    top-n + bounded merge), never a materialized global sort."""
    w = {b: (b % 11) - 5 for b in range(BUCKETS)}
    wdf = spark.createDataFrame(list(w.items()), "bucket int, weight_milli long")
    scored = dsir_score(raw_df, wdf, buckets=BUCKETS, seed=SEED)
    plan = (
        dsir_resample(scored, 3, seed=9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_dsir_tvf_matches_api(spark, raw_df, target_df):
    from sequila_native_spark.sql import sequila_sql

    raw_df.createOrReplaceTempView("dsir_raw")
    target_df.createOrReplaceTempView("dsir_target")
    got = sequila_sql(
        spark,
        "SELECT doc_id, score_milli FROM "
        "sequila_dsir('dsir_raw', 'dsir_target', 'text', 'doc_id', 64, 3, 3) "
        "ORDER BY doc_id",
    ).collect()
    w = dsir_weights(raw_df, target_df, buckets=BUCKETS, seed=3)
    want = (
        dsir_resample(dsir_score(raw_df, w, buckets=BUCKETS, seed=3), 3, seed=3)
        .select("doc_id", "score_milli").orderBy("doc_id").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    with pytest.raises(ValueError, match="sequila_dsir takes"):
        sequila_sql(spark, "SELECT * FROM sequila_dsir('dsir_raw')")
