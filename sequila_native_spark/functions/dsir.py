"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) over hashed bag-of-n-grams, Spark-first.

The published recipe for picking pretraining data that "looks like" a
target domain: estimate two hashed-n-gram unigram models — ``p`` from a
(small) target corpus, ``q`` from the raw corpus — weight every raw
document by its importance ``log p(x) − log q(x) = Σ_grams
(log p[b] − log q[b])``, then sample documents ∝ the importance weight
(Gumbel top-k = sampling without replacement).

Spark shape, by stage:

- **Model estimation** (:func:`hashed_ngram_counts` → :func:`dsir_weights`):
  each corpus collapses to a ≤``buckets``-row count table via one
  explode-in-scan + map-side-combinable ``groupBy(bucket)`` — the ONLY
  full-data passes, both embarrassingly parallel. The log-ratio table is
  computed executor-side from the two (tiny) count tables; nothing is
  collected to the driver.
- **Scoring**: the weight table IS a :func:`classify.score_documents`
  model — DSIR inference reuses the classifier's broadcast path verbatim
  (explode in-scan ⨝ broadcast weights → one map-side-combinable per-doc
  sum). Integer milli-log weights make the per-doc score an exact bigint.
- **Resampling** (:func:`dsir_resample`): the Gumbel-top-k trick with
  DETERMINISTIC Gumbel noise from the house md5 hash space
  (``sampling.sample_hash``) — the selection is reproducible under
  repartitioning and retries, which ``rand()``-based resampling is not.
  Global top-n runs as sort+limit (per-partition top-n, then a bounded
  merge — ``TakeOrderedAndProject``, no global sort materialized).

Quantization note: weights are ``floor(1000·(ln p − ln q))`` — a ≤0.1%
per-gram quantization, far below the estimation noise of the n-gram models
themselves (the paper's own ablations tolerate much coarser features).
Everything downstream of the model table is exact integer arithmetic.

No reference counterpart (sequila-native has no data-selection surface);
this extends the LLM-pipeline layer alongside classify.py / curation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sequila_native_spark.functions.classify import (
    gram_array,
    hash_bucket,
    score_documents,
)
from sequila_native_spark.functions.sampling import HASH_SPACE, sample_hash
from sequila_native_spark.util import ensure_parallel


def hashed_ngram_counts(
    df: DataFrame,
    *,
    buckets: int,
    text_col: str = "text",
    seed: int = 0,
    word_ngrams: int = 2,
) -> DataFrame:
    """Corpus-level hashed-n-gram counts: ``(bucket, count)``, ≤ ``buckets``
    rows. One full-data pass + a ≤``buckets``-row final aggregation — the
    full-data pass of DSIR model estimation.

    r13 (guide §4.2): the pass runs as one Arrow stage (tokenize +
    md5-bucket + per-batch bincount at C speed, only non-zero ``(bucket,
    count)`` partials leaving Python) instead of the interpreted
    ``gram_array`` HOF explode — value-identical (same tokens, same md5
    recipe, integer counts are order-independent; pinned in
    tests/test_dsir.py) and measured faster interleaved. Bucket counts
    over the accounted budget keep the explode plan: the Arrow pass holds
    an ``8 * buckets``-byte accumulator per batch, so ``buckets`` must be
    within ``maxBroadcastBuildRows`` and, even with that guard off, within
    its default (an absolute ceiling)."""
    from sequila_native_spark.session import (
        DEFAULT_MAX_BROADCAST_BUILD_ROWS,
        SequilaConf,
    )

    cap = SequilaConf.from_spark(df.sparkSession).max_broadcast_build_rows
    if int(buckets) <= DEFAULT_MAX_BROADCAST_BUILD_ROWS and (
        cap is None or cap <= 0 or int(buckets) <= cap
    ):
        return _hashed_ngram_counts_arrow(
            df, buckets=int(buckets), text_col=text_col, seed=seed,
            word_ngrams=word_ngrams,
        )
    grams = gram_array(F.col(text_col), word_ngrams)
    return (
        ensure_parallel(df.select(F.explode(grams).alias("__gram")))
        .groupBy(hash_bucket(F.col("__gram"), buckets, seed).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("count"))
    )


def _hashed_ngram_counts_arrow(
    df: DataFrame, *, buckets: int, text_col: str, seed: int, word_ngrams: int
) -> DataFrame:
    """One-Arrow-pass twin of the explode + groupBy(bucket) plan: per
    batch, tokenize (the pinned python twin of :func:`text.tokens`),
    md5-bucket each *distinct* gram once, bincount occurrences, and emit
    only the non-zero ``(bucket, count)`` partials; the final
    ``groupBy(bucket)`` sums ≤ buckets × n_batches tiny rows."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    prefix = f"{int(seed)}:"
    bigrams = word_ngrams == 2
    n_buckets = int(buckets)
    schema = StructType([
        StructField("bucket", IntegerType(), False),
        StructField("count", LongType(), False),
    ])

    def go(batches):
        md5 = hashlib.md5
        for pdf in batches:
            flat: list[str] = []
            for t in pdf[text_col]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    continue
                toks = [w for w in t.lower().split(" ") if w]
                flat.extend(toks)
                if bigrams:
                    flat.extend(f"{a} {b}" for a, b in zip(toks, toks[1:]))
            if not flat:
                continue
            acc = np.zeros(n_buckets, dtype=np.int64)
            uniq, cnts = np.unique(
                np.asarray(flat, dtype=object), return_counts=True
            )
            ub = np.fromiter(
                (int(md5((prefix + g).encode()).hexdigest()[:8], 16)
                 % n_buckets for g in uniq),
                dtype=np.int64, count=len(uniq),
            )
            np.add.at(acc, ub, cnts)
            nz = np.flatnonzero(acc)
            yield pd.DataFrame(
                {"bucket": nz.astype(np.int32), "count": acc[nz]}
            )

    return (
        ensure_parallel(df.select(text_col))
        .mapInPandas(go, schema)
        .groupBy("bucket")
        .agg(F.sum("count").cast("bigint").alias("count"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    buckets: int,
    text_col: str = "text",
    seed: int = 0,
    word_ngrams: int = 2,
    smoothing_milli: int = 1000,
) -> DataFrame:
    """The DSIR importance model: ``(bucket, weight_milli)`` with
    ``weight_milli = floor(1000·(ln p_target[b] − ln q_raw[b]))`` under
    add-λ smoothing (``λ = smoothing_milli/1000``; λ=1 is plain add-one —
    unseen buckets get a finite, negative-leaning ratio instead of ±inf).

    The result is a valid :func:`classify.score_documents` model: one row
    per bucket, integer weights. Executor-side end to end: the two count
    tables are ≤``buckets`` rows, their totals join in as 1-row broadcast
    aggregates, and the log-ratio is a projection."""
    if smoothing_milli <= 0:
        raise ValueError(f"smoothing_milli must be positive, got {smoothing_milli}")
    lam = smoothing_milli / 1000.0
    opts = dict(
        buckets=buckets, text_col=text_col, seed=seed, word_ngrams=word_ngrams
    )
    qc = hashed_ngram_counts(raw, **opts).withColumnRenamed("count", "__qc")
    pc = hashed_ngram_counts(target, **opts).withColumnRenamed("count", "__pc")
    joined = qc.join(pc, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("__qc", F.lit(0)).alias("__qc"),
        F.coalesce("__pc", F.lit(0)).alias("__pc"),
    )
    totals = joined.agg(
        F.sum("__qc").alias("__qt"), F.sum("__pc").alias("__pt")
    )
    b = float(buckets)
    log_ratio = (
        F.log((F.col("__pc") + F.lit(lam)) / (F.col("__pt") + F.lit(lam * b)))
        - F.log((F.col("__qc") + F.lit(lam)) / (F.col("__qt") + F.lit(lam * b)))
    )
    return joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(log_ratio * 1000).cast("bigint").alias("weight_milli"),
    )


def dsir_score(
    raw: DataFrame,
    weights: DataFrame,
    *,
    buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    word_ngrams: int = 2,
) -> DataFrame:
    """Per-document importance: ``(id, n_grams, score_milli)`` where
    ``score_milli ≈ 1000·(log p_target(x) − log q_raw(x))`` — exactly the
    classifier broadcast scoring path with the DSIR model table.

    The raw side is re-split first (``ensure_parallel``): a single-file
    scan would otherwise run the whole explode+score single-task at small
    SFs (at real scale the scan already has many splits and this no-ops).

    r13 (guide §4.1/§4.2): scoring runs through the classifier's ``arrow``
    strategy — the model rides a broadcast variable into one Arrow pass
    (value-identical to the broadcast join, measured faster 5/5
    interleaved); models past the accounted budget keep the join plan.
    """
    return score_documents(
        ensure_parallel(raw.select(id_col, text_col)), weights,
        buckets=buckets, text_col=text_col, id_col=id_col,
        seed=seed, word_ngrams=word_ngrams, strategy="arrow",
    )


def dsir_resample(
    scored: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    score_col: str = "score_milli",
    seed: int = 0,
    temperature_milli: int = 1000,
) -> DataFrame:
    """Gumbel-top-k importance resampling: the ``n`` rows with the largest
    ``score/T + Gumbel`` keys are EXACTLY a without-replacement sample with
    ``P(select) ∝ w^(1/T)`` (the Gumbel-max trick). ``temperature_milli``
    is T in milli-units (1000 = the paper's ∝ w).

    The Gumbel noise is deterministic — ``g = −ln(−ln(u))`` with
    ``u = (md5_hash(seed, id)+0.5)/2³²`` — so the selection is stable under
    repartitioning, retries, and engine versions, unlike ``rand()``.
    Output: the selected rows of ``scored`` plus their integer
    ``resample_key_milli``, descending-unique by construction.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if temperature_milli <= 0:
        raise ValueError(
            f"temperature_milli must be positive, got {temperature_milli}"
        )
    u = (sample_hash(F.col(id_col), seed) + F.lit(0.5)) / F.lit(float(HASH_SPACE))
    gumbel_milli = F.floor(-F.log(-F.log(u)) * 1000).cast("bigint")
    key = (
        F.col(score_col) * F.lit(1000) / F.lit(int(temperature_milli))
    ).cast("bigint") + gumbel_milli
    return (
        scored.withColumn("resample_key_milli", key)
        .orderBy(F.col("resample_key_milli").desc(), F.col(id_col).asc())
        .limit(n)
    )
