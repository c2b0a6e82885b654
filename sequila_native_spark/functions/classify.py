"""Hashed linear quality classifier — fasttext-shaped model scoring in Spark.

Production training-data pipelines (CCNet, DCLM, FineWeb-Edu and kin) gate
documents with a LEARNED quality model, not only rule features: a linear
classifier over hashed bag-of-n-grams (the fasttext architecture — hash each
token/bigram into one of B buckets, average the bucket weights, threshold).
This module is that inference step, Spark-first: the model is data (a
``(bucket, weight_milli)`` table), scoring is pure Catalyst, and nothing
touches Python row-at-a-time.

Two physical strategies, chosen by model size:

- ``strategy="inline"`` (small models, bounded buckets): the weight vector
  becomes an in-plan array literal and the whole score evaluates inside one
  ``aggregate`` HOF over the gram array — ZERO joins, ZERO shuffles, the
  scan streams straight through whole-stage codegen. The right plan when
  the model fits in the plan (quality gates are typically 2^11-2^15
  buckets after pruning).
- ``strategy="broadcast"`` (default, any size): explode grams in-scan,
  broadcast-hash-join the weight table (a fasttext quality model is MBs —
  far under any broadcast threshold), then one map-side-combinable
  ``groupBy(doc)`` sum. One shuffle on the doc id total, independent of
  model size. At 100 TB the explode never materializes corpus-wide state:
  grams flow scan → broadcast probe → partial sum.

Determinism / oracle story (house pattern, see ``sampling.py``): bucket
assignment is the md5 ``sample_hash`` (bit-identical in DuckDB for string
grams), weights are INTEGER milli-units, and the per-document score is an
exact integer SUM — hash-oracle material end to end. Classification uses
the cross-multiplied mean test ``score_milli >= threshold_milli * n_grams``
(integer arithmetic — exactly "mean bucket weight >= threshold" with no
float division). fasttext's sigmoid is monotone, so thresholding the mean
IS thresholding the probability; we never materialize the float.

A trained model is exported into the weight-table schema (fasttext's
``input matrix row -> mean-pooled linear score`` collapses to one weight
per bucket for a binary head); :func:`synthetic_quality_weights` generates
a deterministic stand-in so tests and driver queries need no model file.

No reference counterpart (sequila-native has no classifier surface); this
extends the LLM-pipeline layer alongside ranking.py / curation.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sequila_native_spark.functions.sampling import sample_hash, sample_hash_sql
from sequila_native_spark.functions.text import tokens

# Synthetic weights are uniform integers in [-WEIGHT_SPAN, +WEIGHT_SPAN].
WEIGHT_SPAN = 1000
# inline strategy embeds the weight vector in the plan: keep literal arrays
# bounded (plan size / codegen limits), larger models take "broadcast".
MAX_INLINE_BUCKETS = 8192


def _filtered_tokens(col: Column) -> Column:
    return F.filter(tokens(col), lambda t: F.length(t) > 0)


def gram_array(col: Column, word_ngrams: int = 2) -> Column:
    """Unigram (+ adjacent-bigram) array of a text column, empties dropped.

    Bigrams pair each token with its successor over the FILTERED token
    sequence (``zip_with`` against the array shifted by one; the final
    null pad is dropped) — matching fasttext's ``wordNgrams=2``.
    """
    if word_ngrams not in (1, 2):
        raise ValueError(f"word_ngrams must be 1 or 2, got {word_ngrams}")
    toks = _filtered_tokens(col)
    if word_ngrams == 1:
        return toks
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(
            toks,
            shifted,
            lambda x, y: F.when(y.isNotNull(), F.concat(x, F.lit(" "), y)),
        ),
        lambda g: g.isNotNull(),
    )
    return F.concat(toks, bigrams)


def hash_bucket(col: Column, buckets: int, seed: int = 0) -> Column:
    """Model bucket of a gram: ``sample_hash(gram, seed) % buckets`` —
    md5-derived, so DuckDB reproduces it bit-identically on string grams."""
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    return (sample_hash(col, seed) % F.lit(int(buckets))).cast("int")


def synthetic_quality_weights(
    spark: SparkSession, buckets: int, seed: int = 0
) -> DataFrame:
    """Deterministic stand-in model: ``(bucket int, weight_milli bigint)``
    with weights uniform on [-1000, 1000] derived from ``sample_hash`` of
    the bucket id — the same rows in any engine (DuckDB twin:
    :func:`synthetic_quality_weights_sql`). Real use loads an exported
    model into this schema instead."""
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    return spark.range(int(buckets)).select(
        F.col("id").cast("int").alias("bucket"),
        (sample_hash(F.col("id"), seed) % F.lit(2 * WEIGHT_SPAN + 1)
         - F.lit(WEIGHT_SPAN)).cast("bigint").alias("weight_milli"),
    )


def synthetic_quality_weights_sql(buckets: int, seed: int = 0) -> str:
    """DuckDB twin of :func:`synthetic_quality_weights` (a subquery)."""
    h = sample_hash_sql("r.range", seed)
    return (
        f"SELECT CAST(r.range AS INT) AS bucket, "
        f"CAST({h} % {2 * WEIGHT_SPAN + 1} - {WEIGHT_SPAN} AS BIGINT) "
        f"AS weight_milli FROM range({int(buckets)}) r"
    )


def score_columns(
    by_bucket: dict[int, int],
    buckets: int,
    col: Column,
    *,
    seed: int = 0,
    word_ngrams: int = 2,
) -> tuple[Column, Column]:
    """The inline strategy as composable COLUMNS ``(n_grams, score_milli)``
    from a weights dict — for folding classifier scores into an existing
    single-scan projection (zero joins, zero shuffles; the weight vector is
    an in-plan array literal)."""
    grams = gram_array(col, word_ngrams)
    arr = F.array(
        *[F.lit(int(by_bucket.get(b, 0))) for b in range(int(buckets))]
    )
    score = F.aggregate(
        grams,
        F.lit(0).cast("bigint"),
        lambda acc, g: acc
        + F.element_at(arr, hash_bucket(g, buckets, seed) + F.lit(1)),
    )
    return F.size(grams).cast("int"), score


def score_documents(
    docs: DataFrame,
    weights: DataFrame,
    *,
    buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    word_ngrams: int = 2,
    strategy: str = "broadcast",
) -> DataFrame:
    """Linear hashed-n-gram score per document:
    ``(id, n_grams, score_milli)`` with
    ``score_milli = Σ_gram weight_milli[bucket(gram)]`` (exact bigint).

    ``weights`` is the model: ``(bucket, weight_milli)``; buckets absent
    from the table weigh 0 (a pruned model is a sparse table), and each
    bucket must appear AT MOST ONCE — duplicates would double-count through
    the broadcast join (the inline strategy rejects them eagerly; the
    broadcast strategy trusts the model table, as validating lazily would
    force an extra job per call). Every input document appears in the
    output — gramless docs score (0, 0).

    ``id_col`` must be unique per row. The broadcast strategy groups by it
    and joins the sum back, so rows sharing an id share one combined score;
    ``inline`` and ``arrow`` score each row on its own.

    ``inline`` and ``arrow`` collect the model table when called: one eager
    Spark job before the returned frame's first action.
    """
    if strategy not in ("broadcast", "inline", "arrow"):
        raise ValueError(f"unknown strategy {strategy!r}")
    grams = gram_array(F.col(text_col), word_ngrams)

    if strategy == "arrow":
        out = _score_documents_arrow(
            docs, weights, buckets=buckets, text_col=text_col,
            id_col=id_col, seed=seed, word_ngrams=word_ngrams,
        )
        if out is not None:
            return out
        strategy = "broadcast"  # over-budget model: keep the join plan

    if strategy == "inline":
        if buckets > MAX_INLINE_BUCKETS:
            raise ValueError(
                f"inline strategy embeds the weight vector in the plan; "
                f"{buckets} buckets > {MAX_INLINE_BUCKETS} — use broadcast"
            )
        rows = weights.select("bucket", "weight_milli").toPandas()
        by_bucket = dict(rows.itertuples(index=False, name=None))
        if len(by_bucket) != len(rows):
            dup = rows["bucket"][rows["bucket"].duplicated()].tolist()
            raise ValueError(
                f"weights table has duplicate buckets {dup[:5]} — a model "
                f"must have one weight per bucket (the broadcast strategy "
                f"would double-count these)"
            )
        bad = [b for b in by_bucket if not (0 <= int(b) < buckets)]
        if bad:
            raise ValueError(f"weight buckets out of range: {bad[:5]}")
        n_grams, score = score_columns(
            by_bucket, buckets, F.col(text_col), seed=seed,
            word_ngrams=word_ngrams,
        )
        return docs.select(
            F.col(id_col),
            n_grams.alias("n_grams"),
            score.alias("score_milli"),
        )

    exploded = docs.select(
        F.col(id_col), F.explode(grams).alias("__gram")
    ).withColumn("__bucket", hash_bucket(F.col("__gram"), buckets, seed))
    w = F.broadcast(weights.select("bucket", "weight_milli"))
    scored = (
        exploded.join(w, exploded["__bucket"] == w["bucket"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(F.coalesce(F.col("weight_milli"), F.lit(0)))
            .cast("bigint")
            .alias("score_milli"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("int").alias("n_grams"),
            F.coalesce("score_milli", F.lit(0)).cast("bigint").alias("score_milli"),
        )
    )


def _score_documents_arrow(
    docs: DataFrame,
    weights: DataFrame,
    *,
    buckets: int,
    text_col: str,
    id_col: str,
    seed: int,
    word_ngrams: int,
) -> DataFrame | None:
    """One-Arrow-pass scoring (r13, guide §4.1/§4.2/§3.1 — the same
    broadcast-dict treatment as the trigram LM): the model rides a
    broadcast variable into a single ``pandas_udf`` that tokenizes,
    md5-buckets, and sums per batch at C speed, so the per-gram explode
    through the (interpreted-HOF) ``gram_array`` + broadcast join + two
    doc-id shuffles disappears — the plan is scan → ArrowEvalPython,
    zero exchanges.

    Value-identical to the broadcast-join plan by construction:

    - tokenization is ``text.lower().split(' ')`` minus empties — the
      pinned python twin of :func:`text.tokens` (same parity contract the
      lm.py Arrow passes ship under);
    - the bucket is the same md5 recipe as :func:`hash_bucket`
      (``int(md5(f"{seed}:{gram}")[:8], 16) % buckets``), memoized per
      distinct gram per batch;
    - duplicate model buckets double-count through a broadcast join (k
      matched rows per gram); the dense arrays reproduce that exactly
      (``wsum[b] = Σ weights``, gram count contribution ``max(k, 1)``);
    - integer sums are order-independent, so every output value matches.

    Returns ``None`` (caller keeps the join plan) when the model exceeds
    the accounted broadcast budget — ``buckets`` over
    ``spark.sequila.maxBroadcastBuildRows``, or a malformed table with
    more rows than ``buckets``.
    """
    from sequila_native_spark.session import SequilaConf

    spark = docs.sparkSession
    cap = SequilaConf.from_spark(spark).max_broadcast_build_rows
    if cap is not None and 0 < cap < int(buckets):
        return None
    # Arrow keeps a nullable bigint exact; pandas would make it float64
    rows = (
        weights.select(
            F.col("bucket").cast("bigint"), F.col("weight_milli").cast("bigint")
        ).limit(int(buckets) + 1).toArrow()
    )
    if rows.num_rows > int(buckets):
        return None  # more rows than declared buckets: trust the join plan
    wsum = np.zeros(int(buckets), dtype=np.int64)
    nrow = np.zeros(int(buckets), dtype=np.int64)
    b_arr = rows.column("bucket").fill_null(-1).to_numpy()
    w_arr = rows.column("weight_milli").fill_null(0).to_numpy()
    # a model row with a valid bucket joins (and counts) even when its
    # weight is null (coalesced to 0 by the join plan)
    ok_b = (b_arr >= 0) & (b_arr < int(buckets))
    np.add.at(nrow, b_arr[ok_b], 1)
    np.add.at(wsum, b_arr[ok_b], w_arr[ok_b])
    # a gram whose bucket has no (or a null-weight) model row still counts
    # once through the left join; k matched rows count k times
    contrib_n = np.maximum(nrow, 1)
    bc = spark.sparkContext.broadcast((wsum, contrib_n))
    n_buckets = int(buckets)
    prefix = f"{int(seed)}:"
    bigrams = word_ngrams == 2

    @F.pandas_udf("n_grams int, score_milli bigint")
    def _score(texts: pd.Series) -> pd.DataFrame:
        wsum_b, contrib_b = bc.value
        md5 = hashlib.md5
        flat: list[str] = []
        counts: list[int] = []
        for t in texts:
            if t is None or (isinstance(t, float) and pd.isna(t)):
                counts.append(0)
                continue
            toks = [w for w in t.lower().split(" ") if w]
            grams = list(toks)
            if bigrams:
                grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            counts.append(len(grams))
            flat.extend(grams)
        ns = np.zeros(len(counts), dtype=np.int64)
        ss = np.zeros(len(counts), dtype=np.int64)
        if flat:
            uniq, inv = np.unique(np.asarray(flat, dtype=object),
                                  return_inverse=True)
            ub = np.fromiter(
                (int(md5((prefix + g).encode()).hexdigest()[:8], 16)
                 % n_buckets for g in uniq),
                dtype=np.int64, count=len(uniq),
            )
            occ_n = contrib_b[ub][inv]
            occ_w = wsum_b[ub][inv]
            cnts = np.asarray(counts, dtype=np.int64)
            nz = np.flatnonzero(cnts)
            offsets = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(cnts[nz][:-1], out=offsets[1:])
            ns[nz] = np.add.reduceat(occ_n, offsets)
            ss[nz] = np.add.reduceat(occ_w, offsets)
        return pd.DataFrame({"n_grams": ns.astype(np.int32),
                             "score_milli": ss})

    return docs.select(
        F.col(id_col), _score(F.col(text_col)).alias("__sq_sc")
    ).select(
        id_col,
        F.col("__sq_sc.n_grams").alias("n_grams"),
        F.col("__sq_sc.score_milli").alias("score_milli"),
    )


def score_documents_sql(
    table: str,
    weights_sql: str,
    *,
    buckets: int,
    text_expr: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    word_ngrams: int = 2,
) -> str:
    """DuckDB twin of :func:`score_documents` (exact integers).

    ``weights_sql`` is a subquery producing ``(bucket, weight_milli)`` —
    e.g. :func:`synthetic_quality_weights_sql` — so the twin scores under
    the same model without a registered view."""
    if word_ngrams not in (1, 2):
        raise ValueError(f"word_ngrams must be 1 or 2, got {word_ngrams}")
    bigram_branch = (
        f"""
        UNION ALL
        SELECT __id, unnest(list_transform(range(1, len(ts)),
                                           i -> ts[i] || ' ' || ts[i + 1]))
        FROM base
        """
        if word_ngrams == 2
        else ""
    )
    h = sample_hash_sql("g.gram", seed)
    return f"""
        WITH base AS (
            SELECT {id_col} AS __id,
                   list_filter(string_split(lower({text_expr}), ' '),
                               t -> length(t) > 0) AS ts
            FROM {table}
        ),
        grams AS (
            SELECT __id, unnest(ts) AS gram FROM base
            {bigram_branch}
        ),
        wts AS ({weights_sql}),
        sc AS (
            SELECT g.__id,
                   count(*) AS n_grams,
                   CAST(sum(coalesce(w.weight_milli, 0)) AS BIGINT)
                       AS score_milli
            FROM grams g
            LEFT JOIN wts w ON w.bucket = {h} % {int(buckets)}
            GROUP BY g.__id
        )
        SELECT d.{id_col},
               CAST(coalesce(sc.n_grams, 0) AS INT) AS n_grams,
               CAST(coalesce(sc.score_milli, 0) AS BIGINT) AS score_milli
        FROM {table} d LEFT JOIN sc ON sc.__id = d.{id_col}
    """


def score_exprs_sql(
    text_expr: str,
    *,
    buckets: int,
    seed: int = 0,
    word_ngrams: int = 2,
    weights_array: str = "__qw",
) -> tuple[str, str]:
    """Per-ROW DuckDB twin of :func:`score_columns` — ``(n_grams_expr,
    score_milli_expr)`` over a one-row weights-ARRAY relation: cross-join
    ``(SELECT list(weight_milli ORDER BY bucket) AS __qw FROM (<weights>))``
    and these expressions score without any explode/join, mirroring the
    inline Spark plan. For folding into an existing per-doc twin SELECT."""
    if word_ngrams not in (1, 2):
        raise ValueError(f"word_ngrams must be 1 or 2, got {word_ngrams}")
    tsf = (
        f"list_filter(string_split(lower({text_expr}), ' '), "
        f"t -> length(t) > 0)"
    )
    grams = (
        tsf
        if word_ngrams == 1
        else (
            f"list_concat({tsf}, list_transform(range(1, len({tsf})), "
            f"i -> {tsf}[i] || ' ' || {tsf}[i + 1]))"
        )
    )
    h = sample_hash_sql("g", seed)
    n_expr = f"CAST(len({grams}) AS INT)"
    s_expr = (
        f"CAST(coalesce(list_sum(list_transform({grams}, "
        f"g -> {weights_array}[CAST({h} % {int(buckets)} AS INT) + 1])), 0) "
        f"AS BIGINT)"
    )
    return n_expr, s_expr


def classify_documents(
    docs: DataFrame,
    weights: DataFrame,
    *,
    buckets: int,
    threshold_milli: int = 0,
    keep_empty: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    word_ngrams: int = 2,
    strategy: str = "broadcast",
) -> DataFrame:
    """Scores plus the quality verdict: ``keep`` iff the MEAN bucket weight
    clears ``threshold_milli`` — evaluated as the exact integer test
    ``score_milli >= threshold_milli * n_grams`` (no float division; the
    sigmoid fasttext applies is monotone, so this is the probability
    threshold). Gramless documents have no mean: they keep per
    ``keep_empty`` (default False — empty text is not quality)."""
    scored = score_documents(
        docs, weights, buckets=buckets, text_col=text_col, id_col=id_col,
        seed=seed, word_ngrams=word_ngrams, strategy=strategy,
    )
    keep = F.when(F.col("n_grams") == 0, F.lit(bool(keep_empty))).otherwise(
        F.col("score_milli") >= F.lit(int(threshold_milli)) * F.col("n_grams")
    )
    return scored.withColumn("keep", keep)


def quality_score_py(
    text: str,
    weights: dict[int, int],
    *,
    buckets: int,
    seed: int = 0,
    word_ngrams: int = 2,
) -> tuple[int, int]:
    """Independent reference implementation for tests (not a Spark path):
    returns ``(n_grams, score_milli)``."""
    toks = [t for t in text.lower().split(" ") if t]
    grams = list(toks)
    if word_ngrams == 2:
        grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    score = 0
    for g in grams:
        digest = hashlib.md5(f"{seed}:{g}".encode()).hexdigest()
        score += int(weights.get(int(digest[:8], 16) % buckets, 0))
    return len(grams), score


def synthetic_weights_py(buckets: int, seed: int = 0) -> dict[int, int]:
    """Python twin of :func:`synthetic_quality_weights` for tests."""
    out = {}
    for b in range(buckets):
        digest = hashlib.md5(f"{seed}:{b}".encode()).hexdigest()
        out[b] = int(digest[:8], 16) % (2 * WEIGHT_SPAN + 1) - WEIGHT_SPAN
    return out
