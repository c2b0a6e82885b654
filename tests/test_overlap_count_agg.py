"""overlap_count_agg — the aggregated count kernel (r12 optimization).

Pins the operator's contract against its definition: bit-identical rows to
``overlap_join(..., algorithm="binning").groupBy(keys).count()`` across the
keyed/keyless/strict/null/int-key/fallback shapes, through the Arrow probe
for one key and for several."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import count_overlaps, overlap_count_agg, overlap_join
from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS
from tests.conftest import rows_set


def _truth(left, right, on, strict=False):
    oj = overlap_join(
        right, left, on=on,
        left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
        strict=strict, algorithm="binning", rsuffix="_r",
    )
    keys = ([on] if isinstance(on, str) else list(on or []))
    grouped = oj.groupBy(*keys) if keys else oj
    return grouped.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


def _agg(left, right, on, strict=False):
    return overlap_count_agg(
        left, right, on=on,
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end",
        strict=strict, alias="n_pairs",
    )


@pytest.fixture()
def sides(spark):
    targets = spark.createDataFrame(
        [("a", 1, 10), ("a", 5, 8), ("a", 40, 50), ("b", 1, 4),
         ("b", 2, 2), ("c", 100, 200), ("a", None, 9), (None, 1, 9)],
        "contig string, t_start int, t_end int",
    )
    reads = spark.createDataFrame(
        [("a", 3, 6), ("a", 9, 41), ("a", 60, 70), ("b", 2, 2),
         ("b", 4, 4), ("c", 1, 99), ("b", None, 5), (None, 2, 3)],
        "contig string, r_start int, r_end int",
    )
    return targets, reads


@pytest.mark.parametrize("strict", [False, True])
def test_agg_matches_join_groupby_keyed(spark, sides, strict):
    targets, reads = sides
    got = rows_set(_agg(targets, reads, "contig", strict))
    want = rows_set(_truth(targets, reads, "contig", strict))
    assert got == want


def test_agg_matches_join_groupby_keyless(spark, sides):
    targets, reads = sides
    got = rows_set(_agg(targets.drop("contig"), reads.drop("contig"), None))
    want = rows_set(_truth(targets.drop("contig"), reads.drop("contig"), None))
    assert got == want
    # keyless form returns exactly one row even with zero pairs
    empty = overlap_count_agg(
        targets.drop("contig").where(F.lit(False)), reads.drop("contig"),
        on=None, left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", alias="n_pairs",
    )
    assert [tuple(r) for r in empty.collect()] == [(0,)]


def test_agg_int_key_and_multi_key(spark, sides):
    targets, reads = sides
    t2 = targets.withColumn("k", (F.col("t_start") % 3).cast("long"))
    r2 = reads.withColumn("k", (F.col("r_start") % 3).cast("long"))
    # int single key: arrow probe
    got = rows_set(
        overlap_count_agg(
            t2.drop("contig"), r2.drop("contig"), on="k",
            left_start="t_start", left_end="t_end",
            right_start="r_start", right_end="r_end", alias="n_pairs",
        )
    )
    oj = overlap_join(
        r2.drop("contig"), t2.drop("contig"), on="k",
        left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
        algorithm="binning", rsuffix="_r",
    )
    want = rows_set(oj.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    assert got == want
    # multi key: the same Arrow probe, one group per (contig, k)
    agg = overlap_count_agg(
        t2, r2, on=["contig", "k"],
        left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", alias="n_pairs",
    )
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    got = rows_set(agg)
    oj = overlap_join(
        r2, t2, on=["contig", "k"],
        left_start="r_start", left_end="r_end",
        right_start="t_start", right_end="t_end",
        algorithm="binning", rsuffix="_r",
    )
    want = rows_set(
        oj.groupBy("contig", "k").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    assert got == want


def test_agg_fallback_past_broadcast_guard(spark, sides):
    """Build sides over the guard fall back to the binned join + groupBy —
    same rows."""
    targets, reads = sides
    want = rows_set(_truth(targets, reads, "contig"))
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, "3")
    try:
        assert rows_set(_agg(targets, reads, "contig")) == want
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)


def test_count_overlaps_index_arrow_matches_binning_with_nulls(spark, sides):
    """The arrow index probe (passthrough + appended count) must agree with
    the binning algorithm row-for-row, including null keys/bounds (count 0,
    row preserved)."""
    targets, reads = sides
    kw = dict(
        on="contig", left_start="t_start", left_end="t_end",
        right_start="r_start", right_end="r_end", count_col="n",
    )
    a = rows_set(count_overlaps(targets, reads, algorithm="index", **kw))
    b = rows_set(count_overlaps(targets, reads, algorithm="binning", **kw))
    assert a == b
