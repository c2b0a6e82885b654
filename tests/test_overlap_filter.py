"""Semi/anti overlap filtering (bedtools intersect -u / -v)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import filter_by_overlap


@pytest.mark.parametrize("algorithm", ["naive", "binning", "index"])
def test_semi_filter(spark, reads, targets, algorithm):
    kept = filter_by_overlap(
        reads, targets, on="contig",
        df_start="pos_start", df_end="pos_end",
        regions_start="pos_start", regions_end="pos_end",
        algorithm=algorithm, bin_width=1000,
    )
    got = {(r["contig"], r["pos_start"]) for r in kept.collect()}
    # from the 16-row golden: every read except... reads overlapping nothing
    # are (chr1,22000)? no — 22000-22300 overlaps 22100. Non-overlapping:
    # none on chr1; all 12 reads overlap something? golden shows 8 distinct
    # reads per contig... reads (150),(190),(300),(500),(15000),(22000) all
    # appear → all 6 reads per contig overlap ≥1 target.
    assert len(got) == 12
    assert kept.columns == reads.columns


@pytest.mark.parametrize("algorithm", ["naive", "binning", "index"])
def test_anti_filter(spark, reads, targets, algorithm):
    dropped = filter_by_overlap(
        reads, targets, on="contig",
        df_start="pos_start", df_end="pos_end",
        regions_start="pos_start", regions_end="pos_end",
        negate=True, algorithm=algorithm, bin_width=1000,
    )
    assert dropped.count() == 0  # every read overlaps a target


def test_anti_filter_blacklist(spark):
    df = spark.createDataFrame(
        [("c", 1, 10), ("c", 100, 110), ("c", 200, 210)],
        "contig string, pos_start int, pos_end int",
    )
    blacklist = spark.createDataFrame(
        [("c", 95, 120)], "contig string, pos_start int, pos_end int"
    )
    kept = filter_by_overlap(df, blacklist, on="contig", negate=True, bin_width=64)
    assert {r["pos_start"] for r in kept.collect()} == {1, 200}
    semi = filter_by_overlap(df, blacklist, on="contig", bin_width=64)
    assert {r["pos_start"] for r in semi.collect()} == {100}


def test_semi_keeps_duplicates(spark):
    df = spark.createDataFrame(
        [("c", 5, 9), ("c", 5, 9)], "contig string, pos_start int, pos_end int"
    )
    regions = spark.createDataFrame(
        [("c", 1, 100), ("c", 2, 50)], "contig string, pos_start int, pos_end int"
    )
    # each duplicate row kept exactly once despite overlapping 2 regions
    assert filter_by_overlap(df, regions, on="contig", bin_width=64).count() == 2


@pytest.mark.parametrize("algorithm", ["naive", "binning", "index"])
def test_mark_join(spark, algorithm):
    from sequila_native_spark import mark_by_overlap

    df = spark.createDataFrame(
        [("c", 1, 10), ("c", 100, 110), ("c", 200, 210), ("d", 100, 110)],
        "contig string, pos_start int, pos_end int",
    )
    regions = spark.createDataFrame(
        [("c", 95, 120)], "contig string, pos_start int, pos_end int"
    )
    out = mark_by_overlap(df, regions, on="contig", algorithm=algorithm, bin_width=64)
    assert out.columns == [*df.columns, "has_overlap"]
    got = {(r["contig"], r["pos_start"]): r["has_overlap"] for r in out.collect()}
    # mark join keeps every probe row; only (c,100) overlaps the region —
    # (d,100) matches by bounds but not by key
    assert got == {
        ("c", 1): False, ("c", 100): True, ("c", 200): False, ("d", 100): False,
    }


def test_mark_join_duplicates_and_collision(spark):
    from sequila_native_spark import mark_by_overlap

    df = spark.createDataFrame(
        [("c", 5, 9), ("c", 5, 9)], "contig string, pos_start int, pos_end int"
    )
    regions = spark.createDataFrame(
        [("c", 1, 100), ("c", 2, 50)], "contig string, pos_start int, pos_end int"
    )
    out = mark_by_overlap(df, regions, on="contig", bin_width=64)
    # duplicates each marked once (no fan-out from matching 2 regions)
    assert [r["has_overlap"] for r in out.collect()] == [True, True]
    with pytest.raises(ValueError, match="already exists"):
        mark_by_overlap(
            df.withColumn("has_overlap", F.lit(1)), regions, on="contig"
        )
