"""The pair index shared by overlap_join and nearest_join (``index``):
typed payload columns travel through the Arrow ``take`` unchanged, and
floating keys match as Spark's join equality matches them. Every answer
is checked against the ``naive`` algorithm.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from decimal import Decimal

import pytest

from sequila_native_spark import (
    count_overlaps,
    coverage,
    map_intervals,
    nearest_join,
    overlap_count_agg,
    overlap_join,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _rows(df) -> Counter:
    # array and map values are unhashable: compare rows by their repr
    return Counter(repr(tuple(r)) for r in df.collect())


_PAYLOAD = (
    "contig string, pos_start int, pos_end int, arr array<int>, "
    "m map<string,int>, st struct<a:int,b:string>, dec decimal(12,3), "
    "ts timestamp, bin binary, ni int, ns string"
)
_TS = dt.datetime(2024, 3, 1, 12, 30, 5)


def _targets(spark, rows=None):
    if rows is None:
        rows = [
            ("chr1", 100, 190, [1, 2], {"a": 1}, (1, "x"), Decimal("1.500"),
             _TS, b"\x00\x01", 7, "s1"),
            # distinct (start, end) per key: nearest ties break on them
            ("chr1", 150, 380, None, None, None, None, None, None, None, None),
            ("chr1", 150, 400, [], {}, (None, None), Decimal("-2.250"),
             _TS + dt.timedelta(days=1), b"", None, "s3"),
            ("chr1", 900, 950, [3, None], {"b": None}, (3, "z"),
             Decimal("0.001"), _TS, b"\xff", 9, None),
            ("chr2", 10, 20, [4], {"c": 3}, (4, "w"), Decimal("4.000"), _TS,
             b"\x02", 10, "s5"),
        ]
    return spark.createDataFrame(rows, _PAYLOAD)


@pytest.fixture
def reads(spark):
    return spark.createDataFrame(
        [("chr1", 120, 160, "r1"), ("chr1", 500, 600, "r2"),
         ("chr1", 380, 950, "r3"), ("chr2", 30, 40, "r4"),
         ("chr3", 1, 5, "r5"), (None, 100, 200, "r6"),
         ("chr1", None, 200, "r7")],
        "contig string, pos_start int, pos_end int, tag string",
    )


_OPS = {
    "overlap": lambda l, r, algo: overlap_join(l, r, "contig", algorithm=algo),
    "nearest": lambda l, r, algo: nearest_join(l, r, "contig", algorithm=algo),
    "nearest_k2": lambda l, r, algo: nearest_join(
        l, r, "contig", algorithm=algo, k=2, distance_col="d"
    ),
}


@pytest.mark.parametrize("op", sorted(_OPS))
def test_typed_payload_matches_naive(spark, reads, op):
    run = _OPS[op]
    out = run(_targets(spark), reads, "index")
    assert "MapInArrow" in _plan(out)
    truth = _rows(run(_targets(spark), reads, "naive"))
    assert _rows(out) == truth
    assert len(truth) > 3


@pytest.mark.parametrize("op", sorted(_OPS))
def test_empty_build_side_matches_naive(spark, reads, op):
    run = _OPS[op]
    empty = _targets(spark, [])
    out = run(empty, reads, "index")
    truth = _rows(run(empty, reads, "naive"))
    assert _rows(out) == truth
    # overlap emits nothing; nearest null-pads every probe row
    assert sum(truth.values()) == (0 if op == "overlap" else reads.count())


@pytest.mark.parametrize("op, shuffle_node", [
    ("overlap", "Generate explode"),  # binning
    ("nearest", "FlatMapCoGroupsInArrow"),  # partitioned
])
def test_date_key_runs_the_shuffle_path(spark, op, shuffle_node):
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    left = spark.createDataFrame(
        [(d1, 1, 10, [1]), (d1, 8, 20, None), (d2, 1, 10, [2]),
         (None, 1, 10, [3])],
        "contig date, pos_start int, pos_end int, arr array<int>",
    )
    right = spark.createDataFrame(
        [(d1, 5, 9), (d2, 12, 15), (dt.date(2024, 1, 3), 0, 3), (None, 1, 10)],
        "contig date, pos_start int, pos_end int",
    )
    run = _OPS[op]
    out = run(left, right, "index")
    plan = _plan(out)
    assert shuffle_node in plan and "MapInArrow" not in plan, plan
    assert _rows(out) == _rows(run(left, right, "naive"))


@pytest.mark.parametrize("ltype, rtype", [
    ("int", "bigint"), ("decimal(10,2)", "decimal(12,3)"),
])
def test_key_pair_of_two_widths_runs_the_shuffle_path(spark, ltype, rtype):
    # the cogroup partitions by hash, which differs between two widths of
    # one value; the naive join compares the pair in one type. Coalescing
    # would put every group in one partition and hide a mismatch
    conv = Decimal if ltype.startswith("decimal") else int
    left = spark.createDataFrame(
        [(conv(i), 1, 10, i) for i in range(1, 40)], f"k {ltype}, s int, e int, v int"
    )
    right = spark.createDataFrame(
        [(conv(i), 2, 3) for i in range(1, 41)] + [(None, 2, 3)],
        f"k {rtype}, s int, e int",
    )
    kw = dict(on="k", left_start="s", left_end="e",
              right_start="s", right_end="e")
    out = nearest_join(left, right, **kw, algorithm="partitioned")
    assert "FlatMapCoGroupsInArrow" in _plan(out)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        got = _rows(out)
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert got == _rows(nearest_join(left, right, **kw, algorithm="naive"))
    assert sum(n for r, n in got.items() if r.startswith("(None")) == 2  # 40, null


def test_float_keys_match_naive(spark):
    # Spark's join and grouping equality hold NaN = NaN and -0.0 = 0.0
    nan = float("nan")
    left = spark.createDataFrame(
        [(nan, 1, 10, 1), (-0.0, 5, 20, 2), (0.0, 30, 40, 3),
         (1.5, 1, 5, 4), (None, 1, 10, 5), (nan, 3, 4, 6)],
        "k double, s int, e int, v int",
    )
    right = spark.createDataFrame(
        [(nan, 2, 3, 10), (0.0, 6, 7, 20), (-0.0, 35, 36, 30),
         (2.5, 1, 5, 40), (None, 1, 10, 50), (-0.0, 100, 110, 60)],
        "k double, s int, e int, v int",
    )
    kw = dict(on="k", left_start="s", left_end="e",
              right_start="s", right_end="e")
    for op, extra in (
        (overlap_join, {}),
        (nearest_join, {}),
        (count_overlaps, {}),
        (coverage, {}),
        (map_intervals, dict(aggs={"n": ("count", None), "vs": ("sum", "v")})),
    ):
        out = op(left, right, **kw, **extra, algorithm="index")
        assert "MapInArrow" in _plan(out), op.__name__
        assert _rows(out) == _rows(
            op(left, right, **kw, **extra, algorithm="naive")
        ), op.__name__

    agg = overlap_count_agg(left, right, **kw, alias="count")
    assert "MapInArrow" in _plan(agg)
    want = overlap_join(left, right, **kw, algorithm="naive").groupBy("k").count()
    assert _rows(agg) == _rows(want)
    # both special keys did match: two NaN pairs, and 0.0 pairs of either sign
    got = {("nan" if k != k else k): n for k, n in want.collect()}
    assert got == {"nan": 2, 0.0: 2}

    # the keyed shuffle path: a -0.0 build key against a 0.0 probe key
    # once aborted its cogroup, and a NaN key lost its match
    build = spark.createDataFrame([(nan, 1, 10), (-0.0, 5, 20)], "k double, s int, e int")
    probe = spark.createDataFrame([(nan, 2, 3), (0.0, 6, 7)], "k double, s int, e int")
    for k in (1, 2):
        out = nearest_join(build, probe, **kw, k=k, algorithm="partitioned")
        assert "FlatMapCoGroupsInArrow" in _plan(out)
        assert _rows(out) == _rows(
            nearest_join(build, probe, **kw, k=k, algorithm="naive")
        ), k
        # both probes matched, and the probe's own NaN key stays NaN
        (nan_row,) = [r for r in out.collect() if r["s_r"] == 2]
        assert nan_row["k"] != nan_row["k"] and nan_row["k_r"] != nan_row["k_r"]
        assert out.where("k IS NULL").count() == 0
