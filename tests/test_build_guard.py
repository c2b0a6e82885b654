"""Build-side memory guard: collect paths must never blindly toArrow().

Reference behavior is *accounted* build memory (``interval_join.rs:624-660``)
— an over-cap build errors early or falls back to a distributed plan instead
of OOMing the driver.
"""

from __future__ import annotations

import pytest

from sequila_native_spark import (
    count_overlaps,
    coverage,
    map_intervals,
    nearest_join,
    overlap_count_agg,
    overlap_join,
)
from sequila_native_spark.operators.interval_join import (
    _LE,
    _LS,
    BuildSideTooLargeError,
    _with_bounds,
    guarded_build_arrow,
)
from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS
from sequila_native_spark.sql import sequila_sql
from tests.conftest import rows_set


@pytest.fixture
def tiny_cap(spark):
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, "2")
    yield
    spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)


def test_guarded_collect_raises(spark, tiny_cap, reads):
    with pytest.raises(BuildSideTooLargeError, match="maxBroadcastBuildRows"):
        guarded_build_arrow(reads)


def test_guarded_collect_passes_under_cap(spark, reads):
    assert guarded_build_arrow(reads.limit(2)).num_rows == 2


def test_overlap_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = _no_python_probe(overlap_join(reads, targets, on="contig", algorithm="index"))
    want = overlap_join(reads, targets, on="contig", algorithm="naive")
    assert rows_set(got) == rows_set(want)


def test_keyless_overlap_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = overlap_join(reads.drop("contig"), targets.drop("contig"),
                       on=None, algorithm="index")
    want = overlap_join(reads.drop("contig"), targets.drop("contig"),
                        on=None, algorithm="naive")
    assert rows_set(got) == rows_set(want)


def test_nearest_index_falls_back_to_partitioned(spark, tiny_cap, reads, targets):
    got = nearest_join(reads, targets, on="contig", algorithm="index")
    assert "FlatMapCoGroupsInArrow" in _plan(got)
    want = nearest_join(reads, targets, on="contig", algorithm="naive")
    assert rows_set(got) == rows_set(want)


def test_keyless_nearest_index_raises(spark, tiny_cap, reads, targets):
    # build and probe both over the cap
    with pytest.raises(BuildSideTooLargeError):
        nearest_join(reads.drop("contig"), targets.drop("contig"),
                     on=None, algorithm="index").collect()


def test_keyless_nearest_index_chunks_an_over_cap_build(spark, tiny_cap, reads):
    # 12 build rows over the cap of 2, a probe of 2 under it
    probe = spark.createDataFrame([(100, 190), (21000, 21500)], "ps int, pe int")
    kw = dict(on=None, right_start="ps", right_end="pe")
    got = nearest_join(reads.drop("contig"), probe, **kw, algorithm="index")
    assert "FlatMapCoGroupsInArrow" in _plan(got)
    want = nearest_join(reads.drop("contig"), probe, **kw, algorithm="naive")
    assert rows_set(got) == rows_set(want)
    assert len(rows_set(want)) == 2


def test_count_overlaps_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = count_overlaps(reads, targets, on="contig", algorithm="index")
    want = count_overlaps(reads, targets, on="contig", algorithm="binning")
    assert rows_set(got) == rows_set(want)


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _no_python_probe(df):
    plan = _plan(df)
    for node in ("MapInArrow", "MapInPandas", "FlatMapCoGroupsInArrow"):
        assert node not in plan, plan
    return df


def test_coverage_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = _no_python_probe(coverage(reads, targets, on="contig", algorithm="index"))
    want = coverage(reads, targets, on="contig", algorithm="binning")
    assert rows_set(got) == rows_set(want)


def test_overlap_count_agg_falls_back_to_binning(spark, tiny_cap, reads, targets):
    got = _no_python_probe(overlap_count_agg(reads, targets, on="contig"))
    want = (
        overlap_join(reads, targets, on="contig", algorithm="binning", rsuffix="_r")
        .groupBy("contig").count()
    )
    assert rows_set(got) == rows_set(want)


def test_map_intervals_index_falls_back_to_binning(spark, tiny_cap, reads, targets):
    aggs = {"n": ("count", None), "s": ("sum", "pos_start")}
    got = _no_python_probe(
        map_intervals(reads, targets, "contig", aggs=aggs, algorithm="index")
    )
    want = map_intervals(reads, targets, "contig", aggs=aggs, algorithm="binning")
    assert rows_set(got) == rows_set(want)


@pytest.mark.parametrize("strict, start, end, value, column", [
    (False, 1, 2**31, "2147483648", _LE),
    (True, 1, 2**31 + 1, "2147483648", _LE),  # the end shrinks first
    (False, -(2**31) - 1, 0, "-2147483649", _LS),
    (True, 0, -(2**31), "-2147483649", _LE),
])
def test_with_bounds_int32_error_text(spark, strict, start, end, value, column):
    df = spark.createDataFrame([(start, end)], "s long, e long")
    with pytest.raises(
        Exception,
        match=rf"Cast error: Can't cast value {value} to type Int32 \(column {column}\)",
    ):
        _with_bounds(df, "s", "e", _LS, _LE, strict).collect()


@pytest.fixture
def ansi_off_unchecked(spark):
    """ANSI mode off, where a plain int cast wraps 2^31 to -2^31, plus the
    retired ``spark.sequila.checkInt32Bounds=false``, which must be ignored
    like any unknown key."""
    keys = ("spark.sql.ansi.enabled", "spark.sequila.checkInt32Bounds")
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "false")
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("op, algorithm", [
    (overlap_join, "naive"),
    (overlap_join, "binning"),
    (overlap_join, "index"),
    (count_overlaps, "binning"),
    (count_overlaps, "index"),
    (nearest_join, "index"),
    (nearest_join, "partitioned"),
], ids=lambda v: getattr(v, "__name__", v))
def test_out_of_range_bound_raises_with_ansi_off(
    spark, ansi_off_unchecked, op, algorithm
):
    # wrapped, the build's end reads -2^31 and [5, 10] would match nothing
    build = spark.createDataFrame(
        [("c", 1, 2**31)], "contig string, pos_start int, pos_end long"
    )
    probe = spark.createDataFrame(
        [("c", 5, 10)], "contig string, pos_start int, pos_end int"
    )
    with pytest.raises(
        Exception, match=r"Cast error: Can't cast value 2147483648 to type Int32"
    ):
        op(build, probe, "contig", algorithm=algorithm).collect()


@pytest.mark.parametrize("strict, end, raises", [
    (False, 2**31, True),
    (True, 2**31 + 1, True),  # a strict end shrinks by 1 before the check
    (True, 2**31, False),  # ... so 2^31 - 1 fits
])
def test_sql_bound_check_matches_overlap_join(
    spark, ansi_off_unchecked, strict, end, raises
):
    """``sequila_sql`` checks the same int32 bounds as ``overlap_join``:
    with ANSI off both raise the reference's error on a ``bigint`` end
    past int32, or both answer."""
    build = spark.createDataFrame(
        [("c", 1, end)], "contig string, pos_start int, pos_end long"
    )
    probe = spark.createDataFrame(
        [("c", 5, 10)], "contig string, pos_start int, pos_end int"
    )
    build.createOrReplaceTempView("guard_build")
    probe.createOrReplaceTempView("guard_probe")
    lt, gt = ("<", ">") if strict else ("<=", ">=")
    sql = (
        "SELECT count(*) AS n FROM guard_build a JOIN guard_probe b "
        f"ON a.contig = b.contig AND a.pos_start {lt} b.pos_end "
        f"AND a.pos_end {gt} b.pos_start"
    )
    runs = {
        "sequila_sql": lambda: sequila_sql(spark, sql).first()["n"],
        "overlap_join": lambda: overlap_join(
            build, probe, "contig", strict=strict
        ).count(),
    }
    try:
        for name, run in runs.items():
            if raises:
                with pytest.raises(Exception, match=(
                    r"Cast error: Can't cast value 2147483648 to type Int32 "
                    r"\(column __sq_le\)"
                )):
                    run()
            else:
                assert run() == 1, name
    finally:
        spark.catalog.dropTempView("guard_build")
        spark.catalog.dropTempView("guard_probe")


@pytest.mark.parametrize("strict", [False, True])
def test_with_bounds_in_range_values(spark, strict):
    df = spark.createDataFrame([(-(2**31), 2**31 - 1)], "s long, e long")
    (row,) = _with_bounds(df, "s", "e", _LS, _LE, strict).collect()
    assert (row[_LS], row[_LE]) == (-(2**31), 2**31 - 1 - strict)
