"""Overlap-join correctness: reference goldens + cross-algorithm agreement.

Mirrors the reference's four-pillar test strategy (SURVEY.md §5): the naive
predicate join is the oracle (= ``prefer_interval_join=false``), every
algorithm must produce the identical sorted output, and the tiny golden
fixtures from ``integration_test.rs`` pin absolute row counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import overlap_join
from tests.conftest import rows_set
from _testdata import SF0_001

# "partitioned" (and its alias "cogroup") runs binning:
# test_partitioned_name_runs_binning
ALGORITHMS = ["naive", "binning", "index"]
# reference algorithm names must parse too (session_context.rs:85-104)
REFERENCE_NAMES = ["Coitrees", "IntervalTree", "ArrayIntervalTree", "Lapper", "SuperIntervals"]


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_equi_range_golden_16_rows(spark, reads, targets, algorithm):
    # integration_test.rs:40-65 — equi+range join over reads×targets = 16 rows
    out = overlap_join(
        reads, targets, on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="pos_start", right_end="pos_end",
        algorithm=algorithm, bin_width=1000,
    )
    assert out.count() == 16


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_range_only_golden_32_rows(spark, reads, targets, algorithm):
    # integration_test.rs:120-161 — no equi-key (A2, lit(1) group) = 32 rows
    out = overlap_join(
        reads, targets, on=None,
        algorithm=algorithm, bin_width=1000,
    )
    assert out.count() == 32


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_boundary_sweep_inclusive_10(spark, table_a, table_b, algorithm):
    # integration_test.rs:261-276 — inclusive bounds: 10 of 12 match
    out = overlap_join(
        table_a, table_b, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm=algorithm, bin_width=4,
    )
    got = {tuple(r) for r in out.select("start_r", "end_r").collect()}
    assert got == {
        (10, 15), (10, 10), (9, 15), (5, 15), (4, 15),
        (4, 10), (6, 8), (4, 8), (4, 5), (5, 5),
    }  # touching intervals DO match; only (11,15) and (4,4) drop


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_boundary_sweep_strict_6(spark, table_a, table_b, algorithm):
    # integration_test.rs:330-341 — strict <,>: touching rows drop out → 6
    out = overlap_join(
        table_a, table_b, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        strict=True, algorithm=algorithm, bin_width=4,
    )
    got = {tuple(r) for r in out.select("start_r", "end_r").collect()}
    assert got == {(9, 15), (5, 15), (4, 15), (4, 10), (6, 8), (4, 8)}
    # touching rows (10,15) (10,10) (4,5) (5,5) drop under strict predicates


def test_cross_algorithm_agreement(spark, reads, targets):
    results = [
        rows_set(
            overlap_join(reads, targets, on="contig", algorithm=a, bin_width=777)
        )
        for a in ALGORITHMS
    ]
    assert all(r == results[0] for r in results)
    assert sum(results[0].values()) == 16


@pytest.mark.parametrize("name", REFERENCE_NAMES)
def test_reference_algorithm_names_accepted(spark, reads, targets, name):
    out = overlap_join(reads, targets, on="contig", algorithm=name)
    assert out.count() == 16


def test_conf_algorithm_and_prefer_flag(spark, reads, targets):
    # sequila.prefer_interval_join=false ⇒ vanilla plan (naive), still correct
    spark.conf.set("spark.sequila.preferIntervalJoin", "false")
    try:
        out = overlap_join(reads, targets, on="contig")
        assert out.count() == 16
    finally:
        spark.conf.set("spark.sequila.preferIntervalJoin", "true")


def test_extra_columns_ride_along(spark):
    left = spark.createDataFrame(
        [("chr1", 1, 10, "gene1")], "contig string, start int, end int, name string"
    )
    right = spark.createDataFrame(
        [("chr1", 5, 6, 0.5)], "contig string, start int, end int, score double"
    )
    out = overlap_join(
        left, right, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm="binning",
    )
    assert out.columns == ["contig", "start", "end", "name", "contig_r", "start_r", "end_r", "score"]
    assert out.collect()[0]["name"] == "gene1"


@pytest.mark.parametrize("algorithm", ["naive", "binning"])
def test_int32_overflow_errors(spark, algorithm):
    # interval_join.rs:1927-1968 — out-of-i32 bound must raise, not wrap
    left = spark.createDataFrame(
        [("chr1", 1, 2147483648)], "contig string, start long, end long"
    )
    right = spark.createDataFrame([("chr1", 1, 10)], "contig string, start long, end long")
    out = overlap_join(
        left, right, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm=algorithm,
    )
    with pytest.raises(Exception, match="Can't cast value 2147483648 to type Int32"):
        out.collect()


def test_skewed_key_distribution(spark):
    # one contig holds ~95% of the data — the AQE-skew regime; all
    # algorithms must stay correct (naive is ground truth)
    rows = [("hot", i * 3, i * 3 + 20) for i in range(950)]
    rows += [(f"c{i%10}", i * 7, i * 7 + 5) for i in range(50)]
    left = spark.createDataFrame(rows, "contig string, start int, end int")
    right = spark.createDataFrame(
        [(c, s + 2, e + 9) for c, s, e in rows[::2]], "contig string, start int, end int"
    )
    results = {}
    for algo in ALGORITHMS:
        results[algo] = (
            overlap_join(
                left, right, on="contig",
                left_start="start", left_end="end",
                right_start="start", right_end="end",
                algorithm=algo, bin_width=64,
            ).count()
        )
    assert len(set(results.values())) == 1 and results["naive"] > 0


def test_join_order_invariance(spark, reads, targets):
    a = rows_set(
        overlap_join(targets, reads, on="contig", algorithm="binning").select(
            "pos_start", "pos_end", "pos_start_r", "pos_end_r"
        )
    )
    b = rows_set(
        overlap_join(reads, targets, on="contig", algorithm="binning").select(
            F.col("pos_start_r").alias("pos_start"),
            F.col("pos_end_r").alias("pos_end"),
            F.col("pos_start").alias("pos_start_r"),
            F.col("pos_end").alias("pos_end_r"),
        )
    )
    assert a == b


@pytest.mark.parametrize("algorithm", ALGORITHMS)
@pytest.mark.parametrize("how", ["left", "right", "full"])
def test_outer_overlap_agrees_with_naive_sql(spark, reads, targets, how, algorithm):
    # joins/utils.rs:496-521 declares Left/Right; naive Catalyst outer join
    # is the oracle for every accelerated algorithm
    kwargs = dict(
        on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="pos_start", right_end="pos_end",
        how=how, bin_width=1000,
    )
    got = rows_set(overlap_join(reads, targets, algorithm=algorithm, **kwargs))
    want = rows_set(overlap_join(reads, targets, algorithm="naive", **kwargs))
    assert got == want


@pytest.mark.parametrize("how", ["inner", "left"])
def test_partitioned_name_runs_binning(spark, reads, targets, how):
    # overlap_join's one shuffle path is binning: both names of the reference's
    # Partitioned mode run it, with no cogroup in the plan
    kw = dict(on="contig", how=how, bin_width=1000)
    want = rows_set(overlap_join(reads, targets, algorithm="naive", **kw))
    for name in ("partitioned", "cogroup"):
        out = overlap_join(reads, targets, algorithm=name, **kw)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "FlatMapCoGroups" not in plan, plan
        assert "Generate explode" in plan, plan
        assert rows_set(out) == want


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_left_outer_pads_unmatched(spark, algorithm):
    build = spark.createDataFrame(
        [("c1", 1, 5), ("c1", 100, 200), ("cZ", 1, 5)],
        "contig string, start int, end int",
    )
    probe = spark.createDataFrame(
        [("c1", 3, 4)], "contig string, start int, end int"
    )
    out = overlap_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        how="left", algorithm=algorithm, bin_width=10,
    )
    got = rows_set(out)
    assert got == {
        ("c1", 1, 5, "c1", 3, 4): 1,
        ("c1", 100, 200, None, None, None): 1,
        ("cZ", 1, 5, None, None, None): 1,
    }


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_right_outer_pads_unmatched_and_keeps_duplicates(spark, algorithm):
    build = spark.createDataFrame(
        [("c1", 1, 5)], "contig string, start int, end int"
    )
    probe = spark.createDataFrame(
        [("c1", 3, 4), ("c1", 50, 60), ("c1", 50, 60), ("cX", 1, 2)],
        "contig string, start int, end int",
    )
    out = overlap_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        how="right", algorithm=algorithm, bin_width=10,
    )
    got = rows_set(out)
    assert got == {
        ("c1", 1, 5, "c1", 3, 4): 1,
        (None, None, None, "c1", 50, 60): 2,  # duplicates preserved
        (None, None, None, "cX", 1, 2): 1,
    }


def test_outer_rejects_bad_how(spark, reads, targets):
    with pytest.raises(ValueError, match="how="):
        overlap_join(reads, targets, on="contig", how="cross")


def _failed_work(spark, since_ms: int) -> str:
    """The failed jobs, stages and SQL executions in the status store that
    were submitted at or after ``since_ms`` (JVM clock), with their failure
    reasons: what an action's exception alone may not name (a job
    cancelled because "the corresponding SQL query has failed")."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously

    def jlist(*items):
        out = jvm.java.util.ArrayList()
        for item in items:
            out.add(item)
        return out

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def opt(o):
        return o.get() if o.isDefined() else None

    def since(date):
        return date.isDefined() and date.get().getTime() >= since_ms

    store = jsc.statusStore()
    lines = [
        f"job {j.jobId()} ({j.name()}), stages {seq(j.stageIds())}"
        for j in seq(store.jobsList(jlist(jvm.org.apache.spark.JobExecutionStatus.FAILED)))
        if since(j.submissionTime())
    ]
    stages = store.stageList(
        jlist(jvm.org.apache.spark.status.api.v1.StageStatus.FAILED), False, False,
        sc._gateway.new_array(jvm.double, 0), jlist(),
    )
    lines += [
        f"stage {st.stageId()}.{st.attemptId()} ({st.name()}): "
        f"{opt(st.failureReason())}"
        for st in seq(stages) if since(st.submissionTime())
    ]
    lines += [
        f"SQL execution {e.executionId()}: {e.errorMessage().get()}"
        for e in seq(spark._jsparkSession.sharedState().statusStore().executionsList())
        if e.submissionTime() >= since_ms and e.errorMessage().isDefined()
    ]
    return "\n".join(lines) or "no failed job, stage or SQL execution in the status store"


@pytest.mark.parametrize("algorithm", ALGORITHMS)
def test_full_outer_pads_both_sides(spark, algorithm):
    build = spark.createDataFrame(
        [("c1", 1, 5), ("c1", 100, 200), ("cZ", 1, 5)],
        "contig string, start int, end int",
    )
    probe = spark.createDataFrame(
        [("c1", 3, 4), ("c1", 50, 60), ("cX", 1, 2)],
        "contig string, start int, end int",
    )
    out = overlap_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        how="full", algorithm=algorithm, bin_width=10,
    )
    # this action failed once, its job cancelled for a failed SQL query
    # whose error was lost: a failure now reports what the store recorded
    since_ms = spark.sparkContext._jvm.System.currentTimeMillis()
    try:
        got = rows_set(out)
    except Exception as e:
        raise AssertionError(f"{e}\n{_failed_work(spark, since_ms)}") from e
    assert got == {
        ("c1", 1, 5, "c1", 3, 4): 1,
        ("c1", 100, 200, None, None, None): 1,
        ("cZ", 1, 5, None, None, None): 1,
        (None, None, None, "c1", 50, 60): 1,
        (None, None, None, "cX", 1, 2): 1,
    }


def test_window_join_matches_widened_predicate(spark, reads, targets):
    """bedtools window: proximity-within-N == overlap after widening."""
    from pyspark.sql import functions as F

    from sequila_native_spark import window_join
    from tests.conftest import rows_set

    W = 150
    got = window_join(
        reads, targets, on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="pos_start", right_end="pos_end",
        window=W,
    )
    # naive oracle: widened predicate join, original columns
    cond = (
        (reads["contig"] == targets["contig"])
        & (reads["pos_start"] - W <= targets["pos_end"])
        & (reads["pos_end"] + W >= targets["pos_start"])
    )
    want = reads.alias("l").join(
        targets.selectExpr("contig AS contig_r", "pos_start AS pos_start_r",
                           "pos_end AS pos_end_r").alias("r"),
        (F.col("l.contig") == F.col("r.contig_r"))
        & (F.col("l.pos_start") - W <= F.col("r.pos_end_r"))
        & (F.col("l.pos_end") + W >= F.col("r.pos_start_r")),
    )
    assert rows_set(got) == rows_set(want)
    assert sum(rows_set(got).values()) > 0
    # window=0 degenerates to the plain overlap join
    from sequila_native_spark import overlap_join

    assert rows_set(
        window_join(reads, targets, on="contig",
                    left_start="pos_start", left_end="pos_end",
                    right_start="pos_start", right_end="pos_end", window=0)
    ) == rows_set(
        overlap_join(reads, targets, on="contig")
    )


def test_low_memory_emit_cap_same_rows_and_conf_restored(spark, reads, targets):
    """A8: ``spark.sequila.intervalJoinLowMemory=true`` bounds the index
    path's emitted Arrow batches (100k cap) without changing a single output
    row, and conf scoping in the driver query restores the prior value."""
    kw = dict(
        on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="pos_start", right_end="pos_end",
        algorithm="index",
    )
    base = rows_set(overlap_join(reads, targets, **kw))
    key = "spark.sequila.intervalJoinLowMemory"
    spark.conf.set(key, "true")
    try:
        capped = rows_set(overlap_join(reads, targets, **kw))
    finally:
        spark.conf.unset(key)
    assert capped == base

    # driver query scoping: explicit prior value survives the call
    import __spark_entry__ as entry

    spark.conf.set(key, "false")
    try:
        entry.queries()["overlap_count_low_memory"](
            spark, SF0_001
        ).collect()
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.unset(key)


def test_index_algorithm_with_array_payload(spark):
    """Array-typed build columns can't be dictionary-encoded — the index
    path must carry them raw instead of crashing in the categorical
    compaction (reviewer, r7)."""
    left = spark.createDataFrame(
        [("c1", 10, 20, [1, 2, 3]), ("c1", 30, 40, [])],
        "contig string, pos_start int, pos_end int, tags array<int>",
    )
    right = spark.createDataFrame(
        [("c1", 15, 16), ("c1", 35, 36), ("c1", 100, 101)],
        "contig string, p_start int, p_end int",
    )
    kw = dict(on="contig", right_start="p_start", right_end="p_end")
    got = {
        (r["p_start"], tuple(r["tags"]))
        for r in overlap_join(left, right, **kw, algorithm="index").collect()
    }
    want = {
        (r["p_start"], tuple(r["tags"]))
        for r in overlap_join(left, right, **kw, algorithm="naive").collect()
    }
    assert got == want == {(15, (1, 2, 3)), (35, ())}


def test_rsuffix_collision_with_existing_column_raises(spark):
    """Renaming right 'x' to 'x_r' when 'x_r' already exists would silently
    drop the right side's data in the index path's column split — must raise
    (reviewer, r7)."""
    left = spark.createDataFrame(
        [("c1", 1, 5, 7, 8)],
        "contig string, pos_start int, pos_end int, x int, x_r int",
    )
    right = spark.createDataFrame(
        [("c1", 2, 3, 9)], "contig string, pos_start int, pos_end int, x int"
    )
    with pytest.raises(ValueError, match="collides"):
        overlap_join(left, right, on="contig")


def test_strict_at_int32_min_raises_bounds_error(spark):
    """strict=True shrinks ends by 1 BEFORE the i32 check: an end of
    exactly I32_MIN must surface as the documented cast error, never wrap
    to +I32_MAX (reviewer, r7)."""
    left = spark.createDataFrame(
        [("c1", -2147483648, -2147483648)],
        "contig string, pos_start long, pos_end long",
    )
    right = spark.createDataFrame(
        [("c1", 5, 9)], "contig string, pos_start long, pos_end long"
    )
    with pytest.raises(Exception, match="[Cc]ast"):
        overlap_join(left, right, on="contig", strict=True,
                     rsuffix="_r").collect()
