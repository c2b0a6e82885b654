"""Exact golden-output parity with the reference test suite.

Pins the reference's inline golden tables (not just row counts):
``integration_test.rs:40-65`` (equi+range 16 rows) and the q0–q3
projection/phrasing variants (``interval_join.rs:1814-1843``), plus the
SQL-surface phrasings the reference exercises (comma-join + WHERE,
``integration_test.rs:248-256``) answered via temp views + the recognizer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import overlap_join, overlap_join_on
from tests.conftest import rows_set

# integration_test.rs:40-65 golden: (read start,end) × (target start,end) per contig
GOLDEN_EQUI = {
    ("chr1", 150, 250, 100, 190), ("chr1", 150, 250, 200, 290),
    ("chr1", 190, 300, 100, 190), ("chr1", 190, 300, 200, 290),
    ("chr1", 300, 501, 400, 600), ("chr1", 500, 700, 400, 600),
    ("chr1", 15000, 15000, 10000, 20000), ("chr1", 22000, 22300, 22100, 22100),
    ("chr2", 150, 250, 100, 190), ("chr2", 150, 250, 200, 290),
    ("chr2", 190, 300, 100, 190), ("chr2", 190, 300, 200, 290),
    ("chr2", 300, 500, 400, 600), ("chr2", 500, 700, 400, 600),
    ("chr2", 15000, 15000, 10000, 20000), ("chr2", 22000, 22300, 22100, 22100),
}


@pytest.mark.parametrize("algorithm", ["naive", "binning", "index"])
def test_equi_range_exact_golden_rows(spark, reads, targets, algorithm):
    out = overlap_join(
        reads, targets, on="contig", algorithm=algorithm, bin_width=1000
    ).select(
        "contig", "pos_start", "pos_end", "pos_start_r", "pos_end_r"
    )
    got = {tuple(r) for r in out.collect()}
    assert got == GOLDEN_EQUI


def test_projection_variants_q0_q3(spark):
    # interval_join.rs:1814-1843: SELECT * / a.* / b.* / mixed column lists
    # must all answer over the rewritten join
    a = spark.createDataFrame([("a", 1, 2)], "contig string, start int, end int")
    b = spark.createDataFrame([("a", 1, 2)], "contig string, start int, end int")
    joined = overlap_join(
        a, b, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm="binning", bin_width=10,
    )
    q0 = joined  # SELECT *
    q1 = joined.select("contig", "start", "end")  # a.*
    q2 = joined.select("contig_r", "start_r", "end_r")  # b.*
    q3 = joined.select("start_r", "end", "end_r")  # b.start, a.end, b.end
    assert q0.count() == 1
    assert q1.collect() == [("a", 1, 2)]
    assert q2.collect() == [("a", 1, 2)]
    assert tuple(q3.collect()[0]) == (1, 2, 2)


def test_sql_comma_join_where_phrasing(spark, reads, targets):
    # integration_test.rs:248-256: `FROM a, b WHERE ...` phrasing; Catalyst
    # turns the WHERE into the join condition — identical output
    reads.createOrReplaceTempView("reads_v")
    targets.createOrReplaceTempView("targets_v")
    sql_out = spark.sql(
        """
        SELECT r.contig, r.pos_start, r.pos_end,
               t.pos_start AS pos_start_r, t.pos_end AS pos_end_r
        FROM reads_v r, targets_v t
        WHERE r.contig = t.contig
          AND r.pos_start <= t.pos_end AND r.pos_end >= t.pos_start
        """
    )
    assert {tuple(r) for r in sql_out.collect()} == GOLDEN_EQUI


def test_recognizer_matches_sql_surface(spark, reads, targets):
    cond = (
        (reads["contig"] == targets["contig"])
        & (reads["pos_start"] <= targets["pos_end"])
        & (reads["pos_end"] >= targets["pos_start"])
    )
    routed = overlap_join_on(reads, targets, cond, bin_width=1000).select(
        "contig", "pos_start", "pos_end", "pos_start_r", "pos_end_r"
    )
    assert {tuple(r) for r in routed.collect()} == GOLDEN_EQUI


def test_show_tables_and_set_surface(spark, reads):
    # CLI surface parity: SET / SHOW TABLES / EXPLAIN answer through Spark SQL
    reads.createOrReplaceTempView("reads_catalog_check")
    tables = {r["tableName"] for r in spark.sql("SHOW TABLES").collect()}
    assert "reads_catalog_check" in tables
    spark.sql("SET spark.sequila.intervalJoinAlgorithm=binning")
    assert spark.conf.get("spark.sequila.intervalJoinAlgorithm") == "binning"
    plan = spark.sql("EXPLAIN SELECT 1").collect()[0][0]
    assert "Physical Plan" in plan
