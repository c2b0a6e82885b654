"""Shared SparkSession + reference fixtures (FIXTURES.md F1–F5)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


@pytest.fixture(scope="session")
def spark():
    from sequila_native_spark import sequila_session

    # sequila_session also selects the worker daemon that keeps Spark's
    # zips off the Python workers' sys.path (~0.15 s less per Python task)
    s = sequila_session(
        SparkSession.builder.master("local[4]")
        .appName("sequila-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


# F1 — canonical reads/targets pair (testing/data/interval/*.csv;
# schema from interval_join.rs:1688-1694: pos_end deliberately wider).
READS_ROWS = [
    ("chr1", 150, 250), ("chr1", 190, 300), ("chr1", 300, 501),
    ("chr1", 500, 700), ("chr1", 22000, 22300), ("chr1", 15000, 15000),
    ("chr2", 150, 250), ("chr2", 190, 300), ("chr2", 300, 500),
    ("chr2", 500, 700), ("chr2", 22000, 22300), ("chr2", 15000, 15000),
]
TARGETS_ROWS = [
    ("chr1", 100, 190), ("chr1", 200, 290), ("chr1", 400, 600),
    ("chr1", 10000, 20000), ("chr1", 22100, 22100),
    ("chr2", 100, 190), ("chr2", 200, 290), ("chr2", 400, 600),
    ("chr2", 10000, 20000), ("chr2", 22100, 22100),
]

_INTERVAL_SCHEMA = StructType(
    [
        StructField("contig", StringType(), False),
        StructField("pos_start", IntegerType(), True),
        StructField("pos_end", LongType(), True),
    ]
)


@pytest.fixture(scope="session")
def reads(spark):
    return spark.createDataFrame(
        [(c, s, int(e)) for c, s, e in READS_ROWS], _INTERVAL_SCHEMA
    ).cache()


@pytest.fixture(scope="session")
def targets(spark):
    return spark.createDataFrame(
        [(c, s, int(e)) for c, s, e in TARGETS_ROWS], _INTERVAL_SCHEMA
    ).cache()


# F2 — boundary-condition sweep (integration_test.rs:217-236)
A_ROWS = [("a", 5, 10)]
B_ROWS = [
    ("a", 11, 15), ("a", 10, 15), ("a", 10, 10), ("a", 9, 15),
    ("a", 5, 15), ("a", 4, 15), ("a", 4, 10), ("a", 6, 8),
    ("a", 4, 8), ("a", 4, 5), ("a", 5, 5), ("a", 4, 4),
]

_ABC_SCHEMA = "contig string, start int, end int"


@pytest.fixture(scope="session")
def table_a(spark):
    return spark.createDataFrame(A_ROWS, _ABC_SCHEMA)


@pytest.fixture(scope="session")
def table_b(spark):
    return spark.createDataFrame(B_ROWS, _ABC_SCHEMA)


# F3 — nearest-join pair with two equi-keys (integration_test.rs:355-366)
_NEAREST_SCHEMA = "contig string, strand string, start int, end int"


@pytest.fixture(scope="session")
def nearest_a(spark):
    return spark.createDataFrame([("a", "s", 5, 10)], _NEAREST_SCHEMA)


@pytest.fixture(scope="session")
def nearest_b(spark):
    return spark.createDataFrame(
        [("a", "s", 11, 13), ("a", "s", 20, 21), ("a", "x", 0, 1), ("b", "s", 1, 2)],
        _NEAREST_SCHEMA,
    )


def rows_set(df):
    """Order-insensitive row multiset for golden comparisons."""
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())
