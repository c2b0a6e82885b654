"""Interval arithmetic at the int32 edges.

Bounds are int32 by contract, but a length, a clipped overlap or a gap
between two valid int32 bounds can exceed int32. Every operator must do
that arithmetic in bigint, as the numpy kernels do in int64: each
algorithm must equal ``naive``, and ``naive`` must equal a Python brute
force over the same rows.
"""

from __future__ import annotations

from collections import Counter

from sequila_native_spark import (
    count_overlaps,
    coverage,
    filter_by_overlap,
    interval_jaccard,
    map_intervals,
    mark_by_overlap,
    nearest_join,
    overlap_join,
    union_coverage,
)
from tests.conftest import rows_set

I32_MIN, I32_MAX = -(2**31), 2**31 - 1
WIDE = ("c", -2147483000, 2147483000)  # 4,294,966,001 bases
SMALL = ("c", 5, 10)
FULL = ("c", I32_MIN, I32_MAX)
SCHEMA = "contig string, pos_start int, pos_end int"


def _overlap(a, b) -> int:
    """Closed-interval overlap of two rows in bases (0 when none)."""
    if a[0] != b[0]:
        return 0
    return max(0, min(a[2], b[2]) - max(a[1], b[1]) + 1)


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_count_family_at_int32_edges(spark):
    # WIDE against itself overflows every int length and clip; WIDE
    # against SMALL overflows the fraction's length and the bin width's
    build, probe = [SMALL, WIDE], [WIDE, SMALL]
    left, right = _frame(spark, build), _frame(spark, probe)
    counts = {r: sum(_overlap(b, r) > 0 for b in build) for r in probe}
    bases = {r: sum(_overlap(b, r) for b in build) for r in probe}
    # map's per-left-row count, restricted to overlaps covering half of it
    half = {
        b: sum(2 * _overlap(b, r) >= b[2] - b[1] + 1 for r in probe)
        for b in build
    }

    def pair(op):  # (build, probe) argument order
        return lambda algo: op(left, right, "contig", algorithm=algo)

    def filt(op):  # the filters take (probe, build)
        return lambda algo: op(right, left, "contig", algorithm=algo)

    def mapped(algo):
        return map_intervals(
            left, right, "contig", aggs={"n": ("count", None)},
            min_frac_left=0.5, algorithm=algo,
        )

    cases = {
        "count": (pair(count_overlaps), [(*r, counts[r]) for r in probe]),
        "coverage": (pair(coverage), [(*r, counts[r], bases[r]) for r in probe]),
        "join": (pair(overlap_join),
                 [(*b, *r) for b in build for r in probe if _overlap(b, r)]),
        "map": (mapped, [(*b, half[b]) for b in build]),
        "semi": (filt(filter_by_overlap), [r for r in probe if counts[r]]),
        "mark": (filt(mark_by_overlap), [(*r, counts[r] > 0) for r in probe]),
    }
    for name, (run, want) in cases.items():
        truth = rows_set(run("naive"))
        assert truth == Counter(want), name
        for algo in ("binning", "index"):
            assert rows_set(run(algo)) == truth, (name, algo)


def test_nearest_distance_at_int32_edges(spark):
    build = [("c", 2147483000, 2147483001), ("c", 2147482000, 2147482001)]
    probe = [("c", -2147483000, -2147482999)]
    left, right = _frame(spark, build), _frame(spark, probe)
    # the probe lies left of every build row: the gap is build start − probe end
    near = min(build, key=lambda b: b[1])
    want = Counter([(*near, *probe[0], near[1] - probe[0][2])])
    truth = rows_set(nearest_join(
        left, right, "contig", algorithm="naive", rsuffix="_r", distance_col="d"
    ))
    assert truth == want
    for algo in ("index", "partitioned"):
        got = nearest_join(
            left, right, "contig", algorithm=algo, rsuffix="_r", distance_col="d"
        )
        assert rows_set(got) == truth, algo


def test_union_coverage_and_jaccard_at_int32_edges(spark):
    full = _frame(spark, [FULL])
    got = rows_set(union_coverage(full, full, "contig"))
    assert got == Counter([(*FULL, 2**32)])
    wide = _frame(spark, [WIDE])
    n = WIDE[2] - WIDE[1] + 1
    got = rows_set(interval_jaccard(wide, wide, "contig"))
    assert got == Counter([("c", n, n, 1000)])
