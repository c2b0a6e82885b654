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
    cluster_intervals,
    complement_intervals,
    count_overlaps,
    coverage,
    filter_by_overlap,
    interval_jaccard,
    map_intervals,
    mark_by_overlap,
    merge_intervals,
    nearest_join,
    overlap_join,
    union_coverage,
    window_join,
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


def _runs(rows, max_gap=0):
    """Merged runs ``[contig, start, end, n]``, as bedtools merge -d."""
    runs = []
    for c, s, e in sorted(rows):
        if runs and runs[-1][0] == c and s <= runs[-1][2] + 1 + max_gap:
            runs[-1][2] = max(runs[-1][2], e)
            runs[-1][3] += 1
        else:
            runs.append([c, s, e, 1])
    return runs


# the reach past the last end (end + 1 + max_gap) is past int32
TOP = [("c", 2147483000, I32_MAX), ("c", 2147483640, I32_MAX)]


def test_merge_and_cluster_at_int32_edges(spark):
    df = _frame(spark, TOP)
    runs = _runs(TOP)
    assert rows_set(merge_intervals(df, "contig")) == Counter(map(tuple, runs))
    want = Counter(
        (c, s, e, i + 1, rs, re)
        for c, s, e in TOP
        for i, (rc, rs, re, _) in enumerate(runs)
        if rc == c and rs <= s and e <= re
    )
    assert rows_set(cluster_intervals(df, "contig")) == want


def test_complement_at_int32_edges(spark):
    for rows in ([FULL], [("c", 0, I32_MAX)], [("c", I32_MIN, 0), ("c", 9, I32_MAX)]):
        runs = _runs(rows)
        want = Counter(
            (a[0], a[2] + 1, b[1] - 1)
            for a, b in zip(runs, runs[1:])
            if a[0] == b[0] and b[1] - 1 >= a[2] + 1
        )
        got = rows_set(complement_intervals(_frame(spark, rows), "contig"))
        assert got == want, rows


def test_window_join_at_int32_edges(spark):
    window = 500
    left = [("c", -2147483600, -2147483500), ("c", 2147483500, 2147483600)]
    right = [
        ("c", I32_MIN, I32_MIN), ("c", -2147483000, -2147482990),
        ("c", I32_MAX, I32_MAX), ("c", 2147482900, 2147483000), ("c", 0, 5),
    ]
    want = Counter(
        (*a, *b) for a in left for b in right
        if b[1] <= a[2] + window and b[2] >= a[1] - window
    )
    assert len(want) == 4
    lf, rf = _frame(spark, left), _frame(spark, right)
    for algo in ("naive", "binning", "index"):
        got = window_join(lf, rf, "contig", window=window, algorithm=algo)
        assert rows_set(got) == want, algo
