"""map_intervals (bedtools ``map``) + minimum-overlap-fraction predicates
(bedtools ``-f/-F/-r/-e``) + the ``stab`` point-query helper.

Correctness strategy mirrors the reference's cross-implementation pillar
(SURVEY.md §5): every case compares the accelerated path against a
brute-force Python oracle over the same rows, and fraction filters are
additionally pinned against hand-checked tiny fixtures.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import (
    count_overlaps,
    filter_by_overlap,
    map_intervals,
    overlap_join,
    stab,
)
from tests.conftest import rows_set


def _brute_pairs(a_rows, b_rows, min_f=None, min_F=None, either=False):
    """All overlapping (i, j) index pairs with optional fraction filters."""
    out = []
    for i, (ca, sa, ea) in enumerate(a_rows):
        for j, (cb, sb, eb) in enumerate(b_rows):
            if ca != cb or sa > eb or ea < sb:
                continue
            ov = min(ea, eb) - max(sa, sb) + 1
            conds = []
            if min_f is not None:
                conds.append(ov >= min_f * (ea - sa + 1))
            if min_F is not None:
                conds.append(ov >= min_F * (eb - sb + 1))
            if conds and not (any(conds) if either else all(conds)):
                continue
            out.append((i, j))
    return out


A_ROWS = [
    ("c1", 10, 19),    # len 10
    ("c1", 100, 199),  # len 100
    ("c1", 500, 500),  # point
    ("c2", 10, 19),
    ("c2", 1000, 1099),
]
B_ROWS = [
    ("c1", 15, 24),    # overlaps A0 by 5 (half of A0, half of B0)
    ("c1", 110, 119),  # inside A1: covers 10/100 of A1, 10/10 of B1
    ("c1", 190, 290),  # overlaps A1 by 10: 10/100 of A1, 10/101 of B2
    ("c1", 500, 509),  # covers A2's point: 1/1 of A2, 1/10 of B3
    ("c2", 5, 12),     # overlaps A3 by 3
    ("c3", 10, 19),    # wrong contig
]


@pytest.fixture(scope="module")
def ab(spark):
    a = spark.createDataFrame(
        [(c, s, e, i) for i, (c, s, e) in enumerate(A_ROWS)],
        "contig string, a_start int, a_end int, a_id int",
    )
    b = spark.createDataFrame(
        [(c, s, e, i, (e - s + 1)) for i, (c, s, e) in enumerate(B_ROWS)],
        "contig string, b_start int, b_end int, b_id int, b_len int",
    )
    return a, b


_SPEC = dict(
    on="contig", left_start="a_start", left_end="a_end",
    right_start="b_start", right_end="b_end",
)


@pytest.mark.parametrize("algorithm", ["naive", "binning", "index"])
@pytest.mark.parametrize(
    "kw,min_f,min_F,either",
    [
        (dict(min_frac_left=0.5), 0.5, None, False),
        (dict(min_frac_right=0.5), None, 0.5, False),
        (dict(min_frac_left=0.5, min_frac_right=0.5), 0.5, 0.5, False),
        (dict(min_frac_left=0.5, reciprocal=True), 0.5, 0.5, False),
        (dict(min_frac_left=0.9, min_frac_right=0.5, either=True), 0.9, 0.5, True),
        (dict(min_frac_left=1.0), 1.0, None, False),
    ],
)
def test_overlap_join_fractions_vs_brute(spark, ab, algorithm, kw, min_f, min_F, either):
    a, b = ab
    got = rows_set(
        overlap_join(a, b, algorithm=algorithm, **_SPEC, **kw).select("a_id", "b_id")
    )
    want = {(i, j): 1 for i, j in _brute_pairs(A_ROWS, B_ROWS, min_f, min_F, either)}
    assert dict(got) == want


def test_fraction_validation(spark, ab):
    a, b = ab
    with pytest.raises(ValueError, match="reciprocal"):
        overlap_join(a, b, **_SPEC, min_frac_right=0.5, reciprocal=True)
    with pytest.raises(ValueError, match="requires min_frac_left"):
        overlap_join(a, b, **_SPEC, reciprocal=True)
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        overlap_join(a, b, **_SPEC, min_frac_left=1.5).count()
    with pytest.raises(ValueError, match="strict"):
        overlap_join(a, b, **_SPEC, strict=True, min_frac_left=0.5)
    with pytest.raises(ValueError, match="inner"):
        overlap_join(a, b, **_SPEC, how="left", min_frac_left=0.5)
    with pytest.raises(ValueError, match="either"):
        overlap_join(a, b, **_SPEC, either=True)


@pytest.mark.parametrize("algorithm", ["naive", "binning"])
def test_map_intervals_vs_brute(spark, ab, algorithm):
    a, b = ab
    out = map_intervals(
        a, b, **_SPEC, algorithm=algorithm,
        aggs={
            "n_b": ("count", None),
            "sum_len": ("sum", "b_len"),
            "min_id": ("min", "b_id"),
            "max_id": ("max", "b_id"),
            "ids": ("collect", "b_id"),
        },
    )
    got = {
        r["a_id"]: (r["n_b"], r["sum_len"], r["min_id"], r["max_id"], tuple(r["ids"] or ()))
        for r in out.collect()
    }
    pairs = _brute_pairs(A_ROWS, B_ROWS)
    want = {}
    for i in range(len(A_ROWS)):
        js = sorted(j for pi, j in pairs if pi == i)
        lens = [B_ROWS[j][2] - B_ROWS[j][1] + 1 for j in js]
        want[i] = (
            len(js),
            sum(lens) if js else None,
            min(js) if js else None,
            max(js) if js else None,
            tuple(js),
        )
    assert got == want
    # every left row survives, including no-match ones
    assert out.count() == len(A_ROWS)


def test_map_intervals_fraction_and_ops(spark, ab):
    a, b = ab
    out = map_intervals(
        a, b, **_SPEC, min_frac_right=0.5,
        aggs={"n_b": ("count", None), "mean_len": ("mean", "b_len"),
              "uniq": ("count_distinct", "contig")},
    )
    got = {r["a_id"]: r["n_b"] for r in out.collect()}
    pairs = _brute_pairs(A_ROWS, B_ROWS, None, 0.5)
    for i in range(len(A_ROWS)):
        assert got[i] == sum(1 for pi, _ in pairs if pi == i)


def test_map_intervals_validation(spark, ab):
    a, b = ab
    with pytest.raises(ValueError, match="at least one aggregate"):
        map_intervals(a, b, **_SPEC, aggs={})
    with pytest.raises(ValueError, match="unknown map op"):
        map_intervals(a, b, **_SPEC, aggs={"x": ("median", "b_id")})
    with pytest.raises(ValueError, match="counts overlapping rows"):
        map_intervals(a, b, **_SPEC, aggs={"x": ("count", "b_id")})
    with pytest.raises(ValueError, match="value column"):
        map_intervals(a, b, **_SPEC, aggs={"x": ("sum", "nope")})
    with pytest.raises(ValueError, match="already exists"):
        map_intervals(a, b, **_SPEC, aggs={"a_id": ("sum", "b_len")})


def _filter_rows(ab, algorithm, **kw):
    a, b = ab
    kept = filter_by_overlap(
        a, b, on="contig", df_start="a_start", df_end="a_end",
        regions_start="b_start", regions_end="b_end",
        min_frac_df=0.5, algorithm=algorithm, **kw,
    )
    return {r["a_id"] for r in kept.collect()}


@pytest.mark.parametrize("negate", [False, True])
def test_filter_by_overlap_fraction(spark, ab, negate):
    qualifying = {i for i, _ in _brute_pairs(A_ROWS, B_ROWS, 0.5, None)}
    want = {
        i for i in range(len(A_ROWS))
        if (i in qualifying) != negate
    }
    for algorithm in ("binning", "index"):
        assert _filter_rows(ab, algorithm, negate=negate) == want, algorithm


def test_filter_by_overlap_reciprocal_fraction(spark, ab):
    # bedtools -r: the df fraction applies to the region as well; A2's
    # point is all of A2 but a tenth of B3, so it no longer qualifies
    want = {i for i, _ in _brute_pairs(A_ROWS, B_ROWS, 0.5, 0.5)}
    assert want != {i for i, _ in _brute_pairs(A_ROWS, B_ROWS, 0.5, None)}
    for algorithm in ("binning", "index"):
        assert _filter_rows(ab, algorithm, reciprocal=True) == want, algorithm
    with pytest.raises(ValueError, match="requires min_frac_df"):
        filter_by_overlap(
            *ab, on="contig", df_start="a_start", df_end="a_end",
            regions_start="b_start", regions_end="b_end", reciprocal=True,
        )


def test_count_overlaps_fraction(spark, ab):
    a, b = ab
    # count left(a) intervals per right(b) row, only where the overlap covers
    # >= 50% of the b row (min_frac_right — b is the right side here)
    out = count_overlaps(
        a, b, **_SPEC, count_col="n", min_frac_right=0.5,
    )
    got = {r["b_id"]: r["n"] for r in out.collect()}
    pairs = _brute_pairs(A_ROWS, B_ROWS, None, 0.5)
    want = {j: sum(1 for _, pj in pairs if pj == j) for j in range(len(B_ROWS))}
    assert got == want


def test_stab_matches_interval_path(spark, ab):
    a, _ = ab
    for contig, pos in [("c1", 15), ("c1", 500), ("c2", 1050), ("c1", 9999)]:
        got = {r["a_id"] for r in stab(
            a, pos, key=contig, on="contig", start="a_start", end="a_end"
        ).collect()}
        want = {
            i for i, (c, s, e) in enumerate(A_ROWS)
            if c == contig and s <= pos <= e
        }
        assert got == want, (contig, pos)
