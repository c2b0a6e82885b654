"""Nearest-join golden (F3) + count-overlaps correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import count_overlaps, nearest_join, overlap_join
from tests.conftest import rows_set


@pytest.mark.parametrize("algorithm", ["naive", "index", "partitioned"])
def test_nearest_golden(spark, nearest_a, nearest_b, algorithm):
    # integration_test.rs:352-399 (strict-inequality query, CoitreesNearest):
    # every probe (b) row emits exactly one row; rows whose (contig, strand)
    # group has no build rows get null left columns.
    out = nearest_join(
        nearest_a, nearest_b, on=["contig", "strand"],
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        strict=True, algorithm=algorithm,
    )
    got = rows_set(out)
    expected = {
        (None, None, None, None, "a", "x", 0, 1): 1,
        (None, None, None, None, "b", "s", 1, 2): 1,
        ("a", "s", 5, 10, "a", "s", 11, 13): 1,
        ("a", "s", 5, 10, "a", "s", 20, 21): 1,
    }
    assert dict(got) == expected


@pytest.mark.parametrize("algorithm", ["naive", "index", "partitioned"])
def test_nearest_overlap_first(spark, algorithm):
    # overlap wins over a closer-by-distance... overlap distance is 0;
    # deterministic tie-break picks min (start, end) among overlapping.
    build = spark.createDataFrame(
        [("c", 1, 100), ("c", 5, 20), ("c", 200, 300)],
        "contig string, start int, end int",
    )
    probe = spark.createDataFrame([("c", 10, 15)], "contig string, start int, end int")
    out = nearest_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm=algorithm,
    )
    row = out.collect()[0]
    assert (row["start"], row["end"]) == (1, 100)


@pytest.mark.parametrize("algorithm", ["naive", "index", "partitioned"])
def test_nearest_true_minimum_not_reference_heuristic(spark, algorithm):
    # The reference's binary-search heuristic (interval_join.rs:926-951) would
    # return (50,60) here; the true nearest is (0,100) (distance 50 vs 90).
    build = spark.createDataFrame(
        [("c", 0, 100), ("c", 50, 60)], "contig string, start int, end int"
    )
    probe = spark.createDataFrame([("c", 150, 160)], "contig string, start int, end int")
    out = nearest_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm=algorithm,
    )
    row = out.collect()[0]
    assert (row["start"], row["end"]) == (0, 100)


@pytest.mark.parametrize("algorithm", ["naive", "binning", "index"])
def test_count_overlaps(spark, reads, targets, algorithm):
    out = count_overlaps(
        reads, targets, on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="pos_start", right_end="pos_end",
        algorithm=algorithm, bin_width=1000,
    )
    got = {
        (r["contig"], r["pos_start"], r["pos_end"]): r["count"] for r in out.collect()
    }
    # probe side returned in full: 10 target rows
    assert len(got) == 10
    # totals must equal the overlap-join row count (16)
    assert sum(got.values()) == 16
    # chr1 22100-22100 overlaps the chr1 22000-22300 read only
    assert got[("chr1", 22100, 22100)] == 1
    # zero-match probe rows survive with count 0
    assert got[("chr2", 10000, 20000)] == 1


@pytest.mark.parametrize("algorithm", ["binning", "index"])
def test_count_overlaps_zero_rows_survive(spark, algorithm):
    build = spark.createDataFrame([("c1", 1, 5)], "contig string, start int, end int")
    probe = spark.createDataFrame(
        [("c1", 100, 200), ("cX", 1, 5)], "contig string, start int, end int"
    )
    out = count_overlaps(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        algorithm=algorithm, bin_width=50,
    )
    got = {(r["contig"], r["start"]): r["count"] for r in out.collect()}
    assert got == {("c1", 100): 0, ("cX", 1): 0}


def test_count_matches_join_groupcount(spark, reads, targets):
    joined = overlap_join(targets, reads, on="contig", algorithm="binning")
    agg = (
        joined.groupBy("contig", "pos_start", "pos_end")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    via_join = {
        (r["contig"], r["pos_start"], r["pos_end"]): r["count"] for r in agg.collect()
    }
    direct = count_overlaps(
        reads, targets, on="contig", algorithm="index",
    )
    via_op = {
        (r["contig"], r["pos_start"], r["pos_end"]): r["count"]
        for r in direct.collect()
        if r["count"] > 0
    }
    assert via_join == via_op


def test_coitrees_nearest_mode(spark, nearest_a, nearest_b):
    # SET sequila.interval_join_algorithm TO CoitreesNearest makes the SAME
    # overlap-join call run with nearest semantics (integration_test.rs:
    # 352-399) — through the session conf, the explicit algorithm= name,
    # the Column-condition route, and the SQL text route.
    from pyspark.sql import functions as F

    from sequila_native_spark import overlap_join
    from sequila_native_spark.operators.condition import overlap_join_on
    from sequila_native_spark.sql import sequila_sql

    expected = rows_set(
        nearest_join(
            nearest_a, nearest_b, on=["contig", "strand"],
            left_start="start", left_end="end",
            right_start="start", right_end="end", strict=True,
        )
    )
    assert sum(expected.values()) == 4  # golden: one row per probe row

    # explicit algorithm= name
    got = overlap_join(
        nearest_a, nearest_b, on=["contig", "strand"],
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        strict=True, algorithm="CoitreesNearest",
    )
    assert rows_set(got) == expected

    spark.conf.set("spark.sequila.intervalJoinAlgorithm", "CoitreesNearest")
    try:
        # session conf route (no explicit algorithm)
        got = overlap_join(
            nearest_a, nearest_b, on=["contig", "strand"],
            left_start="start", left_end="end",
            right_start="start", right_end="end", strict=True,
        )
        assert rows_set(got) == expected

        # Column-condition route (the optimizer-rule analogue)
        cond = (
            (nearest_a["contig"] == nearest_b["contig"])
            & (nearest_a["strand"] == nearest_b["strand"])
            & (nearest_a["start"] < nearest_b["end"])
            & (nearest_a["end"] > nearest_b["start"])
        )
        got = overlap_join_on(nearest_a, nearest_b, cond)
        assert rows_set(got) == expected

        # SQL text route (the reference integration test verbatim)
        nearest_a.createOrReplaceTempView("na")
        nearest_b.createOrReplaceTempView("nb")
        got = sequila_sql(spark, """
            SELECT * FROM na JOIN nb
            ON na.contig = nb.contig AND na.strand = nb.strand
                AND na.start < nb.end AND na.end > nb.start
        """)
        assert rows_set(got) == expected

        # non-interval SQL still falls through to plain spark.sql
        assert sequila_sql(spark, "SELECT 1 AS one").first()["one"] == 1
    finally:
        spark.conf.unset("spark.sequila.intervalJoinAlgorithm")


def test_coitrees_count_overlaps_rejected(spark, nearest_a, nearest_b):
    from sequila_native_spark import overlap_join

    with pytest.raises(ValueError, match="count_overlaps"):
        overlap_join(
            nearest_a, nearest_b, on=["contig", "strand"],
            left_start="start", left_end="end",
            right_start="start", right_end="end",
            algorithm="CoitreesCountOverlaps",
        )


# ---------------------------------------------------------------------------
# k-nearest (bedtools closest -k)
# ---------------------------------------------------------------------------

def test_k_nearest_golden_all_paths(spark):
    from sequila_native_spark import nearest_join
    from tests.conftest import rows_set

    build = spark.createDataFrame(
        [("a", 1, 3), ("a", 5, 9), ("a", 6, 7), ("a", 20, 25), ("b", 0, 1)],
        "contig string, pos_start int, pos_end int",
    )
    probe = spark.createDataFrame(
        [("a", 8, 10), ("a", 14, 15), ("c", 1, 2)],
        "contig string, s int, e int",
    )
    # probe (a,8,10): overlaps [5,9] and [6,7] -> dist 0 both, lex order;
    #   then k=3 adds the nearer flank: [1,3] dist 5 vs [20,25] dist 10
    # probe (a,14,15): no overlap; [6,7]? dist 14-7=7; [5,9] dist 5; [20,25]
    #   dist 5 -> tie broken by start: [5,9] first, then [20,25], then [6,7]
    # probe (c,1,2): no group -> single null row
    want = {
        ("a", 5, 9, "a", 8, 10): 1, ("a", 6, 7, "a", 8, 10): 1,
        ("a", 1, 3, "a", 8, 10): 1,
        ("a", 5, 9, "a", 14, 15): 1, ("a", 20, 25, "a", 14, 15): 1,
        ("a", 6, 7, "a", 14, 15): 1,
        (None, None, None, "c", 1, 2): 1,
    }
    for algo in ("naive", "index", "partitioned"):
        got = rows_set(
            nearest_join(
                build, probe, on="contig",
                left_start="pos_start", left_end="pos_end",
                right_start="s", right_end="e",
                algorithm=algo, k=3,
            )
        )
        assert got == want, (algo, got)


def test_k_nearest_up_to_k_semantics(spark):
    from sequila_native_spark import nearest_join

    build = spark.createDataFrame([("a", 1, 2)], "contig string, pos_start int, pos_end int")
    probe = spark.createDataFrame([("a", 5, 6)], "contig string, s int, e int")
    for algo in ("naive", "index", "partitioned"):
        rows = nearest_join(
            build, probe, on="contig",
            left_start="pos_start", left_end="pos_end",
            right_start="s", right_end="e", algorithm=algo, k=4,
        ).collect()
        assert len(rows) == 1  # only one build row exists


def test_k_nearest_rejects_bad_k(spark, nearest_a, nearest_b):
    import pytest
    from sequila_native_spark import nearest_join

    for bad in (0, -1, 1.5, "3"):
        with pytest.raises(ValueError, match="positive integer"):
            nearest_join(nearest_a, nearest_b, on=["contig", "strand"],
                         left_start="start", left_end="end",
                         right_start="start", right_end="end", k=bad)


def test_nearest_k_via_conf(spark):
    """spark.sequila.nearestK drives k for conf-driven entry points (the
    CoitreesNearest SQL route has no k argument)."""
    from sequila_native_spark import nearest_join

    build = spark.createDataFrame(
        [("a", 1, 2), ("a", 10, 11), ("a", 20, 21)],
        "contig string, pos_start int, pos_end int",
    )
    probe = spark.createDataFrame([("a", 12, 13)], "contig string, s int, e int")
    args = dict(on="contig", left_start="pos_start", left_end="pos_end",
                right_start="s", right_end="e")
    spark.conf.set("spark.sequila.nearestK", "2")
    try:
        assert nearest_join(build, probe, **args).count() == 2
        # explicit k overrides the conf
        assert nearest_join(build, probe, k=1, **args).count() == 1
    finally:
        spark.conf.unset("spark.sequila.nearestK")
    assert nearest_join(build, probe, **args).count() == 1


@pytest.mark.parametrize("algorithm", ["naive", "index", "partitioned"])
def test_nearest_distance_col(spark, algorithm):
    """closest -d: 0 for overlap, gap otherwise, null for padded rows."""
    build = spark.createDataFrame(
        [("a", 1, 3), ("a", 10, 12)], "contig string, pos_start int, pos_end int"
    )
    probe = spark.createDataFrame(
        [("a", 2, 4), ("a", 5, 6), ("z", 0, 1)], "contig string, s int, e int"
    )
    out = nearest_join(
        build, probe, on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="s", right_end="e",
        algorithm=algorithm, distance_col="distance",
    )
    got = {(r["s"], r["e"]): r["distance"] for r in out.collect()}
    assert got == {(2, 4): 0, (5, 6): 2, (0, 1): None}


def test_nearest_distance_col_strict(spark):
    """strict=True shrinks ends before the distance, matching the join."""
    build = spark.createDataFrame([("a", 1, 5)], "contig string, pos_start int, pos_end int")
    probe = spark.createDataFrame([("a", 5, 8)], "contig string, s int, e int")
    loose = nearest_join(build, probe, on="contig",
                         left_start="pos_start", left_end="pos_end",
                         right_start="s", right_end="e",
                         distance_col="distance").first()
    assert loose["distance"] == 0  # [1,5] and [5,8] touch
    tight = nearest_join(build, probe, on="contig",
                         left_start="pos_start", left_end="pos_end",
                         right_start="s", right_end="e",
                         strict=True, distance_col="distance").first()
    assert tight["distance"] == 1  # normalized [1,4] vs [5,7]: gap 1


# --- bedtools closest -io / -iu / -id (candidate-class flags, r5) ----------

_CL_BUILD = [
    ("c", 10, 20), ("c", 10, 20), ("c", 30, 35), ("c", 100, 200),
    ("c", 140, 150), ("c", 400, 401), ("c", 5, 500),
    ("d", 50, 60),
]
_CL_PROBE = [
    ("c", 15, 18),    # overlaps several; upstream none; downstream (30,35)
    ("c", 25, 28),    # no overlap... (5,500) overlaps actually
    ("c", 210, 390),  # inside (5,500); upstream (100,200); downstream (400,401)
    ("c", 600, 610),  # nothing downstream
    ("d", 10, 20),    # only (50,60) downstream
    ("e", 1, 2),      # empty group -> null row always
]


def _closest_brute(flags):
    io, iu, idn = flags
    out = {}
    for pi, (pc, ps, pe) in enumerate(_CL_PROBE):
        best = None
        for (bc, bs, be) in _CL_BUILD:
            if bc != pc:
                continue
            if bs <= pe and be >= ps:
                if io:
                    continue
                d = 0
            elif be < ps:
                if iu:
                    continue
                d = ps - be
            else:
                if idn:
                    continue
                d = bs - pe
            cand = (d, bs, be)
            if best is None or cand < best:
                best = cand
        out[pi] = None if best is None else (best[1], best[2])
    return out


@pytest.mark.parametrize("algorithm", ["naive", "index", "partitioned"])
@pytest.mark.parametrize(
    "flags",
    [(True, False, False), (False, True, False), (False, False, True),
     (True, True, False), (True, False, True), (False, True, True)],
)
def test_closest_class_flags_vs_brute(spark, algorithm, flags):
    build = spark.createDataFrame(_CL_BUILD, "contig string, start int, end int")
    probe = spark.createDataFrame(
        [(c, s, e, i) for i, (c, s, e) in enumerate(_CL_PROBE)],
        "contig string, p_start int, p_end int, pid int",
    )
    io, iu, idn = flags
    out = nearest_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="p_start", right_end="p_end",
        algorithm=algorithm,
        ignore_overlaps=io, ignore_upstream=iu, ignore_downstream=idn,
    )
    got = {r["pid"]: (None if r["start"] is None else (r["start"], r["end"]))
           for r in out.collect()}
    assert got == _closest_brute(flags), (algorithm, flags)
    # one row per probe, always
    assert out.count() == len(_CL_PROBE)


def test_closest_flags_validation(spark):
    build = spark.createDataFrame(_CL_BUILD, "contig string, start int, end int")
    probe = spark.createDataFrame(
        _CL_PROBE, "contig string, p_start int, p_end int"
    )
    kw = dict(on="contig", left_start="start", left_end="end",
              right_start="p_start", right_end="p_end")
    with pytest.raises(ValueError, match="every candidate class"):
        nearest_join(build, probe, **kw, ignore_overlaps=True,
                     ignore_upstream=True, ignore_downstream=True)
    with pytest.raises(ValueError, match="k=1 only"):
        nearest_join(build, probe, **kw, k=2, ignore_overlaps=True)


def test_closest_io_with_distance_col(spark):
    build = spark.createDataFrame(_CL_BUILD, "contig string, start int, end int")
    probe = spark.createDataFrame(
        [(c, s, e, i) for i, (c, s, e) in enumerate(_CL_PROBE)],
        "contig string, p_start int, p_end int, pid int",
    )
    out = nearest_join(
        build, probe, on="contig",
        left_start="start", left_end="end",
        right_start="p_start", right_end="p_end",
        ignore_overlaps=True, distance_col="dist",
    )
    for r in out.collect():
        if r["start"] is not None:
            assert r["dist"] > 0  # -io never returns an overlap


# --- every path vs naive on random tables with nulls and sparse islands ----


def _rp_random_tables(spark, seed, n_build=120, n_probe=90):
    """Random interval pair with UNIQUE (start, end) per key so winner ties
    cannot differ by payload across algorithms (the tie-break is
    (distance, start, end) everywhere; payloads of tied bounds are not
    ordered). Includes sparse coordinate regions, long spans, null bounds,
    null keys, and a probe-only key — inputs the hypothesis generators of
    test_property_agreement.py never produce."""
    import random

    rng = random.Random(seed)
    seen = set()
    build = []
    while len(build) < n_build:
        key = rng.choice(["c1", "c2", "c3"])
        # clustered + sparse: most intervals in [0, 2000], a far island at
        # [90000, 92000] so a nearest build can lie across a wide gap
        base = 90000 if rng.random() < 0.1 else 0
        s = base + rng.randrange(0, 2000)
        e = s + (rng.randrange(0, 3000) if rng.random() < 0.05
                 else rng.randrange(0, 60))
        if (key, s, e) in seen:
            continue
        seen.add((key, s, e))
        build.append((key, s, e, len(build)))
    probe = []
    for i in range(n_probe):
        key = rng.choice(["c1", "c2", "c3", "c4"])  # c4: no build rows
        base = 90000 if rng.random() < 0.1 else 0
        s = base + rng.randrange(0, 2200)
        e = s + rng.randrange(0, 80)
        probe.append((key, s, e, i))
    probe.append((None, 5, 9, n_probe))      # null key
    probe.append(("c1", None, None, n_probe + 1))  # null bounds
    probe.append(("c1", 50, None, n_probe + 2))    # null END only
    probe.append(("c2", None, 70, n_probe + 3))    # null START only
    b = spark.createDataFrame(build, "contig string, start int, end int, bid int")
    p = spark.createDataFrame(
        probe, "contig string, p_start int, p_end int, pid int"
    )
    return b, p


_NEAREST_PATHS = ("index", "partitioned")


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize(
    "extra",
    [dict(), dict(k=3), dict(ignore_overlaps=True), dict(ignore_upstream=True),
     dict(ignore_downstream=True), dict(ignore_overlaps=True, ignore_upstream=True),
     dict(strict=True)],
)
def test_nearest_paths_match_naive_random(spark, seed, extra):
    build, probe = _rp_random_tables(spark, seed)
    kw = dict(on="contig", left_start="start", left_end="end",
              right_start="p_start", right_end="p_end")
    base = rows_set(nearest_join(build, probe, **kw, **extra, algorithm="naive"))
    for algo in _NEAREST_PATHS:
        got = rows_set(nearest_join(build, probe, **kw, **extra, algorithm=algo))
        assert got == base, (algo, extra)


def test_nearest_keyless(spark):
    """on=None: one build set for every probe, on every path."""
    build = spark.createDataFrame(
        [(10, 20, 0), (400, 410, 1), (90000, 90005, 2)], "s int, e int, bid int"
    )
    probe = spark.createDataFrame(
        [(15, 16, 0), (430, 431, 1), (50000, 50001, 2)], "ps int, pe int, pid int"
    )
    for algo in ("naive", *_NEAREST_PATHS):
        out = nearest_join(build, probe, on=None, left_start="s", left_end="e",
                           right_start="ps", right_end="pe",
                           algorithm=algo, distance_col="d")
        got = {r["pid"]: (r["s"], r["e"], r["d"]) for r in out.collect()}
        assert got == {
            0: (10, 20, 0), 1: (400, 410, 20), 2: (90000, 90005, 39999)
        }, algo


def test_range_partitioned_name_rejected(spark):
    """The chunked range_partitioned and the probe-broadcast nearest paths
    were removed; their names are now unknown algorithms, as argument and
    as session conf."""
    build, probe = _rp_random_tables(spark, seed=3, n_build=4, n_probe=3)
    kw = dict(on="contig", left_start="start", left_end="end",
              right_start="p_start", right_end="p_end")
    for name in ("range_partitioned", "broadcast_probe", "probe_broadcast"):
        with pytest.raises(ValueError, match="Unknown interval join algorithm"):
            nearest_join(build, probe, **kw, algorithm=name)
        try:
            spark.conf.set("spark.sequila.intervalJoinAlgorithm", name)
            with pytest.raises(ValueError, match="Unknown interval join algorithm"):
                nearest_join(build, probe, **kw)
        finally:
            spark.conf.unset("spark.sequila.intervalJoinAlgorithm")


def test_huge_coordinates_raise_int32_guard(spark):
    """Coordinates beyond int32 (and a fortiori beyond double-exact 2^53)
    must RAISE via the checked-int32 bounds contract on every path."""
    base_c = 1 << 60
    build = spark.createDataFrame(
        [("c1", base_c + 10, base_c + 20, 0)],
        "contig string, start long, end long, bid int",
    )
    probe = spark.createDataFrame(
        [("c1", base_c + 25, base_c + 30, 2)],
        "contig string, p_start long, p_end long, pid int",
    )
    kw = dict(on="contig", left_start="start", left_end="end",
              right_start="p_start", right_end="p_end")
    for algo in ("naive", *_NEAREST_PATHS):
        with pytest.raises(Exception, match="[Cc]ast"):
            nearest_join(build, probe, **kw, algorithm=algo).collect()
