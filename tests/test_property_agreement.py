"""Property-based cross-algorithm agreement (beyond the reference's fixed
fixtures): random interval tables with dense/touching/point/nested intervals
must produce identical results under every algorithm, with the naive
predicate join as ground truth.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sequila_native_spark import nearest_join, overlap_join
from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS
from tests.conftest import rows_set

# small coordinate domain → lots of overlaps, touching bounds, point
# intervals, duplicates — the adversarial regime for bin/dedup logic;
# negative starts exercise floor-division binning across zero
interval = st.tuples(
    st.sampled_from(["c1", "c2"]),
    st.integers(min_value=-40, max_value=40),
    st.integers(min_value=0, max_value=15),
)

tables = st.tuples(
    st.lists(interval, min_size=1, max_size=25),
    st.lists(interval, min_size=1, max_size=25),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tables)
def test_all_algorithms_agree_with_naive(spark, tabs):
    lrows = [(c, s, s + ln) for c, s, ln in tabs[0]]
    rrows = [(c, s, s + ln) for c, s, ln in tabs[1]]
    left = spark.createDataFrame(lrows, "contig string, start int, end int")
    right = spark.createDataFrame(rrows, "contig string, start int, end int")

    def run(algo, **kw):
        return rows_set(
            overlap_join(
                left, right, on="contig",
                left_start="start", left_end="end",
                right_start="start", right_end="end",
                algorithm=algo, **kw,
            )
        )

    truth = run("naive")
    assert run("binning", bin_width=7) == truth
    assert run("binning", bin_width=1) == truth  # bin width must not matter
    assert run("index") == truth


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tables)
def test_nearest_algorithms_agree_with_naive(spark, tabs):
    # nearest is deterministic ((distance, start, end) tie-break), so exact
    # row-multiset equality must hold across every algorithm — including the
    # keyless chunked cogroup, whose correctness rests on the argmin being
    # associative across build chunks
    lrows = [(c, s, s + ln) for c, s, ln in tabs[0]]
    rrows = [(c, s, s + ln) for c, s, ln in tabs[1]]
    left = spark.createDataFrame(lrows, "contig string, start int, end int")
    right = spark.createDataFrame(rrows, "contig string, start int, end int")

    def run(algo):
        return rows_set(
            nearest_join(
                left, right, on="contig",
                left_start="start", left_end="end",
                right_start="start", right_end="end",
                algorithm=algo,
            )
        )

    truth = run("naive")
    assert run("index") == truth
    assert run("partitioned") == truth
    _check_keyless_over_cap(spark, lrows, rrows)


def _check_keyless_over_cap(spark, lrows, rrows, **kw):
    """Keyless nearest with the build over ``maxBroadcastBuildRows`` and
    the probe under it runs the chunked cogroup: each chunk's best
    candidates, then the global best per probe. The build repeats its rows
    until it outgrows the probe; a repeat of a (start, end)-only row is the
    same output row, so naive's answer holds whichever copy wins."""
    build = spark.createDataFrame(
        [(s, e) for _, s, e in lrows] * (len(rrows) // len(lrows) + 1),
        "start int, end int",
    ).repartition(3)
    probe = spark.createDataFrame([(s, e) for _, s, e in rrows], "s int, e int")
    args = dict(on=None, left_start="start", left_end="end",
                right_start="s", right_end="e", **kw)
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, str(len(rrows)))
    try:
        out = nearest_join(build, probe, algorithm="index", **args)
        assert "FlatMapCoGroupsInArrow" in out._jdf.queryExecution().analyzed().toString()
        got = rows_set(out)
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)
    assert got == rows_set(nearest_join(build, probe, algorithm="naive", **args)), kw


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(interval, min_size=1, max_size=25), st.integers(2, 50))
def test_sweep_operators_vs_brute_force(spark, tab, chunk_w):
    """merge / complement / depth_histogram against per-position brute force
    over random dense tables, with adversarial chunk widths."""
    from collections import Counter

    from sequila_native_spark import (
        complement_intervals,
        depth_histogram,
        merge_intervals,
    )

    rows = [(c, s, s + ln) for c, s, ln in tab]
    df = spark.createDataFrame(rows, "contig string, pos_start int, pos_end int")

    covered: dict = {}
    depth: Counter = Counter()
    for c, s, e in rows:
        for p in range(s, e + 1):
            covered.setdefault(c, set()).add(p)
            depth[(c, p)] += 1

    # merge: runs == maximal consecutive covered position runs
    want_runs = set()
    for c, pos in covered.items():
        ps = sorted(pos)
        run_s = ps[0]
        for a, b in zip(ps, ps[1:]):
            if b != a + 1:
                want_runs.add((c, run_s, a))
                run_s = b
        want_runs.add((c, run_s, ps[-1]))
    got_runs = {
        (r["contig"], r["pos_start"], r["pos_end"])
        for r in merge_intervals(df, chunk_width=chunk_w).collect()
    }
    assert got_runs == want_runs

    # complement: gaps between runs within the span
    want_gaps = set()
    for c, pos in covered.items():
        lo, hi = min(pos), max(pos)
        gap = None
        for p in range(lo, hi + 1):
            if p not in pos:
                gap = p if gap is None else gap
            elif gap is not None:
                want_gaps.add((c, gap, p - 1))
                gap = None
    got_gaps = {
        (r["contig"], r["pos_start"], r["pos_end"])
        for r in complement_intervals(df, chunk_width=chunk_w).collect()
    }
    assert got_gaps == want_gaps

    # depth histogram
    hist: Counter = Counter()
    for (c, _), d in depth.items():
        hist[(c, d)] += 1
    want_hist = {(c, d, n) for (c, d), n in hist.items()}
    got_hist = {
        (r["contig"], r["depth"], r["n_bases"])
        for r in depth_histogram(df, chunk_width=chunk_w).collect()
    }
    assert got_hist == want_hist


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tables, st.integers(min_value=2, max_value=4))
def test_k_nearest_algorithms_agree_with_naive(spark, tabs, k):
    lrows = [(c, s, s + ln) for c, s, ln in tabs[0]]
    rrows = [(c, s, s + ln) for c, s, ln in tabs[1]]
    left = spark.createDataFrame(lrows, "contig string, start int, end int")
    right = spark.createDataFrame(rrows, "contig string, s int, e int")
    args = dict(on="contig", left_start="start", left_end="end",
                right_start="s", right_end="e", k=k)
    want = rows_set(nearest_join(left, right, algorithm="naive", **args))
    for algo in ("index", "partitioned"):
        got = rows_set(nearest_join(left, right, algorithm=algo, **args))
        assert got == want, (algo, k)
    _check_keyless_over_cap(spark, lrows, rrows, k=k)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tables, st.sampled_from([(0.5, None, False), (None, 0.5, False),
                                (0.5, 0.5, True), (1.0, None, False)]))
def test_fraction_algorithms_agree_with_naive(spark, tabs, frac):
    # fraction predicates are a shared post-filter — every algorithm must
    # agree with the naive predicate join under the same fractions
    min_f, min_F, either = frac
    lrows = [(c, s, s + ln) for c, s, ln in tabs[0]]
    rrows = [(c, s, s + ln) for c, s, ln in tabs[1]]
    left = spark.createDataFrame(lrows, "contig string, start int, end int")
    right = spark.createDataFrame(rrows, "contig string, start int, end int")
    kw = dict(min_frac_left=min_f, min_frac_right=min_F,
              either=either and (min_f is not None and min_F is not None))

    def run(algo):
        return rows_set(
            overlap_join(
                left, right, on="contig",
                left_start="start", left_end="end",
                right_start="start", right_end="end",
                algorithm=algo, **kw,
            )
        )

    truth = run("naive")
    assert run("binning") == truth
    assert run("index") == truth


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tables, st.sampled_from([(True, False, False), (False, True, False),
                                (False, False, True), (True, True, False)]))
def test_closest_flags_algorithms_agree_with_naive(spark, tabs, flags):
    # the flagged kernel (strict-upstream end-sorted view, downstream flank,
    # optional overlap class) must agree with the naive left-outer join
    # whose class exclusion sits in the join condition
    io, iu, idn = flags
    lrows = [(c, s, s + ln) for c, s, ln in tabs[0]]
    rrows = [(c, s, s + ln) for c, s, ln in tabs[1]]
    left = spark.createDataFrame(lrows, "contig string, start int, end int")
    right = spark.createDataFrame(rrows, "contig string, start int, end int")

    def run(algo):
        return rows_set(
            nearest_join(
                left, right, on="contig",
                left_start="start", left_end="end",
                right_start="start", right_end="end",
                algorithm=algo,
                ignore_overlaps=io, ignore_upstream=iu, ignore_downstream=idn,
            )
        )

    truth = run("naive")
    assert run("index") == truth
    assert run("partitioned") == truth


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tables)
def test_map_intervals_consistent_with_count_overlaps(spark, tabs):
    # map's 'count' op over the binned pairs must equal count_overlaps with
    # sides swapped (left keeps rows in map; right keeps rows in count)
    from sequila_native_spark import count_overlaps, map_intervals

    lrows = [(c, s, s + ln, i) for i, (c, s, ln) in enumerate(tabs[0])]
    rrows = [(c, s, s + ln) for c, s, ln in tabs[1]]
    left = spark.createDataFrame(lrows, "contig string, start int, end int, lid int")
    right = spark.createDataFrame(rrows, "contig string, r_start int, r_end int")

    m = map_intervals(
        left, right, on="contig",
        left_start="start", left_end="end",
        right_start="r_start", right_end="r_end",
        aggs={"n": ("count", None)},
    )
    c = count_overlaps(
        right, left, on="contig",
        left_start="r_start", left_end="r_end",
        right_start="start", right_end="end",
        count_col="n",
    )
    got_m = {r["lid"]: r["n"] for r in m.collect()}
    got_c = {r["lid"]: r["n"] for r in c.collect()}
    assert got_m == got_c


def _filter_ops():
    """filter_by_overlap (semi, anti) and mark_by_overlap as operators on
    (build=left, probe=right) with the count family's keyword names."""
    from sequila_native_spark import filter_by_overlap, mark_by_overlap

    def as_op(name, fn, **extra):
        def op(left, right, on, left_start, left_end, right_start, right_end,
               algorithm):
            return fn(right, left, on, right_start, right_end, left_start,
                      left_end, algorithm=algorithm, **extra)

        op.__name__ = name
        return op

    return (
        as_op("semi", filter_by_overlap),
        as_op("anti", filter_by_overlap, negate=True),
        as_op("mark", mark_by_overlap),
    )


@pytest.mark.parametrize("flip", [False, True], ids=["int_build", "string_build"])
def test_mixed_key_families_agree_or_raise(spark, flip):
    # an int key against a string key: Spark's join coerces 1 = '1', the
    # index kernels' dict lookups cannot — so overlap_join, count_overlaps,
    # coverage, map_intervals, the semi/anti/mark filters and
    # overlap_count_agg must fall back to binning and agree with naive, and
    # every nearest_join path must raise
    from sequila_native_spark import (
        count_overlaps, coverage, map_intervals, overlap_count_agg,
    )

    ints = spark.createDataFrame(
        [(1, 10, 20, 1), (1, 30, 40, 2), (2, 10, 20, 3), (None, 10, 20, 4)],
        "contig int, start int, end int, v int",
    )
    strs = spark.createDataFrame(
        [("1", 15, 35, 1), ("2", 0, 5, 2), ("3", 10, 20, 3), (None, 10, 20, 4)],
        "contig string, start int, end int, v int",
    )
    left, right = (strs, ints) if flip else (ints, strs)
    kw = dict(on="contig", left_start="start", left_end="end",
              right_start="start", right_end="end")

    for op, extra in (
        (overlap_join, {}),
        (count_overlaps, {}),
        (coverage, {}),
        (map_intervals, dict(aggs={"n": ("count", None), "vs": ("sum", "v")})),
        *((op, {}) for op in _filter_ops()),
    ):
        truth = rows_set(op(left, right, **kw, **extra, algorithm="naive"))
        assert any(r[-1] for r in truth), op.__name__  # 1 = '1' did match
        for algo in ("binning", "index"):
            got = rows_set(op(left, right, **kw, **extra, algorithm=algo))
            assert got == truth, (op.__name__, algo)

    want = rows_set(
        overlap_join(left, right, **kw, algorithm="naive").groupBy("contig").count()
    )
    got = rows_set(overlap_count_agg(left, right, **kw, alias="count"))
    assert got == want

    for algo in ("naive", "index", "partitioned"):
        with pytest.raises(ValueError, match=r"\(int\).*\(string\)|\(string\).*\(int\)"):
            nearest_join(left, right, **kw, algorithm=algo)


# two keys (string + int) with nulls in either key and in the bounds, and
# negative lengths for inverted intervals; sides may be empty
keyed_interval = st.tuples(
    st.sampled_from(["c1", "c2", None]),
    st.sampled_from([1, 2, None]),
    st.one_of(st.none(), st.integers(min_value=-20, max_value=40)),
    st.integers(min_value=-3, max_value=12),
    st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
)
_TWO_KEY_ROW = ("c1", 1, 0, 10, 1)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.tuples(
    st.lists(keyed_interval, min_size=0, max_size=15),
    st.lists(keyed_interval, min_size=0, max_size=15),
))
@example(([], [_TWO_KEY_ROW]))  # empty build side
@example(([_TWO_KEY_ROW], []))  # empty probe side
def test_two_key_count_family_agrees_with_naive(spark, tabs):
    # the one Arrow index path groups rows by every key at once: a null in
    # either key or in a bound puts the row in no group, as SQL equality does
    from sequila_native_spark import (
        count_overlaps, coverage, map_intervals, overlap_count_agg,
    )

    schema = "c string, k int, s int, e int, v int"
    left, right = (
        spark.createDataFrame(
            [(c, k, s, None if s is None or ln == 0 else s + ln, v)
             for c, k, s, ln, v in rows],
            schema,
        )
        for rows in tabs
    )
    kw = dict(on=["c", "k"], left_start="s", left_end="e",
              right_start="s", right_end="e")
    aggs = {"n": ("count", None), "vs": ("sum", "v"), "vmax": ("max", "v")}
    filters = _filter_ops()
    for op, extra in (
        (count_overlaps, {}),
        (coverage, {}),
        (map_intervals, dict(aggs=aggs)),
        *((op, {}) for op in filters),
    ):
        out = op(left, right, **kw, **extra, algorithm="index")
        plan = out._jdf.queryExecution().analyzed().toString()
        # the Arrow probe, and no binned pair shuffle
        assert "MapInArrow" in plan and "Generate explode" not in plan, (
            op.__name__, plan)
        truth = rows_set(op(left, right, **kw, **extra, algorithm="naive"))
        assert rows_set(out) == truth, op.__name__
        if op in filters:  # the count family's shuffle plan, filtered
            binned = op(left, right, **kw, algorithm="binning")
            assert rows_set(binned) == truth, op.__name__

    want = rows_set(
        overlap_join(left, right, **kw, algorithm="naive", rsuffix="_r")
        .groupBy("c", "k").count()
    )
    assert rows_set(overlap_count_agg(left, right, **kw, alias="count")) == want


def test_date_key_runs_binning(spark):
    # date keys are outside the Arrow index's key types: every count-family
    # operator runs the binning plan and gives the naive rows
    import datetime as dt

    from sequila_native_spark import (
        count_overlaps, coverage, map_intervals, overlap_count_agg,
    )

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    left = spark.createDataFrame(
        [(d1, 1, 10, 5), (d1, 8, 20, 6), (d2, 1, 10, 7), (None, 1, 10, 8)],
        "d date, s int, e int, v int",
    )
    right = spark.createDataFrame(
        [(d1, 5, 9, 1), (d2, 12, 15, 2), (d2, 0, 3, 3), (None, 1, 10, 4)],
        "d date, s int, e int, v int",
    )
    kw = dict(on="d", left_start="s", left_end="e",
              right_start="s", right_end="e")
    for op, extra in (
        (count_overlaps, {}),
        (coverage, {}),
        (map_intervals, dict(aggs={"n": ("count", None), "vs": ("sum", "v")})),
        *((op, {}) for op in _filter_ops()),
    ):
        out = op(left, right, **kw, **extra, algorithm="index")
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "MapInArrow" not in plan and "Generate explode" in plan, plan
        truth = rows_set(op(left, right, **kw, **extra, algorithm="naive"))
        assert rows_set(out) == truth, op.__name__
        assert any(r[-1] for r in truth), op.__name__  # some rows matched

    agg = overlap_count_agg(left, right, **kw, alias="count")
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" not in plan and "Generate explode" in plan, plan
    want = rows_set(
        overlap_join(left, right, **kw, algorithm="naive", rsuffix="_r")
        .groupBy("d").count()
    )
    assert rows_set(agg) == want


# --- r6 prep-op laws under random corpora -------------------------------

doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "dd1", "x@y.io", "10.0.0.1", ""]),
        min_size=0, max_size=40,
    ).map(" ".join),
    min_size=1, max_size=20,
)

chunk_params = st.tuples(
    st.integers(min_value=1, max_value=12),   # size
    st.integers(min_value=0, max_value=11),   # overlap (clamped < size)
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_texts, chunk_params)
def test_chunk_laws_random(spark, texts, params):
    from sequila_native_spark.functions import chunk_documents

    size, overlap = params
    overlap = min(overlap, size - 1)
    stride = size - overlap
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = chunk_documents(df, size=size, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in enumerate(texts):
        toks = text.split(" ")
        n = len(toks)
        expect_chunks = 1 + -(-max(n - size, 0) // stride)  # ceil div
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        assert len(chunks) == expect_chunks
        # reconstruction: stitching chunk heads + final tail == the doc
        rebuilt = []
        for c in chunks[:-1]:
            rebuilt.extend(c["chunk_text"].split(" ")[:stride])
        rebuilt.extend(chunks[-1]["chunk_text"].split(" "))
        # the last chunk may re-cover tokens emitted by earlier heads
        assert rebuilt[-len(toks):] == toks if len(rebuilt) >= len(toks) else False
        # every chunk except possibly the last is exactly `size` tokens
        for c in chunks[:-1]:
            assert c["n_tokens"] == size


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_texts, st.integers(min_value=1, max_value=30),
       st.integers(min_value=1, max_value=4))
def test_pack_laws_random(spark, texts, capacity, shards):
    from sequila_native_spark.functions import pack_documents

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = pack_documents(df, capacity=capacity, shards=shards).collect()
    assert len(rows) == len(texts)
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for rs in by_shard.values():
        spans = sorted((r["start_tok"], r["n_tokens"]) for r in rs)
        pos = 0
        for s, n in spans:
            assert s == pos  # gapless tiling
            pos += n
        for r in rs:
            assert r["first_pack"] == r["start_tok"] // capacity
            assert r["last_pack"] == (r["start_tok"] + r["n_tokens"] - 1) // capacity
            assert r["pack_offset"] == r["start_tok"] % capacity


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_texts)
def test_redact_idempotent_random(spark, texts):
    # redaction placeholders contain no digits/@, so redact∘redact == redact
    from pyspark.sql import functions as F

    from sequila_native_spark.functions import redact_pii

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    once = df.select(redact_pii(F.col("text")).alias("t"))
    twice = once.select(redact_pii(F.col("t")).alias("t"))
    assert [r["t"] for r in once.collect()] == [r["t"] for r in twice.collect()]


# --- r6 cross-engine fuzz: random text through BOTH engines -------------

fuzz_text = st.lists(
    st.sampled_from([
        "a", "b9", "x@y.io", "u.v+w@mail.co", "10.0.0.1", "999.1.2.3",
        "123-45-6789", "4111-1111-1111-1111", "+1 415-555-0000",
        ".", "@", "-", "1.2", "", "двойной", "@@", "a@b", "1-2-3",
    ]),
    min_size=0, max_size=25,
).map(" ".join)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(fuzz_text, min_size=1, max_size=12),
       st.integers(min_value=1, max_value=9))
def test_prep_ops_cross_engine_fuzz(spark, texts, size):
    """pii_stats / redact_pii / chunk_documents / pack_documents agree
    byte-for-byte between Spark (Java regex, Catalyst) and DuckDB (RE2,
    its own SQL engine) on adversarial random input — the portability
    claims, fuzzed rather than example-pinned."""
    import duckdb
    from pyspark.sql import functions as F

    from sequila_native_spark.functions import (
        chunk_documents, chunk_documents_sql,
        pack_documents, pack_documents_sql,
        pii_stats, pii_stats_sql, redact_pii, redact_pii_sql,
    )

    rows = list(enumerate(texts))
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?,?)", rows)

    stats = pii_stats(F.col("text"))
    got = sorted(
        tuple(r)
        for r in sdf.select(
            "doc_id", *[v.alias(k) for k, v in stats.items()],
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    )
    cols = ", ".join(f"{v} AS {k}" for k, v in pii_stats_sql("text").items())
    want = sorted(
        tuple(w)
        for w in con.execute(
            f"SELECT doc_id, {cols}, {redact_pii_sql('text')} AS red FROM docs"
        ).fetchall()
    )
    assert got == want

    overlap = size // 2
    got = sorted(
        tuple(r) for r in chunk_documents(sdf, size=size, overlap=overlap).collect()
    )
    want = sorted(
        tuple(w)
        for w in con.execute(
            chunk_documents_sql("docs", size=size, overlap=overlap)
        ).fetchall()
    )
    assert got == want

    got = sorted(
        tuple(r) for r in pack_documents(sdf, capacity=3 * size, shards=3).collect()
    )
    want = sorted(
        tuple(w)
        for w in con.execute(
            pack_documents_sql("docs", capacity=3 * size, shards=3)
        ).fetchall()
    )
    assert got == want


# --- span removal vs the independent python reference (r7) -----------------

_words = st.sampled_from(list("abcdef"))
_doc = st.lists(_words, min_size=0, max_size=24).map(" ".join)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_doc, min_size=1, max_size=10), st.integers(2, 4))
def test_remove_duplicate_spans_matches_reference(spark, texts, n):
    """Random tiny-alphabet corpora (dense duplication, overlapping and
    nested spans, empty docs) — the Spark splice must equal the python
    reference for every (corpus, n)."""
    from sequila_native_spark.functions import remove_duplicate_spans
    from sequila_native_spark.functions.dupspans import (
        remove_duplicate_spans_py,
    )

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["kept_text"]
        for r in remove_duplicate_spans(docs, n=n, min_count=2).collect()
    }
    assert got == remove_duplicate_spans_py(rows, n=n, min_count=2)
