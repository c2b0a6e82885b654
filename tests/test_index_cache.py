"""Session index cache: a built broadcast index is served again only for
the same result over unchanged input files, and never for inputs whose
contents cannot be checked.

Inputs are parquet under ``tmp_path``: the shared ``reads``/``targets``
fixtures are ``createDataFrame`` frames, which the cache must skip. Every
answer is checked against the ``naive`` algorithm.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sequila_native_spark import (
    clear_index_cache,
    count_overlaps,
    coverage,
    map_intervals,
    nearest_join,
    overlap_count_agg,
    overlap_join,
    union_coverage,
)
from sequila_native_spark import util
from sequila_native_spark.session import MAX_BROADCAST_BUILD_ROWS
from tests.conftest import rows_set

_GROUPS = itertools.count()


def _intervals(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    starts = rng.integers(0, 5_000, n)
    return pa.table({
        "contig": pa.array(rng.choice(["chr1", "chr2"], n)),
        "pos_start": pa.array(starts, pa.int32()),
        "pos_end": pa.array(starts + rng.integers(0, 300, n), pa.int64()),
    })


def _write(path, table: pa.Table) -> str:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path / "part-0.parquet"))
    return str(path)


def _eager_jobs(spark, call):
    """Run ``call`` inside a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"index-cache-{next(_GROUPS)}"
    sc.setJobGroup(group, "eager jobs of one operator call")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _count(left, right, algo):
    return count_overlaps(left, right, "contig", algorithm=algo)


def _coverage(left, right, algo):
    return coverage(left, right, "contig", algorithm=algo)


def _nearest(left, right, algo):
    return nearest_join(left, right, "contig", algorithm=algo, distance_col="d")


def _count_agg(left, right, algo):
    if algo == "naive":
        pairs = overlap_join(left, right, "contig", algorithm="naive")
        return pairs.groupBy("contig").count()
    return overlap_count_agg(left, right, "contig", alias="count")


def _join(left, right, algo):
    return overlap_join(left, right, "contig", algorithm=algo)


def _check(op, left, right):
    assert rows_set(op(left, right, "index")) == rows_set(op(left, right, "naive"))


@pytest.fixture
def probe(spark):
    return spark.createDataFrame(_intervals(99, 60).to_pandas())


@pytest.fixture(autouse=True)
def _empty_cache(spark):
    clear_index_cache(spark)
    yield
    clear_index_cache(spark)


def test_coverage_after_count_launches_no_eager_job(spark, tmp_path, probe):
    reads = spark.read.parquet(_write(tmp_path / "r", _intervals(1, 400)))
    _, built = _eager_jobs(spark, lambda: _count(reads, probe, "index"))
    assert built == 1  # the one capped collect
    again = spark.read.parquet(str(tmp_path / "r"))  # a fresh frame, same files
    cov, jobs = _eager_jobs(spark, lambda: _coverage(again, probe, "index"))
    assert jobs == 0
    assert rows_set(cov) == rows_set(_coverage(again, probe, "naive"))
    cnt, jobs = _eager_jobs(spark, lambda: _count(again, probe, "index"))
    assert jobs == 0
    assert rows_set(cnt) == rows_set(_count(again, probe, "naive"))


@pytest.mark.parametrize("op", [
    lambda reads, probe: _coverage(reads, probe, "binning"),
    lambda reads, probe: union_coverage(reads, probe, "contig"),
], ids=["coverage", "union_coverage"])
def test_repeat_binning_call_launches_no_eager_job(spark, tmp_path, probe, op):
    # the auto bin width resolves once, through the session width cache
    reads = spark.read.parquet(_write(tmp_path / "w", _intervals(17, 300)))
    _, first = _eager_jobs(spark, lambda: op(reads, probe))
    assert first >= 1  # the width probe
    _, again = _eager_jobs(spark, lambda: op(reads, probe))
    assert again == 0


def test_nearest_build_is_reused(spark, tmp_path, probe):
    targets = spark.read.parquet(_write(tmp_path / "t", _intervals(2, 50)))
    _, built = _eager_jobs(spark, lambda: _nearest(targets, probe, "index"))
    assert built == 1
    out, jobs = _eager_jobs(spark, lambda: _nearest(targets, probe, "index"))
    assert jobs == 0
    assert rows_set(out) == rows_set(_nearest(targets, probe, "naive"))


@pytest.mark.parametrize("op", [_count, _coverage, _nearest, _count_agg, _join])
def test_repointed_view_rebuilds(spark, tmp_path, probe, op):
    a = _write(tmp_path / "a", _intervals(3, 300))
    b = _write(tmp_path / "b", _intervals(4, 200))
    spark.read.parquet(a).createOrReplaceTempView("index_cache_view")
    _check(op, spark.table("index_cache_view"), probe)
    spark.read.parquet(b).createOrReplaceTempView("index_cache_view")
    _check(op, spark.table("index_cache_view"), probe)


@pytest.mark.parametrize("op", [_count, _coverage, _nearest, _count_agg, _join])
def test_files_overwritten_in_place_rebuild(spark, tmp_path, probe, op):
    d = _write(tmp_path / "d", _intervals(5, 300))
    _check(op, spark.read.parquet(d), probe)
    # same directory, same file name, new content: the plans of the two
    # reads are the same result, only the file stats tell them apart
    _write(tmp_path / "d", _intervals(6, 250))
    _check(op, spark.read.parquet(d), probe)


@pytest.mark.parametrize("op", [_count, _nearest, _count_agg, _join])
def test_frames_differing_in_a_filter_do_not_share(spark, tmp_path, probe, op):
    df = spark.read.parquet(_write(tmp_path / "f", _intervals(7, 300)))
    _check(op, df.where("pos_start < 2500"), probe)
    _check(op, df.where("pos_start >= 2500"), probe)


def test_count_agg_after_count_launches_no_eager_job(spark, tmp_path, probe):
    reads = spark.read.parquet(_write(tmp_path / "a", _intervals(14, 400)))
    _, built = _eager_jobs(spark, lambda: _count(reads, probe, "index"))
    assert built == 1
    agg, jobs = _eager_jobs(spark, lambda: _count_agg(reads, probe, "index"))
    assert jobs == 0  # count_overlaps' count index, served from the cache
    assert rows_set(agg) == rows_set(_count_agg(reads, probe, "naive"))


def test_overlap_and_nearest_share_one_build(spark, tmp_path, probe):
    targets = spark.read.parquet(_write(tmp_path / "p", _intervals(15, 300)))
    _, built = _eager_jobs(spark, lambda: _join(targets, probe, "index"))
    assert built == 1
    near, jobs = _eager_jobs(spark, lambda: _nearest(targets, probe, "index"))
    assert jobs == 0
    assert rows_set(near) == rows_set(_nearest(targets, probe, "naive"))


def test_map_intervals_build_is_never_cached(spark, tmp_path, probe):
    # its build carries row ids stamped by monotonically_increasing_id,
    # which belong to one evaluation of the left side
    left = spark.read.parquet(_write(tmp_path / "m", _intervals(16, 300)))
    aggs = {"n": ("count", None), "s": ("sum", "pos_start")}

    def run(algo):
        return map_intervals(left, probe, "contig", aggs=aggs, algorithm=algo)

    for _ in range(2):
        out, jobs = _eager_jobs(spark, lambda: run("index"))
        assert jobs == 1
        assert rows_set(out) == rows_set(run("naive"))
    assert not util.session_scoped_cache(spark, util._INDEX_CACHES)


def test_create_dataframe_input_is_never_cached(spark, probe):
    reads = spark.createDataFrame(_intervals(8, 200).to_pandas())
    for _ in range(2):
        out, jobs = _eager_jobs(spark, lambda: _count(reads, probe, "index"))
        assert jobs == 1
        assert rows_set(out) == rows_set(_count(reads, probe, "naive"))
    assert not util.session_scoped_cache(spark, util._INDEX_CACHES)


@pytest.mark.parametrize("op, fallback", [
    (_count, "Generate explode"),  # binning
    (_coverage, "Generate explode"),
    (_nearest, "FlatMapCoGroupsInArrow"),  # partitioned, the keyed shuffle path
    (_count_agg, "Generate explode"),
    (_join, "Generate explode"),
])
def test_lowered_cap_forces_fallback(spark, tmp_path, probe, op, fallback):
    left = spark.read.parquet(_write(tmp_path / "c", _intervals(9, 120)))
    _check(op, left, probe)  # cached with 120 build rows
    spark.conf.set(MAX_BROADCAST_BUILD_ROWS, "50")
    try:
        out = op(left, probe, "index")
        plan = out._jdf.queryExecution().analyzed().toString()
        assert fallback in plan and "MapInArrow" not in plan
        assert rows_set(out) == rows_set(op(left, probe, "naive"))
    finally:
        spark.conf.unset(MAX_BROADCAST_BUILD_ROWS)


def test_entry_over_byte_bound_is_used_once(spark, tmp_path, probe, monkeypatch):
    reads = spark.read.parquet(_write(tmp_path / "o", _intervals(10, 200)))
    monkeypatch.setattr(util, "INDEX_CACHE_MAX_BYTES", 0)
    for _ in range(2):
        out, jobs = _eager_jobs(spark, lambda: _count(reads, probe, "index"))
        assert jobs == 1
        assert rows_set(out) == rows_set(_count(reads, probe, "naive"))


def test_oldest_entry_evicted_past_byte_bound(spark, tmp_path, probe, monkeypatch):
    first = spark.read.parquet(_write(tmp_path / "e1", _intervals(11, 200)))
    second = spark.read.parquet(_write(tmp_path / "e2", _intervals(12, 200)))
    _, jobs = _eager_jobs(spark, lambda: _count(first, probe, "index"))
    assert jobs == 1
    cache = util.session_scoped_cache(spark, util._INDEX_CACHES)
    (entry,) = [e for bucket in cache.values() for e in bucket]
    # room for one entry of this size, not two
    monkeypatch.setattr(util, "INDEX_CACHE_MAX_BYTES", entry.nbytes + 1)
    _eager_jobs(spark, lambda: _count(second, probe, "index"))
    _, jobs = _eager_jobs(spark, lambda: _count(second, probe, "index"))
    assert jobs == 0
    out, jobs = _eager_jobs(spark, lambda: _count(first, probe, "index"))
    assert jobs == 1  # evicted, rebuilt
    assert rows_set(out) == rows_set(_count(first, probe, "naive"))


def test_entry_size_counts_string_payload(spark, tmp_path, probe):
    # a nearest entry carries the build's payload columns; sized by its
    # pickled broadcast, a long string counts at its length, not as a pointer
    names = pa.array([f"{i:04d}" + "x" * 2_000 for i in range(200)])
    t = _intervals(13, 200).append_column("name", names)
    targets = spark.read.parquet(_write(tmp_path / "s", t))
    _check(_nearest, targets, probe)
    cache = util.session_scoped_cache(spark, util._INDEX_CACHES)
    (entry,) = [e for bucket in cache.values() for e in bucket]
    assert entry.nbytes > 200 * 2_000
