"""stamp_row_id lineage hardening (VERDICT r2 item 3) + session caches."""

from __future__ import annotations

from pyspark.sql import functions as F

from sequila_native_spark.util import _has_wide_lineage, stamp_row_id
from tests.conftest import rows_set


def test_narrow_lineage_not_checkpointed(spark, reads):
    # scan/local + narrow ops: positional ids are deterministic — no barrier
    narrow = reads.where(F.col("pos_start") > 0).select("contig", "pos_start")
    assert not _has_wide_lineage(narrow)
    stamped = stamp_row_id(narrow, "__id")
    # un-checkpointed: the Filter survives in the stamped frame's lineage
    # (a checkpoint would collapse the plan to a bare scan node)
    assert "Filter" in stamped._jdf.queryExecution().analyzed().toString()


def test_wide_lineage_detected_and_pinned(spark, reads):
    wide = reads.groupBy("contig").agg(F.min("pos_start").alias("pos_start"))
    assert _has_wide_lineage(wide)
    joined = reads.join(reads.select("contig").distinct(), "contig")
    assert _has_wide_lineage(joined)
    # the stamped frame is pinned: two separate evaluations agree on ids
    stamped = stamp_row_id(wide, "__id")
    a = {r["__id"]: r["contig"] for r in stamped.collect()}
    b = {r["__id"]: r["contig"] for r in stamped.collect()}
    assert a == b and len(a) == wide.count()


def test_semi_filter_over_shuffled_probe(spark, reads, targets):
    """The operator contract the hardening enforces: a semi/anti filter fed a
    shuffle-produced probe frame must not mispair ids across plan branches."""
    from sequila_native_spark.operators.overlap_filter import filter_by_overlap

    # wide probe lineage: aggregate back to per-row shape through a shuffle
    probe = (
        reads.groupBy("contig", "pos_start")
        .agg(F.max("pos_end").alias("pos_end"))
    )
    got = filter_by_overlap(probe, targets, on="contig")
    # oracle: naive EXISTS via inner join + distinct on all probe columns
    cond = (
        (probe["contig"] == targets["contig"])
        & (probe["pos_start"] <= targets["pos_end"])
        & (probe["pos_end"] >= targets["pos_start"])
    )
    want = probe.alias("p").join(targets.alias("t"), cond).select("p.*").distinct()
    assert rows_set(got) == rows_set(want)


def test_session_cache_evicts_oldest_not_all(spark):
    from sequila_native_spark import util

    store = {}
    cache = util.session_scoped_cache(spark, store)
    for i in range(util._SESSION_CACHE_CAP):
        cache[i] = i
    # next call evicts exactly the oldest entry, keeping the rest warm
    cache2 = util.session_scoped_cache(spark, store)
    assert cache2 is cache
    assert len(cache) == util._SESSION_CACHE_CAP - 1
    assert 0 not in cache and 1 in cache


def test_session_store_bounded():
    from sequila_native_spark import util

    class Dummy:
        pass  # no sparkContext → _session_key falls back to id()

    store = {}
    dummies = [Dummy() for _ in range(util._SESSION_STORE_CAP + 10)]
    for d in dummies:
        util.session_scoped_cache(d, store)
    assert len(store) <= util._SESSION_STORE_CAP


def test_drop_stale_persisted_spares_user_caches(spark):
    from pyspark import StorageLevel
    from sequila_native_spark import util

    user_rdd = spark.sparkContext.parallelize(range(100))
    user_rdd.persist(StorageLevel.MEMORY_ONLY)
    user_rdd.count()

    lib_df = util.lib_checkpoint(
        spark.range(50).groupBy((F.col("id") % 5).alias("k")).count()
    )
    lib_df.count()

    persisted = lambda: {int(k) for k in
                         spark.sparkContext._jsc.getPersistentRDDs().keySet()}
    before = persisted()
    assert user_rdd.id() in before
    n = util.drop_stale_persisted(spark)
    after = persisted()
    assert n >= 1
    assert user_rdd.id() in after, "user persist must survive"
    # the library checkpoint's blocks are gone
    assert len(after) < len(before)
    user_rdd.unpersist()


def test_drop_stale_persisted_all_mode(spark):
    from pyspark import StorageLevel
    from sequila_native_spark import util

    rdd = spark.sparkContext.parallelize(range(10))
    rdd.persist(StorageLevel.MEMORY_ONLY)
    rdd.count()
    util.drop_stale_persisted(spark, only_tracked=False)
    assert int(rdd.getStorageLevel().useMemory) == 0
