"""Plan-shape assertions (the reference's EXPLAIN test pillar, SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_native_spark import overlap_join
from sequila_native_spark.plans import (
    has_broadcast_hash_join,
    pushed_filters,
    scan_read_schemas,
)
from sequila_native_spark.plans.explain import (
    formatted_plan,
    has_nested_loop_join,
    has_sort_merge_or_hash_join,
)
from _testdata import SF0_001

SF = SF0_001


def test_binning_plans_equi_join_not_nested_loop(spark, reads, targets):
    oj = overlap_join(reads, targets, on="contig", algorithm="binning")
    assert has_sort_merge_or_hash_join(oj)
    assert not has_nested_loop_join(oj)


def test_naive_no_key_plans_nested_loop(spark, reads, targets):
    # the catastrophic plan the reference documents for vanilla engines
    # (sandbox/datafusion_baseline.md:101-107) — and what A2 avoids
    oj = overlap_join(reads, targets, on=None, algorithm="naive")
    assert has_nested_loop_join(oj)


def test_binning_keyless_still_equi_join(spark, reads, targets):
    # A2: even with no equi-keys, binning joins on the bin column —
    # Catalyst plans a hash/merge join, never a nested loop
    oj = overlap_join(reads, targets, on=None, algorithm="binning")
    assert has_sort_merge_or_hash_join(oj)
    assert not has_nested_loop_join(oj)


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_orderkey") == 42).select("l_orderkey", "l_partkey")
    filters = pushed_filters(q)
    assert any("l_orderkey" in f for f in filters), filters


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey").distinct()
    schemas = scan_read_schemas(q)
    assert schemas and all("l_partkey" not in s for s in schemas), schemas


def test_small_side_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert has_broadcast_hash_join(j)


def test_bucketed_tables_join_without_exchange(spark, reads, targets, tmp_path):
    """Co-located interval join: both sides bucketed by the equi-key ->
    the binned join runs with ZERO exchanges before it
    (HashPartitioning(contig) satisfies the (contig, bin) clustering, and
    matching bucket counts make the sides co-partitioned).
    The 100 TB repeat-join story: pre-bucketed lakes skip both shuffles."""
    import uuid

    from sequila_native_spark import overlap_join
    from sequila_native_spark.plans.explain import formatted_plan

    n_bkt = 4
    lt, rt = f"sq_bkt_l_{uuid.uuid4().hex[:8]}", f"sq_bkt_r_{uuid.uuid4().hex[:8]}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", None)
    try:
        (reads.write.bucketBy(n_bkt, "contig").sortBy("contig")
         .mode("overwrite").saveAsTable(lt))
        (targets.write.bucketBy(n_bkt, "contig").sortBy("contig")
         .mode("overwrite").saveAsTable(rt))
        # HashPartitioning(contig) covers a strict subset of the join keys
        # (contig, bin); Spark only accepts subset co-partitioning without a
        # shuffle when this knob is off (default on since 3.3)
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_bkt))
        oj = overlap_join(spark.table(lt), spark.table(rt), on="contig",
                          bin_width=1000)
        plan = formatted_plan(oj)
        join_pos = plan.find("ShuffledHashJoin")
        if join_pos < 0:
            join_pos = plan.find("SortMergeJoin")
        assert join_pos >= 0, plan
        assert "Exchange" not in plan, plan
        # counts still correct vs the unbucketed plan
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        want = overlap_join(reads, targets, on="contig", bin_width=1000).count()
        assert oj.count() == want
    finally:
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")


_BINNED_SQL = (
    "SELECT * FROM plan_reads a JOIN plan_targets b ON a.contig = b.contig "
    "AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start"
)


@pytest.fixture
def plan_views(spark, reads, targets):
    reads.createOrReplaceTempView("plan_reads")
    targets.createOrReplaceTempView("plan_targets")
    yield
    spark.catalog.dropTempView("plan_reads")
    spark.catalog.dropTempView("plan_targets")


@pytest.mark.parametrize("entry", ["sequila_sql", "overlap_join"])
def test_binned_plan_is_one_shuffled_hash_join(spark, reads, targets, plan_views, entry):
    """Both entry points plan the same binned join: one shuffled-hash join
    on (contig, bin) whose two exchanges are the ones EnsureRequirements
    inserts, with no forced repartition."""
    import re

    from sequila_native_spark import sequila_sql

    if entry == "sequila_sql":
        df = sequila_sql(spark, _BINNED_SQL)
    else:
        df = overlap_join(reads, targets, on="contig", algorithm="binning",
                          bin_width=5000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(r"ShuffledHashJoin \[(\w+)#\d+, (\w+)#\d+L\], "
                       r"\[(\w+)#\d+, (\w+)#\d+L\]", plan)
    assert len(joins) == 1 and plan.count("ShuffledHashJoin") == 1, plan
    assert joins[0][1::2] == ("__sq_lbin", "__sq_rbin"), plan
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\w+)#\d+L, "
                           r"\d+\), (\w+)", plan)
    assert sorted(e[1:] for e in exchanges) == [
        ("__sq_lbin", "ENSURE_REQUIREMENTS"), ("__sq_rbin", "ENSURE_REQUIREMENTS"),
    ], plan
    assert plan.count("Exchange") == 2, plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def _round_trips(spark, build) -> list[str]:
    """The py4j commands this thread sends while ``build`` runs; other
    threads' commands are not the build's. The collector runs first and
    is off meanwhile: it would release JVM objects of earlier calls inside
    the count, at random."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
        gc.enable()
    return sent


def _assert_round_trips(spark, builds) -> None:
    """Each ``(build, bound)``: after one warm call, which resolves and
    caches JVM classes and fills the session's memos, ``build`` makes at
    most ``bound`` py4j round trips."""
    from collections import Counter

    for build, bound in builds:
        build()
        sent = _round_trips(spark, build)
        heads = Counter(c.split("\n", 3)[2] if c.count("\n") > 2 else c
                        for c in sent)
        assert 0 < len(sent) <= bound, (build.__name__, len(sent),
                                         heads.most_common(8))


def test_binned_join_build_round_trips(spark, reads, targets, plan_views):
    """Building (not running) a binned join stays a few dozen py4j round
    trips: the plan is SQL text, not a chain of Column-API calls (each of
    which is a round trip plus PySpark's call-site capture). Measured on
    PySpark 4.1.2 over these fixtures: 65 for overlap_join(binning) at
    width 5000, 74 at the ``auto`` width with a warm width memo (249 when
    its probe frames were built with Column calls before the memo
    lookup), 23 for sequila_sql; the Column-API build made 683."""
    from sequila_native_spark import sequila_sql

    def api():
        overlap_join(reads, targets, on="contig", algorithm="binning",
                     bin_width=5000)

    def api_auto():
        overlap_join(reads, targets, on="contig", algorithm="binning",
                     bin_width="auto")

    def sql():
        sequila_sql(spark, _BINNED_SQL)

    _assert_round_trips(spark, ((api, 120), (api_auto, 120), (sql, 35)))


@pytest.fixture(scope="module")
def file_sides(spark, reads, targets, tmp_path_factory):
    """``reads`` and ``targets`` read back from parquet: file inputs, whose
    index builds the session cache keeps, so a repeat call runs no job."""
    root = tmp_path_factory.mktemp("index_sides")
    reads.write.parquet(str(root / "reads"))
    targets.write.parquet(str(root / "targets"))
    return spark.read.parquet(str(root / "reads")), spark.read.parquet(str(root / "targets"))


def _index_builds(file_sides) -> dict:
    from sequila_native_spark import (
        count_overlaps,
        coverage,
        filter_by_overlap,
        nearest_join,
    )

    r, t = file_sides
    return {
        "count_overlaps": lambda: count_overlaps(r, t, "contig", algorithm="index"),
        "coverage": lambda: coverage(r, t, "contig", algorithm="index"),
        "filter_by_overlap": lambda: filter_by_overlap(t, r, "contig", algorithm="index"),
        "nearest_join": lambda: nearest_join(t, r, "contig", algorithm="index",
                                             distance_col="dist"),
        "overlap_join_auto": lambda: overlap_join(r, t, "contig", algorithm="binning",
                                                  bin_width="auto"),
    }


def test_index_call_builds_make_no_call_site_capture(spark, file_sides, monkeypatch):
    """The index and binning calls build their plans from SQL text: no
    PySpark Column-API call, so no call-site capture, which walks the
    stack and imports IPython when it is installed. Every call counts,
    the first too, whose build collects and whose ``auto`` width runs its
    percentile job."""
    import pyspark.errors.utils as perr

    from sequila_native_spark.operators.interval_join import clear_bin_width_cache
    from sequila_native_spark.util import clear_index_cache

    captured = []
    real = perr._capture_call_site

    def spy(depth):
        captured.append(depth)
        return real(depth)

    monkeypatch.setattr(perr, "_capture_call_site", spy)
    # the spy sees captures: a Column call makes one
    file_sides[0].select(F.col("pos_start") + 1)
    assert captured, "call-site capture is off in this session"
    clear_index_cache(spark)
    clear_bin_width_cache(spark)
    for name, build in _index_builds(file_sides).items():
        del captured[:]
        for _ in range(2):
            build()
        assert not captured, (name, len(captured))


def test_index_call_build_round_trips(spark, file_sides):
    """An index call's driver work: one schema read per input, one conf
    read and SQL text. Measured on PySpark 4.1.2 over these fixtures with
    a warm index cache: count_overlaps 83, coverage 83, nearest_join with
    ``distance_col`` 99; with Column calls and a schema and conf read per
    helper, 129, 133 and 464 (nearest_join's 24 call-site captures made
    about half of those). The bounds leave about 30% headroom."""
    builds = _index_builds(file_sides)
    _assert_round_trips(spark, (
        (builds["count_overlaps"], 112),
        (builds["coverage"], 112),
        (builds["nearest_join"], 134),
    ))


@pytest.mark.parametrize("bounds, strict, checked", [
    ("int", False, False),
    ("bigint", False, True),
    ("int", True, True),
])
def test_index_probe_bound_check_only_where_a_bound_can_leave_int32(
    spark, reads, targets, bounds, strict, checked
):
    """The probe side's int32 bound columns: an int bound gets a plain
    cast, since no value of it can leave int32; a bigint bound, or an end
    that strict normalization shrinks, keeps the ``raise_error`` check."""
    from sequila_native_spark import count_overlaps

    def typed(df):
        return df.selectExpr("contig", f"CAST(pos_start AS {bounds}) AS pos_start",
                             f"CAST(pos_end AS {bounds}) AS pos_end")

    out = count_overlaps(typed(reads), typed(targets), "contig", algorithm="index",
                         strict=strict)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert ("raise_error" in plan) is checked, plan


def test_session_scoped_cache_stable_key_and_cap(spark):
    from sequila_native_spark.util import _SESSION_CACHE_CAP, session_scoped_cache

    store = {}
    c1 = session_scoped_cache(spark, store)
    c1["x"] = 1
    # same session -> same dict, stable (non-id) key
    assert session_scoped_cache(spark, store) is c1
    (key,) = store.keys()
    assert key != id(spark)
    # cap (r5 semantics): a full cache evicts oldest-first instead of
    # clearing — the rest of the memo stays warm
    for i in range(_SESSION_CACHE_CAP):
        c1[f"k{i}"] = i
    c2 = session_scoped_cache(spark, store)
    assert c2 is c1
    assert len(c2) < _SESSION_CACHE_CAP
    assert "x" not in c2 and f"k{_SESSION_CACHE_CAP - 1}" in c2


def test_map_intervals_plan_no_python_no_nested_loop(spark, reads, targets):
    # bedtools-map stays JVM-side end to end: binned equi-join (never a
    # nested loop), two shuffles, zero Python stages; the right side is
    # pruned to keys + bounds + referenced values before the join
    from sequila_native_spark import map_intervals

    m = map_intervals(
        targets, reads.withColumn("score", F.col("pos_end") - F.col("pos_start")),
        on="contig",
        left_start="pos_start", left_end="pos_end",
        right_start="pos_start", right_end="pos_end",
        aggs={"n": ("count", None), "s": ("sum", "score")},
    )
    plan = formatted_plan(m)
    assert not has_nested_loop_join(m)
    assert has_sort_merge_or_hash_join(m)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_fraction_filter_stays_in_join_stage(spark, reads, targets):
    # the -f/-F predicate is one more conjunct in the same codegen'd
    # post-join Filter — no extra exchange vs the unfiltered join
    oj_plain = overlap_join(reads, targets, on="contig", algorithm="binning")
    oj_frac = overlap_join(
        reads, targets, on="contig", algorithm="binning", min_frac_left=0.5
    )
    n_ex = lambda df: formatted_plan(df).count("Exchange")
    assert n_ex(oj_frac) == n_ex(oj_plain)
    assert not has_nested_loop_join(oj_frac)


def test_pii_plan_pure_codegen_no_shuffle(spark):
    # detection + redaction are one codegen'd Project over the scan:
    # zero Python stages, zero exchanges
    from sequila_native_spark.functions import pii_stats, redact_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.select(
        redact_pii(F.col("text")).alias("red"),
        *[v.alias(k) for k, v in pii_stats(F.col("text")).items()],
    )
    plan = formatted_plan(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "Exchange" not in plan


def test_chunk_plan_in_scan_no_python(spark):
    # chunk generation is in-scan (generate over the projected token array):
    # no Python, no exchange before a consumer aggregates
    from sequila_native_spark.functions import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = chunk_documents(docs, size=32, overlap=4)
    plan = formatted_plan(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_decontam_benchmark_side_broadcasts(spark):
    # the eval-set gram table must broadcast; the corpus side must not be
    # hash-exchanged for the flagging join
    from sequila_native_spark.functions import contamination_report

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rep = contamination_report(
        docs.where("doc_id % 17 != 0"), docs.where("doc_id % 17 = 0"), n=4
    )
    assert has_broadcast_hash_join(rep)
    plan = formatted_plan(rep)
    # only the post-join groupBy may exchange (hashpartitioning on doc_id);
    # the corpus scan side of the join itself stays exchange-free
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_pack_plan_single_shuffle_no_python(spark):
    # one exchange (the per-shard window partitioning), zero Python.
    # formatted mode prints each node twice (tree + numbered details), so
    # count the numbered-detail headers, not the raw substring.
    import re

    from sequila_native_spark.functions import pack_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = pack_documents(docs, capacity=256, shards=8)
    plan = formatted_plan(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


# --- persisted (at-rest) gate indexes: the bucketBy 100 TB story (r7) ------


def _index_scan_details(plan: str, table: str) -> str:
    """The formatted-explain details block of `table`'s FileScan."""
    i = plan.find(f"Scan parquet spark_catalog.default.{table}\nOutput")
    assert i >= 0, plan
    j = plan.find("\n\n(", i)
    return plan[i:j if j > 0 else len(plan)]


def test_persisted_band_index_gate_bucket_scan_no_corpus_exchange(spark, tmp_path):
    """corpus_band_index written with bucketBy(B, band_hash), read back, and
    probed through stream_dedup_against_corpus must (a) return exactly the
    in-plan-index pairs and (b) consume the bucketed layout directly:
    `Bucketed: true` on the index scan means its HashPartitioning(band_hash)
    feeds the candidate join with ZERO corpus-side exchange (the planner
    reports `false (disabled by query planner)` whenever it would shuffle).
    The probe side shuffles; at 100 TB that's the daily batch, not the
    corpus."""
    import uuid

    from sequila_native_spark.functions.dedup import (
        corpus_band_index,
        stream_dedup_against_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    n_bkt = 8
    idx = corpus_band_index(corpus, k=8, bands=4, hash_family="md5")
    (idx.write.bucketBy(n_bkt, "band_hash").sortBy("band_hash")
     .mode("overwrite").saveAsTable(t))
    try:
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # big-probe shape: no broadcast, so the join must honor partitioning
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        persisted = spark.table(t)
        out = stream_dedup_against_corpus(
            batch, corpus, k=8, bands=4, hash_family="md5",
            corpus_index=persisted,
        )
        details = _index_scan_details(formatted_plan(out), t)
        assert "Bucketed: true" in details, details
        assert f"SelectedBucketsCount: {n_bkt} out of {n_bkt}" in details
        got = {tuple(r) for r in out.collect()}
    finally:
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    want = {tuple(r) for r in stream_dedup_against_corpus(
        batch, corpus, k=8, bands=4, hash_family="md5").collect()}
    assert got == want and got


def test_persisted_band_index_small_batch_broadcasts_corpus_never_shuffles(
    spark, tmp_path
):
    """The daily-ingest shape (batch ≪ corpus, default thresholds): the
    banded BATCH side broadcasts, so the persisted index scan streams with
    no exchange at all between its scan and the candidate join — assert no
    Exchange is planned downstream of the index scan before the first
    join consumes it."""
    import uuid

    from sequila_native_spark.functions.dedup import (
        corpus_band_index,
        stream_dedup_against_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    idx = corpus_band_index(corpus, k=8, bands=4, hash_family="md5")
    (idx.write.bucketBy(8, "band_hash").sortBy("band_hash")
     .mode("overwrite").saveAsTable(t))
    try:
        out = stream_dedup_against_corpus(
            batch, corpus, k=8, bands=4, hash_family="md5",
            corpus_index=spark.table(t),
        )
        plan = formatted_plan(out)
        # tree section: the index scan's parent chain up to its join must
        # not contain an Exchange. In the tree the scan line and its
        # ancestors share the left-rail prefix; walk lines upward from the
        # scan until the first *Join line, collecting operator names.
        tree = plan[: plan.find("\n\n(")]
        lines = tree.splitlines()
        scan_ln = next(
            i for i, ln in enumerate(lines)
            if f"spark_catalog.default.{t}" in ln
        )

        def indent(ln: str) -> int:
            return ln.index("- ") if "- " in ln else len(ln)

        cur = indent(lines[scan_ln])
        for i in range(scan_ln - 1, -1, -1):
            ln = lines[i]
            if "- " not in ln or indent(ln) >= cur:
                continue
            cur = indent(ln)
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
        got = {tuple(r) for r in out.collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    want = {tuple(r) for r in stream_dedup_against_corpus(
        batch, corpus, k=8, bands=4, hash_family="md5").collect()}
    assert got == want


def test_persisted_vector_bucket_index_gate(spark, tmp_path):
    """vector_bucket_index persisted bucketed by (table, bucket), read back,
    probed via stream_embedding_gate: identical pairs to the in-plan index
    and `Bucketed: true` on the index scan in the big-probe (no-broadcast)
    shape — the corpus is never re-hashed NOR shuffled."""
    import uuid

    from sequila_native_spark.functions import (
        stream_embedding_gate,
        vector_bucket_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = emb.where(F.col("vec_id") % 5 == 0)
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    t = f"sq_vec_idx_{uuid.uuid4().hex[:8]}"
    n_bkt = 8
    idx = vector_bucket_index(corpus, n_planes=6, n_tables=4, seed=11)
    (idx.write.bucketBy(n_bkt, "__sq_table", "__sq_bkt")
     .sortBy("__sq_table", "__sq_bkt").mode("overwrite").saveAsTable(t))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = stream_embedding_gate(
            batch, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
            corpus_index=spark.table(t),
        )
        details = _index_scan_details(formatted_plan(out), t)
        assert "Bucketed: true" in details, details
        got = {tuple(r) for r in out.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    want = {tuple(r) for r in stream_embedding_gate(
        batch, corpus, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
    ).collect()}
    assert got == want and got


def test_persisted_band_index_streaming_probe(spark, tmp_path):
    """The full at-rest production loop: persist the bucketed band index
    once, then probe it from a STREAMING micro-batch source — output equals
    the batch in-plan-index run, no state store, append mode."""
    import uuid

    from sequila_native_spark.functions.dedup import (
        corpus_band_index,
        stream_dedup_against_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    idx = corpus_band_index(corpus, k=8, bands=4, hash_family="md5")
    (idx.write.bucketBy(8, "band_hash").sortBy("band_hash")
     .mode("overwrite").saveAsTable(t))
    src = str(tmp_path / "persisted_gate_src")
    batch.write.mode("overwrite").parquet(src)
    qn = f"pg_out_{uuid.uuid4().hex[:8]}"
    try:
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        out = stream_dedup_against_corpus(
            stream, corpus, k=8, bands=4, hash_family="md5",
            corpus_index=spark.table(t),
        )
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName(qn)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.table(qn).collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    want = {tuple(r) for r in stream_dedup_against_corpus(
        batch, corpus, k=8, bands=4, hash_family="md5").collect()}
    assert got == want and got


def test_append_corpus_band_index_equals_rebuild(spark, tmp_path):
    """Incremental index maintenance (r7): appending a new increment's band
    rows with the same bucketBy spec must leave the at-rest index
    probe-identical to a full rebuild, with the bucketed layout intact."""
    import uuid

    from sequila_native_spark.functions import append_corpus_band_index
    from sequila_native_spark.functions.dedup import stream_dedup_against_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 != 0))
    new = docs.where((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 == 0))
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    try:
        # bootstrap (creates the table) then the daily increment
        append_corpus_band_index(old, t, buckets=8, k=8, bands=4,
                                 hash_family="md5")
        append_corpus_band_index(new, t, buckets=8, k=8, bands=4,
                                 hash_family="md5")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = stream_dedup_against_corpus(
            batch, corpus, k=8, bands=4, hash_family="md5",
            corpus_index=spark.table(t),
        )
        details = _index_scan_details(formatted_plan(out), t)
        assert "Bucketed: true" in details, details
        got = {tuple(r) for r in out.collect()}
    finally:
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    want = {tuple(r) for r in stream_dedup_against_corpus(
        batch, corpus, k=8, bands=4, hash_family="md5").collect()}
    assert got == want and got


def test_append_corpus_band_index_rejects_parameter_mismatch(spark):
    """Appending with different signing parameters would land rows that no
    probe can ever match (silent index corruption) — the recorded
    TBLPROPERTIES must make that a hard error, and a table that predates
    the bootstrap path (no recorded params) must be refused too."""
    import uuid

    from sequila_native_spark.functions import append_corpus_band_index
    from sequila_native_spark.functions.dedup import corpus_band_index

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    try:
        append_corpus_band_index(docs, t, k=8, bands=4, hash_family="md5")
        with pytest.raises(ValueError, match="mismatch"):
            append_corpus_band_index(docs, t, k=8, bands=4,
                                     hash_family="fast")
        with pytest.raises(ValueError, match="mismatch"):
            append_corpus_band_index(docs, t, k=8, bands=2,
                                     hash_family="md5")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    t2 = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    try:
        # a manually-written index (no recorded properties) is refused
        (corpus_band_index(docs, k=8, bands=4, hash_family="md5")
         .write.bucketBy(8, "band_hash").saveAsTable(t2))
        with pytest.raises(ValueError, match="no recorded signing"):
            append_corpus_band_index(docs, t2, k=8, bands=4,
                                     hash_family="md5")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_append_vector_bucket_index_equals_rebuild(spark, tmp_path):
    """Embedding-side incremental index maintenance (r8 — VERDICT r7 item
    3): bootstrap-then-append must leave the at-rest vector index
    probe-identical to a full rebuild through stream_embedding_gate, with
    the bucketed layout intact in the big-probe (no-broadcast) shape."""
    import uuid

    from sequila_native_spark.functions import (
        append_vector_bucket_index,
        stream_embedding_gate,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = emb.where(F.col("vec_id") % 5 == 0)
    old = emb.where((F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 3 != 0))
    new = emb.where((F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 3 == 0))
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    t = f"sq_vec_idx_{uuid.uuid4().hex[:8]}"
    try:
        # bootstrap (creates the table, stamps params) then the increment
        append_vector_bucket_index(old, t, buckets=8, n_planes=6,
                                   n_tables=4, seed=11)
        append_vector_bucket_index(new, t, buckets=8, n_planes=6,
                                   n_tables=4, seed=11)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = stream_embedding_gate(
            batch, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
            corpus_index=spark.table(t),
        )
        details = _index_scan_details(formatted_plan(out), t)
        assert "Bucketed: true" in details, details
        got = {tuple(r) for r in out.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    want = {tuple(r) for r in stream_embedding_gate(
        batch, corpus, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
    ).collect()}
    assert got == want and got


def test_append_vector_bucket_index_rejects_parameter_mismatch(spark):
    """Rows hashed with different planes/seed/tables — or a different
    vector dim — would sit in the index silently unmatched by every probe
    (the r7 band-append hazard, embedding side): the recorded TBLPROPERTIES
    must make each mismatch a hard error, and a manually-written index
    (no recorded params) must be refused with the ALTER TABLE repair hint."""
    import uuid

    from sequila_native_spark.functions import (
        append_vector_bucket_index,
        vector_bucket_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    t = f"sq_vec_idx_{uuid.uuid4().hex[:8]}"
    try:
        append_vector_bucket_index(emb, t, n_planes=6, n_tables=4, seed=11)
        for kw in (dict(n_planes=8, n_tables=4, seed=11),
                   dict(n_planes=6, n_tables=2, seed=11),
                   dict(n_planes=6, n_tables=4, seed=99),
                   dict(n_planes=6, n_tables=4, seed=11, dim=3)):
            with pytest.raises(ValueError, match="mismatch"):
                append_vector_bucket_index(emb, t, **kw)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    t2 = f"sq_vec_idx_{uuid.uuid4().hex[:8]}"
    try:
        (vector_bucket_index(emb, n_planes=6, n_tables=4, seed=11)
         .write.bucketBy(8, "__sq_table", "__sq_bkt").saveAsTable(t2))
        with pytest.raises(ValueError, match="ALTER TABLE"):
            append_vector_bucket_index(emb, t2, n_planes=6,
                                       n_tables=4, seed=11)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_index_bootstrap_stamps_properties_before_data(spark):
    """Properties-first bootstrap (r8, reviewer r7): the CREATE TABLE that
    bootstraps an index records the signing parameters atomically with the
    (empty) table, so a crash between table creation and the data append
    leaves a table that the NEXT append accepts and fills — not one that
    every future append permanently rejects."""
    import uuid

    from sequila_native_spark.functions import append_corpus_band_index
    from sequila_native_spark.util import bootstrap_or_validate_index_table

    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    params = {
        "sequila.index.k": "8", "sequila.index.bands": "4",
        "sequila.index.n": "3", "sequila.index.hash_family": "md5",
    }
    try:
        # simulate the crash window: table created + stamped, no data yet
        existed = bootstrap_or_validate_index_table(
            spark, t, params,
            schema_ddl="`corpus_id` bigint, `__sq_csig` array<bigint>, "
                       "`band_idx` int, `band_hash` bigint",
            bucket_cols=["band_hash"], buckets=8,
        )
        assert not existed and spark.table(t).count() == 0
        # recovery is a plain re-append — no manual ALTER TABLE needed
        append_corpus_band_index(docs, t, buckets=8, k=8, bands=4,
                                 hash_family="md5")
        assert spark.table(t).count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_dedup_gate_rejects_mismatched_index_k(spark):
    """A corpus_band_index signed with a different k yields band slices of
    the wrong width — every pair silently dropped, no error (reviewer, r7).
    The gate now probes the signature width of a SUPPLIED index (one
    bounded first(); the band twin of the vector gate's n_tables check)."""
    from sequila_native_spark.functions.dedup import (
        corpus_band_index,
        stream_dedup_against_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    idx12 = corpus_band_index(docs, k=12, bands=4, hash_family="md5")
    with pytest.raises(ValueError, match="signed with k=12"):
        stream_dedup_against_corpus(
            docs, docs, k=8, bands=4, hash_family="md5", corpus_index=idx12,
        )
    # matching k passes the probe (smoke: plan builds, rows flow)
    idx8 = corpus_band_index(docs, k=8, bands=4, hash_family="md5")
    assert stream_dedup_against_corpus(
        docs, docs, k=8, bands=4, hash_family="md5", corpus_index=idx8,
    ).count() >= 0


def test_gates_accept_index_table_name_and_validate_all_params(spark):
    """Passing the index TABLE NAME (not a frame) to either gate validates
    the FULL signing-parameter set against the recorded TBLPROPERTIES —
    closing the 'bands/n/hash_family are the caller's contract' gap the
    frame form leaves (it can only probe k / n_tables from the rows)."""
    from sequila_native_spark.functions import (
        append_corpus_band_index,
        append_vector_bucket_index,
        stream_embedding_gate,
    )
    from sequila_native_spark.functions.dedup import stream_dedup_against_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(80)
    bt, vt = "sq_gate_band_tn", "sq_gate_vec_tn"
    try:
        append_corpus_band_index(docs, bt, buckets=8, k=8, bands=4,
                                 hash_family="md5")
        append_vector_bucket_index(emb, vt, buckets=8, n_planes=6,
                                   n_tables=4, seed=11)
        # band gate: same params flow; wrong hash_family (row-invisible
        # to the k probe) is refused via TBLPROPERTIES
        out = stream_dedup_against_corpus(
            docs, docs, k=8, bands=4, hash_family="md5", corpus_index=bt)
        want = stream_dedup_against_corpus(
            docs, docs, k=8, bands=4, hash_family="md5",
            corpus_index=spark.table(bt))
        assert {tuple(r) for r in out.collect()} == {
            tuple(r) for r in want.collect()}
        with pytest.raises(ValueError, match="hash_family"):
            stream_dedup_against_corpus(
                docs, docs, k=8, bands=4, hash_family="fast",
                corpus_index=bt)
        # vector gate: dim comes from the table record when omitted;
        # wrong seed (row-invisible to the n_tables probe) is refused
        out_v = stream_embedding_gate(
            emb, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
            corpus_index=vt)
        want_v = stream_embedding_gate(
            emb, threshold_milli=300, n_planes=6, n_tables=4, seed=11,
            corpus_index=spark.table(vt))
        assert {tuple(r) for r in out_v.collect()} == {
            tuple(r) for r in want_v.collect()}
        with pytest.raises(ValueError, match="seed"):
            stream_embedding_gate(
                emb, threshold_milli=300, n_planes=6, n_tables=4, seed=99,
                corpus_index=vt)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bt}")
        spark.sql(f"DROP TABLE IF EXISTS {vt}")


def test_ann_serving_consumes_bucket_layout_no_index_exchange(spark):
    """The ANN serving scan must stream the persisted index with no
    Exchange between its scan and the candidate join (query side
    broadcasts — the daily-serving shape), and the scan must be the
    bucketed layout."""
    import uuid

    from sequila_native_spark.functions import (
        ann_topk_against_index,
        append_vector_bucket_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    queries = emb.where(F.col("vec_id") % 10 == 0).limit(10)
    t = f"sq_ann_plan_{uuid.uuid4().hex[:8]}"
    try:
        append_vector_bucket_index(corpus, t, buckets=8, n_planes=6,
                                   n_tables=4, seed=11)
        out = ann_topk_against_index(queries, t, 5, n_planes=6,
                                     n_tables=4, seed=11)
        plan = formatted_plan(out)
        details = _index_scan_details(plan, t)
        # queries broadcast; the only exchange below the join on the
        # index side would show as Exchange hashpartitioning over the
        # scan — assert the scan feeds a BroadcastHashJoin directly
        assert "BroadcastHashJoin" in plan, plan
        tree = plan[: plan.find("\n\n(")]
        lines = tree.splitlines()
        scan_ln = next(i for i, ln in enumerate(lines)
                       if f"spark_catalog.default.{t}" in ln)

        def indent(ln: str) -> int:
            return ln.index("- ") if "- " in ln else len(ln)

        cur = indent(lines[scan_ln])
        for i in range(scan_ln - 1, -1, -1):
            ln = lines[i]
            if "- " not in ln or indent(ln) >= cur:
                continue
            cur = indent(ln)
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
        assert out.count() >= 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_serving_no_corpus_exchange_before_join(spark):
    """IVF serving: persisted cells scan feeds the probe join with no
    exchange (probe cells broadcast); re-rank window shuffles only the
    candidate rows, never the full cells table before the join."""
    import uuid

    from sequila_native_spark.functions import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk_against_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    queries = emb.where(F.col("vec_id") % 10 == 0).limit(10)
    _, cents = build_ivf_index(corpus, n_cells=8, seed=11)
    t = f"sq_ivf_plan_{uuid.uuid4().hex[:8]}"
    try:
        append_ivf_index(corpus, t, cents, buckets=8)
        out = ivf_topk_against_index(queries, t, cents, 5, n_probe=3)
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan, plan
        tree = plan[: plan.find("\n\n(")]
        lines = tree.splitlines()
        scan_ln = next(i for i, ln in enumerate(lines)
                       if f"spark_catalog.default.{t}" in ln)

        def indent(ln: str) -> int:
            return ln.index("- ") if "- " in ln else len(ln)

        cur = indent(lines[scan_ln])
        for i in range(scan_ln - 1, -1, -1):
            ln = lines[i]
            if "- " not in ln or indent(ln) >= cur:
                continue
            cur = indent(ln)
            if "Join" in ln:
                break
            assert "Exchange" not in ln, plan
        assert out.count() >= 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_band_index_probe_identical_fewer_files(spark):
    """Compaction contract, band family (VERDICT r8 item 1): after N
    appends the table carries ~N files per touched bucket; compact must
    collapse to ONE file per bucket, keep the gate's probe output
    row-identical, keep the bucketed layout (no exchange on the index
    side), preserve the recorded TBLPROPERTIES (a later append still
    validates), and report honest before/after counts."""
    import uuid

    from sequila_native_spark.functions import append_corpus_band_index
    from sequila_native_spark.functions.dedup import stream_dedup_against_corpus
    from sequila_native_spark.util import compact_index_table, index_table_file_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    parts = [docs.where((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 3 == i))
             for i in range(3)]
    t = f"sq_band_idx_{uuid.uuid4().hex[:8]}"
    kw = dict(buckets=8, k=8, bands=4, hash_family="md5")
    try:
        for p in parts:
            append_corpus_band_index(p, t, **kw)
        before = index_table_file_stats(spark, t)
        assert before["max_files_per_bucket"] > 1, before

        def probe():
            return {tuple(r) for r in stream_dedup_against_corpus(
                batch, docs.where(F.col("doc_id") % 5 != 0),
                k=8, bands=4, hash_family="md5", corpus_index=t,
            ).collect()}

        want = probe()
        report = compact_index_table(spark, t)
        after = index_table_file_stats(spark, t)
        assert report["files_after"] < report["files_before"]
        assert after["max_files_per_bucket"] == 1, after
        assert probe() == want and want
        # layout survived: the probe still reads the bucketed scan (same
        # conf shape as the append-equals-rebuild test — with a broadcast
        # candidate join the planner rightly skips the bucketed read)
        try:
            spark.conf.set(
                "spark.sql.requireAllClusterKeysForCoPartition", "false")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = stream_dedup_against_corpus(
                batch, docs.where(F.col("doc_id") % 5 != 0),
                k=8, bands=4, hash_family="md5", corpus_index=t)
            assert "Bucketed: true" in _index_scan_details(
                formatted_plan(out), t)
        finally:
            spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # properties survived: a post-compact append still validates+lands
        append_corpus_band_index(parts[0].limit(5), t, **kw)
        with pytest.raises(ValueError, match="mismatch"):
            append_corpus_band_index(parts[0], t, buckets=8, k=8, bands=2,
                                     hash_family="md5")
    finally:
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            spark.sql(f"DROP TABLE IF EXISTS {side}")


def test_compact_vector_index_probe_identical_fewer_files(spark):
    """Compaction contract, vector-LSH family: serving off the table name
    (full TBLPROPERTIES validation) must return the same top-k before and
    after compact, with strictly fewer files."""
    import uuid

    from sequila_native_spark.functions import (
        ann_topk_against_index,
        append_vector_bucket_index,
    )
    from sequila_native_spark.util import compact_index_table, index_table_file_stats

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 37 == 0)
    parts = [emb.where((F.col("vec_id") % 37 != 0) & (F.col("vec_id") % 3 == i))
             for i in range(3)]
    t = f"sq_vec_idx_{uuid.uuid4().hex[:8]}"
    kw = dict(buckets=8, n_planes=6, n_tables=4, seed=11)
    try:
        for p in parts:
            append_vector_bucket_index(p, t, **kw)
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] > 1

        def probe():
            return {tuple(r) for r in ann_topk_against_index(
                queries, t, 5, n_planes=6, n_tables=4, seed=11).collect()}

        want = probe()
        report = compact_index_table(spark, t)
        assert report["files_after"] < report["files_before"]
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] == 1
        assert probe() == want and want
    finally:
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            spark.sql(f"DROP TABLE IF EXISTS {side}")


def test_compact_ivf_index_probe_identical_fewer_files(spark):
    """Compaction contract, IVF family: the quantizer fingerprint must
    survive the rewrite (serving validates it against the given centroids)
    and served neighbors must be row-identical."""
    import uuid

    from sequila_native_spark.functions import (
        append_ivf_index,
        ivf_topk_against_index,
    )
    from sequila_native_spark.functions.similarity import (
        _train_centroids,
        centroids_to_table,
    )
    from sequila_native_spark.util import compact_index_table, index_table_file_stats

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 37 == 0)
    corpus = emb.where(F.col("vec_id") % 37 != 0)
    centers = _train_centroids(corpus, "embedding", 8, 11, stable_id_col="vec_id")
    cent_tbl = centroids_to_table(spark, centers)
    parts = [corpus.where(F.col("vec_id") % 3 == i) for i in range(3)]
    t = f"sq_ivf_idx_{uuid.uuid4().hex[:8]}"
    try:
        for p in parts:
            append_ivf_index(p, t, centers, buckets=8)
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] > 1

        def probe():
            return {tuple(r) for r in ivf_topk_against_index(
                queries, t, cent_tbl, 5, n_probe=3).collect()}

        want = probe()
        report = compact_index_table(spark, t)
        assert report["files_after"] < report["files_before"]
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] == 1
        assert probe() == want and want
    finally:
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            spark.sql(f"DROP TABLE IF EXISTS {side}")


def test_compact_rejects_unbucketed_table(spark):
    import uuid

    from sequila_native_spark.util import compact_index_table

    t = f"sq_plain_{uuid.uuid4().hex[:8]}"
    try:
        spark.range(10).write.saveAsTable(t)
        with pytest.raises(ValueError, match="not bucketed"):
            compact_index_table(spark, t)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_hand_bucketed_table_without_properties(spark):
    """Advisor r9: a hand-bucketed table (no sequila.index.* recorded)
    reached via sequila_compact must compact cleanly — the bootstrap's
    CREATE must omit the TBLPROPERTIES clause when there are no params
    (bare 'TBLPROPERTIES ()' is a ParseException, not a refusal)."""
    import uuid

    from sequila_native_spark.util import compact_index_table, index_table_file_stats

    t = f"sq_hand_{uuid.uuid4().hex[:8]}"
    try:
        for i in range(2):
            (spark.range(i * 50, (i + 1) * 50).withColumn("k", F.col("id") % 7)
             .write.bucketBy(4, "k").mode("append").saveAsTable(t))
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] > 1
        want = {tuple(r) for r in spark.table(t).collect()}
        report = compact_index_table(spark, t)
        assert report["files_after"] < report["files_before"]
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] == 1
        assert {tuple(r) for r in spark.table(t).collect()} == want
    finally:
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            spark.sql(f"DROP TABLE IF EXISTS {side}")


def test_maintain_index_noop_below_threshold_compacts_above(spark):
    """VERDICT r9 item 7: maintain_index composes stats → conditional
    compact into one idempotent call. Below the threshold it is a
    metadata no-op (file layout untouched); above it, it compacts to one
    file per bucket; a second call right after is a no-op again."""
    import uuid

    from sequila_native_spark.functions import append_corpus_band_index
    from sequila_native_spark.util import index_table_file_stats, maintain_index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = f"sq_maint_{uuid.uuid4().hex[:8]}"
    try:
        for i in range(3):
            append_corpus_band_index(
                docs.where(F.col("doc_id") % 3 == i), t, buckets=8)
        before = index_table_file_stats(spark, t)
        assert before["max_files_per_bucket"] > 1
        # threshold above the decay: no-op, layout untouched
        rep = maintain_index(spark, t,
                             max_files_per_bucket=before["max_files_per_bucket"])
        assert rep["compacted"] is False
        assert index_table_file_stats(spark, t) == before
        # default threshold under the decay: compacts
        rep = maintain_index(spark, t, max_files_per_bucket=1)
        assert rep["compacted"] is True
        assert rep["files_after"] < rep["files_before"]
        assert index_table_file_stats(spark, t)["max_files_per_bucket"] == 1
        # idempotent: immediately re-running is a no-op
        rep = maintain_index(spark, t, max_files_per_bucket=1)
        assert rep["compacted"] is False
    finally:
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            spark.sql(f"DROP TABLE IF EXISTS {side}")


def test_probe_racing_compaction_swap_named_failure(spark):
    """VERDICT r9 wrong-item 1: a validated probe racing
    compact_index_table's swap window must not die with a bare Spark
    not-found. Before the swap the probe reads; in the mid-swap state
    (table renamed to __sq_precompact, replacement not yet in place) the
    probe retries briefly and then raises a message naming the in-flight
    swap AND the recovery RENAME; after restoring, the probe reads the
    same rows."""
    import uuid

    from sequila_native_spark.functions import (
        ann_topk_against_index,
        append_vector_bucket_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 37 == 0)
    t = f"sq_race_{uuid.uuid4().hex[:8]}"
    kw = dict(n_planes=6, n_tables=2, seed=11)
    try:
        append_vector_bucket_index(
            emb.where(F.col("vec_id") % 37 != 0), t, buckets=4, **kw)

        def probe():
            return {tuple(r) for r in
                    ann_topk_against_index(queries, t, 3, **kw).collect()}

        want = probe()
        assert want
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}__sq_precompact")
        with pytest.raises(ValueError, match="mid-compaction") as ei:
            probe()
        assert f"RENAME TO {t}" in str(ei.value)  # recovery hint present
        spark.sql(f"ALTER TABLE {t}__sq_precompact RENAME TO {t}")
        assert probe() == want
        # plain not-found (no side table) stays a clear build-it message
        with pytest.raises(ValueError, match="does not exist"):
            ann_topk_against_index(queries, f"{t}_missing", 3, **kw)
    finally:
        for side in (t, f"{t}__sq_compact", f"{t}__sq_precompact"):
            spark.sql(f"DROP TABLE IF EXISTS {side}")


def test_await_index_window_configurable(spark, monkeypatch):
    """r11 (advisor): the swap-window retry budget is a session conf —
    deployments with slow metastore RENAMEs widen
    spark.sequila.index.awaitAttempts / awaitDelayMs instead of editing
    call sites; explicit keyword arguments still win; junk conf values
    raise naming the key."""
    import uuid

    from sequila_native_spark import util as sq_util
    from sequila_native_spark.session import (
        INDEX_AWAIT_ATTEMPTS, INDEX_AWAIT_DELAY_MS,
    )
    from sequila_native_spark.util import _await_index_table

    t = f"sq_await_{uuid.uuid4().hex[:8]}"
    pre = f"{t}__sq_precompact"
    spark.range(1).write.saveAsTable(pre)  # mid-swap state: pre, no table
    sleeps = []
    monkeypatch.setattr(sq_util, "_await_sleep", lambda s: sleeps.append(s))
    try:
        spark.conf.set(INDEX_AWAIT_ATTEMPTS, "3")
        spark.conf.set(INDEX_AWAIT_DELAY_MS, "50")
        sleeps.clear()
        with pytest.raises(ValueError, match="mid-compaction"):
            _await_index_table(spark, t)
        assert sleeps == [0.05, 0.05]  # attempts-1 beats at the conf delay
        # explicit kwargs override the conf
        sleeps.clear()
        with pytest.raises(ValueError, match="mid-compaction"):
            _await_index_table(spark, t, attempts=2, delay_s=0.01)
        assert sleeps == [0.01]
        # junk conf values raise naming the key, before any catalog work
        spark.conf.set(INDEX_AWAIT_ATTEMPTS, "soon")
        with pytest.raises(ValueError, match="awaitAttempts"):
            _await_index_table(spark, t)
        spark.conf.set(INDEX_AWAIT_ATTEMPTS, "0")
        with pytest.raises(ValueError, match="must be >= 1"):
            _await_index_table(spark, t)
        spark.conf.set(INDEX_AWAIT_ATTEMPTS, "3")
        spark.conf.set(INDEX_AWAIT_DELAY_MS, "-1ms")
        with pytest.raises(ValueError, match="awaitDelayMs"):
            _await_index_table(spark, t)
    finally:
        spark.conf.unset(INDEX_AWAIT_ATTEMPTS)
        spark.conf.unset(INDEX_AWAIT_DELAY_MS)
        spark.sql(f"DROP TABLE IF EXISTS {pre}")


def test_multiprobe_serving_adds_no_shuffle(spark):
    """r10: multi-probe dedup is the stateless meeting-table rule — the
    serving plan must carry EXACTLY the same SHUFFLE count as the plain
    path (one hash exchange, the re-rank window), where the r9
    dropDuplicates dedup added a second. r11 (advisor): the broadcast
    probe side no longer duplicates the query vector across the 56-row
    probe fan-out — vectors re-join post-dedup from one extra plain
    batch-sized BroadcastExchange, which is the ONLY plan delta allowed
    here (a broadcast of the un-fanned query batch, not a shuffle)."""
    from sequila_native_spark.functions import ann_topk_against_index
    from sequila_native_spark.functions.similarity import vector_bucket_index

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    queries = emb.where(F.col("vec_id") % 137 == 0)
    idx = vector_bucket_index(corpus, n_planes=6, n_tables=4, seed=11)
    kw = dict(n_planes=6, n_tables=4, seed=11)
    plain = formatted_plan(ann_topk_against_index(queries, idx, 5, **kw))
    multi = formatted_plan(ann_topk_against_index(
        queries, idx, 5, multiprobe_flips=2, probe_budget=8, **kw))

    import re

    def nodes(plan: str, name: str) -> int:
        # formatted mode prints each node twice (tree + detail); count the
        # numbered detail headers so one physical node counts once
        return len(re.findall(rf"\(\d+\) {name}(?![A-Za-z])", plan))

    # same shuffle count as the plain path (the index frame's own
    # repartition + the re-rank window shuffle — nothing added by flips)
    assert nodes(multi, "Exchange") == nodes(plain, "Exchange") == 2
    assert "dropDuplicates" not in multi and "Deduplicate" not in multi
    # exactly one extra broadcast: the post-dedup vector rejoin
    assert (nodes(multi, "BroadcastExchange")
            == nodes(plain, "BroadcastExchange") + 1)
