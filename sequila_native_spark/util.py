"""Shared plan utilities."""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Analyzed-plan node names that introduce a shuffle or other source of
# row-order nondeterminism on recomputation. Shuffle *fetch order* is
# nondeterministic (reducers merge mapper blocks in arrival order), so any
# post-shuffle frame can present rows in a different order when a plan branch
# re-evaluates it — which breaks positional ids. Python-evaluated stages are
# included because their functions are opaque to us. GlobalLimit: which rows
# a limit keeps after a shuffle is itself fetch-order-dependent.
_WIDE_NODE_MARKERS = (
    "Join",
    "Aggregate",
    "Deduplicate",
    "Window",
    "Sort",
    "Repartition",  # also matches RepartitionByExpression
    "RebalancePartitions",
    "Sample",
    "MapInPandas",
    "MapInArrow",
    "FlatMap",  # grouped and cogrouped Python stages, Pandas or Arrow
    "GlobalLimit",
)

# Nondeterministic expressions can appear anywhere inside a line.
_WIDE_EXPR_MARKERS = ("rand(", "randn(", "uuid(", "shuffle(")


def _has_wide_lineage(df: DataFrame) -> bool:
    """True when the frame's lineage contains a shuffle / nondeterministic
    stage, i.e. positional row ids may disagree across plan branches.

    Node markers are matched at the START of each plan line (after the
    tree-drawing prefix), not as substrings — a user column named ``Sample``
    or ``SortKey`` appears inside ``Project [...]`` brackets mid-line and
    must not force a checkpoint."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True  # Connect or API drift: can't inspect — assume the worst
    for line in plan.splitlines():
        if line.lstrip(" :+-").startswith(_WIDE_NODE_MARKERS):
            return True
    return any(m in plan for m in _WIDE_EXPR_MARKERS)


def ensure_parallel(df: DataFrame, shuffle_cols: list[str] | None = None) -> DataFrame:
    """Repartition a side whose scan has too few splits to use the cluster.

    A single small parquet file (one row group) scans as ONE partition, and
    every downstream narrow op — expression evaluation, explode, broadcast
    probe, mapInPandas — then runs in one task. At real scale scans already
    have many splits and this is a no-op; the partition-count probe memoizes
    per (session, analyzed-plan) so repeated operator calls over the same
    frame skip the physical planning it costs.

    With ``shuffle_cols`` the repartition is hash-keyed (so a following
    equi-join on those columns reuses the exchange); otherwise round-robin.
    """
    if df.isStreaming:
        return df  # no .rdd on streams; micro-batch sizing governs parallelism
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parallelism = spark.sparkContext.defaultParallelism
    if num_partitions(df) < min(target, parallelism):
        if shuffle_cols:
            return df.repartition(target, *shuffle_cols)
        return df.repartition(target)
    return df


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s scan, memoized per (session,
    analyzed plan): the probe costs a physical planning."""
    key = cache = None
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
        cache = session_scoped_cache(df.sparkSession, _PARTS_CACHE)
    except Exception:
        pass
    if cache is not None and key in cache:
        return cache[key]
    nparts = df.rdd.getNumPartitions()
    if cache is not None:
        cache[key] = nparts
    return nparts


# Per-session memo caps: a long-lived session that plans many distinct frame
# shapes should not grow an unbounded side table (a memo entry costs one
# planning probe to rebuild, so eviction is cheap); and a long-lived PROCESS
# creating many sessions should not grow one store entry per dead session.
_SESSION_CACHE_CAP = 256
_SESSION_STORE_CAP = 64


def _session_key(spark):
    """STABLE per-session identifier (application id + session UUID) rather
    than ``id(spark)`` — a GC'd session's address can be reused by a new
    session, which would serve the old session's memo entries to the new
    one. Falls back to ``id(spark)`` where the identifiers aren't reachable
    (Connect)."""
    try:
        return (
            spark.sparkContext.applicationId,
            spark._jsparkSession.sessionUUID(),
        )
    except Exception:
        return id(spark)


def session_scoped_cache(spark, store: dict) -> dict:
    """Per-session memo dict from ``store``, keyed by :func:`_session_key`.

    Both levels are bounded with oldest-first eviction (dicts are
    insertion-ordered): at most ``_SESSION_STORE_CAP`` session entries per
    store — a long-lived process churning sessions evicts dead sessions'
    memos instead of leaking them — and at most ``_SESSION_CACHE_CAP``
    entries per session memo, evicted one at a time (not a full clear: the
    other memoized shapes stay warm)."""
    key = _session_key(spark)
    cache = store.get(key)
    if cache is None:
        while len(store) >= _SESSION_STORE_CAP:
            store.pop(next(iter(store)))
        cache = store[key] = {}
    while len(cache) >= _SESSION_CACHE_CAP:
        cache.pop(next(iter(cache)))
    return cache


_PARTS_CACHE: dict = {}


# Session index cache: built broadcast indexes, so repeated operator calls
# over one unchanged input build and broadcast once — the analogue of the
# reference's ``OnceAsync`` build shared by every probe partition. Bounded
# by the summed pickled bytes of its entries' broadcasts; an entry larger
# than the whole bound is used once and not kept.
INDEX_CACHE_MAX_BYTES = 256 << 20
_INDEX_CACHES: dict = {}
_INDEX_LOCK = threading.Lock()

# One file of a file index's listing as Hadoop's FileStatus.toString prints
# it: "LocatedFileStatus{path=P; isDirectory=false; length=N; ...;
# modification_time=M; ...}".
_LISTED_FILE = re.compile(
    r"\{path=(.*?); isDirectory=false; length=(\d+);.*?; modification_time=(-?\d+);"
)


@dataclass
class _IndexEntry:
    plan: object  # the build frame's analyzed plan (JVM), for sameResult
    files: tuple  # (path, size, mtime) per input file, as listed
    bc: object  # the Broadcast of the built index
    rows: int  # build rows collected
    nbytes: int  # pickled size of the broadcast value


def _listed_files(plan) -> tuple | None:
    """``(path, size, mtime)`` of every file the leaves of an analyzed plan
    read, as their file indexes list them — the listing the scan itself
    is planned from, fetched in one JVM call per leaf without touching the
    file system. None when any leaf is not a listed file relation
    (``LogicalRDD``, ``LocalRelation``, ``Range``, a v2 source, a
    catalog-partitioned table's index…): only file inputs can be checked
    for change."""
    leaves = plan.collectLeaves()
    files = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.getClass().getName().endswith(".LogicalRelation"):
            return None
        rel = leaf.relation()
        if not rel.getClass().getName().endswith(".HadoopFsRelation"):
            return None
        listing = rel.location().allFiles().mkString("\n")
        for line in listing.split("\n") if listing else ():
            m = _LISTED_FILE.search(line)
            if m is None:
                return None
            files.append((m[1], int(m[2]), int(m[3])))
    return tuple(sorted(files))


def _index_key(df: DataFrame, kind: tuple):
    """``(bucket, plan, files)`` for a cacheable build frame, else None.

    Cacheable means: batch, deterministic, no subquery, and every leaf a
    listed file relation. The bucket is ``(kind, semanticHash)``; a hit
    also needs ``sameResult`` on the plans and an equal file listing."""
    if df.isStreaming:
        return None
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.deterministic() or plan.subqueriesAll().nonEmpty():
            return None
        files = _listed_files(plan)
        if files is None:
            return None
        return (kind, plan.semanticHash()), plan, files
    except Exception:  # Connect or API drift: never cache
        return None


def _broadcast_bytes(bc) -> int:
    """Size of a driver-side broadcast's pickled value — what the driver
    holds for it, whatever the value's types. 0 when unknown (an encrypted
    broadcast streams its value to the JVM instead of the file)."""
    try:
        return os.path.getsize(bc._path)
    except (AttributeError, OSError):
        return 0


def _drop_entry(e: _IndexEntry) -> None:
    # unpersist, never destroy: a lazy frame from an earlier call may still
    # read this broadcast; Spark re-sends it from the driver if it does
    try:
        e.bc.unpersist()
    except Exception:
        pass


def cached_broadcast(df: DataFrame, kind: tuple, build):
    """``(broadcast, rows)`` of the index ``build()`` makes over ``df``,
    built once per input.

    ``build()`` collects ``df`` and returns ``(index, rows)``. Its broadcast
    is kept in the session index cache when ``df`` is cacheable (see
    :func:`_index_key`) and served again for any later frame with the same
    ``kind``, the same result (``sameResult`` on the analyzed plans) and
    the same input file listing. An entry whose plan matches but whose
    files changed is dropped. Callers re-check ``rows`` against their row
    cap, so a lowered cap still forces their fallback."""
    spark = df.sparkSession
    found = _index_key(df, kind)
    if found:
        key, plan, files = found
        with _INDEX_LOCK:
            cache = session_scoped_cache(spark, _INDEX_CACHES)
            bucket = cache.pop(key, [])
            for e in list(bucket):
                if e.plan.sameResult(plan):
                    if e.files == files:
                        cache[key] = bucket  # re-inserted: most recently used
                        return e.bc, e.rows
                    bucket.remove(e)  # the files changed under this plan
                    _drop_entry(e)
            if bucket:
                cache[key] = bucket
    index, rows = build()
    bc = spark.sparkContext.broadcast(index)
    nbytes = _broadcast_bytes(bc)
    if found and 0 < nbytes <= INDEX_CACHE_MAX_BYTES:
        entry = _IndexEntry(plan, files, bc, rows, nbytes)
        with _INDEX_LOCK:
            cache = session_scoped_cache(spark, _INDEX_CACHES)
            cache[key] = [*cache.pop(key, []), entry]
            total = sum(e.nbytes for b in cache.values() for e in b)
            while total > INDEX_CACHE_MAX_BYTES:  # least recently used first
                oldest = next(iter(cache))
                e = cache[oldest].pop(0)
                if not cache[oldest]:
                    del cache[oldest]
                total -= e.nbytes
                _drop_entry(e)
    return bc, rows


def clear_index_cache(spark=None) -> None:
    """Drop cached broadcast indexes (all sessions, or one), unpersisting
    their broadcasts."""
    with _INDEX_LOCK:
        stores = (
            list(_INDEX_CACHES.values()) if spark is None
            else [session_scoped_cache(spark, _INDEX_CACHES)]
        )
        for cache in stores:
            for bucket in cache.values():
                for e in bucket:
                    _drop_entry(e)
            cache.clear()

# RDD ids of the library's own localCheckpoints, per session — what
# drop_stale_persisted is allowed to unpersist. Registered by
# lib_checkpoint via a before/after snapshot of the context's persisted-RDD
# map (localCheckpoint persists its RDD at mark time, even with
# eager=False, so the diff is immediate).
_CKPT_IDS: dict = {}


def _ckpt_registry(spark) -> set:
    key = _session_key(spark)
    reg = _CKPT_IDS.get(key)
    if reg is None:
        while len(_CKPT_IDS) >= _SESSION_STORE_CAP:
            _CKPT_IDS.pop(next(iter(_CKPT_IDS)))
        reg = _CKPT_IDS[key] = set()
    return reg


def lib_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager=...)`` with the persisted RDD id recorded
    in the library's per-session registry, so :func:`drop_stale_persisted`
    can later release exactly these blocks and never a user's own
    ``RDD.persist`` / ``localCheckpoint`` data.

    Registration is a before/after diff of ``getPersistentRDDs`` around the
    checkpoint call; a concurrent persist from another thread in that window
    would be mis-claimed — acceptable for a memory-hygiene registry (the
    cost is an early unpersist = one recompute, never wrong results)."""
    spark = df.sparkSession
    jsc = None
    before = None
    try:
        jsc = spark.sparkContext._jsc
        before = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    except Exception:
        pass
    out = df.localCheckpoint(eager=eager)
    if before is not None:
        try:
            after = {int(k) for k in jsc.getPersistentRDDs().keySet()}
            _ckpt_registry(spark).update(after - before)
        except Exception:
            pass
    return out


def drop_stale_persisted(spark, *, only_tracked: bool = True) -> int:
    """Unpersist the library's own checkpointed RDDs (see
    :func:`lib_checkpoint`).

    Operators pin small frames with (lazy) ``localCheckpoint`` — candidate
    sets, id-pair snapshots, stamped frames. Spark has no reference-counted
    unpersist for checkpoints, so in a long-lived session those blocks
    accumulate until JVM eviction. Call this BETWEEN unrelated queries (never
    while a checkpointed frame from a still-live result is in use) to keep
    block-manager memory flat; returns the number of RDDs dropped.

    By default only RDDs the library registered are touched — user
    ``.persist()``ed RDDs and user local checkpoints survive.
    ``only_tracked=False`` restores the old drop-everything behavior
    (which also truncates lineage of any user frame relying on a persisted
    checkpoint — a later action on it fails unrecoverably; only use it when
    the session runs nothing but this library's queries).
    """
    n = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        tracked = _ckpt_registry(spark) if only_tracked else None
        entries = [(int(k), v) for k, v in jmap.items()]
        if tracked is not None:
            tracked &= {rid for rid, _ in entries}  # prune ids gone elsewhere
        for rid, jrdd in entries:
            if tracked is not None and rid not in tracked:
                continue
            jrdd.unpersist()
            if tracked is not None:
                tracked.discard(rid)
            n += 1
    except Exception:
        pass
    return n


def stamp_row_id(df: DataFrame, col_name: str) -> DataFrame:
    """Attach a per-row id for operators that join a stamped frame against a
    derivative of itself (semi/anti filters, count-join-back, outer padding).

    Uses ``monotonically_increasing_id`` (partition ordinal << 33 | row
    position — no shuffle, no scan). The id must agree between the two plan
    branches that re-evaluate the stamped subtree; that holds only when the
    upstream lineage is deterministic in partitioning and row order (file
    scans + narrow ops). When the lineage contains a shuffle, a Python stage,
    or a nondeterministic expression (``rand()``, sampling), row order can
    differ between evaluations — shuffle fetch order is nondeterministic — so
    the stamped frame is pinned with a lazy ``localCheckpoint`` and every
    branch reads the one materialized snapshot instead of recomputing.

    Scale note: the checkpoint persists the stamped frame to executor
    memory+disk, which is exactly what correctness requires (there is no
    cheaper way to make positions stable across a nondeterministic shuffle);
    scan-fed frames — the common case for 100 TB probe sides — skip it.
    """
    from pyspark.sql import functions as F

    stamped = df.withColumn(col_name, F.monotonically_increasing_id())
    if _has_wide_lineage(df):
        try:
            return lib_checkpoint(stamped)
        except Exception:
            return stamped  # no checkpoint support here (Connect): best effort
    return stamped


def read_index_table_params(spark, table: str) -> dict[str, str]:
    """The ``sequila.index.*`` TBLPROPERTIES of a persisted index table."""
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        if r["key"].startswith("sequila.index.")
    }


def validate_index_table_params(
    spark, table: str, params: dict[str, str]
) -> None:
    """Assert a persisted index table's recorded ``sequila.index.*``
    TBLPROPERTIES match ``params`` exactly; raise with a repair hint when
    the table carries no record, and with the full diff on a mismatch.
    Shared by the append functions (write side) and the gates' table-name
    path (probe side) — both directions of the silent-mismatch hazard."""
    props = read_index_table_params(spark, table)
    missing = [p for p in params if p not in props]
    if missing:
        kv = ", ".join(f"'{p}'='{v}'" for p, v in sorted(params.items()))
        raise ValueError(
            f"table {table!r} carries no recorded signing parameters "
            f"({missing}) — it was not bootstrapped by the index append "
            f"function; rebuild it through that function, or — if it "
            f"WAS built with exactly these parameters — repair it with: "
            f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})"
        )
    bad = {p: (props[p], v) for p, v in params.items() if props[p] != v}
    if bad:
        raise ValueError(
            f"index-parameter mismatch against table {table!r}: "
            + ", ".join(
                f"{p}: table={tv!r} vs caller={av!r}"
                for p, (tv, av) in sorted(bad.items())
            )
            + " — rows signed with differing parameters never match"
        )


def bootstrap_or_validate_index_table(
    spark,
    table: str,
    params: dict[str, str],
    *,
    schema_ddl: str,
    bucket_cols: list[str],
    buckets: int,
    sort_cols: list[str] | None = None,
) -> bool:
    """Bootstrap a persisted bucketed index table, or validate a persisted
    one's recorded build parameters — the shared guard under
    ``dedup.append_corpus_band_index`` and
    ``similarity.append_vector_bucket_index``.

    Rows built with different signing parameters (MinHash ``k/bands``, LSH
    ``planes/seed``) land in the table silently unmatched by probes —
    invisible rows, no error — so the parameters are recorded as
    ``TBLPROPERTIES`` and every later append must present the same values.

    Bootstrap is properties-FIRST: ``CREATE TABLE … TBLPROPERTIES`` with no
    data, then the caller appends. The reverse order (write data, then
    ALTER) has a crash window that leaves a valid-looking table every
    future append permanently rejects (reviewer, r7). A crash after this
    CREATE leaves an empty-but-correctly-stamped table that the next
    append simply fills.

    Returns True when the table already existed (caller appends either way).
    """
    if spark.catalog.tableExists(table):
        validate_index_table_params(spark, table, params)
        return True
    cols = ", ".join(f"`{c}`" for c in bucket_cols)
    # sort_cols=None keeps the library default (sorted by the bucket cols,
    # what the append_*_index builders create); compact passes the REAL
    # described sort spec so a hand-bucketed unsorted table round-trips
    # (an append into a SORTED BY table without sortBy is a mismatch).
    scols = bucket_cols if sort_cols is None else sort_cols
    sorted_by = (
        " SORTED BY (" + ", ".join(f"`{c}`" for c in scols) + ")"
        if scols else ""
    )
    kv = ", ".join(f"'{p}'='{v}'" for p, v in sorted(params.items()))
    # Empty params (e.g. compacting a hand-bucketed table that recorded no
    # sequila.index.* properties) must OMIT the clause — 'TBLPROPERTIES ()'
    # is a ParseException, not a refusal (advisor, r9).
    props = f" TBLPROPERTIES ({kv})" if kv else ""
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
        f"CLUSTERED BY ({cols}){sorted_by} "
        f"INTO {int(buckets)} BUCKETS{props}"
    )
    return False


def _describe_bucket_spec(spark, table: str) -> tuple[list[str], list[str], int]:
    """The (bucket_cols, sort_cols, n_buckets) a table was created with,
    from ``DESCRIBE FORMATTED`` — how :func:`compact_index_table` recovers
    the layout it must preserve without the caller restating it."""
    rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    info = {
        (r["col_name"] or "").strip(): (r["data_type"] or "").strip()
        for r in rows
    }
    nb, bc = info.get("Num Buckets"), info.get("Bucket Columns")
    if not nb or not bc:
        raise ValueError(
            f"table {table!r} is not bucketed — only the bucketed index "
            f"tables this library appends to can be compacted"
        )

    def cols(s: str) -> list[str]:
        return [c.strip().strip("`") for c in s.strip("[]").split(",") if c.strip()]

    return cols(bc), cols(info.get("Sort Columns", "")), int(nb)


def _table_location(spark, table: str) -> str | None:
    """Local-filesystem path of a table, or None (non-file scheme)."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (r["col_name"] or "").strip() == "Location":
            loc = (r["data_type"] or "").strip()
            if loc.startswith("file:"):
                return loc.removeprefix("file:")
            if loc.startswith("/"):
                return loc
    return None


def index_table_file_stats(spark, table: str) -> dict:
    """Small-file HEALTH PROBE for an append-mode bucketed index table:
    every ``append_*_index`` call adds at least one new file per touched
    bucket, so a daily-ingest loop accumulates thousands of small files
    per bucket within months — and every bucket-pruned probe then opens
    all of them. Alert on ``max_files_per_bucket`` (or schedule
    :func:`compact_index_table`) before probe latency decays.

    Returns ``{n_files, n_buckets, n_buckets_with_files,
    max_files_per_bucket, mean_files_per_bucket}`` — file→bucket
    attribution parses the ``_NNNNN`` bucket id Spark encodes in bucketed
    file names; unattributable files (none, for tables this library
    wrote) count under bucket -1."""
    import re as _re

    _, _, buckets = _describe_bucket_spec(spark, table)
    counts: dict[int, int] = {}
    for f in spark.table(table).inputFiles():
        m = _re.search(r"_(\d{5})\.", f.rsplit("/", 1)[-1])
        b = int(m.group(1)) if m else -1
        counts[b] = counts.get(b, 0) + 1
    n_files = sum(counts.values())
    return {
        "n_files": n_files,
        "n_buckets": buckets,
        "n_buckets_with_files": len(counts),
        "max_files_per_bucket": max(counts.values(), default=0),
        "mean_files_per_bucket": round(n_files / max(len(counts), 1), 3),
    }


def compact_index_table(spark, table: str) -> dict:
    """MAINTENANCE for the append-mode bucketed index tables
    (``dedup.append_corpus_band_index``,
    ``similarity.append_vector_bucket_index``,
    ``similarity.append_ivf_index``): rewrite ``table`` in place with its
    own recorded bucket spec, collapsing the one-file-per-bucket-per-append
    accumulation back to one file per bucket — probes read the same rows
    through the same bucket layout, just without the small-file fan-out.

    The rewrite shuffles once, hash-partitioned by the bucket columns into
    exactly ``n_buckets`` tasks — the same Murmur3 hash bucketBy uses, so
    each task holds exactly one bucket and writes exactly one file. Cost
    is one table scan + one shuffle of the INDEX (signatures/vectors, not
    the corpus), embarrassingly parallel; run it on the ingest cadence
    where :func:`index_table_file_stats` says so. Scale note: compaction
    parallelism (and the post-compact file size) is ``n_buckets`` — pick
    the bucket count for the cluster width AND a sane per-bucket data
    volume at BUILD time; the bucket count is the one parameter this
    rewrite deliberately never changes (probes rely on it).

    All ``sequila.*`` TBLPROPERTIES are re-stamped on the replacement
    table before any data lands (properties-first, as bootstrap does), so
    appends and validated probes keep working across compactions.

    Crash safety (three catalog ops, no transaction): the rewrite lands in
    ``{table}__sq_compact`` first, then the swap is RENAME old →
    ``{table}__sq_precompact``, RENAME staging → ``table``, DROP old. A
    crash mid-swap leaves both tables intact under the side names — no
    data loss at any step; re-running compact (or renaming back) recovers.
    Leftover side tables from a crashed run are cleared on the next call.

    CONCURRENT READERS (maintenance-window contract): between the two
    RENAMEs the table name resolves to NOTHING — a probe racing the swap
    in another session sees table-not-found for that window (catalog-op
    scale, not data scale: the rewrite itself happens before the swap).
    Run compaction in the ingest maintenance window, not under live
    serving. Probes that go through :func:`resolve_index_frame` (all the
    table-name gates/serving paths) retry briefly and then fail with a
    message naming the in-flight swap; raw ``spark.table(t)`` readers get
    Spark's plain not-found.

    Returns ``{files_before, files_after, rows}``.
    """
    import os
    import shutil

    bucket_cols, sort_cols, buckets = _describe_bucket_spec(spark, table)
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        if r["key"].startswith("sequila.")
    }
    before = index_table_file_stats(spark, table)
    df = spark.table(table)
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    parent = os.path.dirname(_table_location(spark, table) or "") or None
    staging, old = f"{table}__sq_compact", f"{table}__sq_precompact"
    for tmp in (staging, old):
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        if parent:  # a dir orphaned by a crashed prior run blocks CREATE
            loc = os.path.join(parent, tmp.split(".")[-1].lower())
            if os.path.isdir(loc):
                shutil.rmtree(loc)
    bootstrap_or_validate_index_table(
        spark, staging,
        {k: v for k, v in props.items() if k.startswith("sequila.index.")},
        schema_ddl=schema_ddl, bucket_cols=bucket_cols, buckets=buckets,
        sort_cols=sort_cols,
    )
    extra = {
        k: v for k, v in props.items() if not k.startswith("sequila.index.")
    }
    if extra:
        kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(extra.items()))
        spark.sql(f"ALTER TABLE {staging} SET TBLPROPERTIES ({kv})")
    # The rewrite must read RAW FILE SPLITS, not the bucketed scan: against
    # a bucketed source the planner elides the repartition as redundant
    # (the scan claims the required HashPartitioning) and then
    # DisableUnnecessaryBucketedScan drops the bucketed read itself —
    # leaving one output file per (input split × bucket), i.e. no
    # compaction at all (measured: 192 → 48 files instead of → 8).
    prev = spark.conf.get("spark.sql.sources.bucketing.enabled", "true")
    try:
        spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
        writer = (
            df.repartition(buckets, *bucket_cols)
            .write.bucketBy(buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.mode("append").saveAsTable(staging)
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", prev)
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    try:
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    except Exception:
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")  # restore; keep staging
        raise
    spark.sql(f"DROP TABLE {old}")
    after = index_table_file_stats(spark, table)
    return {
        "files_before": before["n_files"],
        "files_after": after["n_files"],
        "rows": spark.table(table).count(),
    }


def _await_sleep(seconds: float) -> None:
    """The swap-window retry's only blocking side effect, as a module
    seam tests can patch without touching ``time.sleep`` process-wide."""
    import time

    time.sleep(seconds)


def _await_index_table(
    spark, table: str, *, attempts: int | None = None,
    delay_s: float | None = None
) -> None:
    """Bounded staleness retry for a probe racing
    :func:`compact_index_table`'s swap window: between its two RENAMEs the
    table name resolves to nothing for a catalog-op-scale moment. Retry a
    few short beats; if the name still doesn't resolve, raise a message
    that says WHICH failure this is — mid-swap (the ``__sq_precompact``
    side table exists: compaction in flight or crashed, with the recovery
    hint) vs plain not-found. A name with NO side table fails fast (no
    sleeps — a typo'd index shouldn't pay the retry budget; the swap
    window always leaves the side table visible), with one table recheck
    to close the side-table-just-dropped crossing race.

    The default budget (5 × 200 ms ≈ 1 s) fits the in-memory catalog and
    a healthy metastore; deployments where the two catalog RENAMEs run
    slower widen it via session conf instead of editing call sites —
    ``spark.sequila.index.awaitAttempts`` /
    ``spark.sequila.index.awaitDelayMs`` (explicit keyword arguments
    still win over the conf). Sleeps go through :func:`_await_sleep`
    (patchable seam — patching ``time.sleep`` globally starves PySpark's
    daemon threads into spin loops)."""

    from sequila_native_spark.session import (
        DEFAULT_INDEX_AWAIT_ATTEMPTS,
        DEFAULT_INDEX_AWAIT_DELAY_MS,
        INDEX_AWAIT_ATTEMPTS,
        INDEX_AWAIT_DELAY_MS,
    )

    if attempts is None:
        raw = spark.conf.get(
            INDEX_AWAIT_ATTEMPTS, str(DEFAULT_INDEX_AWAIT_ATTEMPTS))
        try:
            attempts = int(raw)
        except (TypeError, ValueError):
            raise ValueError(
                f"{INDEX_AWAIT_ATTEMPTS} must be a positive integer, "
                f"got {raw!r}") from None
    if delay_s is None:
        raw = spark.conf.get(
            INDEX_AWAIT_DELAY_MS, str(DEFAULT_INDEX_AWAIT_DELAY_MS))
        try:
            delay_s = int(raw) / 1000.0
        except (TypeError, ValueError):
            raise ValueError(
                f"{INDEX_AWAIT_DELAY_MS} must be a non-negative integer "
                f"millisecond count, got {raw!r}") from None
    if attempts < 1:
        raise ValueError(f"index await attempts must be >= 1, got {attempts}")
    if delay_s < 0:
        raise ValueError(f"index await delay must be >= 0, got {delay_s}")

    pre = f"{table}__sq_precompact"
    for i in range(attempts):
        if spark.catalog.tableExists(table):
            return
        if not spark.catalog.tableExists(pre):
            # no swap in flight; recheck once — the swap may have COMPLETED
            # (pre dropped, table restored) between the two checks
            if spark.catalog.tableExists(table):
                return
            break
        if i < attempts - 1:
            _await_sleep(delay_s)
    if spark.catalog.tableExists(pre):
        raise ValueError(
            f"index table {table!r} is mid-compaction: the pre-compact "
            f"side table {pre!r} exists but {table!r} does not resolve — "
            f"a compact_index_table() swap is in flight (retry shortly) or "
            f"crashed between renames (recover with: ALTER TABLE {pre} "
            f"RENAME TO {table}). Run compaction in a maintenance window, "
            f"not under live serving."
        )
    raise ValueError(
        f"index table {table!r} does not exist — build it with the "
        f"matching append_*_index function"
    )


def maintain_index(
    spark, table: str, *, max_files_per_bucket: int = 8
) -> dict:
    """The daily-ingest maintenance loop as ONE idempotent call:
    :func:`index_table_file_stats` → :func:`compact_index_table` only when
    any bucket's file count exceeds ``max_files_per_bucket``. Below the
    threshold it is a metadata-only no-op (one file listing, no job) — so
    scheduling it unconditionally on the ingest cadence is safe; the
    rewrite cost is paid only when the small-file decay has actually
    accumulated. SQL phrasing: ``sequila_maintain('idx_tbl', [threshold])``.

    Returns the file stats plus ``{"compacted": bool}`` (and, when a
    rewrite ran, compact's ``files_before/files_after/rows`` report).
    Same maintenance-window contract as :func:`compact_index_table` when
    it does rewrite."""
    stats = index_table_file_stats(spark, table)
    if stats["max_files_per_bucket"] <= int(max_files_per_bucket):
        return {"compacted": False, **stats}
    report = compact_index_table(spark, table)
    return {"compacted": True, **stats, **report}


def resolve_index_frame(
    spark,
    index,
    *,
    params: dict[str, str | None],
    required_cols,
    builder_name: str,
    frame_probe=None,
) -> tuple[DataFrame, dict[str, str | None]]:
    """Shared table-name-vs-frame resolution for every persisted-index
    CONSUMER (the dedup band gate, the vector gate, ANN serving, IVF
    serving) — one copy of the silent-corruption guard instead of four
    ~40-line near-identical blocks (reviewer, r8: four copies is where the
    next drift bug lives).

    ``index`` is either a TABLE NAME (an ``append_*_index`` table: every
    entry of ``params`` is validated against the recorded
    ``sequila.index.*`` TBLPROPERTIES before any plan is built) or a
    DataFrame (only row-readable checks are possible: ``required_cols``
    membership, not-streaming, plus the caller's ``frame_probe`` — e.g.
    signature-width / bucket-array-length probes; the remaining parameters
    stay the caller's contract).

    ``params`` values may be None: a None is FILLED from the table's
    recorded properties when the table form is used (how ``dim`` defaults
    to the recorded build value) and left None for the frame form — the
    caller falls back to its own inference. Returns
    ``(frame, resolved_params)``.
    """
    if isinstance(index, str):
        _await_index_table(spark, index)
        props = read_index_table_params(spark, index)
        resolved = {
            key: (props.get(key) if val is None else val)
            for key, val in params.items()
        }
        validate_index_table_params(
            spark, index,
            {k: v for k, v in resolved.items() if v is not None},
        )
        return spark.table(index), resolved
    missing = sorted(set(required_cols) - set(index.columns))
    if missing:
        raise ValueError(
            f"index frame missing columns {missing} — build it with "
            f"{builder_name}()"
        )
    if index.isStreaming:
        raise ValueError("the index side must be a static DataFrame")
    if frame_probe is not None:
        frame_probe(index)
    return index, dict(params)


def lib_checkpoint_ids(df: DataFrame, eager: bool = False):
    """:func:`lib_checkpoint` that ALSO returns the persisted RDD ids the
    call pinned (before/after diff of ``getPersistentRDDs``), so iterative
    loops can release exactly one round's blocks once the next round is
    materialized. ``persist`` registers the RDD immediately — lazily
    checkpointed frames are captured too, before any job runs.

    Returns ``(checkpointed_df, new_ids)``; ``new_ids`` is empty when the
    JVM handle is unavailable (Connect) — the caller's free becomes a no-op
    and :func:`drop_stale_persisted` remains the backstop."""
    spark = df.sparkSession
    try:
        jsc = spark.sparkContext._jsc
        before = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    except Exception:
        return lib_checkpoint(df, eager=eager), set()
    out = lib_checkpoint(df, eager=eager)
    try:
        after = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    except Exception:
        return out, set()
    return out, after - before


def unpersist_rdd_ids(spark, ids) -> int:
    """Unpersist exactly the given persisted-RDD ids (library-internal:
    the ids come from :func:`lib_checkpoint_ids`). A ``DataFrame._jdf.rdd()``
    round-trip does NOT reach these blocks — it returns a derived
    deserialized RDD, never the one ``localCheckpoint`` pinned (reviewer,
    r7) — so the release must go through ``getPersistentRDDs`` by id.
    Returns the number of RDDs actually dropped."""
    if not ids:
        return 0
    n = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        reg = _ckpt_registry(spark)
        for k, v in jmap.items():
            if int(k) in ids:
                v.unpersist()
                reg.discard(int(k))
                n += 1
    except Exception:
        pass
    return n
