"""Session helpers + config surface.

Mirrors the reference's session extension
(``src/session_context.rs:16-60``): ``SessionContext::new_with_sequila``
installs a config extension with three knobs under the ``sequila.`` prefix —

- ``sequila.prefer_interval_join`` (default ``true``)
- ``sequila.interval_join_algorithm`` (default ``Coitrees``)
- ``sequila.interval_join_low_memory`` (default ``false``)

Our Spark equivalents live under ``spark.sequila.*`` and are plain
``spark.conf`` entries read lazily by the operator functions — nothing needs
to be set at session-build time, so :func:`sequila_session` works on an
existing ``SparkSession`` too (the reference's embedded-library entry point,
``integration_test.rs:14-22``).

Algorithm-name parsing is case-insensitive like the reference's
(``session_context.rs:85-104``); the reference's seven index flavors all
produce identical join output (its tests assert this), so they all map onto
our ``index`` implementation.
"""

from __future__ import annotations

import importlib.util
import logging
import math
import os
import site
from dataclasses import dataclass

from pyspark.sql import SparkSession

PREFER_INTERVAL_JOIN = "spark.sequila.preferIntervalJoin"
INTERVAL_JOIN_ALGORITHM = "spark.sequila.intervalJoinAlgorithm"
INTERVAL_JOIN_BIN_WIDTH = "spark.sequila.intervalJoinBinWidth"
INTERVAL_JOIN_LOW_MEMORY = "spark.sequila.intervalJoinLowMemory"
CHECK_INT32_BOUNDS = "spark.sequila.checkInt32Bounds"
MAX_BROADCAST_BUILD_ROWS = "spark.sequila.maxBroadcastBuildRows"
BINNED_JOIN_PARTITIONS = "spark.sequila.binnedJoinPartitions"
NEAREST_K = "spark.sequila.nearestK"
# Staleness-retry window for probes racing compact_index_table's two-RENAME
# swap (util._await_index_table). The in-memory catalog swaps in
# milliseconds; a loaded external metastore can take longer — widen these
# per deployment instead of editing call sites (advisor, r10).
INDEX_AWAIT_ATTEMPTS = "spark.sequila.index.awaitAttempts"
INDEX_AWAIT_DELAY_MS = "spark.sequila.index.awaitDelayMs"

DEFAULT_INDEX_AWAIT_ATTEMPTS = 5
DEFAULT_INDEX_AWAIT_DELAY_MS = 200

# r12: dedup_clusters single-pass fast path — edge sets at or below this
# row count (and within maxBroadcastBuildRows) are clustered in one
# bounded driver pass instead of D distributed label-propagation rounds;
# <=0 disables the fast path (the loop always runs). Bit-identical labels
# either way.
COMPONENTS_DRIVER_MAX_EDGES = "spark.sequila.componentsDriverMaxEdges"
DEFAULT_COMPONENTS_DRIVER_MAX_EDGES = 2_000_000

# Core conf naming the module each Python worker daemon runs, and the
# top-level shim (sequila_worker_daemon.py) that sequila_session points it
# at: the same pyspark.daemon, without Spark's archives on sys.path.
PYTHON_DAEMON_MODULE = "spark.python.daemon.module"
WORKER_DAEMON = "sequila_worker_daemon"

DEFAULT_ALGORITHM = "binning"
# Engine default: derive the width from the data (geometric mean of the two
# sides' p95 interval lengths — see operators/interval_join._auto_bin_width).
# Costs one pruned pass per side; measured >2x faster than any fixed width
# across the sf0.1 join shapes. Set an integer to pin it.
DEFAULT_BIN_WIDTH: int | str = "auto"
# Fixed fallback where a data pass is impossible (text-level SQL rewrite).
DEFAULT_FIXED_BIN_WIDTH = 5000
# Build-side row cap for the collect+broadcast index paths (~0.5-1 GB of
# driver pandas at genomic row widths); <=0 disables the guard. The
# reference's analogue is accounted build memory (interval_join.rs:624-660).
DEFAULT_MAX_BROADCAST_BUILD_ROWS = 8_000_000
# Partition count for the binned join's shuffle. "auto" =
# max(spark.sql.shuffle.partitions, 4 * defaultParallelism,
#     input_plan_bytes / 1MB) capped at 4096: the binned join is a pure-JVM
# high-multiplicity equi-join whose emission cost dominates, so it wants
# multiple waves of small tasks even when the session's shuffle.partitions is
# tuned low for Arrow-UDF stages (which pay a fixed per-task worker cost and
# want exactly one wave) — AND the count must track INPUT SIZE, not just
# cluster width: at 50x driver scale, 128 fixed partitions measured 128s vs
# 66s at 1024 (long emission tasks degrade superlinearly), and a
# width-only auto would hit the same wall on a real 100 TB scan. The byte
# estimate comes from Catalyst's optimized-plan stats (scan bytes propagated
# through the operators), so no data pass is paid. 0 disables the explicit
# repartition and inherits the session shuffle width.
DEFAULT_BINNED_JOIN_PARTITIONS: int | str = "auto"
# Width law: width = sqrt(total_pre_explode_bytes / 4096), i.e. optimal
# bytes-per-task GROWS with total size rather than staying constant. Two
# serialized single-session A/Bs at the scale-trend rows (r6) pinned it:
# the 10x row (~240 MB est) wants ~240 parts (240: 13.1-14.5 s vs 128:
# 20.3-22.2 s vs 480: 18-23 s) while the 50x row (~1.2 GB est) wants ~590
# (590: 68-89 s vs 512: 79-103 s vs ~1180 [old 1MB-linear law]: 113 s vs
# 2361: 83-116 s). A linear bytes/task target cannot fit both points;
# sqrt(total/4096) gives 248 and 554 — both at the measured knee. The
# shape makes sense for an emission-bound join: per-task fixed overhead
# grows with width while per-task spill risk grows with total/width, and
# the balance point moves as sqrt.
BINNED_JOIN_WIDTH_SQ_BYTES = 4096
BINNED_JOIN_MAX_PARTITIONS = 4096
# Reference algorithm enum (session_context.rs:62-72) → our implementations.
# All reference index flavors are output-equivalent; they differ only in the
# native index data structure, which in Spark collapses to one numpy index.
_ALGORITHM_ALIASES = {
    "naive": "naive",
    "none": "naive",
    "binning": "binning",
    "index": "index",
    # overlap and count operators run binning for it; nearest_join its cogroup
    "partitioned": "partitioned",
    "cogroup": "partitioned",
    "coitrees": "index",
    "intervaltree": "index",
    "arrayintervaltree": "index",
    "lapper": "index",
    "superintervals": "index",
}


# Reference algorithm names that change the JOIN SEMANTICS, not just the
# index structure (session_context.rs:62-72): CoitreesNearest turns the
# recognized interval join into a nearest join (integration_test.rs:352-399);
# CoitreesCountOverlaps is the reference's broken/untested count variant
# (SURVEY §2A A6) — we reject it with a pointer to the corrected operator.
_MODE_ALIASES = {
    "coitreesnearest": "nearest",
    "coitreescountoverlaps": "count_overlaps",
}


def parse_algorithm(name: str) -> str:
    """Case-insensitive algorithm parse (session_context.rs:85-104)."""
    key = name.strip().lower()
    if key not in _ALGORITHM_ALIASES:
        expected = sorted(set(_ALGORITHM_ALIASES) | set(_MODE_ALIASES))
        raise ValueError(
            f"Unknown interval join algorithm {name!r}; expected one of "
            f"{expected}"
        )
    return _ALGORITHM_ALIASES[key]


def parse_algorithm_or_mode(name: str) -> tuple[str, str]:
    """Parse a configured algorithm name into ``(join_mode, algorithm)``.

    ``join_mode`` is ``"overlap"`` for plain index names, ``"nearest"`` /
    ``"count_overlaps"`` for the reference's semantics-changing names (which
    carry the ``index`` build structure).
    """
    key = name.strip().lower()
    if key in _MODE_ALIASES:
        return _MODE_ALIASES[key], "index"
    return "overlap", parse_algorithm(name)


@dataclass
class SequilaConf:
    """Resolved sequila configuration for one operator invocation."""

    prefer_interval_join: bool = True
    algorithm: str = DEFAULT_ALGORITHM
    join_mode: str = "overlap"  # "nearest"/"count_overlaps" via CoitreesNearest etc.
    bin_width: int | str = DEFAULT_BIN_WIDTH  # int or "auto" (p95 of lengths)
    low_memory: bool = False
    check_int32_bounds: bool = True
    max_broadcast_build_rows: int = DEFAULT_MAX_BROADCAST_BUILD_ROWS
    binned_join_partitions: int | str = DEFAULT_BINNED_JOIN_PARTITIONS
    nearest_k: int = 1  # bedtools closest -k for the CoitreesNearest route

    @classmethod
    def from_spark(cls, spark: SparkSession) -> "SequilaConf":
        def _get(key: str, default: str) -> str:
            return spark.conf.get(key, default)

        prefer = _get(PREFER_INTERVAL_JOIN, "true").lower() == "true"
        name = _get(INTERVAL_JOIN_ALGORITHM, DEFAULT_ALGORITHM)
        join_mode, algorithm = parse_algorithm_or_mode(name)
        if not prefer:
            # sequila.prefer_interval_join=false ⇒ vanilla join plan
            # (sequila_physical_planner.rs:36-39).
            algorithm = "naive"
        raw_width = _get(INTERVAL_JOIN_BIN_WIDTH, str(DEFAULT_BIN_WIDTH)).strip().lower()
        if raw_width != "auto":
            try:
                raw_width = int(raw_width)
            except ValueError:
                raise ValueError(
                    f"{INTERVAL_JOIN_BIN_WIDTH} must be a positive integer or "
                    f"'auto', got {raw_width!r}"
                ) from None
        raw_parts = _get(
            BINNED_JOIN_PARTITIONS, str(DEFAULT_BINNED_JOIN_PARTITIONS)
        ).strip().lower()
        if raw_parts != "auto":
            try:
                raw_parts = int(raw_parts)
            except ValueError:
                raise ValueError(
                    f"{BINNED_JOIN_PARTITIONS} must be a non-negative integer "
                    f"or 'auto', got {raw_parts!r}"
                ) from None
        return cls(
            prefer_interval_join=prefer,
            algorithm=algorithm,
            join_mode=join_mode,
            bin_width=raw_width,
            low_memory=_get(INTERVAL_JOIN_LOW_MEMORY, "false").lower() == "true",
            check_int32_bounds=_get(CHECK_INT32_BOUNDS, "true").lower() == "true",
            max_broadcast_build_rows=int(
                _get(MAX_BROADCAST_BUILD_ROWS, str(DEFAULT_MAX_BROADCAST_BUILD_ROWS))
            ),
            binned_join_partitions=raw_parts,
            nearest_k=int(_get(NEAREST_K, "1")),
        )

    def resolve_binned_join_partitions(self, spark: SparkSession, frames=()) -> int:
        """Concrete shuffle width for the binned join (0 = inherit session).

        ``frames``: the (pre-explode) join inputs — their Catalyst
        optimized-plan size estimates scale the width beyond the cluster
        floor so per-task emission stays bounded as data grows (an explicit
        integer knob bypasses all of this).
        """
        if self.binned_join_partitions != "auto":
            return int(self.binned_join_partitions)
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        width = max(shuffle, 4 * spark.sparkContext.defaultParallelism)
        total = 0
        for df in frames:
            try:
                b = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            except Exception:
                b = 0
            if 0 < b < (1 << 50):  # huge sentinel = "unknown", skip
                total += b
        if total:
            width = max(
                width,
                min(
                    BINNED_JOIN_MAX_PARTITIONS,
                    math.isqrt(total // BINNED_JOIN_WIDTH_SQ_BYTES),
                ),
            )
        return width


def worker_can_import(module_dir: str, pythonpath: str, cwd: str) -> bool:
    """Whether a local Python worker can import a module from ``module_dir``.

    A worker's ``sys.path`` holds its working directory (``python -m``
    puts it first), its ``PYTHONPATH`` and its interpreter's
    site-packages; the last is taken to be the driver's, as it is when
    the workers run the driver's interpreter.
    """
    dirs = [*pythonpath.split(os.pathsep), cwd, *site.getsitepackages(),
            site.getusersitepackages()]
    real = os.path.realpath(module_dir)
    return any(d and os.path.realpath(d) == real for d in dirs)


def _install_worker_daemon(spark: SparkSession) -> None:
    """Run a local session's Python workers through :data:`WORKER_DAEMON`.

    Sets :data:`PYTHON_DAEMON_MODULE` on the live ``SparkConf``: Spark
    reads it each time it starts a Python runner, so it also takes effect
    on a session that is already running. Leaves the conf alone when it
    is set already, when the session is not local (executors fix their
    conf at launch) and when the workers could not import the shim, since
    a daemon module the worker cannot import fails every Python UDF.
    """
    try:
        sc = spark.sparkContext._jsc.sc()
    except AttributeError:  # Spark Connect: no JVM SparkContext here
        return
    conf = sc.conf()
    if conf.contains(PYTHON_DAEMON_MODULE) or not sc.isLocal():
        return
    spec = importlib.util.find_spec(WORKER_DAEMON)
    if spec is None or not spec.origin:
        return
    system = spark.sparkContext._jvm.java.lang.System
    # the worker's PYTHONPATH merges the executor env with the JVM's own
    pythonpath = os.pathsep.join(
        [conf.get("spark.executorEnv.PYTHONPATH", ""),
         system.getenv("PYTHONPATH") or ""])
    if not worker_can_import(os.path.dirname(spec.origin), pythonpath,
                             system.getProperty("user.dir")):
        return
    conf.set(PYTHON_DAEMON_MODULE, WORKER_DAEMON)
    logging.getLogger(__name__).info(
        "set %s=%s: Python workers import pyspark without re-reading "
        "pyspark.zip on every task", PYTHON_DAEMON_MODULE, WORKER_DAEMON)


def sequila_session(
    spark: SparkSession | None = None,
    *,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Return a SparkSession tuned for sequila workloads. On a local
    session it also starts the Python workers through
    ``sequila_worker_daemon``, which saves ~0.15 s per Python task. On a
    cluster, pass ``--conf spark.python.daemon.module=sequila_worker_daemon``
    at submit time when the package is installed on the executors.

    Equivalent of ``SessionContext::new_with_sequila``
    (session_context.rs:16-27): sets our conf defaults on an existing or new
    session. Arrow execution is enabled because the index paths move batches
    through pandas UDFs; AQE stays on so skewed equi-keys (one contig
    dominating) get runtime-split.

    On a local session, new or already running, it sets
    ``spark.python.daemon.module=sequila_worker_daemon`` on the live
    ``SparkConf``; Spark reads it whenever it starts a Python runner. That
    daemon drops Spark's ``pyspark.zip``, py4j zip and jar from each
    Python worker's ``sys.path`` when the worker can import the same
    pyspark version elsewhere: PySpark 4.1 re-reads every cached zip
    archive on each task. It leaves the conf alone when it is already
    set, and when the workers could not import the module: its directory
    is not on the worker ``PYTHONPATH``, not site-packages and not the
    JVM's working directory. Executors on a cluster fix their conf at
    launch, so there it changes nothing; use the ``--conf`` line above.
    """
    if spark is None:
        builder = (
            SparkSession.builder.appName("sequila-native-spark")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
        )
        spark = builder.getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    _install_worker_daemon(spark)
    # Defaults only if unset — never clobber user choices.
    for key, default in (
        (PREFER_INTERVAL_JOIN, "true"),
        (INTERVAL_JOIN_ALGORITHM, DEFAULT_ALGORITHM),
        (INTERVAL_JOIN_BIN_WIDTH, str(DEFAULT_BIN_WIDTH)),
        (INTERVAL_JOIN_LOW_MEMORY, "false"),
        (CHECK_INT32_BOUNDS, "true"),
        (MAX_BROADCAST_BUILD_ROWS, str(DEFAULT_MAX_BROADCAST_BUILD_ROWS)),
        (BINNED_JOIN_PARTITIONS, str(DEFAULT_BINNED_JOIN_PARTITIONS)),
    ):
        if spark.conf.get(key, None) is None:
            spark.conf.set(key, default)
    return spark
