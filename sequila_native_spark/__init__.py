"""sequila_native_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of biodatageeks/sequila-native.

The reference (studied read-only at /root/reference) is a Rust extension on
Apache DataFusion whose core contribution is a genomic **interval overlap
join** (``sequila/sequila-core/src/physical_planner/joins/interval_join.rs``)
plus nearest-join / count-overlaps variants and session config knobs
(``sequila/sequila-core/src/session_context.rs:50-60``).

This package re-expresses that surface Spark-first:

- :func:`overlap_join` — inner join on N equi-keys + closed-interval overlap,
  with three interchangeable algorithms (``naive`` / ``binning`` / ``index``)
  mirroring the reference's pluggable-algorithm design
  (``interval_join.rs:720-736``).
- :func:`nearest_join` — bedtools-closest / IRanges ``nearest`` semantics
  (``interval_join.rs:909-990``).
- :func:`count_overlaps` — the *intent* of the reference's experimental
  ``CoitreesCountOverlaps`` algorithm, implemented correctly.
- LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal column plumbing) designed for 100 TB scale.

Everything declarative goes through the DataFrame API so Catalyst handles
pushdown, pruning, join selection and AQE; Python touches data only inside
Arrow-batched pandas UDFs on the genuinely non-relational paths.
"""

from sequila_native_spark.session import (
    SequilaConf,
    sequila_session,
)
from sequila_native_spark.operators.interval_join import (
    clear_bin_width_cache,
    overlap_join,
    stab,
    window_join,
)
from sequila_native_spark.operators.map_intervals import map_intervals
from sequila_native_spark.operators.nearest_join import nearest_join
from sequila_native_spark.operators.count_overlaps import count_overlaps, overlap_count_agg
from sequila_native_spark.operators.coverage import (
    coverage,
    depth_histogram,
    interval_jaccard,
    multi_intersect,
    union_coverage,
)
from sequila_native_spark.operators.overlap_filter import filter_by_overlap, mark_by_overlap
from sequila_native_spark.operators.merge_intervals import (
    cluster_intervals,
    complement_intervals,
    make_windows,
    merge_intervals,
    subtract_intervals,
)
from sequila_native_spark.operators.intervals import (
    flank_intervals,
    fraction_predicate,
    shift_intervals,
    slop_intervals,
)
from sequila_native_spark.operators.condition import (
    overlap_join_on,
    parse_overlap_condition,
)
from sequila_native_spark.sql import (
    expand_sequila_tvfs,
    rewrite_interval_sql,
    run_sql_file,
    run_sql_script,
    sequila_sql,
)
from sequila_native_spark.util import (
    clear_index_cache,
    compact_index_table,
    drop_stale_persisted,
    index_table_file_stats,
    maintain_index,
)

# Subpackages outside the interval surface load on first access (PEP 562):
# importing the package for an interval join does not import them.
_SUBPACKAGES = ("functions", "plans", "sources", "streaming")


def __getattr__(name: str):
    if name in _SUBPACKAGES:
        import importlib

        return importlib.import_module(f"{__name__}.{name}")
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def __dir__() -> list[str]:
    # the names an eager import showed: the lazy-load helpers are not API
    return sorted({*globals(), *_SUBPACKAGES}
                  - {"_SUBPACKAGES", "__getattr__", "__dir__"})

__all__ = [
    "SequilaConf",
    "sequila_session",
    "drop_stale_persisted",
    "compact_index_table",
    "index_table_file_stats",
    "maintain_index",
    "overlap_join",
    "map_intervals",
    "stab",
    "window_join",
    "fraction_predicate",
    "clear_bin_width_cache",
    "clear_index_cache",
    "nearest_join",
    "count_overlaps",
    "overlap_count_agg",
    "subtract_intervals",
    "make_windows",
    "cluster_intervals",
    "coverage",
    "depth_histogram",
    "interval_jaccard",
    "multi_intersect",
    "flank_intervals",
    "shift_intervals",
    "slop_intervals",
    "union_coverage",
    "filter_by_overlap",
    "mark_by_overlap",
    "complement_intervals",
    "merge_intervals",
    "overlap_join_on",
    "parse_overlap_condition",
    "sequila_sql",
    "rewrite_interval_sql",
    "run_sql_script",
    "run_sql_file",
]

__version__ = "0.1.0"
