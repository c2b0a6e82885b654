"""Count-overlaps — the corrected intent of ``CoitreesCountOverlaps``.

The reference declares a count-overlaps algorithm but its implementation is
incomplete/experimental: the streaming probe keeps only ``temp_matches[0]``
(``interval_join.rs:1268-1279``) while the full path appends all matches
against an RLE count of 1 (``:1593-1607``), desynchronizing the output index
arrays, and it has zero test coverage (SURVEY.md A6). We implement the
*intent* correctly: for each probe (right) row, the number of build (left)
intervals overlapping it within its equi-key group — 0 when none (matching
the declared one-row-per-probe-row contract).

Algorithms:

``binning`` (default, scale path) — binned inner overlap join (each pair
    emitted exactly once) → ``groupBy(probe id).count()`` → left join back to
    the probe so zero-match rows survive. All Catalyst; shuffles on
    ``(keys…, bin)`` then on the probe id.

``index`` — broadcast per-key sorted arrays; a ``mapInArrow`` probe
    computes exact counts with two binary searches per probe (the
    superintervals ``count`` recipe,
    ``superintervals/src/superintervals.rs:353-446``). Zero shuffle; probe
    rows stream through unchanged with a count column appended. O(n log m)
    with no per-candidate materialization — inverted intervals (start > end
    after strict normalization) route through the exact candidate-mask
    kernel instead.
    The build is kept in the session index cache
    (``interval_join.broadcast_build``): over one unchanged file input,
    count_overlaps, coverage and overlap_count_agg share one collect and
    broadcast. Any number of string, integral, boolean or floating keys
    (:func:`_arrow_keys`); other key types (date, timestamp, decimal) run
    ``binning``.

:func:`overlap_count_agg` is the aggregated form of the same kernel:
``overlap_join(...).groupBy(keys).count()`` computed without emitting a
single pair row — only per-(batch, key) partial sums cross the Python
boundary, so a count-shaped query costs one narrow probe pass instead of
O(pairs) join emission.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from sequila_native_spark.operators.interval_join import (
    _LE,
    _LS,
    _RE,
    _RS,
    BuildSideTooLargeError,
    _arrow_keys,
    _binned_pairs,
    _column,
    _ints,
    _key_groups,
    _probe_spans,
    _with_bounds,
    broadcast_build,
    compact_index_arrays,
    guarded_build_arrow,
    resolve_bin_width,
)
from sequila_native_spark.util import stamp_row_id
from sequila_native_spark.operators.intervals import (
    fraction_predicate,
    overlap_predicate,
    validate_sides,
)
from sequila_native_spark.session import SequilaConf, parse_algorithm

_PID = "__sq_probe_id"


def count_overlaps(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str | None = None,
    left_start: str = "pos_start",
    left_end: str = "pos_end",
    right_start: str = "pos_start",
    right_end: str = "pos_end",
    *,
    strict: bool = False,
    algorithm: str | None = None,
    bin_width: int | None = None,
    count_col: str = "count",
    min_frac_left: float | None = None,
    min_frac_right: float | None = None,
    reciprocal: bool = False,
    either: bool = False,
    check_bounds: bool | None = None,
) -> DataFrame:
    """Return ``right`` with ``count_col`` = number of overlapping ``left``
    intervals in the same equi-key group (0 when none).

    ``min_frac_left`` / ``min_frac_right`` / ``reciprocal`` / ``either``:
    bedtools ``-f/-F/-r/-e`` minimum-overlap-fraction predicates restricting
    which overlaps count — evaluated on the closed input intervals
    (incompatible with ``strict``); the ``index`` algorithm routes to
    ``binning`` when fractions are requested (the count kernel's two binary
    searches answer plain overlap only).
    """
    wants_frac = (
        min_frac_left is not None or min_frac_right is not None
        or reciprocal or either
    )
    if wants_frac and strict:
        raise ValueError(
            "overlap fractions are defined on the closed input intervals; "
            "strict=True would shrink them — not supported together"
        )
    spark = left.sparkSession
    conf = SequilaConf.from_spark(spark)
    algo = parse_algorithm(algorithm) if algorithm else conf.algorithm
    width = bin_width if bin_width is not None else conf.bin_width
    check = conf.check_int32_bounds if check_bounds is None else check_bounds

    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    if count_col in right.columns:
        raise ValueError(f"count column {count_col!r} already exists on right side")
    # Only the left's key/bound columns are needed — prune before any join.
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    left = left.select(*dict.fromkeys([*l_keys, left_start, left_end]))
    right_out_cols = list(right.columns)
    right_orig = right
    if algo in ("binning", "partitioned"):
        width = resolve_bin_width(
            width, left, left_start, left_end, right, right_start, right_end
        )

    lb = _with_bounds(left, left_start, left_end, _LS, _LE, strict, check)

    if algo == "index" and (
        wants_frac or sides.mixed_keys or not _arrow_keys(left, l_keys)
    ):
        # the kernel answers plain overlap on same-family Arrow keys only
        algo = "binning"

    if algo == "index":
        try:
            return _index_probe(
                lb, right_orig, l_keys, r_keys, right_start, right_end,
                strict, check, [count_col], dict,
                lambda e, qs, qe: (_group_counts(e, qs, qe),),
            )
        except BuildSideTooLargeError:
            algo = "binning"  # accounted-memory fallback, never a blind collect

    if algo in ("naive", "binning", "partitioned"):
        right = stamp_row_id(right, _PID)
        rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict, check)
        if algo == "naive":
            cond = overlap_predicate(lb[_LS], lb[_LE], rb[_RS], rb[_RE])
            for lk, rk in zip(l_keys, r_keys):
                cond = (lb[lk] == rb[rk]) & cond
            pairs = rb.join(lb, cond, "inner")
        else:
            pairs = _binned_pairs(lb, rb, l_keys, r_keys, width)
        if wants_frac:
            pairs = pairs.where(
                fraction_predicate(
                    F.col(_LS), F.col(_LE), F.col(_RS), F.col(_RE),
                    min_frac_left=min_frac_left, min_frac_right=min_frac_right,
                    reciprocal=reciprocal, either=either,
                )
            )
        counts = pairs.groupBy(_PID).agg(F.count(F.lit(1)).alias(count_col))
        return (
            right.join(counts, _PID, "left_outer")
            .withColumn(count_col, F.coalesce(F.col(count_col), F.lit(0)))
            .select(*right_out_cols, count_col)
        )

    raise AssertionError(f"unreachable algorithm {algo}")


def _as_dtype(v: np.ndarray, dt) -> np.ndarray:
    """Cast needle values to the haystack dtype when value-exact; otherwise
    leave them (numpy then promotes, which is correct, just slower)."""
    if v.dtype == dt:
        return v
    info = np.iinfo(dt)
    if v.size == 0 or (v.min() >= info.min and v.max() <= info.max):
        return v.astype(dt)
    return v


def _group_counts(entry: tuple, qs: np.ndarray, qe: np.ndarray) -> np.ndarray:
    """Per-probe overlap counts against one key group's build arrays.

    Fast path (everything non-inverted): two binary searches per probe —
    ``#{build: start <= qe} - #{build: end < qs}`` — exact because with
    ``start <= end`` on every build row, ``end < qs`` implies
    ``start <= qe`` for any probe with ``qs <= qe``, so the difference of
    the two 1-D counts equals the 2-D conjunction count
    ``#{start <= qe AND end >= qs}``. O(n log m), no per-candidate
    materialization (the superintervals ``count`` recipe,
    ``superintervals.rs:353-446``).

    Inverted intervals (start > end, possible after strict normalization of
    zero-length inputs) break that implication: inverted PROBES route
    through the exact candidate-mask kernel (:func:`_probe_spans`), and
    inverted BUILD rows live in their own (tiny) entry subset, mask-counted
    separately and added — the regular subset keeps the fast path.
    """
    reg_starts, reg_ends_bs, reg_ends_sorted, inv_starts, inv_ends_bs = entry
    n = len(qs)
    counts = np.zeros(n, dtype=np.int64)
    p_inv = qs > qe
    p_reg = ~p_inv
    if p_reg.any():
        if len(reg_starts):
            # match the needle dtype to the (possibly int32-compacted) build
            # arrays: searchsorted with mixed dtypes silently PROMOTES THE
            # HAYSTACK — an O(m) copy of the build array per batch per key
            # that dominated the probe at 10x scale (13.8 s → the copy, not
            # the search). Needles are checked-i32 bounds, so the narrow
            # cast is value-exact whenever the build array compacted.
            counts[p_reg] = np.searchsorted(
                reg_starts, _as_dtype(qe[p_reg], reg_starts.dtype), side="right"
            ) - np.searchsorted(
                reg_ends_sorted, _as_dtype(qs[p_reg], reg_ends_sorted.dtype),
                side="left",
            )
        if len(inv_starts):
            counts[p_reg] += _mask_counts(inv_starts, inv_ends_bs,
                                          qs[p_reg], qe[p_reg])
    if p_inv.any():
        if len(reg_starts):
            counts[p_inv] += _mask_counts(reg_starts, reg_ends_bs,
                                          qs[p_inv], qe[p_inv])
        if len(inv_starts):
            counts[p_inv] += _mask_counts(inv_starts, inv_ends_bs,
                                          qs[p_inv], qe[p_inv])
    return counts


def _mask_counts(
    starts_s: np.ndarray, ends_bs: np.ndarray, qs: np.ndarray, qe: np.ndarray
) -> np.ndarray:
    """Exact per-probe counts via the candidate-mask kernel (no overlap
    implication assumed — handles inverted rows on either side)."""
    runmax = np.maximum.accumulate(ends_bs)
    _, probe_rep = _probe_spans(starts_s, ends_bs, runmax, qs, qe)
    if probe_rep.size:
        return np.bincount(probe_rep, minlength=len(qs))
    return np.zeros(len(qs), dtype=np.int64)


def _entry_from_sorted(starts_s: np.ndarray, ends_by_start: np.ndarray) -> tuple:
    """Count-index entry from arrays already sorted by start.

    Inverted build rows (start > end, possible after strict normalization
    of zero-length inputs) are split into their own (tiny) subset so the
    regular subset keeps the two-binary-search fast path — previously one
    inverted row sent the WHOLE group's probes through the O(candidates)
    mask kernel (measured +0.4 s on the strict flagship). Entry:
    ``(reg_starts_sorted, reg_ends_by_start, reg_ends_sorted,
    inv_starts_sorted, inv_ends_by_start)``.
    """
    inv_mask = starts_s > ends_by_start
    if inv_mask.any():
        reg_s, reg_e = starts_s[~inv_mask], ends_by_start[~inv_mask]
        inv_s, inv_e = starts_s[inv_mask], ends_by_start[inv_mask]
    else:
        reg_s, reg_e = starts_s, ends_by_start
        inv_s = inv_e = starts_s[:0]
    return compact_index_arrays(reg_s, reg_e, np.sort(reg_e), inv_s, inv_e)


def _count_index(lb: DataFrame, l_keys):
    """Broadcast of ``lb``'s per-key count index. count_overlaps,
    coverage and overlap_count_agg all probe it (coverage adds its prefix
    sums per task), so over one input they share one cached build."""
    return broadcast_build(
        lb, ("overlap_count", tuple(l_keys)),
        lambda: _build_count_index(lb, l_keys),
    )[0]


def _build_count_index(lb: DataFrame, l_keys) -> tuple[dict[tuple, tuple], int]:
    """Collect the build side (guarded, one job) into per-key index entries
    (:func:`_entry_from_sorted`). Returns the index and the number of rows
    collected.

    Collects with ``toArrow`` and groups through :func:`_key_groups` — no
    per-row python objects, no pandas groupby. Measured 10.9 s → ~3 s on a
    7.5M-row build against the pandas collect and groupby: whole batches
    go to vectorized native code.
    """
    tbl = guarded_build_arrow(lb)
    starts, ends = _ints(tbl, _LS), _ints(tbl, _LE)
    index = {
        key: _entry_from_sorted(starts[pos], ends[pos])
        for key, pos in _key_groups(tbl, l_keys, (_LS, _LE), sort_by=starts)
    }
    return index, tbl.num_rows


def _index_probe(
    lb, right_orig, l_keys, r_keys, right_start, right_end, strict, check,
    out_cols: list[str], prepare, kernel,
):
    """Broadcast build arrays, streaming vectorized probe, zero shuffle:
    the probe of count_overlaps and coverage.

    Probe batches stay Arrow: passthrough columns are
    re-emitted untouched and ``out_cols`` (bigint, 0 for no match) are
    appended. Each task maps the shared count index through ``prepare``
    once; ``kernel(entry, qs, qe)`` returns one array per output column
    for one key group's probe rows. Needles keep the bound columns' int32
    dtype, which the kernels match to the build arrays (``_as_dtype``).
    """
    rb = _with_bounds(right_orig, right_start, right_end, _RS, _RE, strict, check)
    bc = _count_index(lb, l_keys)
    right_out_cols = list(right_orig.columns)
    out_schema = StructType(
        list(right_orig.schema.fields)
        + [StructField(c, LongType(), False) for c in out_cols]
    )

    def probe_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx_map = prepare(bc.value)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            outs = [np.zeros(n, dtype=np.int64) for _ in out_cols]
            qs, qe = _ints(batch, _RS), _ints(batch, _RE)
            for key, pos in _key_groups(batch, r_keys, (_RS, _RE)):
                entry = idx_map.get(key)
                if entry is not None:
                    for out, got in zip(outs, kernel(entry, qs[pos], qe[pos])):
                        out[pos] = got
            sel = batch.select(right_out_cols)
            yield pa.RecordBatch.from_arrays(
                [*sel.columns, *(pa.array(o, type=pa.int64()) for o in outs)],
                names=[*right_out_cols, *out_cols],
            )

    return rb.mapInArrow(probe_arrow, schema=out_schema).select(
        *right_out_cols, *out_cols
    )


def overlap_count_agg(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str | None = None,
    left_start: str = "pos_start",
    left_end: str = "pos_end",
    right_start: str = "pos_start",
    right_end: str = "pos_end",
    *,
    strict: bool = False,
    alias: str = "n_pairs",
    check_bounds: bool | None = None,
) -> DataFrame:
    """``overlap_join(left, right, ...).groupBy(keys).count()`` computed
    without emitting a single pair row.

    A count-shaped query does not need the join's output — only how many
    pairs each key group produces. Build: collect the LEFT side's
    (keys, bounds) once through Arrow (guarded by
    ``spark.sequila.maxBroadcastBuildRows``) into per-key sorted arrays.
    The build is count_overlaps' cached count index (:func:`_count_index`).
    Probe: ``mapInArrow`` over the RIGHT side pruned to (keys, bounds);
    each batch contributes per-key partial sums of the two-binary-search
    counts (:func:`_group_counts`), so the per-pair O(pairs) emission cost
    of the join disappears entirely — the plan is scan → probe → one tiny
    aggregation exchange.

    Group semantics match the inner join's groupBy: keyed form omits keys
    with zero pairs, keyless form (``on=None``) always returns exactly one
    row. Falls back to the binned pair join + groupBy when the build side
    exceeds the broadcast guard (accounted memory, never a blind collect),
    and for key types outside :func:`_arrow_keys`.
    """
    spark = left.sparkSession
    conf = SequilaConf.from_spark(spark)
    check = conf.check_int32_bounds if check_bounds is None else check_bounds
    sides = validate_sides(
        left, right, on, left_start, left_end, right_start, right_end
    )
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    left_p = left.select(*dict.fromkeys([*l_keys, left_start, left_end]))
    right_p = right.select(*dict.fromkeys([*r_keys, right_start, right_end]))
    lb = _with_bounds(left_p, left_start, left_end, _LS, _LE, strict, check)

    bc = None
    if not sides.mixed_keys and _arrow_keys(left_p, l_keys):
        try:
            bc = _count_index(lb, l_keys)
        except BuildSideTooLargeError:
            pass
    if bc is None:
        # accounted-memory, key-type or mixed-key fallback: the binned pair
        # join + groupBy — the exact expression this operator replaces
        from sequila_native_spark.operators.interval_join import overlap_join

        oj = overlap_join(
            left_p, right_p, on=on,
            left_start=left_start, left_end=left_end,
            right_start=right_start, right_end=right_end,
            strict=strict, algorithm="binning", check_bounds=check,
            rsuffix="_r",
        )
        grouped = oj.groupBy(*l_keys) if l_keys else oj
        return grouped.agg(F.count(F.lit(1)).cast("long").alias(alias))

    rb = _with_bounds(right_p, right_start, right_end, _RS, _RE, strict, check)
    from pyspark.sql.pandas.types import to_arrow_schema

    from sequila_native_spark.util import ensure_parallel

    # hash-keyed repartition (deterministic columns): parallelizes a
    # few-split scan like the old round-robin but skips its
    # sort-before-repartition (guide §2.5 note; measured 0.9 → 0.6 s on the
    # 600k-row probe side). No-op when the scan already has enough splits.
    rb = ensure_parallel(rb, [*r_keys, _RS, _RE])

    key_fields = list(left_p.select(*l_keys).schema.fields) if l_keys else []
    out_schema = StructType(key_fields + [StructField(alias, LongType(), False)])
    out_pa_schema = to_arrow_schema(out_schema)
    key_types = [f.type for f in out_pa_schema][:-1]

    def probe_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx_map = bc.value
        for batch in batches:
            if batch.num_rows == 0 or not idx_map:
                continue
            qs, qe = _ints(batch, _RS), _ints(batch, _RE)
            firsts: list[int] = []
            out_counts: list[int] = []
            for key, pos in _key_groups(batch, r_keys, (_RS, _RE)):
                entry = idx_map.get(key)
                if entry is None:
                    continue
                total = int(_group_counts(entry, qs[pos], qe[pos]).sum())
                if total:
                    firsts.append(pos[0])
                    out_counts.append(total)
            if out_counts:
                # each group's key as the probe batch holds it: the final
                # groupBy merges -0.0 with 0.0 and NaN with NaN, as the
                # join's groupBy does
                rows = pa.array(firsts, type=pa.int64())
                arrays = [
                    _column(batch, k).take(rows).cast(t)
                    for k, t in zip(r_keys, key_types)
                ]
                arrays.append(pa.array(out_counts, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(arrays, schema=out_pa_schema)

    partials = rb.mapInArrow(probe_arrow, schema=out_schema)
    if l_keys:
        return partials.groupBy(*l_keys).agg(
            F.sum(alias).cast("long").alias(alias)
        )
    return partials.agg(
        F.coalesce(F.sum(alias), F.lit(0)).cast("long").alias(alias)
    )
