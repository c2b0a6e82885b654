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

``index`` — broadcast per-key sorted arrays; a ``mapInArrow`` probe (pandas
    fallback for multi-key / exotic key types) computes exact counts with
    two binary searches per probe (the superintervals ``count`` recipe,
    ``superintervals/src/superintervals.rs:353-446``). Zero shuffle; probe
    rows stream through unchanged with a count column appended. O(n log m)
    with no per-candidate materialization — inverted intervals (start > end
    after strict normalization) route through the exact candidate-mask
    kernel instead.
    The build is kept in the session index cache
    (``interval_join.broadcast_build``): over one unchanged file input,
    count_overlaps and coverage share one collect and broadcast.

:func:`overlap_count_agg` is the aggregated form of the same kernel:
``overlap_join(...).groupBy(keys).count()`` computed without emitting a
single pair row — only per-(batch, key) partial sums cross the Python
boundary, so a count-shaped query costs one narrow probe pass instead of
O(pairs) join emission.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    AtomicType,
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from sequila_native_spark.operators.interval_join import (
    _LE,
    _LS,
    _RE,
    _RS,
    BuildSideTooLargeError,
    _binned_pairs,
    _probe_spans,
    _with_bounds,
    broadcast_build,
    compact_index_arrays,
    guarded_build_arrow,
    guarded_build_pandas,
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

    if algo == "index" and (wants_frac or sides.mixed_keys):
        # the kernel answers plain overlap on same-family keys only
        algo = "binning"

    if algo == "index":
        try:
            return _index_count(
                lb, right_orig, l_keys, r_keys, right_start, right_end,
                strict, check, count_col, right_out_cols,
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


def _build_count_entry(starts: np.ndarray, ends: np.ndarray) -> tuple:
    """One key group's index entry from unsorted arrays (pandas build
    path): sort by start, then :func:`_entry_from_sorted`."""
    order = np.argsort(starts, kind="stable")
    return _entry_from_sorted(starts[order], ends[order])


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


def _arrow_keys(build: DataFrame, keys) -> bool:
    """Arrow probe gate for the index kernels: at most one key, of a type
    that round-trips through Arrow ``.as_py()`` to the same hashable python
    value that the pandas groupby path produces (str/int/bool families).
    Timestamps/decimals/etc. keep the pandas path so mixed build/probe paths
    can never disagree on the dict key representation. Callers route
    mixed-family key pairs (``IntervalSides.mixed_keys``) to binning first,
    so the build side's key type speaks for the probe side's too."""
    simple = (StringType, IntegerType, LongType, ShortType, ByteType, BooleanType)
    return len(keys) <= 1 and all(
        isinstance(build.schema[k].dataType, simple) for k in keys
    )


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


def _count_index(lb: DataFrame, l_keys, use_arrow: bool):
    """Broadcast of ``lb``'s per-key count index. count_overlaps and
    coverage both probe it (coverage adds its prefix sums per task), so
    over one input they share one cached build."""
    return broadcast_build(
        lb, ("overlap_count", tuple(l_keys)),
        lambda: _build_count_index(lb, l_keys, use_arrow=use_arrow),
    )


def _build_count_index(
    lb: DataFrame, l_keys, *, use_arrow: bool = False,
) -> tuple[dict[tuple, tuple], int]:
    """Collect the build side (guarded, one job) into per-key index entries
    (:func:`_entry_from_sorted`). Returns the index and the number of rows
    collected.

    ``use_arrow=True`` (0/1 simple key only): collect with ``toArrow`` and
    group via dictionary codes + one lexsort — no per-row python string
    objects, no pandas groupby. Measured 10.9 s → ~3 s on a 7.5M-row build
    (guide §4.2: hand whole batches to vectorized native code).
    """
    index: dict[tuple, tuple] = {}
    if use_arrow and len(l_keys) <= 1:
        tbl = guarded_build_arrow(lb)
        rows = tbl.num_rows
        ok = pc.and_(pc.is_valid(tbl[_LS]), pc.is_valid(tbl[_LE]))
        if l_keys:
            ok = pc.and_(ok, pc.is_valid(tbl[l_keys[0]]))
        if tbl.num_rows and not pc.all(ok).as_py():
            tbl = tbl.filter(ok)
        if tbl.num_rows == 0:
            return index, rows
        starts = tbl[_LS].combine_chunks().to_numpy()
        ends = tbl[_LE].combine_chunks().to_numpy()
        if l_keys:
            enc = pc.dictionary_encode(tbl[l_keys[0]].combine_chunks())
            codes = enc.indices.to_numpy()
            order = np.lexsort((starts, codes))
            sc = codes[order]
            run_starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(sc)) + 1, [len(sc)])
            )
            ss, es = starts[order], ends[order]
            for i in range(len(run_starts) - 1):
                lo, hi = run_starts[i], run_starts[i + 1]
                key = (enc.dictionary[int(sc[lo])].as_py(),)
                index[key] = _entry_from_sorted(ss[lo:hi], es[lo:hi])
        else:
            order = np.argsort(starts, kind="stable")
            index[()] = _entry_from_sorted(starts[order], ends[order])
        return index, rows

    left_pdf = guarded_build_pandas(lb)
    valid = left_pdf[_LS].notna() & left_pdf[_LE].notna()
    for k in l_keys:
        valid &= left_pdf[k].notna()
    build = left_pdf[valid]
    if len(build):
        group_iter = build.groupby(list(l_keys), sort=False) if l_keys else [((), build)]
        for key, grp in group_iter:
            if l_keys and not isinstance(key, tuple):
                key = (key,)
            index[key] = _build_count_entry(
                grp[_LS].to_numpy(np.int64), grp[_LE].to_numpy(np.int64),
            )
    return index, len(left_pdf)


def _index_count(
    lb, right_orig, l_keys, r_keys, right_start, right_end,
    strict, check, count_col, right_out_cols,
):
    """Broadcast build arrays, streaming vectorized probe, zero shuffle.

    The per-batch count is two binary searches per probe
    (:func:`_group_counts`) — no candidate arrays, no per-row Python loop.
    With 0/1 simple-typed key the probe runs on raw Arrow batches
    (guide §4.2): passthrough columns are re-emitted untouched (no
    pandas round trip of the payload) and the count column is appended.
    """
    rb = _with_bounds(right_orig, right_start, right_end, _RS, _RE, strict, check)
    use_arrow = _arrow_keys(lb, l_keys)
    bc = _count_index(lb, l_keys, use_arrow)
    out_schema = StructType(
        list(right_orig.schema.fields) + [StructField(count_col, LongType(), False)]
    )
    keys = list(r_keys)

    if use_arrow:
        kname = keys[0] if keys else None
        out_names = list(right_out_cols)

        def probe_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            idx_map = bc.value
            i_rs = i_re = i_k = None
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                if i_rs is None:
                    i_rs = batch.schema.get_field_index(_RS)
                    i_re = batch.schema.get_field_index(_RE)
                    i_k = (
                        batch.schema.get_field_index(kname)
                        if kname is not None else None
                    )
                counts_arr = np.zeros(n, dtype=np.int64)
                rs_col, re_col = batch.column(i_rs), batch.column(i_re)
                valid = pc.and_(pc.is_valid(rs_col), pc.is_valid(re_col))
                qs = pc.fill_null(rs_col, 0).to_numpy(zero_copy_only=False)
                qe = pc.fill_null(re_col, 0).to_numpy(zero_copy_only=False)
                vmask = valid.to_numpy(zero_copy_only=False)
                if i_k is not None:
                    enc = pc.dictionary_encode(batch.column(i_k))
                    codes = pc.fill_null(enc.indices, -1).to_numpy(
                        zero_copy_only=False
                    )
                    for i in range(len(enc.dictionary)):
                        entry = idx_map.get((enc.dictionary[i].as_py(),))
                        if entry is None:
                            continue
                        pos = np.flatnonzero((codes == i) & vmask)
                        if pos.size:
                            counts_arr[pos] = _group_counts(
                                entry, qs[pos], qe[pos]
                            )
                else:
                    entry = idx_map.get(())
                    if entry is not None:
                        pos = np.flatnonzero(vmask)
                        if pos.size:
                            counts_arr[pos] = _group_counts(
                                entry, qs[pos], qe[pos]
                            )
                sel = batch.select(out_names)
                yield pa.RecordBatch.from_arrays(
                    [*sel.columns, pa.array(counts_arr, type=pa.int64())],
                    names=[*out_names, count_col],
                )

        return rb.mapInArrow(probe_arrow, schema=out_schema).select(
            *right_out_cols, count_col
        )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_map = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            counts_arr = np.zeros(len(pdf), dtype=np.int64)
            qs_all = pdf[_RS].to_numpy(np.int64, na_value=0)
            qe_all = pdf[_RE].to_numpy(np.int64, na_value=0)
            has_null = (pdf[_RS].isna() | pdf[_RE].isna()).to_numpy()
            groups = pdf.groupby(keys, sort=False) if keys else [((), pdf)]
            for key, grp in groups:
                if keys and not isinstance(key, tuple):
                    key = (key,)
                entry = idx_map.get(key)
                if entry is None:
                    continue
                pos = pdf.index.get_indexer(grp.index)
                pos = pos[~has_null[pos]]
                if not pos.size:
                    continue
                counts_arr[pos] = _group_counts(entry, qs_all[pos], qe_all[pos])
            out = pdf[right_out_cols].reset_index(drop=True)
            out[count_col] = counts_arr
            yield out

    return rb.mapInPandas(probe, schema=out_schema).select(*right_out_cols, count_col)


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
    (keys, bounds) once (guarded by ``spark.sequila.maxBroadcastBuildRows``)
    into per-key sorted arrays — via Arrow for 0/1 simple-typed keys (no
    per-row python objects), pandas otherwise. Probe: ``mapInArrow`` (same
    gate; ``mapInPandas`` fallback) over the RIGHT side pruned to
    (keys, bounds); each batch contributes per-key partial sums of the
    two-binary-search counts (:func:`_group_counts`), so the per-pair
    O(pairs) emission cost of the join disappears entirely — the plan is
    scan → probe → one tiny aggregation exchange.

    Group semantics match the inner join's groupBy: keyed form omits keys
    with zero pairs, keyless form (``on=None``) always returns exactly one
    row. Falls back to the binned pair join + groupBy when the build side
    exceeds the broadcast guard (accounted memory, never a blind collect).
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
    # Arrow fast path (guide §4.2): viable for 0/1 simple-typed key, where
    # the arrow and pandas key representations provably agree.
    use_arrow = _arrow_keys(left_p, l_keys)

    index = None
    if not sides.mixed_keys:
        try:
            index, _ = _build_count_index(
                lb.select(*l_keys, _LS, _LE), l_keys, use_arrow=use_arrow,
            )
        except BuildSideTooLargeError:
            pass
    if index is None:
        # accounted-memory or mixed-key fallback: the binned pair join +
        # groupBy — the exact expression this operator replaces
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
    from sequila_native_spark.util import ensure_parallel

    # hash-keyed repartition (deterministic columns): parallelizes a
    # few-split scan like the old round-robin but skips its
    # sort-before-repartition (guide §2.5 note; measured 0.9 → 0.6 s on the
    # 600k-row probe side). No-op when the scan already has enough splits.
    rb = ensure_parallel(rb, [*r_keys, _RS, _RE])
    bc = spark.sparkContext.broadcast(index)

    key_fields = list(left_p.select(*l_keys).schema.fields) if l_keys else []
    out_schema = StructType(key_fields + [StructField(alias, LongType(), False)])
    keys = list(r_keys)
    key_names = list(l_keys)

    if use_arrow:
        from pyspark.sql.pandas.types import to_arrow_schema

        out_pa_schema = to_arrow_schema(out_schema)
        key_pa_type = out_pa_schema.field(0).type if key_names else None
        kname = keys[0] if keys else None

        def probe_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            idx_map = bc.value
            i_rs = i_re = i_k = None
            for batch in batches:
                if batch.num_rows == 0 or not idx_map:
                    continue
                if i_rs is None:
                    i_rs = batch.schema.get_field_index(_RS)
                    i_re = batch.schema.get_field_index(_RE)
                    i_k = (
                        batch.schema.get_field_index(kname)
                        if kname is not None else None
                    )
                ok = pc.and_(
                    pc.is_valid(batch.column(i_rs)), pc.is_valid(batch.column(i_re))
                )
                if i_k is not None:
                    ok = pc.and_(ok, pc.is_valid(batch.column(i_k)))
                if not pc.all(ok).as_py():
                    batch = batch.filter(ok)
                    if batch.num_rows == 0:
                        continue
                qs = batch.column(i_rs).to_numpy(zero_copy_only=False)
                qe = batch.column(i_re).to_numpy(zero_copy_only=False)
                out_keys: list = []
                out_counts: list[int] = []
                if i_k is not None:
                    enc = pc.dictionary_encode(batch.column(i_k))
                    codes = enc.indices.to_numpy(zero_copy_only=False)
                    for i in range(len(enc.dictionary)):
                        entry = idx_map.get((enc.dictionary[i].as_py(),))
                        if entry is None:
                            continue
                        m = codes == i
                        total = int(_group_counts(entry, qs[m], qe[m]).sum())
                        if total:
                            out_keys.append(enc.dictionary[i].as_py())
                            out_counts.append(total)
                else:
                    entry = idx_map.get(())
                    if entry is not None:
                        total = int(_group_counts(entry, qs, qe).sum())
                        if total:
                            out_counts.append(total)
                if out_counts:
                    arrays = []
                    if key_pa_type is not None:
                        arrays.append(pa.array(out_keys, type=key_pa_type))
                    arrays.append(pa.array(out_counts, type=pa.int64()))
                    yield pa.RecordBatch.from_arrays(arrays, schema=out_pa_schema)

        partials = rb.mapInArrow(probe_arrow, schema=out_schema)
    else:
        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            idx_map = bc.value
            for pdf in batches:
                if pdf.empty or not idx_map:
                    continue
                ok = pdf[_RS].notna() & pdf[_RE].notna()
                for k in keys:
                    ok &= pdf[k].notna()
                if not ok.all():
                    pdf = pdf[ok]
                if pdf.empty:
                    continue
                qs_all = pdf[_RS].to_numpy(np.int64)
                qe_all = pdf[_RE].to_numpy(np.int64)
                out_keys: list[tuple] = []
                out_counts: list[int] = []
                groups = pdf.groupby(keys, sort=False) if keys else [((), pdf)]
                for key, grp in groups:
                    if keys and not isinstance(key, tuple):
                        key = (key,)
                    entry = idx_map.get(key)
                    if entry is None:
                        continue
                    pos = pdf.index.get_indexer(grp.index)
                    total = int(_group_counts(entry, qs_all[pos], qe_all[pos]).sum())
                    if total:
                        out_keys.append(key)
                        out_counts.append(total)
                if out_counts:
                    data = {
                        name: [k[i] for k in out_keys]
                        for i, name in enumerate(key_names)
                    }
                    data[alias] = out_counts
                    yield pd.DataFrame(data)

        partials = rb.mapInPandas(probe, schema=out_schema)
    if key_names:
        return partials.groupBy(*key_names).agg(
            F.sum(alias).cast("long").alias(alias)
        )
    return partials.agg(
        F.coalesce(F.sum(alias), F.lit(0)).cast("long").alias(alias)
    )
