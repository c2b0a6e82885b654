"""Count-overlaps — the corrected intent of ``CoitreesCountOverlaps``.

The reference declares a count-overlaps algorithm but its implementation is
incomplete/experimental: the streaming probe keeps only ``temp_matches[0]``
(``interval_join.rs:1268-1279``) while the full path appends all matches
against an RLE count of 1 (``:1593-1607``), desynchronizing the output index
arrays, and it has zero test coverage (SURVEY.md A6). We implement the
*intent* correctly: for each probe (right) row, the number of build (left)
intervals overlapping it within its equi-key group — 0 when none (matching
the declared one-row-per-probe-row contract).

One per-row overlap aggregate (:func:`_per_row_overlaps`) answers "how
many build rows overlap this probe row" for four operators: this one,
``coverage`` (which adds the clipped bases), and the semi/anti/mark
filters of ``overlap_filter`` (``count > 0``, ``count == 0``, and the
mark). Its two plans:

``binning`` (default, scale path) — binned inner overlap join (each pair
    emitted exactly once), optional overlap-fraction filter →
    ``groupBy(probe id)`` → left join back to the probe so zero-match rows
    survive. All Catalyst; shuffles on ``(keys…, bin)`` then on the probe
    id. ``naive`` is the same plan over the predicate join.

``index`` — broadcast per-key sorted arrays; a ``mapInArrow`` probe
    computes exact counts with two binary searches per probe (the
    superintervals ``count`` recipe,
    ``superintervals/src/superintervals.rs:353-446``), or counts and
    clipped bases from prefix sums (:func:`_cov_counts`). Zero shuffle;
    probe rows stream through unchanged with the output columns appended.
    O(n log m) with no per-candidate materialization — inverted intervals
    (start > end after strict normalization) route through the exact
    candidate-mask kernel instead.
    The build is kept in the session index cache
    (``interval_join.broadcast_build``): over one unchanged file input,
    every caller of the aggregate and overlap_count_agg share one collect
    and broadcast. Any number of string, integral, boolean or floating keys
    (:func:`_arrow_keys`); other key types (date, timestamp, decimal),
    mixed key families and overlap fractions run ``binning``.

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

from pyspark.sql import Column, DataFrame
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
    _quote,
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
    return _per_row_overlaps(
        left, right, on, left_start, left_end, right_start, right_end,
        strict=strict, algorithm=algorithm, bin_width=bin_width,
        count_col=count_col,
        frac=dict(min_frac_left=min_frac_left, min_frac_right=min_frac_right,
                  reciprocal=reciprocal, either=either),
    )


def _per_row_overlaps(
    left: DataFrame,
    right: DataFrame,
    on,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    *,
    strict: bool,
    algorithm: str | None,
    bin_width: int | str | None,
    count_col: str,
    cover_col: str | None = None,
    frac: dict | None = None,
) -> DataFrame:
    """The per-row overlap aggregate behind count_overlaps, coverage and
    the semi/anti/mark filters: ``right`` plus ``count_col``, the number
    of overlapping ``left`` rows in its equi-key group, and with
    ``cover_col`` their total clipped overlap in bases (0 when none).
    ``frac`` holds :func:`~.intervals.fraction_predicate`'s keywords.

    ``index`` probes the cached count index (:func:`_index_probe`) with
    the count kernel, or the coverage kernel for ``cover_col``; it runs
    for plain overlap on same-family Arrow keys. Every other call, and an
    index over the broadcast guard, runs one shuffle plan: stamp the probe
    id, pair it with the overlapping build rows (:func:`_overlap_pairs`),
    aggregate per id and left-join the aggregates back.
    """
    conf = SequilaConf.from_spark(left.sparkSession)
    algo = parse_algorithm(algorithm) if algorithm else conf.algorithm
    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    # one schema read per input: the frame caches what validate_sides read
    lschema, rschema = left.schema, right.schema
    out_cols = [count_col] if cover_col is None else [count_col, cover_col]
    for c in out_cols:
        if c in rschema.names:
            raise ValueError(f"output column {c!r} already exists on right side")
    # no Column call unless asked: the first one in a driver process pays
    # PySpark's call-site capture, which imports IPython when installed
    frac = {
        k: v for k, v in (frac or {}).items() if v is not None and v is not False
    }
    frac_pred = fraction_predicate(
        F.col(_LS), F.col(_LE), F.col(_RS), F.col(_RE), **frac
    ) if frac else None
    if frac_pred is not None and strict:
        raise ValueError(
            "overlap fractions are defined on the closed input intervals; "
            "strict=True would shrink them — not supported together"
        )
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    lb = _count_build(left, lschema, l_keys, left_start, left_end, strict)

    # the kernels answer plain overlap, and their dict lookups can neither
    # coerce 1 = '1' nor hash keys outside the Arrow key types
    if (algo == "index" and frac_pred is None and not sides.mixed_keys
            and _arrow_keys(lschema, l_keys)):
        if cover_col is None:
            prepare = dict
            kernel = lambda e, qs, qe: (_group_counts(e, qs, qe),)  # noqa: E731
        else:
            prepare = lambda idx: {k: _with_prefix_sums(e) for k, e in idx.items()}  # noqa: E731
            kernel = _cov_counts
        try:
            return _index_probe(
                lb, right, rschema, l_keys, r_keys, right_start, right_end,
                strict, out_cols, prepare, kernel, conf,
            )
        except BuildSideTooLargeError:
            pass  # accounted-memory fallback, never a blind collect

    width = None if algo == "naive" else resolve_bin_width(
        conf.bin_width if bin_width is None else bin_width,
        left, left_start, left_end, right, right_start, right_end,
    )
    probe = stamp_row_id(right, _PID)
    rb = _with_bounds(probe, right_start, right_end, _RS, _RE, strict, rschema)
    aggs = [F.expr(f"count(1) AS {_quote(count_col)}")]
    if cover_col is not None:
        # in bigint: int32 bounds further apart than 2^31 overflow an int
        le, re_, ls, rs = (f"CAST({c} AS BIGINT)" for c in (_LE, _RE, _LS, _RS))
        aggs.append(F.expr(
            f"sum(least({le}, {re_}) - greatest({ls}, {rs}) + 1) AS {_quote(cover_col)}"
        ))
    per_id = _overlap_pairs(lb, rb, l_keys, r_keys, width, frac_pred).groupBy(
        _PID
    ).agg(*aggs)
    return probe.join(per_id, _PID, "left_outer").selectExpr(
        *map(_quote, rschema.names),
        *(f"coalesce({_quote(c)}, 0) AS {_quote(c)}" for c in out_cols),
    )


def _count_build(left, lschema, l_keys, start, end, strict) -> DataFrame:
    """The count index's build frame: ``left``'s keys and checked bounds,
    nothing else. count_overlaps, coverage, the overlap filters and
    overlap_count_agg build it alike, so over one input they share one
    cached index."""
    return _with_bounds(left, start, end, _LS, _LE, strict, lschema,
                        [_quote(k) for k in dict.fromkeys(l_keys)])


def _overlap_pairs(
    lb: DataFrame,
    rb: DataFrame,
    l_keys: list[str],
    r_keys: list[str],
    width: int | None,
    frac: Column | None = None,
) -> DataFrame:
    """Every overlapping pair of bound-stamped rows in one equi-key group,
    with all columns of both sides: the binned join at ``width``, or the
    naive predicate join when ``width`` is None; ``frac`` (a
    :func:`~.intervals.fraction_predicate`) filters the pairs."""
    if width is None:
        cond = overlap_predicate(lb[_LS], lb[_LE], rb[_RS], rb[_RE])
        for lk, rk in zip(l_keys, r_keys):
            cond = (lb[lk] == rb[rk]) & cond
        pairs = rb.join(lb, cond, "inner")
    else:
        pairs = _binned_pairs(lb, rb, l_keys, r_keys, width)
    return pairs if frac is None else pairs.where(frac)


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
    (:func:`_mask_cov`) separately and added — the regular subset keeps the fast path.
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
            counts[p_reg] += _mask_cov(inv_starts, inv_ends_bs,
                                       qs[p_reg], qe[p_reg])[0]
    if p_inv.any():
        for ss, ee in ((reg_starts, reg_ends_bs), (inv_starts, inv_ends_bs)):
            if len(ss):
                counts[p_inv] += _mask_cov(ss, ee, qs[p_inv], qe[p_inv])[0]
    return counts


def _with_prefix_sums(entry: tuple) -> tuple:
    """Coverage entry from a count entry (:func:`_entry_from_sorted`): the
    int64 prefix sums of the sorted starts and of the sorted ends, which
    the clipped-base identity of :func:`_cov_counts` reads. Each probe task derives them once from the
    shared broadcast: an O(n) pass is cheaper than shipping and
    unpickling 16 more bytes per build row. Entry: ``(reg_starts_sorted,
    reg_ends_by_start, reg_ends_sorted, prefix_ls, prefix_le_sorted,
    inv_starts_sorted, inv_ends_by_start)``."""
    reg_s, reg_e, e_sorted, inv_s, inv_e = entry
    ps_ls = np.zeros(len(reg_s) + 1, dtype=np.int64)
    np.cumsum(reg_s, dtype=np.int64, out=ps_ls[1:])
    ps_le = np.zeros(len(e_sorted) + 1, dtype=np.int64)
    np.cumsum(e_sorted, dtype=np.int64, out=ps_le[1:])
    return (reg_s, reg_e, e_sorted, ps_ls, ps_le, inv_s, inv_e)


def _mask_cov(
    starts_s: np.ndarray, ends_bs: np.ndarray, qs: np.ndarray, qe: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-probe (count, clipped-base sum) via the candidate-mask
    kernel — the inverted-row path (no overlap implication assumed)."""
    runmax = np.maximum.accumulate(ends_bs)
    cand, rep = _probe_spans(starts_s, ends_bs, runmax, qs, qe)
    cnt = np.bincount(rep, minlength=len(qs)).astype(np.int64)
    cov = np.zeros(len(qs), dtype=np.int64)
    if cand.size:
        clip = (
            np.minimum(ends_bs[cand].astype(np.int64), qe[rep])
            - np.maximum(starts_s[cand].astype(np.int64), qs[rep]) + 1
        )
        np.add.at(cov, rep, clip)
    return cnt, cov


def _cov_counts(
    entry: tuple, qs: np.ndarray, qe: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-probe (overlap count, covered bases) against one key group.

    Fast path (non-inverted): with ``A = {ls <= qe}``, ``B = {le < qs}``
    (``B ⊆ A`` for any regular build row and regular probe), the overlap
    set is ``A − B`` and::

        count   = |A| − |B|
        Σ min(le, qe) = Σ_{le<=qe} le + qe·(|A| − #{le<=qe}) − Σ_{le<qs} le
        Σ max(ls, qs) = Σ_{qs<=ls<=qe} ls + qs·(#{ls<qs} − |B|)
        covered = Σ min(le, qe) − Σ max(ls, qs) + count

    (``{le <= qe} ⊆ A`` and ``{ls < qs} ⊇ B`` make every term a prefix
    range of one of the two sort orders.) Inverted rows/probes go through
    the exact candidate-mask kernel, as in the count kernel."""
    reg_s, reg_e, e_sorted, ps_ls, ps_le, inv_s, inv_e = entry
    n = len(qs)
    cnt = np.zeros(n, dtype=np.int64)
    cov = np.zeros(n, dtype=np.int64)
    p_inv = qs > qe
    p_reg = ~p_inv
    if p_reg.any():
        if len(reg_s):
            a = qs[p_reg].astype(np.int64, copy=False)
            b = qe[p_reg].astype(np.int64, copy=False)
            # needles in each int32-compacted haystack's dtype, as in the
            # count kernel: a mixed-dtype searchsorted copies the haystack
            a_s, b_s = _as_dtype(a, reg_s.dtype), _as_dtype(b, reg_s.dtype)
            a_e, b_e = _as_dtype(a, e_sorted.dtype), _as_dtype(b, e_sorted.dtype)
            iA = np.searchsorted(reg_s, b_s, side="right")
            iB = np.searchsorted(e_sorted, a_e, side="left")
            c = iA - iB
            i_le = np.searchsorted(e_sorted, b_e, side="right")
            sum_min = ps_le[i_le] + b * (iA - i_le) - ps_le[iB]
            i_lt = np.searchsorted(reg_s, a_s, side="left")
            sum_max = (ps_ls[iA] - ps_ls[i_lt]) + a * (i_lt - iB)
            cnt[p_reg] = c
            cov[p_reg] = sum_min - sum_max + c
        if len(inv_s):
            c2, v2 = _mask_cov(inv_s, inv_e, qs[p_reg], qe[p_reg])
            cnt[p_reg] += c2
            cov[p_reg] += v2
    if p_inv.any():
        for ss, ee in ((reg_s, reg_e), (inv_s, inv_e)):
            if len(ss):
                c2, v2 = _mask_cov(ss, ee, qs[p_inv], qe[p_inv])
                cnt[p_inv] += c2
                cov[p_inv] += v2
    return cnt, cov


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


def _count_index(lb: DataFrame, l_keys, conf: SequilaConf):
    """Broadcast of ``lb``'s per-key count index (``lb`` from
    :func:`_count_build`). count_overlaps, coverage and overlap_count_agg
    all probe it (coverage adds its prefix sums per task), so over one
    input they share one cached build."""
    cap = conf.max_broadcast_build_rows
    return broadcast_build(
        lb, ("overlap_count", tuple(l_keys)),
        lambda: _build_count_index(lb, l_keys, cap), cap,
    )[0]


def _build_count_index(lb: DataFrame, l_keys, cap: int) -> tuple[dict[tuple, tuple], int]:
    """Collect the build side (guarded, one job) into per-key index entries
    (:func:`_entry_from_sorted`). Returns the index and the number of rows
    collected.

    Collects with ``toArrow`` and groups through :func:`_key_groups` — no
    per-row python objects, no pandas groupby. Measured 10.9 s → ~3 s on a
    7.5M-row build against the pandas collect and groupby: whole batches
    go to vectorized native code.
    """
    tbl = guarded_build_arrow(lb, cap)
    starts, ends = _ints(tbl, _LS), _ints(tbl, _LE)
    index = {
        key: _entry_from_sorted(starts[pos], ends[pos])
        for key, pos in _key_groups(tbl, l_keys, (_LS, _LE), sort_by=starts)
    }
    return index, tbl.num_rows


def _index_probe(
    lb, right, rschema, l_keys, r_keys, right_start, right_end, strict,
    out_cols: list[str], prepare, kernel, conf: SequilaConf,
):
    """Broadcast build arrays, streaming vectorized probe, zero shuffle:
    the probe of count_overlaps and coverage.

    Probe batches stay Arrow: passthrough columns are
    re-emitted untouched and ``out_cols`` (bigint, 0 for no match) are
    appended. Each task maps the shared count index through ``prepare``
    once; ``kernel(entry, qs, qe)`` returns one array per output column
    for one key group's probe rows. Needles keep the bound columns' int32
    dtype, which the kernels match to the build arrays (``_as_dtype``).
    ``rschema`` is ``right``'s schema, which the output extends.
    """
    rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict, rschema)
    bc = _count_index(lb, l_keys, conf)
    right_out_cols = rschema.names
    out_schema = StructType(
        list(rschema.fields)
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

    return rb.mapInArrow(probe_arrow, schema=out_schema)


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
    conf = SequilaConf.from_spark(left.sparkSession)
    sides = validate_sides(
        left, right, on, left_start, left_end, right_start, right_end
    )
    lschema, rschema = left.schema, right.schema
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    lb = _count_build(left, lschema, l_keys, left_start, left_end, strict)

    bc = None
    if not sides.mixed_keys and _arrow_keys(lschema, l_keys):
        try:
            bc = _count_index(lb, l_keys, conf)
        except BuildSideTooLargeError:
            pass
    if bc is None:
        # accounted-memory, key-type or mixed-key fallback: the binned pair
        # join + groupBy — the exact expression this operator replaces
        from sequila_native_spark.operators.interval_join import overlap_join

        left_p = left.select(*dict.fromkeys([*l_keys, left_start, left_end]))
        right_p = right.select(*dict.fromkeys([*r_keys, right_start, right_end]))
        oj = overlap_join(
            left_p, right_p, on=on,
            left_start=left_start, left_end=left_end,
            right_start=right_start, right_end=right_end,
            strict=strict, algorithm="binning", rsuffix="_r",
        )
        grouped = oj.groupBy(*l_keys) if l_keys else oj
        return grouped.agg(F.count(F.lit(1)).cast("long").alias(alias))

    rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict, rschema,
                      [_quote(k) for k in dict.fromkeys(r_keys)])
    from pyspark.sql.pandas.types import to_arrow_schema

    from sequila_native_spark.util import ensure_parallel

    # hash-keyed repartition (deterministic columns): parallelizes a
    # few-split scan like the old round-robin but skips its
    # sort-before-repartition (guide §2.5 note; measured 0.9 → 0.6 s on the
    # 600k-row probe side). No-op when the scan already has enough splits.
    rb = ensure_parallel(rb, [*r_keys, _RS, _RE])

    key_fields = [lschema[k] for k in l_keys]
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
