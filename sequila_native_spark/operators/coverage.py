"""Per-interval coverage — the A12 ``coverage`` kernel as an operator.

The vendored superintervals library exposes ``coverage(start, end) ->
(count, Σ min(endᵢ,end) − max(startᵢ,start))`` (``superintervals/src/
superintervals.rs:802-822``): the number of overlapping build intervals and
the total clipped overlap. We expose that per probe row, with one
deliberate divergence: closed-interval base counting adds ``+1`` per
overlap (``min(le,qe) − max(ls,qs) + 1``), so a read exactly covering a
1-base target contributes 1 covered base, consistent with the engine's
end-inclusive semantics (the reference's length omits the +1).

Note this is *aligned-base depth* (overlapping build intervals each
contribute their clipped length — bases under two reads count twice), the
standard depth-of-coverage numerator. Union coverage (distinct covered
bases) is a different operator.

Scale shape: identical to count_overlaps — binned candidate join, partial
aggregation on the probe id, left join back so zero-coverage rows survive.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sequila_native_spark.operators.count_overlaps import _as_dtype, _index_probe
from sequila_native_spark.operators.interval_join import (
    _LE,
    _LS,
    _RE,
    _RS,
    BuildSideTooLargeError,
    _arrow_keys,
    _binned_pairs,
    _probe_spans,
    _with_bounds,
)
from sequila_native_spark.operators.intervals import overlap_predicate, validate_sides
from sequila_native_spark.session import SequilaConf, parse_algorithm
from sequila_native_spark.util import stamp_row_id

_PID = "__sq_probe_id"


def _with_prefix_sums(entry: tuple) -> tuple:
    """Coverage entry from a count entry (``count_overlaps.
    _entry_from_sorted``): the int64 prefix sums of the sorted starts and
    of the sorted ends, which the clipped-base identity of
    :func:`_cov_counts` reads. Each probe task derives them once from the
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


def coverage(
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
    bin_width: int | str | None = None,
    count_col: str = "n_overlaps",
    cover_col: str = "bases_covered",
    check_bounds: bool | None = None,
) -> DataFrame:
    """Return ``right`` with overlap count and total clipped overlap length
    against ``left`` within each equi-key group (0/0 when none)."""
    spark = left.sparkSession
    conf = SequilaConf.from_spark(spark)
    algo = parse_algorithm(algorithm) if algorithm else conf.algorithm
    width = bin_width if bin_width is not None else conf.bin_width
    check = conf.check_int32_bounds if check_bounds is None else check_bounds

    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    for c in (count_col, cover_col):
        if c in right.columns:
            raise ValueError(f"output column {c!r} already exists on right side")
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    left = left.select(*dict.fromkeys([*l_keys, left_start, left_end]))
    right_out_cols = list(right.columns)

    lb = _with_bounds(left, left_start, left_end, _LS, _LE, strict, check)

    if algo == "index" and (sides.mixed_keys or not _arrow_keys(left, l_keys)):
        # the kernel's dict lookup cannot coerce 1 = '1', and compares
        # only Arrow keys it can hash the same on both sides
        algo = "binning"
    if algo == "index":
        try:
            # count_overlaps' probe on the same cached index build: over
            # one input the two operators share one broadcast
            return _index_probe(
                lb, right, l_keys, r_keys, right_start, right_end, strict,
                check, [count_col, cover_col],
                lambda idx: {k: _with_prefix_sums(e) for k, e in idx.items()},
                _cov_counts,
            )
        except BuildSideTooLargeError:
            algo = "binning"  # accounted-memory fallback, never a blind collect

    right = stamp_row_id(right, _PID)
    rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict, check)

    if algo in ("naive",):
        cond = overlap_predicate(lb[_LS], lb[_LE], rb[_RS], rb[_RE])
        for lk, rk in zip(l_keys, r_keys):
            cond = (lb[lk] == rb[rk]) & cond
        pairs = rb.join(lb, cond, "inner")
    else:
        pairs = _binned_pairs(lb, rb, l_keys, r_keys, width)

    clipped = (
        F.least(F.col(_LE), F.col(_RE)) - F.greatest(F.col(_LS), F.col(_RS)) + 1
    ).cast("bigint")
    aggs = pairs.groupBy(_PID).agg(
        F.count(F.lit(1)).alias(count_col),
        F.sum(clipped).alias(cover_col),
    )
    return (
        right.join(aggs, _PID, "left_outer")
        .withColumn(count_col, F.coalesce(F.col(count_col), F.lit(0)))
        .withColumn(cover_col, F.coalesce(F.col(cover_col), F.lit(0)))
        .select(*right_out_cols, count_col, cover_col)
    )


def union_coverage(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str | None = None,
    left_start: str = "pos_start",
    left_end: str = "pos_end",
    right_start: str = "pos_start",
    right_end: str = "pos_end",
    *,
    strict: bool = False,
    bin_width: int | str | None = None,
    cover_col: str = "bases_union",
    check_bounds: bool | None = None,
) -> DataFrame:
    """Distinct covered bases per probe interval (breadth of coverage).

    Unlike :func:`coverage` (aligned-base depth, double-counts overlapping
    build intervals), this computes the size of the UNION of intersections —
    the classic merged-interval sweep, expressed as a window: clip each
    overlap to the probe, order by clipped start within the probe, and count
    only bases past the running max of previous clipped ends. One window +
    one aggregation, both partitioned on the probe id (exchange reused).
    """
    spark = left.sparkSession
    conf = SequilaConf.from_spark(spark)
    width = bin_width if bin_width is not None else conf.bin_width
    check = conf.check_int32_bounds if check_bounds is None else check_bounds

    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    if cover_col in right.columns:
        raise ValueError(f"output column {cover_col!r} already exists on right side")
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    left = left.select(*dict.fromkeys([*l_keys, left_start, left_end]))
    right_out_cols = list(right.columns)

    lb = _with_bounds(left, left_start, left_end, _LS, _LE, strict, check)
    right = stamp_row_id(right, _PID)
    rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict, check)

    pairs = _binned_pairs(lb, rb, l_keys, r_keys, width)
    cs = F.greatest(F.col(_LS), F.col(_RS))
    ce = F.least(F.col(_LE), F.col(_RE))
    w = (
        Window.partitionBy(_PID)
        .orderBy(cs.asc(), ce.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(ce).over(w)
    new_bases = F.greatest(
        F.lit(0).cast("bigint"),
        (ce - F.greatest(cs - 1, F.coalesce(prev_max, cs - 1))).cast("bigint"),
    )
    aggs = (
        pairs.withColumn("__sq_new", new_bases)
        .groupBy(_PID)
        .agg(F.sum("__sq_new").alias(cover_col))
    )
    return (
        right.join(aggs, _PID, "left_outer")
        .withColumn(cover_col, F.coalesce(F.col(cover_col), F.lit(0)))
        .select(*right_out_cols, cover_col)
    )


_CHUNK = "__sq_chunk"

# Same slice width rationale as merge_intervals.DEFAULT_CHUNK_WIDTH: enough
# slices per contig that parallelism is not capped at key cardinality.
DEFAULT_DEPTH_CHUNK_WIDTH = 1 << 15


def _prefix_swept_segments(ev: DataFrame, keys: list[str], chunk_width) -> DataFrame:
    """Two-phase distributed prefix scan over boundary events.

    ``ev`` carries ``keys… + __sq_pos + __sq_d``; deltas at equal positions
    are first summed, then the running total at each position is computed
    per key — inside ``chunk_width`` coordinate slices (window prefix sum)
    plus a tiny per-slice offset scan (one row per non-empty slice), so no
    key ever needs a global sort. Returns ``keys… + __sq_pos + __sq_depth``
    (the running total at ``[pos, __sq_next)``) ``+ __sq_next`` (next event
    position, crossing empty slices; null at the key's end).

    The running total is a plain sum, so any additive per-interval weight
    works: ±1 gives depth-of-coverage, ±2^i gives a covering-set bitmask.
    """
    ev = ev.groupBy(*keys, "__sq_pos").agg(F.sum("__sq_d").alias("__sq_d"))

    if chunk_width is None:
        w = Window.partitionBy(*keys).orderBy("__sq_pos")
        return ev.select(
            *keys,
            F.col("__sq_pos"),
            F.sum("__sq_d").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("__sq_depth"),
            F.lead("__sq_pos").over(w).alias("__sq_next"),
        )
    if chunk_width <= 0:
        raise ValueError(f"chunk_width must be positive, got {chunk_width}")
    ev = ev.withColumn(
        _CHUNK,
        F.floor(F.col("__sq_pos").cast("double") / F.lit(float(chunk_width))),
    )
    w1 = Window.partitionBy(*keys, _CHUNK).orderBy("__sq_pos")
    local = ev.select(
        *keys,
        _CHUNK,
        "__sq_pos",
        F.sum("__sq_d").over(
            w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__sq_lcum"),
        F.lead("__sq_pos").over(w1).alias("__sq_next_local"),
    )
    # one row per non-empty slice: delta total + first event position
    w2 = Window.partitionBy(*keys).orderBy(_CHUNK)
    slices = (
        ev.groupBy(*keys, _CHUNK)
        .agg(F.sum("__sq_d").alias("__sq_tot"), F.min("__sq_pos").alias("__sq_first"))
        .select(
            *keys,
            _CHUNK,
            F.coalesce(
                F.sum("__sq_tot").over(w2.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("__sq_offset"),
            F.lead("__sq_first").over(w2).alias("__sq_next_chunk_pos"),
        )
    )
    return local.join(slices, [*keys, _CHUNK]).select(
        *keys,
        F.col("__sq_pos"),
        (F.col("__sq_offset") + F.col("__sq_lcum")).alias("__sq_depth"),
        F.coalesce(F.col("__sq_next_local"), F.col("__sq_next_chunk_pos")).alias(
            "__sq_next"
        ),
    )


def depth_histogram(
    df: DataFrame,
    on: list[str] | str | None = "contig",
    start: str = "pos_start",
    end: str = "pos_end",
    *,
    chunk_width: int | None = DEFAULT_DEPTH_CHUNK_WIDTH,
    depth_col: str = "depth",
    bases_col: str = "n_bases",
    check_bounds: bool | None = None,
) -> DataFrame:
    """Genome-wide depth-of-coverage histogram (bedtools ``genomecov``
    without the genome file): for each equi-key group, how many bases sit
    under exactly ``depth`` overlapping intervals, for every depth > 0.

    Algorithm — distributed boundary-event prefix scan:

    1. Each closed interval emits ``+1`` at ``start`` and ``-1`` at
       ``end + 1``; summing deltas per distinct position collapses
       duplicates (one shuffle, map-side partial agg).
    2. Positions are sliced into ``chunk_width`` coordinate ranges. The
       running depth inside a slice is a window prefix sum; the slice's
       starting offset is a second, tiny prefix sum over per-slice delta
       totals (one row per non-empty slice). This is the classic two-phase
       scan: no per-key global sort, parallelism scales with the domain,
       not the key cardinality (~25 contigs would otherwise cap a cluster).
    3. A segment runs from one event position to the next — across empty
       slices too, via the next non-empty slice's first position carried by
       the same per-slice frame. Depth-0 gaps drop out (the running total
       is 0 there by construction), matching ``genomecov``'s no-genome mode.

    ``chunk_width=None`` falls back to the one-window-per-key sweep.
    Output: keys + ``depth`` (bigint) + ``n_bases`` (bigint).
    """
    conf = SequilaConf.from_spark(df.sparkSession)
    check = conf.check_int32_bounds if check_bounds is None else check_bounds
    sides = validate_sides(df, df, on, start, end, start, end)
    keys = [p[0] for p in sides.on]

    b = _with_bounds(
        df.select(*dict.fromkeys([*keys, start, end])), start, end, _LS, _LE,
        False, check,
    ).na.drop(subset=[*keys, _LS, _LE])
    ev = b.select(
        *keys, F.col(_LS).cast("long").alias("__sq_pos"), F.lit(1).alias("__sq_d")
    ).unionAll(
        b.select(
            *keys,
            (F.col(_LE).cast("long") + 1).alias("__sq_pos"),
            F.lit(-1).alias("__sq_d"),
        )
    )
    swept = _prefix_swept_segments(ev, keys, chunk_width)

    return (
        swept.where((F.col("__sq_depth") > 0) & F.col("__sq_next").isNotNull())
        .groupBy(*keys, F.col("__sq_depth").alias(depth_col))
        .agg(F.sum(F.col("__sq_next") - F.col("__sq_pos")).alias(bases_col))
    )


def interval_jaccard(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str | None = "contig",
    left_start: str = "pos_start",
    left_end: str = "pos_end",
    right_start: str = "pos_start",
    right_end: str = "pos_end",
    *,
    bin_width: int | str | None = None,
    check_bounds: bool | None = None,
) -> DataFrame:
    """bedtools ``jaccard`` per equi-key group: base-level
    ``|A∩B| / |A∪B|`` between two interval sets.

    Composition of existing scale paths: merge each side into disjoint runs
    (two-phase chunked sweep), binned-join the merged sets and sum clipped
    overlap lengths (disjointness within each side makes the sum exact —
    no double counting), and derive the union as ``|A| + |B| − |A∩B|``.
    Keys with no overlap still appear (intersection 0).

    Output: keys + ``inter_bases``, ``union_bases``, ``jaccard_milli``
    (``floor(1000 · inter/union)`` — integer-scaled for oracle hashing).
    """
    from sequila_native_spark.operators.interval_join import overlap_join
    from sequila_native_spark.operators.merge_intervals import merge_intervals

    keys = [on] if isinstance(on, str) else list(on or [])
    la = merge_intervals(left, on or [], left_start, left_end,
                         check_bounds=check_bounds).drop("n_merged")
    rb = merge_intervals(right, on or [], right_start, right_end,
                         check_bounds=check_bounds).drop("n_merged")

    len_a = la.groupBy(*keys).agg(
        F.sum(F.col(left_end) - F.col(left_start) + 1).alias("__sq_len_a")
    )
    len_b = rb.groupBy(*keys).agg(
        F.sum(F.col(right_end) - F.col(right_start) + 1).alias("__sq_len_b")
    )

    pairs = overlap_join(
        la, rb, on or None, left_start, left_end, right_start, right_end,
        algorithm="binning", bin_width=bin_width, rsuffix="_b",
        check_bounds=check_bounds,
    )
    r_s = f"{right_start}_b" if right_start in la.columns else right_start
    r_e = f"{right_end}_b" if right_end in la.columns else right_end
    clipped = (
        F.least(F.col(left_end), F.col(r_e))
        - F.greatest(F.col(left_start), F.col(r_s)) + 1
    )
    inter = pairs.groupBy(*keys).agg(F.sum(clipped).alias("__sq_inter"))

    j = (
        len_a.join(len_b, keys, "full")
        .join(inter, keys, "left")
        .na.fill({"__sq_len_a": 0, "__sq_len_b": 0, "__sq_inter": 0})
    )
    union = F.col("__sq_len_a") + F.col("__sq_len_b") - F.col("__sq_inter")
    return j.select(
        *keys,
        F.col("__sq_inter").cast("bigint").alias("inter_bases"),
        union.cast("bigint").alias("union_bases"),
        F.when(union > 0, F.floor(F.col("__sq_inter") * 1000 / union))
        .otherwise(F.lit(0)).cast("bigint").alias("jaccard_milli"),
    )


def multi_intersect(
    dfs: dict[str, DataFrame] | list[DataFrame],
    on: list[str] | str | None = "contig",
    start: str = "pos_start",
    end: str = "pos_end",
    *,
    chunk_width: int | None = DEFAULT_DEPTH_CHUNK_WIDTH,
    check_bounds: bool | None = None,
) -> DataFrame:
    """Multi-way interval intersection (bedtools ``multiinter``): partition
    each key's coordinate line into maximal segments with a constant set of
    covering inputs, reporting which inputs cover each segment.

    Same distributed boundary-event prefix scan as :func:`depth_histogram`,
    with one twist: each input set ``i`` is first merged to disjoint runs
    (so its coverage is 0/1) and contributes delta ``±2^i`` — the running
    total IS the covering-set bitmask, exactly. Up to 63 input sets.

    Output: keys + ``pos_start``/``pos_end`` (the segment, closed) +
    ``cover_mask`` (bigint bitmask in input order) + ``n_sets`` (popcount) +
    ``set_names`` (sorted array of covering input names). Uncovered gaps are
    not emitted (mask 0), matching bedtools.
    """
    from functools import reduce

    from sequila_native_spark.operators.merge_intervals import merge_intervals

    if isinstance(dfs, dict):
        names = list(dfs)
        frames = [dfs[n] for n in names]
    else:
        frames = list(dfs)
        names = [f"set_{i}" for i in range(len(frames))]
    if not frames:
        raise ValueError("multi_intersect needs at least one input DataFrame")
    if len(frames) > 63:
        raise ValueError(
            f"multi_intersect supports at most 63 input sets, got {len(frames)}"
        )
    keys = [on] if isinstance(on, str) else list(on or [])

    evs = []
    for i, f in enumerate(frames):
        merged = merge_intervals(
            f, on or [], start, end, check_bounds=check_bounds
        )
        bit = 1 << i
        evs.append(
            merged.select(
                *keys,
                F.col(start).cast("long").alias("__sq_pos"),
                F.lit(bit).alias("__sq_d"),
            ).unionAll(
                merged.select(
                    *keys,
                    (F.col(end).cast("long") + 1).alias("__sq_pos"),
                    F.lit(-bit).alias("__sq_d"),
                )
            )
        )
    ev = reduce(lambda a, b: a.unionAll(b), evs)
    swept = _prefix_swept_segments(ev, keys, chunk_width)

    covering = F.filter(
        F.array(*[
            F.when(
                F.col("cover_mask").bitwiseAND(F.lit(1 << i)) != 0, F.lit(n)
            )
            for i, n in enumerate(names)
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        swept.where((F.col("__sq_depth") > 0) & F.col("__sq_next").isNotNull())
        .select(
            *keys,
            F.col("__sq_pos").cast("int").alias(start),
            (F.col("__sq_next") - 1).cast("int").alias(end),
            F.col("__sq_depth").cast("bigint").alias("cover_mask"),
        )
        .withColumn("n_sets", F.bit_count(F.col("cover_mask")).cast("bigint"))
        .withColumn("set_names", F.array_sort(covering))
    )
