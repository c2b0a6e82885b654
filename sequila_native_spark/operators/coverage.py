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

Plan: :func:`count_overlaps._per_row_overlaps`, the per-row aggregate
count_overlaps and the semi/anti/mark filters share, asked for a second
column of clipped bases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sequila_native_spark.operators.count_overlaps import (
    _PID,
    _overlap_pairs,
    _per_row_overlaps,
)
from sequila_native_spark.operators.interval_join import (
    _LE,
    _LS,
    _RE,
    _RS,
    _with_bounds,
    resolve_bin_width,
)
from sequila_native_spark.operators.intervals import validate_sides
from sequila_native_spark.session import SequilaConf
from sequila_native_spark.util import stamp_row_id


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
) -> DataFrame:
    """Return ``right`` with overlap count and total clipped overlap length
    against ``left`` within each equi-key group (0/0 when none).

    count_overlaps' per-row aggregate with a second, bigint column of
    clipped bases: ``index`` probes the same cached count index with the
    prefix-sum kernel; ``binning`` (and ``naive``) sum the clipped length
    of each matched pair per probe row."""
    return _per_row_overlaps(
        left, right, on, left_start, left_end, right_start, right_end,
        strict=strict, algorithm=algorithm, bin_width=bin_width,
        count_col=count_col, cover_col=cover_col,
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
) -> DataFrame:
    """Distinct covered bases per probe interval (breadth of coverage).

    Unlike :func:`coverage` (aligned-base depth, double-counts overlapping
    build intervals), this computes the size of the UNION of intersections —
    the classic merged-interval sweep, expressed as a window: clip each
    overlap to the probe, order by clipped start within the probe, and count
    only bases past the running max of previous clipped ends. One window +
    one aggregation, both partitioned on the probe id (exchange reused).
    """
    conf = SequilaConf.from_spark(left.sparkSession)

    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    if cover_col in right.columns:
        raise ValueError(f"output column {cover_col!r} already exists on right side")
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]
    width = resolve_bin_width(
        conf.bin_width if bin_width is None else bin_width,
        left, left_start, left_end, right, right_start, right_end,
    )
    right_out_cols = list(right.columns)

    lb = _with_bounds(
        left.select(*dict.fromkeys([*l_keys, left_start, left_end])),
        left_start, left_end, _LS, _LE, strict,
    )
    right = stamp_row_id(right, _PID)
    rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict)

    pairs = _overlap_pairs(lb, rb, l_keys, r_keys, width)
    # in bigint: the clip of a full-range int32 interval overflows an int
    cs = F.greatest(F.col(_LS), F.col(_RS)).cast("bigint")
    ce = F.least(F.col(_LE), F.col(_RE)).cast("bigint")
    w = (
        Window.partitionBy(_PID)
        .orderBy(cs.asc(), ce.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(ce).over(w)
    new_bases = F.greatest(
        F.lit(0).cast("bigint"),
        ce - F.greatest(cs - 1, F.coalesce(prev_max, cs - 1)),
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
    sides = validate_sides(df, df, on, start, end, start, end)
    keys = [p[0] for p in sides.on]

    b = _with_bounds(
        df.select(*dict.fromkeys([*keys, start, end])), start, end, _LS, _LE,
        False,
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
    la = merge_intervals(left, on or [], left_start, left_end).drop("n_merged")
    rb = merge_intervals(right, on or [], right_start, right_end).drop("n_merged")

    # lengths and clips in bigint: an int subtraction overflows on int32
    # bounds more than 2^31 apart
    def big(c: str):
        return F.col(c).cast("bigint")

    len_a = la.groupBy(*keys).agg(
        F.sum(big(left_end) - big(left_start) + 1).alias("__sq_len_a")
    )
    len_b = rb.groupBy(*keys).agg(
        F.sum(big(right_end) - big(right_start) + 1).alias("__sq_len_b")
    )

    pairs = overlap_join(
        la, rb, on or None, left_start, left_end, right_start, right_end,
        algorithm="binning", bin_width=bin_width, rsuffix="_b",
    )
    r_s = f"{right_start}_b" if right_start in la.columns else right_start
    r_e = f"{right_end}_b" if right_end in la.columns else right_end
    clipped = (
        F.least(big(left_end), big(r_e))
        - F.greatest(big(left_start), big(r_s)) + 1
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
        merged = merge_intervals(f, on or [], start, end)
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
