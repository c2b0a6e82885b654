"""Merge overlapping/adjacent intervals — bedtools ``merge`` semantics.

Flattens each equi-key group's intervals into maximal disjoint runs:
intervals merge when they overlap or are bookended (closed-interval
adjacency: ``[1,5]`` and ``[6,10]`` merge; ``max_gap`` extends this to
bedtools ``-d``). The classic interval-set normalization that precedes
coverage/complement analyses.

Plan shape — two-phase chunked merge, so parallelism is NOT capped at the
key cardinality (a human genome has ~25 contigs; one sort task per contig
would cap a 1000-executor cluster at 25 tasks):

1. *Local merge*: partition by ``(keys…, chunk)`` where ``chunk =
   start div chunk_width`` — a contiguous start-range slice — and run the
   window sweep (running max of ends, run-id prefix sum) inside each slice.
   This collapses every intra-chunk chain edge; output is one row per local
   run carrying its absorbed count.
2. *Fix-up sweep*: the same window merge over the per-key local runs.
   Correctness: local merging only joins truly-adjacent intervals, and the
   phase-2 sweep re-examines ALL runs in global start order, so chains that
   cross chunk boundaries (including a long interval swallowing later
   chunks' runs) merge exactly as a single-pass sweep would. Per-key row
   count entering phase 2 is O(#chunks + #final runs) — bounded and tiny —
   so the per-key sort that was the scale bottleneck now touches compacted
   runs only.

Both windows shuffle once each; no joins, no explosion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sequila_native_spark.operators.interval_join import _LE, _LS, _with_bounds
from sequila_native_spark.operators.intervals import validate_sides

_N = "__sq_n"
_CHUNK = "__sq_chunk"

# 32 kbp start-range slices: ~7600-way parallelism per human contig, ~10k
# rows per slice at 50x short-read coverage — slice sorts stay in-cache and
# the phase-2 fix-up input is thousands of runs per contig, not millions
DEFAULT_CHUNK_WIDTH = 1 << 15


def _runs(df: DataFrame, keys: list[str], extra_keys: list[str],
          n_col: Column, max_gap: int) -> DataFrame:
    """One window sweep: group rows into maximal adjacent runs within
    ``(keys + extra_keys)`` partitions; emit (min start, max end, Σn)."""
    part = [*keys, *extra_keys]
    w_order = Window.partitionBy(*part).orderBy(F.col(_LS).asc(), F.col(_LE).asc())
    prev_max = F.max(F.col(_LE)).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    # bigint: the reach past an end at the int32 edge is not an int32
    new_run = F.when(
        prev_max.isNull()
        | (F.col(_LS) > prev_max.cast("bigint") + (1 + max_gap)), 1
    ).otherwise(0)
    runs = df.withColumn(
        "__sq_run",
        F.sum(new_run).over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy(*part, "__sq_run")
        .agg(
            F.min(_LS).alias(_LS),
            F.max(_LE).alias(_LE),
            F.sum(n_col).alias(_N),
        )
        .drop("__sq_run", *extra_keys)
    )


def merge_intervals(
    df: DataFrame,
    on: list[str] | str | None = "contig",
    start: str = "pos_start",
    end: str = "pos_end",
    *,
    max_gap: int = 0,
    chunk_width: int | None = DEFAULT_CHUNK_WIDTH,
) -> DataFrame:
    """Return one row per merged run: keys, run ``start``/``end``, and
    ``n_merged`` (input intervals absorbed).

    Intervals sharing a key merge when ``next.start <= running_max_end + 1 +
    max_gap`` (closed-interval bookends merge at ``max_gap=0``).
    ``chunk_width`` controls phase-1 parallelism (start-range slice size);
    ``None`` forces the single-pass per-key sort (only sensible when key
    cardinality already exceeds the cluster's task slots).
    """
    # reuse two-sided validation with df on both sides (bounds + key checks)
    sides = validate_sides(df, df, on, start, end, start, end)
    keys = [p[0] for p in sides.on]

    b = _with_bounds(df.select(*dict.fromkeys([*keys, start, end])), start, end,
                     _LS, _LE, False)
    if chunk_width is not None:
        if chunk_width <= 0:
            raise ValueError(f"chunk_width must be positive, got {chunk_width}")
        local = b.withColumn(
            _CHUNK, F.floor(F.col(_LS).cast("double") / F.lit(float(chunk_width)))
        )
        b = _runs(local, keys, [_CHUNK], F.lit(1), max_gap)
        merged = _runs(b, keys, [], F.col(_N), max_gap)
    else:
        merged = _runs(b, keys, [], F.lit(1), max_gap)
    return merged.select(
        *keys,
        F.col(_LS).cast("int").alias(start),
        F.col(_LE).cast("int").alias(end),
        F.col(_N).alias("n_merged"),
    )


def complement_intervals(
    df: DataFrame,
    on: list[str] | str | None = "contig",
    start: str = "pos_start",
    end: str = "pos_end",
    *,
    chunk_width: int | None = DEFAULT_CHUNK_WIDTH,
) -> DataFrame:
    """Gaps between merged runs within each key's covered span — bedtools
    ``complement`` bounded by the data (no genome file): one row per maximal
    uncovered closed interval strictly between two runs.

    Plan: :func:`merge_intervals` (two-phase chunked sweep), then one window
    ``lead`` over the per-key merged runs — the run set is orders of
    magnitude smaller than the input, so the final per-key sort is over
    compacted runs only, same as merge's phase 2.
    """
    merged = merge_intervals(df, on, start, end, chunk_width=chunk_width)
    keys = [c for c in merged.columns if c not in (start, end, "n_merged")]
    w = Window.partitionBy(*keys).orderBy(F.col(start).asc())
    nxt = F.lead(F.col(start)).over(w)
    return (
        merged.select(
            *keys,
            (F.col(end).cast("bigint") + 1).alias("__sq_gap_s"),
            (nxt - 1).alias("__sq_gap_e"),
        )
        .where(F.col("__sq_gap_e") >= F.col("__sq_gap_s"))
        .select(
            *keys,
            F.col("__sq_gap_s").cast("int").alias(start),
            F.col("__sq_gap_e").cast("int").alias(end),
        )
    )


def subtract_intervals(
    left: DataFrame,
    right: DataFrame,
    on: list | str | None = "contig",
    left_start: str = "pos_start",
    left_end: str = "pos_end",
    right_start: str = "pos_start",
    right_end: str = "pos_end",
    *,
    bin_width: int | None = None,
) -> DataFrame:
    """bedtools ``subtract``: remove from each LEFT interval every base
    covered by any RIGHT interval sharing its key; emit the remaining
    sub-intervals (0..n rows per input row), all other left columns carried
    through unchanged. Fully-covered intervals vanish; untouched intervals
    pass through whole.

    Plan shape, all Catalyst:

    1. merge the right side into disjoint covers per key
       (:func:`merge_intervals` — two-phase chunked sweep, so this scales
       past key cardinality);
    2. binned overlap join left × covers (the flagship join path: explode to
       ``(key, bin)``, equi-join, exact filter — AQE-skew-safe, no
       cartesian);
    3. group the clipped covers per left row (``collect_list`` bounded by
       covers-per-interval, which merging already minimized) and fold them
       in start order with one ``aggregate`` HOF into the uncovered
       segments;
    4. left-join back to the stamped input so no-overlap rows keep their
       full interval, then explode the segments.

    Left rows ride through on a stamped row id
    (:func:`sequila_native_spark.util.stamp_row_id` — shuffle-fed lineage is
    pinned automatically).
    """
    from sequila_native_spark.operators.interval_join import overlap_join
    from sequila_native_spark.util import stamp_row_id

    sides = validate_sides(
        left, right, on, left_start, left_end, right_start, right_end
    )
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]

    merged = merge_intervals(
        right.select(*dict.fromkeys([*r_keys, right_start, right_end])),
        list(r_keys) or None, right_start, right_end,
    )
    covers_src = merged.select(
        *[F.col(k).alias(f"__sq_rk{i}") for i, k in enumerate(r_keys)],
        F.col(right_start).alias("__sq_cov_s"),
        F.col(right_end).alias("__sq_cov_e"),
    )

    lid = "__sq_sub_id"
    stamped = stamp_row_id(left, lid)
    pairs = overlap_join(
        stamped.select(lid, *dict.fromkeys([*l_keys, left_start, left_end])),
        covers_src,
        on=[(lk, f"__sq_rk{i}") for i, lk in enumerate(l_keys)] or None,
        left_start=left_start, left_end=left_end,
        right_start="__sq_cov_s", right_end="__sq_cov_e",
        algorithm="binning", bin_width=bin_width,
    )
    covers = pairs.groupBy(lid).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.greatest(F.col("__sq_cov_s"), F.col(left_start))
                    .cast("int").alias("s"),
                    F.least(F.col("__sq_cov_e"), F.col(left_end))
                    .cast("int").alias("e"),
                )
            )
        ).alias("__sq_covers")
    )

    ls, le = F.col(left_start), F.col(left_end)
    # fold the disjoint, sorted covers into uncovered segments of [ls, le]
    segs = F.aggregate(
        F.coalesce(F.col("__sq_covers"), F.array().cast("array<struct<s:int,e:int>>")),
        F.struct(
            ls.cast("int").alias("cur"),
            F.array().cast("array<struct<s:int,e:int>>").alias("segs"),
        ),
        lambda acc, c: F.struct(
            F.greatest(acc["cur"], (c["e"] + 1).cast("int")).alias("cur"),
            F.when(
                c["s"] > acc["cur"],
                F.concat(
                    acc["segs"],
                    F.array(F.struct(acc["cur"].alias("s"), (c["s"] - 1).cast("int").alias("e"))),
                ),
            ).otherwise(acc["segs"]).alias("segs"),
        ),
        lambda acc: F.when(
            acc["cur"] <= le,
            F.concat(
                acc["segs"],
                F.array(F.struct(acc["cur"].alias("s"), le.cast("int").alias("e"))),
            ),
        ).otherwise(acc["segs"]),
    )

    out_cols = left.columns
    exploded = (
        stamped.join(covers, lid, "left")
        .withColumn("__sq_seg", F.explode(segs))
        .select(
            *[
                F.col("__sq_seg.s").cast(dict(left.dtypes)[left_start]).alias(c)
                if c == left_start
                else F.col("__sq_seg.e").cast(dict(left.dtypes)[left_end]).alias(c)
                if c == left_end
                else F.col(c)
                for c in out_cols
            ]
        )
    )
    return exploded


def make_windows(
    spans: DataFrame,
    on: list[str] | str | None = "contig",
    start: str = "pos_start",
    end: str = "pos_end",
    *,
    window: int,
    step: int | None = None,
) -> DataFrame:
    """bedtools ``makewindows``: tile each span with fixed-size windows.

    For every input span emit windows ``[start + i·step, start + i·step +
    window − 1]`` clipped to the span end, for every offset intersecting the
    span (``step`` defaults to ``window`` — non-overlapping tiles). Output:
    the span's key columns, window ``start``/``end``, and ``win_ordinal``
    (0-based index within the span). Compose with :func:`count_overlaps` /
    ``coverage`` for windowed depth profiles.

    Pure Catalyst — ``sequence`` + ``transform`` + ``explode`` per row; at
    scale the window rows are generated inside the scan's tasks, no shuffle.
    """
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    step = window if step is None else step
    if step <= 0:
        raise ValueError(f"step must be positive, got {step}")
    sides = validate_sides(spans, spans, on, start, end, start, end)
    keys = [p[0] for p in sides.on]
    b = _with_bounds(
        spans.select(*dict.fromkeys([*keys, start, end])), start, end,
        _LS, _LE, False,
    )
    n_wins = F.floor((F.col(_LE) - F.col(_LS)).cast("double") / F.lit(float(step)))
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(n_wins, F.lit(0)).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("ord"),
            (F.col(_LS) + i * step).cast("int").alias("ws"),
            F.least(F.col(_LS) + i * step + (window - 1), F.col(_LE))
            .cast("int").alias("we"),
        ),
    )
    return (
        b.withColumn("__sq_w", F.explode(wins))
        .where(F.col("__sq_w.ws") <= F.col(_LE))
        .select(
            *keys,
            F.col("__sq_w.ws").alias(start),
            F.col("__sq_w.we").alias(end),
            F.col("__sq_w.ord").alias("win_ordinal"),
        )
    )


def cluster_intervals(
    df: DataFrame,
    on: list[str] | str | None = "contig",
    start: str = "pos_start",
    end: str = "pos_end",
    *,
    max_gap: int = 0,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """bedtools ``cluster``: label every input row with the id of the merged
    run (cluster) it belongs to — rows whose intervals overlap (or sit
    within ``max_gap``, bedtools ``-d``) transitively share a label.

    Plan shape: :func:`merge_intervals` (two-phase chunked sweep — scalable
    past key cardinality), dense per-key ordinals over the COMPACTED runs
    (a window over thousands of runs, not millions of rows), then the binned
    overlap join maps each row to its containing run — each row matches
    exactly one run by construction, so the join adds no fan-out. Output:
    the input columns plus ``cluster_col`` (per-key 1-based dense ordinal in
    start order) and ``cluster_start`` / ``cluster_end``.
    """
    from sequila_native_spark.operators.interval_join import overlap_join

    sides = validate_sides(df, df, on, start, end, start, end)
    keys = [p[0] for p in sides.on]
    runs = merge_intervals(
        df, list(keys) or None, start, end,
        max_gap=max_gap,
    )
    runs = runs.select(
        *[F.col(k).alias(f"__sq_ck{i}") for i, k in enumerate(keys)],
        F.col(start).alias("cluster_start"),
        F.col(end).alias("cluster_end"),
        F.row_number().over(
            Window.partitionBy(
                *[F.col(k) for k in keys] if keys else [F.lit(1)]
            ).orderBy(F.col(start))
        ).cast("long").alias(cluster_col),
    )
    out = overlap_join(
        df, runs,
        on=[(k, f"__sq_ck{i}") for i, k in enumerate(keys)] or None,
        left_start=start, left_end=end,
        right_start="cluster_start", right_end="cluster_end",
        algorithm="binning",
    )
    return out.select(*df.columns, cluster_col, "cluster_start", "cluster_end")
