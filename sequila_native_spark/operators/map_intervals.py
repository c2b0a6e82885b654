"""Per-interval value aggregation — the bedtools ``map`` verb.

For every LEFT interval, aggregate value column(s) of the overlapping RIGHT
intervals in the same equi-key group: ``sum``/``mean``/``min``/``max``/
``count``/``count_distinct``/``collect``/``distinct`` — the most-used
bedtools verb after intersect/merge. Reference anchor: this is the general
form of the intent behind ``CoitreesCountOverlaps``
(``sequila/sequila-core/src/physical_planner/joins/interval_join.rs:735``,
declared but broken upstream, SURVEY.md §2A A6); ``count_overlaps`` and
``coverage`` are its two special cases, this operator carries an arbitrary
value column.

Scale shape (the 100 TB plan): binned candidate pairs (each overlapping pair
emitted exactly once — no dedup shuffle), optional overlap-fraction
post-filter, then a map-side-combinable ``groupBy(left_row_id).agg(...)``
and a left join back so zero-match rows survive. Two shuffles total —
``(keys…, bin)`` and the left id — both on compact projections: the right
side is pruned to keys + bounds + referenced value columns before the join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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
    _ints,
    _key_groups,
    _probe_spans,
    _with_bounds,
    interval_index,
    resolve_bin_width,
)
from sequila_native_spark.operators.count_overlaps import _overlap_pairs
from sequila_native_spark.operators.intervals import (
    fraction_predicate,
    validate_sides,
)
from sequila_native_spark.session import SequilaConf, parse_algorithm
from sequila_native_spark.util import stamp_row_id

_AID = "__sq_map_id"

# op name -> (aggregate builder, null-group default builder). Aggregates
# over the matched pairs; the default fills unmatched left rows after the
# join-back (None = stay null, the bedtools "." convention). Builders are
# thunks: Column construction needs an active session.
_ZERO = lambda: F.lit(0).cast("bigint")  # noqa: E731
_OPS = {
    "count": (lambda c: F.count(F.lit(1)), _ZERO),
    "count_distinct": (lambda c: F.countDistinct(c), _ZERO),
    "sum": (lambda c: F.sum(c), None),
    "min": (lambda c: F.min(c), None),
    "max": (lambda c: F.max(c), None),
    "mean": (lambda c: F.avg(c), None),
    # collect_list order is partition-dependent — sort for deterministic output
    "collect": (lambda c: F.array_sort(F.collect_list(c)), None),
    "distinct": (lambda c: F.array_sort(F.array_distinct(F.collect_list(c))), None),
}


# Aggregates the broadcast-index kernel can compute from per-batch partials
# (each is associative over any partition of the matched pairs; the final
# groupBy recombines them exactly). mean/collect/distinct/count_distinct are
# NOT batch-decomposable and keep the pair-join plan.
_KERNEL_OPS = {"count", "sum", "min", "max"}
_INTEGRAL_SPARK = {"tinyint", "smallint", "int", "bigint"}


def _np_frac_mask(
    ls: np.ndarray, le: np.ndarray, rs: np.ndarray, re: np.ndarray,
    min_frac_left, min_frac_right, reciprocal: bool, either: bool,
) -> np.ndarray:
    """Vectorized twin of :func:`intervals.fraction_predicate` — the same
    IEEE-double expression (``overlap >= f * length`` with both operands
    cast to double), so the kept pair set is bit-identical to the join
    plan's filter. Caller guarantees at least one fraction is set and the
    argument combination already validated. Bounds may arrive as int32:
    the arithmetic runs in int64, where no int32 difference overflows."""
    if reciprocal:
        min_frac_right = min_frac_left
    ls, le, rs, re = (a.astype(np.int64, copy=False) for a in (ls, le, rs, re))
    ov = (np.minimum(le, re) - np.maximum(ls, rs) + 1).astype(np.float64)
    conds = []
    for frac, length in (
        (min_frac_left, le - ls + 1),
        (min_frac_right, re - rs + 1),
    ):
        if frac is None:
            continue
        conds.append(ov >= float(frac) * length.astype(np.float64))
    out = conds[0]
    for c in conds[1:]:
        out = (out | c) if either else (out & c)
    return out


def _index_map(
    left_stamped: DataFrame,
    lb: DataFrame,
    rb: DataFrame,
    l_keys: list[str],
    r_keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
    value_cols: dict[str, str],
    fills: list[tuple[str, "Column | None"]],
    left_out_cols: list[str],
    frac_args: tuple | None,
    conf: SequilaConf,
) -> DataFrame:
    """Broadcast-index map kernel (guide §1.1/§2.4/§3.1/§4.2): aggregate the
    probe side's values per LEFT row without emitting a single pair row.

    Build: the left (keys, bounds, row id) through the shared pair index
    (:func:`interval_index`), whose payload carries the row id. Probe: one
    ``mapInArrow`` pass over the right side pruned to (key, bounds,
    referenced values); each batch enumerates its exact matched pairs
    against the broadcast arrays (:func:`_probe_spans` — the candidate-mask
    kernel, exact for inverted rows on either side), applies the fraction
    mask, and emits ONE partial row per touched left row: pair count, per-column sums (int64, exact;
    NULL when the batch saw no non-null value), mins, maxes. The final
    ``groupBy(left row id)`` recombines partials — count=Σ, sum=Σ, min=min,
    max=max, all associative — so the result equals the pair join +
    aggregate bit-for-bit while the pair-sized exchange disappears: the
    plan is scan → probe → one tiny partial-agg exchange → left join.
    """
    # the stamped row ids belong to one evaluation of the left side: the
    # frame is nondeterministic, so the session index cache never keeps it
    bc, _ = interval_index(
        lb.select(*dict.fromkeys([*l_keys, _LS, _LE, _AID])), l_keys, conf
    )

    # (out_name, op, internal value alias or None) in aggs order
    plan = [
        (out, op, value_cols[v] if v is not None else None)
        for out, (op, v) in aggs.items()
    ]
    val_names = list(dict.fromkeys(a for _, _, a in plan if a is not None))
    out_schema = StructType(
        [StructField(_AID, LongType(), False)]
        + [StructField(out, LongType(), op != "count") for out, op, _ in plan]
    )
    need_cols = list(dict.fromkeys([*r_keys, _RS, _RE, *val_names]))
    from sequila_native_spark.util import ensure_parallel

    # hash-keyed repartition (deterministic columns): a few-split scan
    # would run the whole Python probe on a few cores (measured: the sf0.1
    # probe side scans as 3 splits); no-op when the scan already has
    # enough splits — the 100 TB case (same rationale as overlap_count_agg)
    rb_sel = ensure_parallel(rb.select(*need_cols), need_cols)
    i64min, i64max = np.iinfo(np.int64).min, np.iinfo(np.int64).max

    def probe_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx_map, payload = bc.value
        aid = _ints(payload, _AID)
        for batch in batches:
            if batch.num_rows == 0 or not idx_map:
                continue
            # needles keep the build arrays' dtype: a wider one would make
            # searchsorted copy the haystack on every call
            qs, qe = _ints(batch, _RS), _ints(batch, _RE)
            vals: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for a in val_names:
                col = batch.column(batch.schema.get_field_index(a))
                vals[a] = (
                    pc.fill_null(col, 0).to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False),
                    pc.is_valid(col).to_numpy(zero_copy_only=False),
                )

            out_aid: list[np.ndarray] = []
            out_cols: dict[str, list] = {out: [] for out, _, _ in plan}

            def group(entry, pos):
                starts, ends, runmax, _, row_idx = entry
                cand, rep = _probe_spans(starts, ends, runmax, qs[pos], qe[pos])
                if not cand.size:
                    return
                if frac_args is not None:
                    keep = _np_frac_mask(
                        starts[cand], ends[cand], qs[pos][rep], qe[pos][rep],
                        *frac_args,
                    )
                    cand, rep = cand[keep], rep[keep]
                    if not cand.size:
                        return
                gpos = pos[rep]  # batch row index per pair
                upos, inv = np.unique(cand, return_inverse=True)
                m = len(upos)
                out_aid.append(aid[row_idx[upos]])
                for out, op, a in plan:
                    if op == "count":
                        out_cols[out].append(np.bincount(inv, minlength=m))
                        continue
                    v_all, v_ok = vals[a]
                    hit = v_ok[gpos]
                    iv, vv = inv[hit], v_all[gpos][hit]
                    nn = np.bincount(iv, minlength=m)
                    if op == "sum":
                        acc = np.zeros(m, dtype=np.int64)
                        np.add.at(acc, iv, vv)
                    elif op == "min":
                        acc = np.full(m, i64max, dtype=np.int64)
                        np.minimum.at(acc, iv, vv)
                    else:  # max
                        acc = np.full(m, i64min, dtype=np.int64)
                        np.maximum.at(acc, iv, vv)
                    out_cols[out].append(
                        np.ma.masked_array(acc, mask=(nn == 0))
                    )

            for key, pos in _key_groups(batch, r_keys, (_RS, _RE)):
                entry = idx_map.get(key)
                if entry is not None:
                    group(entry, pos)
            if out_aid:
                arrays = [pa.array(np.concatenate(out_aid), type=pa.int64())]
                for out, _, _ in plan:
                    parts = out_cols[out]
                    if any(isinstance(p, np.ma.MaskedArray) for p in parts):
                        data = np.concatenate([np.ma.getdata(p) for p in parts])
                        mask = np.concatenate([
                            np.ma.getmaskarray(p) if isinstance(p, np.ma.MaskedArray)
                            else np.zeros(len(p), dtype=bool)
                            for p in parts
                        ])
                        arrays.append(pa.array(data, type=pa.int64(), mask=mask))
                    else:
                        arrays.append(pa.array(
                            np.concatenate(parts).astype(np.int64),
                            type=pa.int64(),
                        ))
                yield pa.RecordBatch.from_arrays(
                    arrays, names=[_AID, *[out for out, _, _ in plan]]
                )

    partials = rb_sel.mapInArrow(probe_arrow, schema=out_schema)
    combine = []
    rtypes = None
    for out, op, a in plan:
        if op in ("count", "sum"):
            combine.append(F.sum(out).cast("bigint").alias(out))
        else:
            # min/max keep the value column's own type in the pair plan
            if rtypes is None:
                rtypes = dict(rb.dtypes)
            orig_t = rtypes[a]
            fn = F.min if op == "min" else F.max
            combine.append(fn(out).cast(orig_t).alias(out))
    grouped = partials.groupBy(_AID).agg(*combine)
    out = left_stamped.join(grouped, _AID, "left_outer")
    final_cols: list = list(left_out_cols)
    for out_name, default in fills:
        if default is not None:
            final_cols.append(
                F.coalesce(F.col(out_name), default()).alias(out_name)
            )
        else:
            final_cols.append(out_name)
    return out.select(*final_cols)


def map_intervals(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str | None = None,
    left_start: str = "pos_start",
    left_end: str = "pos_end",
    right_start: str = "pos_start",
    right_end: str = "pos_end",
    *,
    aggs: dict[str, tuple[str, str | None]],
    strict: bool = False,
    algorithm: str | None = None,
    bin_width: int | str | None = None,
    min_frac_left: float | None = None,
    min_frac_right: float | None = None,
    reciprocal: bool = False,
    either: bool = False,
) -> DataFrame:
    """Return every row of ``left`` plus one aggregate column per ``aggs``
    entry, computed over the overlapping ``right`` rows in its equi-key
    group (bedtools ``map``).

    ``aggs`` maps output column name -> ``(op, right_value_column)`` with
    ``op`` in ``{count, count_distinct, sum, min, max, mean, collect,
    distinct}``; ``count`` takes ``None`` as its value column (it counts
    overlapping rows). Left rows with no overlap keep count-type columns at
    0 and everything else null (bedtools prints ``.``).

    ``min_frac_left`` / ``min_frac_right`` / ``reciprocal`` / ``either``
    restrict which overlaps count (bedtools ``-f/-F/-r/-e``), evaluated on
    the closed input intervals — incompatible with ``strict`` for the same
    reason as in :func:`~sequila_native_spark.overlap_join`.

    ``algorithm``: ``binning`` (default, the scale path), ``naive`` (the
    oracle predicate join), or ``index`` — the broadcast-index kernel
    (guarded by ``spark.sequila.maxBroadcastBuildRows``) for the
    batch-decomposable aggregates (count/sum/min/max over integral value
    columns; any number of string, integral, boolean or floating
    equi-keys):
    per-batch partial aggregates replace the pair join, so no pair-sized
    exchange exists at all. Non-decomposable aggs
    (mean/collect/distinct/count_distinct), other key types (date,
    timestamp, decimal), non-integral values, or an over-budget
    left side fall back to ``binning`` (the exact pre-existing plan).
    ``partitioned`` routes to ``binning``, as it does for every overlap
    operator.
    """
    if not aggs:
        raise ValueError("aggs must name at least one aggregate")
    frac = fraction_predicate(
        F.col(_LS), F.col(_LE), F.col(_RS), F.col(_RE),
        min_frac_left=min_frac_left, min_frac_right=min_frac_right,
        reciprocal=reciprocal, either=either,
    )
    if frac is not None and strict:
        raise ValueError(
            "overlap fractions are defined on the closed input intervals; "
            "strict=True would shrink them — not supported together"
        )
    spark = left.sparkSession
    conf = SequilaConf.from_spark(spark)
    algo = parse_algorithm(algorithm) if algorithm else conf.algorithm
    width = bin_width if bin_width is not None else conf.bin_width

    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    l_keys = [p[0] for p in sides.on]
    r_keys = [p[1] for p in sides.on]

    # Resolve value columns and build internal aliases so left/right name
    # collisions never reach the joined frame.
    value_cols: dict[str, str] = {}  # right column -> internal alias
    exprs: list[Column] = []
    fills: list[tuple[str, Column | None]] = []
    for out_name, (op, vcol) in aggs.items():
        if op not in _OPS:
            raise ValueError(
                f"unknown map op {op!r} for {out_name!r}; choose from "
                f"{sorted(_OPS)}"
            )
        if out_name in left.columns:
            raise ValueError(f"output column {out_name!r} already exists on left")
        if op == "count":
            if vcol is not None:
                raise ValueError("op 'count' counts overlapping rows; pass None as its column")
        else:
            if vcol is None:
                raise ValueError(f"op {op!r} needs a right-side value column")
            if vcol not in right.columns:
                raise ValueError(f"value column {vcol!r} not found on right side")
            value_cols.setdefault(vcol, f"__sq_mv{len(value_cols)}")
        builder, default = _OPS[op]
        arg = F.col(value_cols[vcol]) if vcol is not None else None
        exprs.append(builder(arg).alias(out_name))
        fills.append((out_name, default))

    left_out_cols = list(left.columns)
    left_stamped = stamp_row_id(left, _AID)
    right_pruned = right.select(
        *dict.fromkeys([*r_keys, right_start, right_end]),
        *[F.col(c).alias(a) for c, a in value_cols.items()],
    )

    lb = _with_bounds(
        left_stamped.select(*dict.fromkeys([*l_keys, left_start, left_end, _AID])),
        left_start, left_end, _LS, _LE, strict,
    )
    rb = _with_bounds(right_pruned, right_start, right_end, _RS, _RE, strict)

    if algo == "index":
        rtypes = dict(right.dtypes)
        kernel_ok = (
            all(op in _KERNEL_OPS for op, _ in aggs.values())
            and all(
                rtypes[v] in _INTEGRAL_SPARK
                for _, v in aggs.values() if v is not None
            )
            # mixed key families: only the binned join coerces 1 = '1'
            and not sides.mixed_keys
            and _arrow_keys(left.schema, l_keys)
        )
        if kernel_ok:
            frac_args = None if frac is None else (
                min_frac_left, min_frac_right, reciprocal, either
            )
            try:
                return _index_map(
                    left_stamped, lb, rb, l_keys, r_keys, aggs, value_cols,
                    fills, left_out_cols, frac_args, conf,
                )
            except BuildSideTooLargeError:
                pass  # accounted-memory fallback: the binned pair join

    # naive pairs, or binned ones for every other algorithm (partitioned too)
    width = None if algo == "naive" else resolve_bin_width(
        width, left, left_start, left_end, right, right_start, right_end
    )
    pairs = _overlap_pairs(lb, rb, l_keys, r_keys, width, frac)
    grouped = pairs.groupBy(_AID).agg(*exprs)
    out = left_stamped.join(grouped, _AID, "left_outer")
    final_cols = list(left_out_cols)
    for out_name, default in fills:
        if default is not None:
            final_cols.append(F.coalesce(F.col(out_name), default()).alias(out_name))
        else:
            final_cols.append(out_name)
    return out.select(*final_cols)
