"""Nearest-interval join — bedtools-closest / IRanges ``nearest`` semantics.

Reference: the ``CoitreesNearest`` algorithm
(``interval_join.rs:726-734,794-815,909-990``; golden test
``integration_test.rs:352-399``): for each probe (right) row emit exactly one
output row —

- an overlapping build interval if any overlap exists (IRanges overlap-first
  rule, ``interval_join.rs:976``),
- else the nearest build interval by genomic distance
  (``distance = r2.first - end`` if the build interval starts after the probe
  ends, ``start - r2.last`` if it ends before the probe starts,
  ``interval_join.rs:938-946``),
- **null left columns** when the probe's equi-key group has no build rows
  (golden ``integration_test.rs:385-394``).

Two deliberate fixes over the reference (documented divergences):

1. The reference picks an *arbitrary* overlapping interval and, for the
   no-overlap case, inspects only the two intervals adjacent to a binary
   search on start (``interval_join.rs:926-951``) — which can return a
   non-nearest interval when a long interval starts early but ends close to
   the probe. We compute the *true* minimum distance.
2. Ties are broken deterministically by ``(distance, start, end)`` so results
   are reproducible and oracle-comparable. Both fixes agree with the
   reference's golden output.

Algorithms:

``naive``
    Left-outer join on equi-keys + window ``row_number`` (Catalyst-only; the
    correctness oracle).

``index``
    Broadcast per-key sorted arrays + ``mapInArrow`` probe (zero shuffle,
    O(log n)/row); the chosen build rows are gathered with ``take`` on the
    collected Arrow table, and a null index null-pads a miss. Build side
    must fit in driver/executor memory — guarded by
    ``spark.sequila.maxBroadcastBuildRows``. The build is collected in one
    job and kept in the session index cache, shared with
    ``overlap_join``'s ``index`` path, so repeated calls over one
    unchanged file input (any ``k`` or ``ignore_*`` flags) reuse it. Any
    number of string, integral, boolean or floating keys; a keyed call
    with other key types runs ``partitioned``.

``partitioned`` (default scale path; conf ``binning`` selects it)
    The reference's Partitioned mode applied to nearest
    (``interval_join.rs:391-398,488-503``): shuffle BOTH sides by the
    equi-keys and run the ``index`` kernels on each key group inside
    ``cogroup().applyInArrow``. One shuffle per side, per-task memory
    bounded by the largest key group, works for build sides of any size.
    Probe groups whose key has no build rows still flow through the cogroup
    (cogroup is full-outer on group keys) and get null-left padding —
    no driver-side collect anywhere. A keyed ``index`` call over the cap
    runs it. A keyless call runs ``index``; over the cap it splits the
    build into chunks, cogroups each chunk with a copy of every probe row
    and keeps each probe's ``k`` best candidates by ``(distance, start,
    end)``. Top-k is exact across chunks, as every chunk's top-k holds its
    share of the global one. Each probe row is copied once per chunk, so
    the probe side must fit ``spark.sequila.maxBroadcastBuildRows`` too.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    FloatType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

from sequila_native_spark.operators.interval_join import (
    _EMPTY_I64,
    _LE,
    _LS,
    _RE,
    _RS,
    BuildSideTooLargeError,
    _arrow_keys,
    _emit,
    _ints,
    _key_groups,
    _lex_index,
    _max_batch,
    _probe_spans,
    _quote,
    _renamed_fields,
    _renamed_sql,
    _renames,
    _with_bounds,
    interval_index,
)
from sequila_native_spark.operators.intervals import validate_sides
from sequila_native_spark.session import SequilaConf, parse_algorithm
from sequila_native_spark.util import ensure_parallel, num_partitions

_PID = "__sq_probe_id"
_CHUNK = "__sq_chunk"
_I64_MAX = np.iinfo(np.int64).max


def nearest_join(
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
    rsuffix: str = "_r",
    k: int | None = None,
    distance_col: str | None = None,
    ignore_overlaps: bool = False,
    ignore_upstream: bool = False,
    ignore_downstream: bool = False,
) -> DataFrame:
    """For each right (probe) row return the ``k`` best left (build)
    intervals within the same equi-key group by ``(distance, start, end)``
    — overlap-first, ties exact — or one null-left row when the group has
    no build rows.

    ``k=1`` is the reference's ``CoitreesNearest``
    (``integration_test.rs:385-394``); ``k>1`` is the bedtools
    ``closest -k`` extension ("up to k": probes whose group holds fewer
    build rows emit what exists).

    ``distance_col`` appends the genomic gap distance (bedtools
    ``closest -d``: 0 for overlap, else the gap; null for null-padded rows).
    It is derived from the output bound columns post-join
    (:func:`_distance_sql`), so every algorithm path shares one
    definition. Note it reflects the *normalized* bounds when
    ``strict=True`` (strictness shrinks an end by 1 before distance,
    matching the join's own semantics).

    ``ignore_overlaps`` / ``ignore_upstream`` / ``ignore_downstream``
    (bedtools ``closest -io/-iu/-id``; strand-agnostic — upstream = lower
    coordinates): drop that candidate class (every build interval is
    exactly one of Overlapping, Upstream ``end < probe_start``, Downstream
    ``start > probe_end`` w.r.t. a probe). Probes whose every candidate is
    excluded emit a null-left row, like an empty key group. ``k=1`` only.

    Output columns: left columns (possibly null) then right columns, like the
    reference golden, plus ``distance_col`` when requested.
    """
    spark = left.sparkSession
    conf = SequilaConf.from_spark(spark)
    if k is None:
        # spark.sequila.nearestK: lets the conf-driven entry points (SQL
        # text under CoitreesNearest, .sql scripts) select k without an API
        k = conf.nearest_k
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValueError(f"k must be a positive integer, got {k!r}")
    if k > 10_000:
        raise ValueError(
            f"k={k} exceeds the supported cap (10000); the per-probe "
            f"candidate matrices scale with k"
        )
    flags = None
    if ignore_overlaps or ignore_upstream or ignore_downstream:
        if ignore_overlaps and ignore_upstream and ignore_downstream:
            raise ValueError(
                "ignore_overlaps + ignore_upstream + ignore_downstream "
                "excludes every candidate class"
            )
        if k != 1:
            raise ValueError(
                "ignore_* candidate-class flags support k=1 only"
            )
        flags = (bool(ignore_overlaps), bool(ignore_upstream), bool(ignore_downstream))
    raw = algorithm.strip().lower() if algorithm else None
    if raw == "coitreesnearest":
        # the reference name selects nearest semantics; here we ARE the
        # nearest join — use its default index structure
        algo = "index"
    else:
        algo = parse_algorithm(algorithm) if algorithm else conf.algorithm
    if algo == "binning":
        # binning has no nearest analogue; partitioned is the distributed
        # equivalent (same shuffle-by-key distribution requirement)
        algo = "partitioned"

    sides = validate_sides(left, right, on, left_start, left_end, right_start, right_end)
    if sides.mixed_keys:
        # the naive plan would coerce (1 = '1') while the kernels compare
        # python values; no path answers until the caller picks the cast
        lk, lt, rk, rt = sides.mixed_keys[0]
        raise ValueError(
            f"nearest_join equi-key {lk!r} ({lt}) and {rk!r} ({rt}) have "
            "types of different families; cast one side so both keys "
            "have the same type"
        )
    # one schema read per input: the frame caches what validate_sides read
    lschema, rschema = left.schema, right.schema
    renames = _renames(lschema.names, rschema.names, rsuffix)
    r_start = renames.get(right_start, right_start)
    r_end = renames.get(right_end, right_end)
    l_keys = [p[0] for p in sides.on]
    r_keys = [renames.get(p[1], p[1]) for p in sides.on]

    lb = _with_bounds(left, left_start, left_end, _LS, _LE, strict, lschema)
    # the right side's renames ride in the projection that adds its bounds
    rb = _with_bounds(right, right_start, right_end, _RS, _RE, strict, rschema,
                      _renamed_sql(rschema.names, renames))

    args = (lb, rb, l_keys, r_keys, list(lschema.fields),
            _renamed_fields(rschema, renames), k, flags)
    if algo == "naive":
        out = _naive_nearest(*args)
    elif l_keys and (algo == "partitioned" or not _arrow_keys(lschema, l_keys)):
        # date, timestamp and decimal keys: the index kernel's lookups
        # cannot compare them, the keyed shuffle path's groupBy can
        out = _partitioned_nearest(*args, conf=conf)
    else:
        # keyless calls try the index first: their cogroup is one group
        # unless the build is over the cap and split into chunks
        try:
            out = _index_nearest(*args, conf=conf)
        except BuildSideTooLargeError:
            out = _partitioned_nearest(*args, conf=conf)
    if distance_col:
        out = out.withColumn(distance_col, F.expr(
            _distance_sql(left_start, left_end, r_start, r_end, strict)
        ))
    return out


def _distance_sql(ls: str, le: str, rs: str, re: str, shrink: bool = False) -> str:
    """Genomic gap distance between the intervals of columns ``[ls, le]``
    and ``[rs, re]`` (``interval_join.rs:938-946``), as SQL: 0 when they
    overlap, null when either start is null (a null-padded row). ``shrink``
    ends them 1 earlier, as strict normalization does. In bigint: int32
    bounds further apart than 2^31 overflow an int subtraction."""
    ls, rs = (f"CAST({_quote(c)} AS BIGINT)" for c in (ls, rs))
    le, re = (
        f"(CAST({_quote(c)} AS BIGINT) - 1)" if shrink else f"CAST({_quote(c)} AS BIGINT)"
        for c in (le, re)
    )
    return (
        f"CASE WHEN {ls} IS NULL OR {rs} IS NULL THEN NULL "
        f"WHEN {ls} > {re} THEN {ls} - {re} WHEN {le} < {rs} THEN {rs} - {le} "
        f"ELSE 0 END"
    )


def _names(fields) -> list[str]:
    return [f.name for f in fields]


def _naive_nearest(lb, rb, l_keys, r_keys, left_fields, right_fields, k=1, flags=None):
    out_cols = _names([*left_fields, *right_fields])
    probe = rb.withColumn(_PID, F.monotonically_increasing_id())
    # a null bound on either side never matches (the kernels skip such rows);
    # without this the distance expression reads a null comparison as 0
    cond = (
        lb[_LS].isNotNull() & lb[_LE].isNotNull()
        & probe[_RS].isNotNull() & probe[_RE].isNotNull()
    )
    for lk, rk in zip(l_keys, r_keys):
        cond = cond & (lb[lk] == probe[rk])
    if flags is not None and any(flags):
        # class exclusion lives INSIDE the join condition so probes whose
        # every candidate is excluded still emit a null-left row
        io, iu, idn = flags
        allowed = F.lit(False)
        if not io:
            allowed = allowed | (
                (lb[_LS] <= probe[_RE]) & (lb[_LE] >= probe[_RS])
            )
        if not iu:
            allowed = allowed | (lb[_LE] < probe[_RS])
        if not idn:
            allowed = allowed | (lb[_LS] > probe[_RE])
        cond = cond & allowed
    joined = probe.join(lb, cond, "left_outer")
    dist = F.expr(_distance_sql(_LS, _LE, _RS, _RE))
    w = Window.partitionBy(_PID).orderBy(
        dist.asc_nulls_last(), lb[_LS].asc_nulls_last(), lb[_LE].asc_nulls_last()
    )
    return (
        joined.withColumn("__sq_rn", F.row_number().over(w))
        .where(F.col("__sq_rn") <= k)
        .select(*out_cols)
    )


def _nearest_take(starts, ends, runmax, argmax_first, qs, qe, flags=None) -> np.ndarray:
    """Core nearest kernel: for each probe ``[qs, qe]`` return the position
    (into the sorted build arrays) of the chosen build interval, or -1.

    Overlap-first (IRanges rule): the lex-min overlapping interval if any;
    else the true nearest across both flanks with the deterministic
    ``(distance, start, end)`` tie-break.

    ``flags=(ignore_overlaps, ignore_upstream, ignore_downstream)`` is the
    bedtools ``closest -io/-iu/-id`` extension: each build interval falls in
    exactly one class w.r.t. a probe — Overlapping, Upstream (``end < qs``),
    or Downstream (``start > qe``) — and a flag drops its class from the
    candidate set; the winner is still the lexicographic ``(distance,
    start, end)`` minimum of what remains (overlap-first falls out of
    distance 0). ``None`` (all-false) keeps the fast two-flank path.
    """
    n, m = len(starts), len(qs)
    take = np.full(m, -1, dtype=np.int64)
    if n == 0 or m == 0:
        return take
    if flags is not None and any(flags):
        return _nearest_take_flagged(starts, ends, runmax, qs, qe, flags)
    # overlap-first: candidates per probe are ascending sorted positions, so
    # the FIRST per probe is the deterministic lex-min overlap
    cand, probe_rep = _probe_spans(starts, ends, runmax, qs, qe)
    rest_mask = np.ones(m, dtype=bool)
    if cand.size:
        uniq, first_idx = np.unique(probe_rep, return_index=True)
        take[uniq] = cand[first_idx]
        rest_mask[uniq] = False
    rest = np.nonzero(rest_mask)[0]
    if not rest.size:
        return take
    # no-overlap rows: true nearest on both flanks, vectorized
    rqs, rqe = qs[rest], qe[rest]
    hi = np.searchsorted(starts, rqe, side="right")
    # left flank: the interval with max end among starts <= qe
    has_l = hi > 0
    wl = np.where(has_l, argmax_first[np.maximum(hi - 1, 0)], 0)
    dist_l = np.where(has_l, rqs - runmax[np.maximum(hi - 1, 0)], _I64_MAX)
    sl = np.where(has_l, starts[wl], _I64_MAX)
    el = np.where(has_l, ends[wl], _I64_MAX)
    # right flank: the first interval starting after qe
    has_r = hi < n
    wr = np.where(has_r, np.minimum(hi, n - 1), 0)
    dist_r = np.where(has_r, starts[wr] - rqe, _I64_MAX)
    sr = np.where(has_r, starts[wr], _I64_MAX)
    er = np.where(has_r, ends[wr], _I64_MAX)
    # lexicographic min of (dist, start, end) across the flanks
    take_left = (dist_l < dist_r) | (
        (dist_l == dist_r) & ((sl < sr) | ((sl == sr) & (el <= er)))
    )
    winner = np.where(take_left, wl, wr)
    valid_any = has_l | has_r
    take[rest[valid_any]] = winner[valid_any]
    return take


def _nearest_take_flagged(starts, ends, runmax, qs, qe, flags) -> np.ndarray:
    """Flagged variant of :func:`_nearest_take`: evaluate the three
    candidate classes independently (Overlap / Upstream / Downstream) and
    take the lexicographic ``(distance, start, end)`` minimum over the
    classes the flags keep. All vectorized; the extra end-sorted structure
    for the strict-upstream query is built only when needed."""
    io, iu, idn = flags
    n, m = len(starts), len(qs)
    take = np.full(m, -1, dtype=np.int64)
    INF = _I64_MAX
    best_d = np.full(m, INF, dtype=np.int64)
    best_s = np.full(m, INF, dtype=np.int64)
    best_e = np.full(m, INF, dtype=np.int64)
    best_p = np.full(m, -1, dtype=np.int64)

    def consider(d, s, e, p):
        better = (p >= 0) & (
            (d < best_d)
            | ((d == best_d) & ((s < best_s) | ((s == best_s) & (e < best_e))))
        )
        best_d[better] = d[better]
        best_s[better] = s[better]
        best_e[better] = e[better]
        best_p[better] = p[better]

    if not io:
        # Overlap class: candidates arrive in ascending sorted position per
        # probe, so the first per probe is the deterministic lex-min
        cand, probe_rep = _probe_spans(starts, ends, runmax, qs, qe)
        if cand.size:
            uniq, first_idx = np.unique(probe_rep, return_index=True)
            pos = cand[first_idx]
            d = np.full(m, INF, dtype=np.int64)
            s = np.full(m, INF, dtype=np.int64)
            e = np.full(m, INF, dtype=np.int64)
            p = np.full(m, -1, dtype=np.int64)
            d[uniq] = 0
            s[uniq] = starts[pos]
            e[uniq] = ends[pos]
            p[uniq] = pos
            consider(d, s, e, p)
    if not iu:
        # Upstream class (end < qs): max end wins (min distance); ties on
        # end break by min start via the first occurrence in (end, start)
        # lexicographic order
        eorder = np.lexsort((starts, ends))
        e_sorted = ends[eorder]
        new_e = np.concatenate(([True], e_sorted[1:] != e_sorted[:-1]))
        first_eq = np.maximum.accumulate(
            np.where(new_e, np.arange(n), -1)
        )
        j = np.searchsorted(e_sorted, qs, side="left") - 1
        has = j >= 0
        jj = np.maximum(j, 0)
        pos_u = eorder[first_eq[jj]]
        d = np.where(has, qs - e_sorted[jj], INF)
        s = np.where(has, starts[pos_u], INF)
        e = np.where(has, ends[pos_u], INF)
        p = np.where(has, pos_u, -1)
        consider(d, s, e, p)
    if not idn:
        # Downstream class (start > qe): first start after qe; ties on start
        # break by min end (arrays are (start, end)-sorted)
        hi = np.searchsorted(starts, qe, side="right")
        has = hi < n
        pos_d = np.minimum(hi, n - 1)
        d = np.where(has, starts[pos_d] - qe, INF)
        s = np.where(has, starts[pos_d], INF)
        e = np.where(has, ends[pos_d], INF)
        p = np.where(has, pos_d, -1)
        consider(d, s, e, p)
    good = best_p >= 0
    take[good] = best_p[good]
    return take


def _nearest_take_topk(
    starts: np.ndarray,
    ends: np.ndarray,
    runmax: np.ndarray,
    qs: np.ndarray,
    qe: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """k-nearest kernel (bedtools ``closest -k`` semantics): for each probe
    return the positions (into the (start,end)-lex-sorted build arrays) of
    the up-to-k best build intervals by ``(distance, start, end)``, ties
    exact.

    Exactness: the true top-k is always contained in three candidate sets,
    each a CONTIGUOUS slice of a purpose-sorted order —

    - overlaps (distance 0): ascending positions from the span probe are
      already (start, end)-lex order, so the first k per probe are the k
      lex-least overlaps;
    - left flank (end < qs, distance qs-end): the first k entries past the
      cut in the ``(end desc, start asc)`` order — contiguous because
      entries with ``end >= qs`` form a prefix of that order;
    - right flank (start > qe, distance start-qe): the first k entries past
      ``searchsorted(starts, qe+1)`` in start-lex order.

    The three sets are disjoint by construction; a rowwise lexsort of the
    ≤3k merged candidates yields the exact top-k. Returns ``(top, valid)``
    of shape (m, k): sorted-array positions and a validity mask.
    """
    n, m = len(starts), len(qs)
    top = np.full((m, k), -1, dtype=np.int64)
    if n == 0 or m == 0:
        return top, np.zeros((m, k), dtype=bool)
    cand = np.full((m, 3 * k), -1, dtype=np.int64)
    oc, op = _probe_spans(starts, ends, runmax, qs, qe)
    if oc.size:
        counts = np.bincount(op, minlength=m)
        offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
        ranks = np.arange(len(op)) - offsets[op]
        mask = ranks < k
        cand[op[mask], ranks[mask]] = oc[mask]
    # left flank: (end desc, start asc) order; prefix = end >= qs
    order_left = np.lexsort((starts, -ends))
    neg_e_desc = -ends[order_left]
    p = np.searchsorted(neg_e_desc, 1 - qs, side="left")
    lf = p[:, None] + np.arange(k)[None, :]
    ok_lf = lf < n
    cand[:, k:2 * k] = np.where(ok_lf, order_left[np.minimum(lf, n - 1)], -1)
    # right flank: start-lex order; suffix = start > qe
    h = np.searchsorted(starts, qe + 1, side="left")
    rf = h[:, None] + np.arange(k)[None, :]
    ok_rf = rf < n
    cand[:, 2 * k:] = np.where(ok_rf, np.minimum(rf, n - 1), -1)

    safe = np.maximum(cand, 0)
    cs, ce = starts[safe], ends[safe]
    dist = np.where(
        cs > qe[:, None], cs - qe[:, None],
        np.where(ce < qs[:, None], qs[:, None] - ce, 0),
    )
    invalid = cand < 0
    dist = np.where(invalid, _I64_MAX, dist)
    cs = np.where(invalid, _I64_MAX, cs)
    ce = np.where(invalid, _I64_MAX, ce)
    ordm = np.lexsort((ce, cs, dist), axis=-1)
    top = np.take_along_axis(cand, ordm, axis=1)[:, :k]
    topd = np.take_along_axis(dist, ordm, axis=1)[:, :k]
    return top, topd < _I64_MAX


def _nearest_out_schema(left_fields, right_fields) -> StructType:
    # left fields forced nullable: probe groups with no build rows emit
    # null-left padding (integration_test.rs:385-394)
    return StructType(
        [StructField(f.name, f.dataType, True) for f in left_fields]
        + list(right_fields)
    )


def _nearest_rows(idx_map: dict, probe, keys, k, flags):
    """``(build rows, probe rows)`` of the output for the rows of an Arrow
    ``probe`` table or batch against ``idx_map`` (:func:`_lex_index`
    arrays per key tuple): each probe's hits, then one null build row for
    every probe row without a hit, the reference's null-left padding for
    probe rows whose key group has no build rows
    (integration_test.rs:385-394). A null build row takes nulls."""
    m = probe.num_rows
    # int64 needles: the kernels subtract bounds for distances
    qs = _ints(probe, _RS).astype(np.int64)
    qe = _ints(probe, _RE).astype(np.int64)
    hit_probe: list[np.ndarray] = [_EMPTY_I64]
    hit_row: list[np.ndarray] = [_EMPTY_I64]
    for key, pos in _key_groups(probe, keys, (_RS, _RE)):
        entry = idx_map.get(key)
        if entry is None:
            continue
        starts, ends, runmax, argmax_first, row_idx = entry
        if k == 1:
            take = _nearest_take(
                starts, ends, runmax, argmax_first, qs[pos], qe[pos], flags
            )
            good = take >= 0
            hit_probe.append(pos[good])
            hit_row.append(row_idx[take[good]])
        else:
            top, valid = _nearest_take_topk(starts, ends, runmax, qs[pos], qe[pos], k)
            flat = valid.ravel()
            hit_probe.append(np.repeat(pos, k)[flat])
            hit_row.append(row_idx[top.ravel()[flat]])
    hits = np.concatenate(hit_probe)
    miss = np.flatnonzero(np.bincount(hits, minlength=m) == 0)
    rows = np.concatenate([*hit_row, np.zeros(len(miss), np.int64)])
    b_idx = pa.array(rows, mask=np.arange(len(rows)) >= len(hits))
    return b_idx, np.concatenate([hits, miss])


def _group_key(col, dtype, other):
    """The cogroup key for one side of an equi-key pair. The cogroup
    partitions by the key's hash but meets groups by ordering, and hashes
    -0.0 and 0.0, or one value in two integral or decimal widths, apart:
    so -0.0 becomes 0.0 and a pair of differing widths is cast to the one
    type Spark's join compares them in."""
    if isinstance(dtype, (FloatType, DoubleType)):
        return F.when(col == 0, F.lit(0).cast(dtype)).otherwise(col)
    if dtype == other:
        return col
    if isinstance(dtype, DecimalType):
        scale = max(dtype.scale, other.scale)
        digits = max(dtype.precision - dtype.scale, other.precision - other.scale)
        return col.cast(DecimalType(min(38, digits + scale), scale))
    return col.cast(LongType()) if isinstance(dtype, IntegralType) else col


def _partitioned_nearest(lb, rb, l_keys, r_keys, left_fields, right_fields,
                         k=1, flags=None, *, conf: SequilaConf):
    """Cogroup nearest: the Partitioned-mode analogue.

    Keyed: shuffles both sides once on the equi-keys; each group runs the
    ``index`` kernels on its own rows — no driver collect, no broadcast.
    SQL equality never matches a null key, so build rows with one are
    dropped (NaN keys stay: Spark's equality holds NaN = NaN); a probe
    group with no build rows emits null-left rows.

    Keyless: C chunks of the build, C from its partition count and
    ``defaultParallelism``, each cogrouped with a copy of every probe row
    under one probe id; per probe id the ``k`` least ``(distance, start,
    end)`` candidates win, or one null-left row when no chunk has one.
    """
    left_cols, right_cols = _names(left_fields), _names(right_fields)
    out_cols = [*left_cols, *right_cols]
    spark = lb.sparkSession
    if l_keys:
        for c in l_keys:
            lb = lb.where(lb[c].isNotNull())
        lt = {f.name: f.dataType for f in lb.schema.fields}
        rt = {f.name: f.dataType for f in rb.schema.fields}
        l_group = [_group_key(lb[a], lt[a], rt[b]) for a, b in zip(l_keys, r_keys)]
        r_group = [_group_key(rb[b], rt[b], lt[a]) for a, b in zip(l_keys, r_keys)]
    else:
        cap = conf.max_broadcast_build_rows
        if cap and cap > 0 and rb.limit(cap + 1).count() > cap:
            raise BuildSideTooLargeError(
                f"nearest_join without equi-keys over a build side above "
                f"spark.sequila.maxBroadcastBuildRows ({cap}) copies every "
                f"probe row to each build chunk, and the probe side has more "
                f"than {cap} rows too; raise the cap or join on a key."
            )
        chunks = max(1, min(num_partitions(lb), spark.sparkContext.defaultParallelism))
        lb = lb.withColumn(_CHUNK, (F.monotonically_increasing_id() % chunks).cast("int"))
        rb = rb.withColumn(_PID, F.monotonically_increasing_id()).withColumn(
            _CHUNK, F.explode(F.sequence(F.lit(0), F.lit(chunks - 1)))
        )
        l_group, r_group = [_CHUNK], [_CHUNK]
        # both sides' bounds rank the candidates; the probe id groups them
        left_cols = [*left_cols, _LS, _LE]
        right_cols = [*right_cols, _RS, _RE, _PID]

    names = [*left_cols, *right_cols]

    def nearest_group(build: pa.Table, probe: pa.Table) -> pa.Table:
        b_idx, p_idx = _nearest_rows(_lex_index(build, []), probe, [], k, flags)
        left = build.select(left_cols).take(b_idx)
        right = probe.select(right_cols).take(p_idx)
        return pa.Table.from_arrays([*left.columns, *right.columns], names=names)

    lf = {f.name: f for f in lb.schema.fields}
    rf = {f.name: f for f in rb.schema.fields}
    out_schema = _nearest_out_schema([lf[c] for c in left_cols],
                                     [rf[c] for c in right_cols])
    out = (
        lb.groupBy(*l_group)
        .cogroup(rb.groupBy(*r_group))
        .applyInArrow(nearest_group, schema=out_schema)
    )
    if not l_keys:
        ls, le = F.col(_LS), F.col(_LE)
        # null-left rows rank last, so one ranks first only when no chunk
        # had a candidate
        rank = F.row_number().over(Window.partitionBy(_PID).orderBy(
            ls.isNull(), F.expr(_distance_sql(_LS, _LE, _RS, _RE)), ls, le,
        ))
        out = out.withColumn("__sq_rn", rank).where(
            (F.col("__sq_rn") <= k) & (ls.isNotNull() | (F.col("__sq_rn") == 1))
        )
    return out.select(*out_cols)


def _index_nearest(lb, rb, l_keys, r_keys, left_fields, right_fields,
                   k=1, flags=None, *, conf: SequilaConf):
    left_cols, right_cols = _names(left_fields), _names(right_fields)
    # overlap_join's index over the same build frame: k and the ignore_*
    # flags act in the probe, so one entry serves every call over lb
    bc, _ = interval_index(lb, l_keys, conf)
    out_schema = _nearest_out_schema(left_fields, right_fields)
    names = [*left_cols, *right_cols]
    rk_list = list(r_keys)
    max_batch = _max_batch(conf)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx_map, build = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b_idx, p_idx = _nearest_rows(idx_map, batch, rk_list, k, flags)
            yield from _emit(
                build, batch.select(right_cols), b_idx, p_idx, names, max_batch
            )

    # round-robin split of a single-partition probe scan: mapInArrow gets
    # real parallelism; every task shares the one broadcast build
    return ensure_parallel(rb, []).mapInArrow(probe, schema=out_schema)
