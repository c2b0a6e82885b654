"""Interval semantics shared by the join operators.

Reference semantics (``src/physical_planner/intervals.rs``):

- Intervals are **closed / end-inclusive**: ``[ls, le]`` overlaps ``[rs, re]``
  iff ``ls <= re AND le >= rs`` (``superintervals/README.md:22``).
- Strict predicates are normalized to inclusive by subtracting 1 from the
  bound — ``a.s < b.e`` ⇒ ``a.s <= b.e - 1`` (``intervals.rs:67-69``, applied
  at ``:99,109,119,129``). Valid for integer coordinates only.
- Bounds are coerced to Int32 at execution time and out-of-range values are a
  **runtime error**, not a silent wrap (``interval_join.rs:1661-1672`` +
  overflow test ``interval_join.rs:1927-1968``).

The reference recognizes the range predicate inside a join filter with an
8-orientation parser (``intervals.rs:76-137``); at our API level the
orientation is fixed by named arguments, so the parser's job reduces to
argument validation (SURVEY.md A4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

I32_MIN = -(2**31)
I32_MAX = 2**31 - 1


@dataclass(frozen=True)
class IntervalSides:
    """Validated column names for one overlap-join invocation.

    The analogue of the reference's ``ColIntervals`` (``intervals.rs:30-44``),
    which pairs a (start, end) column expression per side. ``on`` holds
    (left_name, right_name) pairs — identical names when the caller passed
    plain strings.
    """

    on: tuple[tuple[str, str], ...]
    left_start: str
    left_end: str
    right_start: str
    right_end: str
    # (left name, left type, right name, right type) for every key pair whose
    # types fall in different families (see :func:`_key_family`): Spark's
    # join coerces such pairs (``1 = '1'``), the index kernels' dict lookups
    # cannot, so those kernels must not run on them
    mixed_keys: tuple[tuple[str, str, str, str], ...] = ()


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _key_family(dtype: str) -> str:
    """Family of a Spark type name. Within one family, key values that
    Spark's ``=`` finds equal are also equal as python dict keys, so the
    index kernels' lookups agree with the join; across families Spark
    coerces (``1 = '1'``) and a lookup cannot. All integral widths are one
    family, all decimals another; any other type is its own family."""
    if dtype in _INTEGRAL_TYPES:
        return "integral"
    if dtype.startswith("decimal"):
        return "decimal"
    return dtype


def validate_sides(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | tuple[str, ...] | str | None,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
) -> IntervalSides:
    """Validate columns exist and bounds are integral, and record the key
    pairs whose types are in different families (``mixed_keys``).

    Rejecting non-column bound expressions mirrors the reference parser
    rejecting compound expressions like ``(b.e - a.s) >= a.s``
    (``intervals.rs:48,54``, test ``:507-512``) — callers pre-compute such
    expressions into columns instead.
    """
    if on is None:
        keys: tuple[tuple[str, str], ...] = ()
    elif isinstance(on, str):
        keys = ((on, on),)
    else:
        keys = tuple((k, k) if isinstance(k, str) else (k[0], k[1]) for k in on)

    ltypes = dict(left.dtypes)
    rtypes = dict(right.dtypes)
    for lk, rk in keys:
        if lk not in ltypes:
            raise ValueError(f"equi-key column {lk!r} not found on left side")
        if rk not in rtypes:
            raise ValueError(f"equi-key column {rk!r} not found on right side")
    for side, types, cols in (
        ("left", ltypes, (left_start, left_end)),
        ("right", rtypes, (right_start, right_end)),
    ):
        for c in cols:
            if c not in types:
                raise ValueError(f"{side} interval column {c!r} not found")
            if types[c] not in _INTEGRAL_TYPES:
                raise ValueError(
                    f"{side} interval column {c!r} has type {types[c]}; interval "
                    "coordinates must be integral (closed-interval semantics and "
                    "strict-inequality normalization are integer-only, "
                    "intervals.rs:67-69)"
                )
    mixed = tuple(
        (lk, ltypes[lk], rk, rtypes[rk])
        for lk, rk in keys
        if _key_family(ltypes[lk]) != _key_family(rtypes[rk])
    )
    return IntervalSides(keys, left_start, left_end, right_start, right_end, mixed)


def overlap_predicate(
    l_start: Column, l_end: Column, r_start: Column, r_end: Column
) -> Column:
    """Closed-interval overlap: ``ls <= re AND le >= rs``."""
    return (l_start <= r_end) & (l_end >= r_start)


def fraction_predicate(
    l_start: Column,
    l_end: Column,
    r_start: Column,
    r_end: Column,
    *,
    min_frac_left: float | None = None,
    min_frac_right: float | None = None,
    reciprocal: bool = False,
    either: bool = False,
) -> Column | None:
    """Minimum-overlap-fraction post-filter (bedtools ``-f/-F/-r/-e``).

    For an overlapping pair, the clipped overlap length is
    ``least(le, re) − greatest(ls, rs) + 1``; the predicate requires

    - ``min_frac_left`` (bedtools ``-f``): overlap ≥ fraction of the LEFT
      interval's length;
    - ``min_frac_right`` (``-F``): overlap ≥ fraction of the RIGHT length;
    - ``reciprocal=True`` (``-r``): apply ``min_frac_left`` to BOTH sides;
    - ``either=True`` (``-e``): satisfy at least one given fraction instead
      of all of them.

    Returns ``None`` when no fraction is requested. The comparison is
    ``overlap >= f * length`` in IEEE doubles — the identical expression any
    SQL twin can state, so results stay oracle-comparable. Fractions are
    only meaningful for pairs that already overlap; callers apply this ON
    TOP of :func:`overlap_predicate`, never instead of it.
    """
    if reciprocal:
        if min_frac_left is None:
            raise ValueError("reciprocal=True requires min_frac_left (bedtools -r needs -f)")
        if min_frac_right is not None:
            raise ValueError(
                "reciprocal=True derives the right fraction from min_frac_left; "
                "do not also pass min_frac_right"
            )
        min_frac_right = min_frac_left
    conds = []
    # bigint before subtracting: int32 bounds more than 2^31 apart overflow
    l_start, l_end, r_start, r_end = (
        c.cast("bigint") for c in (l_start, l_end, r_start, r_end)
    )
    ov = (F.least(l_end, r_end) - F.greatest(l_start, r_start) + 1).cast("double")
    for frac, length in (
        (min_frac_left, l_end - l_start + 1),
        (min_frac_right, r_end - r_start + 1),
    ):
        if frac is None:
            continue
        if not (0.0 < float(frac) <= 1.0):
            raise ValueError(f"overlap fractions must be in (0, 1], got {frac}")
        conds.append(ov >= F.lit(float(frac)) * length.cast("double"))
    if not conds:
        if either:
            raise ValueError("either=True requires at least one overlap fraction")
        return None
    out = conds[0]
    for c in conds[1:]:
        out = (out | c) if either else (out & c)
    return out


def _proj(df, start, end, new_s, new_e):
    """Replace the bound columns with new expressions, other columns kept."""
    from pyspark.sql import functions as F

    cols = []
    for c in df.columns:
        if c == start:
            cols.append(new_s.cast(df.schema[start].dataType).alias(start))
        elif c == end:
            cols.append(new_e.cast(df.schema[end].dataType).alias(end))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def slop_intervals(
    df,
    both: int = 0,
    *,
    left: int = 0,
    right: int = 0,
    start: str = "pos_start",
    end: str = "pos_end",
    clamp_min: int = 0,
    clamp_max: int | None = None,
):
    """bedtools ``slop``: widen each interval by ``both`` (or asymmetric
    ``left``/``right``) bases, clamped to ``[clamp_min, clamp_max]``.

    Pure Catalyst projection — codegen, no shuffle, scales trivially.
    """
    from pyspark.sql import functions as F

    lo = F.col(start) - F.lit(both + left)
    hi = F.col(end) + F.lit(both + right)
    lo = F.greatest(lo, F.lit(clamp_min))
    if clamp_max is not None:
        hi = F.least(hi, F.lit(clamp_max))
    return _proj(df, start, end, lo, hi)


def shift_intervals(
    df,
    amount: int,
    *,
    start: str = "pos_start",
    end: str = "pos_end",
    clamp_min: int = 0,
    clamp_max: int | None = None,
):
    """bedtools ``shift``: translate intervals by ``amount`` (may be
    negative), clamping both bounds."""
    from pyspark.sql import functions as F

    lo = F.greatest(F.col(start) + F.lit(amount), F.lit(clamp_min))
    hi = F.col(end) + F.lit(amount)
    if clamp_max is not None:
        hi = F.least(hi, F.lit(clamp_max))
    hi = F.greatest(hi, lo)  # fully-clamped intervals collapse, not invert
    return _proj(df, start, end, lo, hi)


def flank_intervals(
    df,
    size: int,
    *,
    side: str = "both",
    start: str = "pos_start",
    end: str = "pos_end",
    clamp_min: int = 0,
    clamp_max: int | None = None,
):
    """bedtools ``flank``: the ``size``-base closed intervals adjacent to
    each input interval (left: ``[s-size, s-1]``, right: ``[e+1, e+size]``;
    ``side='both'`` emits both rows). Degenerate (fully clamped-away) flanks
    are dropped, matching bedtools."""
    from pyspark.sql import functions as F

    if side not in ("both", "left", "right"):
        raise ValueError(f"side must be 'both'|'left'|'right', got {side!r}")
    outs = []
    if side in ("both", "left"):
        lo = F.greatest(F.col(start) - F.lit(size), F.lit(clamp_min))
        hi = F.col(start) - F.lit(1)
        outs.append(_proj(df, start, end, lo, hi))
    if side in ("both", "right"):
        lo = F.col(end) + F.lit(1)
        hi = F.col(end) + F.lit(size)
        if clamp_max is not None:
            lo = F.least(lo, F.lit(clamp_max) + F.lit(1))  # keep emptiness check
            hi = F.least(hi, F.lit(clamp_max))
        outs.append(_proj(df, start, end, lo, hi))
    out = outs[0] if len(outs) == 1 else outs[0].unionAll(outs[1])
    return out.where(F.col(end) >= F.col(start))
