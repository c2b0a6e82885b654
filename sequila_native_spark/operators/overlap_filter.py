"""Semi/anti overlap filtering — bedtools ``intersect -u`` / ``-v``.

The reference's join-type enum declares Semi/Anti
(``joins/utils.rs:496-521``) but its probe loop never implements their
emission (SURVEY.md §2A note); this operator supplies the semantics the
declaration promises, as the two most common interval-filter shapes:

- ``filter_by_overlap(df, regions)`` — keep rows of ``df`` whose interval
  overlaps at least one region (semi join);
- ``negate=True`` — keep rows overlapping NO region (anti join; blacklist
  subtraction);
- ``mark_by_overlap(df, regions)`` — keep ALL rows, adding a boolean mark
  column (the enum's LeftMark / ``EXISTS``-subquery shape).

All three are emission modes of one probe, as in the reference: each is
``count_overlaps(regions, df)`` with an internal count column, then
``count > 0``, ``count == 0`` or the mark ``count > 0``. So they run the
count family's algorithms: ``index`` (the zero-shuffle Arrow probe of the
cached count index), ``binning`` (binned pairs → per-id counts → left join
back) and the ``naive`` oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sequila_native_spark.operators.count_overlaps import count_overlaps
from sequila_native_spark.operators.interval_join import _quote

_N = "__sq_n_overlaps"


def filter_by_overlap(
    df: DataFrame,
    regions: DataFrame,
    on: list[str] | str | None = None,
    df_start: str = "pos_start",
    df_end: str = "pos_end",
    regions_start: str = "pos_start",
    regions_end: str = "pos_end",
    *,
    negate: bool = False,
    strict: bool = False,
    algorithm: str | None = None,
    bin_width: int | str | None = None,
    min_frac_df: float | None = None,
    min_frac_regions: float | None = None,
    reciprocal: bool = False,
    either: bool = False,
) -> DataFrame:
    """Keep rows of ``df`` that overlap ≥1 ``regions`` interval in their
    equi-key group (``negate=True``: keep rows overlapping none).

    Returns ``df``'s rows unchanged (schema preserved, duplicates kept).

    ``min_frac_df`` / ``min_frac_regions`` / ``reciprocal`` / ``either``:
    bedtools ``-f/-F/-r/-e`` — an overlap only qualifies when it covers at
    least the given fraction of the ``df`` row's interval (``-f``) and/or of
    the region (``-F``); ``reciprocal`` applies ``min_frac_df`` to both
    sides, ``either`` ORs the given fractions. Evaluated on the closed
    input intervals (incompatible with ``strict``). With ``negate=True``
    this is bedtools ``-v -f``: keep rows with NO qualifying overlap.

    ``algorithm``: ``binning`` (default), ``index`` (a zero-shuffle Arrow
    probe of the regions' broadcast count index; fractions, mixed key
    families and date, timestamp or decimal keys run ``binning``) or
    ``naive``.
    """
    n = _overlap_counts(
        df, regions, on, df_start, df_end, regions_start, regions_end,
        strict=strict, algorithm=algorithm, bin_width=bin_width,
        min_frac_df=min_frac_df, min_frac_regions=min_frac_regions,
        reciprocal=reciprocal, either=either,
    )
    # SQL text, not Column calls: no call-site capture on the driver
    return n.where(f"{_N} = 0" if negate else f"{_N} > 0").drop(_N)


def mark_by_overlap(
    df: DataFrame,
    regions: DataFrame,
    on: list[str] | str | None = None,
    df_start: str = "pos_start",
    df_end: str = "pos_end",
    regions_start: str = "pos_start",
    regions_end: str = "pos_end",
    *,
    mark_col: str = "has_overlap",
    strict: bool = False,
    algorithm: str | None = None,
    bin_width: int | str | None = None,
    min_frac_df: float | None = None,
    min_frac_regions: float | None = None,
    reciprocal: bool = False,
    either: bool = False,
) -> DataFrame:
    """Keep ALL rows of ``df``, adding boolean ``mark_col`` = "this row
    overlaps ≥1 ``regions`` interval in its equi-key group".

    The reference's join-type enum declares a Mark join
    (``joins/utils.rs:496-521``, DataFusion's ``EXISTS``-subquery
    decorrelation shape) that its probe loop never emits; this supplies it.
    Same arguments and algorithms as :func:`filter_by_overlap`; the mark is
    ``count > 0`` of the same per-row count.
    """
    if mark_col in df.columns:
        raise ValueError(f"output column {mark_col!r} already exists on df")
    n = _overlap_counts(
        df, regions, on, df_start, df_end, regions_start, regions_end,
        strict=strict, algorithm=algorithm, bin_width=bin_width,
        min_frac_df=min_frac_df, min_frac_regions=min_frac_regions,
        reciprocal=reciprocal, either=either,
    )
    return n.selectExpr(*map(_quote, df.columns), f"{_N} > 0 AS {_quote(mark_col)}")


def _overlap_counts(
    df, regions, on, df_start, df_end, regions_start, regions_end, *,
    min_frac_df, min_frac_regions, reciprocal, **kw,
) -> DataFrame:
    """``df`` plus the count of overlapping ``regions`` rows, with the
    filters' fraction arguments mapped onto count_overlaps' sides
    (``regions`` is the left/build side, ``df`` the right/probe side)."""
    if reciprocal:
        if min_frac_df is None:
            raise ValueError("reciprocal=True requires min_frac_df (bedtools -r needs -f)")
        if min_frac_regions is not None:
            raise ValueError(
                "reciprocal=True derives the region fraction from min_frac_df; "
                "do not also pass min_frac_regions"
            )
        min_frac_regions = min_frac_df
    return count_overlaps(
        regions, df, on, regions_start, regions_end, df_start, df_end,
        count_col=_N, min_frac_left=min_frac_regions, min_frac_right=min_frac_df,
        **kw,
    )
