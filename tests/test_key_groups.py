"""``_key_groups`` against a plain python grouping.

The index builds and probes group rows by their equi-keys through
``_key_groups``: dictionary codes read in place, one group code per row and
one sort. The reference below groups row by row, as SQL equality would:
a row with a null key or bound is in no group, NaN keys meet each other,
-0.0 meets 0.0, and ``sort_by`` orders each group with ties by position.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from sequila_native_spark.operators.interval_join import _NAN_KEY, _key_groups


def _canon(v):
    if isinstance(v, float):
        return _NAN_KEY if math.isnan(v) else v + 0.0  # -0.0 + 0.0 is 0.0
    return v


def _reference(data, keys, bounds, sort_by=None) -> dict:
    cols = {n: data.column(n).to_pylist() for n in (*keys, *bounds)}
    groups: dict = {}
    for i in range(data.num_rows):
        if any(cols[c][i] is None for c in (*keys, *bounds)):
            continue
        groups.setdefault(tuple(_canon(cols[k][i]) for k in keys), []).append(i)
    if sort_by is not None:
        for rows in groups.values():
            rows.sort(key=lambda i: (sort_by[i], i))
    return groups


def _grouped(data, keys, bounds, sort_by=None) -> dict:
    out = {}
    for key, pos in _key_groups(data, keys, bounds, sort_by=sort_by):
        assert key not in out, key  # one group per key
        assert pos.size, key
        out[key] = pos.tolist()
    return out


_FLOATS = st.sampled_from([0.0, -0.0, float("nan"), 1.5, -1.5, None])
_INTS = st.one_of(st.none(), st.integers(-3, 3))
_STRS = st.one_of(st.none(), st.sampled_from(["chr1", "chr2", ""]))


@st.composite
def _tables(draw):
    n = draw(st.integers(0, 40))
    keys = draw(st.sampled_from([(), ("s",), ("f",), ("s", "i"), ("f", "i"), ("s", "f", "i")]))
    col = {
        "s": pa.array(draw(st.lists(_STRS, min_size=n, max_size=n)), pa.string()),
        "i": pa.array(draw(st.lists(_INTS, min_size=n, max_size=n)), pa.int64()),
        "f": pa.array(draw(st.lists(_FLOATS, min_size=n, max_size=n)), pa.float64()),
        "b": pa.array(draw(st.lists(_INTS, min_size=n, max_size=n)), pa.int32()),
    }
    data = pa.table(col)
    if draw(st.booleans()):
        data = data.to_batches()[0] if n else pa.RecordBatch.from_pydict(
            {k: [] for k in col}, schema=data.schema)
    sort_by = None
    if draw(st.booleans()):
        # few distinct values: ties are the common case
        sort_by = np.array(draw(st.lists(st.integers(-2, 2), min_size=n, max_size=n)),
                           dtype=np.int32)
    bounds = ("b",) if draw(st.booleans()) else ()
    return data, keys, bounds, sort_by


@settings(max_examples=300, deadline=None)
@given(_tables())
def test_key_groups_matches_reference(case):
    data, keys, bounds, sort_by = case
    assert _grouped(data, keys, bounds, sort_by) == _reference(data, keys, bounds, sort_by)


def test_key_groups_all_null_and_empty():
    nulls = pa.table({"k": pa.array([None, None], pa.string()),
                      "b": pa.array([1, 2], pa.int32())})
    assert _grouped(nulls, ["k"], ["b"]) == {}
    null_bounds = pa.table({"k": ["a", "b"], "b": pa.array([None, None], pa.int32())})
    assert _grouped(null_bounds, ["k"], ["b"]) == {}
    empty = pa.table({"k": pa.array([], pa.string()), "b": pa.array([], pa.int32())})
    assert _grouped(empty, ["k"], ["b"]) == {}
    assert _grouped(empty, [], ["b"]) == {}


def test_key_groups_renumbers_past_int32():
    """70 two-valued keys: the product of the dictionary sizes passes 2^31,
    and 2^64 too, so the group codes are renumbered densely on the way.
    The groups must not change: a code that wrapped instead would lose the
    first key, which alone tells the last 10 rows from rows 10-19."""
    rng = np.random.default_rng(7)
    n, k = 200, 70
    bits = rng.integers(0, 2, size=(k, n))
    flipped = bits[:, 10:20].copy()
    flipped[0] ^= 1
    # rows 200-209 repeat rows 0-9's keys; rows 210-219 differ from rows
    # 10-19 in the first key only
    bits = np.concatenate([bits, bits[:, :10], flipped], axis=1)
    cols = {f"k{j}": pa.array(bits[j], pa.int8()) for j in range(k)}
    cols["b"] = pa.array(np.arange(n + 20), pa.int32())
    data = pa.table(cols)
    keys = [f"k{j}" for j in range(k)]
    sort_by = np.array((np.arange(n + 20) * 7919) % 5, dtype=np.int32)
    for sb in (None, sort_by):
        got = _grouped(data, keys, ["b"], sb)
        assert got == _reference(data, keys, ["b"], sb)
        assert sum(len(rows) == 2 for rows in got.values()) == 10
