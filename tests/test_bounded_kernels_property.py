"""Property-based tests for the bounded-state merge kernels.

The kernels (streaming/bounded.py) ARE the state bound of the custom
stateful operator; these properties pin them against a brute-force fold
over arbitrary batch splits — the exact incremental-vs-batch equivalence
the streaming engine relies on, checked over thousands of random inputs
instead of a handful of fixtures.
"""

from __future__ import annotations

import math
from functools import reduce

from hypothesis import given, settings
from hypothesis import strategies as st

from ksql_spark.streaming.bounded import (
    SCALAR_KINDS,
    _merge_scalar,
    _sort_key,
    combine,
    hist_top_buckets,
    merge_collect,
    merge_spacesaving,
    merge_topk,
)

finite_doubles = st.floats(allow_nan=False, allow_infinity=False, width=64)
doubles_with_nan = st.floats(allow_infinity=False, width=64)  # NaN allowed
batches = st.lists(st.lists(finite_doubles, max_size=30), max_size=10)


@settings(max_examples=300, deadline=None)
@given(batches, st.integers(min_value=1, max_value=8))
def test_topk_fold_equals_global_topk(bs, k):
    state: list = []
    for b in bs:
        state = merge_topk(state, b, k, distinct=False)
        assert len(state) <= k
    allv = [v for b in bs for v in b]
    assert state == sorted(allv, reverse=True)[:k]


@settings(max_examples=300, deadline=None)
@given(batches, st.integers(min_value=1, max_value=8))
def test_topk_distinct_fold_equals_global(bs, k):
    state: list = []
    for b in bs:
        state = merge_topk(state, b, k, distinct=True)
        assert len(state) <= k
    distinct = sorted(set(v for b in bs for v in b), reverse=True)[:k]
    assert state == distinct


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(doubles_with_nan, max_size=20), max_size=8),
       st.integers(min_value=1, max_value=5))
def test_topk_nan_is_greatest_and_order_total(bs, k):
    state: list = []
    for b in bs:
        state = merge_topk(state, b, k, distinct=False)
    allv = [v for b in bs for v in b]
    expect = sorted(allv, key=_sort_key, reverse=True)[:k]

    def canon(xs):
        return ["nan" if isinstance(x, float) and x != x else x for x in xs]

    assert canon(state) == canon(expect)
    # NaN, when present, leads the list (Spark: NaN is the greatest double)
    if any(isinstance(v, float) and v != v for v in allv):
        assert state and state[0] != state[0]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(st.integers(-100, 100), max_size=25), max_size=8),
       st.integers(min_value=1, max_value=10))
def test_collect_first_n_cap(bs, limit):
    state: list = []
    for b in bs:
        state = merge_collect(state, b, limit, is_set=False)
        assert len(state) <= limit
    allv = [v for b in bs for v in b]
    assert state == allv[:limit]  # ksqlDB cap: FIRST limit values


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(st.integers(-20, 20), max_size=25), max_size=8),
       st.integers(min_value=1, max_value=10))
def test_collect_set_first_n_distinct(bs, limit):
    state: list = []
    for b in bs:
        state = merge_collect(state, b, limit, is_set=True)
        assert len(state) <= limit
        assert len(state) == len(set(state))  # distinct
    # first `limit` distinct values in arrival order
    seen: list = []
    for v in (v for b in bs for v in b):
        if v not in seen and len(seen) < limit:
            seen.append(v)
    assert state == seen


@settings(max_examples=200, deadline=None)
@given(st.lists(st.dictionaries(st.sampled_from([f"v{i}" for i in range(12)]),
                                st.integers(1, 50), max_size=12), max_size=10))
def test_spacesaving_exact_under_capacity(batches_):
    """With distinct values <= capacity the sketch is EXACT (every error 0)."""
    hk, hc, he = [], [], []
    truth: dict = {}
    for counts in batches_:
        for v, c in counts.items():
            truth[v] = truth.get(v, 0) + c
        hk, hc, he = merge_spacesaving(hk, hc, he, counts, capacity=16)
        assert len(hk) <= 16
    assert dict(zip(hk, hc)) == truth
    assert all(e == 0 for e in he)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.dictionaries(st.text(alphabet="abcdefgh", min_size=1, max_size=3),
                                st.integers(1, 9), max_size=20), max_size=12),
       st.integers(min_value=2, max_value=6))
def test_spacesaving_overestimate_bound(batches_, cap):
    """Over capacity the classic SpaceSaving guarantee holds: every tracked
    count is >= the true count and overestimates by at most its error slot."""
    hk, hc, he = [], [], []
    truth: dict = {}
    for counts in batches_:
        for v, c in counts.items():
            truth[v] = truth.get(v, 0) + c
        hk, hc, he = merge_spacesaving(hk, hc, he, counts, capacity=cap)
        assert len(hk) <= cap
    for v, c, e in zip(hk, hc, he):
        true = truth.get(v, 0)
        assert c >= true           # never undercounts
        assert c - e <= true       # overestimate bounded by the error slot
    # hist_top_buckets orders by (-count, value) deterministically
    bk, bc = hist_top_buckets(hk, hc, 3)
    assert list(zip(bk, bc)) == sorted(zip(hk, hc), key=lambda t: (-t[1], t[0]))[:3]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(st.integers(-10**9, 10**9), max_size=30), max_size=10))
def test_scalar_sum_count_exact_ints(bs):
    v, n = None, 0
    cv, cn = None, 0
    for b in bs:
        v, n = _merge_scalar("sum", v, n, b, is_float=False)
        _, cn = _merge_scalar("count", cv, cn, b)
    allv = [x for b in bs for x in b]
    assert cn == len(allv)
    assert v == (sum(allv) if allv else None)  # exact Python-int arithmetic


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(st.integers(-(2**55), 2**55), max_size=10), max_size=6))
def test_scalar_avg_integral_exact_above_2_53(bs):
    """ADVICE r4: integral AVG keeps the EXACT int sum in state (a running
    double sum rounds on every add); the final divide is the only rounding,
    matching Spark's native Average(Long).  Values above 2^53 would drift
    under a float accumulator."""
    v, n = None, 0
    for b in bs:
        v, n = _merge_scalar("avg", v, n, b, is_float=False)
    allv = [x for b in bs for x in b]
    if not allv:
        assert v is None and n == 0
        return
    assert isinstance(v, int) and v == sum(allv)  # exact, no float drift


def test_scalar_int_sum_overflow_raises_clear_error():
    """Int64 overflow in streaming SUM/AVG state raises the ANSI-matching
    error (ADVICE r4) instead of dying at the Arrow state-store boundary."""
    import pytest

    v, n = _merge_scalar("sum", None, 0, [2**62, 2**62 - 1], is_float=False)
    assert v == 2**63 - 1  # at the boundary: fine
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        _merge_scalar("sum", v, n, [1], is_float=False)
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        _merge_scalar("avg", -(2**62), 1, [-(2**62), -1], is_float=False)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(doubles_with_nan, max_size=20), max_size=8))
def test_scalar_min_max_nan_ordering(bs):
    mx, mxn = None, 0
    mn, mnn = None, 0
    for b in bs:
        mx, mxn = _merge_scalar("max", mx, mxn, b)
        mn, mnn = _merge_scalar("min", mn, mnn, b)
    allv = [x for b in bs for x in b]
    if not allv:
        assert mxn == mnn == 0
        return
    emax = max(allv, key=_sort_key)
    emin = min(allv, key=_sort_key)

    def eq(a, b):
        return (a != a and b != b) or a == b

    assert eq(mx, emax)  # NaN greatest: max is NaN iff any NaN present
    assert eq(mn, emin)  # min avoids NaN unless every value is NaN
    if any(x != x for x in allv):
        assert mx != mx
    if any(x == x for x in allv):
        assert mn == mn and not math.isnan(mn)


# ints beyond ±2^53 whose sum of <= 12 stays inside int64; doubles whose
# sums are exact in any order (integral values, infinities, NaN), so slot
# equality is exact for every kind
big_ints = st.integers(-(2**59), 2**59)
exact_doubles = st.one_of(
    st.integers(-(2**40), 2**40).map(float),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)


@settings(max_examples=300, deadline=None)
@given(
    st.sampled_from(SCALAR_KINDS),
    st.one_of(
        st.tuples(st.just(False), st.lists(big_ints, max_size=12)),
        st.tuples(st.just(True), st.lists(exact_doubles, max_size=12)),
    ),
    st.data(),
)
def test_combine_of_split_slots_equals_whole_fold(kind, typed_vals, data):
    """Folding each part of a random split into a slot and combining the
    slots in any order gives the slot of folding every value at once —
    the property the session kernel's interval merge relies on."""
    is_float, vals = typed_vals
    cuts = sorted(data.draw(st.lists(st.integers(0, len(vals)), max_size=4)))
    parts = [vals[a:b] for a, b in zip([0, *cuts], [*cuts, len(vals)])]
    slots = [_merge_scalar(kind, None, 0, p, is_float) for p in parts]
    order = data.draw(st.permutations(range(len(slots))))
    got = reduce(lambda a, b: combine(kind, a, b, is_float), (slots[i] for i in order))
    want = _merge_scalar(kind, None, 0, vals, is_float)

    def canon(slot):
        v, n = slot
        return ("nan" if isinstance(v, float) and v != v else v), n

    assert canon(got) == canon(want)
    assert got[1] == len(vals) and (got[0] is None) == (kind == "count" or not vals)
