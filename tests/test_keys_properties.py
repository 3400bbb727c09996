"""Property-based tests (hypothesis) for the key semantic layer: total order
laws on the legal key domain, canonical-JSON stability, partitioner range."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from map_reduce_ruby_spark.core import (
    HashPartitioner,
    Md5Partitioner,
    SortKey,
    canonical_json,
    ruby_cmp,
)
from map_reduce_ruby_spark.core.keys import IncomparableKeyError, _normalize

# Legal key domain (reference README.md:122-140): strings, numbers, and
# nested arrays of those. Finite floats only (NaN breaks every ordering).
scalars = st.one_of(
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
)
keys = st.recursive(scalars, lambda c: st.lists(c, max_size=4), max_leaves=8)
# Homogeneous comparable pairs: same shape class at every level.
num = st.one_of(
    st.integers(min_value=-(10**9), max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)
num_lists = st.lists(num, min_size=1, max_size=5)


@given(keys)
@settings(max_examples=200, deadline=None)
def test_canonical_json_roundtrip(k):
    # Compact (Ruby JSON.generate style: no spaces) and value-stable.
    s = canonical_json(k)
    assert ": " not in s and ", " not in s
    assert json.loads(s) == k


@given(num, num)
@settings(max_examples=200, deadline=None)
def test_numeric_order_matches_python(a, b):
    assert ruby_cmp(a, b) == (a > b) - (a < b)


@given(num_lists, num_lists, num_lists)
@settings(max_examples=200, deadline=None)
def test_array_order_is_total_and_transitive(a, b, c):
    xs = sorted([a, b, c], key=SortKey)
    for i in range(len(xs) - 1):
        assert ruby_cmp(xs[i], xs[i + 1]) <= 0
    # antisymmetry
    assert ruby_cmp(a, b) == -ruby_cmp(b, a)


@given(num, num)
@settings(max_examples=100, deadline=None)
def test_sortkey_equality_consistent_with_cmp(a, b):
    assert (SortKey(a) == SortKey(b)) == (ruby_cmp(a, b) == 0)
    if SortKey(a) == SortKey(b):
        assert hash(SortKey(a)) == hash(SortKey(b))


@given(keys, st.integers(min_value=1, max_value=1024))
@settings(max_examples=200, deadline=None)
def test_partitioners_in_range_and_deterministic(k, n):
    for P in (HashPartitioner, Md5Partitioner):
        p = P(n)
        assert 0 <= p(k) < n
        assert p(k) == p(k)


# Scalars of every kind, bools included (illegal keys), and nested arrays:
# SortKey's native scalar comparisons must agree with ruby_cmp/_normalize.
any_scalar = st.one_of(
    st.text(max_size=8),  # non-ASCII included
    st.integers(min_value=-(10**20), max_value=10**20),
    st.floats(allow_nan=False),
    st.booleans(),
)
any_key = st.recursive(any_scalar, lambda c: st.lists(c, max_size=3), max_leaves=6)
key_pairs = st.one_of(
    st.tuples(st.text(max_size=8), st.text(max_size=8)),
    st.tuples(st.integers(), st.integers()),
    st.tuples(st.floats(allow_nan=False), st.floats(allow_nan=False)),
    st.tuples(num, num),
    st.tuples(st.booleans(), any_scalar),
    st.tuples(any_key, any_key),
)


@given(key_pairs)
@settings(max_examples=400, deadline=None)
def test_sortkey_agrees_with_ruby_cmp_and_normalize(pair):
    a, b = pair
    ka, kb = SortKey(a), SortKey(b)
    assert (ka == kb) == (_normalize(a) == _normalize(b))
    assert hash(ka) == hash(_normalize(a))
    try:
        c = ruby_cmp(a, b)
    except IncomparableKeyError:
        with pytest.raises(IncomparableKeyError):
            ka < kb
        return
    assert (ka < kb) == (c < 0)
    assert (ka == kb) == (c == 0)


def test_sortkey_bools_and_mixed_types_still_raise():
    for a, b in ((True, False), (True, 1), (1.0, False), ("a", 1), (1, "a"), ("a", ["a"])):
        with pytest.raises(IncomparableKeyError):
            SortKey(a) < SortKey(b)
