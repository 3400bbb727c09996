"""Key semantics: canonical JSON encoding + Ruby-comparable total order.

The reference restricts keys to strings, numbers, and (nested) arrays of those
(reference README.md:122-140); incomparable keys raise ArgumentError at merge
time via its SortKey wrapper (reference lib/map_reduce/priority_queue.rb:6-22).
This module reproduces both rules:

- ``canonical_json(key)`` matches Ruby ``JSON.generate(key)`` for the legal key
  domain (no spaces, insertion order, unicode unescaped) — the partitioner
  hashes this exact byte string (reference lib/map_reduce/hash_partitioner.rb:29).
- ``ruby_cmp(a, b)`` implements Ruby ``<=>``: numbers numerically (2 < 11),
  strings bytewise, arrays element-wise lexicographic; mixed/illegal types
  raise ``IncomparableKeyError`` (the ArgumentError equivalent).
- ``SortKey`` wraps a key for use as an RDD sort key; equality/hash are
  consistent with ``ruby_cmp`` (1 == 1.0 groups together, as in Ruby).
"""

from __future__ import annotations

import json
from functools import total_ordering
from typing import Any


class IncomparableKeyError(TypeError):
    """Keys that cannot be mutually ordered under Ruby <=> semantics.

    Mirrors the ArgumentError raised by the reference
    (lib/map_reduce/priority_queue.rb:18, spec/map_reduce/reducer_spec.rb:15-35).
    """


def canonical_json(key: Any) -> str:
    """Byte-compatible with Ruby ``JSON.generate`` on the legal key domain.

    Ruby emits no whitespace, preserves insertion order, does not escape
    non-ASCII, and renders floats with a trailing ``.0`` when integral —
    all matched by ``json.dumps`` with these options for strings / ints /
    floats / (nested) arrays. Pinned by tests/test_keys.py.
    """
    return json.dumps(key, separators=(",", ":"), ensure_ascii=False)


def _type_rank(x: Any) -> str:
    # bool is an int subclass in Python but not a legal/comparable key in the
    # reference (CHANGELOG.md:37 documents nil/true/false as problematic).
    if isinstance(x, bool):
        return "illegal"
    if isinstance(x, (int, float)):
        return "num"
    if isinstance(x, str):
        return "str"
    if isinstance(x, (list, tuple)):
        return "arr"
    return "illegal"


def ruby_cmp(a: Any, b: Any) -> int:
    """Ruby ``<=>`` over the legal key domain; raises on incomparable pairs."""
    ra, rb = _type_rank(a), _type_rank(b)
    if ra == "illegal" or rb == "illegal" or ra != rb:
        raise IncomparableKeyError(
            f"keys are not comparable: {a!r} ({type(a).__name__}) <=> "
            f"{b!r} ({type(b).__name__})"
        )
    if ra == "arr":
        # Element-wise; shorter array wins ties (Ruby Array#<=>).
        for xa, xb in zip(a, b):
            c = ruby_cmp(xa, xb)
            if c != 0:
                return c
        return (len(a) > len(b)) - (len(a) < len(b))
    # num / str: Python's native comparison matches Ruby's for these types.
    return (a > b) - (a < b)


def _normalize(x: Any) -> Any:
    """Hash/equality-normal form consistent with ruby_cmp (1 == 1.0)."""
    if isinstance(x, bool):
        return x
    if isinstance(x, (list, tuple)):
        return tuple(_normalize(e) for e in x)
    return x  # Python guarantees hash(1) == hash(1.0) for equal values


def _native(a: Any, b: Any) -> bool:
    """Both keys exactly ``str``, or both exactly ``int``/``float``: then
    Python's own ``<`` and ``==`` agree with ``ruby_cmp`` and ``_normalize``
    (UTF-8 byte order is code-point order, so Ruby's bytewise string order
    is Python's). Exact type checks keep ``bool`` and every other pair on
    the general path, which raises where the reference raises."""
    ta, tb = type(a), type(b)
    if ta is str:
        return tb is str
    return (ta is int or ta is float) and (tb is int or tb is float)


@total_ordering
class SortKey:
    """Total-order wrapper used as the RDD sort/group key.

    Comparisons funnel through ruby_cmp and therefore raise
    IncomparableKeyError exactly where the reference raises ArgumentError —
    lazily, at the first comparison of an illegal pair (SURVEY.md §7.4.5).
    Scalar pairs of one kind compare natively (``_native``): spill sorts and
    merges compare keys at every step.
    """

    __slots__ = ("key",)

    def __init__(self, key: Any):
        self.key = key

    def __lt__(self, other: "SortKey") -> bool:
        a, b = self.key, other.key
        if _native(a, b):
            return a < b
        return ruby_cmp(a, b) < 0

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, SortKey):
            return NotImplemented
        a, b = self.key, other.key
        if _native(a, b):
            return a == b
        # Equality is used by shuffle grouping and must stay total (no raise):
        # normalized-form equality matches Ruby == (1 == 1.0, element-wise
        # arrays, distinct types simply unequal). Ordering (__lt__) is where
        # incomparable pairs raise, same as the reference's merge path.
        return _normalize(a) == _normalize(b)

    def __hash__(self) -> int:
        key = self.key
        if type(key) in (str, int, float):
            return hash(key)
        return hash(_normalize(key))

    def __repr__(self) -> str:
        return f"SortKey({self.key!r})"
