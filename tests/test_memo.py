"""LruMemo (plans/memo.py): bounded LRU with release hook — the shared
session-memo machinery behind the IVF/PQ/SQ8/BPE/SNM caches and the
generation store's attach memo."""

from __future__ import annotations

import pytest

from map_reduce_ruby_spark.plans.memo import LruMemo


def test_lru_evicts_only_least_recently_used():
    released = []
    m = LruMemo(capacity=3, unpersist=released.append)
    for k in "abc":
        m.get_or_build(k, lambda k=k: k.upper())
    m.get(
        "a"
    )  # touch: 'a' is now most-recent; 'b' is the LRU entry
    m.get_or_build("d", lambda: "D")
    assert released == ["B"], "only the LRU entry is released"
    assert "a" in m and "c" in m and "d" in m and "b" not in m
    assert len(m) == 3


def test_failed_build_evicts_nothing():
    released = []
    m = LruMemo(capacity=1, unpersist=released.append)
    m.get_or_build("a", lambda: "A")
    with pytest.raises(RuntimeError):
        m.get_or_build("b", lambda: (_ for _ in ()).throw(RuntimeError("boom")))
    assert released == [] and "a" in m


def test_hit_does_not_rebuild():
    calls = []
    m = LruMemo(capacity=2)
    m.get_or_build("k", lambda: calls.append(1) or "v")
    assert m.get_or_build("k", lambda: calls.append(2) or "v2") == "v"
    assert calls == [1]


def test_get_missing_raises_and_capacity_guard():
    m = LruMemo(capacity=2)
    with pytest.raises(KeyError):
        m.get("missing")
    with pytest.raises(ValueError):
        LruMemo(capacity=0)


def test_concurrent_get_or_build_is_safe_and_releases_losers():
    """Threads hammering a tiny memo (more threads than cores, a short
    switch interval): no lookup or eviction races into a KeyError, the
    bound holds, and every built value is either live in the memo or was
    released — none is leaked by a concurrent same-key build."""
    import sys
    import threading

    released = []
    built = []
    lock = threading.Lock()
    m = LruMemo(capacity=2, unpersist=released.append)

    def build(k):
        v = object()
        with lock:
            built.append(v)
        return v

    errors = []

    def worker(seed):
        try:
            for i in range(2000):
                k = (seed * 7 + i) % 5
                m.get_or_build(k, lambda k=k: build(k))
                if i % 3 == 0:
                    try:
                        m.get(k)
                    except KeyError:
                        pass  # evicted by another thread: a legitimate miss
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(m) <= 2
    live = {id(m.get(k)) for k in range(5) if k in m}
    assert {id(v) for v in built} == live | {id(v) for v in released}
    assert len(released) == len(built) - len(live)
