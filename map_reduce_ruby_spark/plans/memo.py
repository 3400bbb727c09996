"""Bounded LRU session memo for cached plan artifacts.

The catalog's trained-artifact entries (IVF/PQ cells, BPE vocab, the SNM
shingle table, ...) cache one DataFrame (or tuple of frames) per
(applicationId, sf_dir) so repeated catalog runs in one session don't
retrain. Each site used to keep its own dict with clear-ALL eviction past
a size bound — correct but wasteful (evicting 8 live entries to admit a
9th) and duplicated six times. This helper is the one implementation:
true LRU (evict the least-recently-USED entry only), with an ``unpersist``
hook so evicted entries release their pinned ``.cache()`` storage instead
of outliving their dict slot.

Capacity default 8: a session touches a handful of sf_dirs at most, and
the memo must stay far below executor storage so eviction is about
hygiene, not pressure. The generation store's attach memo
(operators/artifact_store._ATTACH) is one more instance, at capacity 16,
and so is the table schema memo (sources/tables._SCHEMAS), at 64.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable


class LruMemo:
    """get_or_build with least-recently-used eviction and a release hook.
    Thread-safe: the lookup and the insert each run under a lock (the
    build itself runs outside it, so a slow build blocks no reader)."""

    def __init__(
        self,
        capacity: int = 8,
        unpersist: Callable[[Any], None] | None = None,
    ):
        if capacity < 1:
            raise ValueError(f"capacity must be >= 1, got {capacity}")
        self._entries: OrderedDict = OrderedDict()
        self._capacity = capacity
        self._unpersist = unpersist
        self._lock = threading.Lock()

    def get_or_build(self, key: Any, build: Callable[[], Any]) -> Any:
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
        value = build()  # build BEFORE evicting: a failed build evicts nothing
        evicted = []
        with self._lock:
            if key in self._entries:  # a concurrent build landed first: keep it
                evicted.append(value)
                value = self._entries[key]
            self._entries[key] = value
            self._entries.move_to_end(key)
            while len(self._entries) > self._capacity:
                evicted.append(self._entries.popitem(last=False)[1])
        if self._unpersist is not None:
            for old in evicted:
                self._unpersist(old)
        return value

    def get(self, key: Any) -> Any:
        """Return (and LRU-touch) an existing entry; KeyError if absent.
        For sites whose build path needs pre-checks (e.g. skip-memo on an
        empty corpus) before get_or_build."""
        with self._lock:
            self._entries.move_to_end(key)
            return self._entries[key]

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, key: Any) -> bool:
        return key in self._entries
