"""operators/artifact_store.py unit tests (no Spark needed): the
generation store's commit protocol — atomic publish semantics, the
store-neutral vacuum's data-root discovery, and the session-safe attach
memo."""

from __future__ import annotations

import json
import os

import pytest

from map_reduce_ruby_spark.operators.artifact_store import (
    GenerationStore,
    _publish_atomic,
    vacuum_index,
)


def _stage(tmp_path, name, content="x"):
    d = tmp_path / name
    d.mkdir()
    (d / "data.txt").write_text(content)
    return str(d)


def test_publish_atomic_lands_by_one_rename(tmp_path):
    tmp = _stage(tmp_path, "stage")
    dest = str(tmp_path / "artifact")
    _publish_atomic(tmp, dest)
    assert os.path.exists(os.path.join(dest, "data.txt"))
    assert not os.path.exists(tmp)


def test_publish_atomic_keeps_valid_winner(tmp_path):
    """Content-addressed contract: the loser discards its staging copy and
    never deletes the live artifact under readers."""
    dest = _stage(tmp_path, "artifact", content="winner")
    tmp = _stage(tmp_path, "stage", content="loser")
    _publish_atomic(tmp, dest, keep_if_valid=lambda p: True)
    assert open(os.path.join(dest, "data.txt")).read() == "winner"
    assert not os.path.exists(tmp)


def test_publish_atomic_replaces_invalid_destination(tmp_path):
    dest = _stage(tmp_path, "artifact", content="torn")
    tmp = _stage(tmp_path, "stage", content="fresh")
    _publish_atomic(tmp, dest, keep_if_valid=lambda p: False)
    assert open(os.path.join(dest, "data.txt")).read() == "fresh"


def _mk_ingest(root, i, success=True):
    d = os.path.join(root, f"ingest={i}")
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("pq")
    if success:
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def test_vacuum_discovers_any_per_ingest_data_root(tmp_path):
    """The vacuum is store-neutral: data roots are discovered by layout
    (child dirs holding ingest=/.stage- entries), not by a hard-coded
    name list — a store named 'widgets' gets the same reclamation."""
    path = str(tmp_path)
    root = os.path.join(path, "widgets")
    os.makedirs(root)
    committed = _mk_ingest(root, 2)
    orphan = _mk_ingest(root, 1)  # unlisted: a crashed append's leftover
    stage = os.path.join(root, ".stage-deadbeef")
    os.makedirs(stage)
    # a non-data-root sibling must NOT be treated as a data root
    side = os.path.join(path, "centroids")
    os.makedirs(side)
    open(os.path.join(side, "_SUCCESS"), "w").close()
    with open(os.path.join(path, "_META.json"), "w") as f:
        json.dump({"format": "widget_index", "version": 1, "ingests": [2]}, f)

    removed = vacuum_index(path, grace_sec=0.0)
    assert sorted(removed) == sorted([orphan, stage])
    assert os.path.exists(committed)
    assert os.path.exists(side)


def test_vacuum_respects_grace_window(tmp_path):
    path = str(tmp_path)
    root = os.path.join(path, "cells")
    os.makedirs(root)
    _mk_ingest(root, 2)
    orphan = _mk_ingest(root, 1)
    with open(os.path.join(path, "_META.json"), "w") as f:
        json.dump({"ingests": [2]}, f)
    assert vacuum_index(path, grace_sec=3600.0) == []
    assert os.path.exists(orphan)


def test_vacuum_requires_current_layout(tmp_path):
    with pytest.raises(ValueError):
        vacuum_index(str(tmp_path), grace_sec=0.0)


def test_append_lock_steals_only_a_dead_writers_lock(tmp_path, monkeypatch):
    """A SIGKILLed writer's lock file has no heartbeat and must be broken
    after the stale window; a LIVE writer's lock (heartbeating mtime)
    must never be stolen — the acquirer times out instead."""
    import threading
    import time

    from map_reduce_ruby_spark.operators import artifact_store as ast

    root = str(tmp_path)
    lock = os.path.join(root, ast._APPEND_LOCK)

    # dead writer: stale mtime, no heartbeat -> stolen, acquire succeeds
    with open(lock, "w") as f:
        f.write("99999")
    old = time.time() - 10.0
    os.utime(lock, (old, old))
    monkeypatch.setattr(ast, "_LOCK_STALE_SEC", 1.0)
    with ast._AppendLock(root):
        assert os.path.exists(lock)  # we hold it now
    assert not os.path.exists(lock)  # released

    # live writer: heartbeat keeps mtime fresh -> acquire must TIME OUT,
    # never steal
    with open(lock, "w") as f:
        f.write("88888")
    stop = threading.Event()

    def beat():
        while not stop.wait(0.2):
            try:
                os.utime(lock)
            except OSError:
                return

    t = threading.Thread(target=beat, daemon=True)
    t.start()
    try:
        with pytest.raises(TimeoutError):
            with ast._AppendLock(root):
                pass
        assert os.path.exists(lock), "a live lock must never be stolen"
    finally:
        stop.set()
        t.join()
        os.unlink(lock)


class _Session:
    """Stands in for a SparkSession: weak-referenceable, identity-hashed."""


def test_attach_memo_is_session_safe(tmp_path):
    """A warm attach is served only to the session object it was built
    for: a replacement session — even one reusing a dead session's id()
    — misses, and the memo key holds no strong reference, so a dropped
    session can be collected while its entry is still cached."""
    import gc
    import weakref

    path = str(tmp_path)
    with open(os.path.join(path, "_META.json"), "w") as f:
        json.dump({"format": "probe", "version": 1}, f)
    store = GenerationStore("probe artifact", "write_probe", None)
    builds = []

    def scan(_data, meta):
        builds.append(meta)
        return object()

    first_session = _Session()
    first = store.load(first_session, path, scan)
    assert store.load(first_session, path, scan) is first  # warm attach
    assert len(builds) == 1

    replacement = _Session()
    assert store.load(replacement, path, scan) is not first
    assert len(builds) == 2

    dropped, dead_id = weakref.ref(first_session), id(first_session)
    del first_session
    gc.collect()
    assert dropped() is None, "the memo key kept a dropped session alive"
    # a new session that lands on the dead one's address still misses; the
    # allocator hands that address out only after the free blocks of the
    # same size ahead of it, and a long test process has over a thousand
    spares, reused = [], None
    while reused is None and len(spares) < 100_000:
        spares.append(_Session())
        if id(spares[-1]) == dead_id:
            reused = spares[-1]
    assert reused is not None, "no replacement session reused the dead id"
    assert store.load(reused, path, scan) is not first
    assert len(builds) == 3
