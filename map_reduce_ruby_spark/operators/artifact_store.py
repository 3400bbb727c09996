"""The generation store: the one persistence protocol every trained
artifact in the engine publishes through.

Six artifacts are described as ``GenerationStore`` values and run the
protocol written once below — IVF, PQ and the composed IVFADC table
(operators/ann_index.py), the Naive Bayes model (operators/nb_store.py),
the BM25 inverted index (operators/text_index.py) and the BPE tokenizer
(operators/tokenizer_store.py). Each store module keeps only what is
specific to it: what to train or featurize, the stage writer, the meta
delta and the side-table reader. The protocol:

- **build:** stage the whole artifact under a sibling temp root, write its
  ``_META.json`` (build identity + what the data determines + committed
  ingest membership), publish by ONE rename with content-addressed
  keep-winner semantics (``_publish_atomic``) — readers never observe a
  torn artifact, and concurrent builders never delete a live one;
- **exists:** every committed ingest and side root has its ``_SUCCESS``
  marker, and the meta's identity fields match;
- **append:** under the single-writer lock (``_AppendLock``: O_EXCL lock
  file, heartbeat against false staleness, dead-writer lock breaking),
  re-read the meta, return early on an already-committed ``batch_id``,
  reclaim orphan stages, stage the batch as the next ``ingest=<n>``,
  re-check the meta (CAS, ``_verify_meta_unchanged``), publish, and commit
  through ``_write_meta_atomic`` with the batch's counters added;
- **compact / vacuum:** the OPTIMIZE/VACUUM pair for per-ingest layouts
  (``_compact_data_root`` merges committed generations into one,
  ``vacuum_index`` reclaims unlisted bytes behind a reader-drain grace
  window);
- **load:** one scan of the data root partition-filtered to the committed
  ingests, through one session-safe attach memo (``_ATTACH``).

The MinHash band index (operators/dedup_index.py) keeps its own layout —
its generations are bucketed catalog tables switched by table location,
not ``ingest=<n>`` directories — and shares only ``_AppendLock`` and
``_publish_atomic``. The protocol is the engine's analog of the
reference's persist-between-phases deploy story (reference README.md:
60-84, reducer.rb:34-42 add_chunk ingest), hardened for concurrent
writers and crash-retry.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import weakref
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_ruby_spark.plans.memo import LruMemo

_META_NAME = "_META.json"
_APPEND_LOCK = ".append.lock"
_LOCK_STALE_SEC = 3600.0  # a lock older than this belongs to a dead writer
_LOCK_HEARTBEAT_SEC = 60.0  # live holders refresh the lock mtime this often


def _read_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _META_NAME), encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _publish_atomic(tmp: str, path: str, keep_if_valid=None) -> None:
    """Atomically publish a fully-staged directory: a reader can NEVER
    observe a half-written artifact because it appears in one rename.

    When the destination already exists:

    - ``keep_if_valid(path)`` True  -> KEEP the existing artifact and
      discard the staging copy. This is correct under the module's
      content-addressed contract (a path is bound to its inputs — same
      path means a deterministic builder produced the same bytes), and it
      is what makes concurrent builders safe: the loser never deletes a
      live index out from under the winner's readers.
    - ``keep_if_valid(path)`` False (or no validator) -> the existing
      directory is a torn/stale/legacy artifact: REPLACE it. Replacement
      is not reader-safe, but nothing should be reading an invalid root.

    A publish that still cannot land RAISES and leaves the staged copy on
    disk (named in the error) — failing must never destroy BOTH the old
    artifact and the fresh build."""
    try:
        os.rename(tmp, path)
        return
    except OSError:
        pass
    if keep_if_valid is not None and keep_if_valid(path):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError as e:
        raise RuntimeError(
            f"could not publish staged artifact to {path!r}: {e}; the staged "
            f"copy is preserved at {tmp!r}"
        ) from e


class _AppendLock:
    """Single-writer guard for the maintenance critical section (O_EXCL
    lock file inside the index root). Concurrent appenders of DIFFERENT
    batches would otherwise both derive the same next ingest id from the
    same meta and one batch's committed rows would be replaced by the
    other's; a concurrent compaction would commit a meta that unlists a
    just-committed batch. Writers serialize; a LIVE holder heartbeats the
    lock's mtime (a maintenance job may legitimately run longer than the
    stale window — a Spark rewrite of a year's generations is hours), so
    only a genuinely DEAD writer's lock ages past _LOCK_STALE_SEC and is
    broken. (The reference's reducer ingest is single-consumer too —
    reducer.rb add_chunk; this makes that assumption explicit and safe
    instead of implicit and corrupting.)"""

    def __init__(self, path: str, name: str = _APPEND_LOCK):
        self._lock = os.path.join(path, name)
        self._hb_stop = None
        self._hb = None

    def __enter__(self):
        import threading
        import time

        deadline = time.time() + _LOCK_STALE_SEC
        while True:
            try:
                fd = os.open(self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self._lock)
                except OSError:
                    continue  # holder just released; retry immediately
                if age > _LOCK_STALE_SEC:
                    try:  # break a dead writer's lock
                        os.unlink(self._lock)
                    except OSError:
                        pass
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"append lock {self._lock!r} held too long"
                    ) from None
                time.sleep(0.1)

        lock_path = self._lock
        self._hb_stop = threading.Event()

        def _beat(stop=self._hb_stop):
            while not stop.wait(_LOCK_HEARTBEAT_SEC):
                try:
                    os.utime(lock_path)
                except OSError:
                    return  # lock gone: we were broken or released

        self._hb = threading.Thread(target=_beat, daemon=True)
        self._hb.start()
        return self

    def __exit__(self, *exc):
        if self._hb_stop is not None:
            self._hb_stop.set()
        try:
            os.unlink(self._lock)
        except OSError:
            pass
        return False


def _clean_orphan_stages(data_root: str) -> None:
    """Under the append lock, any .stage-* dir is a dead writer's leftover
    (the live writer is us): reclaim instead of accumulating forever."""
    try:
        names = os.listdir(data_root)
    except OSError:
        return
    for name in names:
        if name.startswith(".stage-"):
            shutil.rmtree(os.path.join(data_root, name), ignore_errors=True)


def _verify_meta_unchanged(path: str, snapshot: dict | None) -> None:
    """CAS guard before the irreversible publish/commit steps. The lock
    plus heartbeat makes a broken lock mean a dead writer — but a writer
    stalled past the stale window (VM pause) can resume after another
    writer broke its lock and committed: committing from the stale
    snapshot would then unlist (or clobber) the other writer's batch.
    Re-reading the meta right before publishing closes that window to
    milliseconds: a moved meta aborts THIS operation (its staged output
    becomes a reclaimable orphan) instead of corrupting the index."""
    if _read_meta(path) != snapshot:
        raise RuntimeError(
            f"concurrent maintenance detected on {path!r}: the index meta "
            "changed while this writer held (or believed it held) the "
            "append lock; this operation was aborted before publishing — "
            "retry it"
        )


def _write_meta_atomic(path: str, meta: dict) -> None:
    """Replace the root's _META.json in one rename — the commit point of
    every append/compact/vacuum meta rewrite."""
    tmp = os.path.join(path, f".{_META_NAME}.{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, _META_NAME))


def read_index_meta(path: str) -> dict | None:
    """The index's _META.json (version, build params, committed ingest list)
    or None. ``ingests`` lists the committed physical partition ids
    (``ingest=<n>`` directories under the data root) and ``batches`` the
    LOGICAL ingest count — equal until a compaction merges the physical
    list down to one generation while the history keeps counting. Each
    append stages its batch as a separate ingest
    partition and only the meta rewrite (atomic) makes it a member —
    loads filter the scan to committed ingests (partition-pruned). A
    crashed append therefore leaves an unlisted orphan partition — not
    duplicate rows — and RETRYING the append is safe: the retry replaces
    the orphan and commits it exactly once (no double-ingest is possible,
    unlike an in-place parquet append where data lands before the marker)."""
    return _read_meta(path)


def _scan_ingests(spark: SparkSession, root: str, ingests) -> DataFrame:
    """ONE scan of a per-ingest data root, partition-filtered to the
    committed ``ingests``: orphan generations from a crashed append never
    enter the plan, and the filter is a partition filter, so they cost no
    IO either."""
    return spark.read.parquet(root).filter(
        F.col("ingest").isin([int(i) for i in ingests])
    )


def _meta_stat(path: str):
    try:
        st = os.stat(os.path.join(path, _META_NAME))
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _add(old, delta):
    """Additive meta counters: integers add, per-key dicts add per key."""
    if isinstance(delta, dict):
        out = dict(old or {})
        for k, n in delta.items():
            out[k] = int(out.get(k, 0)) + n
        return out
    return int(old or 0) + delta


# The one attach memo. What it saves is DRIVER time, not compute: every
# load re-lists the data root (up to |ingests| x |cells| small files for
# IVF — partition discovery is single-threaded driver work), re-reads
# parquet footers for schema, and re-collects side tables (centroids,
# codebooks). Reusing the DataFrame reuses its InMemoryFileIndex, so a warm
# attach pays none of it. The key is a WEAK reference to the session (an
# entry stored for one session object is a miss for any replacement, even
# one that reuses a dead session's id, and the key never keeps a dropped
# session alive), the path, and the committed meta's ingests and file
# stat: every append/compact/vacuum/rebuild rewrites _META.json by rename,
# so the key rotates and a stale attach is never served; vacuum only
# deletes retired or never-listed generations, which the entry for the
# current meta never scans.
_ATTACH = LruMemo(capacity=16)


@dataclass(frozen=True)
class GenerationStore:
    """One persisted artifact kind on the generation protocol.

    ``data_root`` holds the per-ingest generations (``ingest=<n>``
    partitions, membership listed by the meta's ``ingests``); ``side_roots``
    are write-once tables trained with the first build (centroids,
    codebooks, merges, vocab). A store without a data root (the BPE
    tokenizer) is write-once/reload-many: build, exists and load only.

    The build identity (format, version, params) is the dict a caller
    passes to ``build``/``exists``/``load``. Beside it the meta carries the
    fields the data determines, returned by the stage writers: additive
    counters each append adds its batch's delta to (BM25 ``n_docs``/
    ``total_len``, NB ``class_docs``), or the composed IVFADC table's
    component snapshot."""

    kind: str  # "IVF index" — names the artifact in errors
    builder: str  # the public writer a load error points at
    data_root: str | None
    side_roots: tuple[str, ...] = ()

    def _committed(self, path: str, meta: dict) -> bool:
        """Every ingest the meta lists is present with its parquet _SUCCESS
        marker. Compaction renumbers the committed list (ingest=1 need not
        exist on a compacted root), so membership comes from the meta,
        never a hard-coded first id."""
        if self.data_root is None:
            return True
        ingests = meta.get("ingests")
        return bool(ingests) and all(
            os.path.exists(
                os.path.join(path, self.data_root, f"ingest={int(i)}", "_SUCCESS")
            )
            for i in ingests
        )

    def exists(self, path: str, identity: dict) -> bool:
        """Fully committed (every committed ingest and side root has its
        _SUCCESS) AND built by the current builder with the same params
        (identity fields match) — a content-keyed cache hit on an artifact
        built by older code or other params is a miss, never a silent
        stale load."""
        meta = _read_meta(path)
        if meta is None or any(meta.get(f) != v for f, v in identity.items()):
            return False
        return self._committed(path, meta) and all(
            os.path.exists(os.path.join(path, r, "_SUCCESS"))
            for r in self.side_roots
        )

    def build(
        self,
        path: str,
        identity: dict,
        stage: Callable[[str | None, str], dict | None],
        replace: bool = False,
        keep_if_valid: Callable[[str], bool] | None = None,
    ) -> None:
        """Stage the whole artifact under a sibling temp root and publish it
        by ONE rename. ``stage(data_dir, tmp)`` writes the first generation
        into ``data_dir`` (None without a data root) and the side roots
        under ``tmp``, and returns the meta fields the data determines.

        At a content-addressed path (the default) a path is bound to its
        inputs: builders are deterministic, so a VALID existing artifact
        already holds these bytes and is kept — a concurrent loser never
        deletes a live artifact under readers. ``replace=True`` removes
        the old artifact first (rebuilding over different data at the same
        path; not reader-safe)."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        data_dir = (
            None
            if self.data_root is None
            else os.path.join(tmp, self.data_root, "ingest=1")
        )
        meta = dict(identity, **(stage(data_dir, tmp) or {}))
        if self.data_root is not None:
            meta.update(batches=1, ingests=[1], batch_ids=[])
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, _META_NAME), "w", encoding="utf-8") as f:
            json.dump(meta, f)
        if replace:
            shutil.rmtree(path, ignore_errors=True)
        _publish_atomic(
            tmp, path, keep_if_valid or (lambda p: self.exists(p, identity))
        )

    def append(
        self,
        path: str,
        batch_id: str | None,
        stage: Callable[[str, dict], dict | None],
    ) -> None:
        """Exactly-once ingest of one batch as the next generation.
        ``stage(stage_dir, meta)`` writes the batch's rows into the
        dot-prefixed ``stage_dir`` (invisible to partition discovery even
        mid-write) and returns the batch's counter deltas; existing
        generations are never touched.

        Appends serialize on the in-root lock (concurrent appends of
        different batches would both claim the same ingest id); dead
        writers' staged leftovers are reclaimed under it; a crash before
        the meta commit leaves an unlisted orphan the retry replaces; and a
        stable ``batch_id`` makes the retry a no-op even when the crash
        landed AFTER the commit (an already-committed id is skipped, not
        ingested twice)."""
        meta = _read_meta(path)
        if meta is None or not self._committed(path, meta):
            raise ValueError(f"{path!r} does not hold a committed {self.kind}")
        root = os.path.join(path, self.data_root)
        with _AppendLock(path):
            meta = _read_meta(path)  # re-read under the lock
            done = list(meta.get("batch_ids", []))
            if batch_id is not None and batch_id in done:
                return  # already committed: idempotent retry
            _clean_orphan_stages(root)
            ingests = [int(i) for i in meta["ingests"]]
            new_id = max(ingests) + 1
            stage_dir = os.path.join(root, f".stage-{uuid.uuid4().hex}")
            delta = stage(stage_dir, meta) or {}
            _verify_meta_unchanged(path, meta)  # staging was the long part
            # a pre-existing ingest=<new_id> dir is a crashed predecessor's
            # uncommitted orphan (ids are monotonic under the lock): replace it
            _publish_atomic(stage_dir, os.path.join(root, f"ingest={new_id}"))
            # commit point for the batch's membership: atomic meta rewrite
            _write_meta_atomic(
                path,
                dict(
                    meta,
                    **{f: _add(meta.get(f), d) for f, d in delta.items()},
                    # logical ingest count, NOT len(ingests): compaction
                    # merges the physical partitions but the history counts
                    batches=int(meta.get("batches", len(ingests))) + 1,
                    ingests=ingests + [new_id],
                    batch_ids=done + ([batch_id] if batch_id is not None else []),
                ),
            )

    def load(
        self,
        spark: SparkSession,
        path: str,
        scan: Callable[[DataFrame | None, dict], Any],
        identity: dict | None = None,
        key: tuple = (),
    ) -> Any:
        """Attach a committed artifact: no training jobs, no corpus scan
        until a consumer runs. Returns ``scan(data, meta)``, where ``data``
        is ONE scan of the data root partition-filtered to the committed
        ingests (None without a data root). Raises on a missing or
        pre-per-ingest meta, and — when ``identity`` is given — on one
        whose identity fields differ, so a caller that skips the exists
        gate (or races a concurrent rebuild past it) never silently serves
        a stale or foreign artifact. Attaches go through ``_ATTACH``;
        ``key`` adds further stats the attach depends on."""
        stat = _meta_stat(path)  # before the read: a key never outdates its content
        meta = _read_meta(path)
        if meta is None or (self.data_root is not None and "ingests" not in meta):
            # a flat pre-per-ingest layout would otherwise die later with an
            # opaque unresolved-'ingest'-column error deep inside the scan
            raise ValueError(
                f"{path!r} is not a current-layout {self.kind} (missing meta "
                f"or pre-per-ingest layout); rebuild with {self.builder}"
            )
        if identity is not None and any(
            meta.get(f) != v for f, v in identity.items()
        ):
            raise ValueError(
                f"{path!r} does not hold a current-version {self.kind} "
                f"(found meta {meta!r}, want {identity!r})"
            )
        ingests = tuple(int(i) for i in meta.get("ingests", ()))

        def attach():
            data = (
                None
                if self.data_root is None
                else _scan_ingests(
                    spark, os.path.join(path, self.data_root), ingests
                )
            )
            return scan(data, meta)

        return _ATTACH.get_or_build(
            (weakref.ref(spark), self.kind, path, ingests, stat, *key), attach
        )


def _compact_data_root(
    spark: SparkSession,
    path: str,
    data_root_name: str,
    partition_cols: tuple[str, ...],
    target_file_bytes: int = 128 << 20,
    range_cols: tuple[str, ...] = ("id",),
) -> bool:
    """Shared OPTIMIZE step for the per-ingest index layouts. Returns True
    when a merge happened, False for the single-ingest no-op."""
    with _AppendLock(path):
        meta = _read_meta(path)
        if meta is None or not meta.get("ingests"):
            raise ValueError(
                f"{path!r} is not a current-layout index (missing meta or "
                "pre-per-ingest layout); nothing to compact"
            )
        ingests = [int(i) for i in meta["ingests"]]
        if len(ingests) <= 1:
            return False  # already one generation: nothing to merge
        root = os.path.join(path, data_root_name)
        _clean_orphan_stages(root)

        # One scan of the committed ingests (partition-filtered, orphans
        # never enter the plan), rewritten as ONE new ingest partition.
        merged = _scan_ingests(spark, root, ingests).drop("ingest")
        new_id = max(ingests) + 1
        stage = os.path.join(root, f".stage-{uuid.uuid4().hex}")
        # Size the output by BYTES, not by task count (the Delta/Iceberg
        # OPTIMIZE policy): an unclustered partitioned write would emit one
        # file per (task x cell) — reproducing the small-files problem it
        # is merging away — while a plain one-task-per-cell cluster caps
        # both file size and scan parallelism at k (a 100 GB cell would be
        # one 100 GB file read by one task). Range partitioning on
        # (cell, id) keeps each cell's rows contiguous, splits cells
        # larger than the target into consecutive id-ordered files (parquet
        # footer min/max on id stays prunable), and merges many small cells
        # into few writer tasks.
        total_bytes = 0
        for i in ingests:
            for r, _dd, fs in os.walk(os.path.join(root, f"ingest={i}")):
                for f in fs:
                    if f.endswith(".parquet"):
                        try:
                            total_bytes += os.path.getsize(os.path.join(r, f))
                        except OSError:
                            pass
        target = max(1, -(-total_bytes // int(target_file_bytes)))
        clustered = merged.repartitionByRange(target, *partition_cols, *range_cols)
        writer = (
            clustered.write.partitionBy(*partition_cols)
            if partition_cols
            else clustered.write
        )
        writer.mode("overwrite").parquet(stage)
        _verify_meta_unchanged(path, meta)  # the rewrite job was the long part
        # a pre-existing ingest=<new_id> dir is a crashed appender's
        # uncommitted orphan (ids are monotonic under the lock): replace it
        _publish_atomic(stage, os.path.join(root, f"ingest={new_id}"))

        # Commit point: the meta now lists ONLY the merged generation.
        # ``batches``/``batch_ids`` are logical ingest history and survive
        # compaction — an already-committed batch_id must stay a no-op on
        # retry even after its rows moved into the merged partition. The
        # merged-away generations are stamped ``retired`` AT THIS COMMIT:
        # vacuum's grace window must run from the moment readers stopped
        # being directed at them, never from the partition's write mtime
        # (a 30-day-old generation retired a second ago still has readers).
        import time

        retired = dict(meta.get("retired", {}))
        retired.update({str(i): time.time() for i in ingests})
        _write_meta_atomic(path, dict(meta, ingests=[new_id], retired=retired))
        return True


def vacuum_index(path: str, grace_sec: float = 86400.0) -> list[str]:
    """Reclaim UNLISTED ingest partitions and dead stage dirs whose grace
    window has passed — the VACUUM to ``compact_*_index``'s OPTIMIZE.

    Compaction unlists the merged-away generations but leaves their bytes,
    because a reader that planned its scan before the meta rewrite may
    still be reading them; the grace window (default 24 h, far beyond any
    query's lifetime) lets those readers drain before the bytes go. The
    window runs from the RETIRED timestamp compaction stamps into the meta
    at its commit — the moment readers stopped being directed at the
    generation — never from the partition's write mtime: a 30-day-old
    generation retired one second ago still has in-flight readers, and an
    mtime-based age would delete it under them. Only true orphans (crashed
    appends' never-listed partitions and dead stage dirs, which no reader
    can reach through the meta) age by mtime. Runs under the append lock
    so it can never race a live writer's stage dir; reclaimed retired
    stamps are pruned from the meta. Returns the removed paths."""
    import time

    removed: list[str] = []
    with _AppendLock(path):
        meta = _read_meta(path)
        if meta is None or not meta.get("ingests"):
            raise ValueError(f"{path!r} is not a current-layout index")
        committed = {f"ingest={int(i)}" for i in meta["ingests"]}
        retired: dict = meta.get("retired", {})
        reclaimed_ids: set[str] = set()
        now = time.time()
        # data roots are discovered, not hard-coded: any direct child dir
        # holding ingest=*/.stage-* entries follows the per-ingest layout
        # (cells, pq_codes, postings, and any future store) — the module
        # is store-neutral, so its vacuum must be too
        try:
            children = os.listdir(path)
        except OSError:
            children = []
        data_roots = []
        for child in children:
            root = os.path.join(path, child)
            if not os.path.isdir(root) or child.startswith("."):
                continue
            try:
                entries = os.listdir(root)
            except OSError:
                continue
            if any(
                e.startswith("ingest=") or e.startswith(".stage-")
                for e in entries
            ):
                data_roots.append(root)
        for root in data_roots:
            try:
                names = os.listdir(root)
            except OSError:
                continue
            for name in names:
                if name in committed:
                    continue
                if not (name.startswith("ingest=") or name.startswith(".stage-")):
                    continue
                full = os.path.join(root, name)
                ingest_id = (
                    name.split("=", 1)[1] if name.startswith("ingest=") else None
                )
                if ingest_id is not None and ingest_id in retired:
                    age = now - float(retired[ingest_id])
                else:
                    try:
                        age = now - os.path.getmtime(full)
                    except OSError:
                        continue  # concurrently removed
                if age >= grace_sec:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(full)
                    if ingest_id is not None:
                        reclaimed_ids.add(ingest_id)
        # Prune stamps for reclaimed generations AND for generations whose
        # directory no longer exists anywhere: a vacuum killed between its
        # rmtree and this meta write leaves a dirless stamp that would
        # otherwise dangle forever (no retry can reclaim a dir that is
        # already gone). Ingest ids are monotonic so a stale stamp can't
        # mis-age a future generation, but the meta would grow without
        # bound across crash cycles.
        on_disk = set()
        for root in data_roots:
            try:
                for name in os.listdir(root):
                    if name.startswith("ingest="):
                        on_disk.add(name.split("=", 1)[1])
            except OSError:
                pass
        kept = {
            i: t
            for i, t in retired.items()
            if i not in reclaimed_ids and i in on_disk
        }
        if kept != retired:
            _write_meta_atomic(path, dict(meta, retired=kept))
    return removed
