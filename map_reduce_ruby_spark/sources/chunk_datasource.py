"""The reference chunk format as a first-class Spark data source.

``spark.read.format("mr_chunks").load(path)`` / ``df.write.format("mr_chunks")``
over the reference's only persistent representation — one
``JSON.generate([key, value])`` per line, keys sorted within a file
(reference lib/map_reduce/mapper.rb:115,131-135, parsed back at
lib/map_reduce/mergeable.rb:67) — via the PySpark 4 Python DataSource API.
A reference user's existing chunk files (the ones their workers upload to S3
between phases) load straight into a DataFrame, and DataFrame results write
back out as files the reference's Reducer#add_chunk flow can ingest.

Schema is ``key_json string, value_json string``: the chunk model is
schemaless (JSON-typed keys/values, FIXTURES.md §A), so each side is carried
as its canonical compact JSON text — lossless for every legal reference
value, and `F.from_json` peels it into typed columns when the user declares
a schema. Read parallelism is one Spark partition per chunk file (chunk files
are independently sorted runs — the same unit the reference merges); writes
produce one sorted-run file per task partition.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import tempfile
import uuid
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from map_reduce_ruby_spark.sources.storage import (
    join_uri,
    storage_for,
    unpickle_backend,
    uri_scheme,
)

CHUNK_SCHEMA = "key_json string, value_json string"


def _canon(obj) -> str:
    # Matches the reference's JSON.generate byte layout (core.keys.canonical_json).
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _resolve_files(path: str) -> list[str]:
    if path.startswith("file://"):
        path = path[len("file://"):]
    if os.path.isdir(path):
        names = (os.path.join(path, n) for n in os.listdir(path))
        return sorted(p for p in names if os.path.isfile(p) and not os.path.basename(p).startswith(("_", ".")))
    if any(ch in path for ch in "*?["):
        return sorted(p for p in _glob.glob(path) if os.path.isfile(p))
    return [path]


def _basename(uri: str) -> str:
    return uri.rstrip("/").rsplit("/", 1)[-1]


_HALF_COMMIT_MSG = (
    "chunk directory {path!r} holds a _MANIFEST.json without _SUCCESS — a "
    "crashed half-commit. Its manifest cannot be trusted (the write may be "
    "incomplete, and a recovery rewrite may replace the generation). Re-run "
    "the write (half-commits are overwritable) or delete the directory."
)

# commit() publishes the manifest and _SUCCESS as two separate atomic puts;
# a reader that plans in the sub-millisecond window between them would see
# manifest-without-_SUCCESS and (without this grace) misreport a HEALTHY
# completing write as a crashed half-commit. A completing writer finishes
# the second put in milliseconds; a crashed one never does — so re-checking
# for a short bounded window separates the two cases without weakening the
# crash diagnosis.
_SUCCESS_GRACE_TRIES = 10
_SUCCESS_GRACE_SLEEP = 0.05


def _success_appears(exists) -> bool:
    """Poll ``exists()`` (a zero-arg _SUCCESS probe) through the grace
    window; True the moment the marker lands, False once the window is
    exhausted (genuine half-commit)."""
    import time

    for attempt in range(_SUCCESS_GRACE_TRIES):
        if exists():
            return True
        if attempt < _SUCCESS_GRACE_TRIES - 1:
            time.sleep(_SUCCESS_GRACE_SLEEP)
    return False


def _parse_chunk_lines(path: str, backend=None) -> Iterator[tuple]:
    """One chunk file -> (key_json, value_json) rows; local open() or
    backend.read_text for remote URIs."""
    if backend is not None:
        lines: Iterator[str] = iter(backend.read_text(path).splitlines())
    else:
        lines = open(path, encoding="utf-8")
    try:
        for line in lines:
            if line.strip():
                k, v = json.loads(line)
                yield (_canon(k), _canon(v))
    finally:
        close = getattr(lines, "close", None)
        if close is not None:
            close()


def _reader_backend(options: dict):
    """(backend, is_remote) for a reader path: local paths (incl. file://
    and globs) keep the direct-filesystem fast path; any other scheme goes
    through the storage registry — resolved from the ``backend_pickle``
    option when present (readers, like writers, may run in worker processes
    where the driver's registry is invisible), else from the registry in
    this process."""
    path = options.get("path", "")
    if uri_scheme(path) in ("", "file"):
        return None, False
    blob = options.get("backend_pickle")
    return (unpickle_backend(blob) if blob else storage_for(path)), True


def _remote_files(backend, path: str) -> list[str]:
    """Chunk files under a remote directory URI: backend listing + the same
    '_'/'.'-prefix skip rule the local listing applies."""
    lister = getattr(backend, "list", None)
    if lister is None:
        raise ValueError(
            f"storage backend for {path!r} has no list() operation — "
            "chunk reads over a remote scheme need it (direct child file "
            "names, sorted)"
        )
    return [
        join_uri(path, n)
        for n in sorted(lister(path))
        if not n.startswith(("_", "."))
    ]


class _ChunkFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _ChunkReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_chunks source requires a path")
        # Remote schemes (s3://...) read through the storage backend; the
        # reader instance (backend included) is pickled to the read workers,
        # so S3-style backends must reconnect lazily (S3Storage.__reduce__).
        self._backend, self._remote = _reader_backend(options)

    def partitions(self):
        # A directory holding a committed generation (manifest present) is
        # read FROM ITS MANIFEST, not from a listing: a failed earlier
        # attempt can leave stray chunk files abort() never saw (its commit
        # message may not have reached the driver), and a listing would
        # interleave those strays into the committed generation. A manifest
        # WITHOUT _SUCCESS is a crashed half-commit: its file list may be
        # incomplete AND a recovery rewrite is allowed to swap the
        # generation under us — refuse it loudly instead of planning from
        # it. Manifest-less directories (hand-built chunk sets, reference-
        # produced uploads, streaming drop dirs) keep the listing behavior.
        if self._remote:
            return self._remote_partitions()
        base = self.path[len("file://"):] if self.path.startswith("file://") else self.path
        manifest = os.path.join(base, MANIFEST_NAME)
        if os.path.isdir(base) and os.path.isfile(manifest):
            success = os.path.join(base, "_SUCCESS")
            if not _success_appears(lambda: os.path.isfile(success)):
                raise RuntimeError(_HALF_COMMIT_MSG.format(path=self.path))
            with open(manifest, encoding="utf-8") as f:
                files = [
                    os.path.join(base, e["file"]) for e in json.load(f)["files"]
                ]
            return [_ChunkFilePartition(p) for p in sorted(files)]
        return [_ChunkFilePartition(p) for p in _resolve_files(self.path)]

    def _remote_partitions(self):
        # Identical manifest policy, through the backend: manifest+_SUCCESS
        # -> read the manifest's file list; manifest sans _SUCCESS -> refuse;
        # no manifest -> backend listing.
        manifest_uri = join_uri(self.path, MANIFEST_NAME)
        if self._backend.exists(manifest_uri):
            success_uri = join_uri(self.path, "_SUCCESS")
            if not _success_appears(lambda: self._backend.exists(success_uri)):
                raise RuntimeError(_HALF_COMMIT_MSG.format(path=self.path))
            entries = json.loads(self._backend.read_text(manifest_uri))["files"]
            files = [join_uri(self.path, e["file"]) for e in entries]
            return [_ChunkFilePartition(p) for p in sorted(files)]
        return [_ChunkFilePartition(p) for p in _remote_files(self._backend, self.path)]

    def read(self, partition: _ChunkFilePartition) -> Iterator[tuple]:
        yield from _parse_chunk_lines(partition.path, self._backend if self._remote else None)


class _ChunkRows:
    """Lazy row iterator over a fixed chunk-file window.

    Why not a plain generator: PySpark's simple-stream wrapper caches the
    iterator returned by ``read()`` unconsumed and hands out
    ``copy.copy()`` of it to each consumer (datasource_internal.py
    ``getCache``) — a generator can't be copied. This class holds only the
    file PATH list (not the rows), opens files one at a time on demand,
    and ``__copy__`` restarts from the path list — so a large backlog
    (first start against a big drop directory) never materializes the
    whole window in driver memory, and every cache copy replays the exact
    same window."""

    def __init__(self, files: list[str], backend=None):
        self._files = list(files)
        self._backend = backend
        self._gen: Iterator[tuple] | None = None

    def __copy__(self) -> "_ChunkRows":
        return _ChunkRows(self._files, self._backend)

    def __iter__(self) -> "_ChunkRows":
        return self

    def __next__(self) -> tuple:
        if self._gen is None:
            self._gen = self._generate()
        return next(self._gen)

    def _generate(self) -> Iterator[tuple]:
        for path in self._files:
            yield from _parse_chunk_lines(path, self._backend)


class _ChunkStreamReader(SimpleDataSourceStreamReader):
    """Streaming reader: tail a directory of chunk files.

    Offset = {"n": k} — the first k files in lexicographic order are
    committed. Contract (documented, matching the writer's
    chunk-%05d-<writeid> naming — within one write generation the pid
    prefix dominates the sort): new files must sort AFTER already-ingested
    ones, which is how a reference deployment's upload step names them. Each file is ingested
    exactly once; readBetweenOffsets replays a committed window for
    recovery, so restarts under a checkpoint neither skip nor duplicate.
    This is the streaming face of the reference's Reducer#add_chunk flow
    (reference lib/map_reduce/reducer.rb:34-42): instead of registering
    chunks one call at a time, the engine watches the drop directory.

    Backpressure: ``option("maxFilesPerTrigger", n)`` caps each
    micro-batch at n files (the FileStreamSource knob, same name/meaning).
    Without it, the FIRST batch against a large backlog is the whole
    backlog — one giant micro-batch that holds the trigger (and any
    downstream stateful operator's commit) hostage for the entire catch-up.
    With it, catch-up is n files per trigger; the offset boundary advances
    to the capped window's last file, so exactly-once replay across
    restarts is unchanged mid-backlog.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_chunks stream requires a path")
        # Remote drop prefixes (s3://bucket/chunks) tail through the storage
        # backend — listing via backend.list, content via read_text — with
        # the identical offset contract; closes the reference's
        # add_chunk-from-object-store story (reducer.rb:34-42) for the
        # streaming face.
        self._backend, self._remote = _reader_backend(options)
        # single lookup with fallback (DataSource options are case-lowered;
        # `get(A) or get(B)` would also silently drop a falsy value like "")
        mft = options.get("maxfilespertrigger", options.get("maxFilesPerTrigger"))
        if mft is None:
            self.max_files = None
        else:
            try:
                self.max_files = int(mft)
            except (TypeError, ValueError):
                raise ValueError(
                    f"maxFilesPerTrigger must be a positive integer, got {mft!r}"
                ) from None
            if self.max_files <= 0:
                raise ValueError(
                    f"maxFilesPerTrigger must be a positive integer, got {mft!r}"
                )

    def initialOffset(self) -> dict:
        return {"n": 0, "last": None}

    @staticmethod
    def _validate(files: list[str], off: dict) -> None:
        """The offset carries the BOUNDARY FILENAME next to the count: if a
        committed file was deleted, or a file arrived that sorts before the
        boundary, the count would silently slice the wrong window — the name
        check turns both contract violations into a loud error instead."""
        n = off.get("n", 0)
        last = off.get("last")
        if n == 0 or last is None:
            return
        if n > len(files) or _basename(files[n - 1]) != last:
            raise ValueError(
                f"mr_chunks stream offset violated: expected file #{n} to be "
                f"{last!r} (committed boundary); directory now has "
                f"{[_basename(f) for f in files[:n]]} — a committed "
                "chunk file was removed or a new file sorted before the "
                "boundary (files must arrive with increasing names)"
            )

    def _rows(self, files: list[str]) -> "_ChunkRows":
        return _ChunkRows(files, self._backend if self._remote else None)

    def _files(self) -> list[str]:
        if self._remote:
            return _remote_files(self._backend, self.path)
        return _resolve_files(self.path)

    def read(self, start: dict):
        files = self._files()
        self._validate(files, start)
        lo = start["n"]
        hi = (
            len(files)
            if self.max_files is None
            else min(len(files), lo + self.max_files)
        )
        end = {
            "n": hi,
            "last": _basename(files[hi - 1]) if hi else None,
        }
        return self._rows(files[lo:hi]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        self._validate(files, end)
        return self._rows(files[start["n"] : end["n"]])


MANIFEST_NAME = "_MANIFEST.json"


def new_write_id() -> str:
    """Generation token: chunk filenames embed a per-write id, so two
    writers racing on one directory can never replace each other's files —
    each generation's names are disjoint, and the manifest records which
    generation its file list belongs to. The loser of a race leaves strays
    with ITS token; manifest-based reads never see them."""
    return uuid.uuid4().hex[:12]


def chunk_file_name(pid: int, write_id: str) -> str:
    # pid prefix first so lexicographic order within a generation is
    # partition order (the streaming reader's increasing-names contract);
    # the write-id suffix makes the name generation-unique.
    return f"chunk-{pid:05d}-{write_id}.jsonl"


def refuse_completed_generation(backend, path: str) -> None:
    """One COMPLETED write-generation per directory (manifest + _SUCCESS).
    Writers call this before any task runs, so raising keeps the existing
    generation untouched (and saves the doomed job). A manifest WITHOUT
    _SUCCESS is a crashed half-commit: recovery overwrites are allowed
    (readers refuse half-commits — batch raises on manifest-sans-_SUCCESS,
    streaming fixtures gate on _SUCCESS)."""
    if backend.exists(join_uri(path, MANIFEST_NAME)) and backend.exists(
        join_uri(path, "_SUCCESS")
    ):
        raise ValueError(
            f"chunk directory {path!r} already holds a completed generation "
            f"({MANIFEST_NAME} + _SUCCESS): the mr_chunks format is one "
            "write-generation per directory (appending would shadow the "
            "prior generation's files in manifest-based reads). Write each "
            "shuffle to a fresh generation directory."
        )


def publish_chunk(backend, path: str, pid: int, write_id: str, pairs) -> tuple:
    """Publish one partition's ``(key_json, value_json)`` pairs as
    ``chunk-<pid>-<write_id>.jsonl`` under ``path``; returns
    ``(pid, file name or None, rows)``. Rows stream to task-local scratch
    first, then the finished file is published atomically through the
    storage backend — the same shape an object-store upload takes (write
    local, one atomic PUT). An empty partition publishes nothing (the
    reference's split also only emits files for non-empty partitions,
    lib/map_reduce/mapper.rb:100-121)."""
    fd, scratch = tempfile.mkstemp(prefix="mr_chunk_w_", suffix=".jsonl")
    rows = 0
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            for key_json, value_json in pairs:
                f.write(f"[{key_json},{value_json}]\n")
                rows += 1
        if rows == 0:
            return pid, None, 0
        name = chunk_file_name(pid, write_id)
        backend.makedirs(path)
        backend.put_file_atomic(scratch, join_uri(path, name))
        return pid, name, rows
    finally:
        if os.path.exists(scratch):
            os.unlink(scratch)


def commit_generation(backend, path: str, write_id: str, published) -> list[dict]:
    """Publish ``_MANIFEST.json`` from the tasks' ``(pid, file, rows)``
    reports, then ``_SUCCESS``; returns the manifest's file entries.

    The manifest is the authoritative partition->file map (no listing:
    object stores have no cheap consistent listing) and describes THIS
    write. The primary generation guard runs before any task; re-checking
    here closes the window where a CONCURRENT writer completed a generation
    between our plan time and our commit: because chunk filenames are
    generation-unique, the other writer's files are untouched by ours —
    losing this race leaves only our own strays, never a corrupted
    winner."""
    backend.makedirs(path)
    refuse_completed_generation(backend, path)
    files = sorted(
        (
            {"partition": int(pid), "file": name, "rows": int(rows)}
            for pid, name, rows in published
            if name is not None
        ),
        key=lambda e: e["partition"],
    )
    manifest = {"format": "mr_chunks/1", "write_id": write_id, "files": files}
    backend.write_text_atomic(
        join_uri(path, MANIFEST_NAME),
        json.dumps(manifest, separators=(",", ":")) + "\n",
    )
    # success marker ('_'-prefixed => skipped by readers): consumers gate
    # on it to distinguish a completed write from a killed-mid-flight one
    backend.write_text_atomic(join_uri(path, "_SUCCESS"), "")
    return files


def unpublish_chunks(backend, path: str, names) -> None:
    """BEST-EFFORT delete of a failed write's chunk files. ``delete()`` is
    an optional backend operation; backends without it skip cleanup. A
    stray that survives never enters a manifest, so readers never see it."""
    delete = getattr(backend, "delete", None)
    if delete is None:
        return
    for name in names:
        try:
            delete(join_uri(path, name))
        except OSError:
            pass


class _ChunkCommit(WriterCommitMessage):
    """Each task's report back to the driver: which partition it wrote,
    the chunk filename it published (None when the partition was empty),
    and how many rows. The driver's commit() turns these into
    _MANIFEST.json."""

    def __init__(self, partition_id: int, filename: str | None, rows: int):
        self.partition_id = partition_id
        self.filename = filename
        self.rows = rows


class _ChunkWriter(DataSourceWriter):
    """``df.write.format("mr_chunks")``: the DataSource adapter over
    ``publish_chunk`` / ``commit_generation``."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_chunks sink requires a path")
        # Writer init and write tasks run in separate Python worker
        # processes, so neither can consult the driver's storage registry:
        # a caller with a custom backend passes it resolved, as a
        # cloudpickle blob in the ``backend_pickle`` option
        # (storage.pickle_backend). Without the option, local/file:// paths
        # work via the default registry entries.
        blob = options.get("backend_pickle")
        self._backend = unpickle_backend(blob) if blob else storage_for(self.path)
        # minted once at plan time, shared by every task via pickling
        self._write_id = new_write_id()
        # writer construction happens at plan time, ahead of task launch
        refuse_completed_generation(self._backend, self.path)

    def write(self, iterator) -> _ChunkCommit:
        from pyspark import TaskContext

        pairs = ((row.key_json, row.value_json) for row in iterator)
        return _ChunkCommit(
            *publish_chunk(
                self._backend,
                self.path,
                TaskContext.get().partitionId(),
                self._write_id,
                pairs,
            )
        )

    def commit(self, messages) -> None:
        commit_generation(
            self._backend,
            self.path,
            self._write_id,
            (
                (m.partition_id, m.filename, m.rows)
                for m in messages
                if m is not None
            ),
        )

    def abort(self, messages) -> None:
        # Spark only delivers the commit messages it had recorded when the
        # job aborted — a task that published its file moments before the
        # failure may not be in the list (observed in local mode), so
        # strays CAN survive abort. That is why _MANIFEST.json is the
        # authoritative path map and _SUCCESS gates consumers.
        unpublish_chunks(
            self._backend,
            self.path,
            [m.filename for m in messages if m is not None and m.filename],
        )


class ChunkDataSource(DataSource):
    """format("mr_chunks"): reference chunk files <-> DataFrame."""

    @classmethod
    def name(cls) -> str:
        return "mr_chunks"

    def schema(self) -> str:
        return CHUNK_SCHEMA

    def reader(self, schema) -> _ChunkReader:
        return _ChunkReader(self.options)

    def simpleStreamReader(self, schema) -> _ChunkStreamReader:
        return _ChunkStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> _ChunkWriter:
        return _ChunkWriter(self.options)


def register_chunk_source(spark) -> None:
    """Idempotently register the mr_chunks format on this session: a second
    call finds it in the session's data source manager and registers
    nothing (re-registering makes the JVM log a "replaced a previously
    registered data source" warning every time)."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(ChunkDataSource.name()):
        spark.dataSource.register(ChunkDataSource)
