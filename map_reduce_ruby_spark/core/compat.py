"""Drop-in ``Mapper`` / ``Reducer`` façade: the reference's EXACT two-class
worker API (reference lib/map_reduce/mapper.rb, lib/map_reduce/reducer.rb),
so a user of the reference can port their worker code by changing imports.
Like the reference, the façade is one worker process: it spills, merges and
reduces sorted chunk files itself and runs no Spark job.

Reference worker flow (reference README.md:55-91) and its analog here:

    Ruby                                     Python
    ----                                     ------
    mapper = Mapper.new(impl, partitioner:)  Mapper(impl, spark, partitioner=...)
    mapper.map(input)  # many times          mapper.map(input)
    mapper.shuffle(chunk_limit:) { |parts| } mapper.shuffle(block) or
                                             with-block-less dict return
    reducer = Reducer.new(impl)              Reducer(impl, spark)
    path = reducer.add_chunk  # download     path = reducer.add_chunk()
    reducer.reduce(chunk_limit:) { |k, v| }  for k, v in reducer.reduce(): ...

Fidelity details:
- ``chunk_limit < 2`` raises ``InvalidChunkLimit``
  (reference lib/map_reduce.rb:18, mapper.rb:77, reducer.rb:72); otherwise
  it is the merge fan-in: at most ``chunk_limit`` sorted runs are open at
  once, and more runs than that are first cascaded through temp files
  (mergeable.rb:25-55, reducer.rb:75-93).
- ``memory_limit`` (default 16 MiB, reference mapper.rb:21) bounds the
  driver buffer exactly as the reference bounds its worker's: ``map`` runs
  the user ``map`` at once and accounts each yielded pair's JSON size
  (mapper.rb:44-54); crossing the limit spills the buffer as a sorted (and
  combined, when the implementation has ``reduce``) reference-format chunk
  file (mapper.rb:123-141 ``write_chunk``). ``shuffle`` k-way merges the
  spilled chunks, so the partition files do not depend on where the spills
  fell.
- Spill, cascade and final merge fold adjacent equal keys with one fold,
  the implementation's ``reduce(key, acc, value)`` (reduceable.rb:18-34).
  The merge is FIFO-stable: equal keys leave it in run order.
- A ``Reducer`` with no ``reduce`` on the implementation works while keys are
  distinct and raises ``AttributeError`` (Ruby ``NoMethodError``) only when
  two equal keys actually meet — lazily, exactly like the reference
  (spec/map_reduce/reducer_spec.rb:37-62).
- Partition files are the reference's JSON-lines chunk format
  (``json([key, value])`` per line, key-sorted), byte-compatible both ways.

SCALE NOTE: the façade is the reference's single-WORKER surface — inputs
arrive through driver-side ``map`` calls, exactly like the reference worker
process, and ``memory_limit`` and ``chunk_limit`` bound the driver's memory
and open files at any input volume. It needs no executors and no disk shared
with them; the ``spark`` arguments are kept for signature compatibility.
The 100 TB path remains handing ``Job.run`` an RDD/DataFrame directly (the
map function then runs inside Spark tasks against a distributed source), or
``Job.shuffle_to_files``, whose last Python stage publishes reference-format
chunks to any registered storage backend.
"""

from __future__ import annotations

import heapq
import json
import os
import tempfile
import threading
from itertools import groupby
from operator import itemgetter
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import SparkSession

from map_reduce_ruby_spark.core.job import MapReduceError
from map_reduce_ruby_spark.core.keys import SortKey, canonical_json
from map_reduce_ruby_spark.core.partitioner import HashPartitioner

# One item of a sorted run: (sort key, key, value). The Mapper's sort key is
# (partition, SortKey(key)), the Reducer's SortKey(key).
Item = tuple[Any, Any, Any]
ReduceFn = Callable[[Any, Any, Any], Any]
# A sorted run: the byte range [start, stop) of a JSON-lines file; a stop of
# None reads to the end of the file.
Run = tuple[str, int, "int | None"]

_sort_key = itemgetter(0)


class InvalidChunkLimit(MapReduceError):
    """chunk_limit must be >= 2 (reference lib/map_reduce.rb:18)."""


def _check_chunk_limit(chunk_limit: int) -> None:
    if chunk_limit < 2:
        raise InvalidChunkLimit(f"chunk_limit must be >= 2, got {chunk_limit}")


def _spill_item(line: list) -> Item:
    (pid, key), value = line
    return (pid, SortKey(key)), key, value


def _spill_line(item: Item) -> str:
    (pid, _), key, value = item
    return canonical_json([[pid, key], value])


def _pair_item(line: list) -> Item:
    key, value = line
    return SortKey(key), key, value


def _pair_line(item: Item) -> str:
    _, key, value = item
    return canonical_json([key, value])


def _missing_reduce(key: Any, a: Any, b: Any) -> Any:
    raise AttributeError(
        "implementation has no 'reduce' but duplicate keys met in the "
        f"reducer (key={key!r}) — reference raises NoMethodError here "
        "(spec/map_reduce/reducer_spec.rb:37-62)"
    )


def _fold(items: Iterable[Item], reduce_fn: ReduceFn | None) -> Iterator[Item]:
    """Fold each stretch of adjacent equal sort keys into one item with
    ``reduce_fn(key, acc, value)``, left to right, keeping the stretch's
    first key (reference reduceable.rb:18-34). Without ``reduce_fn`` the
    items pass through, duplicates included."""
    if reduce_fn is None:
        yield from items
        return
    for sort_key, stretch in groupby(items, key=_sort_key):
        _, key, acc = next(stretch)
        for _, _, value in stretch:
            acc = reduce_fn(key, acc, value)
        yield sort_key, key, acc


def _read_run(run: Run, parse: Callable[[list], Item]) -> Iterator[Item]:
    path, start, stop = run
    with open(path, "rb") as f:
        f.seek(start)
        pos = start
        for line in f:
            if stop is not None and pos >= stop:
                return
            pos += len(line)
            yield parse(json.loads(line))


def _ascending_runs(path: str) -> list[Run]:
    """The ascending key runs of a reducer chunk, found in one pre-pass: a
    reference-format chunk is one run; a chunk whose keys go out of order
    is split wherever a key is less than the one before it."""
    runs: list[Run] = []
    start = pos = 0
    prev = None
    with open(path, "rb") as f:
        for line in f:
            key = SortKey(json.loads(line)[0])
            if prev is not None and key < prev:
                runs.append((path, start, pos))
                start = pos
            prev = key
            pos += len(line)
    if pos > start:
        runs.append((path, start, None))
    return runs


def _merge(
    runs: list[Run],
    chunk_limit: int,
    reduce_fn: ReduceFn | None,
    parse: Callable[[list], Item],
    dump: Callable[[Item], str],
    temps: list[str],
) -> Iterator[Item]:
    """The folded k-way merge of sorted ``runs`` with at most
    ``chunk_limit`` of them open at once (reference mergeable.rb:25-55,
    62-106; reducer.rb:75-93). While more than ``chunk_limit`` runs wait,
    ``chunk_limit`` adjacent runs are merged into a temp file in reference
    format (``dump``), which takes their place in the queue. The merges
    step left to right through the queue and wrap round, so every pass
    reads each byte once, the number of temp files is the reference loop's,
    and equal keys keep run order through every cascade. Each temp path is
    appended to ``temps`` before it is written, for the caller to delete.
    The cascade runs now; the final merge is returned as a lazy stream."""

    def merged(batch: list[Run]) -> Iterator[Item]:
        streams = [_read_run(run, parse) for run in batch]
        return _fold(heapq.merge(*streams, key=_sort_key), reduce_fn)

    runs = list(runs)
    i = 0
    while len(runs) > chunk_limit:
        if i + chunk_limit > len(runs):
            i = 0
        fd, path = tempfile.mkstemp(prefix="mr_merge_", suffix=".jsonl")
        temps.append(path)
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            for item in merged(runs[i : i + chunk_limit]):
                f.write(dump(item))
                f.write("\n")
        runs[i : i + chunk_limit] = [(path, 0, None)]
        i += 1
    return merged(runs)


def _unlink_all(paths: Iterable[str]) -> None:
    for path in paths:
        if os.path.exists(path):
            os.unlink(path)


class Mapper:
    """Reference ``MapReduce::Mapper`` (lib/map_reduce/mapper.rb): map
    inputs into a bounded, spilling buffer via ``map``, then ``shuffle`` to
    a partition->file map."""

    def __init__(
        self,
        implementation: Any,
        spark: SparkSession,
        partitioner: Callable[[Any], int] | None = None,
        memory_limit: int = 16 * 1024 * 1024,
    ):
        self._impl = implementation
        self._partitioner = partitioner or HashPartitioner(32)
        self._memory_limit = int(memory_limit)
        # spill state (reference mapper.rb:28-30): buffered items, their
        # reference-accounted JSON byte size, and the spilled chunk paths in
        # write order.
        self._buffer: list[Item] = []
        self._buffer_size = 0
        self._spill_chunks: list[str] = []
        # O19 thread-safe ingestion: the reference's Mapper is a monitor
        # (reference lib/map_reduce/mapper.rb:7 MonitorMixin, :45 synchronize)
        # so workers may feed one mapper from many threads. CPython's GIL
        # makes a bare list.append atomic, but that is an implementation
        # detail — an explicit lock pins the contract.
        self._ingest_lock = threading.Lock()

    def map(self, *args: Any, **kwargs: Any) -> None:
        """Feed one input; ALL args of one call reach ONE
        ``implementation.map(*args, **kwargs)`` invocation (reference
        mapper.rb:43 forwards the full argument list). Safe to call
        concurrently from multiple threads (reference mapper.rb:45
        ``synchronize``).

        The user's ``map`` runs NOW (its errors raise here) and each yielded
        pair lands in the bounded buffer under the reference's JSON-size
        accounting (mapper.rb:44-54): ``[[partition, key], value]`` costs
        its ``JSON.generate`` bytesize, and crossing the limit spills the
        sorted (and pre-combined, when the implementation has ``reduce``)
        buffer to a reference-format chunk file — driver memory is bounded
        by ``memory_limit`` at any input volume."""
        part = self._partitioner
        for key, value in self._impl.map(*args, **kwargs):
            pid = part(key)
            item_bytes = len(canonical_json([[pid, key], value]).encode("utf-8"))
            with self._ingest_lock:
                self._buffer.append(((pid, SortKey(key)), key, value))
                self._buffer_size += item_bytes
                if self._buffer_size >= self._memory_limit:
                    self._write_chunk()

    def _write_chunk(self) -> None:
        """Spill the buffer as ONE sorted reference-format chunk file
        (reference mapper.rb:123-141 ``write_chunk``): items sorted by
        (partition, key) — Python's stable sort preserves FIFO within
        equal keys like Ruby's sort_by — and folded with the
        implementation's ``reduce`` when present, one ``json([[partition,
        key], value])`` line per surviving item. Caller holds the ingest
        lock."""
        if not self._buffer:
            return
        self._buffer.sort(key=_sort_key)
        fd, path = tempfile.mkstemp(prefix="mr_spill_", suffix=".jsonl")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            for item in _fold(self._buffer, getattr(self._impl, "reduce", None)):
                f.write(_spill_line(item))
                f.write("\n")
        self._spill_chunks.append(path)
        self._buffer = []
        self._buffer_size = 0

    def shuffle(
        self,
        block: Callable[[dict[int, str]], None] | None = None,
        chunk_limit: int = 32,
        out_dir: str | None = None,
    ) -> dict[int, str] | None:
        """Merge the spilled chunks and write one JSON-lines file,
        ``partition-<pid>.jsonl``, per non-empty partition (reference
        mapper.rb:76-96).

        With ``block``: call it with {partition: path} then DELETE the files
        (the reference's yield-then-cleanup ``ensure``). Without: return the
        map; the caller owns the files.

        The tail buffer is spilled first (mapper.rb:81); then the chunks,
        each one sorted run, are k-way merged in (partition, key) order with
        at most ``chunk_limit`` open at once (see ``_merge``), folded with
        the implementation's ``reduce`` when present, and split into
        partition files as the merged stream crosses partition boundaries.
        In no-reduce mode duplicates keep input order: chunks spill in
        input order, the spill sort is stable and the merge keeps run order
        for equal keys — the reference's FIFO merge order
        (priority_queue.rb:35,50-53). The spilled chunks and cascade temp
        files are deleted afterwards even on error (the reference's
        ``ensure``), so a second shuffle on the same mapper yields no
        partitions (mapper.rb:88-93). Runs no Spark job.
        """
        _check_chunk_limit(chunk_limit)
        out = out_dir or tempfile.mkdtemp(prefix="mr_shuffle_")
        os.makedirs(out, exist_ok=True)
        with self._ingest_lock:
            self._write_chunk()  # flush the tail buffer (mapper.rb:81)
            chunks, self._spill_chunks = self._spill_chunks, []
        temps = list(chunks)
        partitions: dict[int, str] = {}
        try:
            merged = _merge(
                [(path, 0, None) for path in chunks], chunk_limit,
                getattr(self._impl, "reduce", None), _spill_item, _spill_line,
                temps,
            )
            for pid, items in groupby(merged, key=lambda item: item[0][0]):
                path = partitions[pid] = os.path.join(out, f"partition-{pid}.jsonl")
                with open(path, "w", encoding="utf-8") as f:
                    for item in items:
                        f.write(_pair_line(item))
                        f.write("\n")
        finally:
            _unlink_all(temps)
        if block is None:
            return partitions
        try:
            block(partitions)
            return None
        finally:
            _unlink_all(partitions.values())


class Reducer:
    """Reference ``MapReduce::Reducer`` (lib/map_reduce/reducer.rb):
    register chunk files, then stream the merged+reduced pairs."""

    def __init__(self, implementation: Any, spark: SparkSession):
        self._impl = implementation
        self._chunks: list[str] = []

    def add_chunk(self) -> str:
        """Allocate and register an empty temp path for the caller to fill
        (reference reducer.rb:34-42 — e.g. with a downloaded partition
        chunk)."""
        fd, path = tempfile.mkstemp(prefix="mr_chunk_", suffix=".jsonl")
        os.close(fd)
        self._chunks.append(path)
        return path

    def reduce(self, chunk_limit: int = 32) -> Iterator[tuple[Any, Any]]:
        """Merge all registered chunks and yield key-sorted (key, value)
        pairs (reference reducer.rb:69-100; Enumerator form == this
        generator). Each chunk is one sorted run, or, if its keys go out of
        order, its ascending runs; the runs are k-way merged with at most
        ``chunk_limit`` open at once and folded with the implementation's
        ``reduce`` (see ``_merge``). Runs no Spark job. Registered chunks
        and cascade temp files are deleted when the stream is exhausted or
        closed, even on error (the reference's ``ensure``)."""
        _check_chunk_limit(chunk_limit)
        temps: list[str] = []
        try:
            runs = [run for path in self._chunks for run in _ascending_runs(path)]
            merged = _merge(
                runs, chunk_limit, getattr(self._impl, "reduce", _missing_reduce),
                _pair_item, _pair_line, temps,
            )
            for _, key, value in merged:
                yield key, value
        finally:
            _unlink_all(self._chunks + temps)
            self._chunks.clear()
