"""Drop-in ``Mapper`` / ``Reducer`` façade: the reference's EXACT two-class
worker API (reference lib/map_reduce/mapper.rb, lib/map_reduce/reducer.rb),
so a user of the reference can port their worker code by changing imports —
the Spark ``Job`` underneath replaces spill/merge/shuffle mechanics.

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
  (reference lib/map_reduce.rb:18, mapper.rb:77, reducer.rb:72); beyond the
  guard the value is ignored — merge fan-in is Spark's concern.
- ``memory_limit`` (default 16 MiB, reference mapper.rb:21) bounds the
  driver buffer exactly as the reference bounds its worker's: ``map`` runs
  the user ``map`` at once and accounts each yielded pair's JSON size
  (mapper.rb:44-54); crossing the limit spills the buffer as a sorted (and
  combined, when the implementation has ``reduce``) reference-format chunk
  file (mapper.rb:123-141 ``write_chunk``). ``shuffle`` then merges the
  spilled chunks THROUGH Spark (the chunks become a distributed source;
  Spark's sort-based shuffle is the k-way merge), so the partition files do
  not depend on where the spills fell.
- A ``Reducer`` with no ``reduce`` on the implementation works while keys are
  distinct and raises ``AttributeError`` (Ruby ``NoMethodError``) only when
  two equal keys actually meet — lazily, exactly like the reference
  (spec/map_reduce/reducer_spec.rb:37-62).
- Partition files are the reference's JSON-lines chunk format
  (``json([key, value])`` per line, key-sorted), byte-compatible both ways.

SCALE NOTE: the façade is the reference's single-WORKER surface — inputs
arrive through driver-side ``map`` calls, exactly like the reference worker
process, and ``memory_limit`` bounds the driver's memory at any input
volume. The 100 TB path remains handing ``Job.run`` an RDD/DataFrame
directly (the map function then runs inside Spark tasks against a
distributed source), or writing reference-format chunks to shared storage
via ``Job.shuffle_to_files(shared_storage=True)``.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from typing import Any, Callable, Iterator

from pyspark.sql import SparkSession

from map_reduce_ruby_spark.core.job import Job, MapReduceError
from map_reduce_ruby_spark.core.keys import SortKey, canonical_json
from map_reduce_ruby_spark.core.partitioner import HashPartitioner


class InvalidChunkLimit(MapReduceError):
    """chunk_limit must be >= 2 (reference lib/map_reduce.rb:18)."""


def _check_chunk_limit(chunk_limit: int) -> None:
    if chunk_limit < 2:
        raise InvalidChunkLimit(f"chunk_limit must be >= 2, got {chunk_limit}")


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
        self._spark = spark
        self._partitioner = partitioner or HashPartitioner(32)
        self._memory_limit = int(memory_limit)
        # spill state (reference mapper.rb:28-30): buffered (partition,
        # key, value) items, their reference-accounted JSON byte size, and
        # the spilled chunk paths in write order.
        self._buffer: list[tuple[int, Any, Any]] = []
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
                self._buffer.append((pid, key, value))
                self._buffer_size += item_bytes
                if self._buffer_size >= self._memory_limit:
                    self._write_chunk()

    def _write_chunk(self) -> None:
        """Spill the buffer as ONE sorted reference-format chunk file
        (reference mapper.rb:123-141 ``write_chunk``): items sorted by
        (partition, key) — Python's stable sort preserves FIFO within
        equal keys like Ruby's sort_by — combined with the implementation's
        ``reduce`` when present (consecutive equal keys fold pairwise,
        reference reduceable.rb:18-34), one ``json([[partition, key],
        value])`` line per surviving item. Caller holds the ingest lock."""
        if not self._buffer:
            return
        self._buffer.sort(key=lambda it: (it[0], SortKey(it[1])))
        items: Iterator[tuple[int, Any, Any]] | list[tuple[int, Any, Any]]
        reduce_fn = getattr(self._impl, "reduce", None)
        if reduce_fn is not None:

            def _combined() -> Iterator[tuple[int, Any, Any]]:
                prev = None
                for cur in self._buffer:
                    if prev is None:
                        prev = cur
                    elif prev[0] == cur[0] and SortKey(prev[1]) == SortKey(cur[1]):
                        prev = (prev[0], prev[1], reduce_fn(prev[1], prev[2], cur[2]))
                    else:
                        yield prev
                        prev = cur
                if prev is not None:
                    yield prev

            items = _combined()
        else:
            items = self._buffer
        fd, path = tempfile.mkstemp(prefix="mr_spill_", suffix=".jsonl")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            for pid, key, value in items:
                f.write(canonical_json([[pid, key], value]))
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
        """Run map -> [combine] -> partition -> sort and materialize one
        JSON-lines file per non-empty partition (reference mapper.rb:76-96).

        With ``block``: call it with {partition: path} then DELETE the files
        (the reference's yield-then-cleanup ``ensure``). Without: return the
        map; the caller owns the files.

        The pairs live in spilled sorted chunk files (plus the final
        in-memory buffer, flushed here — reference mapper.rb:81); each chunk
        becomes one Spark task's streamed input (a chunk is at most about
        ``memory_limit`` bytes by construction) and Spark's sort-based
        shuffle replaces the reference's k-way merge (mapper.rb:83-96). In
        no-reduce mode duplicates keep input order: chunks spill in input
        order and the spill sort is stable, so ``stable=True``'s (chunk
        index, line number) sequence is the reference's FIFO merge order
        (priority_queue.rb:35,50-53). The spilled chunks are deleted
        afterwards even on error (the reference's ``ensure``), so a second
        shuffle on the same mapper yields no partitions (mapper.rb:88-93).
        The chunks live on the local filesystem, shared with ``local[k]``
        executors: the façade is one worker process, as in the reference.
        """
        _check_chunk_limit(chunk_limit)
        reduce_fn = getattr(self._impl, "reduce", None)
        out = out_dir or tempfile.mkdtemp(prefix="mr_shuffle_")
        with self._ingest_lock:
            self._write_chunk()  # flush the tail buffer (mapper.rb:81)
            chunks, self._spill_chunks = self._spill_chunks, []

        def _pairs(path: str) -> Iterator[tuple[Any, Any]]:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    (_pid, key), value = json.loads(line)
                    yield key, value

        job = Job(
            map_fn=_pairs,
            reduce_fn=reduce_fn,
            partitioner=self._partitioner,
            num_partitions=getattr(self._partitioner, "num_partitions", 32),
        )
        try:
            inputs = self._spark.sparkContext.parallelize(
                chunks, numSlices=max(1, len(chunks))
            )
            partitions = job.shuffle_to_files(
                self._spark, inputs, out, stable=reduce_fn is None
            )
        finally:
            for p in chunks:
                if os.path.exists(p):
                    os.unlink(p)
        if block is None:
            return partitions
        try:
            block(partitions)
            return None
        finally:
            for path in partitions.values():
                if os.path.exists(path):
                    os.unlink(path)


class Reducer:
    """Reference ``MapReduce::Reducer`` (lib/map_reduce/reducer.rb):
    register chunk files, then stream the merged+reduced pairs."""

    def __init__(self, implementation: Any, spark: SparkSession):
        self._impl = implementation
        self._spark = spark
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
        generator). Temp chunks are deleted when the stream is exhausted or
        closed, even on error (the reference's ``ensure``)."""
        _check_chunk_limit(chunk_limit)
        reduce_fn = getattr(self._impl, "reduce", None)
        try:
            paths = [p for p in self._chunks if os.path.getsize(p) > 0]
            if paths:
                rdd = Job.reduce_files(
                    self._spark, paths, reduce_fn, num_partitions=1
                )
                prev_key, have_prev = None, False
                for key, value in rdd.toLocalIterator():
                    if reduce_fn is None and have_prev and prev_key == key:
                        # Lazy NoMethodError parity: only when duplicates meet
                        raise AttributeError(
                            "implementation has no 'reduce' but duplicate "
                            f"keys met in the reducer (key={key!r}) — "
                            "reference raises NoMethodError here "
                            "(spec/map_reduce/reducer_spec.rb:37-62)"
                        )
                    prev_key, have_prev = key, True
                    yield key, value
        finally:
            for p in self._chunks:
                if os.path.exists(p):
                    os.unlink(p)
            self._chunks.clear()
