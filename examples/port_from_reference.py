"""Worked port of the reference's README worker flow to this engine.

The reference (mrkamel/map-reduce-ruby, README.md:35-91) structures a job as:

    class WordCounter
      def map(url)                    # connector + map in one method
        text = fetch(url)
        text.split.each { |w| yield(w, 1) }
      end
      def reduce(key, a, b) = a + b   # associative binary fold
    end

    mapper  = MapReduce::Mapper.new(WordCounter.new, partitioner:, memory_limit:)
    mapper.map(url)                   # many times, possibly many threads
    mapper.shuffle(chunk_limit:) { |partitions| upload each partition file }

    reducer = MapReduce::Reducer.new(WordCounter.new)
    reducer.add_chunk                 # download each partition chunk
    reducer.reduce(chunk_limit:) { |word, count| store word, count }

Three ways to run the same job here, smallest change first. Run with:
    python examples/port_from_reference.py
"""

from __future__ import annotations

import sys
import os
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_ruby_spark.core.compat import Mapper, Reducer
from map_reduce_ruby_spark.core.job import Job
from map_reduce_ruby_spark.session import get_spark

TEXTS = [
    "the quick brown fox",
    "the lazy dog",
    "the quick dog jumps",
]


class WordCounter:
    """The implementation class ports line-for-line: ``yield`` becomes a
    generator, ``reduce`` keeps the exact (key, v1, v2) contract (must be
    associative + commutative — same rule as reference README.md:42-50)."""

    def map(self, text):
        for w in text.split():
            yield w, 1

    def reduce(self, key, a, b):
        return a + b


def port_1_compat_facade(spark) -> dict:
    """Smallest diff: the reference's exact two-class worker API.

    Mapper.map buffers driver-side (same as the reference worker's local
    accumulation) under the reference's bounded-buffer spill discipline:
    pairs spill to sorted chunk files at the JSON-size threshold, exactly
    mapper.rb:50-52, and memory_limit defaults to the reference's 16 MiB.
    Use port 2/3 for cluster-sized sources."""
    mapper = Mapper(WordCounter(), spark, memory_limit=16 * 1024 * 1024)
    for text in TEXTS:
        mapper.map(text)  # thread-safe, like the reference's MonitorMixin

    counts = {}
    partitions = mapper.shuffle()  # {partition index -> chunk file path}
    reducer = Reducer(WordCounter(), spark)
    for path in partitions.values():
        chunk = reducer.add_chunk()  # reference flow: allocate, then fill
        os.replace(path, chunk)  # (a real worker downloads into it)
    for word, count in reducer.reduce():
        counts[word] = count
    return counts


def port_2_job_api(spark) -> dict:
    """The engine-native form: one Job, distributed end-to-end. ``inputs``
    may be a Python iterable, an RDD, or a DataFrame — the map function
    remains the connector, exactly like the reference."""
    job = Job(
        map_fn=lambda text: ((w, 1) for w in text.split()),
        reduce_fn=lambda key, a, b: a + b,
        num_partitions=4,
    )
    return dict(job.run(spark, TEXTS).collect())


def port_3_shared_storage(spark) -> dict:
    """The two-phase cluster flow with the reference's chunk files on shared
    storage: executors write sorted JSON-lines runs (byte-compatible with
    the reference's JSON.generate layout) and any reference-format consumer
    — including the reference itself — can pick them up."""
    job = Job(
        map_fn=lambda text: ((w, 1) for w in text.split()),
        reduce_fn=lambda key, a, b: a + b,
        num_partitions=4,
    )
    gen_dir = os.path.join(tempfile.mkdtemp(), "gen0")
    partitions = job.shuffle_to_files(spark, TEXTS, gen_dir)
    reduced = Job.reduce_files(spark, sorted(partitions.values()), lambda k, a, b: a + b)
    return dict(reduced.collect())


def port_4_object_store(spark) -> dict:
    """The reference's ACTUAL deployment story (reference README.md:60-84:
    mappers upload partition files to S3, reducers download them), run
    end-to-end: register a storage backend for the bucket scheme ONCE on
    the driver, address everything by URI, and the partition->path map
    comes back from the manifest the driver builds from the tasks'
    (partition, file, rows) reports — no directory listing anywhere. Here
    the 'object store' is a prefix-mapped local backend; an s3 deployment
    swaps in its boto3 wrapper with the same five operations."""
    from map_reduce_ruby_spark.sources.storage import (
        PrefixMappedStorage,
        register_storage_backend,
    )

    root = tempfile.mkdtemp()
    register_storage_backend("demo", PrefixMappedStorage("demo", root))
    job = Job(
        map_fn=lambda text: ((w, 1) for w in text.split()),
        reduce_fn=lambda key, a, b: a + b,
        num_partitions=4,
    )
    pmap = job.shuffle_to_files(spark, TEXTS, "demo://bucket/wordcount/gen0")
    # "download" = resolve each URI through the backend, reference-style
    local = [os.path.join(root, uri[len("demo://"):]) for uri in pmap.values()]
    reduced = Job.reduce_files(spark, sorted(local), lambda k, a, b: a + b)
    return dict(reduced.collect())


def port_5_s3(spark) -> dict:
    """The same S3 story through the SHIPPED S3 backend (storage.S3Storage —
    lazy boto3 client, single-PUT atomic publish, already registered for
    s3:// URIs). In production this runs as-is against a real bucket once
    boto3 + credentials exist; here the client is the file-backed
    S3FileClientDouble implementing the same narrow boto3 surface, so the
    entire mapper-upload -> manifest -> reducer-download flow (reference
    README.md:55-91, worker for worker) executes through the real
    S3Storage code paths with no network."""
    import functools

    from map_reduce_ruby_spark.sources.storage import (
        S3FileClientDouble,
        S3Storage,
        register_storage_backend,
    )

    root = tempfile.mkdtemp()
    register_storage_backend(
        "s3", S3Storage(client_factory=functools.partial(S3FileClientDouble, root))
    )
    job = Job(
        map_fn=lambda text: ((w, 1) for w in text.split()),  # mapper phase
        reduce_fn=lambda key, a, b: a + b,
        num_partitions=4,
    )
    # mappers "upload to S3": executor tasks publish chunks via the backend
    pmap = job.shuffle_to_files(spark, TEXTS, "s3://bucket/wordcount/gen0")
    # reducers "download from S3": resolve each chunk URI through the backend
    store = S3Storage(client_factory=functools.partial(S3FileClientDouble, root))
    dl_dir = tempfile.mkdtemp()
    local = []
    for uri in sorted(pmap.values()):
        dst = os.path.join(dl_dir, os.path.basename(uri))
        with open(dst, "w", encoding="utf-8") as f:
            f.write(store.read_text(uri))
        local.append(dst)
    reduced = Job.reduce_files(spark, local, lambda k, a, b: a + b)
    return dict(reduced.collect())


def main() -> int:
    spark = get_spark(app_name="port_example", shuffle_partitions=4)
    expected = {
        "the": 3, "quick": 2, "dog": 2, "brown": 1, "fox": 1, "lazy": 1, "jumps": 1,
    }
    for name, fn in [
        ("compat facade", port_1_compat_facade),
        ("Job API", port_2_job_api),
        ("shared-storage chunks", port_3_shared_storage),
        ("object-store handoff", port_4_object_store),
        ("shipped s3 backend", port_5_s3),
    ]:
        got = fn(spark)
        assert got == expected, (name, got)
        print(f"{name:>22}: OK {got}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
