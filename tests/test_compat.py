"""Reference-API façade (core/compat.py): ports of the reference's worker
flow specs (spec/map_reduce/mapper_spec.rb, reducer_spec.rb) against the
two-class Mapper/Reducer surface."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

import pytest

from map_reduce_ruby_spark.core import HashPartitioner, InvalidChunkLimit, Job, Mapper, Reducer


def _word_count():
    # Defined per-call (not module top-level) so cloudpickle serializes the
    # class by VALUE — executors cannot import the tests package.
    class WordCount:
        def map(self, text):
            for w in text.split():
                yield w, 1

        def reduce(self, key, a, b):
            return a + b

    return WordCount()


def _no_reduce():
    class NoReduce:
        def map(self, text):
            for w in text.split():
                yield w, 1

    return NoReduce()


def _json_lines(path: str) -> list:
    return [json.loads(line) for line in Path(path).read_text().splitlines()]


def test_end_to_end_worker_flow(spark, tmp_path):
    """The full README worker loop: map -> shuffle -> (files) -> add_chunk ->
    reduce, reference README.md:55-91."""
    mapper = Mapper(_word_count(), spark, partitioner=HashPartitioner(4))
    mapper.map("the quick brown fox")
    mapper.map("the lazy dog")
    mapper.map("the quick dog")

    partitions = mapper.shuffle(out_dir=str(tmp_path / "shuffle"))
    assert partitions, "expected non-empty partitions"
    assert set(partitions) <= set(range(4))

    # "download" every partition chunk into one reducer (single worker)
    reducer = Reducer(_word_count(), spark)
    for pid, path in sorted(partitions.items()):
        dest = reducer.add_chunk()
        shutil.copyfile(path, dest)

    result = dict(reducer.reduce())
    assert result == {
        "the": 3, "quick": 2, "dog": 2, "brown": 1, "fox": 1, "lazy": 1,
    }


def test_shuffle_block_form_cleans_files(spark, tmp_path):
    mapper = Mapper(_word_count(), spark)
    mapper.map("a b a")
    seen: dict[int, str] = {}
    ret = mapper.shuffle(block=lambda parts: seen.update(parts),
                         out_dir=str(tmp_path / "s2"))
    assert ret is None and seen
    for path in seen.values():  # yield-then-cleanup, mapper.rb:88-93
        assert not os.path.exists(path)


def test_chunk_files_are_reference_format(spark, tmp_path):
    """json([key, value]) per line, key-sorted (mapper.rb:115,131-135)."""
    mapper = Mapper(_word_count(), spark, partitioner=lambda k: 0)
    mapper.map("b a c a")
    parts = mapper.shuffle(out_dir=str(tmp_path / "fmt"))
    [path] = parts.values()
    lines = _json_lines(path)
    assert lines == [["a", 2], ["b", 1], ["c", 1]]


def test_partition_assignment_matches_partitioner(spark, tmp_path):
    part = HashPartitioner(4)
    mapper = Mapper(_no_reduce(), spark, partitioner=part)
    mapper.map("alpha beta gamma delta epsilon")
    parts = mapper.shuffle(out_dir=str(tmp_path / "pa"))
    for pid, path in parts.items():
        for key, _ in _json_lines(path):
            assert part(key) == pid


def test_no_reduce_mapper_preserves_duplicates(spark, tmp_path):
    """O16 passthrough (spec/map_reduce/mapper_spec.rb:89-125)."""
    mapper = Mapper(_no_reduce(), spark, partitioner=lambda k: 0)
    mapper.map("x y x")
    [path] = mapper.shuffle(out_dir=str(tmp_path / "nr")).values()
    lines = _json_lines(path)
    assert lines == [["x", 1], ["x", 1], ["y", 1]]


def test_no_reduce_shuffle_is_fifo_stable_by_default(spark, tmp_path):
    """Full port of spec/map_reduce/mapper_spec.rb:89-125 ("only sorts, but
    does not reduce ... when there is no reduce implementation"), with the
    duplicate keys given DISTINGUISHABLE values so the assertion actually
    pins duplicate ORDER: the reference's merge is FIFO-stable for equal
    keys (lib/map_reduce/priority_queue.rb:35,50-53), and the façade's
    no-reduce path now defaults stable=True to match byte-for-byte."""

    def _impl():
        class SortOnly:
            def map(self, _input):
                yield ["key3", 1], {"value": 1}
                yield ["key3", 3], {"value": 1}
                yield ["key1", 1], {"value": "first"}
                yield ["key2", 1], {"value": 1}
                yield ["key1", 1], {"value": "second"}
                yield ["key3", 11], {"value": 1}
                yield ["key3", 2], {"value": 1}

        return SortOnly()

    mapper = Mapper(_impl(), spark, partitioner=HashPartitioner(2))
    mapper.map("key")
    parts = mapper.shuffle(out_dir=str(tmp_path / "fifo"))
    result = {
        pid: _json_lines(path) for pid, path in parts.items()
    }
    # Same partition split as the reference spec (SHA1 placement), keys
    # numerically sorted (["key3",2] < ["key3",11]), and the two ["key1",1]
    # duplicates in yield order — "first" before "second".
    assert result == {
        0: [
            [["key1", 1], {"value": "first"}],
            [["key1", 1], {"value": "second"}],
            [["key2", 1], {"value": 1}],
            [["key3", 3], {"value": 1}],
            [["key3", 11], {"value": 1}],
        ],
        1: [
            [["key3", 1], {"value": 1}],
            [["key3", 2], {"value": 1}],
        ],
    }


def test_no_reduce_fifo_order_across_many_inputs(spark, tmp_path):
    """Duplicate order follows INPUT order across map() calls, not just
    within one call: seq = (input index, intra-input yield order)."""

    def _impl():
        class Dups:
            def map(self, i):
                yield "k", f"v{i}a"
                yield "k", f"v{i}b"

        return Dups()

    mapper = Mapper(_impl(), spark, partitioner=lambda k: 0)
    for i in range(5):
        mapper.map(i)
    [path] = mapper.shuffle(out_dir=str(tmp_path / "fifo2")).values()
    values = [v for _k, v in _json_lines(path)]
    assert values == [f"v{i}{s}" for i in range(5) for s in ("a", "b")]


def test_reducer_distinct_keys_need_no_reduce(spark):
    """spec/map_reduce/reducer_spec.rb:37-62."""
    reducer = Reducer(_no_reduce(), spark)
    with open(reducer.add_chunk(), "w") as f:
        f.write('["a",1]\n["b",2]\n')
    with open(reducer.add_chunk(), "w") as f:
        f.write('["c",3]\n')
    assert dict(reducer.reduce()) == {"a": 1, "b": 2, "c": 3}


def test_reducer_duplicate_keys_without_reduce_raise_lazily(spark):
    reducer = Reducer(_no_reduce(), spark)
    with open(reducer.add_chunk(), "w") as f:
        f.write('["a",1]\n')
    with open(reducer.add_chunk(), "w") as f:
        f.write('["a",2]\n')
    with pytest.raises(AttributeError, match="reduce"):
        list(reducer.reduce())


def test_reducer_output_key_sorted(spark):
    """Merge-only output globally sorted (reducer_spec.rb:64-97)."""
    reducer = Reducer(_word_count(), spark)
    with open(reducer.add_chunk(), "w") as f:
        f.write('["c",1]\n["a",1]\n')
    with open(reducer.add_chunk(), "w") as f:
        f.write('["b",1]\n["a",1]\n')
    keys = [k for k, _ in reducer.reduce()]
    assert keys == ["a", "b", "c"]


def test_reducer_cleans_chunks_even_on_error(spark):
    reducer = Reducer(_no_reduce(), spark)
    p1 = reducer.add_chunk()
    p2 = reducer.add_chunk()
    with open(p1, "w") as f:
        f.write('["k",1]\n')
    with open(p2, "w") as f:
        f.write('["k",2]\n')
    with pytest.raises(AttributeError):
        list(reducer.reduce())
    assert not os.path.exists(p1) and not os.path.exists(p2)


def test_chunk_limit_guards(spark):
    mapper = Mapper(_word_count(), spark)
    mapper.map("a")
    with pytest.raises(InvalidChunkLimit):
        mapper.shuffle(chunk_limit=1)
    reducer = Reducer(_word_count(), spark)
    with pytest.raises(InvalidChunkLimit):
        next(reducer.reduce(chunk_limit=1))


def test_empty_reducer_yields_nothing(spark):
    """reducer_spec.rb:140-142."""
    assert list(Reducer(_word_count(), spark).reduce()) == []


def test_map_is_the_source_connector(spark, tmp_path):
    """The reference's map receives arbitrary inputs (a URL in its README) —
    i.e. the user's map IS the source connector (reference README.md:35-41).
    Here: inputs are file paths; map opens and tokenizes the file."""
    f1, f2 = str(tmp_path / "a.txt"), str(tmp_path / "b.txt")
    Path(f1).write_text("spark shuffle spark")
    Path(f2).write_text("merge shuffle")

    def _impl():
        class FileWordCount:
            def map(self, path):
                with open(path) as f:
                    words = f.read().split()
                for w in words:
                    yield w, 1

            def reduce(self, key, a, b):
                return a + b

        return FileWordCount()

    mapper = Mapper(_impl(), spark, partitioner=lambda k: 0)
    mapper.map(f1)
    mapper.map(f2)
    [path] = mapper.shuffle(out_dir=str(tmp_path / "out")).values()
    assert _json_lines(path) == [
        ["merge", 1], ["shuffle", 2], ["spark", 2],
    ]


def test_map_forwards_full_arg_list(spark, tmp_path):
    """mapper.map(a, b, kw=c) reaches ONE implementation.map(a, b, kw=c)
    call (reference mapper.rb:43 forwards *args/**kwargs)."""

    def _impl():
        class PairImpl:
            def map(self, prefix, text, weight=1):
                for w in text.split():
                    yield f"{prefix}:{w}", weight

            def reduce(self, key, a, b):
                return a + b

        return PairImpl()

    mapper = Mapper(_impl(), spark, partitioner=lambda k: 0)
    mapper.map("en", "a b a", weight=2)
    mapper.map("de", "a")
    [path] = mapper.shuffle(out_dir=str(tmp_path / "args")).values()
    assert _json_lines(path) == [
        ["de:a", 1], ["en:a", 4], ["en:b", 2],
    ]


def test_threaded_ingest_is_lossless(spark, tmp_path):
    """O19: many threads feeding ONE mapper concurrently (the reference's
    MonitorMixin contract, mapper.rb:7,45) must lose no input and produce
    the same counts as serial ingest."""
    import threading

    class CountImpl:
        def map(self, word):
            yield word, 1

        def reduce(self, key, a, b):
            return a + b

    mapper = Mapper(CountImpl(), spark, partitioner=lambda k: 0)
    n_threads, per_thread = 8, 250

    def feed(t):
        for i in range(per_thread):
            mapper.map(f"w{i % 10}")

    threads = [threading.Thread(target=feed, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    [path] = mapper.shuffle(out_dir=str(tmp_path / "threaded")).values()
    counts = dict(_json_lines(path))
    assert sum(counts.values()) == n_threads * per_thread
    assert counts == {f"w{i}": n_threads * per_thread // 10 for i in range(10)}


# --------------------------------------------------------- memory_limit spill


def _read_part_bytes(parts: dict[int, str]) -> dict[int, bytes]:
    return {pid: Path(path).read_bytes() for pid, path in sorted(parts.items())}


def test_memory_limit_bounds_buffer_and_spills_reference_chunks(spark):
    """The reference's bounded-buffer contract (mapper.rb:21,44-54,123-141):
    feeding far more than memory_limit of pairs keeps the driver buffer
    under the limit at all times and spills sorted, pre-combined
    reference-format chunk files."""
    mapper = Mapper(_word_count(), spark, partitioner=HashPartitioner(4),
                    memory_limit=256)
    max_seen = 0
    for i in range(200):
        mapper.map(f"w{i % 7} w{i % 7} common tail{i}")
        max_seen = max(max_seen, mapper._buffer_size)
    assert max_seen < 256 + 64, "buffer must flush at the JSON-size threshold"
    assert len(mapper._spill_chunks) >= 2, "expected multiple spills"
    for path in mapper._spill_chunks:
        lines = _json_lines(path)
        # reference chunk format: [[partition, key], value], sorted by
        # (partition, key), consecutive equal keys combined (reduce impl)
        sort_keys = [(pk[0], pk[1]) for pk, _v in lines]
        assert sort_keys == sorted(sort_keys)
        assert len(set(map(tuple, sort_keys))) == len(sort_keys), \
            "combiner must fold equal keys within a spill chunk"
    # the spill path still produces the right answer end-to-end
    parts = mapper.shuffle()
    counts: dict[str, int] = {}
    for path in parts.values():
        for k, v in _json_lines(path):
            counts[k] = counts.get(k, 0) + v  # keys unique per file anyway
        os.unlink(path)
    assert counts["common"] == 200
    assert counts["w0"] == 2 * len([i for i in range(200) if i % 7 == 0])
    assert sum(counts.values()) == 200 * 4


def test_memory_limit_output_byte_identical_with_reduce(spark, tmp_path):
    """Partition files from a multi-spill Mapper are byte-identical to one
    Job.shuffle_to_files over the same inputs, with no spill at all."""
    texts = [f"alpha beta w{i % 13} w{i % 5} gamma" for i in range(120)]
    impl = _word_count()

    bounded = Mapper(impl, spark, partitioner=HashPartitioner(8),
                     memory_limit=300)
    for t in texts:
        bounded.map(t)
    assert len(bounded._spill_chunks) >= 2
    pb = _read_part_bytes(bounded.shuffle(out_dir=str(tmp_path / "b")))
    job = Job(map_fn=impl.map, reduce_fn=impl.reduce,
              partitioner=HashPartitioner(8), num_partitions=8)
    pu = _read_part_bytes(job.shuffle_to_files(spark, texts, str(tmp_path / "u")))
    assert pb == pu


def test_memory_limit_output_byte_identical_no_reduce_fifo(spark, tmp_path):
    """No-reduce spill path: duplicates preserved AND FIFO-stable across
    spill-chunk boundaries — equal keys come out in input order exactly as
    the reference's k-way merge pops them (priority_queue.rb:35,50-53)."""

    def _impl():
        class Dups:
            def map(self, i):
                yield "dup", f"v{i}"
                yield f"solo{i}", i

        return Dups()

    impl = _impl()
    bounded = Mapper(impl, spark, partitioner=lambda k: 0,
                     memory_limit=120)
    for i in range(40):
        bounded.map(i)
    assert len(bounded._spill_chunks) >= 3
    [pb] = _read_part_bytes(bounded.shuffle(out_dir=str(tmp_path / "b"))).values()
    job = Job(map_fn=impl.map, partitioner=lambda k: 0)
    [pu] = _read_part_bytes(
        job.shuffle_to_files(spark, range(40), str(tmp_path / "u"), stable=True)
    ).values()
    assert pb == pu
    dup_vals = [json.loads(l)[1] for l in pb.decode().splitlines()
                if json.loads(l)[0] == "dup"]
    assert dup_vals == [f"v{i}" for i in range(40)]


def test_memory_limit_spill_chunks_cleaned_after_shuffle(spark, tmp_path):
    """The reference deletes spilled chunks in shuffle's ensure
    (mapper.rb:90-93)."""
    mapper = Mapper(_word_count(), spark, partitioner=lambda k: 0,
                    memory_limit=64)
    for i in range(50):
        mapper.map(f"word{i}")
    spilled = list(mapper._spill_chunks)
    assert spilled
    parts = mapper.shuffle(out_dir=str(tmp_path / "clean"))
    for p in spilled:
        assert not os.path.exists(p)
    assert mapper._spill_chunks == [] and mapper._buffer_size == 0
    for path in parts.values():
        os.unlink(path)


def test_memory_limit_threaded_ingest_is_lossless(spark, tmp_path):
    """O19 under the spill path: concurrent map() calls race the buffer and
    the spill trigger; the lock serializes them and no pair is lost."""
    import threading

    class CountImpl:
        def map(self, word):
            yield word, 1

        def reduce(self, key, a, b):
            return a + b

    mapper = Mapper(CountImpl(), spark, partitioner=lambda k: 0,
                    memory_limit=512)
    n_threads, per_thread = 8, 250

    def feed(t):
        for i in range(per_thread):
            mapper.map(f"w{i % 10}")

    threads = [threading.Thread(target=feed, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert mapper._spill_chunks, "expected spills under the tiny limit"
    [path] = mapper.shuffle(out_dir=str(tmp_path / "tspill")).values()
    counts = dict(_json_lines(path))
    assert counts == {f"w{i}": n_threads * per_thread // 10 for i in range(10)}


def test_shuffle_consumes_mapper_state_both_paths(spark, tmp_path):
    """A second shuffle on the same mapper yields EMPTY partitions — the
    reference's shuffle deletes its chunks and the buffer was already
    flushed (mapper.rb:81,88-93), so the state is consumed, not replayed.
    Both with no spill before shuffle (the default limit) and with spills
    during map()."""
    for ml in (16 * 1024 * 1024, 64):
        mapper = Mapper(_word_count(), spark, partitioner=lambda k: 0,
                        memory_limit=ml)
        mapper.map("a b a")
        first = mapper.shuffle(out_dir=str(tmp_path / f"c1_{ml}"))
        assert first, "first shuffle must produce data"
        second = mapper.shuffle(out_dir=str(tmp_path / f"c2_{ml}"))
        assert second == {}, f"memory_limit={ml}: state must be consumed"
        # mapping again after a shuffle works (the reference worker loops)
        mapper.map("c")
        third = mapper.shuffle(out_dir=str(tmp_path / f"c3_{ml}"))
        assert len(third) == 1
        for parts in (first, third):
            for p in parts.values():
                os.unlink(p)


def test_memory_limit_spill_raises_on_incomparable_keys(spark):
    """The spill sort compares keys exactly where the reference's
    write_chunk sort_by does (mapper.rb:126): mixed-type keys forced into
    one partition raise at the spill triggered inside map(), matching the
    reference's ArgumentError timing."""
    import pytest

    from map_reduce_ruby_spark.core.keys import IncomparableKeyError

    class MixedKeys:
        def map(self, _x):
            yield "a" * 40, 1
            yield 1, 1  # number vs string: no Ruby <=> order

    mapper = Mapper(MixedKeys(), spark, partitioner=lambda k: 0,
                    memory_limit=32)
    with pytest.raises(IncomparableKeyError):
        for i in range(10):  # the first over-limit map() call spills
            mapper.map(i)


def test_mapper_runs_map_at_map_time(spark):
    """The reference's Mapper#map runs the implementation's map at once
    (mapper.rb:43-54): its error surfaces from map(), not from shuffle()."""

    class Failing:
        def map(self, text):
            raise ValueError(f"bad input {text!r}")

    mapper = Mapper(Failing(), spark)
    with pytest.raises(ValueError, match="bad input 'x'"):
        mapper.map("x")


def test_fold_receives_its_key_on_every_path(spark, tmp_path):
    """The reference's fold is reduce(key, v1, v2) on every path
    (README.md:42-50). A fold that uses its key gives the reference model's
    answer through Job.run, Job.run_arrow, Job.reduce_files and the
    Mapper -> Reducer flow, whether the Mapper spills every pair or never
    spills before shuffle."""

    class KeyedCount:
        def map(self, text):
            for w in text.split():
                yield w, 1

        def reduce(self, key, a, b):
            return a + b + len(key)

    texts = ["a a b", "a", "bb cc bb", "ccc a bb", "b"]
    impl = KeyedCount()
    # reference model: n pairs of a key need n - 1 folds, each adding len(key)
    words = [w for t in texts for w in t.split()]
    expected = {w: words.count(w) + (words.count(w) - 1) * len(w) for w in set(words)}

    job = Job(map_fn=impl.map, reduce_fn=impl.reduce, num_partitions=2)
    assert dict(job.run(spark, texts).collect()) == expected

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    arrow = {json.loads(r.k): json.loads(r.v) for r in job.run_arrow(spark, df).collect()}
    assert arrow == expected

    chunk_paths = []
    for i, t in enumerate(texts):
        path = tmp_path / f"chunk{i}.jsonl"
        path.write_text("".join(json.dumps([w, 1]) + "\n" for w in t.split()))
        chunk_paths.append(str(path))
    files = Job.reduce_files(spark, chunk_paths, impl.reduce, num_partitions=2)
    assert dict(files.collect()) == expected

    for ml in (1, 16 * 1024 * 1024):
        reducer = Reducer(impl, spark)
        # two workers, so equal keys also meet in the reducer
        for w, worker_texts in enumerate((texts[:2], texts[2:])):
            mapper = Mapper(impl, spark, partitioner=HashPartitioner(2), memory_limit=ml)
            for t in worker_texts:
                mapper.map(t)
            n_pairs = len(" ".join(worker_texts).split())
            assert len(mapper._spill_chunks) == (n_pairs if ml == 1 else 0)
            parts = mapper.shuffle(out_dir=str(tmp_path / f"m{ml}_{w}"))
            for path in parts.values():
                shutil.copyfile(path, reducer.add_chunk())
        assert dict(reducer.reduce()) == expected, f"memory_limit={ml}"


# ------------------------------------------- in-process merge (chunk_limit)


@pytest.fixture
def merge_temps(tmp_path, monkeypatch):
    """Give the façade a private temp dir and record every cascade temp file
    (``mr_merge_*``) its merges create."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))
    made: list[str] = []
    real_mkstemp = tempfile.mkstemp

    def mkstemp(*args, **kwargs):
        fd, path = real_mkstemp(*args, **kwargs)
        if os.path.basename(path).startswith("mr_merge_"):
            made.append(path)
        return fd, path

    monkeypatch.setattr(tempfile, "mkstemp", mkstemp)
    return tmpdir, made


def _reference_cascades(runs: int, chunk_limit: int) -> int:
    """Temp files the reference's multi-run loop writes (reducer.rb:75-93,
    mergeable.rb:31-46): while more than chunk_limit files wait, shift
    chunk_limit of them off the queue and push one merged file back."""
    queue, made = list(range(runs)), 0
    while len(queue) > chunk_limit:
        queue = queue[chunk_limit:] + ["merged"]
        made += 1
    return made


def _write_chunks(reducer, chunks):
    for pairs in chunks:
        with open(reducer.add_chunk(), "w") as f:
            f.writelines(json.dumps(p) + "\n" for p in pairs)


def test_reducer_multi_run_reduce_with_chunk_limit_2(spark, merge_temps):
    """reducer_spec.rb:99-138: three chunks reduced at chunk_limit 2 give
    the right sums through one cascade, and no chunk or merge temp file is
    left afterwards."""
    tmpdir, made = merge_temps
    reducer = Reducer(_word_count(), spark)
    _write_chunks(reducer, [
        [["key1", 1], ["key2", 2], ["key3", 3]],
        [["key1", 4], ["key3", 5], ["key4", 6]],
        [["key2", 7], ["key3", 8], ["key5", 9]],
    ])
    assert list(reducer.reduce(chunk_limit=2)) == [
        ("key1", 5), ("key2", 9), ("key3", 16), ("key4", 6), ("key5", 9),
    ]
    assert len(made) == 1
    assert os.listdir(tmpdir) == []


def test_k_way_merge_order_under_cascade(merge_temps):
    """mergeable_spec.rb:8-43: three sorted files with duplicate keys merge
    into one key-sorted stream at chunk_limit 2, duplicates in file order;
    and :45-60, one file streams through unchanged with no temp file."""
    from map_reduce_ruby_spark.core.compat import _merge, _pair_item, _pair_line

    tmpdir, made = merge_temps
    files = [
        [["a", 1], ["c", 1], ["e", 1]],
        [["a", 2], ["b", 2], ["e", 2]],
        [["b", 3], ["c", 3], ["d", 3]],
    ]
    runs = []
    for i, pairs in enumerate(files):
        path = tmpdir / f"run{i}.jsonl"
        path.write_text("".join(json.dumps(p) + "\n" for p in pairs))
        runs.append((str(path), 0, None))

    def merged(batch, temps):
        return [[k, v] for _, k, v in _merge(batch, 2, None, _pair_item, _pair_line, temps)]

    temps: list[str] = []
    assert merged(runs, temps) == [
        ["a", 1], ["a", 2], ["b", 2], ["b", 3], ["c", 1], ["c", 3],
        ["d", 3], ["e", 1], ["e", 2],
    ]
    assert temps == made and len(made) == 1
    assert merged(runs[:1], []) == files[0]
    assert len(made) == 1


@pytest.mark.parametrize("with_reduce", [True, False])
def test_mapper_output_independent_of_chunk_limit(spark, tmp_path, merge_temps, with_reduce):
    """A Mapper with at least five spills writes byte-identical partition
    files at chunk_limit 2 (a cascade) and 32 (one merge). Duplicate keys
    carry distinct values, so without reduce the bytes also pin their
    input (FIFO) order through the cascade."""
    _tmpdir, made = merge_temps

    class Impl:
        def map(self, i):
            yield f"w{i % 7}", i
            yield f"u{i}", i

    if with_reduce:
        Impl.reduce = lambda self, key, a, b: a + b

    out = {}
    for limit in (2, 32):
        mapper = Mapper(Impl(), spark, partitioner=HashPartitioner(3), memory_limit=200)
        for i in range(60):
            mapper.map(i)
        spills = len(mapper._spill_chunks) + bool(mapper._buffer)  # + the tail
        assert 5 <= spills < 32
        before = len(made)
        out[limit] = _read_part_bytes(
            mapper.shuffle(chunk_limit=limit, out_dir=str(tmp_path / f"l{limit}"))
        )
        assert len(made) - before == _reference_cascades(spills, limit)
    assert out[2] == out[32]
    pairs = [json.loads(line) for data in out[2].values() for line in data.splitlines()]
    for w in range(7):
        values = [v for k, v in pairs if k == f"w{w}"]
        inputs = list(range(w, 60, 7))
        assert values == ([sum(inputs)] if with_reduce else inputs)


@pytest.mark.parametrize("runs,chunk_limit", [(5, 2), (7, 3), (33, 32), (4, 4)])
def test_cascade_count_matches_reference_loop(spark, merge_temps, runs, chunk_limit):
    """As many cascade temp files as the reference loop writes: 5 runs at
    chunk_limit 2 take 3."""
    _tmpdir, made = merge_temps
    assert _reference_cascades(5, 2) == 3
    reducer = Reducer(_word_count(), spark)
    _write_chunks(reducer, [[[f"k{i}", 1], ["shared", 1]] for i in range(runs)])
    result = dict(reducer.reduce(chunk_limit=chunk_limit))
    assert result == {"shared": runs, **{f"k{i}": 1 for i in range(runs)}}
    assert len(made) == _reference_cascades(runs, chunk_limit)


def test_reducer_incomparable_keys_across_chunks_raise_and_clean(spark, merge_temps):
    """Keys with no Ruby order, in two different chunks, raise
    IncomparableKeyError from reduce() itself (here inside a cascade), and
    every chunk and merge temp file is still deleted."""
    from map_reduce_ruby_spark.core.keys import IncomparableKeyError

    tmpdir, made = merge_temps
    reducer = Reducer(_word_count(), spark)
    _write_chunks(reducer, [[["a", 1]], [[1, 1]], [["b", 1]]])
    with pytest.raises(IncomparableKeyError):
        list(reducer.reduce(chunk_limit=2))
    assert made, "the error must come from the cascade merge"
    assert os.listdir(tmpdir) == []


def test_shuffle_and_reduce_fire_no_spark_job(spark, tmp_path, count_jobs):
    """The façade merges in-process: Mapper.shuffle and Reducer.reduce run
    no Spark job."""

    def map_shuffle_reduce():
        mapper = Mapper(_word_count(), spark, partitioner=HashPartitioner(2), memory_limit=64)
        for i in range(20):
            mapper.map(f"w{i % 3} x{i}")
        parts = mapper.shuffle(out_dir=str(tmp_path / "s"))
        reducer = Reducer(_word_count(), spark)
        for path in parts.values():
            shutil.copyfile(path, reducer.add_chunk())
        return dict(reducer.reduce())

    counts, jobs = count_jobs(map_shuffle_reduce)
    assert counts["w0"] == 7
    assert jobs == 0
