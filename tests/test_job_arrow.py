"""Arrow-batched compat path (Job.run_arrow / shuffle_to_files via_arrow).

The classic path moves every (key, value) pair across the Python-pickle
boundary three times (input rows, shuffle, output) — payload-linear and the
worst sf1 decade ratios in SCALING.md. run_arrow keeps the SAME user
protocol (generator map, binary fold, SHA1 placement) but rides Arrow
batches and the JVM Tungsten exchange. These tests pin the parity contract:
identical results, identical partition placement, identical chunk bytes.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_ruby_spark.core import Job
from map_reduce_ruby_spark.core.job import _steering_ids


# NOTE: the map/reduce fns are built by a factory (not module-level defs):
# module-level functions pickle BY REFERENCE to this test module's name,
# which Spark's worker processes cannot import (tests/ is not on their
# path); closures from a factory are serialized by value.
def _mk_fns():
    def map_wc(text):
        for w in text.split():
            yield w, 1

    def fold(key, a, b):
        return a + b

    return map_wc, fold


_map_wc, _fold = _mk_fns()


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")


def _collect_kv(df):
    return sorted((json.loads(r.k), json.loads(r.v)) for r in df.collect())


def test_run_arrow_matches_rdd_path_with_reduce(spark, sf_dir):
    job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=16)
    docs = _docs(spark, sf_dir)
    classic = sorted(job.run(spark, docs.rdd.map(lambda r: r[0])).collect())
    arrow = _collect_kv(job.run_arrow(spark, docs))
    assert arrow == classic


def test_run_arrow_matches_rdd_path_no_reduce_duplicates_preserved(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "event_id")
    job = Job(map_fn=lambda t: [(t[0], t[1])], num_partitions=8)
    classic = sorted(job.run(spark, ev.rdd.map(tuple)).collect())
    arrow = _collect_kv(job.run_arrow(spark, ev))
    assert arrow == classic


def test_run_arrow_partition_index_equals_partitioner(spark, sf_dir):
    """The steered exchange must land every key at partition index ==
    partitioner(key) — the reference's SHA1 placement contract (O6), held
    through a pure-JVM shuffle."""
    import pyarrow as pa

    job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=16)
    out = job.run_arrow(spark, _docs(spark, sf_dir))

    def tag(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for b in batches:
            yield pa.record_batch(
                [b.column(0), pa.array([pid] * b.num_rows, pa.int32())],
                names=["k", "pid"],
            )

    part = job.partitioner
    for r in out.mapInArrow(tag, schema="k string, pid int").collect():
        assert part(json.loads(r.k)) == r.pid


def test_run_arrow_partial_combine_flush_is_lossless(spark, sf_dir, monkeypatch):
    """A tiny COMBINE_FLUSH forces many partial map-side combines; the
    post-shuffle refold must still produce exact totals (the associative+
    commutative contract)."""
    from map_reduce_ruby_spark.core import job as job_module

    job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=16)
    docs = _docs(spark, sf_dir)
    full = _collect_kv(job.run_arrow(spark, docs))
    monkeypatch.setattr(job_module, "COMBINE_FLUSH", 3)
    flushed = _collect_kv(job.run_arrow(spark, docs))
    assert flushed == full


def test_run_arrow_sorted_within_partition(spark, sf_dir):
    """O15: key-sorted output within each partition (ruby <=> order)."""
    from map_reduce_ruby_spark.core.keys import SortKey

    job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=4)
    out = job.run_arrow(spark, _docs(spark, sf_dir), sort_output=True)
    for part_rows in out.rdd.glom().collect():
        keys = [SortKey(json.loads(r.k)) for r in part_rows]
        assert keys == sorted(keys)


def test_steering_ids_cover_every_partition(spark):
    for n in (1, 2, 8, 32):
        ids = _steering_ids(spark, n)
        assert len(ids) == n
        placed = (
            spark.createDataFrame([(x,) for x in ids], "steer int")
            .select(F.pmod(F.hash("steer"), F.lit(n)).alias("p"))
            .collect()
        )
        assert sorted(r.p for r in placed) == list(range(n))


def test_shuffle_to_files_via_arrow_bytes_match_classic(spark, sf_dir, tmp_path):
    """The Arrow chunk write must be indistinguishable on disk from the
    classic path: same manifest partition ids, and byte-identical JSON-lines
    content per partition (the reference chunk format,
    reference lib/map_reduce/mapper.rb:115,131-135)."""
    docs = _docs(spark, sf_dir)
    job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=8)

    classic_dir = str(tmp_path / "classic")
    arrow_dir = str(tmp_path / "arrow")
    pmap_c = job.shuffle_to_files(spark, docs.rdd.map(lambda r: r[0]), classic_dir)
    pmap_a = job.shuffle_to_files(spark, docs, arrow_dir, via_arrow=True)

    assert sorted(pmap_c) == sorted(pmap_a)  # same partition ids
    for pid in pmap_c:
        with open(pmap_c[pid], encoding="utf-8") as f:
            classic_bytes = f.read()
        with open(pmap_a[pid], encoding="utf-8") as f:
            arrow_bytes = f.read()
        assert classic_bytes == arrow_bytes, f"partition {pid} bytes differ"

    # and the reducer ingests the arrow-written generation identically
    total = sum(
        v for _, v in Job.reduce_files(spark, sorted(pmap_a.values()), _fold).collect()
    )
    expect = sum(
        v for _, v in Job.reduce_files(spark, sorted(pmap_c.values()), _fold).collect()
    )
    assert total == expect > 0


def test_via_arrow_guards(spark, sf_dir, tmp_path):
    job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=4)
    docs = _docs(spark, sf_dir)
    with pytest.raises(TypeError, match="DataFrame"):
        job.shuffle_to_files(spark, ["a b"], str(tmp_path / "y"), via_arrow=True)
    nr = Job(map_fn=_map_wc, num_partitions=4)
    with pytest.raises(ValueError, match="stable"):
        nr.shuffle_to_files(spark, docs, str(tmp_path / "z"), stable=True, via_arrow=True)
