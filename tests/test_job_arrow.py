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

import pytest

from map_reduce_ruby_spark.core import HashPartitioner, Job


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

    def wild_part(key):
        # deterministic across worker processes (unlike str hash), and
        # returns values >= num_partitions as well as negative ones
        return sum(map(ord, key)) % 101 - 50

    return map_wc, fold, wild_part


_map_wc, _fold, _wild_part = _mk_fns()


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


def _partition_of_key(rows_by_partition, key_of):
    return {key_of(r): pid for pid, rows in enumerate(rows_by_partition) for r in rows}


@pytest.mark.parametrize("num_partitions", [1, 2, 8, 32])
@pytest.mark.parametrize("wild", [False, True], ids=["sha1", "wild"])
def test_run_arrow_partition_index_equals_partitioner(spark, sf_dir, num_partitions, wild):
    """repartitionById must land every key at partition index ==
    partitioner(key) % num_partitions — the reference's SHA1 placement
    contract (O6), held through a pure-JVM shuffle. A partitioner that
    returns values >= num_partitions and negative ones lands where
    ``run`` (pyspark's ``partitionFunc(k) % n``) puts it."""
    raw = _wild_part if wild else HashPartitioner(num_partitions)
    job = Job(
        map_fn=_map_wc, reduce_fn=_fold, partitioner=raw, num_partitions=num_partitions
    )
    docs = _docs(spark, sf_dir)
    arrow = job.run_arrow(spark, docs).rdd.glom().collect()
    assert len(arrow) == num_partitions
    placed = _partition_of_key(arrow, lambda r: json.loads(r.k))
    assert placed and all(pid == raw(k) % num_partitions for k, pid in placed.items())
    if wild:
        assert min(map(raw, placed)) < 0 and max(map(raw, placed)) >= num_partitions
    classic = job.run(spark, docs.rdd.map(lambda r: r[0])).glom().collect()
    assert placed == _partition_of_key(classic, lambda kv: kv[0])


def test_run_arrow_plan_builds_without_a_spark_job(spark, count_jobs):
    """Building run_arrow's plan for a num_partitions this session has not
    used runs no Spark job (nothing is probed to place rows), and AQE
    does not coalesce the exchange: a few rows still come out in
    num_partitions partitions."""
    rows = spark.createDataFrame([(f"w{i} x{i % 3}",) for i in range(12)], "text string")
    for n in (29, 32):
        job = Job(map_fn=_map_wc, reduce_fn=_fold, num_partitions=n)
        out, jobs = count_jobs(lambda: job.run_arrow(spark, rows))
        assert jobs == 0
        assert len(out.rdd.glom().collect()) == n


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
