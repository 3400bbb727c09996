"""Durable BM25 inverted index (operators/text_index.py): restart without
rebuild, additive global stats under appends, partition-pruned probes,
row-identical compaction, and batch_id idempotency.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from map_reduce_ruby_spark.operators import (
    append_bm25_batch,
    bm25_index_exists,
    bm25_search,
    compact_bm25_index,
    load_bm25_postings,
    write_bm25_index,
)
from map_reduce_ruby_spark.operators.artifact_store import read_index_meta, vacuum_index

_TERMS = ("data", "query", "join")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _ranked(df):
    return sorted((r.doc_id, r.bm25, r.rk) for r in df.collect())


def _mtimes(path):
    out = {}
    for root, _d, files in os.walk(path):
        for f in files:
            if ".crc" in f:
                continue
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


@pytest.fixture(scope="module")
def split(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return docs, a, b


def test_stored_index_ranks_like_the_inquery_path(spark, sf_dir, tmp_path):
    """bm25_search over the stored full-corpus index == the catalog's
    in-query text_bm25_search chain: the persisted and derived paths are
    interchangeable (the dedup_index rule applied to retrieval)."""
    from map_reduce_ruby_spark.plans import all_entries

    path = str(tmp_path / "bm25")
    write_bm25_index(spark, _docs(spark, sf_dir), path)
    got = _ranked(bm25_search(spark, path, _TERMS))
    want = _ranked(all_entries()["text_bm25_search"].fn(spark, sf_dir))
    assert got == want and len(got) > 0


def test_restart_reloads_without_rebuild(spark, sf_dir, split, tmp_path):
    docs, _a, _b = split
    path = str(tmp_path / "bm25")
    write_bm25_index(spark, docs, path)
    assert bm25_index_exists(path)
    before = _mtimes(path)
    first = _ranked(bm25_search(spark, path, _TERMS))
    again = _ranked(bm25_search(spark, path, _TERMS))
    assert first == again
    assert _mtimes(path) == before  # no retokenize, no rewrite


def test_append_maintains_additive_stats_exactly(spark, sf_dir, split, tmp_path):
    """Incrementally-maintained N/total_len equal the full rebuild's, and
    the incrementally-built index ranks exactly like a one-shot build
    over A ∪ B (banding-style equality, but through the STATS, which the
    band index never had to maintain)."""
    docs, a, b = split
    inc = str(tmp_path / "inc")
    write_bm25_index(spark, a, inc)
    append_bm25_batch(spark, b, inc, batch_id="b")

    full = str(tmp_path / "full")
    write_bm25_index(spark, docs, full)

    mi, mf = read_index_meta(inc), read_index_meta(full)
    assert (mi["n_docs"], mi["total_len"]) == (mf["n_docs"], mf["total_len"])
    assert _ranked(bm25_search(spark, inc, _TERMS)) == _ranked(
        bm25_search(spark, full, _TERMS)
    )

    pi, _ = load_bm25_postings(spark, inc)
    pf, _ = load_bm25_postings(spark, full)
    assert sorted(
        (r.term, r.doc_id, r.tf, r.dlen) for r in pi.collect()
    ) == sorted((r.term, r.doc_id, r.tf, r.dlen) for r in pf.collect())


def test_probe_scan_is_partition_pruned_to_term_buckets(
    spark, sf_dir, split, tmp_path, count_jobs
):
    """The scan's partition filter lists exactly the terms' tb buckets,
    Spark's pmod(hash(term), n_buckets), and building the search on an
    attached store runs no Spark job."""
    docs, _a, _b = split
    path = str(tmp_path / "bm25")
    write_bm25_index(spark, docs, path)
    n_buckets = int(read_index_meta(path)["n_buckets"])
    want = {
        r.tb
        for r in spark.createDataFrame([(t,) for t in _TERMS], "term string")
        .select(F.pmod(F.hash("term"), F.lit(n_buckets)).alias("tb"))
        .collect()
    }
    bm25_search(spark, path, _TERMS)  # attaches the store
    df, jobs = count_jobs(lambda: bm25_search(spark, path, _TERMS))
    assert jobs == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    filters = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "ingest" in filters, scan
    listed = re.search(r"tb#\d+ IN \(([\d, ]+)\)", filters)
    assert listed and {int(b) for b in listed.group(1).split(",")} == want, scan


def test_compaction_is_row_identical_and_survives_append(
    spark, sf_dir, split, tmp_path
):
    docs, a, b = split
    b1 = b.filter(F.col("doc_id") % 4 == 1)
    b2 = b.filter(F.col("doc_id") % 4 == 3)
    path = str(tmp_path / "bm25")
    write_bm25_index(spark, a, path)
    append_bm25_batch(spark, b1, path, batch_id="b1")
    append_bm25_batch(spark, b2, path, batch_id="b2")

    before_meta = read_index_meta(path)
    before = _ranked(bm25_search(spark, path, _TERMS))
    p, _ = load_bm25_postings(spark, path)
    rows_before = sorted(tuple(r) for r in p.drop("ingest", "tb").collect())

    assert compact_bm25_index(spark, path) is True
    removed = vacuum_index(path, grace_sec=0.0)
    assert len(removed) == 3
    meta = read_index_meta(path)
    assert len(meta["ingests"]) == 1
    assert meta["batches"] == 3
    assert meta["batch_ids"] == ["b1", "b2"]
    assert (meta["n_docs"], meta["total_len"]) == (
        before_meta["n_docs"],
        before_meta["total_len"],
    )
    assert bm25_index_exists(path)

    p2, _ = load_bm25_postings(spark, path)
    assert (
        sorted(tuple(r) for r in p2.drop("ingest", "tb").collect()) == rows_before
    )
    assert _ranked(bm25_search(spark, path, _TERMS)) == before

    # idempotency token survives compaction; lifecycle keeps cycling
    append_bm25_batch(spark, b1, path, batch_id="b1")  # no-op retry
    assert read_index_meta(path)["n_docs"] == meta["n_docs"]


def test_append_requires_committed_index(spark, sf_dir, split, tmp_path):
    _docs_, a, _b = split
    with pytest.raises(ValueError, match="committed BM25 index"):
        append_bm25_batch(spark, a, str(tmp_path / "nope"))
