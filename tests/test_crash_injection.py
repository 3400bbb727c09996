"""Kill-point harness over the generation store's append, compaction and
vacuum protocol (operators/artifact_store.py), run against every
appendable store built on it (IVF cells, PQ codes, BM25 postings, NB
counts).

Every mutation in the protocol is a filesystem primitive (staged write,
one-rename publish, atomic meta replace), so raising at a chosen point
leaves the EXACT on-disk state a SIGKILL at that instant would — the
injection is a faithful crash. The pinned invariants, at every kill
point:

  - readers see the pre-crash result (never a torn or half-merged view);
  - a retried compaction completes and the result is unchanged;
  - a crash AFTER the meta commit is already durable (retry is a no-op
    because only one generation remains);
  - a vacuum killed mid-reclaim leaves readers green and a retried
    vacuum finishes the reclaim and prunes the retired stamps.

The kill points, in compaction's commit order:
  K1 before the merged generation's publish rename  (stage is an orphan)
  K2 after the publish, before the meta commit      (unlisted generation)
  K3 after the meta commit                           (compaction durable)
  KV inside vacuum, after the first rmtree           (partial reclaim)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from map_reduce_ruby_spark.operators import artifact_store
from map_reduce_ruby_spark.operators.artifact_store import (
    read_index_meta,
    vacuum_index,
)


class InjectedKill(RuntimeError):
    pass


def _kill_publish(monkeypatch, when: str) -> None:
    """Make the next ingest-partition publish die ``before`` or ``after``
    the rename. Only generation publishes are targeted (dst under an
    ingest= partition), so setup writes are unaffected."""
    real = artifact_store._publish_atomic

    def wrapper(tmp, path, keep_if_valid=None):
        if "ingest=" in os.path.basename(path):
            if when == "before":
                raise InjectedKill("killed before publish rename")
            real(tmp, path, keep_if_valid)
            raise InjectedKill("killed after publish rename")
        return real(tmp, path, keep_if_valid)

    monkeypatch.setattr(artifact_store, "_publish_atomic", wrapper)


def _kill_after_meta(monkeypatch) -> None:
    real = artifact_store._write_meta_atomic

    def wrapper(path, meta):
        real(path, meta)
        raise InjectedKill("killed after meta commit")

    monkeypatch.setattr(artifact_store, "_write_meta_atomic", wrapper)


def _kill_vacuum_mid_reclaim(monkeypatch) -> None:
    real = artifact_store.shutil.rmtree
    state = {"removed": 0}

    def wrapper(p, *a, **k):
        if state["removed"] >= 1:
            raise InjectedKill("killed mid-vacuum")
        state["removed"] += 1
        return real(p, *a, **k)

    monkeypatch.setattr(artifact_store.shutil, "rmtree", wrapper)


def _ingest_dirs(path: str, root: str) -> set[str]:
    try:
        return {
            e
            for e in os.listdir(os.path.join(path, root))
            if e.startswith("ingest=")
        }
    except FileNotFoundError:
        return set()


# --- per-store adapters ------------------------------------------------------
# setup(): build + one append -> two committed generations.
# read():  a deterministic result summary through the store's loader.
# compact(): the store's OPTIMIZE entry point.


def _vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )


def _ivf_store(spark, sf_dir, path):
    from map_reduce_ruby_spark.operators.ann_index import (
        append_ivf_batch,
        compact_ivf_index,
        load_ivf_index,
        write_ivf_index,
    )

    v = _vectors(spark, sf_dir)
    n = v.count()
    write_ivf_index(spark, v.filter(F.col("id") < n // 2), path, k=4)
    append_ivf_batch(
        spark, v.filter(F.col("id") >= n // 2), path, batch_id="b2"
    )

    def read():
        cells, cents = load_ivf_index(spark, path)
        return [
            cells.count(),
            int(cells.agg(F.sum("id")).collect()[0][0]),
            cents,
        ]

    return read, lambda: compact_ivf_index(spark, path), "cells"


def _pq_store(spark, sf_dir, path):
    from map_reduce_ruby_spark.operators.ann_index import (
        append_pq_batch,
        compact_pq_index,
        load_pq_index,
        write_pq_index,
    )

    v = _vectors(spark, sf_dir)
    n = v.count()
    dim = len(v.select("e").first()[0])
    write_pq_index(
        spark, v.filter(F.col("id") < n // 2), path, dim=dim, n_sub=4, k=4
    )
    append_pq_batch(spark, v.filter(F.col("id") >= n // 2), path, batch_id="b2")

    def read():
        codes, _books = load_pq_index(spark, path)
        return [codes.count(), int(codes.agg(F.sum("id")).collect()[0][0])]

    return read, lambda: compact_pq_index(spark, path), "pq_codes"


def _bm25_store(spark, sf_dir, path):
    from map_reduce_ruby_spark.operators.text_index import (
        append_bm25_batch,
        compact_bm25_index,
        load_bm25_postings,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    write_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), path)
    append_bm25_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), path, batch_id="b2"
    )

    def read():
        postings, meta = load_bm25_postings(spark, path)
        return [
            postings.count(),
            int(meta["n_docs"]),
            int(meta["total_len"]),
        ]

    return read, lambda: compact_bm25_index(spark, path), "postings"


def _nb_store(spark, sf_dir, path):
    from map_reduce_ruby_spark.operators.nb_store import (
        append_nb_batch,
        compact_nb_model,
        load_nb_model,
        write_nb_model,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    write_nb_model(spark, docs.filter(F.col("doc_id") % 2 == 0), path, 64)
    append_nb_batch(
        spark, docs.filter(F.col("doc_id") % 2 == 1), path, batch_id="b2"
    )

    def read():
        counts, class_docs, _meta = load_nb_model(spark, path)
        return [
            sorted(map(list, counts.collect())),
            sorted(map(list, class_docs.collect())),
        ]

    return read, lambda: compact_nb_model(spark, path), "counts"


_STORES = {
    "ivf": _ivf_store,
    "pq": _pq_store,
    "bm25": _bm25_store,
    "nb": _nb_store,
}


# 'ivf' is the default-run smoke (full kill-point sweep on one store);
# the other stores share the compaction protocol and run as slow breadth
@pytest.mark.parametrize(
    "store",
    [
        s if s == "ivf" else pytest.param(s, marks=pytest.mark.slow)
        for s in sorted(_STORES)
    ],
)
def test_compaction_and_vacuum_survive_kills(
    store, spark, sf_dir, tmp_path, monkeypatch
):
    path = str(tmp_path / store)
    read, compact, root = _STORES[store](spark, sf_dir, path)
    canonical = read()
    two_gens = _ingest_dirs(path, root)
    assert len(two_gens) == 2

    # K1: killed before the merged generation's publish rename — the
    # stage dir is an unreachable orphan; readers and meta are untouched.
    with monkeypatch.context() as m:
        _kill_publish(m, "before")
        with pytest.raises(InjectedKill):
            compact()
    assert read() == canonical
    assert _ingest_dirs(path, root) >= two_gens
    assert read_index_meta(path)["ingests"] == [1, 2]

    # K2: killed after the publish, before the meta commit — the merged
    # generation exists but is UNLISTED; readers still see the old ones.
    with monkeypatch.context() as m:
        _kill_publish(m, "after")
        with pytest.raises(InjectedKill):
            compact()
    assert read() == canonical
    assert read_index_meta(path)["ingests"] == [1, 2]

    # Recovery: the retried compaction replaces the orphan generation and
    # commits; result unchanged, exactly one listed generation.
    assert compact() is True
    assert read() == canonical
    meta = read_index_meta(path)
    assert len(meta["ingests"]) == 1
    assert set(meta["retired"]) == {"1", "2"}

    # K3: a crash AFTER the meta commit — compaction is already durable.
    # Needs two generations again, so append another batch first.
    read2, compact2, _ = _rebuild_with_extra_batch(
        store, spark, sf_dir, path
    )
    canonical2 = read2()
    with monkeypatch.context() as m:
        _kill_after_meta(m)
        with pytest.raises(InjectedKill):
            compact2()
    assert read2() == canonical2
    meta = read_index_meta(path)
    assert len(meta["ingests"]) == 1  # the commit landed before the kill
    assert compact2() is False  # retry: single generation, no-op

    # KV: vacuum killed after reclaiming one retired generation — readers
    # stay green; the retried vacuum finishes and prunes the stamps.
    assert read2() == canonical2
    with monkeypatch.context() as m:
        _kill_vacuum_mid_reclaim(m)
        with pytest.raises(InjectedKill):
            vacuum_index(path, grace_sec=0.0)
    assert read2() == canonical2
    vacuum_index(path, grace_sec=0.0)
    assert read2() == canonical2
    meta = read_index_meta(path)
    assert _ingest_dirs(path, root) == {
        f"ingest={i}" for i in meta["ingests"]
    }
    assert meta.get("retired", {}) == {}


def _rebuild_with_extra_batch(store, spark, sf_dir, path):
    """Append one more batch (a small, disjoint slice) through the
    store's public append API so the compacted artifact has two
    generations again for the K3/KV legs."""
    if store == "ivf":
        from map_reduce_ruby_spark.operators.ann_index import (
            append_ivf_batch,
        )

        v = _vectors(spark, sf_dir)
        mx = v.agg(F.max("id")).collect()[0][0]
        extra = v.filter(F.col("id") == mx).withColumn(
            "id", F.col("id") + 1_000_000
        )
        append_ivf_batch(spark, extra, path, batch_id="b3")
        return _readers_for(store, spark, path)
    if store == "pq":
        from map_reduce_ruby_spark.operators.ann_index import (
            append_pq_batch,
        )

        v = _vectors(spark, sf_dir)
        mx = v.agg(F.max("id")).collect()[0][0]
        extra = v.filter(F.col("id") == mx).withColumn(
            "id", F.col("id") + 1_000_000
        )
        append_pq_batch(spark, extra, path, batch_id="b3")
        return _readers_for(store, spark, path)
    if store == "bm25":
        from map_reduce_ruby_spark.operators.text_index import (
            append_bm25_batch,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        extra = docs.limit(1).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        append_bm25_batch(spark, extra, path, batch_id="b3")
        return _readers_for(store, spark, path)
    from map_reduce_ruby_spark.operators.nb_store import append_nb_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    extra = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    append_nb_batch(spark, extra, path, batch_id="b3")
    return _readers_for(store, spark, path)


def _readers_for(store, spark, path):
    if store == "ivf":
        from map_reduce_ruby_spark.operators.ann_index import (
            compact_ivf_index,
            load_ivf_index,
        )

        def read():
            cells, cents = load_ivf_index(spark, path)
            return [
                cells.count(),
                int(cells.agg(F.sum("id")).collect()[0][0]),
                cents,
            ]

        return read, lambda: compact_ivf_index(spark, path), "cells"
    if store == "pq":
        from map_reduce_ruby_spark.operators.ann_index import (
            compact_pq_index,
            load_pq_index,
        )

        def read():
            codes, _books = load_pq_index(spark, path)
            return [
                codes.count(),
                int(codes.agg(F.sum("id")).collect()[0][0]),
            ]

        return read, lambda: compact_pq_index(spark, path), "pq_codes"
    if store == "bm25":
        from map_reduce_ruby_spark.operators.text_index import (
            compact_bm25_index,
            load_bm25_postings,
        )

        def read():
            postings, meta = load_bm25_postings(spark, path)
            return [
                postings.count(),
                int(meta["n_docs"]),
                int(meta["total_len"]),
            ]

        return read, lambda: compact_bm25_index(spark, path), "postings"
    from map_reduce_ruby_spark.operators.nb_store import (
        compact_nb_model,
        load_nb_model,
    )

    def read():
        counts, class_docs, _meta = load_nb_model(spark, path)
        return [
            sorted(map(list, counts.collect())),
            sorted(map(list, class_docs.collect())),
        ]

    return read, lambda: compact_nb_model(spark, path), "counts"


def _append_ops(store, spark, sf_dir):
    """(rows, key column, write(df, path), append(df, path, batch_id)) —
    the store's public build and append entry points."""
    if store in ("ivf", "pq"):
        from map_reduce_ruby_spark.operators.ann_index import (
            append_ivf_batch,
            append_pq_batch,
            write_ivf_index,
            write_pq_index,
        )

        v = _vectors(spark, sf_dir)
        if store == "ivf":
            return (
                v,
                "id",
                lambda df, p: write_ivf_index(spark, df, p, k=4),
                lambda df, p, b: append_ivf_batch(spark, df, p, batch_id=b),
            )
        dim = len(v.select("e").first()[0])
        return (
            v,
            "id",
            lambda df, p: write_pq_index(spark, df, p, dim=dim, n_sub=4, k=4),
            lambda df, p, b: append_pq_batch(spark, df, p, batch_id=b),
        )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if store == "bm25":
        from map_reduce_ruby_spark.operators.text_index import (
            append_bm25_batch,
            write_bm25_index,
        )

        return (
            docs.select("doc_id", "text"),
            "doc_id",
            lambda df, p: write_bm25_index(spark, df, p),
            lambda df, p, b: append_bm25_batch(spark, df, p, batch_id=b),
        )
    from map_reduce_ruby_spark.operators.nb_store import (
        append_nb_batch,
        write_nb_model,
    )

    return (
        docs.select("doc_id", "lang", "text"),
        "doc_id",
        lambda df, p: write_nb_model(spark, df, p, 64),
        lambda df, p, b: append_nb_batch(spark, df, p, batch_id=b),
    )


# 'nb' is the default-run smoke; the other stores run the same append
# protocol and are slow breadth (the compaction sweep's split)
@pytest.mark.parametrize(
    "store",
    [
        s if s == "nb" else pytest.param(s, marks=pytest.mark.slow)
        for s in sorted(_STORES)
    ],
)
def test_append_kill_points_recoverable(
    store, spark, sf_dir, tmp_path, monkeypatch
):
    """The append path's two commit points, killed and retried: a crash
    between the generation publish and the meta commit leaves an UNLISTED
    orphan readers never see, and the retried append (same batch id)
    converges to exactly what an uninterrupted append produces; a crash
    after the meta commit is durable, so the retry is a no-op."""
    rows, key, write, append = _append_ops(store, spark, sf_dir)
    a = rows.filter(F.col(key) % 3 == 0)
    b = rows.filter(F.col(key) % 3 == 1)
    c = rows.filter(F.col(key) % 3 == 2)
    path = str(tmp_path / f"{store}_append")

    def read(p):
        return _readers_for(store, spark, p)[0]()

    write(a, path)
    base = read(path)

    # the uninterrupted twin: build(A) + append(B) with no kill
    twin = str(tmp_path / f"{store}_twin")
    write(a, twin)
    append(b, twin, "b2")
    want = read(twin)

    # K: killed between the batch generation's publish and the meta
    # commit — readers still see exactly the base artifact
    with monkeypatch.context() as m:
        _kill_publish(m, "after")
        with pytest.raises(InjectedKill):
            append(b, path, "b2")
    assert read(path) == base
    assert read_index_meta(path)["ingests"] == [1]

    # retry with the SAME batch id: the orphan is replaced, the append
    # commits, and the result equals the uninterrupted append
    append(b, path, "b2")
    assert read(path) == want
    assert read_index_meta(path)["batch_ids"] == ["b2"]

    # K: killed AFTER the meta commit — durable; the retry is a no-op
    with monkeypatch.context() as m:
        _kill_after_meta(m)
        with pytest.raises(InjectedKill):
            append(c, path, "b3")
    committed = read(path)
    assert read_index_meta(path)["batch_ids"] == ["b2", "b3"]
    append(c, path, "b3")  # retry: no-op
    assert read(path) == committed
    assert read_index_meta(path)["batch_ids"] == ["b2", "b3"]
