"""Durable Naive Bayes classifier model: the persisted-artifact lifecycle
applied to the data-selection family.

``text_nb_langid`` (plans/dsir_queries.py) trains its hashed-ngram model
in-query; THIS module is the stored form a filtering pipeline maintains:
build the class-conditional count tables once, append each day's labeled
batch, compact on schedule, and classify any future document stream by
loading the counts — never re-featurizing the training corpus.

Naive Bayes is the best-case artifact for incremental maintenance: the
ENTIRE model is sufficient statistics that ADD — class-bucket gram counts
(rows) and per-class document counts (meta counters) — so the
incrementally-maintained model is bit-identical to a full retrain, the
same argument as BM25's N/total_len meta counters (text_index.py) and
stronger than IVF (whose centroids legitimately freeze at batch-1). The
``text_nb_persisted`` catalog entry gates exactly that equality: stored
build(A)+append(B) must classify a probe slice identically to the DuckDB
oracle's from-scratch train over A ∪ B.

The model is a ``GenerationStore`` (operators/artifact_store.py): build,
exists, append, compact and load are the one protocol written there; this
module holds the featurizer, the stage writer, the class_docs meta delta
and the counts reader. Layout:

    <root>/counts/ingest=<n>/*.parquet   (cls, b, c_cb)
    <root>/_META.json   {format, version, n_buckets, class_docs, ingests,
                         batches, batch_ids, retired}

The counts root is tiny by construction (<= n_classes x n_buckets rows
per ingest), so there is no partition-pruning story to tell — the scale
property lives in what is ABSENT: classification never touches the
training corpus, only the counts (broadcast) and the probe batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_ruby_spark.operators.artifact_store import (
    GenerationStore,
    _compact_data_root,
)

NB_MODEL_VERSION = 1

_NB = GenerationStore("NB model", "write_nb_model", "counts")


def _nb_meta(n_buckets: int) -> dict:
    return {
        "format": "nb_model",
        "version": NB_MODEL_VERSION,
        "n_buckets": int(n_buckets),
    }


def _stage_counts(docs: DataFrame, dst: str) -> dict:
    """Write ``docs``' (cls, b, c_cb) class-bucket gram counts — the
    additive row half of the model's sufficient statistics — to ``dst``,
    and return the additive meta-counter half: ``class_docs`` {cls:
    n_docs}, bounded by |classes|. Counting FROM the feature frame matches
    the in-query trainer and its oracle (a zero-token doc is invisible to
    either). ONE featurize pass feeds both halves (cached, not recomputed
    per derivation — the batch scan is the whole cost here)."""
    from map_reduce_ruby_spark.plans.dsir_queries import gram_buckets_for

    db = gram_buckets_for(docs).cache()
    try:
        class_docs = {
            r.cls: int(r.n)
            for r in db.select("doc_id", F.col("lang").alias("cls"))
            .distinct()
            .groupBy("cls")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        db.groupBy(F.col("lang").alias("cls"), "b").agg(
            F.sum("cnt").alias("c_cb")
        ).coalesce(1).write.mode("overwrite").parquet(dst)
    finally:
        db.unpersist()
    return {"class_docs": class_docs}


def nb_model_exists(path: str, n_buckets: int) -> bool:
    """Committed (every meta-listed ingest has its _SUCCESS) AND built by
    the current builder with the same bucket count — the generation
    store's exists gate."""
    return _NB.exists(path, _nb_meta(n_buckets))


def write_nb_model(
    spark: SparkSession, docs: DataFrame, path: str, n_buckets: int
) -> None:
    """Build and persist the model for labeled ``docs`` (doc_id, lang,
    text) through the generation store's build: staged, published by ONE
    rename, a valid existing model at the content-addressed path kept as
    the winner."""
    _NB.build(
        path, _nb_meta(n_buckets), lambda data_dir, _tmp: _stage_counts(docs, data_dir)
    )


def append_nb_batch(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    batch_id: str | None = None,
) -> None:
    """Incremental maintenance: the batch's class-bucket counts land as
    the next ``ingest=<n>`` partition and the meta commit ADDS the
    batch's per-class document counts — every statistic commutes, so the
    maintained model EQUALS a full retrain (gated by text_nb_persisted).
    Exactly-once through the generation store's append."""
    _NB.append(
        path, batch_id, lambda stage_dir, _meta: _stage_counts(docs, stage_dir)
    )


def compact_nb_model(spark: SparkSession, path: str) -> bool:
    """OPTIMIZE: merge the per-ingest count partitions into one generation
    via the shared compactor (lock, CAS, stage, rename, retired-stamped
    meta commit). Duplicate (cls, b) rows across generations are expected
    — the loader SUMS them — so the merge is a plain row union; the
    additive class_docs meta survives untouched."""
    return _compact_data_root(
        spark, path, _NB.data_root, (), range_cols=("cls", "b")
    )


def load_nb_model(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """(counts (cls, b, c_cb) summed across committed ingests, class_docs
    (cls, nd_c), meta). Generations merge by summation, which is exactly
    why append never rewrites them."""

    def scan(counts, meta):
        class_docs = spark.createDataFrame(
            [(cls, int(n)) for cls, n in sorted(meta["class_docs"].items())],
            "cls string, nd_c long",
        )
        return (
            counts.groupBy("cls", "b").agg(F.sum("c_cb").alias("c_cb")),
            class_docs,
            meta,
        )

    return _NB.load(spark, path, scan)
