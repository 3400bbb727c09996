"""Durable BM25 inverted index: the persisted-index lifecycle applied to
the text-retrieval family.

The MinHash band index (operators/dedup_index.py) and the ANN indexes
(operators/ann_index.py) persist their probe structures; this module does
the same for lexical retrieval: ``text_bm25_search`` derives its posting
lists in-query, THIS is the stored form a production corpus maintains —
build once, append each day's documents, compact on schedule, and answer
queries by reading ONLY the query terms' slice of the index.

The index is a ``GenerationStore`` (operators/artifact_store.py): build,
exists, append, compact and load are the one protocol written there; this
module holds the posting builder, the stage writer, the N/total_len meta
delta and the search. Layout:

    <root>/postings/ingest=<n>/tb=<b>/*.parquet   (term, doc_id, tf, dlen)
    <root>/_META.json   {n_docs, total_len, n_buckets, ingests, ...}

Two scale decisions:

- ``tb`` (term bucket = murmur3(term) mod n_buckets) directory-partitions
  the postings, so a query's scan is PARTITION-PRUNED to its terms'
  buckets — the IVF-cells trick applied to text: at 64 buckets a 3-term
  query reads <= 3/64ths of the index bytes, and within a bucket the
  files are range-clustered on term so parquet footer min/max prunes
  further. (Terms are too high-cardinality to partition on directly;
  the bucket is the coarse unit, the footer stats the fine one.)
- BM25's GLOBAL statistics split by kind: N and total token count are
  ADDITIVE, so appends maintain them as meta counters (this is the part
  the stateless band index never had to solve — integer adds commute, so
  incrementally-maintained stats are exactly the full rebuild's);
  document frequencies are per-term and high-cardinality, so df is
  computed per query from the pruned posting lists themselves (df(term)
  = posting count, exact across generations). Document length rides
  denormalized in each posting row, trading index bytes for a join-free
  probe.

Determinism: tf/df/dlen/N/total_len are integers; the per-doc score sums
<= |query| float contributions grouped on one shuffle key, and the
catalog entry gates on the 6dp-rounded score exactly like
``text_bm25_search`` (same argument — both engines fold the same few
addends). The ``text_bm25_persisted`` entry runs the FULL lifecycle
(build batch-1, append batch-2, compact, vacuum) against the full-rebuild
SQL oracle, so a dropped batch, a stats drift, or a lossy compaction all
hash-mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_ruby_spark.operators.artifact_store import (
    GenerationStore,
    _compact_data_root,
)

BM25_INDEX_VERSION = 1
_N_BUCKETS = 64

_BM25 = GenerationStore("BM25 index", "write_bm25_index", "postings")


def _bm25_meta(n_buckets: int) -> dict:
    return {
        "format": "bm25_index",
        "version": BM25_INDEX_VERSION,
        "n_buckets": int(n_buckets),
    }


def _postings_for_docs(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(term, doc_id, tf, dlen, tb) for ``docs`` (doc_id, text) — the same
    whitespace tokenizer as the text family (plans/text_queries.py
    _tokens_spark), so the stored index and the in-query path rank
    identically."""
    from map_reduce_ruby_spark.plans.text_queries import _tokens_spark

    dl = docs.select(
        "doc_id", _tokens_spark(F.col("text")).alias("tok")
    ).withColumn("dlen", F.size("tok"))
    return (
        dl.select("doc_id", "dlen", F.explode("tok").alias("term"))
        .groupBy("term", "doc_id", "dlen")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tb", F.pmod(F.hash("term"), F.lit(n_buckets)))
        .select("term", "doc_id", "tf", "dlen", "tb")
    )


def _batch_stats(docs: DataFrame) -> tuple[int, int]:
    """(n_docs, total token count) — the additive half of BM25's globals."""
    from map_reduce_ruby_spark.plans.text_queries import _tokens_spark

    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.size(_tokens_spark(F.col("text")))), F.lit(0)
        ).alias("t"),
    ).collect()[0]
    return int(row.n), int(row.t)


def _stage_postings(docs: DataFrame, n_buckets: int, dst: str) -> dict:
    """Write ``docs``' postings to ``dst`` (directory-partitioned by term
    bucket) and return the batch's additive stats as meta counters."""
    n_docs, total_len = _batch_stats(docs)
    (
        _postings_for_docs(docs, n_buckets)
        .repartition("tb")
        .write.partitionBy("tb")
        .mode("overwrite")
        .parquet(dst)
    )
    return {"n_docs": n_docs, "total_len": total_len}


def bm25_index_exists(path: str, n_buckets: int = _N_BUCKETS) -> bool:
    """Committed (every meta-listed ingest has its _SUCCESS) AND built by
    the current builder with the same bucket count — the generation
    store's exists gate."""
    return _BM25.exists(path, _bm25_meta(n_buckets))


def write_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    n_buckets: int = _N_BUCKETS,
    replace: bool = False,
) -> None:
    """Build and persist the inverted index for ``docs`` (doc_id, text)
    through the generation store's build: staged, published by ONE
    rename, a valid existing index at the content-addressed path kept as
    the winner (``replace=True`` to rebuild over different data at the
    same path, not reader-safe). The meta carries the additive global
    stats the appends will maintain."""
    _BM25.build(
        path,
        _bm25_meta(n_buckets),
        lambda data_dir, _tmp: _stage_postings(docs, n_buckets, data_dir),
        replace=replace,
    )


def append_bm25_batch(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    batch_id: str | None = None,
) -> None:
    """Incremental ingest: the batch's postings land as the next
    ``ingest=<n>`` partition and the meta commit ADDS the batch's doc and
    token counts into the global counters — integer adds commute, so the
    incrementally-maintained stats equal a full rebuild's exactly (gated
    by the text_bm25_persisted oracle). Exactly-once through the
    generation store's append."""
    _BM25.append(
        path,
        batch_id,
        lambda stage_dir, meta: _stage_postings(
            docs, int(meta["n_buckets"]), stage_dir
        ),
    )


def compact_bm25_index(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> bool:
    """OPTIMIZE for the postings root — the shared per-ingest compactor
    (lock, CAS, stage, rename, retired-stamped meta commit; see
    compact_ivf_index) with range clustering on (tb, term, doc_id): term
    buckets stay directory-partitioned, files within a bucket are
    term-contiguous so footer min/max keeps pruning, and the additive
    stats/batch_ids in the meta survive untouched. vacuum_index reclaims
    the retired generations after the drain window."""
    return _compact_data_root(
        spark,
        path,
        _BM25.data_root,
        ("tb",),
        target_file_bytes,
        range_cols=("term", "doc_id"),
    )


def load_bm25_postings(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """(postings DataFrame filtered to committed ingests, meta)."""
    return _BM25.load(spark, path, lambda postings, meta: (postings, meta))


def bm25_search(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Rank documents for ``terms`` against the STORED index: the scan is
    partition-pruned to the committed ingests AND the query terms' tb
    buckets (<= |terms|/n_buckets of the index bytes), df comes from the
    pruned posting lists (exact), N/avgdl from the meta counters — no
    corpus scan, no tokenization, no retrain. Returns (doc_id, bm25, rk),
    the text_bm25_search output contract."""
    from pyspark.sql import Window as W

    postings, meta = load_bm25_postings(spark, path)
    n_buckets = int(meta["n_buckets"])
    n_docs = int(meta["n_docs"])
    avgdl = float(meta["total_len"]) / n_docs if n_docs else 0.0

    # literal bucket list -> partition pruning on tb (checked in tests)
    buckets = sorted(
        {
            r.tb
            for r in spark.createDataFrame([(t,) for t in terms], "term string")
            .select(F.pmod(F.hash("term"), F.lit(n_buckets)).alias("tb"))
            .collect()
        }
    )
    tf = postings.filter(
        F.col("tb").isin([int(x) for x in buckets])
        & F.col("term").isin(*terms)
    ).select("term", "doc_id", "tf", "dlen")

    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        (
            F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.lit(avgdl)))
        ).alias("contribution"),
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("contribution"), 6).alias("bm25")
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(top_k)
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))
