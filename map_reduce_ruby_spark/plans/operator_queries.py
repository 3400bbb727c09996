"""Catalog entries for the custom operators: as-of join and the multimodal
column pipeline. Both are operators Spark lacks as built-ins, composed
Spark-first (union+window; mapInPandas) — see operators/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_ruby_spark.operators import (
    asof_join,
    attach_fake_media,
    decode_media,
    extract_features,
    salted_agg,
)
from map_reduce_ruby_spark.plans.catalog import register
from map_reduce_ruby_spark.plans.memo import LruMemo
from map_reduce_ruby_spark.sources import load_table


@register(
    "asof_last_purchase",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        FROM events
    ),
    p AS (
        SELECT user_id, ts_us, event_id AS purchase_event_id, value AS purchase_value
        FROM e WHERE event_type = 'purchase'
    )
    SELECT e.event_id, e.user_id, e.ts_us, e.event_type,
           coalesce(p.purchase_event_id, -1) AS purchase_event_id,
           coalesce(p.purchase_value, 0.0) AS purchase_value
    FROM e ASOF LEFT JOIN p
      ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
    """,
    doc="As-of join (backward inclusive): attach each user's most recent "
    "purchase at-or-before every event. Spark side is the union+window "
    "composition (operators/asof.py — one shuffle on user_id, no range "
    "explosion); DuckDB side is its native ASOF JOIN, so two independent "
    "implementations must agree bit-for-bit. (user_id, ts) is unique in the "
    "right side, so the match is deterministic.",
    tags=("asof", "join", "custom-operator"),
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us", "event_type", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_us",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts_us", "event_type"),
        purchases,
        on="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        suffix="",
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "event_type",
        F.coalesce("purchase_event_id", F.lit(-1)).alias("purchase_event_id"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
    )


@register(
    "multimodal_decode_stats",
    oracle="""
    WITH media AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
               octet_length(encode(text)) AS payload_len,
               ('0x' || substr(md5(text), 1, 8))::UBIGINT AS h
        FROM documents
    ),
    decoded AS (
        SELECT media_type, payload_len,
               16 + h % 1024 AS width,
               16 + (h >> 10) % 1024 AS height,
               CASE WHEN media_type = 'image' THEN 1
                    ELSE 1 + (h >> 20) % 240 END AS n_frames
        FROM media
    )
    SELECT media_type,
           COUNT(*) AS n_items,
           CAST(SUM(payload_len) AS BIGINT) AS total_bytes,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height,
           CAST(SUM(n_frames) AS BIGINT) AS sum_frames
    FROM decoded GROUP BY media_type
    """,
    doc="Multimodal pipeline end-to-end: attach binary payloads -> "
    "mapInPandas decode (fake codec: md5-derived dimensions; real codecs "
    "stub NotImplementedError behind the same interface) -> per-media_type "
    "stats. The oracle recomputes the decode arithmetic in SQL, so the "
    "Arrow-batched binary plumbing is value-checked, not just row-counted.",
    tags=("multimodal", "custom-operator"),
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(attach_fake_media(docs))
    return decoded.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("payload_len").alias("total_bytes"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.sum("n_frames").alias("sum_frames"),
    )


@register(
    "multimodal_features",
    oracle="""
    WITH hx AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
               hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    feat AS (
        SELECT doc_id, media_type,
               list_transform(range(0, 16), b -> CAST(CAST(
                   len(list_filter(range(1, n + 1),
                       i -> substr(h, 2*i - 1, 1)
                            = substr('0123456789ABCDEF', CAST(b AS INT) + 1, 1)))
                   AS DOUBLE) / n AS REAL)) AS f
        FROM hx
    )
    SELECT doc_id, media_type,
           CAST(16 AS BIGINT) AS dim,
           CAST(len(list_filter(f, x -> x > 0)) AS BIGINT) AS nonzero_bins,
           CAST(list_position(f, list_max(f)) - 1 AS BIGINT) AS top_bin,
           ROUND(list_sum(list_transform(f, x -> CAST(x AS DOUBLE))), 4) AS l1_mass
    FROM feat
    """,
    doc="Feature extraction over binary payloads (mapInPandas, Arrow "
    "batches): L1-normalized 16-bin byte histogram (high nibble) per payload "
    "— the slot where a model forward pass goes. The checkable surface is "
    "exact: the oracle re-derives each payload's high-nibble histogram from "
    "hex(encode(text)) (hex digit at odd positions IS the high nibble), "
    "applies the same double-divide-then-float32-round normalization, and "
    "must agree on dim, nonzero bin count, argmax bin (ties -> lowest, both "
    "engines take the first position), and the 4dp-rounded L1 mass of the "
    "float32 vector. Raw vectors are value-pinned by "
    "tests/test_multimodal.py.",
    tags=("multimodal", "custom-operator"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_fake_media(docs))
    return feats.select(
        "doc_id",
        "media_type",
        F.size("feature").cast("long").alias("dim"),
        F.size(F.filter("feature", lambda x: x > 0)).cast("long").alias("nonzero_bins"),
        (F.expr("array_position(feature, array_max(feature))") - 1).cast("long").alias("top_bin"),
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 4).alias("l1_mass"),
    )


@register(
    "salted_skew_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY event_type
    """,
    doc="Skew-aware two-stage salted aggregation (operators/skew.py): "
    "event_type has only 5 values over all rows — exactly the hot-key shape "
    "that makes a naive groupBy a straggler at 100 TB. Stage 1 groups on "
    "(key, salt) across 16 buckets, stage 2 combines partials per key; the "
    "oracle is the plain single-stage GROUP BY, proving the decomposition "
    "is exact. Sum runs in integer cents so the salted re-association is "
    "bitwise identical.",
    tags=("skew", "aggregate", "custom-operator"),
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return salted_agg(
        ev,
        keys=["event_type"],
        partials={
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "value_cents": (F.sum("cents"), F.sum("value_cents")),
            "min_user": (F.min("user_id"), F.min("min_user")),
            "max_user": (F.max("user_id"), F.max("max_user")),
        },
        salt_buckets=16,
        salt_from="user_id",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH media AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
               ('0x' || substr(md5(text), 1, 8))::UBIGINT AS h
        FROM documents
    ),
    decoded AS (
        SELECT doc_id, media_type,
               CASE WHEN media_type = 'image' THEN 1
                    ELSE 1 + (h >> 20) % 240 END AS n_frames
        FROM media
    )
    SELECT media_type,
           COUNT(*) AS n_sampled_frames,
           CAST(SUM(frame_idx) AS BIGINT) AS sum_frame_idx,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (
        SELECT doc_id, media_type, unnest(range(0, n_frames::BIGINT, 10)) AS frame_idx
        FROM decoded
    )
    GROUP BY media_type
    """,
    doc="Frame sampling (every 10th frame) over decoded media: JVM-side "
    "sequence+explode multiplies rows scan-side, the slot where per-frame "
    "decode/embedding plugs in. Oracle re-derives the sampled index set in "
    "SQL, so the explode arithmetic is value-checked.",
    tags=("multimodal", "custom-operator"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(decode_media(attach_fake_media(docs)), every_k=10)
    return frames.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_sampled_frames"),
        F.sum("frame_idx").alias("sum_frame_idx"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# --- knn_ivf oracle: the ENTIRE deterministic k-means + IVF search rebuilt in
# SQL. Strided seed ids, 2 Lloyd iterations, argmin ties -> lowest cell,
# scaled-int64 centroid sums (see operators/ivf.py — integer addition makes
# the update order-independent, so an independent engine CAN reproduce it),
# adaptive-nprobe probe selection, exact-cosine rerank. Each iteration is one
# assign/update CTE pair generated below.

_IVF_DIM, _IVF_TOPK, _IVF_NQ = 64, 5, 10

# Scale-adaptive cell count / probe width (operators/ivf.py
# adaptive_cell_count / adaptive_nprobe): k = clamp(2^(bitlen(n)//2), 16,
# 1024) ~ sqrt(n), nprobe = max(2, k//8). Both derive from COUNT(*) in exact
# integer arithmetic — LENGTH(BIN(n)) is DuckDB's bit length — so the oracle
# computes the identical (k, nprobe) pair with no libm boundary. A FIXED k
# would leave SemDeDup's within-cell pair cost O(n^2/k): the same saturation
# class the adaptive SimHash banding removed.
_IVF_K_SQL = "(SELECT k FROM kp)"
_IVF_NPROBE_SQL = "(SELECT GREATEST(2, k // 8) FROM kp)"
_IVF_KP_CTE = (
    "kp AS (SELECT LEAST(1024, GREATEST(16,"
    " (CAST(1 AS BIGINT) << (LENGTH(BIN(COUNT(*))) // 2)))) AS k FROM v)"
)


def _ivf_sqdist_sql(e: str, c: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_IVF_DIM + 1}),"
        f" i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i])))"
    )


def _ivf_iteration_sql(i: int) -> str:
    """CTEs for Lloyd iteration i: assign a{i} (over the training sample
    tv, mirroring build_ivf_index's strided Lloyd sample) against cs{i-1},
    means m{i}, new centroid rows c{i} (empty cells keep c{i-1}'s
    centroid), list cs{i}."""
    p = i - 1
    return f"""
    a{i} AS (
        SELECT id, e, list_position(d, list_min(d)) - 1 AS cell
        FROM (SELECT id, e,
                     list_transform((SELECT cs FROM cs{p}), c ->
                         {_ivf_sqdist_sql('e', 'c')}) AS d
              FROM tv)
    ),
    m{i} AS (
        SELECT cell, pos,
               (CAST(SUM(CAST(ROUND(val * 1000000000) AS BIGINT)) AS DOUBLE)
                / 1000000000.0) / COUNT(*) AS m
        FROM (SELECT cell, unnest(e) AS val, generate_subscripts(e, 1) AS pos
              FROM a{i})
        GROUP BY cell, pos
    ),
    c{i} AS (
        SELECT g.cell, COALESCE(mm.me, p.ce) AS ce
        FROM (SELECT unnest(range(0, {_IVF_K_SQL})) AS cell) g
        LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS me
                   FROM m{i} GROUP BY cell) mm USING (cell)
        LEFT JOIN c{p} p USING (cell)
    ),
    cs{i} AS (SELECT list(ce ORDER BY cell) AS cs FROM c{i})"""


# CTE chain up to the final cell assignment `af` — shared by the knn_ivf
# oracle and the SemDeDup oracle (similarity_queries.dedup_semantic_ivf),
# which reuses the identical deterministic k-means so BOTH consumers of the
# index build are gated on the same independent SQL rebuild.
IVF_AF_CTES = f"""
    v AS (
        SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    {_IVF_KP_CTE},
    params AS (SELECT GREATEST(1, COUNT(*) // {_IVF_K_SQL}) AS stride FROM v),
    tparams AS (SELECT GREATEST(1, COUNT(*) // ({_IVF_K_SQL} * 256)) AS tstride
                FROM v),
    tv AS (SELECT id, e FROM v, tparams WHERE id % tstride = 0),
    c0 AS (
        SELECT CAST(id // stride AS BIGINT) AS cell, e AS ce
        FROM v, params
        WHERE id % stride = 0 AND id // stride < {_IVF_K_SQL}
    ),
    cs0 AS (SELECT list(ce ORDER BY cell) AS cs FROM c0),
    {_ivf_iteration_sql(1)},
    {_ivf_iteration_sql(2)},
    af AS (
        SELECT id, e, list_position(d, list_min(d)) - 1 AS cell
        FROM (SELECT id, e,
                     list_transform((SELECT cs FROM cs2), c ->
                         {_ivf_sqdist_sql('e', 'c')}) AS d
              FROM v)
    )"""

# Split-ingest twin of IVF_AF_CTES: k-means TRAINS on batch-1 only (t = the
# first half by id — kp/stride/tstride/seeds/Lloyd all derive from t), then
# af assigns the WHOLE corpus to those centroids. This is exactly what the
# incremental index holds after write_ivf_index(batch-1) +
# append_ivf_batch(batch-2): centroids from the original build, every batch
# assigned to them. Duplicated from IVF_AF_CTES rather than parameterized so
# the widely-shared full-corpus chain stays byte-stable for its consumers
# (knn_ivf, dedup_semantic_ivf, knn_ivf_persisted).
IVF_AF_CTES_SPLIT = f"""
    v AS (
        SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    t AS (SELECT id, e FROM v WHERE id < (SELECT COUNT(*) // 2 FROM v)),
    kp AS (SELECT LEAST(1024, GREATEST(16,
           (CAST(1 AS BIGINT) << (LENGTH(BIN(COUNT(*))) // 2)))) AS k FROM t),
    params AS (SELECT GREATEST(1, COUNT(*) // {_IVF_K_SQL}) AS stride FROM t),
    tparams AS (SELECT GREATEST(1, COUNT(*) // ({_IVF_K_SQL} * 256)) AS tstride
                FROM t),
    tv AS (SELECT id, e FROM t, tparams WHERE id % tstride = 0),
    c0 AS (
        SELECT CAST(id // stride AS BIGINT) AS cell, e AS ce
        FROM t, params
        WHERE id % stride = 0 AND id // stride < {_IVF_K_SQL}
    ),
    cs0 AS (SELECT list(ce ORDER BY cell) AS cs FROM c0),
    {_ivf_iteration_sql(1)},
    {_ivf_iteration_sql(2)},
    af AS (
        SELECT id, e, list_position(d, list_min(d)) - 1 AS cell
        FROM (SELECT id, e,
                     list_transform((SELECT cs FROM cs2), c ->
                         {_ivf_sqdist_sql('e', 'c')}) AS d
              FROM v)
    )"""

_IVF_ORACLE = f"""
    WITH {IVF_AF_CTES},
    qd AS (
        SELECT q.id AS qid, q.e AS qe, c.cell,
               {_ivf_sqdist_sql('q.e', 'c.ce')} AS d
        FROM (SELECT id, e FROM v WHERE id < {_IVF_NQ}) q CROSS JOIN c2 c
    ),
    probes AS (
        SELECT qid, qe, cell FROM (
            SELECT qid, qe, cell,
                   row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
            FROM qd
        ) WHERE rn <= {_IVF_NPROBE_SQL}
    ),
    scored AS (
        SELECT p.qid AS query_id, a.id AS neighbor_id,
               ROUND(list_sum(list_transform(range(1, {_IVF_DIM + 1}),
                         i -> p.qe[i] * a.e[i]))
                     / (sqrt(list_sum(list_transform(p.qe, x -> x * x)))
                        * sqrt(list_sum(list_transform(a.e, x -> x * x)))),
                     4) AS cos_sim
        FROM probes p JOIN af a ON a.cell = p.cell AND a.id <> p.qid
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {_IVF_TOPK}
    """


# Same probe/rank search as _IVF_ORACLE over the split-ingest chain:
# centroids (c2) trained on batch-1, candidates (af) spanning both batches.
_IVF_INC_ORACLE = f"""
    WITH {IVF_AF_CTES_SPLIT},
    qd AS (
        SELECT q.id AS qid, q.e AS qe, c.cell,
               {_ivf_sqdist_sql('q.e', 'c.ce')} AS d
        FROM (SELECT id, e FROM v WHERE id < {_IVF_NQ}) q CROSS JOIN c2 c
    ),
    probes AS (
        SELECT qid, qe, cell FROM (
            SELECT qid, qe, cell,
                   row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
            FROM qd
        ) WHERE rn <= {_IVF_NPROBE_SQL}
    ),
    scored AS (
        SELECT p.qid AS query_id, a.id AS neighbor_id,
               ROUND(list_sum(list_transform(range(1, {_IVF_DIM + 1}),
                         i -> p.qe[i] * a.e[i]))
                     / (sqrt(list_sum(list_transform(p.qe, x -> x * x)))
                        * sqrt(list_sum(list_transform(a.e, x -> x * x)))),
                     4) AS cos_sim
        FROM probes p JOIN af a ON a.cell = p.cell AND a.id <> p.qid
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {_IVF_TOPK}
    """


@register(
    "knn_ivf_incremental",
    oracle=_IVF_INC_ORACLE,
    doc="INCREMENTAL MAINTENANCE of the durable IVF index "
    "(operators/ann_index.py append_ivf_batch): the index is trained and "
    "written from batch-1 (the first half of the corpus by id), then "
    "batch-2 is ASSIGNED to the stored centroids and appended into its "
    "cell partitions — one narrow batch scan, no retrain, no corpus "
    "rewrite (mtimes pinned in tests/test_ann_index.py), the FAISS "
    "add-after-train maintenance model and the reference's add_chunk-per-"
    "batch deploy story (reducer.rb:34-42) applied to the index artifact. "
    "Queries then probe the combined index. The oracle independently "
    "rebuilds the SPLIT semantics — k, seeds, and both Lloyd iterations "
    "derived from batch-1 alone, final assignment spanning both batches — "
    "so a silent retrain-on-append (or a dropped batch) hash-mismatches. "
    "The batch's index membership commits via an atomic meta-counter bump "
    "AFTER the parquet append, so a crashed half-append is detectable by "
    "cache consumers (read_index_meta).",
    tags=("similarity", "ann", "ivf", "incremental", "persisted",
          "custom-operator"),
)
def knn_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators import (
        adaptive_nprobe,
        append_ivf_batch,
        ivf_index_exists,
        ivf_search,
        load_ivf_index,
        read_index_meta,
        write_ivf_index,
    )
    from map_reduce_ruby_spark.operators.ann_index import IVF_INDEX_VERSION
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    v = _ivf_vectors(spark, sf_dir)
    n = v.count()
    # n < 2 covers the n == 1 degenerate too: half = 0 would make batch-1
    # EMPTY (nothing to train on), and the split oracle returns 0 rows for
    # a 1-row corpus (checked directly in DuckDB) — so empty is the match
    if n < 2:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    half = n // 2
    batch1 = v.filter(F.col("id") < half)
    batch2 = v.filter(F.col("id") >= half)

    tag = table_fingerprint(sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(), f"ivf_inc_idx_v{IVF_INDEX_VERSION}_{tag}"
    )
    meta = read_index_meta(path)
    # cache hit only when BOTH the build and the append committed
    # (batches == 2); anything else rebuilds — write_ivf_index replaces a
    # stale root atomically (true refresh), and a crashed half-append is
    # just an unlisted orphan dir the retry overwrites (per-batch-dir
    # layout: duplicates are structurally impossible)
    if not (ivf_index_exists(path) and meta and meta.get("batches") == 2):
        write_ivf_index(spark, batch1, path, k=None)
        # stable batch id: a retry after a post-commit crash is a no-op
        append_ivf_batch(spark, batch2, path, batch_id="second-half")
    assignments, centroids = load_ivf_index(spark, path)
    queries = v.filter(F.col("id") < _IVF_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return ivf_search(
        assignments, centroids, queries, top_k=_IVF_TOPK,
        nprobe=adaptive_nprobe(len(centroids)),
    )


@register(
    "knn_ivf_compacted",
    # Same split oracle as knn_ivf_incremental: compaction must be
    # observationally INVISIBLE — build(batch-1) + append(batch-2) +
    # compact + vacuum probes exactly like the uncompacted index.
    oracle=_IVF_INC_ORACLE,
    doc="COMPACTION of the durable IVF index (operators/ann_index.py "
    "compact_ivf_index + vacuum_index) — the OPTIMIZE/VACUUM half of the "
    "append lifecycle: append_ivf_batch deliberately lands each batch as "
    "its own ingest=<n> partition tree (appends stay O(batch), nothing "
    "rewritten), so a year of daily ingests leaves 365 partition trees of "
    "up to k tiny cell files each, and the probe's cost at 100 TB becomes "
    "file-open overhead and task scheduling instead of IO — the classic "
    "small-files problem Delta/Iceberg ship OPTIMIZE for. compact merges "
    "every committed generation into ONE new ingest partition through the "
    "generation store's lock/stage/rename/meta-commit protocol "
    "(operators/artifact_store.py; readers planned before the commit keep "
    "their old generations — compaction never deletes, vacuum reclaims "
    "unlisted generations after a grace window). This entry builds from "
    "batch-1, appends batch-2, compacts, vacuums with a one-hour grace "
    "window (vacuum_index(path, grace_sec=3600.0): the cached root is "
    "shared across processes, so retired generations wait out readers), "
    "then probes: gated on the SAME split oracle as "
    "knn_ivf_incremental, so a compaction that dropped, duplicated, or "
    "perturbed any row hash-mismatches. File-count and batch_id-"
    "idempotency-survival are pinned in tests/test_ann_compaction.py.",
    tags=("similarity", "ann", "ivf", "incremental", "persisted",
          "compaction", "custom-operator"),
)
def knn_ivf_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators import (
        adaptive_nprobe,
        append_ivf_batch,
        compact_ivf_index,
        ivf_index_exists,
        ivf_search,
        load_ivf_index,
        read_index_meta,
        vacuum_index,
        write_ivf_index,
    )
    from map_reduce_ruby_spark.operators.ann_index import IVF_INDEX_VERSION
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    v = _ivf_vectors(spark, sf_dir)
    n = v.count()
    # same degenerate contract as knn_ivf_incremental: batch-1 would be
    # empty below 2 rows, and the split oracle returns 0 rows there
    if n < 2:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    half = n // 2
    batch1 = v.filter(F.col("id") < half)
    batch2 = v.filter(F.col("id") >= half)

    tag = table_fingerprint(sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(), f"ivf_cmp_idx_v{IVF_INDEX_VERSION}_{tag}"
    )
    meta = read_index_meta(path)
    # cache hit only on the fully-compacted end state: both batches
    # ingested AND merged down to one committed generation
    if not (
        ivf_index_exists(path)
        and meta
        and meta.get("batches") == 2
        and len(meta.get("ingests", [])) == 1
    ):
        write_ivf_index(spark, batch1, path, k=None)
        append_ivf_batch(spark, batch2, path, batch_id="second-half")
        compact_ivf_index(spark, path)
        # a REAL drain window, not grace=0: the index path is shared
        # across processes (content-addressed in tempdir), so a sibling
        # suite's serving scan may still hold the retired generations —
        # deleting them immediately is the reader-kill the band-index
        # attach fix closed (production keeps the default 24 h window)
        vacuum_index(path, grace_sec=3600.0)
    assignments, centroids = load_ivf_index(spark, path)
    queries = v.filter(F.col("id") < _IVF_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return ivf_search(
        assignments, centroids, queries, top_k=_IVF_TOPK,
        nprobe=adaptive_nprobe(len(centroids)),
    )


@register(
    "knn_ivf",
    oracle=_IVF_ORACLE,
    doc="IVF (inverted-file) ANN (operators/ivf.py): deterministic k-means "
    "over the embedding corpus (SCALE-ADAPTIVE cell count k ~ sqrt(n) — "
    "adaptive_cell_count, 2 Lloyd iterations, every step a DataFrame plan), "
    "then queries probe their nprobe = max(2, k/8) nearest cells (constant "
    "probed fraction as k scales) and rank "
    "candidates by exact cosine. The FAISS IVF-flat layout re-expressed "
    "relationally: broadcast centroids, narrow assignment scan, candidate "
    "equi-join on cell id. The oracle rebuilds the whole pipeline — strided "
    "seeds, both Lloyd iterations with scaled-int64 exact centroid sums, "
    "argmin tie-to-lowest-cell, nprobe probe ranking, cosine rerank — as "
    "independent SQL, so the index build itself is value-checked, not just "
    "recall-bounded. tests/test_ivf.py additionally bounds recall@5 vs "
    "brute force.",
    tags=("similarity", "ann", "ivf", "custom-operator"),
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators import ivf_search

    index = ivf_index_for(spark, sf_dir)
    if index is None:  # empty corpus: no index to build, schema-stable empty result
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    assignments, centroids = index
    v = _ivf_vectors(spark, sf_dir)
    queries = v.filter(F.col("id") < 10).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    from map_reduce_ruby_spark.operators import adaptive_nprobe

    return ivf_search(
        assignments, centroids, queries, top_k=5, nprobe=adaptive_nprobe(len(centroids))
    )


@register(
    "knn_ivf_persisted",
    # SAME oracle as knn_ivf: the stored index must be indistinguishable
    # from the freshly trained one (the dedup_persisted_index rule).
    oracle=_IVF_ORACLE,
    doc="The DURABLE form of knn_ivf (operators/ann_index.py): the "
    "deterministic k-means index — cell assignments PARTITIONED by cell "
    "id, centroids as a side table — is materialized to parquet once, and "
    "the search loads it from storage: no Lloyd jobs, no assignment scan, "
    "no retrain on restart (tests/test_ann_index.py pins file mtimes "
    "across a reload). Probing joins the bounded (query x probed-cell) "
    "broadcast side against the stored cell layout, so dynamic partition "
    "pruning reads ONLY the probed cells' files — at k=1024 / nprobe=128 "
    "a query batch touches ~1/8th of the corpus bytes. Gated by the same "
    "composed SQL rebuild as knn_ivf, proving stored == derived == "
    "oracle. This closes the round-5 stand-in (a session-memoized cache "
    "that retrained on restart) with the artifact the reference's "
    "persist-between-phases deployment story implies "
    "(/root/reference/README.md:60-84).",
    tags=("similarity", "ann", "ivf", "persisted", "custom-operator"),
)
def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators import (
        adaptive_nprobe,
        ivf_index_exists,
        ivf_search,
        load_ivf_index,
        write_ivf_index,
    )
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    v = _ivf_vectors(spark, sf_dir)
    # Content-fingerprinted path (the dedup_persisted_index rule): a fresh
    # process recomputes the same path; a regenerated fixture invalidates it.
    # The builder version rides in the path too (and in the index's
    # _META.json, checked by ivf_index_exists): /tmp outlives the process,
    # so an index trained by OLDER builder code must be a cache MISS, never
    # a silent oracle-divergent load.
    from map_reduce_ruby_spark.operators.ann_index import IVF_INDEX_VERSION

    tag = table_fingerprint(sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(), f"ivf_idx_v{IVF_INDEX_VERSION}_{tag}"
    )
    if not ivf_index_exists(path):
        # emptiness is checked only on a miss: an index exists for this
        # fingerprint only if its corpus was non-empty
        if v.isEmpty():
            return spark.createDataFrame(
                [], "query_id long, neighbor_id long, cos_sim double, rn long"
            )
        write_ivf_index(spark, v, path, k=None)
    assignments, centroids = load_ivf_index(spark, path)
    queries = v.filter(F.col("id") < _IVF_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return ivf_search(
        assignments, centroids, queries, top_k=_IVF_TOPK,
        nprobe=adaptive_nprobe(len(centroids)),
    )


def _ivf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )


# Session-scoped memo of the IVF index build. The Lloyd iterations run
# driver-coordinated jobs (seed collect + per-iteration centroid stats), so
# unlike a cached DataFrame plan they re-execute on every consumer; both
# knn_ivf and dedup_semantic_ivf read the SAME deterministic index, and in
# production this is the persisted index the ingest maintains — the memo is
# its in-session stand-in. Keyed by Spark applicationId so a new session
# never sees a stale DataFrame.
# build_ivf_index returns a .cache()'d assignments frame (the persisted-
# index stand-in): release it on LRU eviction, or the pinned entries
# outlive their dict slots. A handful of sf_dirs per session at most.
_IVF_INDEX_MEMO = LruMemo(capacity=8, unpersist=lambda val: val[0].unpersist())


def ivf_index_for(spark: SparkSession, sf_dir: str):
    """(assignments, centroids) for the sf_dir corpus, or None when empty."""
    from map_reduce_ruby_spark.operators import build_ivf_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _IVF_INDEX_MEMO:
        return _IVF_INDEX_MEMO.get(key)
    v = _ivf_vectors(spark, sf_dir)
    if v.isEmpty():
        return None
    return _IVF_INDEX_MEMO.get_or_build(
        key, lambda: build_ivf_index(v, k=None, iterations=2)
    )


@register(
    "salted_join_nation_revenue",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    doc="Skew-safe salted join (operators/skew.py salted_join): the fact "
    "side carries a deterministic salt, the small side is replicated "
    "salt_buckets times, and the join key becomes (key, salt) — one hot key "
    "spreads over 8 reducers instead of one straggler task. AQE skew-split "
    "divides oversized PARTITIONS; salting divides WITHIN a single key, the "
    "case AQE cannot fix. The result is provably identical to the plain "
    "join — the oracle IS the plain join.",
    tags=("skew", "join", "custom-operator"),
)
def salted_join_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(
        li, supp.withColumnRenamed("s_suppkey", "l_suppkey"), ["l_suppkey"], 8
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(rev.cast("decimal(18,6)")).cast("double").alias("revenue"),
    )


# --- z-order layout: oracle-checked Morton arithmetic -----------------------

_Z_BITS = 8


def _interleave_sql(a: str, b: str, bits: int = _Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "zorder_tile_stats",
    oracle=f"""
    WITH coded AS (
        SELECT CAST({_interleave_sql('(user_id % 256)', '((epoch_us(ts) // 86400000000) % 256)')}
                    AS BIGINT) AS z
        FROM events
    )
    SELECT CAST(z >> 10 AS BIGINT) AS tile,
           COUNT(*) AS n_rows,
           CAST(MIN(z) AS BIGINT) AS z_min,
           CAST(MAX(z) AS BIGINT) AS z_max
    FROM coded GROUP BY 1
    """,
    doc="Z-order (Morton) layout arithmetic, value-checked: interleave the "
    "bits of (user_id, event day) into a Morton code (operators/zorder.py "
    "interleave_bits — a pure shift/mask codegen chain, the clustering key "
    "behind Delta/Iceberg ZORDER BY), then per 1024-code tile emit row "
    "count and the z range. The oracle recomputes the interleave bit-for-"
    "bit in SQL, so the layout key the writer sorts by is itself oracle-"
    "gated; tests/test_zorder.py separately proves the file-pruning effect "
    "of writing in z order. At 100 TB the tile histogram is exactly the "
    "file-skipping metadata a box query consults.",
    tags=("layout", "zorder", "custom-operator"),
)
def zorder_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators.zorder import interleave_bits

    ev = load_table(spark, sf_dir, "events")
    z = interleave_bits(
        F.col("user_id") % 256,
        F.expr("ts_us div 86400000000") % 256,
        bits=_Z_BITS,
    )
    return (
        ev.select(z.alias("z"))
        .groupBy(F.shiftright("z", 10).cast("long").alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z").cast("long").alias("z_min"),
            F.max("z").cast("long").alias("z_max"),
        )
    )


@register(
    "multimodal_resize",
    oracle="""
    WITH media AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
               hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    resized AS (
        SELECT doc_id, media_type, n AS orig_len,
               CAST(CEIL(CAST(n AS DOUBLE)
                         / GREATEST(1, CAST(CEIL(n / 256.0) AS BIGINT)))
                    AS BIGINT) AS resized_len,
               -- COALESCE: list_aggregate over an EMPTY list (zero-length
               -- payload) is NULL in DuckDB, while Spark yields md5 of the
               -- empty string — align on ''
               COALESCE(list_aggregate(
                   list_transform(
                       range(0, CAST(CEIL(CAST(n AS DOUBLE)
                               / GREATEST(1, CAST(CEIL(n / 256.0) AS BIGINT)))
                             AS BIGINT)),
                       k -> substr(h, 2 * CAST(k * GREATEST(1,
                                CAST(CEIL(n / 256.0) AS BIGINT)) AS BIGINT) + 1, 2)),
                   'string_agg', ''), '') AS resized_hex
        FROM media
    )
    SELECT doc_id, media_type, orig_len, resized_len,
           md5(resized_hex) AS resized_md5
    FROM resized
    """,
    doc="Multimodal RESIZE (operators/multimodal.py resize_media): uniform "
    "stride-k byte downsampling to <=256 bytes — the fake-codec stand-in "
    "for an image downscale, same mapInPandas Arrow plumbing a PIL resize "
    "plugs into. The oracle reconstructs the EXACT sampled byte sequence "
    "from hex(encode(text)) (hex chars 2i+1..2i+2 are byte i) and must "
    "agree on every output byte via the resized payload's hex md5 — the "
    "full binary-out path is value-gated, not just row-counted. Scale: "
    "payloads shrink scan-side before any shuffle; downstream feature "
    "passes read 256 bytes instead of megabytes.",
    tags=("multimodal", "custom-operator"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators import resize_media

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_media(attach_fake_media(docs), target_len=256)
    return resized.select(
        "doc_id",
        "media_type",
        "orig_len",
        "resized_len",
        F.md5(F.hex("payload_resized")).alias("resized_md5"),
    )


# --- explicit Bloom-filter semi-join pruning ---------------------------------

_BLOOM_M = 2048  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(j: int, key: str) -> str:
    return (
        f"(('0x' || substr(md5('bloom{j}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f"::UBIGINT)::BIGINT % {_BLOOM_M}"
    )


@register(
    "bloom_semi_join_prune",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
        SELECT DISTINCT {_bloom_pos_sql(0, 'c_custkey')} AS pos FROM build
        UNION
        SELECT DISTINCT {_bloom_pos_sql(1, 'c_custkey')} FROM build
        UNION
        SELECT DISTINCT {_bloom_pos_sql(2, 'c_custkey')} FROM build
    ),
    probe AS (
        -- per-position membership summed INDIVIDUALLY: a key whose k hash
        -- positions collide still probes k times (pos IN (...) would match
        -- distinct set bits only and fabricate false negatives — 28 of
        -- them at sf0.1)
        SELECT o_orderkey, o_orderstatus, o_custkey,
               (CAST({_bloom_pos_sql(0, 'o_custkey')} IN (SELECT pos FROM bits) AS INT)
                + CAST({_bloom_pos_sql(1, 'o_custkey')} IN (SELECT pos FROM bits) AS INT)
                + CAST({_bloom_pos_sql(2, 'o_custkey')} IN (SELECT pos FROM bits) AS INT))
                   AS nbits,
               o_custkey IN (SELECT c_custkey FROM build) AS is_member
        FROM orders
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE nbits = {_BLOOM_K}) AS n_bloom_pass,
           COUNT(*) FILTER (WHERE is_member) AS n_members,
           COUNT(*) FILTER (WHERE nbits = {_BLOOM_K} AND NOT is_member)
               AS n_false_positives,
           COUNT(*) FILTER (WHERE is_member AND nbits < {_BLOOM_K})
               AS n_false_negatives
    FROM probe GROUP BY o_orderstatus
    """,
    doc="Bloom-filter semi-join pruning made explicit (the mechanism behind "
    "Spark's runtime row-level filtering, spark.sql.optimizer.runtime."
    "bloomFilter): the build side's keys set k=3 md5-derived bit positions "
    "in an m=2048-bit filter; a probe row survives only if all 3 of its "
    "positions are set. The filter is a <=2048-row distinct-position table "
    "broadcast to the probe scan — the probe NEVER shuffles, which is the "
    "entire point at 100 TB (prune before the exchange, pay the exact semi "
    "join only on survivors). The query emits per-status pass/member/"
    "false-positive tallies, and the n_false_negatives column pins the "
    "no-false-negatives Bloom invariant (must be 0) under the hash gate.",
    tags=("join", "bloom", "custom-operator"),
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey").distinct()

    def pos(j: int, key: str):
        from map_reduce_ruby_spark.functions import h32

        return h32(F.col(key).cast("string"), seed=f"bloom{j}") % _BLOOM_M

    bits = (
        build.select(F.explode(F.array(*[pos(j, "c_custkey") for j in range(_BLOOM_K)])).alias("pos"))
        .distinct()
    )
    probed = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_custkey",
        F.explode(F.array(*[pos(j, "o_custkey") for j in range(_BLOOM_K)])).alias("pos"),
    )
    # broadcast the bit table; inner join counts how many of the k probe
    # positions are set — nbits == k is the bloom pass.
    nbits = (
        probed.join(F.broadcast(bits), "pos")
        .groupBy("o_orderkey", "o_orderstatus", "o_custkey")
        .agg(F.count(F.lit(1)).alias("nbits"))
    )
    flags = (
        orders.select("o_orderkey", "o_orderstatus", "o_custkey")
        .join(nbits.select("o_orderkey", "nbits"), "o_orderkey", "left")
        .na.fill({"nbits": 0})
        .join(
            F.broadcast(build.withColumnRenamed("c_custkey", "o_custkey").withColumn("member", F.lit(True))),
            "o_custkey",
            "left",
        )
        .withColumn("is_member", F.coalesce(F.col("member"), F.lit(False)))
    )
    k = _BLOOM_K
    return flags.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("nbits") == k, 1)).alias("n_bloom_pass"),
        F.count(F.when(F.col("is_member"), 1)).alias("n_members"),
        F.count(F.when((F.col("nbits") == k) & ~F.col("is_member"), 1)).alias("n_false_positives"),
        F.count(F.when(F.col("is_member") & (F.col("nbits") < k), 1)).alias("n_false_negatives"),
    )


# --- product quantization (PQ) ANN ------------------------------------------
# The oracle rebuilds the ENTIRE per-subspace k-means + encode + ADC search
# in SQL (generated below, one CTE chain per subspace) — the same
# independent-rebuild standard as the knn_ivf oracle.

_PQ_NSUB, _PQ_SUB, _PQ_K, _PQ_TOPK, _PQ_NQ, _PQ_RERANK = 8, 8, 16, 5, 10, 100


def _pq_sub_sql(e: str, m: int) -> str:
    """Subspace m's slice of list column ``e`` (1-based, contiguous)."""
    off = m * _PQ_SUB
    return f"list_transform(range(1, {_PQ_SUB + 1}), i -> {e}[{off} + i])"


def _pq_sqdist_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_PQ_SUB + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


# PQ training-sample CTEs — shared by _PQ_ORACLE and _IVF_PQ_ORACLE so the
# stride arithmetic stays in lockstep with build_pq_index's
# (k * train_per_centroid) rule in ONE place; the pq prefix keeps these
# decoupled from the IVF chain's (now adaptive) params/tv.
PQ_PARAMS_CTES = f"""pqparams AS (SELECT GREATEST(1, COUNT(*) // {_PQ_K}) AS stride FROM v),
    pqtparams AS (SELECT GREATEST(1, COUNT(*) // {_PQ_K * 256}) AS tstride FROM v),
    pqtv AS (SELECT id, e FROM v, pqtparams WHERE id % tstride = 0)"""


def _pq_subspace_ctes(m: int, seeds_from: str = "v") -> str:
    """Seeds -> one Lloyd iteration -> final codebook for subspace m.
    ``seeds_from`` is the TRAINING domain (seeds stride over it; the Lloyd
    sample pqtv must come from the matching params CTE set); the final
    encode f{m} and the query LUTs l{m} always span v/q."""
    return f"""
    s{m}0 AS (
        SELECT CAST(id // stride AS BIGINT) AS cell, {_pq_sub_sql('e', m)} AS ce
        FROM {seeds_from}, pqparams
        WHERE id % stride = 0 AND id // stride < {_PQ_K}
    ),
    cs{m}0 AS (SELECT list(ce ORDER BY cell) AS cs FROM s{m}0),
    a{m}1 AS (
        SELECT id, sube, list_position(d, list_min(d)) - 1 AS cell
        FROM (SELECT id, sube,
                     list_transform((SELECT cs FROM cs{m}0), c ->
                         {_pq_sqdist_sql('sube', 'c')}) AS d
              FROM (SELECT id, {_pq_sub_sql('e', m)} AS sube FROM pqtv))
    ),
    m{m}1 AS (
        SELECT cell, pos,
               (CAST(SUM(CAST(ROUND(val * 1000000000) AS BIGINT)) AS DOUBLE)
                / 1000000000.0) / COUNT(*) AS mval
        FROM (SELECT cell, unnest(sube) AS val,
                     generate_subscripts(sube, 1) AS pos
              FROM a{m}1)
        GROUP BY cell, pos
    ),
    c{m}1 AS (
        SELECT g.cell, COALESCE(mm.me, p.ce) AS ce
        FROM (SELECT unnest(range(0, {_PQ_K})) AS cell) g
        LEFT JOIN (SELECT cell, list(mval ORDER BY pos) AS me
                   FROM m{m}1 GROUP BY cell) mm USING (cell)
        LEFT JOIN s{m}0 p USING (cell)
    ),
    cs{m}1 AS (SELECT list(ce ORDER BY cell) AS cs FROM c{m}1),
    f{m} AS (
        SELECT id, list_position(d, list_min(d)) - 1 AS code
        FROM (SELECT id,
                     list_transform((SELECT cs FROM cs{m}1), c ->
                         {_pq_sqdist_sql('sube', 'c')}) AS d
              FROM (SELECT id, {_pq_sub_sql('e', m)} AS sube FROM v))
    ),
    l{m} AS (
        SELECT qid,
               list_transform((SELECT cs FROM cs{m}1), c ->
                   {_pq_sqdist_sql('qsube', 'c')}) AS lut
        FROM (SELECT qid, {_pq_sub_sql('qe', m)} AS qsube FROM q)
    )"""


_PQ_ORACLE = (
    f"""
    WITH v AS (
        SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    {PQ_PARAMS_CTES},
    q AS (SELECT id AS qid, e AS qe FROM v WHERE id < {_PQ_NQ}),"""
    + ",".join(_pq_subspace_ctes(m) for m in range(_PQ_NSUB))
    + f""",
    codes AS (
        SELECT f0.id, {', '.join(f'f{m}.code AS code{m}' for m in range(_PQ_NSUB))}
        FROM f0 {' '.join(f'JOIN f{m} ON f0.id = f{m}.id' for m in range(1, _PQ_NSUB))}
    ),
    luts AS (
        SELECT l0.qid, {', '.join(f'l{m}.lut AS lut{m}' for m in range(_PQ_NSUB))}
        FROM l0 {' '.join(f'JOIN l{m} ON l0.qid = l{m}.qid' for m in range(1, _PQ_NSUB))}
    ),
    scored AS (
        SELECT q.qid AS query_id, c.id AS neighbor_id,
               ROUND({' + '.join(f'q.lut{m}[c.code{m} + 1]' for m in range(_PQ_NSUB))},
                     4) AS adc_dist
        FROM luts q JOIN codes c ON c.id <> q.qid
    ),
    short AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc_dist, neighbor_id) AS arn
              FROM scored)
        WHERE arn <= {_PQ_RERANK}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_sum(list_transform(range(1, {_IVF_DIM + 1}),
                         i -> qq.qe[i] * c.e[i]))
                     / (sqrt(list_sum(list_transform(qq.qe, x -> x * x)))
                        * sqrt(list_sum(list_transform(c.e, x -> x * x)))),
                     4) AS cos_sim
        FROM short s
        JOIN q qq ON qq.qid = s.query_id
        JOIN v c ON c.id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM rer)
    WHERE rn <= {_PQ_TOPK}
    """
)


@register(
    "knn_pq",
    oracle=_PQ_ORACLE,
    doc="Product-quantization ANN (Jegou et al.; operators/pq.py): the "
    "vector is split into 8 subspaces, each trained to a 16-codeword "
    "codebook by the same deterministic k-means rules as knn_ivf (strided "
    "seeds, scaled-int64 sums, ties to lowest code) — ALL subspaces in one "
    "assignment projection + ONE (subspace, cell, pos) aggregation per "
    "iteration. Vectors compress to 8 codes (64 doubles -> 8 nibbles); "
    "queries score candidates by ADC lookup-table sums, no per-pair vector "
    "math. The oracle rebuilds every subspace's k-means, the encoding, the "
    "lookup tables, and the ADC ranking in SQL — the index build is "
    "value-checked end-to-end. Search is the production two-stage shape: "
    "ADC shortlists top-100 per query reading only the 8-byte codes, then "
    "exact cosine reranks the shortlist (raw 4-bit ADC cannot separate "
    "fine within-cluster neighbors — measured recall 0.08 raw vs 0.84 "
    "reranked; bound in tests/test_ivf.py). In production PQ composes "
    "with the IVF cell layout (candidates from probed cells only) — that "
    "composition is implemented and value-checked as knn_ivf_pq.",
    tags=("similarity", "ann", "quantization", "custom-operator"),
)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators import pq_search

    index = pq_index_for(spark, sf_dir)
    if index is None:  # schema-stable empty result; rn/cos columns as below
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    codes, books = index
    v = _ivf_vectors(spark, sf_dir)
    queries = v.filter(F.col("id") < _PQ_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return pq_search(
        codes, books, queries, v, dim=_IVF_DIM, top_k=_PQ_TOPK, rerank=_PQ_RERANK
    )


# Split-ingest twin of _PQ_ORACLE: codebooks train on batch-1 (t), the
# encode and the search span the whole corpus — what the incremental index
# holds after write_pq_index(batch-1) + append_pq_batch(batch-2).
_PQ_PARAMS_CTES_SPLIT = f"""pqparams AS (SELECT GREATEST(1, COUNT(*) // {_PQ_K}) AS stride FROM t),
    pqtparams AS (SELECT GREATEST(1, COUNT(*) // {_PQ_K * 256}) AS tstride FROM t),
    pqtv AS (SELECT id, e FROM t, pqtparams WHERE id % tstride = 0)"""

_PQ_INC_ORACLE = (
    f"""
    WITH v AS (
        SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    t AS (SELECT id, e FROM v WHERE id < (SELECT COUNT(*) // 2 FROM v)),
    {_PQ_PARAMS_CTES_SPLIT},
    q AS (SELECT id AS qid, e AS qe FROM v WHERE id < {_PQ_NQ}),"""
    + ",".join(_pq_subspace_ctes(m, seeds_from="t") for m in range(_PQ_NSUB))
    + f""",
    codes AS (
        SELECT f0.id, {', '.join(f'f{m}.code AS code{m}' for m in range(_PQ_NSUB))}
        FROM f0 {' '.join(f'JOIN f{m} ON f0.id = f{m}.id' for m in range(1, _PQ_NSUB))}
    ),
    luts AS (
        SELECT l0.qid, {', '.join(f'l{m}.lut AS lut{m}' for m in range(_PQ_NSUB))}
        FROM l0 {' '.join(f'JOIN l{m} ON l0.qid = l{m}.qid' for m in range(1, _PQ_NSUB))}
    ),
    scored AS (
        SELECT q.qid AS query_id, c.id AS neighbor_id,
               ROUND({' + '.join(f'q.lut{m}[c.code{m} + 1]' for m in range(_PQ_NSUB))},
                     4) AS adc_dist
        FROM luts q JOIN codes c ON c.id <> q.qid
    ),
    short AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc_dist, neighbor_id) AS arn
              FROM scored)
        WHERE arn <= {_PQ_RERANK}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_sum(list_transform(range(1, {_IVF_DIM + 1}),
                         i -> qq.qe[i] * c.e[i]))
                     / (sqrt(list_sum(list_transform(qq.qe, x -> x * x)))
                        * sqrt(list_sum(list_transform(c.e, x -> x * x)))),
                     4) AS cos_sim
        FROM short s
        JOIN q qq ON qq.qid = s.query_id
        JOIN v c ON c.id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM rer)
    WHERE rn <= {_PQ_TOPK}
    """
)


@register(
    "knn_pq_incremental",
    oracle=_PQ_INC_ORACLE,
    doc="INCREMENTAL MAINTENANCE of the durable PQ index "
    "(operators/ann_index.py append_pq_batch): codebooks train once on "
    "batch-1, batch-2 is ENCODED against the stored codebooks (one narrow "
    "argmin projection per subspace — no training, no corpus rewrite) and "
    "its 8-byte codes appended to the codes table; membership commits via "
    "the atomic meta-counter bump. This closes the incremental lifecycle "
    "across the whole ANN family (IVF cells: knn_ivf_incremental; minhash "
    "bands: dedup_index_append; PQ codes: here) — the reference's "
    "add_chunk-per-batch deploy story applied to every index artifact. "
    "The oracle rebuilds the SPLIT semantics independently (per-subspace "
    "k-means seeded and Lloyd-sampled from batch-1 alone; encode, ADC "
    "shortlist, and exact rerank spanning both batches), so a silent "
    "retrain-on-append or a dropped batch hash-mismatches.",
    tags=("similarity", "ann", "quantization", "incremental", "persisted",
          "custom-operator"),
)
def knn_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators import (
        append_pq_batch,
        pq_index_exists,
        pq_search,
        read_index_meta,
        write_pq_index,
    )
    from map_reduce_ruby_spark.operators.ann_index import PQ_INDEX_VERSION
    from map_reduce_ruby_spark.operators.ann_index import load_pq_index as _load_pq
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    v = _ivf_vectors(spark, sf_dir)
    n = v.count()
    # n < 2: an empty batch-1 has nothing to train on, and the split
    # oracle returns 0 rows for a 1-row corpus (checked in DuckDB)
    if n < 2:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    half = n // 2

    tag = table_fingerprint(sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(), f"pq_inc_idx_v{PQ_INDEX_VERSION}_{tag}"
    )
    meta = read_index_meta(path)
    # batches == 2 or rebuild: write_pq_index replaces a stale root
    # atomically; a crashed half-append is an unlisted orphan dir the
    # retry overwrites (per-batch-dir layout — no duplicates possible)
    if not (
        pq_index_exists(path, _IVF_DIM, _PQ_NSUB, _PQ_K)
        and meta
        and meta.get("batches") == 2
    ):
        write_pq_index(
            spark, v.filter(F.col("id") < half), path,
            dim=_IVF_DIM, n_sub=_PQ_NSUB, k=_PQ_K,
        )
        # stable batch id: a retry after a post-commit crash is a no-op
        append_pq_batch(
            spark, v.filter(F.col("id") >= half), path, batch_id="second-half"
        )
    codes, books = _load_pq(spark, path)
    queries = v.filter(F.col("id") < _PQ_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return pq_search(
        codes, books, queries, v, dim=_IVF_DIM, top_k=_PQ_TOPK, rerank=_PQ_RERANK
    )


# --- composed IVF + PQ (IVFADC) ---------------------------------------------
# The oracle composes the two existing independent rebuilds: the IVF k-means
# CTE chain (cells + centroids) and the per-subspace PQ chain (codes + lookup
# tables), then scores ONLY probed-cell members by ADC and reranks exactly —
# value-checking the full FAISS IVFADC pipeline end-to-end.

_IVF_PQ_ORACLE = (
    f"""
    WITH {IVF_AF_CTES},
    {PQ_PARAMS_CTES},
    q AS (SELECT id AS qid, e AS qe FROM v WHERE id < {_PQ_NQ}),"""
    + ",".join(_pq_subspace_ctes(m) for m in range(_PQ_NSUB))
    + f""",
    codes AS (
        SELECT f0.id, {', '.join(f'f{m}.code AS code{m}' for m in range(_PQ_NSUB))}
        FROM f0 {' '.join(f'JOIN f{m} ON f0.id = f{m}.id' for m in range(1, _PQ_NSUB))}
    ),
    luts AS (
        SELECT l0.qid, {', '.join(f'l{m}.lut AS lut{m}' for m in range(_PQ_NSUB))}
        FROM l0 {' '.join(f'JOIN l{m} ON l0.qid = l{m}.qid' for m in range(1, _PQ_NSUB))}
    ),
    qd AS (
        SELECT q.qid, c.cell, {_ivf_sqdist_sql('q.qe', 'c.ce')} AS d
        FROM q CROSS JOIN c2 c
    ),
    probes AS (
        SELECT qid, cell FROM (
            SELECT qid, cell,
                   row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
            FROM qd
        ) WHERE rn <= {_IVF_NPROBE_SQL}
    ),
    scored AS (
        SELECT p.qid AS query_id, a.id AS neighbor_id,
               ROUND({' + '.join(f'l.lut{m}[c.code{m} + 1]' for m in range(_PQ_NSUB))},
                     4) AS adc_dist
        FROM probes p
        JOIN af a ON a.cell = p.cell AND a.id <> p.qid
        JOIN codes c ON c.id = a.id
        JOIN luts l ON l.qid = p.qid
    ),
    short AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc_dist, neighbor_id) AS arn
              FROM scored)
        WHERE arn <= {_PQ_RERANK}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_sum(list_transform(range(1, {_IVF_DIM + 1}),
                         i -> qq.qe[i] * c.e[i]))
                     / (sqrt(list_sum(list_transform(qq.qe, x -> x * x)))
                        * sqrt(list_sum(list_transform(c.e, x -> x * x)))),
                     4) AS cos_sim
        FROM short s
        JOIN q qq ON qq.qid = s.query_id
        JOIN v c ON c.id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM rer)
    WHERE rn <= {_IVF_TOPK}
    """
)


@register(
    "knn_ivf_pq",
    oracle=_IVF_PQ_ORACLE,
    doc="Composed IVF + PQ ANN — FAISS's IVFADC layout (Jegou et al. §V; "
    "operators/pq.py ivf_pq_search): the session's IVF cell index and PQ "
    "codebooks join into one (id, cell, codes) table, queries probe their "
    "adaptive-nprobe nearest cells, and ONLY probed-cell members are scored — by ADC "
    "lookup-table sums over 8-byte codes, no per-pair vector math — then "
    "exact cosine reranks the top-100 shortlist. This is the entry that "
    "proves the claim knn_pq/knn_sq8 delegate: candidate generation is "
    "bucketed (the scan reads probed cells' codes only, never the corpus "
    "vectors), so the plan survives 100 TB where the standalone "
    "compression demos are linear scans. The oracle composes the two "
    "existing independent SQL rebuilds (full k-means cell chain + all 8 "
    "subspace codebook chains) and re-derives probe selection, ADC "
    "scoring within cells, and the rerank — the whole composed pipeline "
    "is value-checked, and tests/test_ivf.py bounds recall@5 vs brute "
    "force.",
    tags=("similarity", "ann", "ivf", "quantization", "custom-operator"),
)
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators import adaptive_nprobe, ivf_pq_search

    idx = ivf_pq_index_for(spark, sf_dir)
    if idx is None:  # empty corpus: schema-stable empty result
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    indexed, centroids, books = idx
    v = _ivf_vectors(spark, sf_dir)
    queries = v.filter(F.col("id") < _PQ_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return ivf_pq_search(
        indexed,
        centroids,
        books,
        queries,
        v,
        dim=_IVF_DIM,
        top_k=_IVF_TOPK,
        nprobe=adaptive_nprobe(len(centroids)),
        rerank=_PQ_RERANK,
    )


@register(
    "knn_ivf_pq_persisted",
    oracle=_IVF_PQ_ORACLE,
    doc="The DURABLE form of knn_ivf_pq — the full FAISS IVFADC serving "
    "layout: the two component artifacts (the IVF cell index at "
    "knn_ivf_persisted's content-addressed root; a full-corpus PQ "
    "codes+codebooks index) are trained/persisted on first touch, then "
    "MATERIALIZED into a composed (id, cell, code0..) table PARTITIONED "
    "BY cell (operators/ann_index.py write_ivfadc_index) whose meta "
    "snapshots the component generations — an append/compaction on "
    "either component makes the composed artifact a rebuild, never a "
    "stale serve. Probes read the composed scan through dynamic "
    "partition pruning (plan-asserted in tests), so a query batch reads "
    "~nprobe/k of the codes bytes and n_sub bytes per candidate (ADC) — "
    "the per-session id-join of raw components would re-read every code "
    "row instead. A restarted session serves from the three stored "
    "artifacts alone (mtimes pinned); gated on the SAME composed "
    "full-rebuild oracle as knn_ivf_pq, so stored == derived holds for "
    "the composition, not just the parts.",
    tags=("similarity", "ann", "ivf", "quantization", "persisted",
          "custom-operator"),
)
def knn_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators import (
        adaptive_nprobe,
        ivf_index_exists,
        ivf_pq_search,
        load_ivf_index,
        pq_index_exists,
        write_ivf_index,
        write_pq_index,
    )
    from map_reduce_ruby_spark.operators.ann_index import (
        IVF_INDEX_VERSION,
        IVFADC_INDEX_VERSION,
        PQ_INDEX_VERSION,
        ivfadc_index_exists,
        load_ivfadc_index,
        write_ivfadc_index,
    )
    from map_reduce_ruby_spark.operators.ann_index import load_pq_index as _load_pq
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    v = _ivf_vectors(spark, sf_dir)
    tag = table_fingerprint(sf_dir, "embeddings")
    # the IVF root is SHARED with knn_ivf_persisted by design: both are
    # content-addressed to (builder version, fixture content), so whichever
    # entry runs first trains it and the other reloads — exactly the
    # multi-consumer reuse a stored index exists for
    ivf_path = os.path.join(
        tempfile.gettempdir(), f"ivf_idx_v{IVF_INDEX_VERSION}_{tag}"
    )
    pq_path = os.path.join(
        tempfile.gettempdir(), f"pq_full_idx_v{PQ_INDEX_VERSION}_{tag}"
    )
    adc_path = os.path.join(
        tempfile.gettempdir(), f"ivfadc_idx_v{IVFADC_INDEX_VERSION}_{tag}"
    )
    have_ivf = ivf_index_exists(ivf_path)
    have_pq = pq_index_exists(pq_path, _IVF_DIM, _PQ_NSUB, _PQ_K)
    # emptiness is checked only when a component is missing: both exist for
    # this fingerprint only if its corpus was non-empty, and the composed
    # table is built from them
    if not (have_ivf and have_pq) and v.isEmpty():
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rn long"
        )
    if not have_ivf:
        write_ivf_index(spark, v, ivf_path, k=None)
    if not have_pq:
        write_pq_index(
            spark, v, pq_path, dim=_IVF_DIM, n_sub=_PQ_NSUB, k=_PQ_K
        )
    if not ivfadc_index_exists(
        adc_path, None, _PQ_NSUB, _PQ_K, ivf_path=ivf_path, pq_path=pq_path
    ):
        write_ivfadc_index(
            spark, ivf_path, pq_path, adc_path,
            k=None, n_sub=_PQ_NSUB, pk=_PQ_K,
        )
    _cells, centroids = load_ivf_index(spark, ivf_path)
    _codes, books = _load_pq(spark, pq_path)
    indexed = load_ivfadc_index(spark, adc_path)
    queries = v.filter(F.col("id") < _PQ_NQ).select(
        F.col("id").alias("qid"), F.col("e").alias("qe")
    )
    return ivf_pq_search(
        indexed,
        centroids,
        books,
        queries,
        v,
        dim=_IVF_DIM,
        top_k=_IVF_TOPK,
        nprobe=adaptive_nprobe(len(centroids)),
        rerank=_PQ_RERANK,
    )


# Session memo of the composed (id, cell, codes) table — the persisted
# IVF-PQ index in production; here built once per (session, sf) by joining
# the two memoized component indexes and cached.
_IVFPQ_INDEX_MEMO = LruMemo(capacity=8, unpersist=lambda val: val[0].unpersist())


def ivf_pq_index_for(spark: SparkSession, sf_dir: str):
    """(indexed(id, cell, code0..), centroids, codebooks) or None if empty."""
    from map_reduce_ruby_spark.operators import build_ivf_pq_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _IVFPQ_INDEX_MEMO:
        return _IVFPQ_INDEX_MEMO.get(key)
    ivf = ivf_index_for(spark, sf_dir)
    pq = pq_index_for(spark, sf_dir)
    if ivf is None or pq is None:
        return None
    assignments, centroids = ivf
    codes, books = pq
    return _IVFPQ_INDEX_MEMO.get_or_build(
        key,
        lambda: (build_ivf_pq_index(assignments, codes).cache(), centroids, books),
    )


# Session-scoped memo of the PQ index build — same rationale (and staleness
# rule) as _IVF_INDEX_MEMO: the codebook training runs driver-coordinated
# jobs that re-execute per consumer; in production the codes + codebooks
# are the persisted index.
# build_pq_index returns the codes already cached + materialized
_PQ_INDEX_MEMO = LruMemo(capacity=8, unpersist=lambda val: val[0].unpersist())


def pq_index_for(spark: SparkSession, sf_dir: str):
    """(codes, codebooks) for the sf_dir corpus, or None when empty."""
    from map_reduce_ruby_spark.operators import build_pq_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _PQ_INDEX_MEMO:
        return _PQ_INDEX_MEMO.get(key)
    v = _ivf_vectors(spark, sf_dir)
    if v.isEmpty():
        return None
    return _PQ_INDEX_MEMO.get_or_build(
        key,
        lambda: build_pq_index(v, dim=_IVF_DIM, n_sub=_PQ_NSUB, k=_PQ_K, iterations=1),
    )


@register(
    "multimodal_frame_energy",
    oracle="""
    WITH hx AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
               hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    frames AS (
        SELECT doc_id, media_type, CAST(f.f AS BIGINT) AS frame_idx,
               CAST(list_sum(list_transform(
                   range(f.f * 64 + 1, least((f.f + 1) * 64, n) + 1),
                   i -> ('0x' || substr(h, 2*i - 1, 2))::BIGINT
                        * ('0x' || substr(h, 2*i - 1, 2))::BIGINT))
                    AS BIGINT) AS sum_sq,
               least((f.f + 1) * 64, n) - f.f * 64 AS frame_n
        FROM hx, UNNEST(range(0, (n + 63) // 64)) AS f(f)
        WHERE n > 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY sum_sq DESC, frame_idx) AS rk
        FROM frames
    )
    SELECT f.doc_id, f.media_type,
           COUNT(*) AS n_frames,
           CAST(SUM(f.sum_sq) AS BIGINT) AS total_energy,
           MAX(CASE WHEN f.rk = 1 THEN f.frame_idx END) AS peak_frame,
           ROUND(MAX(CASE WHEN f.rk = 1 THEN
               sqrt(CAST(f.sum_sq AS DOUBLE) / f.frame_n) END), 6) AS peak_rms
    FROM ranked f
    GROUP BY f.doc_id, f.media_type
    """,
    doc="Audio-style frame energy over binary payloads: the mapInPandas "
    "kernel (operators/multimodal.frame_energy) reads each payload as "
    "unsigned 8-bit samples, frames them into tumbling 64-sample windows "
    "(one vectorized np.add.reduceat per Arrow batch), and emits EXACT "
    "int64 per-frame energies; the plan then aggregates per doc — frame "
    "count, exact total energy, argmax frame (ties -> lowest index), and "
    "peak RMS with the single sqrt applied after all integer math. The "
    "oracle re-derives every byte from hex(encode(text)) and must agree "
    "bit-for-bit. Scale: per-frame rows multiply scan-side before one "
    "doc_id shuffle; a real PCM decode drops into the same kernel "
    "unchanged.",
    tags=("multimodal", "custom-operator", "extension"),
)
def multimodal_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators.multimodal import (
        attach_fake_media,
        frame_energy,
    )
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    frames = frame_energy(attach_fake_media(docs))
    w = W.partitionBy("doc_id").orderBy(F.desc("sum_sq"), F.asc("frame_idx"))
    ranked = frames.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("doc_id", "media_type").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("sum_sq").alias("total_energy"),
        F.max(F.when(F.col("rk") == 1, F.col("frame_idx"))).alias("peak_frame"),
        F.round(
            F.max(
                F.when(
                    F.col("rk") == 1,
                    F.sqrt(F.col("sum_sq").cast("double") / F.col("frame_n")),
                )
            ),
            6,
        ).alias("peak_rms"),
    )


@register(
    "multimodal_phash_dedup",
    oracle="""
    WITH hx AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS media_type,
               hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    segs AS (
        SELECT doc_id, media_type,
               CAST(((i.i - 1) * 72) // n AS BIGINT) AS k,
               ('0x' || substr(h, 2*i.i - 1, 2))::BIGINT AS byte
        FROM hx, UNNEST(range(1, n + 1)) AS i(i)
        WHERE n > 0
    ),
    sums AS (
        SELECT doc_id, media_type, k, SUM(byte) AS s
        FROM segs GROUP BY doc_id, media_type, k
    ),
    spine AS (
        SELECT doc_id, media_type, g.k
        FROM hx, (SELECT UNNEST(range(0, 72)) AS k) g
        WHERE n > 0
    ),
    grid AS (
        SELECT sp.doc_id, sp.media_type, sp.k, COALESCE(su.s, 0) AS s
        FROM spine sp LEFT JOIN sums su
          ON su.doc_id = sp.doc_id AND su.k = sp.k
    ),
    bits AS (
        SELECT a.doc_id, a.media_type, a.k // 9 AS r,
               SUM(CASE WHEN a.s > b.s
                        THEN 1 << CAST(a.k % 9 AS INT) ELSE 0 END) AS row_byte
        FROM grid a JOIN grid b
          ON b.doc_id = a.doc_id AND b.k = a.k + 1
        WHERE a.k % 9 < 8
        GROUP BY a.doc_id, a.media_type, a.k // 9
    ),
    ph AS (
        SELECT doc_id, media_type,
               string_agg(lpad(lower(hex(row_byte)), 2, '0'), '' ORDER BY r)
                   AS phash
        FROM bits GROUP BY doc_id, media_type
    )
    SELECT media_type, phash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM ph GROUP BY media_type, phash
    """,
    doc="Perceptual-hash (dHash) dedup over MULTIMODAL payloads — the "
    "cross-family composition: opaque binary payloads (operators/"
    "multimodal.py plumbing, Arrow batches via mapInPandas) are bucketed "
    "into an 8x9 intensity grid, each row's 8 left>right comparisons pack "
    "into a byte, and the 8 row bytes form a 64-bit hex fingerprint; "
    "hash-groupBy then yields duplicate families exactly like "
    "dedup_exact/dedup_simhash — one skew-free shuffle on a uniform key. "
    "This is image dedup's standard cheap first tier; a real pixel dHash "
    "swaps the byte grid for a decoded 9x8 grayscale thumbnail behind the "
    "same operator. The DuckDB oracle re-derives the grid from hex "
    "nibbles (the multimodal_frame_energy pattern), the comparisons via a "
    "k->k+1 self-join, and the hex packing in SQL — the whole perceptual "
    "pipeline is value-checked, not just row-counted.",
    tags=("multimodal", "dedup", "custom-operator", "extension"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.operators import attach_fake_media, phash_media

    docs = load_table(spark, sf_dir, "documents")
    ph = phash_media(attach_fake_media(docs))
    return ph.groupBy("media_type", "phash").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "cogroup_order_reconcile",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS order_cents
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    l AS (
        SELECT l_orderkey AS o_orderkey,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS line_cents
        FROM lineitem WHERE l_orderkey % 100 = 0
        GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           COALESCE(l.n_lines, 0) AS n_lines,
           o.order_cents,
           COALESCE(l.line_cents, 0) AS line_cents,
           CASE WHEN COALESCE(l.line_cents, 0) <= o.order_cents
                THEN 1 ELSE 0 END AS within_total
    FROM o LEFT JOIN l USING (o_orderkey)
    """,
    doc="The COGROUP API surface (grouped two-sided applyInPandas): per "
    "order key, BOTH the order row and all its lineitems arrive as pandas "
    "frames in one Python function — the escape hatch for per-key "
    "reconciliation logic that genuinely needs both sides materialized "
    "(here: discounted line totals vs the order header, integer cents "
    "only, so the fold is order-independent and the SQL oracle can "
    "rebuild it as an outer-joined aggregate). Keys are restricted to "
    "o_orderkey % 100 = 0: cogroup invokes Python once per GROUP, so its "
    "cost is per-key, not per-row — the docstring's warning IS the scale "
    "guidance (use JVM joins unless the per-key logic is not "
    "SQL-expressible; this entry exists to pin the API surface, like "
    "knn_pandas_udf pins the vectorized-batch path).",
    tags=("mapreduce", "cogroup", "pandas-udf", "custom-operator"),
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if len(odf) == 0:  # lineitems referencing no order row: skip (the
            return pd.DataFrame()  # oracle's LEFT JOIN keeps order side only
        import numpy as np

        # half-away-from-zero (positive domain: floor(x + 0.5)) — pandas
        # .round() is banker's half-even, which differs from SQL ROUND at
        # exact-half cents on both engines
        order_cents = int(
            np.floor(float(odf["o_totalprice"].iloc[0]) * 100 + 0.5)
        )
        line_cents = int(
            np.floor(ldf["l_extendedprice"] * (1 - ldf["l_discount"]) * 100 + 0.5)
            .astype("int64")
            .sum()
        )
        return pd.DataFrame(
            {
                "o_orderkey": [key[0]],
                "n_lines": [len(ldf)],
                "order_cents": [order_cents],
                "line_cents": [line_cents],
                "within_total": [1 if line_cents <= order_cents else 0],
            }
        )

    out_schema = (
        "o_orderkey long, n_lines long, order_cents long, "
        "line_cents long, within_total int"
    )
    return (
        orders.groupBy("o_orderkey")
        .cogroup(lines.groupBy("l_orderkey"))
        .applyInPandas(reconcile, out_schema)
    )
