"""Catalog entries that run the Structured Streaming plans to completion
(trigger=availableNow over the finite events table) and surface the final
result as a batch DataFrame — so the streaming engine itself sits behind the
DuckDB oracle gate, not just its batch twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from map_reduce_ruby_spark.functions import cents_sum_sql
from map_reduce_ruby_spark.plans.catalog import register
from map_reduce_ruby_spark.plans.events_queries import MV_DIRECT_ORACLE, mv_grain_agg, mv_merge
from map_reduce_ruby_spark.streaming import (
    run_stream_to_memory,
    state_partitions_for,
    streaming_events,
    streaming_stateful_user_totals,
    streaming_tumbling_counts,
)

# Bounded state keyspaces for the sized streaming entries — properties of
# each QUERY's grain, not of stream volume (state_partitions_for derives
# the store size from these; the unbounded-keyspace entries deliberately
# have no bound here and inherit the session default):
_N_EVENT_TYPES = 5  # events.event_type domain (click/error/purchase/signup/view)
# tumbling: active 5-min windows inside the 30-min watermark horizon (+1
# in-flight) x event types
_TUMBLING_KEYS = (30 // 5 + 1) * _N_EVENT_TYPES
_ENRICH_KEYS = 10  # user_id % 10 cohorts
_CMS_KEYS = 4 * 64  # the fixed d x w counter grid
# mv: (day_no x event_type) view grain over the month-long retention window
_MV_KEYS = 31 * _N_EVENT_TYPES


def _spread(batch_df: DataFrame) -> DataFrame:
    """Fan a small arriving micro-batch out to the session's parallelism.

    A file-stream micro-batch is typically ONE parquet file -> one scan
    task, so every per-batch transform (the minhash sketch, the NB gram
    count) runs on a single core while the rest idle — measured on the
    probe entry: addBatch is ~95% of drain time and the sketch task is
    serial (guide §2.6 idle capacity). A round-robin repartition spreads
    the batch once. The code does not sort; Spark's round-robin exchange
    makes the row placement deterministic itself, by sorting each input
    partition before it deals rows out
    (``spark.sql.execution.sortBeforeRepartition``, default true). All
    downstream results are row-order-independent aggregates/appends, so
    output is unchanged. Batches already wider than the core count — a
    real day-batch at scale — pass through untouched, so this never
    SHRINKS parallelism or adds a shuffle where width is adequate."""
    sc = batch_df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if batch_df.rdd.getNumPartitions() < p:
        return batch_df.repartition(p)
    return batch_df


def _publish_drop(write_fn, drop: str) -> None:
    """Stage-and-publish a content-addressed /tmp drop directory through the
    shared keep-winner protocol (operators/artifact_store._publish_atomic).

    A bare ``mode('overwrite')`` gated only on ``_SUCCESS`` lets two
    processes cold-starting concurrently delete each other's in-flight
    write; staging under a unique temp root and publishing in one rename
    means the loser discards its copy and attaches the winner's files. This
    matters most for the NB drop, whose FILE LISTING is fingerprinted into
    a standing model path — a torn/mixed listing there would key a model to
    a grouping no single writer produced. ``write_fn(stage_path)`` performs
    the actual Spark write into the staging directory."""
    import os
    import uuid

    from map_reduce_ruby_spark.operators.artifact_store import _publish_atomic

    if os.path.exists(os.path.join(drop, "_SUCCESS")):
        return
    stage = f"{drop}.tmp-{uuid.uuid4().hex}"
    write_fn(stage)
    _publish_atomic(
        stage,
        drop,
        keep_if_valid=lambda p: os.path.exists(os.path.join(p, "_SUCCESS")),
    )


@register(
    "streaming_tumbling_window",
    oracle=f"""
    SELECT (epoch_us(ts) // 300000000) * 300 AS bucket_start_s,
           event_type,
           COUNT(*) AS n_events,
           {cents_sum_sql('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    """,
    doc="The 5-minute tumbling-window aggregation executed by the Structured "
    "Streaming engine (file-stream source, watermarked event-time window, "
    "availableNow drain to a memory sink) — must equal the batch oracle "
    "exactly, proving the streaming plan's replay-consistency. Window starts "
    "align with epoch µs buckets, so bucket arithmetic matches the oracle.",
    tags=("streaming", "window"),
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # state keyspace = active 5-min windows (bounded by the 30-min
    # watermark horizon) x |event_type| — size state to |keys|, not the
    # batch shuffle default (see run_stream_to_memory); the builder form
    # constructs the stream on the scoped session clone
    return run_stream_to_memory(
        lambda s: streaming_tumbling_counts(streaming_events(s, sf_dir)),
        f"catalog_stream_tumbling_{abs(hash(sf_dir)) % 10**8}",
        state_partitions=state_partitions_for(_TUMBLING_KEYS),
        spark=spark,
    )


@register(
    "streaming_stateful_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {cents_sum_sql('value', 'total_value')}
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): running "
    "per-user totals in integer-cents state, drained to the final snapshot. "
    "The state fold is associative/commutative — the reference's binary "
    "reduce contract carried into streaming.",
    tags=("streaming", "stateful"),
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F

    name = f"catalog_stream_totals_{abs(hash(sf_dir)) % 10**8}"
    out = run_stream_to_memory(
        streaming_stateful_user_totals(streaming_events(spark, sf_dir)),
        name,
        output_mode="update",
    )
    # update-mode sink holds one row per user per micro-batch; the final
    # state per user is the last emitted row (monotone n_events).
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register(
    "streaming_dedup_events",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Streaming exact dedup under at-least-once delivery: the event "
    "stream UNIONed with itself (every event delivered twice) flows through "
    "watermarked dropDuplicatesWithinWatermark(event_id) — keyed state holds "
    "ids only within the watermark delay, so state is bounded by arrival "
    "skew, not history. The drained append-mode output must equal the batch "
    "distinct count exactly: duplicate delivery is fully absorbed. This is "
    "the streaming twin of dedup_exact for a production ingest pipeline.",
    tags=("streaming", "dedup", "stateful"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = streaming_events(spark, sf_dir)
    twice = ev.unionByName(streaming_events(spark, sf_dir))
    deduped = twice.withWatermark("event_time", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = f"catalog_stream_dedup_{abs(hash(sf_dir)) % 10**8}"
    out = run_stream_to_memory(
        deduped.select("event_id", "event_type"), name, output_mode="append"
    )
    return out.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("n_events")
    )


@register(
    "streaming_enrich_join",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events
    )
    SELECT cohort,
           COUNT(*) AS n_events,
           {cents_sum_sql('value', 'total_value')}
    FROM events JOIN dim USING (user_id)
    GROUP BY cohort
    """,
    doc="Stream-static enrichment join: the unbounded event stream joined "
    "per micro-batch against a STATIC dimension (user -> cohort), then a "
    "streaming aggregate per cohort — the lookup-enrichment shape of every "
    "production ingest pipeline. The static side is broadcast into each "
    "micro-batch; no stream-side state is needed for the join itself. "
    "Drained with availableNow and checked against the batch join oracle.",
    tags=("streaming", "join"),
)
def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.sources import load_table

    def build(s: SparkSession) -> DataFrame:
        dim = (
            load_table(s, sf_dir, "events")
            .select("user_id")
            .distinct()
            .withColumn("cohort", F.col("user_id") % 10)
        )
        ev = streaming_events(s, sf_dir)
        enriched = ev.join(F.broadcast(dim), "user_id")
        return enriched.groupBy("cohort").agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total_value"
            ),
        )

    name = f"catalog_stream_enrich_{abs(hash(sf_dir)) % 10**8}"
    # state keyspace = 10 cohorts — bounded (see run_stream_to_memory)
    return run_stream_to_memory(
        build,
        name,
        output_mode="complete",
        state_partitions=state_partitions_for(_ENRICH_KEYS),
        spark=spark,
    )


@register(
    "streaming_stream_stream_join",
    oracle=f"""
    SELECT v.user_id,
           COUNT(*) AS n_attributed,
           {cents_sum_sql('p.value', 'attributed_value')}
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) <  epoch_us(v.ts) + 14400000000
    GROUP BY v.user_id
    """,
    doc="Stream-stream interval join (purchase attribution): the view stream "
    "joined to the purchase stream on user_id with purchase_time in "
    "[view_time, view_time + 4h). Both sides carry watermarks and the join "
    "condition bounds event-time distance, so each side's state store holds "
    "only rows inside watermark + interval — bounded state on an unbounded "
    "stream. Drained with availableNow; the appended pairs are aggregated "
    "per user and must equal the batch self-join oracle exactly.",
    tags=("streaming", "join", "stateful"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.streaming import streaming_events as src

    views = (
        src(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("event_time", "1 hour")
        .select(F.col("user_id").alias("v_user"), F.col("event_time").alias("v_time"))
    )
    purchases = (
        src(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
            "value",
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_time") >= F.col("v_time"))
        & (F.col("p_time") < F.col("v_time") + F.expr("INTERVAL 4 HOURS")),
    )
    name = f"catalog_stream_ssjoin_{abs(hash(sf_dir)) % 10**8}"
    out = run_stream_to_memory(
        joined.select("v_user", "value"), name, output_mode="append"
    )
    return out.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_attributed"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "attributed_value"
        ),
    )


@register(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts_us, event_id,
               CASE WHEN ts_us - lag(ts_us) OVER w > 600000000
                    OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
        -- running sum carries the SAME total order as the lag window
        -- (ts_us, event_id): without the tie-break, same-microsecond events
        -- could be enumerated either way and split one session into two
        SELECT user_id, ts_us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts_us) // 1000000 AS BIGINT) AS session_start_s,
           CAST(MAX(ts_us) // 1000000 + 600 AS BIGINT) AS session_end_s,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Session windows computed BY THE STREAMING ENGINE (session_window "
    "over the watermarked file stream, 10-minute gap, availableNow drain): "
    "every emitted (user, session) row must equal the batch-SQL "
    "sessionization rebuilt from lag() gap flags — session_end is last "
    "event + gap, exactly session_window's close rule. This pins the "
    "replay-consistency of stateful session merging itself (merging "
    "per-event intervals in the state store), not just the window "
    "arithmetic its batch twin (events_session_window_batch) checks.",
    tags=("streaming", "window", "session", "stateful"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.streaming import streaming_sessionize

    name = f"catalog_stream_sessions_{abs(hash(sf_dir)) % 10**8}"
    out = run_stream_to_memory(
        streaming_sessionize(streaming_events(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    return out.select(
        "user_id",
        out.session_start_s.cast("long").alias("session_start_s"),
        out.session_end_s.cast("long").alias("session_end_s"),
        "n_events",
    )


@register(
    "streaming_cms_counters",
    oracle="""
    WITH keyed AS (
        SELECT user_id, r,
               (('0x' || substr(md5(CAST(100 + r AS VARCHAR) || ':' ||
                 CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT)::BIGINT % 64 AS bucket
        FROM events, UNNEST(range(0, 4)) AS t(r)
    )
    SELECT r, bucket, COUNT(*) AS c
    FROM keyed GROUP BY r, bucket
    """,
    doc="The count-min sketch maintained BY the streaming engine: each event "
    "increments its 4 md5-derived (row, bucket) counters via a streaming "
    "groupBy in complete mode; the availableNow drain's final snapshot must "
    "equal the batch-built counter table (cms_user_counts' sketch) exactly. "
    "This is the production shape for approximate stream frequencies: state "
    "is the FIXED d x w counter grid regardless of stream volume — compare "
    "the stateful-totals query, whose state grows with distinct users. Uses "
    "the same hash family as cms_user_counts, so batch and streaming "
    "sketches are mergeable by addition.",
    tags=("streaming", "sketch", "approx"),
)
def streaming_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.functions import h32

    def build(s: SparkSession) -> DataFrame:
        ev = streaming_events(s, sf_dir)
        uid = F.col("user_id").cast("string")
        buckets = F.array(*[h32(uid, seed=100 + r) % 64 for r in range(4)])
        keyed = ev.select(F.posexplode(buckets).alias("r", "bucket")).select(
            F.col("r").cast("long").alias("r"), "bucket"
        )
        return keyed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c"))

    # state keyspace = the FIXED 4x64 counter grid (256 keys however large
    # the stream) — size state to |keys| (see run_stream_to_memory)
    return run_stream_to_memory(
        build,
        f"catalog_stream_cms_{abs(hash(sf_dir)) % 10**8}",
        output_mode="complete",
        state_partitions=state_partitions_for(_CMS_KEYS),
        spark=spark,
    )


@register(
    "streaming_mv_refresh",
    oracle=MV_DIRECT_ORACLE,  # shared with the batch twin
    doc="The incremental-MV refresh driven by the STREAMING engine: the "
    "late-arriving delta (event_id % 10 = 7) flows through a Structured "
    "Streaming aggregation at view grain (complete-mode snapshot of addable "
    "partials: count + integer cents), then merges with the statically-"
    "computed base MV exactly like the batch twin (shared mv_grain_agg / "
    "mv_merge). The DuckDB oracle recomputes the view directly from all "
    "events, so the hash match proves stream-maintained state + merge = "
    "ground truth — the production shape where an hourly stream keeps a "
    "100 TB fact table's rollup fresh without rescans.",
    tags=("streaming", "mv", "incremental", "stateful"),
)
def streaming_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.sources import load_table

    def build(s: SparkSession) -> DataFrame:
        delta_stream = (
            streaming_events(s, sf_dir)
            .filter(F.col("event_id") % 10 == 7)
            .withColumn("day_no", F.expr("ts_us div 86400000000"))
        )
        return mv_grain_agg(delta_stream)

    # state keyspace = (day_no x event_type) view grain — bounded at any
    # stream volume (see run_stream_to_memory)
    delta_mv = run_stream_to_memory(
        build,
        f"catalog_stream_mv_{abs(hash(sf_dir)) % 10**8}",
        state_partitions=state_partitions_for(_MV_KEYS),
        spark=spark,
    )
    base = load_table(spark, sf_dir, "events").withColumn(
        "day_no", F.expr("ts_us div 86400000000")
    )
    base_mv = mv_grain_agg(base.filter(F.col("event_id") % 10 != 7))
    return mv_merge(base_mv, delta_mv)



@register(
    "streaming_chunk_wordcount",
    oracle="""
    WITH tok AS (
        SELECT t.term AS word
        FROM documents,
             UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                                w -> w <> '')) AS t(term)
    )
    SELECT word, COUNT(*) AS n FROM tok GROUP BY word
    """,
    doc="The reference's chunk handoff driven END-TO-END through the "
    "streaming engine: (word, 1) pairs derived from documents are written "
    "as reference-format chunk files (the mr_chunks Python DataSource "
    "writer — JSON.generate([key, value]) lines), then the SAME directory "
    "is tailed back via the source's STREAMING reader (exactly-once "
    "per-file offsets) and aggregated in complete mode. The DuckDB oracle "
    "recomputes word counts from the documents table directly, so a hash "
    "match proves the whole write -> stream-ingest -> aggregate loop is "
    "lossless — the streaming face of Mapper#shuffle file handoff plus "
    "Reducer ingest (reference lib/map_reduce/mapper.rb:100-121, "
    "reducer.rb:34-42). Files are written once per machine temp dir and "
    "sf, gated on the writer's _SUCCESS marker.",
    tags=("streaming", "mapreduce", "chunk-format", "custom-operator"),
)
def streaming_chunk_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.sources import load_table
    from map_reduce_ruby_spark.sources.chunk_datasource import register_chunk_source
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    register_chunk_source(spark)
    # content fingerprint, not a path hash: regenerating the fixture at
    # sf_dir changes the tag, so a stale /tmp drop directory can't serve
    # chunk files derived from the old documents table
    tag = table_fingerprint(sf_dir, "documents")
    drop = os.path.join(tempfile.gettempdir(), f"mr_chunk_stream_{tag}")
    # gate on the writer's _SUCCESS marker, not directory non-emptiness: a
    # killed mid-flight write would otherwise poison the cache until /tmp is
    # cleaned (files land atomically, the marker lands at driver commit)
    if not os.path.exists(os.path.join(drop, "_SUCCESS")):
        docs = load_table(spark, sf_dir, "documents")
        pairs = docs.select(
            F.explode(
                F.filter(F.split("text", r"\s+"), lambda w: w != "")
            ).alias("word")
        ).select(
            # real JSON escaping (to_json), not quote-concatenation: a token
            # containing '"' or '\' must still produce a valid chunk line
            # (reference layout: one compact JSON array per line,
            # ["<word>",1]). to_json has no scalar form, so serialize a
            # 1-element array and strip the brackets.
            F.expr(
                "substring(to_json(array(word)), 2,"
                " length(to_json(array(word))) - 2)"
            ).alias("key_json"),
            F.lit("1").alias("value_json"),
        )
        pairs.coalesce(4).write.format("mr_chunks").mode("append").option("path", drop).save()
    stream = (
        spark.readStream.format("mr_chunks")
        .option("path", drop)
        .load()
        # inverse of the writer: parse the JSON scalar back (array-wrap
        # because from_json has no scalar form either)
        .select(
            F.expr(
                "from_json(concat('[', key_json, ']'), 'array<string>')[0]"
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_stream_to_memory(stream, f"catalog_chunk_stream_wc_{tag}")


def _streaming_index_oracle() -> str:
    from map_reduce_ruby_spark.plans.dedup_queries import _INCR_MINHASH_ORACLE

    return _INCR_MINHASH_ORACLE


@register(
    "streaming_index_ingest",
    # SAME oracle as dedup_index_append / dedup_incremental_minhash: however
    # the batch arrives — one shot or micro-batches through the streaming
    # engine — the maintained index must equal the full rebuild over A ∪ B.
    oracle=_streaming_index_oracle(),
    doc="The index-maintenance deploy story run THROUGH the streaming "
    "engine: the band index starts from corpus slice A (doc_id % 5 in "
    "2..4); slice B's documents arrive as a parquet file STREAM "
    "(maxFilesPerTrigger=1, so several genuine micro-batches) and "
    "foreachBatch appends each micro-batch's bands into the bucketed "
    "index (operators/dedup_index.py append_minhash_batch) — the "
    "reference's add_chunk-per-batch reducer ingest (reducer.rb:34-42) as "
    "a continuous pipeline. After the availableNow drain, the probe slice "
    "(doc_id % 5 = 0) joins the maintained index; hash-matching the "
    "full-rebuild oracle proves micro-batched maintenance is EXACTLY "
    "equivalent to batch maintenance (band appends commute and dedup "
    "probes are countDistinct/min aggregates). A fresh checkpoint per "
    "invocation re-drains deterministically; the drop directory is "
    "content-fingerprinted and _SUCCESS-gated like the chunk-stream "
    "fixtures.",
    tags=("streaming", "dedup", "incremental", "persisted", "custom-operator"),
)
def streaming_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.dedup_index import (
        append_minhash_batch,
        dedup_against_index,
        write_minhash_index,
    )
    from map_reduce_ruby_spark.sources import load_table
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_a = docs.filter(F.col("doc_id") % 5 >= 2)
    probe = docs.filter(F.col("doc_id") % 5 == 0)

    # slice B lands as a 3-file parquet drop (content-fingerprinted,
    # _SUCCESS-gated) so the stream sees multiple micro-batches
    tag = table_fingerprint(sf_dir, "documents")
    # repartition, not coalesce: the filtered frame may already be a
    # single partition, and coalesce can only shrink — 3 files are what
    # make maxFilesPerTrigger=1 yield genuine micro-batches
    drop = os.path.join(tempfile.gettempdir(), f"mh_stream_drop_{tag}")
    _publish_drop(
        lambda p: docs.filter(F.col("doc_id") % 5 == 1)
        .repartition(3)
        .write.parquet(p),
        drop,
    )

    # fresh table + checkpoint per invocation: the entry must be a pure
    # function of the fixture (overwrite resets A; a new checkpoint re-drains
    # every B file). The applicationId in the tag makes the reset path
    # PER-PROCESS: replace=True drops the table and rmtree's the live
    # path, and on a shared content-addressed path two processes running
    # this entry concurrently would delete files under each other's scans
    # — the cross-process reader-kill register_minhash_index closed for
    # the keep-winner stores. A per-invocation-reset artifact has no
    # cross-process reuse value, so it gets a per-process home instead.
    ptag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:10]
    table = f"mh_idx_stream_{ptag}"
    path = os.path.join(tempfile.gettempdir(), f"mh_idx_stream_{ptag}")
    # replace=True: this entry's contract is a per-invocation reset (the
    # checkpoint is fresh each call, so B's files re-append every run and
    # a kept index would grow without bound)
    write_minhash_index(corpus_a, table, path, replace=True)

    # the checkpoint is per-invocation BY DESIGN (a reused one would skip
    # the already-ingested files and the index table is reset each call) —
    # so it must also be reclaimed per invocation, not accumulate in /tmp
    import shutil

    ckpt = tempfile.mkdtemp(prefix="mh_stream_ckpt_")
    try:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(drop)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch_df, _eid: append_minhash_batch(
                    _spread(batch_df), table
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return dedup_against_index(spark, probe, table)


@register(
    "streaming_dedup_probe",
    # SAME oracle as dedup_persisted_index / dedup_incremental_minhash:
    # probing is per-document and stateless, so probe-on-arrival through
    # micro-batches must equal the one-shot batch probe exactly.
    oracle=_streaming_index_oracle(),
    doc="The INGEST GATE of a pretraining pipeline run through the "
    "streaming engine: new documents arrive as a parquet file stream "
    "(maxFilesPerTrigger=1 — several genuine micro-batches) and EACH "
    "micro-batch is near-dup-checked ON ARRIVAL against the STANDING "
    "persisted MinHash band index (the same bucketed table "
    "dedup_persisted_index builds from the corpus slice — standing "
    "means: built once, shared across consumers, NOT touched by this "
    "stream). foreachBatch sketches only the arriving rows and probes "
    "the bucketed index scan, appending verdicts to a parquet sink; "
    "after the availableNow drain the accumulated verdicts are returned. "
    "streaming_index_ingest proves micro-batched MAINTENANCE equals "
    "batch maintenance; this entry proves micro-batched PROBING equals "
    "the batch probe (each doc lives in exactly one micro-batch, and "
    "the probe's groupBy is per doc) — together they close the "
    "continuous corpus loop: filter arrivals against the index, then "
    "ingest the survivors. At 100 TB each day's gate pays one "
    "batch-sized sketch + one pruned index join, never a corpus scan.",
    tags=("streaming", "dedup", "persisted", "custom-operator"),
)
def streaming_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.dedup_index import (
        dedup_against_index,
        register_minhash_index,
        write_minhash_index,
    )
    from map_reduce_ruby_spark.sources import load_table
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = table_fingerprint(sf_dir, "documents")

    # the STANDING index: same corpus slice, same content-addressed table
    # as dedup_persisted_index — whichever entry runs first builds it
    table = f"mh_band_idx_{tag}"
    if not spark.catalog.tableExists(table):
        path = os.path.join(tempfile.gettempdir(), f"mh_band_idx_{tag}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # a sibling process already built this content-addressed index:
            # attach it — rebuilding would delete its live files mid-scan
            register_minhash_index(spark, table, path)
        else:
            write_minhash_index(
                docs.filter(F.col("doc_id") % 5 != 0), table, path
            )

    # arrivals: the probe slice as a 3-file drop so the stream sees
    # multiple micro-batches (repartition, not coalesce — see
    # streaming_index_ingest)
    drop = os.path.join(tempfile.gettempdir(), f"mh_probe_drop_{tag}")
    _publish_drop(
        lambda p: docs.filter(F.col("doc_id") % 5 == 0)
        .repartition(3)
        .write.parquet(p),
        drop,
    )

    sink = tempfile.mkdtemp(prefix="mh_probe_sink_")
    ckpt = tempfile.mkdtemp(prefix="mh_probe_ckpt_")
    try:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(drop)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch_df, _eid: dedup_against_index(
                    spark, _spread(batch_df), table
                ).write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        empty = "doc_id long, dup_of long, n_shared_bands long"
        if not any(f.endswith(".parquet") for f in os.listdir(sink)):
            return spark.createDataFrame([], empty)  # no arrivals at all
        # detach the result from the sink files so the per-invocation sink
        # can be reclaimed now instead of accumulating in /tmp (eager:
        # must materialize before the rmtree below)
        from map_reduce_ruby_spark.materialize import truncate

        return truncate(spark.read.parquet(sink), eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def _streaming_nb_oracle() -> str:
    from map_reduce_ruby_spark.plans.dsir_queries import NB_AB_PROBE_ORACLE

    return NB_AB_PROBE_ORACLE


@register(
    "streaming_nb_ingest",
    # SAME oracle as text_nb_persisted: every NB statistic is additive, so
    # however slice B arrives — one append or several micro-batches through
    # the streaming engine — the maintained model must equal the
    # from-scratch retrain over A ∪ B.
    oracle=_streaming_nb_oracle(),
    doc="CONTINUOUS MODEL MAINTENANCE run through the streaming engine — "
    "the classifier twin of streaming_index_ingest: the durable Naive "
    "Bayes model (operators/nb_store.py) starts from corpus slice A "
    "(doc_id % 5 in 2..4); slice B's labeled documents arrive as a "
    "parquet file stream (maxFilesPerTrigger=1 — several genuine "
    "micro-batches) and foreachBatch appends each micro-batch's count "
    "statistics as a new index generation. Batch ids are CONTENT-derived "
    "(a commutative JVM-side digest of the micro-batch's doc_ids — "
    "sum+xor of xxhash64 plus the row count, collected as ONE aggregate "
    "row, so the streaming hot path materializes zero rows on the "
    "driver), so a fresh checkpoint's "
    "replay — even one assigning different epoch numbers to the files — "
    "skips exactly the already-committed micro-batches, never different "
    "data hiding under a reused epoch id; the model path is keyed to the "
    "drop's physical fingerprint, so a LOST-and-rewritten drop (whose "
    "new grouping would mint new batch ids) rotates to a fresh model "
    "instead of double-appending slice B into the survivor. After the "
    "availableNow drain "
    "the probe slice (doc_id % 5 = 0) is classified FROM STORAGE; "
    "hash-matching the full-retrain oracle proves micro-batched model "
    "maintenance is exactly equivalent to batch training. At 100 TB each "
    "arriving batch pays one batch-sized count aggregation; the model "
    "tables stay <= classes x buckets rows per generation.",
    tags=("streaming", "text", "classifier", "incremental", "persisted",
          "custom-operator"),
)
def streaming_nb_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.nb_store import (
        NB_MODEL_VERSION,
        append_nb_batch,
        load_nb_model,
        nb_model_exists,
        write_nb_model,
    )
    from map_reduce_ruby_spark.plans.dsir_queries import (
        _BUCKETS,
        gram_buckets_for,
        nb_scores_from_model,
    )
    from map_reduce_ruby_spark.sources import load_table
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    train_a = docs.filter(F.col("doc_id") % 5 >= 2)
    probe = docs.filter(F.col("doc_id") % 5 == 0)
    tag = table_fingerprint(sf_dir, "documents")

    # slice B as a 3-file drop (content-fingerprinted, _SUCCESS-gated) so
    # the stream sees several genuine micro-batches. repartition BY doc_id
    # (hash on the value), not round-robin: a regenerated drop then groups
    # the same doc_ids into the same files, so its content-derived batch
    # ids match the committed ones instead of re-slicing slice B under
    # new ids.
    drop = os.path.join(tempfile.gettempdir(), f"nb_stream_drop_{tag}")
    _publish_drop(
        lambda p: docs.filter(F.col("doc_id") % 5 == 1)
        .repartition(3, F.col("doc_id"))
        .write.parquet(p),
        drop,
    )

    # the STANDING model: content-addressed, built once from slice A;
    # keep-winner publish makes concurrent builders safe, and the
    # content-derived batch ids below make every re-drain idempotent, so
    # repeated invocations converge to exactly A ∪ B.
    #
    # The model path is additionally keyed to the DROP'S PHYSICAL IDENTITY
    # (its file names+sizes — parquet part names are generation-unique):
    # batch-id idempotency is only meaningful against the drop whose
    # grouping produced those ids, so if the drop is ever lost and
    # rewritten (tmp cleanup, reboot) while a model survives, the rewrite
    # rotates the fingerprint and a FRESH model is built from slice A and
    # re-fed exactly once — slice B can never be double-counted into a
    # model whose committed ids came from a different grouping. The old
    # model is orphaned in tmp, never deleted under a reader.
    drop_fp = hashlib.md5(
        ",".join(
            sorted(
                f"{name}:{os.path.getsize(os.path.join(drop, name))}"
                for name in os.listdir(drop)
                if name.endswith(".parquet")
            )
        ).encode()
    ).hexdigest()[:10]
    # d2 = batch-id derivation v2 (the commutative digest below): a stale
    # /tmp model whose committed ids came from the old sorted-id md5 must
    # rotate out, or the same micro-batches would re-append under new ids.
    path = os.path.join(
        tempfile.gettempdir(),
        f"nb_stream_model_v{NB_MODEL_VERSION}d2_{tag}_{drop_fp}",
    )
    if not nb_model_exists(path, _BUCKETS):
        write_nb_model(spark, train_a, path, _BUCKETS)

    def _ingest(batch_df, _eid):
        # Content-derived batch id as a COMMUTATIVE JVM-side digest:
        # sum+xor of xxhash64(doc_id) plus the count, collected as one
        # 1-row aggregate. Order-independent (a replay's different row
        # order yields the same id) and grouping-sensitive (a different
        # file grouping yields different ids — which the drop_fp keying
        # above turns into a fresh model, never a double-append). The sum
        # runs in decimal(38,0) so it can never overflow a long. This
        # replaces a driver-side collect of every doc_id — the streaming
        # hot path now materializes zero data rows on the driver.
        row = batch_df.agg(
            F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")).alias("s"),
            F.bit_xor(F.xxhash64("doc_id")).alias("x"),
            F.count("*").alias("n"),
        ).collect()[0]
        if not row["n"]:
            return  # empty replay batch: nothing to commit
        bid = hashlib.md5(
            f"{row['s']},{row['x']},{row['n']}".encode()
        ).hexdigest()[:16]
        # spread AFTER the digest (the digest is order-independent anyway);
        # the gram-count aggregation then runs at full width
        append_nb_batch(spark, _spread(batch_df), path, batch_id=bid)

    ckpt = tempfile.mkdtemp(prefix="nb_stream_ckpt_")
    try:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(drop)
        )
        q = (
            stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    counts, class_docs, _meta = load_nb_model(spark, path)
    best = nb_scores_from_model(gram_buckets_for(probe), counts, class_docs)
    return best.select(
        "doc_id",
        "lang",
        "pred",
        "best_milli",
        F.when(F.col("pred") == F.col("lang"), 1).otherwise(0).alias("ok"),
    )
