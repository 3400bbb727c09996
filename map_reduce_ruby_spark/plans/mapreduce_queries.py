"""Map-reduce parity queries: the reference's own job shapes, executed through
the core Job engine (RDD path) and surfaced as DataFrames for the oracle gate.

These prove the semantic layer end-to-end on real tables: the canonical
wordcount (reference README.md:35-45), the composite-key combiner job
(spec/map_reduce/mapper_spec.rb:47-87), multi-chunk reduce
(spec/map_reduce/reducer_spec.rb:99-138), no-reduce passthrough
(spec/map_reduce/mapper_spec.rb:89-125), and hash partition placement
(spec/map_reduce/hash_partitioner_spec.rb — md5 variant so DuckDB can check
placement in pure SQL; the sha1 original is pinned by pytest).

Python-side folds here sum in integer space (counts / cents) so results are
exactly order-independent and hash-match the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_ruby_spark.core import Job, Md5Partitioner
from map_reduce_ruby_spark.plans.catalog import register
from map_reduce_ruby_spark.sources import load_table


@register(
    "mr_wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
    doc="The reference README's canonical job (map: text -> (word, 1); "
    "reduce: +) run through the core Job engine's ARROW transport "
    "(Job.run_arrow): the same generator map / binary fold / SHA1 "
    "placement, but rows arrive in Arrow batches, the map-side combine "
    "collapses per-task duplicates before ONE JVM Tungsten exchange, and "
    "the output stays a DataFrame — no Python-pickle leg anywhere. The "
    "classic RDD path (job.run) remains pinned by mr_composite_key_agg "
    "and the tests; this entry carries the compat path's scale face "
    "(SCALING.md: the pickle transport was the worst sf1 decade ratio).",
    tags=("mapreduce", "core"),
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    job = Job(
        map_fn=lambda text: ((w, 1) for w in text.split()),
        reduce_fn=lambda key, a, b: a + b,
        num_partitions=16,
    )
    kv = job.run_arrow(spark, docs, sort_output=False)
    # decode the canonical-JSON wire pairs JVM-side: the key is a JSON
    # string scalar, wrapped into a 1-array so from_json (struct/array-only)
    # can unescape it
    return kv.select(
        F.from_json(
            F.concat(F.lit("["), F.col("k"), F.lit("]")), "array<string>"
        ).getItem(0).alias("word"),
        F.col("v").cast("long").alias("cnt"),
    )


@register(
    "compat_spill_wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS word
        FROM documents
        WHERE doc_id % 50 = 0
    )
    GROUP BY word
    """,
    doc="The compat facade's BOUNDED-BUFFER spill path under the oracle "
    "gate: a reference-style worker (Mapper with memory_limit set, "
    "core/compat.py) ingests a 1-in-50 sample of the corpus through "
    "driver-side map() calls — the facade IS the reference's "
    "process-local worker surface, so the driver loop is the contract, "
    "not an anti-pattern; the sample keeps it worker-sized at every SF. "
    "The tiny memory_limit forces multiple spills of sorted, "
    "pre-combined reference-format chunk files (reference "
    "mapper.rb:50-52,123-141), shuffle merges the chunks THROUGH Spark, "
    "and the partition files are read back and checked against a plain "
    "SQL wordcount over the same sample. Complements mr_wordcount "
    "(Arrow engine path) with the porting path's memory discipline.",
    tags=("mapreduce", "compat", "core"),
)
def compat_spill_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from map_reduce_ruby_spark.core import HashPartitioner, Mapper

    texts = [
        r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("text")
        .collect()  # worker-sized by construction (2% sample; facade ingest)
    ]

    class WordCount:
        def map(self, text):
            for w in text.split():
                yield w, 1

        def reduce(self, key, a, b):
            return a + b

    mapper = Mapper(
        WordCount(), spark, partitioner=HashPartitioner(8),
        memory_limit=8 * 1024,
    )
    for t in texts:
        mapper.map(t)
    out_dir = tempfile.mkdtemp(prefix="compat_spill_")
    try:
        parts = mapper.shuffle(out_dir=out_dir)
        if not parts:
            return spark.createDataFrame([], "word string, cnt long")
        from map_reduce_ruby_spark.materialize import truncate

        lines = spark.read.text(list(parts.values()))
        # chunk line = json [word, count]: scalar JSON paths decode both
        return truncate(
            lines.select(
                F.get_json_object("value", "$[0]").alias("word"),
                F.get_json_object("value", "$[1]").cast("long").alias("cnt"),
            ),
            eager=True,  # materialize before the dir vanishes
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "mr_composite_key_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Composite-key combiner job (the reference's [str, str] array keys "
    "with struct values): key=[l_returnflag, l_linestatus], value=(qty, "
    "price-cents, 1), reduce=field-wise +. Fold runs in integer space so the "
    "result is bitwise order-independent.",
    tags=("mapreduce", "core"),
)
def mr_composite_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )

    def map_fn(t):
        yield ([t[0], t[1]], (int(t[2]), int(round(t[3] * 100)), 1))

    job = Job(
        map_fn=map_fn,
        reduce_fn=lambda key, a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
        num_partitions=8,
    )
    # Feed plain tuples, not Row objects: the user's map IS the connector, so
    # hand it the cheapest representation (Row pickling costs ~40% extra on
    # this 600k-row Python-RDD path; the JVM fast path for the same shape is
    # df_reduce_by_key_fastpath).
    rows = job.run(spark, li.rdd.map(tuple), sort_output=False).map(
        lambda kv: (kv[0][0], kv[0][1], kv[1][0], kv[1][1] / 100.0, kv[1][2])
    )
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType(), False),
            T.StructField("l_linestatus", T.StringType(), False),
            T.StructField("sum_qty", T.LongType(), False),
            T.StructField("sum_price", T.DoubleType(), False),
            T.StructField("cnt", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "mr_user_event_rollup",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY user_id
    """,
    doc="Multi-chunk reduce over a high-fanout stream: many input slices per "
    "key (the reference's chunk_limit-cascade scenario) collapse to one "
    "value per user via the associative fold — over the Arrow transport "
    "(Job.run_arrow): Arrow-batched input, map-side combine, one JVM "
    "exchange, DataFrame output decoded JVM-side (from_json), no "
    "Python-pickle leg.",
    tags=("mapreduce", "core"),
)
def mr_user_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    # map receives the row as a plain tuple (run_arrow contract)
    job = Job(
        map_fn=lambda t: [(t[0], (1, int(round(t[1] * 100))))],
        reduce_fn=lambda key, a, b: (a[0] + b[0], a[1] + b[1]),
        num_partitions=8,
    )
    kv = job.run_arrow(spark, events, sort_output=False)
    # project the decoded array to a named column BEFORE element_at (the
    # HOF/CSE rule from SKILL.md applies to from_json reuse as well)
    vals = kv.select(
        F.col("k").cast("long").alias("user_id"),
        F.from_json("v", "array<bigint>").alias("nv"),
    )
    return vals.select(
        "user_id",
        F.element_at("nv", 1).alias("n_events"),
        (F.element_at("nv", 2) / 100.0).alias("total_value"),
    )


@register(
    "mr_no_reduce_passthrough",
    oracle="SELECT event_type, event_id FROM events",
    doc="No-reduce passthrough (reference v2.1.0 / O16): without a reduce "
    "implementation, duplicates are preserved and merely partitioned + "
    "key-sorted. Row multiset must equal the raw projection.",
    tags=("mapreduce", "core"),
)
def mr_no_reduce_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    job = Job(map_fn=lambda row: [(row.event_type, row.event_id)], num_partitions=8)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType(), False),
            T.StructField("event_id", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(job.run(spark, events), schema)


@register(
    "mr_partition_assignment",
    oracle="""
    SELECT c_custkey,
           CAST(('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::UBIGINT % 8
                AS BIGINT) AS partition_id
    FROM customer
    """,
    doc="Hash-partition placement checked end-to-end: rows carry the "
    "partition index Spark actually put them in (mapPartitionsWithIndex), "
    "and the oracle recomputes md5-of-canonical-JSON placement in SQL. The "
    "reference's sha1 placement is identical machinery (DuckDB lacks sha1; "
    "pytest pins the sha1 values from the reference spec).",
    tags=("mapreduce", "core", "partitioner"),
)
def mr_partition_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    job = Job(
        map_fn=lambda row: [(row.c_custkey, None)],
        partitioner=Md5Partitioner(8),
        num_partitions=8,
    )
    placed = job.run(spark, cust).mapPartitionsWithIndex(
        lambda pid, it: ((k, pid) for k, _ in it)
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), False),
            T.StructField("partition_id", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(placed, schema)


@register(
    "df_reduce_by_key_custom",
    oracle="""
    SELECT user_id,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS max_cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
    doc="DataFrame adapter (core/df_adapter.py): the reference's binary "
    "reduce contract run per key group via applyInArrow's iterator form "
    "(max_cents folds with a Python lambda pairwise over the group's Arrow "
    "batches as they stream in, exactly reduce(key, v1, v2)); the primitive "
    "folds of the same call (sum) are pyarrow.compute aggregates per batch, "
    "and a call of primitives only compiles to JVM aggregates. Integer-cents "
    "space keeps the fold order-independent.",
    tags=("mapreduce", "dataframe-adapter"),
)
def df_reduce_by_key_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.core import reduce_by_key

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("max_cents"),
        F.round(F.col("value") * 100).cast("long").alias("sum_cents"),
        F.lit(1).cast("long").alias("n"),
    )
    return reduce_by_key(
        ev,
        keys=["user_id"],
        values={
            "max_cents": lambda key, a, b: a if a >= b else b,  # custom binary fold
            "sum_cents": "sum",
            "n": "sum",
        },
    )


@register(
    "df_reduce_by_key_fastpath",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS first_order,
           CAST(MAX(l_orderkey) AS BIGINT) AS last_order,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    doc="DataFrame adapter fast path: every fold is a recognized primitive, "
    "so the plan is pure JVM aggregation (partial + final HashAggregate, no "
    "Python anywhere) — same user-facing reduce contract, Catalyst execution.",
    tags=("mapreduce", "dataframe-adapter"),
)
def df_reduce_by_key_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.core import reduce_by_key

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_orderkey").alias("first_order"),
        F.col("l_orderkey").alias("last_order"),
        F.lit(1).cast("long").alias("n"),
    )
    return reduce_by_key(
        li,
        keys=["l_returnflag", "l_linestatus"],
        values={"qty": "sum", "first_order": "min", "last_order": "max", "n": "sum"},
    )


@register(
    "mr_udtf_wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
    doc="The reference's user map contract (one input -> 0..n yielded pairs, "
    "SURVEY O1) surfaced as a SQL-registered Python UDTF (Spark 4, "
    "Arrow-batched): LATERAL tokenize(text) in plain SQL, then a JVM-side "
    "aggregate. Same combiner semantics as mr_wordcount (partial counts "
    "before the shuffle), with the generator running in Python exactly like "
    "a reference Mapper#map block. The RDD Job path (mr_wordcount) remains "
    "the recommended hot path; this pins the SQL-facing UDTF registration "
    "surface.",
    tags=("mapreduce", "udtf"),
)
def mr_udtf_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string", useArrow=True)
    class Tokenize:
        def eval(self, text: str):
            # reference README.md:35-41 — map yields one pair per word
            if text:
                for w in text.split():
                    yield (w,)

    spark.udtf.register("tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT t.word, COUNT(*) AS cnt
        FROM docs_udtf, LATERAL tokenize(text) t
        GROUP BY t.word
        """
    )
