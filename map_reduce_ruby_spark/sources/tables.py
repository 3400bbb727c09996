"""Parquet table loaders for the synthetic star schema (TESTDATA.md).

The reference has no sources at all — its user-supplied ``map`` doubles as the
connector (reference README.md:35-41 fetches a URL inside map). Here sources
are first-class: ``spark.read.parquet`` gives columnar scans with predicate
pushdown and column pruning for free.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from map_reduce_ruby_spark.plans.memo import LruMemo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# The session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# Inferred table schemas (StructType only, never a DataFrame). Inference
# reads parquet footers in a Spark job; a memo hit reads with the schema
# given, which runs none.
_SCHEMAS = LruMemo(capacity=64)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as a fresh DataFrame (self-joins keep distinct
    attribute ids), with the session time zone pinned to UTC and, for
    ``events``, ``ts`` exposed as ``ts_ns``/``ts_us``/``ts``.

    The parquet schema is inferred once per key of ``_SCHEMAS``: a weak
    reference to the session, the table's ``table_fingerprint`` fields
    (path, then name, size and mtime_ns of each data file) and the current
    values of ``_SCHEMA_CONFS``. Rewriting the table, changing one of those
    confs or using another session is a miss; a hit builds the frame
    without running a Spark job. A path with no local data files (a
    missing table, a remote URI) is read without the memo, so it raises
    or lists exactly as ``spark.read.parquet`` does."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # Oracle comparisons require UTC: DuckDB is timezone-naive, and several
    # catalog queries go through session-TZ-dependent functions
    # (unix_timestamp, date_format, timestamp_ntz casts). session.get_spark
    # pins UTC at build, but a caller's session may not — most dangerously,
    # an unset session inherits the JVM's LOCAL timezone. The conf is
    # runtime-settable, so pin it here, and say so when that actually
    # changes something the caller may have set deliberately.
    try:
        current = spark.conf.get("spark.sql.session.timeZone", "")
        if current != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            if current:
                import warnings

                warnings.warn(
                    f"load_table pinned spark.sql.session.timeZone to UTC "
                    f"(was {current!r}): catalog results are defined in UTC",
                    stacklevel=2,
                )
    except Exception as e:  # e.g. a connect session with read-only conf
        import warnings

        warnings.warn(
            f"could not pin session timeZone to UTC ({e}); timestamp-derived "
            "results may not match the UTC-defined oracle",
            stacklevel=2,
        )
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's timestamp type
        # rejects; nanosAsLong makes it arrive as a raw nanos bigint. The conf
        # is runtime-settable, so set it here too — the caller's session (e.g.
        # the driver's) may not have been built by session.get_spark.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # fall through; the dtype branch below handles either form
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        fields = _fingerprint_fields(sf_dir, name)
    except OSError:
        df = spark.read.parquet(path)
    else:
        key = (
            weakref.ref(spark),
            fields,
            tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
        )
        schema = _SCHEMAS.get_or_build(key, lambda: spark.read.parquet(path).schema)
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        # Expose: ts_ns (exact nanos), ts_us (= DuckDB epoch_us(ts) — same
        # ns -> µs truncation), and ts as a real microsecond timestamp.
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":  # nanos-as-long
            df = (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            )
        else:  # engine already delivered a (truncated) timestamp
            df = df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))).withColumn(
                "ts_ns", F.col("ts_us") * 1000
            )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view so catalog queries can use spark.sql."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_fingerprint(sf_dir: str, name: str = "documents") -> str:
    """Content fingerprint for caching artifacts DERIVED from a fixture
    table (persisted indexes, chunk drop directories): md5 over the table's
    absolute path plus every data file's (name, size, mtime_ns). If the
    fixture at sf_dir is regenerated, the fingerprint changes, so a stale
    cache under /tmp can never silently serve results derived from the old
    data — the failure mode a path-only tag had."""
    return hashlib.md5("|".join(_fingerprint_fields(sf_dir, name)).encode()).hexdigest()[:12]


def _fingerprint_fields(sf_dir: str, name: str) -> tuple[str, ...]:
    """The table's absolute path, then "name:size:mtime_ns" of each data
    file in name order. FileNotFoundError when there is no data file."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    parts = [os.path.abspath(path)]
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(
            os.path.join(path, f)
            for f in (os.listdir(path) if os.path.isdir(path) else [])
            if not f.startswith((".", "_"))
        )
    )
    if not files:
        # A path-only tag would resurrect exactly the stale-cache failure
        # this fingerprint exists to prevent (caller fingerprints before
        # the fixture exists, then the fixture lands, and the cache key
        # never changes) — refuse instead.
        raise FileNotFoundError(
            f"table_fingerprint({sf_dir!r}, {name!r}): no data files under "
            f"{path!r}; generate the fixture before fingerprinting"
        )
    for f in files:
        st = os.stat(f)
        parts.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
    return tuple(parts)
