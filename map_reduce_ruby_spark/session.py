"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the config is written for a real cluster
(AQE on, skew-join handling, sensible shuffle partitioning) so the same code
scales to 100 TB by changing only master/partition counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def python_worker_confs(master: str) -> dict[str, str]:
    """Confs that start local Python workers from ``_worker_daemon``.

    The package's parent goes on the workers' PYTHONPATH, so they import the
    daemon from any cwd. Other masters keep the stock daemon: there,
    ``--py-files`` lands only after the daemon starts.
    """
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": "map_reduce_ruby_spark._worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    }


def get_spark(
    app_name: str = "map_reduce_ruby_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``),
    shuffle partitions = cores (not the 200 default, which over-parallelizes
    local data and under-parallelizes 100 TB — on a real cluster set it to
    ~2-3x total executor cores or let AQE coalesce). Local masters run
    Python tasks under ``_worker_daemon``, which skips re-reading unchanged
    zip archives before each task (``python_worker_confs``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    # Shuffle-partition sizing is by BYTES, not by a fixed count (the sf100
    # knee, SCALING.md round 9: the SNM verify sort at 32 partitions puts
    # ~1.25 GB of candidate rows per task — the sort goes external and the
    # job dies on spill disk; 256 partitions on a 6x-smaller heap wins).
    # Mechanism: every SQL shuffle STARTS at ``initialPartitionNum`` and AQE
    # coalesces down with target size = min(max(stage_bytes/parallelism,
    # minPartitionSize), advisoryPartitionSizeInBytes) — a small-fixture
    # shuffle lands at ~cores partitions while a big one is capped at the
    # advisory post-shuffle bytes per task. BOTH knobs have measured knees
    # on this box (SCALING.md round 10):
    #   - initial count is NOT free: every map task materializes one bucket
    #     per initial partition before AQE can coalesce the read side; 4096
    #     buckets cost ~2.3x at mid-scale (SNM at sf10: 33.5 s warm vs
    #     14-15.6 s at 32 or 256). 256 = 8x cores is the measured plateau:
    #     identical to 32 at sf0.1-sf10 AND past the sf100 knee.
    #   - advisory size must fit the per-task EXECUTION share (heap x 0.6 /
    #     2 / concurrent tasks = ~75 MB at 8g/32 cores): at 128m the sf100
    #     SNM verify sort went external per task and spill amplification
    #     filled the box's 55 GB free disk; at Spark's default 64m the same
    #     job finishes in ~220 s with bounded spill. So the advisory stays
    #     at 64m — on a real cluster with 4-8 GB per core, raise it with
    #     the heap (same rule, bigger share).
    # At real 100 TB scale raise SPARK_GRAFT_INITIAL_PARTITIONS to
    # ~input_bytes/64 MB; the knob scales, the default serves the
    # single-node envelope. ``shuffle.partitions`` itself stays at cores:
    # it is the fallback for AQE-ineligible plans and PINS stateful-
    # streaming state partitioning (state stores can't re-partition across
    # a checkpoint's lifetime).
    initial_parts = int(os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "256"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(initial_parts, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # Without this, cached-plan materialization pins AQE's OUTPUT
        # partitioning: every .cache() below a shuffle would materialize at
        # the full initialPartitionNum and every downstream scan would pay
        # thousands of empty tasks (measured 10-15x on the iterative
        # entries). Letting the cache build coalesce is safe here — nothing
        # in the engine relies on a cached plan's partition count.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle comparisons (DuckDB is UTC-naive) require a pinned session TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unsupported by Spark's
        # timestamp type; read it as a raw nanos bigint and let the events
        # loader derive a microsecond timestamp (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # No \r progress bars on stderr: they glue onto stdout lines in
        # captured logs and once clipped the bench's one-line JSON record.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # G1 + Spark's 16 MB memory pages: with an 8g heap G1 picks 4 MB
        # regions, so every HashedRelation/sorter page is a HUMONGOUS
        # allocation racing JNI critical sections (Arrow, parquet) for the
        # GCLocker; JDK-8192647 makes the loser throw a spurious
        # "Java heap space" after 2 retries (observed at sf100: SHJ build
        # OOM at 54 s with a mostly-empty heap, while an identical-plan
        # run stayed clean). 32 MB regions take 16 MB pages out of the
        # humongous path entirely; the retry bump covers allocations that
        # still land there. Applies to executors too in local mode (one
        # JVM); on a real cluster mirror it in executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:G1HeapRegionSize=32m -XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=64",
        )
    )
    spark = builder.config(map=python_worker_confs(master)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
