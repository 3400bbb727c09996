"""The map/reduce Job: the reference's two-class API as one Spark-native runner.

Reference surface being re-expressed (SURVEY.md §2.1):

- O1  user ``map(input) -> yields (key, value)``      -> ``rdd.flatMap``
- O4  combiner iff user has ``reduce``                 -> ``reduceByKey`` map-side combine
- O5  sort-based group-reduce (binary fold)            -> ``reduceByKey`` merge
- O6  SHA1-of-JSON hash partitioning, pluggable        -> ``partitionFunc``
- O14 multi-run final reduce / Enumerator form         -> shuffle reduce / ``toLocalIterator``
- O15 key-sorted output within each partition          -> external sort within partitions
- O16 no-reduce passthrough (duplicates preserved)     -> ``repartitionAndSortWithinPartitions``
- O2/O7-O11/O17 (spill, k-way merge, fan-in caps, temp files) are intentionally
  NOT here: on this distributed path that machinery *is* Spark's sort-based
  shuffle (SURVEY.md §4). The single-worker ``compat.Mapper``/``Reducer``
  implement it in-process instead.

Contract notes carried over verbatim from the reference:
- ``reduce(key, v1, v2)`` must be associative + commutative; it is applied in
  arbitrary pairing across chunks (reference README.md:42-50) — Spark pairs
  arbitrarily too, so the contract is identical.
- ``reduce`` is optional; without it duplicates are preserved and merely
  partitioned + key-sorted (reference CHANGELOG v2.1.0,
  spec/map_reduce/mapper_spec.rb:89-125).
- Incomparable keys raise at first comparison during the sort/merge, not at
  ingest (reference spec/map_reduce/reducer_spec.rb:15-35).
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterable

from pyspark import RDD, SparkContext
from pyspark.sql import SparkSession

from map_reduce_ruby_spark.core.keys import SortKey, canonical_json
from map_reduce_ruby_spark.core.partitioner import HashPartitioner, PartitionFn
from map_reduce_ruby_spark.sources.chunk_datasource import (
    chunk_file_name,
    commit_generation,
    new_write_id,
    publish_chunk,
    refuse_completed_generation,
    unpublish_chunks,
)
from map_reduce_ruby_spark.sources.storage import join_uri, storage_for


class MapReduceError(Exception):
    """Base error (reference lib/map_reduce.rb:17)."""


class InvalidNumPartitions(MapReduceError):
    """num_partitions must be >= 1 (the Job's analog of the reference's
    InvalidChunkLimit guard, lib/map_reduce.rb:18 / mapper.rb:77). Spark
    manages the Job's merge fan-in; ``chunk_limit`` itself is the compat
    Mapper/Reducer's fan-in and raises ``compat.InvalidChunkLimit``."""


MapFn = Callable[[Any], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, Any, Any], Any]

# run_arrow's map side hands a batch to the shuffle every this many distinct
# keys (with a fold) or pairs (without), bounding the Python worker's memory
COMBINE_FLUSH = 200_000


def _hashable(k: Any) -> Any:
    """Dict-key form of a map/reduce key with grouping semantics identical
    to SortKey's: Python's number equality already merges 1 and 1.0 (the
    ruby_cmp normalization), strings hash natively, and (nested) arrays
    become tuples comparing element-wise. Used in the Arrow path's combine
    dicts because a SortKey construction PER PAIR dominates token-sized
    workloads (measured: wordcount's map loop, ~28M pairs at sf1)."""
    if isinstance(k, (list, tuple)):
        return tuple(_hashable(x) for x in k)
    return k


def _kv_batch(pa, pids: list[int], ks: list[str], vs: list[str]):
    return pa.record_batch(
        [
            pa.array(pids, pa.int32()),
            pa.array(ks, pa.string()),
            pa.array(vs, pa.string()),
        ],
        names=["pid", "k", "v"],
    )


class Job:
    """A map-reduce job over Spark.

    Parameters
    ----------
    map_fn : input -> iterable of (key, value) pairs (0..n per input); the
        generator replaces the reference's ``yield`` protocol
        (reference README.md:35-41). The input is arbitrary — the map function
        doubles as the source connector, exactly as in the reference where the
        README's mapper fetches a URL.
    reduce_fn : optional binary fold ``(key, v1, v2) -> value``; enables the
        map-side combiner and reduce-side merge.
    partitioner : any callable ``key -> int``; default
        ``HashPartitioner(num_partitions)`` (SHA1-of-canonical-JSON placement).
    """

    def __init__(
        self,
        map_fn: MapFn,
        reduce_fn: ReduceFn | None = None,
        partitioner: PartitionFn | None = None,
        num_partitions: int = 32,
    ):
        if num_partitions < 1:
            raise InvalidNumPartitions(f"num_partitions must be >= 1, got {num_partitions}")
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.num_partitions = num_partitions
        self.partitioner = partitioner or HashPartitioner(num_partitions)

    # ------------------------------------------------------------------ run

    def run(
        self,
        spark: SparkSession,
        inputs: Any,
        sort_output: bool = True,
        stable: bool = False,
    ) -> RDD:
        """Execute map -> shuffle(partition) -> [reduce] -> [sort] and return
        an ``RDD[(key, value)]`` partitioned by ``self.partitioner`` and, when
        ``sort_output``, key-sorted within each partition (O15). With a
        ``reduce_fn`` the fold is called as ``reduce_fn(key, v1, v2)`` with
        the pair's own key (for keys that compare equal, such as 1 and 1.0,
        one of them).

        ``stable=True`` (no-reduce mode only) additionally makes duplicates of
        equal keys come out in input order — the reference's FIFO-stable merge
        (lib/map_reduce/priority_queue.rb:35,50-53; SURVEY.md §7.4.4). Spark's
        shuffle is not duplicate-order-stable, so stability costs one
        ``zipWithIndex`` pass to attach a sequence tie-break; leave it off
        unless byte-stable output is required.

        ``inputs`` may be an RDD, a DataFrame (rows are passed to ``map_fn``),
        or a plain Python iterable (parallelized).
        """
        rdd = self._as_rdd(spark, inputs)
        map_fn = self.map_fn

        part = self.partitioner
        partition_func = lambda sk: part(sk.key)  # noqa: E731

        if stable and self.reduce_fn is None:
            # (key, seq) composite sort key: seq = (input index, intra-input
            # yield order) — total input order, FIFO within equal keys.
            indexed = rdd.zipWithIndex()
            pairs_seq = indexed.flatMap(
                lambda xi: (
                    ((SortKey(kv[0]), xi[1], j), kv[1])
                    for j, kv in enumerate(map_fn(xi[0]))
                )
            )
            out = pairs_seq.repartitionAndSortWithinPartitions(
                numPartitions=self.num_partitions,
                partitionFunc=lambda key3: part(key3[0].key),
            )
            return out.map(lambda kv: (kv[0][0].key, kv[1]), preservesPartitioning=True)

        if self.reduce_fn is None:
            # No-reduce passthrough (O16): duplicates preserved; Spark's
            # external sort gives the key-sorted-within-partition guarantee.
            pairs = rdd.flatMap(lambda x: ((SortKey(k), v) for k, v in map_fn(x)))
            out = pairs.repartitionAndSortWithinPartitions(
                numPartitions=self.num_partitions, partitionFunc=partition_func
            )
            return out.map(lambda kv: (kv[0].key, kv[1]), preservesPartitioning=True)

        reduce_fn = self.reduce_fn
        # reduceByKey = map-side combine (O4) + shuffle + reduce-side merge
        # (O5/O14), all memory-bounded by Spark's ExternalMerger — the engine
        # never materializes a partition. Each value carries its key so the
        # fold receives it: reduce(key, v1, v2), as in the reference.
        pairs = rdd.flatMap(lambda x: ((SortKey(k), (k, v)) for k, v in map_fn(x)))
        out = pairs.reduceByKey(
            lambda a, b: (a[0], reduce_fn(a[0], a[1], b[1])),
            numPartitions=self.num_partitions,
            partitionFunc=partition_func,
        )
        if sort_output:
            # Post-aggregation rows are one per distinct key per partition;
            # sorting them reproduces O15. (At 100 TB, distinct-keys-per-
            # partition is shuffle-partition-sized by construction — tune
            # num_partitions, not this sort.)
            out = out.mapPartitions(
                lambda it: iter(sorted(it, key=lambda kv: kv[0])), preservesPartitioning=True
            )
        return out.map(lambda kv: (kv[0].key, kv[1][1]), preservesPartitioning=True)

    # ------------------------------------------------------------ arrow run

    def run_arrow(
        self,
        spark: SparkSession,
        df: Any,
        sort_output: bool = True,
    ):
        """Arrow-batched execution of the SAME user protocol over a DataFrame:
        returns ``DataFrame(k string, v string)`` of canonical-JSON pairs,
        key-sorted within each partition when ``sort_output`` and placed so
        that partition INDEX == ``self.partitioner(key) % num_partitions``
        exactly: the map side writes that id into a column and Spark's
        ``repartitionById`` sends each row to it. Building the plan runs no
        Spark job.

        Same contract as ``run`` — user ``map_fn`` yields 0..n pairs per
        input, optional binary fold with map-side combine, SHA1-placement —
        but every transport leg is columnar: input rows arrive as Arrow
        batches (no per-row pickle), the shuffle is Spark's Tungsten exchange
        over two string columns (no Python-pickle shuffle), and the output
        stays a DataFrame (no driver/createDataFrame pass). This is the fix
        for the compat path's payload-linear decade ratios (SCALING.md: the
        mr_* entries sat at 6-7x for 10x rows because every pair crossed the
        Python-pickle boundary three times).

        Differences from ``run``, all inherent to the wire format:
        - input is a DataFrame; ``map_fn`` receives the row as a plain tuple
          (or the bare value for single-column frames) — the cheapest
          representation, per the mr_composite_key_agg rule;
        - values must be JSON-representable (the reference's chunk wire
          contract, lib/map_reduce/mapper.rb:115): the reduce-side fold sees
          keys and values after one canonical-JSON roundtrip (tuples arrive
          as lists);
        - FIFO-stable no-reduce output (``stable=True``) is not offered here;
          use ``run`` when byte-stable duplicate order matters.

        Map-side combine is memory-bounded: the per-task accumulator flushes
        every ``COMBINE_FLUSH`` distinct keys (partial combines are correct
        under the associative+commutative contract and re-fold after the
        shuffle), so the MAP side cannot OOM the Python worker at any input
        size. Reduce-side state is bounded by DISTINCT KEYS PER PARTITION
        when folding (the same bound run()'s O15 in-memory output sort
        already imposes — tune num_partitions, not this path), and by ROWS
        per partition only for the sorted no-reduce passthrough; an
        unsorted no-reduce pass streams through without buffering. For a
        byte-sorted passthrough too large for worker memory, use ``run``
        (its repartitionAndSortWithinPartitions is Spark's spilling
        external sort).
        """
        return self._arrow_plan(df, sort_output)

    def _arrow_plan(self, df: Any, sort_output: bool, publish=None):
        """``run_arrow``'s plan. With ``publish`` — a picklable
        ``(pid, pairs) -> (pid, file, rows)`` — the reduce-side
        ``mapInArrow`` hands each partition's canonical (k, v) JSON pairs to
        it and returns one ``partition int, file string, rows long`` row
        per partition instead of the pairs."""
        import pyarrow as pa

        map_fn, reduce_fn = self.map_fn, self.reduce_fn
        nparts = self.num_partitions
        raw_part = self.partitioner
        # pyspark's partitionBy applies partitionFunc(k) % numPartitions, so
        # a partitioner returning values >= nparts is legal on run(); keep
        # the two paths contract-identical
        part = lambda k: raw_part(k) % nparts  # noqa: E731
        flush = COMBINE_FLUSH  # read per call: the closures ship this value

        def _rows(batch):
            cols = [c.to_pylist() for c in batch.columns]
            return iter(cols[0]) if len(cols) == 1 else zip(*cols)

        def map_side(batches):
            if reduce_fn is None:
                pids: list[int] = []
                ks: list[str] = []
                vs: list[str] = []
                for batch in batches:
                    for t in _rows(batch):
                        for k, v in map_fn(t):
                            pids.append(part(k))
                            ks.append(canonical_json(k))
                            vs.append(canonical_json(v))
                    if len(ks) >= flush:
                        yield _kv_batch(pa, pids, ks, vs)
                        pids, ks, vs = [], [], []
                if ks:
                    yield _kv_batch(pa, pids, ks, vs)
                return

            # combine: dict keyed by the _hashable key form, whose grouping
            # is identical to SortKey's (1 and 1.0 merge; arrays element-
            # wise) at a fraction of the per-pair cost; the first-seen key
            # representative carries to the output and to placement,
            # matching run()'s reduceByKey behavior.
            acc: dict[Any, Any] = {}
            rep: dict[Any, Any] = {}

            def drain():
                pids = [part(rep[hk]) for hk in acc]
                ks = [canonical_json(rep[hk]) for hk in acc]
                vs = [canonical_json(v) for v in acc.values()]
                return _kv_batch(pa, pids, ks, vs)

            for batch in batches:
                for t in _rows(batch):
                    for k, v in map_fn(t):
                        hk = _hashable(k)
                        if hk in acc:
                            acc[hk] = reduce_fn(rep[hk], acc[hk], v)
                        else:
                            acc[hk] = v
                            rep[hk] = k
                if len(acc) >= flush:
                    yield drain()
                    acc.clear()
                    rep.clear()
            if acc:
                yield drain()

        def reduce_side(batches):
            if reduce_fn is None:
                if not sort_output:
                    # unsorted passthrough: stream through, zero buffering
                    for batch in batches:
                        yield pa.record_batch(
                            [batch.column(1), batch.column(2)], names=["k", "v"]
                        )
                    return
                # sorted passthrough buffers the partition (the sort needs
                # it); run() is the spilling external-sort alternative
                rows: list[tuple[SortKey, str, str]] = []
                for batch in batches:
                    kc = batch.column(1).to_pylist()
                    vc = batch.column(2).to_pylist()
                    rows.extend((SortKey(json.loads(kj)), kj, vj) for kj, vj in zip(kc, vc))
                rows.sort(key=lambda r: r[0])
                for i in range(0, len(rows), 65536):
                    chunk = rows[i : i + 65536]
                    yield pa.record_batch(
                        [
                            pa.array([r[1] for r in chunk], pa.string()),
                            pa.array([r[2] for r in chunk], pa.string()),
                        ],
                        names=["k", "v"],
                    )
                return

            acc: dict[Any, Any] = {}
            rep: dict[Any, str] = {}
            for batch in batches:
                kc = batch.column(1).to_pylist()
                vc = batch.column(2).to_pylist()
                for kj, vj in zip(kc, vc):
                    key = json.loads(kj)
                    hk = _hashable(key)
                    if hk in acc:
                        acc[hk] = reduce_fn(key, acc[hk], json.loads(vj))
                    else:
                        acc[hk] = json.loads(vj)
                        rep[hk] = kj
            items = list(acc.items())
            if sort_output:
                # SortKey only here: once per DISTINCT key, not per pair
                items.sort(key=lambda kv: SortKey(kv[0]))
            for i in range(0, len(items), 65536):
                chunk = items[i : i + 65536]
                yield pa.record_batch(
                    [
                        pa.array([rep[hk] for hk, _ in chunk], pa.string()),
                        pa.array([canonical_json(v) for _, v in chunk], pa.string()),
                    ],
                    names=["k", "v"],
                )

        mapped = df.mapInArrow(map_side, schema="pid int, k string, v string")
        # one JVM Tungsten exchange that sends each row to partition ``pid``
        # itself, so partition index == partitioner(key) afterwards (O6
        # placement preserved end-to-end)
        shuffled = mapped.repartitionById(nparts, "pid")
        if publish is None:
            return shuffled.mapInArrow(reduce_side, schema="k string, v string")

        def publish_side(batches):
            from pyspark import TaskContext

            pairs = (
                kv
                for b in reduce_side(batches)
                for kv in zip(b.column(0).to_pylist(), b.column(1).to_pylist())
            )
            pid, name, rows = publish(TaskContext.get().partitionId(), pairs)
            yield pa.record_batch(
                [
                    pa.array([pid], pa.int32()),
                    pa.array([name], pa.string()),
                    pa.array([rows], pa.int64()),
                ],
                names=["partition", "file", "rows"],
            )

        return shuffled.mapInArrow(
            publish_side, schema="partition int, file string, rows long"
        )

    # --------------------------------------------------- chunk-file interop

    def shuffle_to_files(
        self,
        spark: SparkSession,
        inputs: Any,
        out_dir: str,
        shared_storage: bool = True,
        stable: bool = False,
        via_arrow: bool = False,
    ) -> dict[int, str]:
        """Materialize the shuffle as the reference's partition->file map
        (reference lib/map_reduce/mapper.rb:76-96 ``Mapper#shuffle``): one
        JSON-lines file per non-empty partition, each line
        ``json([key, value])``, keys sorted within the file
        (reference lib/map_reduce/mapper.rb:115,131-135 chunk format).

        The last Python stage of the shuffle publishes its partition's sorted
        run straight into ``out_dir`` (``chunk_datasource.publish_chunk``,
        the same body the ``mr_chunks`` writer uses, so the bytes are
        identical) and returns one ``(partition, file, rows)`` row; the
        driver collects at most ``num_partitions`` such rows and commits
        ``_MANIFEST.json`` + ``_SUCCESS`` from them
        (``chunk_datasource.commit_generation``). The partition->path map
        comes from that manifest — never from a directory listing — and no
        data row ever crosses the driver, which is what makes the
        reference's S3 handoff story (reference README.md:60-67,78-84) work
        end-to-end on a real cluster. ``out_dir`` may be a plain/``file://``
        path (local disk or an NFS mount) or any URI whose scheme has a
        registered backend (sources/storage.py — an s3 deployment registers
        its client once); the resolved backend rides to the tasks in their
        closure. ``out_dir`` must not already hold a completed generation.
        If the job fails, the driver deletes (backend permitting) every
        ``chunk-<pid>-<write_id>.jsonl`` name this attempt could have
        published and publishes no manifest. No data source is registered:
        a caller that reads the generation back as a DataFrame registers the
        ``mr_chunks`` format on its session first (sources/chunk_datasource.py).

        ``stable=True`` (no-reduce mode): equal-key duplicates keep input
        order in the chunk files, matching the reference's FIFO-stable merge
        byte-for-byte (lib/map_reduce/priority_queue.rb:35,50-53, pinned by
        spec/map_reduce/mapper_spec.rb:89-125). Costs one ``zipWithIndex``
        pass; leave it off unless byte-stable duplicate order is required.

        ``via_arrow=True`` (a DataFrame input; incompatible with
        ``stable``): the shuffle runs through ``run_arrow``'s plan — Arrow
        transport end-to-end, JVM Tungsten exchange, no Python-pickle leg —
        and its reduce-side ``mapInArrow`` publishes the already-canonical
        (k, v) JSON strings. ``map_fn`` then sees ``run_arrow``'s plain row
        tuples and the fold JSON-roundtripped values, which is why the path
        is chosen by the caller and not by input type. ``repartitionById``
        keeps partition index == ``partitioner(key)``, so the manifest's
        partition ids and each file's JSON-lines bytes are identical to the
        ``run`` path's (pinned by tests/test_job_arrow.py).

        ``shared_storage`` is accepted only as ``True``: the executor-local
        ``shared_storage=False`` writer was removed.
        """
        if not shared_storage:
            raise ValueError(
                "shared_storage=False (the executor-local partition-file "
                "writer) was removed; shuffle_to_files always publishes "
                "reference-format chunks through a storage backend"
            )
        if via_arrow and stable:
            raise ValueError(
                "via_arrow does not offer FIFO-stable duplicate order; "
                "use the classic path (via_arrow=False) when byte-stable "
                "no-reduce output is required"
            )
        if via_arrow and not hasattr(inputs, "mapInArrow"):
            raise TypeError("via_arrow requires a DataFrame input")
        backend = storage_for(out_dir)  # raises for unregistered schemes
        refuse_completed_generation(backend, out_dir)
        write_id = new_write_id()

        def publish(pid, pairs):
            return publish_chunk(backend, out_dir, pid, write_id, pairs)

        try:
            if via_arrow:
                plan = self._arrow_plan(inputs, sort_output=True, publish=publish)
                published = plan.collect()  # bounded: one row per partition
            else:
                result = self.run(spark, inputs, sort_output=True, stable=stable)
                # narrow: partition ids and in-partition sort order carry
                # through to the published file
                published = result.mapPartitionsWithIndex(
                    lambda pid, kvs: [
                        publish(
                            pid,
                            ((canonical_json(k), canonical_json(v)) for k, v in kvs),
                        )
                    ]
                ).collect()  # bounded: one (pid, file, rows) per partition
            files = commit_generation(backend, out_dir, write_id, published)
        except BaseException:
            # names are deterministic, so no listing and no dependence on
            # which tasks reported back before the failure
            unpublish_chunks(
                backend,
                out_dir,
                [chunk_file_name(p, write_id) for p in range(self.num_partitions)],
            )
            raise
        return {e["partition"]: join_uri(out_dir, e["file"]) for e in files}

    @classmethod
    def reduce_files(
        cls,
        spark: SparkSession,
        paths: list[str],
        reduce_fn: ReduceFn | None,
        num_partitions: int = 1,
        partitioner: PartitionFn | None = None,
    ) -> RDD:
        """Reducer-side ingest (reference ``Reducer#add_chunk`` + ``#reduce``,
        lib/map_reduce/reducer.rb:34-100): read reference-format JSON-lines
        chunks and run the merge/reduce. Identity map; same output guarantees
        as ``run``."""
        job = cls(
            map_fn=lambda line: [tuple(json.loads(line))],
            reduce_fn=reduce_fn,
            num_partitions=num_partitions,
            partitioner=partitioner,
        )
        rdd = spark.sparkContext.textFile(",".join(paths))
        return job.run(spark, rdd)

    # ----------------------------------------------------------- internals

    @staticmethod
    def _as_rdd(spark: SparkSession, inputs: Any) -> RDD:
        if isinstance(inputs, RDD):
            return inputs
        if hasattr(inputs, "rdd"):  # DataFrame
            return inputs.rdd
        sc: SparkContext = spark.sparkContext
        inputs = list(inputs)
        return sc.parallelize(inputs, numSlices=max(1, min(len(inputs), 32)))
