"""Sources/sinks beyond parquet: the reference has none at all (its user map
doubles as the connector, SURVEY.md §2.2) — here CSV/JSON-lines read+write and
the partitioned sink are first-class Spark surfaces, pinned by roundtrips."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_ruby_spark.core.keys import canonical_json
from map_reduce_ruby_spark.sources import load_table


def write_chunk(path, pairs):
    """Write pairs as one reference-format chunk: ``json([key, value])`` per line."""
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(canonical_json([k, v]) + "\n" for k, v in pairs)


def read_chunk(path):
    """The (key, value) pairs of one reference-format chunk file."""
    with open(path, encoding="utf-8") as f:
        return [tuple(json.loads(line)) for line in f if line.strip()]


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.option("header", True).csv(out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert back.count() == nation.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in nation.collect()}


def test_json_roundtrip(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    out = str(tmp_path / "cust_json")
    cust.write.json(out)
    back = spark.read.json(out)
    assert back.count() == cust.count()
    assert back.agg(F.sum("c_custkey")).first()[0] == cust.agg(F.sum("c_custkey")).first()[0]


def test_partitioned_parquet_sink(spark, sf_dir, tmp_path):
    """df.write.partitionBy — the DataFrame face of the reference's
    partition->file shuffle handoff (Mapper#shuffle, O11/O12)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "user_id")
    out = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").parquet(out)
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    assert len(dirs) == 5  # one physical partition dir per event type
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning: a filter on the partition column scans 1/5 of dirs
    pruned = back.filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert back.filter(F.col("event_type") == "click").count() == ev.filter(
        F.col("event_type") == "click"
    ).count()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan


def test_training_shard_publish(spark, sf_dir, tmp_path):
    """The 'publish to training' sink: deterministic hash order, range-
    partitioned into shards, each shard internally sorted — so a trainer
    streams shards independently with a globally reproducible order."""
    from map_reduce_ruby_spark.functions import h32

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        h32(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    out = str(tmp_path / "shards")
    docs.repartitionByRange(4, "h").sortWithinPartitions("h", "doc_id").write.parquet(out)

    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 4
    ranges, total = [], 0
    for path in files:
        pdf = spark.read.parquet(path).toPandas()
        if len(pdf):
            hs = pdf["h"].tolist()
            assert hs == sorted(hs), "shard not internally sorted"
            ranges.append((min(hs), max(hs)))
            total += len(pdf)
    assert total == docs.count()
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):  # disjoint ranges
        assert hi1 <= lo2


def test_chunk_datasource_read(spark, tmp_path):
    """mr_chunks format reads reference-layout chunk files, one Spark
    partition per file (chunk files are independent sorted runs)."""
    from map_reduce_ruby_spark.sources import register_chunk_source

    d = tmp_path / "chunks"
    d.mkdir()
    write_chunk(str(d / "c0.jsonl"), [("apple", 1), ("pear", {"n": 2})])
    write_chunk(str(d / "c1.jsonl"), [(["k", 3], [1, 2]), ("zed", None)])
    register_chunk_source(spark)
    df = spark.read.format("mr_chunks").load(str(d))
    assert df.columns == ["key_json", "value_json"]
    rows = {(r.key_json, r.value_json) for r in df.collect()}
    assert rows == {
        ('"apple"', "1"),
        ('"pear"', '{"n":2}'),
        ('["k",3]', "[1,2]"),
        ('"zed"', "null"),
    }
    assert df.rdd.getNumPartitions() == 2


def test_chunk_datasource_typed_extraction(spark, tmp_path):
    """from_json peels the schemaless payload into typed columns."""
    from map_reduce_ruby_spark.sources import register_chunk_source

    p = tmp_path / "typed.jsonl"
    write_chunk(str(p), [("a", 10), ("b", 32)])
    register_chunk_source(spark)
    df = spark.read.format("mr_chunks").load(str(p))
    # from_json only takes struct/array/map schemas; bare JSON scalars peel
    # via get_json_object's root path (strings) or an array-wrap (numbers).
    typed = df.select(
        F.get_json_object("key_json", "$").alias("k"),
        F.from_json(
            F.concat(F.lit("["), F.col("value_json"), F.lit("]")), "array<long>"
        )[0].alias("v"),
    )
    assert {(r.k, r.v) for r in typed.collect()} == {("a", 10), ("b", 32)}


def test_chunk_datasource_write_roundtrip(spark, tmp_path):
    """DataFrame -> mr_chunks files -> reference-style read_chunk: the bytes
    on disk are the reference's exact JSON.generate layout."""
    from map_reduce_ruby_spark.sources import register_chunk_source

    register_chunk_source(spark)
    src = spark.createDataFrame(
        [("\"k1\"", "5"), ("[\"k2\",7]", "{\"x\":1}")], "key_json string, value_json string"
    ).coalesce(1)
    out = str(tmp_path / "out_chunks")
    src.write.format("mr_chunks").mode("append").save(out)
    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files  # driver-commit marker
    files = [f for f in files if not f.startswith("_")]
    assert files and all(f.startswith("chunk-") for f in files)
    pairs = []
    for f in files:
        pairs.extend(read_chunk(os.path.join(out, f)))
    assert sorted(map(repr, pairs)) == sorted(map(repr, [("k1", 5), (["k2", 7], {"x": 1})]))


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    nation.write.orc(out)
    back = spark.read.orc(out)
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nation.collect()
    )
    assert back.schema == nation.schema


def test_shuffle_to_files_shared_storage_roundtrip(spark, tmp_path):
    """Job.shuffle_to_files: the cluster-safe handoff —
    executors write reference-format sorted runs through the mr_chunks
    DataSource writer straight into shared storage (no driver hop), and the
    resulting files must (a) be byte-compatible reference chunks, (b) be
    key-sorted within each file, (c) reduce back to the same totals."""
    from map_reduce_ruby_spark.core.job import Job

    def map_fn(text):
        for w in text.split():
            yield w, 1

    def reduce_fn(key, a, b):
        return a + b

    inputs = ["spark merge shuffle", "merge spark", "zed alpha merge"]
    job = Job(map_fn=map_fn, reduce_fn=reduce_fn, num_partitions=4)
    out = str(tmp_path / "shared_chunks")
    pmap = job.shuffle_to_files(spark, inputs, out)

    assert pmap and all(os.path.basename(p).startswith("chunk-") for p in pmap.values())
    merged = {}
    for pid, path in pmap.items():
        pairs = list(read_chunk(path))
        keys = [k for k, _ in pairs]
        assert keys == sorted(keys), f"chunk {pid} not key-sorted"
        for k, v in pairs:
            assert k not in merged, "key split across partitions"
            merged[k] = v
    assert merged == {"spark": 2, "merge": 3, "shuffle": 1, "zed": 1, "alpha": 1}

    # and the reference Reducer flow ingests the same files
    total = sum(
        v for _, v in Job.reduce_files(spark, sorted(pmap.values()), reduce_fn).collect()
    )
    assert total == sum(merged.values())


def test_binaryfile_source_reads_blobs(spark, sf_dir):
    """spark.read.format('binaryFile'): the ingest path for raw media blobs
    (images/audio) from object storage — each file becomes (path, modTime,
    length, content) with the payload as an opaque binary column, exactly
    the shape operators/multimodal.py processes. Verified byte-for-byte
    against the filesystem."""
    import os

    df = (
        spark.read.format("binaryFile")
        .load(os.path.join(sf_dir, "documents.parquet"))
    )
    rows = df.select("path", "length", "content").collect()
    assert rows, "binaryFile source read nothing"
    for r in rows:
        local = r.path.replace("file:", "")
        assert r.length == os.path.getsize(local)
        with open(local, "rb") as f:
            assert bytes(r.content) == f.read()


def test_shuffle_to_files_shared_storage_guards(spark, tmp_path):
    """shuffle_to_files must refuse (a) URIs whose scheme has no
    registered storage backend (executors could not write there) and (b) a
    directory holding a previous generation's chunks (the append-mode write
    would interleave generations and the map would return stale files)."""
    from map_reduce_ruby_spark.core.job import Job

    def map_fn(text):
        yield text, 1

    job = Job(map_fn=map_fn, reduce_fn=lambda k, a, b: a + b, num_partitions=2)

    with pytest.raises(ValueError, match="no storage backend registered"):
        job.shuffle_to_files(spark, ["a"], "gs://bucket/chunks")

    out = str(tmp_path / "gen0")
    job.shuffle_to_files(spark, ["a b"], out)
    with pytest.raises(ValueError, match="fresh generation"):
        job.shuffle_to_files(spark, ["c d"], out)


def test_shared_storage_handoff_uses_commit_messages_not_listing(spark, tmp_path):
    """The partition->path map must come from the writer's commit messages
    (via _MANIFEST.json), NOT from listing the directory: a stray
    chunk-named file planted in the target dir before the shuffle must NOT
    appear in the returned map — and the manifest must agree byte-for-byte
    with what the tasks reported."""
    import json as _json

    from map_reduce_ruby_spark.core.job import Job

    def map_fn(text):
        for w in text.split():
            yield w, 1

    out = tmp_path / "remote_gen"
    out.mkdir()
    # a listing-based implementation would pick this stray file up
    (out / "chunk-00099.jsonl").write_text('["stray",1]\n')

    job = Job(map_fn=map_fn, reduce_fn=lambda k, a, b: a + b, num_partitions=4)
    pmap = job.shuffle_to_files(spark, ["x y", "x z"], str(out))

    assert pmap, "expected non-empty partition map"
    assert 99 not in pmap and all("chunk-00099" not in p for p in pmap.values())
    manifest = _json.loads((out / "_MANIFEST.json").read_text())
    assert manifest["format"] == "mr_chunks/1"
    assert {e["partition"] for e in manifest["files"]} == set(pmap)
    assert sum(e["rows"] for e in manifest["files"]) == 3  # x:2 merged, y, z


def test_shared_storage_handoff_accepts_file_uri(spark, tmp_path):
    """A file://-mounted 'remote' dir round-trips purely through the storage
    backend + commit messages: URIs in, URIs out, correct chunk bytes."""
    from map_reduce_ruby_spark.core.job import Job

    def map_fn(text):
        for w in text.split():
            yield w, 1

    job = Job(map_fn=map_fn, reduce_fn=lambda k, a, b: a + b, num_partitions=3)
    uri = "file://" + str(tmp_path / "mounted" / "gen1")
    pmap = job.shuffle_to_files(spark, ["m n", "m"], uri)

    assert pmap and all(p.startswith("file://") for p in pmap.values())
    merged = {}
    for p in pmap.values():
        for k, v in read_chunk(p[len("file://"):]):
            merged[k] = v
    assert merged == {"m": 2, "n": 1}
    # the dir holds only published chunks + markers (no temp leftovers)
    names = sorted(os.listdir(str(tmp_path / "mounted" / "gen1")))
    assert all(
        n.startswith(("chunk-", "_MANIFEST", "_SUCCESS")) for n in names
    ), names


def test_chunk_batch_read_prefers_manifest_over_listing(spark, tmp_path):
    """A committed generation is read from its manifest: a stray chunk file
    left by an aborted earlier attempt (abort() may never see its commit
    message) must NOT be interleaved into the batch read; a manifest-less
    directory keeps the listing behavior."""
    from map_reduce_ruby_spark.sources import register_chunk_source

    register_chunk_source(spark)
    d = tmp_path / "gen"
    d.mkdir()
    src = spark.createDataFrame(
        [('"live"', "1")], "key_json string, value_json string"
    ).coalesce(1)
    src.write.format("mr_chunks").mode("append").save(str(d))
    # plant a stray from a hypothetical failed attempt AFTER the commit
    (d / "chunk-00042.jsonl").write_text('["stray",9]\n')
    rows = {r.key_json for r in spark.read.format("mr_chunks").load(str(d)).collect()}
    assert rows == {'"live"'}, rows
    # manifest-less dir: listing includes everything
    d2 = tmp_path / "plain"
    d2.mkdir()
    (d2 / "a.jsonl").write_text('["x",1]\n')
    (d2 / "b.jsonl").write_text('["y",2]\n')
    rows2 = {r.key_json for r in spark.read.format("mr_chunks").load(str(d2)).collect()}
    assert rows2 == {'"x"', '"y"'}


def test_chunk_batch_read_refuses_half_commit(spark, tmp_path):
    """A directory with _MANIFEST.json but no _SUCCESS is a crashed
    half-commit: the batch reader must refuse to plan from it (its file
    list may be incomplete and a recovery rewrite may swap the generation
    under the read) rather than silently trusting the manifest."""
    from map_reduce_ruby_spark.sources import register_chunk_source

    register_chunk_source(spark)
    d = tmp_path / "half"
    d.mkdir()
    src = spark.createDataFrame(
        [('"live"', "1")], "key_json string, value_json string"
    ).coalesce(1)
    src.write.format("mr_chunks").mode("append").save(str(d))
    (d / "_SUCCESS").unlink()  # simulate the crash between manifest and marker
    with pytest.raises(Exception, match="half-commit"):
        spark.read.format("mr_chunks").load(str(d)).collect()


def test_chunk_writes_are_generation_unique(spark, tmp_path):
    """Chunk filenames embed the write generation's id (recorded in the
    manifest), so a racing writer's tasks can never os.replace another
    generation's files — the concurrent-writer guard at commit() detects
    the race BEFORE any corruption, not after."""
    import json as _json

    from map_reduce_ruby_spark.sources import register_chunk_source

    register_chunk_source(spark)

    def write_gen(d):
        spark.createDataFrame(
            [('"k"', "1")], "key_json string, value_json string"
        ).coalesce(1).write.format("mr_chunks").mode("append").save(str(d))
        man = _json.loads((d / "_MANIFEST.json").read_text())
        return man

    d1, d2 = tmp_path / "g1", tmp_path / "g2"
    m1, m2 = write_gen(d1), write_gen(d2)
    # each manifest names its own generation, and the filenames carry it
    assert m1["write_id"] != m2["write_id"]
    for man, d in ((m1, d1), (m2, d2)):
        for e in man["files"]:
            assert man["write_id"] in e["file"]
            assert (d / e["file"]).exists()


def test_chunk_writer_abort_leaves_no_committed_generation(spark, tmp_path):
    """A failed write job must never look committed: no manifest, no
    success marker — and a retry into the same directory publishes a clean
    generation whose manifest ignores any stray from the failed attempt.
    (Unpublishing the strays themselves is best-effort only: Spark may
    abort before recording a just-committed task's message, so abort()
    cannot be guaranteed to see every published file.)"""
    import json as _json

    from map_reduce_ruby_spark.sources import register_chunk_source
    from map_reduce_ruby_spark.sources.chunk_datasource import _ChunkCommit, _ChunkWriter

    register_chunk_source(spark)
    out = tmp_path / "aborted"

    def rows(idx, it):
        if idx == 1:
            raise RuntimeError("boom")
        yield ('"a"', "1")

    rdd = spark.sparkContext.parallelize(range(2), 2).mapPartitionsWithIndex(
        lambda idx, it: rows(idx, it)
    )
    df = spark.createDataFrame(rdd, "key_json string, value_json string")
    with pytest.raises(Exception):
        df.write.format("mr_chunks").mode("append").save(str(out))
    leftovers = sorted(os.listdir(out)) if out.exists() else []
    assert "_MANIFEST.json" not in leftovers and "_SUCCESS" not in leftovers

    # retry into the SAME dir: manifest reflects only the new generation
    ok = spark.createDataFrame(
        [('"x"', "1")], "key_json string, value_json string"
    ).coalesce(1)
    ok.write.format("mr_chunks").mode("append").save(str(out))
    man = _json.loads((out / "_MANIFEST.json").read_text())
    files = [e["file"] for e in man["files"]]
    # one file, partition 0, named with THIS generation's write-id suffix
    assert len(files) == 1 and files[0] == f"chunk-00000-{man['write_id']}.jsonl"

    # the abort cleanup itself, driven directly with a delivered message.
    # A separate dir: Spark's real abort path reuses the writer built at
    # plan time (before any generation exists), but a DIRECT construction
    # here would trip the plan-time completed-generation guard on `out`.
    abort_dir = tmp_path / "abort_cleanup"
    abort_dir.mkdir()
    stray = abort_dir / "chunk-00042.jsonl"
    stray.write_text('["s",1]\n')
    _ChunkWriter({"path": str(abort_dir)}).abort(
        [_ChunkCommit(42, "chunk-00042.jsonl", 1), None]
    )
    assert not stray.exists()


def test_shared_storage_stable_no_reduce_order(spark, tmp_path):
    """stable=True must survive the mr_chunks writer: equal-key
    duplicates keep input order in the published chunk bytes (the
    reference's FIFO merge), since the narrow RDD->rows map and the
    per-task file write both preserve in-partition order."""
    from map_reduce_ruby_spark.core.job import Job

    def map_fn(i):
        yield "dup", f"v{i}"

    job = Job(map_fn=map_fn, reduce_fn=None, num_partitions=2)
    out = str(tmp_path / "stable_shared")
    pmap = job.shuffle_to_files(spark, list(range(6)), out, stable=True)
    [path] = pmap.values()
    values = [v for _k, v in read_chunk(path)]
    assert values == [f"v{i}" for i in range(6)], values


def test_shared_storage_handoff_through_registered_backend(spark, tmp_path):
    """The object-store dispatch path end-to-end WITHOUT a real object
    store: a PrefixMappedStorage backend registered driver-side for scheme
    'mock' must carry the whole handoff — scheme resolution, pickling into
    executor write tasks, atomic publish, commit-message manifest — and
    the files must land under the backend's root, addressed only by
    mock:// URIs."""
    from map_reduce_ruby_spark.core.job import Job
    from map_reduce_ruby_spark.sources.storage import (
        PrefixMappedStorage,
        register_storage_backend,
    )

    root = str(tmp_path / "fake_store")
    register_storage_backend("mock", PrefixMappedStorage("mock", root))

    def map_fn(text):
        for w in text.split():
            yield w, 1

    job = Job(map_fn=map_fn, reduce_fn=lambda k, a, b: a + b, num_partitions=3)
    pmap = job.shuffle_to_files(spark, ["u v", "u w"], "mock://bucket/gen1")
    assert pmap and all(p.startswith("mock://bucket/gen1/") for p in pmap.values())
    merged = {}
    for uri in pmap.values():
        local = os.path.join(root, uri[len("mock://"):])
        for k, v in read_chunk(local):
            merged[k] = v
    assert merged == {"u": 2, "v": 1, "w": 1}
    assert os.path.exists(os.path.join(root, "bucket/gen1/_MANIFEST.json"))
    # generation guard works through the backend too
    with pytest.raises(ValueError, match="fresh generation"):
        job.shuffle_to_files(spark, ["x"], "mock://bucket/gen1")


def test_s3_storage_backend_end_to_end(spark, tmp_path):
    """The SHIPPED S3 backend (sources/storage.py S3Storage) carries the
    reference's actual deployment story (reference README.md:60-67,78-84 —
    mappers upload partition files to S3, reducers download them) end to
    end: scheme resolution for s3:// URIs, lazy client reconnection inside
    the executor-side writer (the live client never crosses the pickle
    boundary — __reduce__ ships constructor args only), single-PUT atomic
    publish, manifest commit, and reducer read-back. boto3 is absent in
    this container, so the injected client is the file-backed
    S3FileClientDouble implementing the same narrow boto3 surface."""
    import functools

    from map_reduce_ruby_spark.core.job import Job
    from map_reduce_ruby_spark.sources.storage import (
        S3FileClientDouble,
        S3Storage,
        _BACKENDS,
        register_storage_backend,
    )

    root = str(tmp_path / "s3root")
    prior = _BACKENDS.get("s3")
    register_storage_backend(
        "s3",
        S3Storage(client_factory=functools.partial(S3FileClientDouble, root)),
    )
    try:

        def map_fn(text):
            for w in text.split():
                yield w, 1

        job = Job(map_fn=map_fn, reduce_fn=lambda k, a, b: a + b, num_partitions=3)
        pmap = job.shuffle_to_files(spark, ["s3 put s3", "put get"], "s3://bucket/gen1")
        assert pmap and all(p.startswith("s3://bucket/gen1/") for p in pmap.values())
        merged = {}
        for uri in pmap.values():
            local = os.path.join(root, uri[len("s3://"):])
            for k, v in read_chunk(local):
                merged[k] = v
        assert merged == {"s3": 2, "put": 2, "get": 1}
        assert os.path.exists(os.path.join(root, "bucket/gen1/_MANIFEST.json"))
        assert os.path.exists(os.path.join(root, "bucket/gen1/_SUCCESS"))
        # no tmp litter: every staged object was atomically renamed
        litter = [
            f
            for _, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".tmp")
        ]
        assert litter == []
        # one-generation guard holds through the S3 backend too
        with pytest.raises(ValueError, match="fresh generation"):
            job.shuffle_to_files(spark, ["x"], "s3://bucket/gen1")
    finally:
        register_storage_backend("s3", prior)


def test_s3_storage_unit_surface(tmp_path):
    """S3Storage's five backend operations against the client double, plus
    the URI validation and pickle-safety contracts a worker relies on."""
    import functools
    import pickle

    from map_reduce_ruby_spark.sources.storage import S3FileClientDouble, S3Storage

    st = S3Storage(
        client_factory=functools.partial(S3FileClientDouble, str(tmp_path))
    )
    assert not st.exists("s3://b/k.txt")
    st.write_text_atomic("s3://b/k.txt", "hello")
    assert st.exists("s3://b/k.txt") and st.read_text("s3://b/k.txt") == "hello"

    local = tmp_path / "payload.jsonl"
    local.write_text('["a",1]\n')
    st.put_file_atomic(str(local), "s3://b/dir/chunk-0.jsonl")
    assert not local.exists(), "put_file_atomic consumes the local file"
    assert st.read_text("s3://b/dir/chunk-0.jsonl") == '["a",1]\n'

    st.delete("s3://b/k.txt")
    assert not st.exists("s3://b/k.txt")

    with pytest.raises(ValueError, match="s3://bucket/key"):
        st._bk("s3://bucketonly")
    with pytest.raises(ValueError, match="not an s3"):
        st._bk("gs://b/k")

    # pickling drops the live client: a worker reconnects lazily
    st.read_text("s3://b/dir/chunk-0.jsonl")  # force client construction
    clone = pickle.loads(pickle.dumps(st))
    assert clone._client is None
    assert clone.read_text("s3://b/dir/chunk-0.jsonl") == '["a",1]\n'


def test_chunk_writer_refuses_second_generation_at_datasource_level(
    spark, tmp_path
):
    """The datasource itself must refuse a directory that already holds a
    COMPLETED generation — not just Job.shuffle_to_files: batch reads prefer
    the manifest, so a direct df.write append would silently shadow the
    first generation's chunk files for every later reader. The guard fires
    at writer construction (before any task runs), and filenames are
    generation-unique besides, so refusal must leave the first generation
    byte-identical."""
    df = spark.createDataFrame(
        [('"k"', "1")], "key_json string, value_json string"
    )
    df2 = spark.createDataFrame(
        [('"OTHER"', "999")], "key_json string, value_json string"
    )
    out = str(tmp_path / "gen")
    df.coalesce(1).write.format("mr_chunks").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_MANIFEST.json"))
    man = json.loads(
        open(os.path.join(out, "_MANIFEST.json"), encoding="utf-8").read()
    )
    chunk = os.path.join(out, man["files"][0]["file"])
    before = open(chunk, encoding="utf-8").read()
    with pytest.raises(Exception, match="one write-generation per directory"):
        df2.coalesce(1).write.format("mr_chunks").mode("append").save(out)
    # the guard ran before tasks: gen-1's file was NOT clobbered by gen-2
    assert open(chunk, encoding="utf-8").read() == before


def test_chunk_writer_recovers_crashed_half_commit(spark, tmp_path):
    """A _MANIFEST.json WITHOUT _SUCCESS is a crashed half-commit (the
    commit writes the manifest first, the marker second): consumers never
    trusted it, so a rewrite must be allowed — this is the self-healing
    path streaming fixtures rely on. Only manifest + _SUCCESS together
    block a second write."""
    df = spark.createDataFrame(
        [('"k"', "1")], "key_json string, value_json string"
    )
    out = str(tmp_path / "crashed")
    df.coalesce(1).write.format("mr_chunks").mode("append").save(out)
    os.remove(os.path.join(out, "_SUCCESS"))  # simulate dying mid-commit
    df.coalesce(1).write.format("mr_chunks").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    manifest = json.loads(
        open(os.path.join(out, "_MANIFEST.json"), encoding="utf-8").read()
    )
    assert len(manifest["files"]) == 1


def test_schema_evolution_merge_on_read(spark, sf_dir, tmp_path):
    """Schema evolution: a v2 writer adds a column; mergeSchema=true unifies
    generations on read (v1 rows null-filled), and column pruning still
    reaches the scan — the append-only evolution path a long-lived lake
    table follows (table formats add metadata on top; the parquet mechanics
    are these)."""
    out = str(tmp_path / "evolving")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "lang").write.parquet(out + "/gen=1")
    docs.select(
        "doc_id", "lang", F.col("n_chars").alias("quality_score")
    ).write.parquet(out + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"doc_id", "lang", "quality_score", "gen"}
    n = docs.count()
    assert merged.count() == 2 * n
    # v1 generation rows surface the new column as NULL
    assert merged.filter(F.col("gen") == 1).filter(F.col("quality_score").isNull()).count() == n
    assert merged.filter(F.col("gen") == 2).filter(F.col("quality_score").isNotNull()).count() == n
    # and the evolved column aggregates correctly across generations
    expected = docs.agg(F.sum("n_chars")).first()[0]
    assert merged.agg(F.sum("quality_score")).first()[0] == expected


def test_corrupt_file_resilience(spark, sf_dir, tmp_path):
    """A single corrupt file in a million-file table must not kill the
    nightly job when ignoreCorruptFiles is on — and must fail loudly when
    it is off (silent-by-default would hide data loss)."""
    out = str(tmp_path / "with_corruption")
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.parquet(out)
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file")

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
        with pytest.raises(Exception):
            spark.read.parquet(out).count()

        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        back = spark.read.parquet(out)
        assert back.count() == nation.count()
        assert {r.n_name for r in back.collect()} == {r.n_name for r in nation.collect()}
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_max_partition_bytes_controls_scan_parallelism(spark, sf_dir):
    """spark.sql.files.maxPartitionBytes is the scan-sizing knob from the
    100 TB posture: smaller split targets must yield more input partitions
    over the same file, which is how scan parallelism (and per-task memory)
    is tuned to executor size."""
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # openCostInBytes floors the split size (its 4 MB default swallows
        # the small test fixture entirely) — pin it low so the split math
        # is driven by maxPartitionBytes, as it is on real multi-GB files
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        wide = spark.read.parquet(f"{sf_dir}/lineitem.parquet").rdd.getNumPartitions()
        # the effective split is min(maxPartitionBytes, max(openCost,
        # totalBytes/defaultParallelism)): to make maxPartitionBytes the
        # binding term on a small fixture it must undercut bytes-per-core
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        narrow = spark.read.parquet(f"{sf_dir}/lineitem.parquet").rdd.getNumPartitions()
        assert narrow > wide, (narrow, wide)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)


def test_chunk_stream_ingests_each_file_exactly_once(spark, tmp_path):
    """Streaming face of the chunk source: drain a drop directory with
    availableNow under a checkpoint, add a later-sorting file, drain again —
    the second run must deliver ONLY the new file's rows (no skip, no
    replay)."""
    import json

    from map_reduce_ruby_spark.sources.chunk_datasource import register_chunk_source

    register_chunk_source(spark)
    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(name, pairs):
        (drop / name).write_text(
            "".join(json.dumps([k, v], separators=(",", ":")) + "\n" for k, v in pairs)
        )

    out = str(tmp_path / "out")

    def drain():
        # parquet sink: fault-tolerant, so the second run RECOVERS from the
        # checkpoint (memory sink can't) — the restart path under test
        q = (
            spark.readStream.format("mr_chunks")
            .option("path", str(drop))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    write_chunk("chunk-00000.jsonl", [["a", 1], ["b", 2]])
    first = drain()
    assert first == {('"a"', "1"), ('"b"', "2")}

    write_chunk("chunk-00001.jsonl", [["c", 3]])
    second = drain()
    # cumulative output: the new file's rows appended exactly once,
    # the already-committed file NOT replayed
    assert second == {('"a"', "1"), ('"b"', "2"), ('"c"', "3")}
    assert len(spark.read.parquet(out).collect()) == 3


def test_chunk_stream_backlog_bounded_batches_exactly_once(spark, tmp_path):
    """Backpressure against a large backlog: 1000 pending chunk files with
    maxFilesPerTrigger=100 must drain in bounded micro-batches (first
    trigger = exactly 100 files, never the whole backlog), and a
    mid-backlog restart under the same checkpoint must neither skip nor
    replay — cumulative totals are exactly-once across the stop/start."""
    import json

    from map_reduce_ruby_spark.sources.chunk_datasource import (
        _ChunkStreamReader,
        register_chunk_source,
    )

    register_chunk_source(spark)
    drop = tmp_path / "drop"
    drop.mkdir()
    n_files = 1000
    for i in range(n_files):
        (drop / f"chunk-{i:05d}.jsonl").write_text(
            json.dumps(["f", i], separators=(",", ":")) + "\n"
        )

    # reader-level: the capped window walks the backlog in exact slices
    r = _ChunkStreamReader({"path": str(drop), "maxfilespertrigger": "100"})
    off = r.initialOffset()
    seen = 0
    batches = 0
    while True:
        rows, end = r.read(off)
        if end["n"] == off["n"]:
            break
        got = list(rows)
        assert len(got) <= 100, "micro-batch exceeded maxFilesPerTrigger"
        seen += len(got)
        batches += 1
        off = end
    assert seen == n_files and batches == 10

    # engine-level: one bounded batch, restart, another bounded batch, then
    # drain — exactly-once totals end to end
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(trigger_kwargs):
        q = (
            spark.readStream.format("mr_chunks")
            .option("path", str(drop))
            .option("maxFilesPerTrigger", "100")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    assert run({"once": True}).count() == 100  # first batch: capped, not 1000
    assert run({"once": True}).count() == 200  # restart resumes mid-backlog
    # drain the rest; each restart is a fresh capped batch (PySpark's
    # Python microbatch stream treats availableNow as a single batch, so
    # the loop IS the catch-up schedule)
    counts = [200]
    while counts[-1] < n_files:
        counts.append(run({"once": True}).count())
        assert counts[-1] == counts[-2] + 100, counts
    final = spark.read.parquet(out)
    assert final.count() == n_files
    # every file's row present exactly once
    vals = sorted(int(row.value_json) for row in final.collect())
    assert vals == list(range(n_files))


def test_chunk_stream_rejects_bad_max_files(tmp_path):
    """Every malformed maxFilesPerTrigger value raises the descriptive
    error — an empty string must not silently disable the cap, and a
    non-numeric value must not surface as a bare int() ValueError."""
    from map_reduce_ruby_spark.sources.chunk_datasource import _ChunkStreamReader

    for bad in ("0", "-3", "", "ten", "1.5"):
        with pytest.raises(ValueError, match="maxFilesPerTrigger"):
            _ChunkStreamReader({"path": str(tmp_path), "maxfilespertrigger": bad})
    # valid value parses; absent option means uncapped
    assert _ChunkStreamReader(
        {"path": str(tmp_path), "maxfilespertrigger": "7"}
    ).max_files == 7
    assert _ChunkStreamReader({"path": str(tmp_path)}).max_files is None


def test_chunk_rows_iterator_is_lazy_and_copyable(tmp_path):
    """The stream reader's row iterator holds only file PATHS (laziness at
    scale) yet supports copy.copy — the contract PySpark's simple-stream
    cache relies on: each copy replays the full window regardless of how
    far the original was consumed."""
    import copy as _copy

    from map_reduce_ruby_spark.sources.chunk_datasource import _ChunkRows

    p = tmp_path / "c0.jsonl"
    p.write_text('["a",1]\n["b",2]\n["c",3]\n')
    it = _ChunkRows([str(p)])
    assert next(it) == ('"a"', "1")  # partially consume the original
    clone = _copy.copy(it)
    assert list(clone) == [('"a"', "1"), ('"b"', "2"), ('"c"', "3")]
    assert list(it) == [('"b"', "2"), ('"c"', "3")]  # original unaffected


def test_chunk_stream_reader_replay_window(tmp_path):
    """readBetweenOffsets must replay exactly the files a committed window
    covered — the recovery path a restart exercises when a batch planned
    but not yet committed."""
    import json

    from map_reduce_ruby_spark.sources.chunk_datasource import _ChunkStreamReader

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "chunk-00000.jsonl").write_text('["a",1]\n["b",2]\n')
    reader = _ChunkStreamReader({"path": str(drop)})
    off0 = reader.initialOffset()
    it, off1 = reader.read(off0)
    first = list(it)
    assert off0["n"] == 0
    assert off1 == {"n": 1, "last": "chunk-00000.jsonl"}
    assert first == [('"a"', "1"), ('"b"', "2")]
    # a later-sorting file arrives; replaying the COMMITTED window must not
    # include it
    (drop / "chunk-00001.jsonl").write_text('["c",3]\n')
    assert list(reader.readBetweenOffsets(off0, off1)) == first
    it2, off2 = reader.read(off1)
    assert list(it2) == [('"c"', "3")]
    assert off2 == {"n": 2, "last": "chunk-00001.jsonl"}
    # a committed file vanishing must be a loud error, not a silent re-slice
    (drop / "chunk-00000.jsonl").unlink()
    import pytest

    with pytest.raises(ValueError, match="offset violated"):
        reader.read(off2)


def test_s3_exists_propagates_non_404_errors(tmp_path):
    """exists() gates the one-generation guards, so only a definite
    not-found may read as False; credential/network/import failures must
    propagate or the guard would wave an overwrite through."""
    import functools

    from map_reduce_ruby_spark.sources.storage import S3FileClientDouble, S3Storage

    class Forbidden(Exception):
        def __init__(self):
            super().__init__("403")
            self.response = {
                "Error": {"Code": "403"},
                "ResponseMetadata": {"HTTPStatusCode": 403},
            }

    class NotFoundClientError(Exception):
        def __init__(self):
            super().__init__("404")
            self.response = {
                "Error": {"Code": "404"},
                "ResponseMetadata": {"HTTPStatusCode": 404},
            }

    class FlakyClient(S3FileClientDouble):
        mode = "forbidden"

        def head_object(self, Bucket, Key):
            if self.mode == "forbidden":
                raise Forbidden()
            raise NotFoundClientError()

    st = S3Storage(client_factory=functools.partial(FlakyClient, str(tmp_path)))
    with pytest.raises(Forbidden):
        st.exists("s3://b/k")
    FlakyClient.mode = "notfound"
    st2 = S3Storage(client_factory=functools.partial(FlakyClient, str(tmp_path)))
    assert st2.exists("s3://b/k") is False  # botocore 404 shape -> absent
    # and the double's FileNotFoundError still reads as absent
    st3 = S3Storage(
        client_factory=functools.partial(S3FileClientDouble, str(tmp_path))
    )
    assert st3.exists("s3://b/missing") is False


def test_atomic_writers_reclaim_tmp_on_failure(tmp_path):
    """A failed atomic-write attempt must unlink its per-attempt staging
    file: unique tmp names are never reused, so without reclamation every
    retry would litter an invisible .tmp in the chunk directory."""
    from map_reduce_ruby_spark.sources.storage import LocalStorage

    class ExplodingStorage(LocalStorage):
        def _p(self, uri):
            return super()._p(uri)

    st = LocalStorage()
    dst = tmp_path / "sub" / "target.txt"
    os.makedirs(dst.parent, exist_ok=True)
    # write_text_atomic failure: make os.replace fail by pointing the
    # destination at a directory
    (tmp_path / "sub" / "isdir").mkdir()
    with pytest.raises(OSError):
        st.write_text_atomic(str(tmp_path / "sub" / "isdir"), "x")
    leftovers = [p for p in os.listdir(tmp_path / "sub") if ".tmp" in p]
    assert leftovers == [], leftovers


def test_chunk_stream_tails_s3_uri_exactly_once(spark, tmp_path):
    """Streaming over OBJECT STORAGE: the mr_chunks stream tails an s3://
    drop prefix through the scheme-dispatched backend (list via paginated
    ListObjectsV2, content via get_object — exercised against the
    file-backed S3 client double), preserving the exactly-once per-file
    offset contract across a checkpoint restart (maxFilesPerTrigger
    backpressure is pinned by the local backlog test; the knob is
    path-agnostic).
    Closes the reference's add_chunk-from-S3 story
    (lib/map_reduce/reducer.rb:34-42, README.md:78-84) for the streaming
    face."""
    import functools
    import json

    from map_reduce_ruby_spark.sources.chunk_datasource import register_chunk_source
    from map_reduce_ruby_spark.sources.storage import (
        S3FileClientDouble,
        S3Storage,
        pickle_backend,
    )

    register_chunk_source(spark)
    root = str(tmp_path / "s3root")
    backend = S3Storage(client_factory=functools.partial(S3FileClientDouble, root))
    blob = pickle_backend(backend)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def put_chunk(name, pairs):
        backend.write_text_atomic(
            f"s3://bucket/drop/{name}",
            "".join(json.dumps([k, v], separators=(",", ":")) + "\n" for k, v in pairs),
        )

    def drain():
        q = (
            spark.readStream.format("mr_chunks")
            .option("path", "s3://bucket/drop")
            .option("backend_pickle", blob)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    put_chunk("chunk-00000.jsonl", [["a", 1], ["b", 2]])
    put_chunk("chunk-00001.jsonl", [["c", 3]])
    # a _SUCCESS-style marker and a dot-file must be invisible to the tail
    backend.write_text_atomic("s3://bucket/drop/_SUCCESS", "")
    backend.write_text_atomic("s3://bucket/drop/.staging.tmp", "garbage")
    first = drain()
    assert first == sorted([('"a"', "1"), ('"b"', "2"), ('"c"', "3")])

    # restart from the same checkpoint: only the NEW object is delivered
    put_chunk("chunk-00002.jsonl", [["d", 4]])
    second = drain()
    assert second == sorted(
        [('"a"', "1"), ('"b"', "2"), ('"c"', "3"), ('"d"', "4")]
    )
    assert len(second) == 4  # no duplicates: each object ingested once


def test_chunk_batch_reads_s3_uri_via_manifest(spark, tmp_path):
    """Batch mr_chunks reads resolve s3:// paths through the backend too:
    a committed generation is read FROM ITS MANIFEST (strays invisible),
    and a manifest without _SUCCESS is refused — the same policy as local
    directories, now scheme-dispatched."""
    import functools
    import json

    from map_reduce_ruby_spark.sources.chunk_datasource import register_chunk_source
    from map_reduce_ruby_spark.sources.storage import (
        S3FileClientDouble,
        S3Storage,
        pickle_backend,
    )

    register_chunk_source(spark)
    root = str(tmp_path / "s3root")
    backend = S3Storage(client_factory=functools.partial(S3FileClientDouble, root))
    blob = pickle_backend(backend)

    def read_df(path):
        return (
            spark.read.format("mr_chunks")
            .option("backend_pickle", blob)
            .load(path)
        )

    # manifest-less prefix: plain listing
    backend.write_text_atomic(
        "s3://bucket/plain/chunk-00000.jsonl", '["a",1]\n["b",2]\n'
    )
    assert {tuple(r) for r in read_df("s3://bucket/plain").collect()} == {
        ('"a"', "1"),
        ('"b"', "2"),
    }

    # committed generation: manifest is authoritative, strays invisible
    backend.write_text_atomic("s3://bucket/gen/chunk-00000-aaa.jsonl", '["k",7]\n')
    backend.write_text_atomic("s3://bucket/gen/chunk-99999-zzz.jsonl", '["stray",0]\n')
    manifest = {
        "format": "mr_chunks/1",
        "write_id": "aaa",
        "files": [{"partition": 0, "file": "chunk-00000-aaa.jsonl", "rows": 1}],
    }
    backend.write_text_atomic(
        "s3://bucket/gen/_MANIFEST.json", json.dumps(manifest) + "\n"
    )
    backend.write_text_atomic("s3://bucket/gen/_SUCCESS", "")
    assert [tuple(r) for r in read_df("s3://bucket/gen").collect()] == [('"k"', "7")]

    # half-commit (manifest, no _SUCCESS) is refused loudly
    backend.write_text_atomic("s3://bucket/half/chunk-00000-bbb.jsonl", '["x",1]\n')
    backend.write_text_atomic(
        "s3://bucket/half/_MANIFEST.json", json.dumps(manifest) + "\n"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="half-commit"):
        read_df("s3://bucket/half").collect()


def test_register_chunk_source_is_idempotent(spark, tmp_path, monkeypatch):
    """A second register_chunk_source call finds mr_chunks in the session's
    data source manager and registers nothing (re-registering makes the JVM
    warn that it replaced a registered data source); the format still
    loads afterwards."""
    from pyspark.sql.datasource import DataSourceRegistration

    from map_reduce_ruby_spark.sources import register_chunk_source

    register_chunk_source(spark)
    calls = []
    real = DataSourceRegistration.register

    def counting(self, source):
        calls.append(source)
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    register_chunk_source(spark)
    assert calls == []
    d = tmp_path / "plain"
    d.mkdir()
    (d / "a.jsonl").write_text('["x",1]\n')
    rows = [tuple(r) for r in spark.read.format("mr_chunks").load(str(d)).collect()]
    assert rows == [('"x"', "1")]


@pytest.mark.parametrize("via_arrow", [False, True], ids=["classic", "arrow"])
def test_shuffle_to_files_failure_leaves_no_generation(
    spark, tmp_path, monkeypatch, via_arrow
):
    """A failed shuffle_to_files publishes no _MANIFEST.json or _SUCCESS and
    deletes every chunk file its attempt published, and a retry into the
    same directory publishes a clean generation. Two failures: a map_fn
    that raises in one partition (the map stage fails before any chunk is
    published) and a fold that raises after the shuffle, in the last
    partition, once the other partitions have published theirs — which is
    what the driver's cleanup has to delete."""
    import time

    from map_reduce_ruby_spark.core.job import Job
    from map_reduce_ruby_spark.sources.storage import LocalStorage

    # HashPartitioner(4): omega -> 3; z -> 0, b -> 1, a and x -> 2
    texts = ["omega z", "omega a", "b x"]

    def inputs():
        rdd = spark.sparkContext.parallelize(texts, len(texts))
        if via_arrow:
            return spark.createDataFrame(rdd.map(lambda t: (t,)), "t string")
        return rdd

    def words(text):
        for w in text.split():
            yield w, 1

    def failing_map(text):
        if text == "b x":
            raise RuntimeError("map boom")
        yield from words(text)

    def failing_fold(key, a, b):
        # "omega" meets itself only after the shuffle (one per input slice)
        if key == "omega":
            time.sleep(2)
            raise RuntimeError("fold boom")
        return a + b

    deleted = []
    real_delete = LocalStorage.delete

    def spy(self, uri):
        if os.path.exists(uri):
            deleted.append(os.path.basename(uri))
        real_delete(self, uri)

    monkeypatch.setattr(LocalStorage, "delete", spy)
    out = tmp_path / "gen"
    add = lambda k, a, b: a + b  # noqa: E731
    for map_fn, fold in ((failing_map, add), (words, failing_fold)):
        job = Job(map_fn=map_fn, reduce_fn=fold, num_partitions=4)
        with pytest.raises(Exception, match="boom"):
            job.shuffle_to_files(spark, inputs(), str(out), via_arrow=via_arrow)
        left = sorted(os.listdir(out)) if out.exists() else []
        assert not [n for n in left if n.startswith(("chunk-", "_"))], left
    # partitions 0-2 had published before the fold failed in partition 3
    assert sorted(n[:11] for n in deleted) == [
        "chunk-00000", "chunk-00001", "chunk-00002"
    ], deleted

    job = Job(map_fn=words, reduce_fn=add, num_partitions=4)
    pmap = job.shuffle_to_files(spark, inputs(), str(out), via_arrow=via_arrow)
    man = json.loads((out / "_MANIFEST.json").read_text())
    chunks = sorted(n for n in os.listdir(out) if n.startswith("chunk-"))
    assert chunks == sorted(e["file"] for e in man["files"])
    assert all(man["write_id"] in n for n in chunks)
    assert (out / "_SUCCESS").exists()
    merged = dict(kv for p in pmap.values() for kv in read_chunk(p))
    assert merged == {"omega": 2, "z": 1, "a": 1, "b": 1, "x": 1}


def test_shuffle_to_files_publishes_without_datasource_writer(
    spark, tmp_path, monkeypatch
):
    """shuffle_to_files publishes from its last Python stage, not through
    the Python DataSource writer: with DataFrameWriter.save and
    register_chunk_source made to raise, the classic path, the Arrow path
    and the fake-s3:// backend still return the same partition map, and
    their chunk bytes equal what df.write.format("mr_chunks") writes for the
    same (key_json, value_json) rows."""
    import functools
    from pathlib import Path

    from pyspark.sql import DataFrameWriter

    import map_reduce_ruby_spark.sources as sources_pkg
    from map_reduce_ruby_spark.core.job import Job
    from map_reduce_ruby_spark.sources import chunk_datasource
    from map_reduce_ruby_spark.sources.storage import (
        S3FileClientDouble,
        S3Storage,
        _BACKENDS,
        register_storage_backend,
    )

    def map_fn(text):
        for w in text.split():
            yield w, 1

    texts = ["spark merge shuffle", "merge spark", "zed alpha merge", "alpha beta"]
    job = Job(map_fn=map_fn, reduce_fn=lambda k, a, b: a + b, num_partitions=4)
    docs = spark.createDataFrame([(t,) for t in texts], "t string")
    s3_root = tmp_path / "s3root"

    def refuse(*args, **kwargs):
        raise AssertionError("shuffle_to_files went through the DataSource API")

    monkeypatch.setattr(DataFrameWriter, "save", refuse)
    monkeypatch.setattr(chunk_datasource, "register_chunk_source", refuse)
    monkeypatch.setattr(sources_pkg, "register_chunk_source", refuse)
    monkeypatch.setattr(
        "map_reduce_ruby_spark.core.job.register_chunk_source", refuse, raising=False
    )
    prior = _BACKENDS.get("s3")
    register_storage_backend(
        "s3", S3Storage(client_factory=functools.partial(S3FileClientDouble, str(s3_root)))
    )
    try:
        maps = {
            "classic": job.shuffle_to_files(spark, texts, str(tmp_path / "classic")),
            "arrow": job.shuffle_to_files(
                spark, docs, str(tmp_path / "arrow"), via_arrow=True
            ),
            "s3": job.shuffle_to_files(spark, texts, "s3://bucket/gen"),
        }
    finally:
        register_storage_backend("s3", prior)
    monkeypatch.undo()

    # the reference: the same rows through the DataSource writer
    chunk_datasource.register_chunk_source(spark)
    rows = job.run(spark, texts).map(
        lambda kv: (canonical_json(kv[0]), canonical_json(kv[1]))
    )
    ref_dir = tmp_path / "ref"
    spark.createDataFrame(rows, chunk_datasource.CHUNK_SCHEMA).write.format(
        "mr_chunks"
    ).mode("append").save(str(ref_dir))
    man = json.loads((ref_dir / "_MANIFEST.json").read_text())
    ref = {e["partition"]: (ref_dir / e["file"]).read_bytes() for e in man["files"]}
    assert len(ref) > 1

    def local(uri):
        return s3_root / uri[len("s3://"):] if uri.startswith("s3://") else Path(uri)

    for name, pmap in maps.items():
        assert {p: local(u).read_bytes() for p, u in pmap.items()} == ref, name
