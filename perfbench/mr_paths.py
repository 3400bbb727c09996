"""Workload ``mr_paths``: the paper's canonical wordcount on every engine path.

One job is one path over a seeded Zipf corpus, from its input to a complete
result in the Spark driver; a round runs every path once:

- ``Job.run`` (pickled RDD shuffle) and ``Job.run_arrow`` (Arrow batches,
  JVM exchange), both with ``map: text -> (word, 1)`` and ``reduce: +``;
- ``df_adapter.reduce_by_key`` with the same fold as a custom function;
- the reference's worker flow through the compat facade: ``Mapper`` with a
  ``memory_limit`` ingests the documents through driver-side ``map`` calls
  and spills sorted chunk files, ``Mapper.shuffle`` writes partition files,
  and one ``Reducer`` per partition runs ``add_chunk`` and ``reduce``;
- the cluster hand-off: ``Job.shuffle_to_files(shared_storage=True,
  via_arrow=True)`` followed by ``Job.reduce_files``.

Every result is compared exactly against a ``Counter`` of the corpus, and
every keyed output is checked for SHA1 placement against
``HashPartitioner``; each check runs after its job, outside its timer.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import tempfile
import time
from collections import Counter

from pyspark.sql import functions as F

from map_reduce_ruby_spark.core import Job, reduce_by_key
from map_reduce_ruby_spark.core.compat import Mapper, Reducer

DOCS = 2000
TOKENS_PER_DOC = 30
VOCAB = 1000
# the paths with a high cost per pair (the custom fold of reduce_by_key and
# the driver-side worker flow) read the first SMALL_DOCS documents, so each
# path spends about as long on its records as on its fixed Spark costs
SMALL_DOCS = 400
SMALL_PATHS = ("reduce_by_key", "worker")
PARTITIONS = 2
# reference JSON-size accounting; the small corpus accounts for ~250 KiB of
# [[partition, word], 1] items, so each worker job spills several chunks
MEMORY_LIMIT = 64 * 1024

_LETTERS = "abcdefghijklmnopqrstuvwxyzäöß"


def make_corpus(seed: int) -> list[str]:
    """Documents of words drawn from a Zipf(1) law over a seeded vocabulary.

    The seed draws the letters of every word, not its length: the word of
    each Zipf rank has the same length under every seed, so corpora of
    different seeds differ in content but hardly in size, and the work a
    job does per byte does not vary with the seed."""
    rng = random.Random(seed)
    words: list[str] = []
    seen: set[str] = set()
    for rank in range(VOCAB):
        length = 2 + rank * 5 % 9  # 2..10 letters, cycling with the rank
        word = ""
        while not word or word in seen:
            word = "".join(rng.choice(_LETTERS) for _ in range(length))
        seen.add(word)
        words.append(word)
    weights = [1.0 / (rank + 1) for rank in range(VOCAB)]
    return [" ".join(rng.choices(words, weights, k=TOKENS_PER_DOC)) for _ in range(DOCS)]


def add(_key, a, b):
    return a + b


def row_words(row):
    return ((w, 1) for w in row[0].split())


def text_words(text):
    return ((w, 1) for w in text.split())


class WordCount:
    """Reference-style implementation object for the compat facade."""

    def map(self, text):
        return text_words(text)

    def reduce(self, key, a, b):
        return a + b


def _tag_partition(pid, it):
    return ((pid, k, v) for k, v in it)


class Workload:
    name = "mr_paths"
    # after the cold first round, rounds are level to within their noise
    warmup_seconds = 5.0
    parts = ["run", "run_arrow", "reduce_by_key", "worker", "handoff"]

    def __init__(self, spark, seed: int):
        from map_reduce_ruby_spark.core import HashPartitioner

        self.spark = spark
        self.seed = seed
        self.placement = HashPartitioner(PARTITIONS)
        self._job_no = 0

    # ------------------------------------------------------------ set-up

    def setup(self, run_dir: str) -> None:
        """Inputs: the corpus and its first SMALL_DOCS documents, each in
        memory (the worker flow feeds it through driver-side calls) and as
        a parquet file (the DataFrame paths read it)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.dir = run_dir
        docs = make_corpus(self.seed)
        self.inputs = {}
        for size, part in (("full", docs), ("small", docs[:SMALL_DOCS])):
            path = os.path.join(run_dir, f"corpus-{size}.parquet")
            pq.write_table(pa.table({"text": part}), path)
            self.inputs[size] = {"docs": part, "parquet": path}

    def _input(self, name: str) -> dict:
        return self.inputs["small" if name in SMALL_PATHS else "full"]

    def _expected(self, name: str) -> dict:
        """The path's input with its expected output; built outside every
        timer, once per input."""
        inp = self._input(name)
        if "truth" not in inp:
            inp["truth"] = Counter(w for d in inp["docs"] for w in d.split())
            inp["pairs"] = sum(inp["truth"].values())
            inp["bytes"] = sum(len(d.encode("utf-8")) for d in inp["docs"])
        return inp

    # --------------------------------------------------------------- job

    def run_part(self, name: str, tr) -> dict:
        """One path from input to a complete result in the driver: its
        seconds and its output, still unchecked."""
        self._job_no += 1
        work = os.path.join(self.dir, f"job-{self._job_no}")
        os.makedirs(work)
        t0 = time.perf_counter()
        out = getattr(self, f"_{name}")(tr, work, self._input(name))
        return {"seconds": time.perf_counter() - t0, "out": out, "work": work,
                "traced": tr.enabled}

    def _run(self, tr, work, inp):
        spark = self.spark
        with tr.span("core.job.run"):
            job = Job(map_fn=row_words, reduce_fn=add, num_partitions=PARTITIONS)
            rdd = job.run(spark, spark.read.parquet(inp["parquet"]))
            return rdd.mapPartitionsWithIndex(_tag_partition).collect()

    def _run_arrow(self, tr, work, inp):
        spark = self.spark
        with tr.span("core.job.run_arrow"):
            job = Job(map_fn=text_words, reduce_fn=add, num_partitions=PARTITIONS)
            kv = job.run_arrow(spark, spark.read.parquet(inp["parquet"]))
            rows = kv.select(F.spark_partition_id().alias("p"), "k", "v").collect()
        return [(r.p, json.loads(r.k), json.loads(r.v)) for r in rows]

    def _reduce_by_key(self, tr, work, inp):
        spark = self.spark
        with tr.span("core.df_adapter.reduce_by_key"):
            pairs = spark.read.parquet(inp["parquet"]).select(
                F.explode(F.split("text", " ")).alias("word"),
                F.lit(1).cast("long").alias("n"),
            )
            rows = reduce_by_key(pairs, ["word"], {"n": add}).collect()
        return [(r.word, r.n) for r in rows]

    def _worker(self, tr, work, inp):
        spark = self.spark
        mapper = Mapper(
            WordCount(), spark, partitioner=self.placement, memory_limit=MEMORY_LIMIT,
        )
        with tr.span("core.compat.Mapper.map"):
            for doc in inp["docs"]:
                mapper.map(doc)
        spills = self._spill_sizes() if tr.enabled else None
        with tr.span("core.compat.Mapper.shuffle"):
            parts = mapper.shuffle(out_dir=os.path.join(work, "shuffle"))
        reduced = []
        for pid in sorted(parts):
            reducer = Reducer(WordCount(), spark)
            with tr.span("core.compat.Reducer.add_chunk"):
                shutil.copyfile(parts[pid], reducer.add_chunk())
            with tr.span("core.compat.Reducer.reduce"):
                reduced.append((pid, list(reducer.reduce())))
        return parts, reduced, spills

    def _handoff(self, tr, work, inp):
        spark = self.spark
        job = Job(map_fn=text_words, reduce_fn=add, num_partitions=PARTITIONS)
        with tr.span("core.job.shuffle_to_files"):
            files = job.shuffle_to_files(
                spark, spark.read.parquet(inp["parquet"]),
                os.path.join(work, "handoff"),
                shared_storage=True, via_arrow=True,
            )
        with tr.span("core.job.reduce_files"):
            rdd = Job.reduce_files(
                spark, [files[p] for p in sorted(files)], add,
                num_partitions=PARTITIONS,
            )
            rows = rdd.mapPartitionsWithIndex(_tag_partition).collect()
        return files, rows

    @staticmethod
    def _spill_sizes() -> list[tuple[int, int]]:
        """(bytes, lines) of each spill chunk the Mapper left in the temp
        dir; read in traced jobs only, before ``shuffle`` deletes them."""
        sizes = []
        for path in glob.glob(os.path.join(tempfile.gettempdir(), "mr_spill_*")):
            with open(path, "rb") as f:
                data = f.read()
            sizes.append((len(data), data.count(b"\n")))
        return sizes

    # ------------------------------------------------------------ checks

    def check(self, name: str, result: dict) -> list[str]:
        """Problems the output check of one path finds; in the traced run
        also the job's file counts. Deletes the job's files afterwards."""
        exp = self._expected(name)
        out = result["out"]
        if name == "reduce_by_key":
            got = dict(out)
            problems = ([] if len(got) == len(out) and got == exp["truth"]
                        else ["reduce_by_key: counts differ from the Counter"])
        elif name == "worker":
            problems = self._check_worker(exp["truth"], *out[:2])
        else:
            problems = self._check_keyed(
                name, exp["truth"], out[1] if name == "handoff" else out
            )
        if result["traced"] and name in ("worker", "handoff"):
            result["layer"] = self._layer_counts(name, exp, out)
        shutil.rmtree(result["work"])
        return problems

    def _check_worker(self, truth, parts, reduced) -> list[str]:
        problems = []
        placed = []
        for pid, path in parts.items():
            with open(path, encoding="utf-8") as f:
                keys = [json.loads(line)[0] for line in f]
            if keys != sorted(keys):
                problems.append(f"worker: partition file {pid} is not key-sorted")
            if any(self.placement(k) != pid for k in keys):
                problems.append(f"worker: partition file {pid} holds misplaced keys")
            placed += keys
        merged = [kv for _pid, kvs in reduced for kv in kvs]
        if len(placed) != len(truth) or dict(merged) != truth:
            problems.append("worker: reduced counts differ from the Counter")
        for pid, kvs in reduced:
            keys = [k for k, _v in kvs]
            if keys != sorted(keys):
                problems.append(f"worker: reducer {pid} output is not key-sorted")
        return problems

    def _check_keyed(self, name: str, truth, rows) -> list[str]:
        problems = []
        got = {k: v for _p, k, v in rows}
        if len(got) != len(rows) or got != truth:
            problems.append(f"{name}: counts differ from the Counter")
        bad = sum(1 for p, k, _v in rows if self.placement(k) != p)
        if bad:
            problems.append(f"{name}: {bad} keys off their SHA1 partition")
        return problems

    # ------------------------------------------------- traced-run counts

    def _layer_counts(self, name: str, exp: dict, out) -> dict[str, float]:
        """File counts and sizes of a traced worker or hand-off job; the
        write amplification is split across the two, so that the round's
        sum is spill + partition + chunk bytes per input byte."""
        if name == "handoff":
            files, _rows = out
            chunk_bytes = sum(os.path.getsize(p) for p in files.values())
            return {
                "sources.chunk_datasource.files": len(files),
                "sources.chunk_datasource.write_mb": chunk_bytes / 2**20,
                "worker.write_amp": chunk_bytes / exp["bytes"],
            }
        parts, _reduced, spills = out
        spill_bytes = sum(b for b, _n in spills)
        spill_lines = sum(n for _b, n in spills)
        part_bytes = sum(os.path.getsize(p) for p in parts.values())
        return {
            "core.compat.spill_files": len(spills),
            "core.compat.spill_mb": spill_bytes / 2**20,
            "core.compat.combine_ratio": exp["pairs"] / max(1, spill_lines),
            "core.compat.partition_mb": part_bytes / 2**20,
            "worker.write_amp": (spill_bytes + part_bytes) / exp["bytes"],
        }

    def derive(self, spans: dict[str, dict]) -> dict[str, float]:
        """Ratios that need the Spark counters of the job's spans."""
        arrow = spans.get("core.job.run_arrow", {})
        return {
            "core.job.run_arrow.shuffle_records_per_pair":
                arrow.get("shuffle_write_records", 0) / self._expected("run_arrow")["pairs"],
        }
