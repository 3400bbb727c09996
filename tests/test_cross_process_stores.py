"""Two-process stress for every persisted artifact store: a FRESH Spark
process running the standard build flow against a committed artifact must
ATTACH it (keep-winner), never rebuild over the live files a sibling's
readers hold plans on — the cross-process reader-kill observed and fixed
for the band index in round 8 (register_minhash_index docstring), pinned
here for ALL five stores sharing the artifact_store protocol.

Each test: the parent (this pytest session) builds the artifact and plans
a reader over it; a spawned child process — a real second SparkSession in
its own JVM — runs the SAME writer call a cold deployment worker would,
then reads. Asserts: every artifact file is mtime-untouched by the child,
the child's read agrees with the parent's, and the parent's PRE-SPAWN
reader still collects green afterwards (no files deleted under its plan).
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest
import sys
import tempfile

from map_reduce_ruby_spark.session import python_worker_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = """\
import sys; sys.path.insert(0, {repo!r})
import json
from map_reduce_ruby_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(app_name="xproc_child", shuffle_partitions=4)
print("SOCK_DIR " + spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
sf_dir = {sf_dir!r}
path = {path!r}
"""


def _mtimes(path: str) -> dict[str, float]:
    out = {}
    for root, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


def _run_child(body: str, sf_dir: str, path: str) -> str:
    """Run ``body`` in a real second Spark process; return its SUMMARY."""
    script = _PRELUDE.format(repo=REPO, sf_dir=sf_dir, path=path) + body
    fd, sp = tempfile.mkstemp(suffix="_xproc.py")
    os.write(fd, script.encode())
    os.close(fd)
    try:
        out = subprocess.run(
            [sys.executable, sp], capture_output=True, text=True, timeout=420
        )
    finally:
        os.remove(sp)
    assert out.returncode == 0, out.stderr[-3000:]
    (sock_dir,) = [l[len("SOCK_DIR "):] for l in out.stdout.splitlines() if l.startswith("SOCK_DIR ")]
    # each session gets its own socket dir, removed when its process exits
    assert sock_dir != python_worker_confs("local[4]")["spark.python.unix.domain.socket.dir"]
    assert not os.path.exists(sock_dir)
    lines = [l for l in out.stdout.splitlines() if l.startswith("SUMMARY ")]
    assert len(lines) == 1, out.stdout
    return lines[0][len("SUMMARY "):]


def test_band_index_second_process_attaches(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.dedup_index import (
        dedup_against_index,
        write_minhash_index,
    )
    from map_reduce_ruby_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 >= 2)
    probe = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "mh")
    write_minhash_index(corpus, "xp_mh_parent", path)
    reader = dedup_against_index(spark, probe, "xp_mh_parent")  # pre-spawn plan
    want = sorted(map(list, reader.collect()))
    mt = _mtimes(path)

    got = _run_child(
        """
from map_reduce_ruby_spark.operators.dedup_index import (
    dedup_against_index, write_minhash_index,
)
docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
corpus = docs.filter(F.col("doc_id") % 5 >= 2)
probe = docs.filter(F.col("doc_id") % 5 == 0)
write_minhash_index(corpus, "xp_mh_child", path)  # must keep-winner attach
rows = sorted(map(list, dedup_against_index(spark, probe, "xp_mh_child").collect()))
print("SUMMARY " + json.dumps(rows))
""",
        sf_dir,
        path,
    )
    assert _mtimes(path) == mt, "child rewrote the live band index"
    assert json.loads(got) == want
    assert sorted(map(list, reader.collect())) == want  # pre-spawn plan green
    spark.sql("DROP TABLE xp_mh_parent")


@pytest.mark.slow
def test_nb_model_second_process_attaches(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.nb_store import (
        load_nb_model,
        write_nb_model,
    )
    from map_reduce_ruby_spark.plans.dsir_queries import (
        gram_buckets_for,
        nb_scores_from_model,
    )
    from map_reduce_ruby_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 5 >= 2)
    probe = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "nb")
    write_nb_model(spark, train, path, 64)
    counts, class_docs, _meta = load_nb_model(spark, path)
    scores = nb_scores_from_model(gram_buckets_for(probe), counts, class_docs)
    want = sorted(map(list, scores.select("doc_id", "pred").collect()))
    mt = _mtimes(path)

    got = _run_child(
        """
from map_reduce_ruby_spark.operators.nb_store import load_nb_model, write_nb_model
from map_reduce_ruby_spark.plans.dsir_queries import (
    gram_buckets_for, nb_scores_from_model,
)
docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
    "doc_id", "lang", "text")
train = docs.filter(F.col("doc_id") % 5 >= 2)
probe = docs.filter(F.col("doc_id") % 5 == 0)
write_nb_model(spark, train, path, 64)  # must keep-winner attach
counts, class_docs, _meta = load_nb_model(spark, path)
rows = sorted(map(list, nb_scores_from_model(
    gram_buckets_for(probe), counts, class_docs
).select("doc_id", "pred").collect()))
print("SUMMARY " + json.dumps(rows))
""",
        sf_dir,
        path,
    )
    assert _mtimes(path) == mt, "child rewrote the live NB model"
    assert json.loads(got) == want
    assert (
        sorted(map(list, scores.select("doc_id", "pred").collect())) == want
    )


@pytest.mark.slow
def test_bm25_index_second_process_attaches(spark, sf_dir, tmp_path):
    from map_reduce_ruby_spark.operators.text_index import (
        load_bm25_postings,
        write_bm25_index,
    )
    from map_reduce_ruby_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25")
    write_bm25_index(spark, docs, path)
    postings, meta = load_bm25_postings(spark, path)
    want = [postings.count(), int(meta["n_docs"]), int(meta["total_len"])]
    mt = _mtimes(path)

    got = _run_child(
        """
from map_reduce_ruby_spark.operators.text_index import (
    load_bm25_postings, write_bm25_index,
)
docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
write_bm25_index(spark, docs, path)  # must keep-winner attach
postings, meta = load_bm25_postings(spark, path)
print("SUMMARY " + json.dumps(
    [postings.count(), int(meta["n_docs"]), int(meta["total_len"])]))
""",
        sf_dir,
        path,
    )
    assert _mtimes(path) == mt, "child rewrote the live BM25 index"
    assert json.loads(got) == want
    assert load_bm25_postings(spark, path)[0].count() == want[0]


@pytest.mark.slow
def test_ivf_index_second_process_attaches(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.ann_index import (
        load_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(spark, v, path, k=4)
    cells, centroids = load_ivf_index(spark, path)
    want = [cells.count(), centroids]
    mt = _mtimes(path)

    got = _run_child(
        """
from map_reduce_ruby_spark.operators.ann_index import (
    load_ivf_index, write_ivf_index,
)
emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
v = emb.select(
    F.col("vec_id").alias("id"),
    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
)
write_ivf_index(spark, v, path, k=4)  # must keep-winner attach
cells, centroids = load_ivf_index(spark, path)
print("SUMMARY " + json.dumps([cells.count(), centroids]))
""",
        sf_dir,
        path,
    )
    assert _mtimes(path) == mt, "child rewrote the live IVF index"
    assert json.loads(got) == want
    assert load_ivf_index(spark, path)[0].count() == want[0]


@pytest.mark.slow
def test_bucketed_table_second_process_attaches(spark, sf_dir, tmp_path):
    """The bucketed-table store (operators/bucketing.py): a second process
    running the standard write_bucketed against committed paths must
    keep-winner attach from the sidecar, and the co-located join must stay
    Exchange-free in BOTH processes (same bucket placement, no re-shuffle)."""
    from pyspark.sql import functions as F

    from map_reduce_ruby_spark.operators.bucketing import write_bucketed
    from map_reduce_ruby_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    base = str(tmp_path / "bkt")
    os.makedirs(base)
    write_bucketed(orders, "xp_orders_b", "o_orderkey", 8, os.path.join(base, "o"))
    write_bucketed(
        lineitem, "xp_lineitem_b", "l_orderkey", 8, os.path.join(base, "l")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("xp_lineitem_b").join(
            spark.table("xp_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        want = joined.count()  # pre-spawn plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        mt = _mtimes(base)

        got = _run_child(
            """
import os
from map_reduce_ruby_spark.operators.bucketing import write_bucketed
orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
write_bucketed(orders, "xp_orders_c", "o_orderkey", 8, os.path.join(path, "o"))
write_bucketed(
    lineitem, "xp_lineitem_c", "l_orderkey", 8, os.path.join(path, "l"))
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
j = spark.table("xp_lineitem_c").join(
    spark.table("xp_orders_c"), F.col("l_orderkey") == F.col("o_orderkey"))
n = j.count()
plan = j._jdf.queryExecution().executedPlan().toString()
print("SUMMARY " + json.dumps(
    [n, "Exchange" not in plan, "Bucketed: true" in plan]))
""",
            sf_dir,
            base,
        )
        assert _mtimes(base) == mt, "child rewrote the live bucketed tables"
        n, no_exchange, bucketed_scan = json.loads(got)
        assert n == want
        assert no_exchange, "child's co-located join re-shuffled"
        assert bucketed_scan, "child's scan lost the bucket layout"
        assert joined.count() == want  # pre-spawn plan still green
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS xp_orders_b")
        spark.sql("DROP TABLE IF EXISTS xp_lineitem_b")


@pytest.mark.slow
def test_bpe_tokenizer_second_process_attaches(spark, sf_dir, tmp_path):
    from map_reduce_ruby_spark.operators.tokenizer_store import (
        load_bpe_tokenizer,
        write_bpe_tokenizer,
    )
    from map_reduce_ruby_spark.plans.text_queries import _BPE_STEPS, _bpe_learn
    from map_reduce_ruby_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bpe")
    merges, vocab = _bpe_learn(spark, docs, return_tokens=True)
    write_bpe_tokenizer(merges, vocab, path, steps=_BPE_STEPS)
    m, _v = load_bpe_tokenizer(spark, path, steps=_BPE_STEPS)
    want = sorted(map(list, m.collect()))
    mt = _mtimes(path)

    got = _run_child(
        """
from map_reduce_ruby_spark.operators.tokenizer_store import (
    load_bpe_tokenizer, write_bpe_tokenizer,
)
from map_reduce_ruby_spark.plans.text_queries import _BPE_STEPS, _bpe_learn
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
merges, vocab = _bpe_learn(spark, docs, return_tokens=True)
write_bpe_tokenizer(merges, vocab, path, steps=_BPE_STEPS)  # keep-winner
m, _v = load_bpe_tokenizer(spark, path, steps=_BPE_STEPS)
print("SUMMARY " + json.dumps(sorted(map(list, m.collect()))))
""",
        sf_dir,
        path,
    )
    assert _mtimes(path) == mt, "child rewrote the live tokenizer"
    assert json.loads(got) == want
    assert sorted(map(list, load_bpe_tokenizer(spark, path, steps=_BPE_STEPS)[0].collect())) == want
