"""materialize.truncate: the one lineage-truncation implementation.

Pins the three properties the round-11 rewrite relies on:
- lazy truncate returns a LogicalRDD-leaf plan (same truncation as eager —
  the plan-shape evidence in plans/r11 depends on this);
- results are identical to the raw plan, eager and lazy;
- with SPARK_GRAFT_CHECKPOINT_DIR set, truncation goes through RELIABLE
  checkpoint() (files under the dir — survives executor loss on a real
  cluster), computes each row once, and an iterative consumer
  (connected_components) still produces identical results.
"""

from __future__ import annotations

import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from map_reduce_ruby_spark.materialize import _CHECKPOINT_DIR_ENV, truncate


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_lazy_truncate_is_a_leaf_and_preserves_rows(spark):
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).groupBy("k").agg(F.sum("id").alias("s"))
    t = truncate(base)  # lazy
    # the returned frame's plan is a scan of an existing RDD, not the agg
    assert "LogicalRDD" in _plan(t)
    assert "Aggregate" not in _plan(t)
    # no job has run yet at this point (lazy); consuming it fuses the
    # materialization and both consumers agree with the raw plan
    expect = {(r.k, r.s) for r in base.collect()}
    got = {(r.k, r.s) for r in t.collect()}
    assert got == expect


def test_eager_truncate_matches_lazy(spark):
    base = spark.range(50).select((F.col("id") * 2).alias("v"))
    assert sorted(r.v for r in truncate(base, eager=True).collect()) == sorted(
        r.v for r in truncate(base).collect()
    )


def test_reliable_checkpoint_knob(spark, tmp_path, monkeypatch):
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv(_CHECKPOINT_DIR_ENV, ckdir)
    base = spark.range(20).select(F.col("id"), (F.col("id") % 3).alias("k"))
    t = truncate(base, eager=True)
    assert sorted((r.id, r.k) for r in t.collect()) == sorted(
        (r.id, r.k) for r in base.collect()
    )
    # the checkpoint landed under the durable dir, not executor-local blocks
    found = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(ckdir)
        for f in fn
    ]
    assert found, "reliable checkpoint wrote no files under the durable dir"


def test_reliable_checkpoint_computes_each_row_once(spark, tmp_path, monkeypatch):
    """Under the durability knob the checkpoint files are written from a
    transient persist, so each row of a site is computed once, lazy or
    eager — not once for the consumer and again for the checkpoint write."""
    monkeypatch.setenv(_CHECKPOINT_DIR_ENV, str(tmp_path / "ck_once"))
    for eager in (False, True):
        acc = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def counted(x):
            acc.add(1)
            return x

        base = spark.range(0, 20, 1, 2).select(counted("id").alias("id"))
        t = truncate(base, eager=eager)
        assert sorted(r.id for r in t.collect()) == list(range(20))
        assert acc.value == 20, (eager, acc.value)
        assert base.storageLevel == StorageLevel.NONE  # transient cache dropped


def test_cc_identical_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """A CC entry (the iterative consumer the durability knob exists for)
    computes the identical clustering with durable checkpoints on."""
    from map_reduce_ruby_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (3, 1)], "src long, dst long"
    )
    baseline = sorted(
        (r.node, r.component)
        for r in connected_components(edges).collect()
    )
    monkeypatch.setenv(_CHECKPOINT_DIR_ENV, str(tmp_path / "ck2"))
    durable = sorted(
        (r.node, r.component)
        for r in connected_components(edges).collect()
    )
    assert durable == baseline == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    ]


@pytest.fixture(autouse=True)
def _reset_checkpoint_dir(spark):
    """Leave no checkpoint dir bound on the shared session after knob tests
    (setCheckpointDir is sticky on the SparkContext)."""
    yield
    # other suites never read it, but keep the context's setting harmless:
    # localCheckpoint path ignores it entirely when the env var is unset
