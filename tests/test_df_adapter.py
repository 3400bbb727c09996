"""DataFrame adapter: fast-path plan purity, custom-fold semantics, errors."""

from __future__ import annotations

import os
import subprocess
import sys
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from map_reduce_ruby_spark.core import pairs_df, reduce_by_key


def test_fastpath_plan_has_no_python(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", F.lit(1).cast("long").alias("n")
    )
    out = reduce_by_key(li, keys=["l_returnflag"], values={"n": "sum"})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "FlatMapGroupsIn" not in plan, plan


def test_custom_fold_uses_arrow_group_path(spark):
    df = spark.createDataFrame([("a", 1), ("a", 5), ("b", 2)], ["k", "v"])
    out = reduce_by_key(df, keys=["k"], values={"v": lambda key, a, b: a * 10 + b})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan, plan
    got = {r.k: r.v for r in out.collect()}
    assert got["b"] == 2
    # pairwise left-to-right within the group: 1*10+5 or 5*10+1 depending on
    # arrival order — both encode "fold actually ran" for this non-commutative
    # probe; real folds must be associative+commutative per the contract.
    assert got["a"] in (15, 51)


def test_mixed_primitive_and_custom(spark):
    df = spark.createDataFrame([("a", 1, 1), ("a", 5, 1)], ["k", "v", "n"])
    out = reduce_by_key(df, keys=["k"], values={"v": lambda k, a, b: max(a, b), "n": "sum"})
    (row,) = out.collect()
    assert (row.v, row.n) == (5, 2)


def test_core_import_leaves_pandas_out():
    # every Python worker that unpickles a core closure imports this package
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "import sys, map_reduce_ruby_spark.core; print('pandas' in sys.modules)"
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "False"


def test_unknown_primitive_raises(spark):
    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    with pytest.raises(ValueError, match="unknown primitive"):
        reduce_by_key(df, keys=["k"], values={"v": "median"})


def test_pairs_df_struct_view(spark):
    df = spark.createDataFrame([("a", "F", 3.0)], ["flag", "status", "qty"])
    out = pairs_df(df, key_cols=["flag", "status"], value_cols=["qty"])
    assert out.columns == ["key", "value"]
    (row,) = out.collect()
    assert (row.key.flag, row.key.status, row.value.qty) == ("a", "F", 3.0)


@contextmanager
def _arrow_batch_rows(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_group_spanning_batches_folds_like_python(spark):
    def union(key, a, b):
        # associative and commutative, and it keeps every element: a value
        # lost or repeated at a batch boundary shows in the result
        return sorted(a + b)

    rows = [("a", [i]) for i in range(11)] + [("b", [100 + i]) for i in range(5)] + [("c", [7])]
    df = spark.createDataFrame(rows, "k string, v array<long>").repartition(3)
    expected = {}
    for k, v in rows:
        expected[k] = union(k, expected[k], v) if k in expected else v
    with _arrow_batch_rows(spark, 2):
        got = {r.k: r.v for r in reduce_by_key(df, ["k"], {"v": union}).collect()}
    assert got == expected


def test_nan_signed_zero_and_null_keys_group_as_in_group_by(spark):
    keys = [float("nan"), float("nan"), -0.0, 0.0, None, None, 1.5]
    df = spark.createDataFrame([(k, 1) for k in keys], "k double, n long")

    def groups(out):
        return sorted((repr(r.k).replace("-0.0", "0.0"), r.n) for r in out.collect())

    with _arrow_batch_rows(spark, 1):
        got = groups(reduce_by_key(df, ["k"], {"n": lambda k, a, b: a + b}))
    assert got == groups(df.groupBy("k").agg(F.sum("n").alias("n")))
    assert got == [("0.0", 2), ("1.5", 1), ("None", 2), ("nan", 2)]


def test_composite_key_reaches_fold_as_plain_python_tuple(spark):
    df = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 1, 3.0), ("b", 2, 4.0)], "s string, i long, v double"
    )

    def fold(key, a, b):
        # runs in the Python worker: a failed check fails the job
        assert type(key) is tuple and [type(k) for k in key] == [str, int], key
        return a + b

    got = {(r.s, r.i): r.v for r in reduce_by_key(df, ["s", "i"], {"v": fold}).collect()}
    assert got == {("a", 1): 5.0, ("b", 2): 4.0}


def test_mixed_primitives_match_fast_path_with_nulls(spark):
    rows = [("a", 1, 3), ("a", None, 3), ("a", 5, 3), ("b", None, None), ("b", None, None),
            ("c", 7, 9), ("c", -2, 9), ("c", None, 9), ("c", 4, 9)]
    df = spark.createDataFrame(rows, "k string, x long, y long").withColumn("z", F.lit(1))
    prims = {"x": "sum", "x_min": "min", "x_max": "max", "x_n": "count", "y": "any"}
    df = df.select("k", "x", "y", "z", *[F.col("x").alias(c) for c in ("x_min", "x_max", "x_n")])
    fast = {r.k: r.asDict() for r in reduce_by_key(df, ["k"], prims).collect()}
    with _arrow_batch_rows(spark, 2):
        mixed = reduce_by_key(df, ["k"], {**prims, "z": lambda k, a, b: a + b}).collect()
    got = {r.k: {c: v for c, v in r.asDict().items() if c != "z"} for r in mixed}
    assert got == fast
    assert fast["b"] == {"k": "b", "x": None, "x_min": None, "x_max": None, "x_n": 0, "y": None}
    assert {r.k: r.z for r in mixed} == {"a": 3, "b": 2, "c": 4}


def test_custom_fold_sees_null_as_none(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", None), ("a", 2.0)], "k string, v double")

    def fold(key, a, b):
        # the one NULL meets the fold exactly once, whatever the row order;
        # a NaN stand-in for it would make the result NaN
        nulls = (a is None) + (b is None)
        return (a or 0.0) + (b or 0.0) + 100.0 * nulls

    (row,) = reduce_by_key(df, ["k"], {"v": fold}).collect()
    assert row.v == 103.0


def test_mixed_call_primitive_types_equal_fast_path_schema(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.5, "x", 1), ("a", 2, 2.5, "y", 2), ("b", None, None, None, 3)],
        "k string, i int, d double, s string, v long",
    )
    prims = {f"{c}_{f}": f for c in ("i", "d", "s") for f in ("sum", "min", "max", "count", "any")}
    df = df.select("k", "v", *[F.col(c.split("_")[0]).alias(c) for c in prims])
    fast = reduce_by_key(df, ["k"], prims).schema
    mixed = reduce_by_key(df, ["k"], {**prims, "v": lambda k, a, b: a + b}).schema
    assert [f for f in mixed.fields if f.name != "v"] == fast.fields
    assert mixed["i_sum"].dataType.simpleString() == "bigint"


def test_count_of_string_column_runs_beside_a_custom_fold(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", None, 2), ("a", "y", 3), ("b", "z", 4)], "k string, s string, v long"
    )
    out = reduce_by_key(df, ["k"], {"s": "count", "v": lambda k, a, b: a + b})
    assert out.schema["s"].dataType.simpleString() == "bigint"
    assert sorted((r.k, r.s, r.v) for r in out.collect()) == [("a", 2, 6), ("b", 1, 4)]


def test_min_max_rank_nan_as_spark_on_both_paths(spark):
    nan = float("nan")
    rows = [("a", 1.5), ("a", nan), ("b", nan), ("b", nan), ("c", nan), ("c", None),
            ("d", -1.0), ("d", 2.0), ("e", None), ("f", float("inf")), ("f", nan)]
    df = spark.createDataFrame(rows, "k string, d double").select(
        "k", F.col("d").alias("lo"), F.col("d").alias("hi"), F.lit(1).alias("n"))
    prims = {"lo": "min", "hi": "max"}

    def groups(out):
        # repr: NaN equals NaN
        return {r.k: (repr(r.lo), repr(r.hi)) for r in out.collect()}

    fast = groups(reduce_by_key(df, ["k"], prims))
    with _arrow_batch_rows(spark, 1):
        mixed = groups(reduce_by_key(df.repartition(3), ["k"], {**prims, "n": lambda k, a, b: a + b}))
    assert mixed == fast
    assert fast == {"a": ("1.5", "nan"), "b": ("nan", "nan"), "c": ("nan", "nan"),
                    "d": ("-1.0", "2.0"), "e": ("None", "None"), "f": ("inf", "nan")}
