"""The schema memo of ``sources/tables.load_table``: a warm load runs no
Spark job, and each part of the memo's key (the table's files, the parquet
inference confs, the session) turns a changed input into a miss that a
memo keyed on the path alone would not see.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from map_reduce_ruby_spark.sources import load_table


def _write(sf_dir, columns: dict) -> str:
    path = os.path.join(str(sf_dir), "region.parquet")
    pq.write_table(pa.table(columns), path)
    return path


def test_warm_load_runs_no_job_and_a_touched_file_is_a_miss(spark, tmp_path, count_jobs):
    path = _write(tmp_path, {"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    _, cold = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    df, warm = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert cold >= 1  # schema inference
    assert warm == 0
    assert sorted(r.r_regionkey for r in df.collect()) == [0, 1]
    # same bytes, a later mtime: the fingerprint changes, so inference reruns
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    _, touched = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    assert touched >= 1


def test_table_rewritten_in_place_with_an_added_column_is_seen(spark, tmp_path):
    _write(tmp_path, {"r_regionkey": [0, 1]})
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    _write(tmp_path, {"r_regionkey": [0, 1], "r_comment": ["x", "y"]})
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def test_binary_as_string_conf_changes_the_loaded_type(spark, tmp_path):
    _write(tmp_path, {"r_name": pa.array([b"A", b"B"], pa.binary())})
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dict(load_table(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "region")
        assert dict(df.dtypes)["r_name"] == "string"
        assert sorted(r.r_name for r in df.collect()) == ["A", "B"]
    finally:
        spark.conf.set(conf, before)


def test_second_session_misses_the_memo(spark, tmp_path, count_jobs):
    _write(tmp_path, {"r_regionkey": [0, 1]})
    load_table(spark, str(tmp_path), "region")
    _, warm = count_jobs(lambda: load_table(spark, str(tmp_path), "region"))
    other = spark.newSession()
    df, other_jobs = count_jobs(lambda: load_table(other, str(tmp_path), "region"))
    assert warm == 0
    assert other_jobs >= 1
    assert df.sparkSession is other


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "region")
