"""The package's Python worker daemon (``_worker_daemon``): zip archives are
re-read before a task only when they changed, and workers still see files
added with ``addPyFile`` and import the package from any cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

from map_reduce_ruby_spark import _worker_daemon
from map_reduce_ruby_spark.session import python_worker_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, name: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:  # truncates: same inode
        z.writestr(f"{name}.py", body)


def test_wrapper_rereads_only_changed_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker_daemon.invalidate_changed)
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    name = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(name).VALUE == 1
        importlib.invalidate_caches()  # first call reads: the importer's stamp
        inode = os.stat(archive).st_ino
        reads.clear()

        importlib.invalidate_caches()
        assert archive not in reads  # unchanged: not re-read

        del sys.modules[name]
        _write_zip(archive, name, "VALUE = 22\n")
        assert os.stat(archive).st_ino == inode
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(name).VALUE == 22
    finally:
        sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_non_local_master_keeps_stock_daemon():
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert python_worker_confs(master) == {}
    confs = python_worker_confs("local[4]")
    assert confs["spark.python.daemon.module"] == "map_reduce_ruby_spark._worker_daemon"
    pkg = os.path.join(confs["spark.executorEnv.PYTHONPATH"], "map_reduce_ruby_spark")
    assert os.path.isfile(os.path.join(pkg, "_worker_daemon.py"))


def test_add_py_file_after_warm_job(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "map_reduce_ruby_spark._worker_daemon"
    assert sc.parallelize(range(8), 4).map(lambda x: x + 1).sum() == 36  # warm workers

    tag = uuid.uuid4().hex
    py_name, zip_name = f"added_py_{tag}", f"added_zip_{tag}"
    py_path = tmp_path / f"{py_name}.py"
    py_path.write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / f"{zip_name}.zip", zip_name, "VALUE = 'zip'\n")
    sc.addPyFile(str(py_path))
    sc.addPyFile(str(tmp_path / f"{zip_name}.zip"))

    def probe(_):
        return importlib.import_module(py_name).VALUE + importlib.import_module(zip_name).VALUE

    assert set(sc.parallelize(range(4), 4).map(probe).collect()) == {"pyzip"}


def test_session_from_outside_checkout(tmp_path):
    script = textwrap.dedent(f"""\
        import sys; sys.path.insert(0, {REPO!r})
        from map_reduce_ruby_spark.session import get_spark
        spark = get_spark(app_name="outside_cwd", shuffle_partitions=2)

        def part(key):
            from map_reduce_ruby_spark.core.partitioner import HashPartitioner
            return HashPartitioner(4)(key)

        got = spark.sparkContext.parallelize(["a", "b", "c"], 2).map(part).collect()
        from map_reduce_ruby_spark.core.partitioner import HashPartitioner
        print("RESULT", got == [HashPartitioner(4)(k) for k in "abc"])
        spark.stop()
        """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "RESULT True" in out.stdout.splitlines()
