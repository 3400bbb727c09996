"""The package's Python worker daemon (``_worker_daemon``): zip archives are
re-read before a task only when they changed, and workers still see files
added with ``addPyFile`` and import the package from any cwd. Local sessions
talk to their Python workers over Unix domain sockets in a private
directory, whatever the length of the temp dir's path."""

from __future__ import annotations

import importlib
import os
import stat
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

from pyspark.sql.datasource import DataSource

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
    assert confs["spark.python.unix.domain.socket.enabled"] == "true"
    sock_dir = confs["spark.python.unix.domain.socket.dir"]
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
    assert len(os.fsencode(sock_dir)) + 43 <= 107  # "/.<uuid4>.sock" fits sun_path
    assert python_worker_confs("local[2]")["spark.python.unix.domain.socket.dir"] == sock_dir


def test_python_workers_use_unix_sockets(spark):
    def uds_env(_=None):  # local: pickled by value, the workers can't import tests/
        return os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower(), os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR")

    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    assert sock_dir == python_worker_confs("local[4]")["spark.python.unix.domain.socket.dir"]
    assert set(spark.sparkContext.parallelize(range(4), 4).map(uds_env).collect()) == {("true", sock_dir)}

    class UdsProbe(DataSource):  # schema() runs in a data source planner worker
        @classmethod
        def name(cls):
            return "uds_probe"

        def schema(self):
            enabled, worker_dir = uds_env()
            return f"uds_{enabled}_{worker_dir == sock_dir} int"

    spark.dataSource.register(UdsProbe)
    assert spark.read.format("uds_probe").load().columns == ["uds_true_True"]


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


def test_session_with_long_tmpdir(tmp_path):
    # pyspark would put its sockets at "<java.io.tmpdir>/.<uuid4>.sock",
    # past the 107-byte sun_path cap; the engine's socket dir must not be
    # derived from either temp dir here.
    long_tmp = tmp_path / ("t" * max(1, 121 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 120
    script = textwrap.dedent(f"""\
        import os, sys; sys.path.insert(0, {REPO!r})
        from map_reduce_ruby_spark.session import get_spark
        spark = get_spark(app_name="long_tmpdir", shuffle_partitions=2)
        sc = spark.sparkContext
        print("JVM_TMP", sc._jvm.java.lang.System.getProperty("java.io.tmpdir"))
        sock_dir = sc.getConf().get("spark.python.unix.domain.socket.dir")
        print("SOCK_DIR", sock_dir)
        acc = sc.accumulator(0)
        sc.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
        print("ACC", acc.value)
        print("RDD", sc.parallelize(range(6), 2).map(lambda x: x * x).collect())
        print("ARROW", sorted(r.id for r in spark.range(5).mapInArrow(lambda it: it, "id long").collect()))
        spark.stop()
        print("LEFT", [f for f in os.listdir(sock_dir) if f.endswith(".sock")])
        """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=str(long_tmp), SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={long_tmp}",
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert got["JVM_TMP"] == str(long_tmp)
    assert len(os.fsencode(got["SOCK_DIR"])) + 43 <= 107
    assert (got["ACC"], got["RDD"], got["ARROW"]) == ("45", "[0, 1, 4, 9, 16, 25]", "[0, 1, 2, 3, 4]")
    assert got["LEFT"] == "[]"
    assert not os.path.exists(got["SOCK_DIR"])  # removed at exit
