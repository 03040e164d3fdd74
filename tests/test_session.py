"""The session's Python worker module: Spark's own archives are frozen in
every task, archives shipped later are not, and the workers still run
under the stock daemon."""

import os
import uuid
import zipfile

from osmspark.session import _WORKER_PATH, session_conf


def _in_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).map(lambda _: fn()).collect()[0]


def _zip_importers():
    import sys
    import zipimport

    return [(os.path.basename(v.archive), type(v).__name__,
             type(v) is zipimport.zipimporter)
            for v in list(sys.path_importer_cache.values())
            if isinstance(v, zipimport.zipimporter)]


def _is_spark_archive(name):
    return name == "pyspark.zip" or (
        name.startswith("spark-core") and name.endswith(".jar"))


def test_spark_archives_frozen_in_task(spark):
    spark_entries = [(name, cls) for name, cls, _ in _in_task(spark, _zip_importers)
                     if _is_spark_archive(name)]
    names = {name for name, _ in spark_entries}
    assert "pyspark.zip" in names, spark_entries
    assert any(n.endswith(".jar") for n in names), spark_entries
    assert {cls for _, cls in spark_entries} == {"_FixedArchiveImporter"}


def test_worker_runs_under_stock_daemon(spark):
    def cmdline():
        with open("/proc/self/cmdline", "rb") as f:
            return f.read()

    cmd = _in_task(spark, cmdline)
    # perfbench's RSS sampler finds the workers by this name
    assert b"pyspark.daemon" in cmd, cmd
    assert b"pyspark_osmspark_worker" in cmd, cmd


def test_added_py_file_keeps_stock_importer(spark, tmp_path):
    mod = f"osmspark_added_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe():
        import importlib

        value = importlib.import_module(mod).VALUE
        return value, [e for e in _zip_importers() if e[0] == archive.name]

    value, entries = _in_task(spark, probe)
    assert value == 42
    assert entries, "the added archive was not imported through a zipimporter"
    assert all(stock for _, _, stock in entries), entries


def test_caller_pythonpath_is_merged():
    key = "spark.executorEnv.PYTHONPATH"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf = session_conf(extra_conf={key: os.pathsep.join(["/a", root, "/b"])})
    assert conf[key].split(os.pathsep) == _WORKER_PATH + ["/a", "/b"]
    assert _WORKER_PATH[1] == root
    assert session_conf()[key].split(os.pathsep) == _WORKER_PATH
    assert conf["spark.python.worker.module"] == "pyspark_osmspark_worker"
