"""Spark Python worker module that stops each task re-reading Spark's archives.

Every Python task's preamble (`pyspark.worker_util.setup_spark_files`)
calls `importlib.invalidate_caches()`, and each `zipimport.zipimporter`
answers that by re-reading its archive's whole central directory. The
worker imports pyspark from Spark's pyspark.zip (and classes from the Spark
core jar), so `sys.path_importer_cache` holds one zipimporter per imported
pyspark subpackage: the re-reads cost ~0.1-0.2 s at the start of every task.

The archives that are on the worker's import path when the daemon starts
(pyspark.zip, the py4j zip, the Spark jar) do not change while the JVM
lives, so their importers here skip the re-read. Archives shipped later
(`addPyFile`, `--py-files`) keep a stock zipimporter and its re-read.

The name starts with `pyspark` because the stock daemon only honours a
`spark.python.worker.module` whose name does; the daemon imports this
module once, before it forks workers.
"""

import os
import runpy
import sys
import zipimport

_FIXED = frozenset(p for p in sys.path if os.path.isfile(p))


class _FixedArchiveImporter(zipimport.zipimporter):
    """A zipimporter of an archive that does not change while the JVM lives."""

    def invalidate_caches(self):
        pass


def _path_hook(path):
    importer = zipimport.zipimporter(path)
    if importer.archive in _FIXED:
        return _FixedArchiveImporter(path)
    return importer


sys.path_hooks[:] = [_path_hook if h is zipimport.zipimporter else h
                     for h in sys.path_hooks]
for _path, _importer in list(sys.path_importer_cache.items()):
    if type(_importer) is zipimport.zipimporter and _importer.archive in _FIXED:
        sys.path_importer_cache[_path] = _FixedArchiveImporter(_path)

if __name__ == "__main__":  # spark.python.use.daemon=false
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401
