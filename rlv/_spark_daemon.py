"""Spark's Python daemon for rlv sessions (``spark.python.daemon.module``).

Every Python task starts with ``importlib.invalidate_caches()``, which makes
each ``zipimporter`` on the worker's path re-read its archive's directory:
Spark's ``pyspark.zip``, its py4j zip and the spark-core jar, ~16 importers
and ~0.2 s of a core per task.  Those archives never change while Spark
runs, so their importers here skip that re-read; every other archive (a
``--py-files``/``addPyFile`` zip) keeps the stock invalidation.  The patch
is made in the daemon before it forks, so every worker inherits it from
its first task on.  Only the standard library is imported before the fork.
"""

import os
import runpy
import zipimport

_home = os.environ.get("SPARK_HOME")
_SPARK_DIRS = frozenset(
    os.path.join(os.path.realpath(_home), *d)
    for d in (("python", "lib"), ("jars",))
) if _home else frozenset()
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    if os.path.dirname(os.path.realpath(self.archive)) not in _SPARK_DIRS:
        _stock_invalidate(self)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__")
