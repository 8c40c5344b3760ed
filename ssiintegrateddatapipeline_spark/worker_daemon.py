"""PySpark worker daemon that does not re-read zip archives on every task.

``session.get_spark`` sets Spark's ``spark.python.daemon.module`` to this
module on local masters. It runs ``pyspark.daemon.manager()`` unchanged, after
making ``zipimport.zipimporter.invalidate_caches`` a no-op; the forked workers
inherit that. As a submodule it first runs the package ``__init__``, so the
daemon (and each forked worker) also has ``caches``, ``session`` and
``pyspark.sql`` loaded, and ``session``'s import-time ``PYTHONPATH`` export
has run; pandas and pyarrow are not loaded.

Why: every Python task (pandas UDF, ``mapInPandas``, Python data-source read)
starts in ``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that makes each
cached ``zipimporter`` re-parse its archive's whole central directory in pure
Python. Workers import pyspark from ``pyspark.zip`` (1,328 entries), so their
importer cache holds 16 zip importers: 13 for ``pyspark.zip`` (one per
package), 2 for the spark-core jar (5,359 entries) and 1 for the py4j zip.
Re-reading them held each Python node of each task for 0.14-0.22 s before its
first row (4 cores, CPython 3.11.7, Spark 4.1). CPython 3.13 only drops the
cached directory and reads it again lazily, so there the no-op saves less.

Why it is safe: Spark does not rewrite an archive in place while workers
run. A zip shipped with ``addPyFile`` gets its own path on ``sys.path`` and so
a new importer that reads it fresh. Directory finders (the SparkFiles
directory, where shipped ``.py`` files land) keep their invalidation.
"""

from __future__ import annotations

import zipimport


def main() -> None:
    zipimport.zipimporter.invalidate_caches = lambda self: None
    # pyspark.daemon picks the worker module from sys.argv when imported
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
