"""Python daemon for the engine's UDF workers: PySpark's stock daemon with
zip-directory re-reads switched off.

Before each task a reused worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes every
cached ``zipimporter`` re-read its whole zip directory: ``pyspark.zip`` and
its subpackages, the py4j zip, the spark-core jar and the package zip, 17 of
them per worker: 0.2-0.4 s per task before the kernel runs, measured on a
4-vCPU box (PySpark 4.1, Python 3.11).

The no-op is safe. A zip never changes under a live worker: Spark refuses to
re-register a path with other content. A zip added later by ``addPyFile`` has
no entry in ``sys.path_importer_cache``, so its first import builds a fresh
importer that reads its directory. Directory entries on ``sys.path`` are
still invalidated as before.

Running this module as ``python -m fusets_spark.worker_boot`` imports the
package's ``__init__`` into the daemon. It is dropped again before the
workers fork, so they import the package from wherever the stock daemon's
workers would: the working directory, a shipped zip or the path.

``session.get_spark`` selects this module through ``spark.python.daemon.module``.
"""

import sys
import zipimport

import pyspark.daemon

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    del sys.modules["fusets_spark"]
    pyspark.daemon.manager()
