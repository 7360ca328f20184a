"""Python daemon for the engine's UDF workers: PySpark's stock daemon with
zip-directory re-reads switched off, and with the Arrow UDF imports loaded
and frozen once, before any worker forks.

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

Shared imports. The stock daemon's ``pyspark.worker`` import already brings
in numpy and PySpark's Arrow serializers (``pyspark.sql.pandas.serializers``
and ``types``, ``pyspark.sql.streaming.state``). What a worker still loads on
its own, measured from a worker's ``sys.modules`` after one ``mapInPandas``
and one ``applyInPandasWithState`` task, is pandas (which pulls in pyarrow)
and ``pyarrow.pandas_compat``, the Arrow-to-pandas converter: about 350
modules and 64 MiB resident per worker, 28 MiB of it Python heap and the
rest mapped library pages. The daemon imports them, runs
``gc.collect()`` and calls ``gc.freeze()`` before it starts forking. Every
worker then inherits that heap as copy-on-write pages shared with the daemon
and its siblings, and the ``gc.collect()`` PySpark runs after each task skips
the frozen objects: it no longer walks ~73k of them (40-50 ms) or dirties
their pages. On a cluster the import heap is paid once per executor, not
once per core.

Fork safety. The stock daemon already forks with OpenBLAS threads running
(numpy, through ``pyspark.serializers``). pyarrow adds one more thread,
jemalloc's background thread ``jemalloc_bg_thd``; jemalloc registers
``pthread_atfork`` handlers so a child never inherits one of its locks held.
No worker hung or crashed over the full test suite and the benchmark runs.

Running this module as ``python -m fusets_spark.worker_boot`` imports the
package's ``__init__`` into the daemon. It is dropped again before the
workers fork and never preloaded, so they import the package from wherever
the stock daemon's workers would: the working directory, a shipped zip or
the path.

``session.get_spark`` selects this module through ``spark.python.daemon.module``.
"""

import gc
import sys
import zipimport

import pyspark.daemon

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    del sys.modules["fusets_spark"]
    import pandas  # noqa: F401  (imports pyarrow)
    import pyarrow.pandas_compat  # noqa: F401

    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()
