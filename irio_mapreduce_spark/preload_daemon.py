"""Python-worker daemon with the Arrow/pandas stack PRE-IMPORTED and the
per-task zip-directory re-read removed.

Spark's stock worker daemon (``python -m pyspark.daemon pyspark.worker``)
imports ``pyspark.worker`` once and then fork()s a worker per task, so
everything imported at daemon startup is inherited by every worker for
free via copy-on-write. ``pyspark.worker`` transitively imports numpy but
NOT pandas/pyarrow — each forked worker pays that import (~1 s CPU) the
first time it evaluates a pandas UDF / mapInPandas stage.

That cost is invisible until a stage needs MANY fresh workers at once:
a chain of K mapInPandas operators in one stage runs K PythonRunner
levels per task, so a 32-task stage wants 32·K live workers. The first
such stage in a session triggers a spawn storm — measured r12 (this
round): ~96 simultaneous forks each importing pandas+pyarrow turned a
~1 s multimodal decode chain into 10-28 s, moving between entries with
worker-pool history. Pre-importing in the daemon makes every fork
inherit the loaded stack: the storm cost collapses to plain fork().

Second fixed cost, paid by EVERY Python task: ``pyspark.worker_util.
setup_spark_files`` calls ``importlib.invalidate_caches()`` once per
task. On Python 3.10-3.12 ``zipimporter.invalidate_caches()`` eagerly
re-reads the archive's whole central directory, and a worker importing
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries) holds
12 zipimporters for it in ``sys.path_importer_cache`` (one per package
prefix; 16 zipimporters in all) — about 0.2 CPU-s per task before it
touches a record. Python 3.13 made the invalidation lazy (the directory
is re-read only on the next lookup). ``_invalidate_if_changed`` gets the
same effect here by re-reading only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken at that
importer's last read; a rewritten archive is still re-read, and every
other finder is invalidated as before. Measured on a 4-core host,
Python 3.11 / Spark 4.1: one ``invalidate_caches()`` inside a task went
from 0.13-0.24 to under 0.001 CPU-s, and
``sc.parallelize(range(64), 64).count()`` from 12-16 to 1.9 CPU-s of
Python-worker time (3.4-4.6 → 1.1 s wall).

Third fixed cost, also paid by every Python task: with worker reuse on
(the default), the stock daemon's fork loop calls ``gc.collect()`` after
each task (``pyspark/daemon.py``), and a full collection walks every
GC-tracked object the worker holds. With pandas and pyarrow pre-imported
that is mostly the inherited heap, about 73,050 objects: 37-63 ms CPU
per task, timed inside a worker. ``gc.freeze()`` just before
``manager()`` moves the daemon's whole heap to the permanent generation,
which every forked worker inherits, so a worker's collection scans only
the objects it made itself (0.02-0.07 ms, with under 100 tracked and
73,245 frozen; same host). This is the recipe the ``gc`` docs give for
servers that fork without exec, and it also keeps the collector from
writing to the inherited copy-on-write pages. It runs in ``__main__``,
so the no-pandas fallback freezes too.

Wired via ``spark.python.daemon.module`` in ``session.get_spark`` (the
documented hook for a custom daemon). Import failures are tolerated —
a cluster image without pandas still serves non-pandas UDFs exactly as
the stock daemon would. The tail of this module mirrors
``pyspark/daemon.py``'s ``__main__`` entry: ``manager()`` reads the
worker module name from argv exactly as the stock daemon does.
"""

import gc
import importlib
import os
import zipimport

try:  # pre-import the Arrow/pandas stack for copy-on-write inheritance
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401  (first to_pandas pulls it)
    import pyspark.sql.pandas.serializers  # noqa: F401  (Arrow UDF runners)
except ImportError:  # pragma: no cover - image without the pandas stack
    pass

from pyspark.daemon import manager

_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    it changed since this importer's last read. The stamp lives on the
    instance because each importer holds its own ``_files`` table."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _zip_invalidate(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # One real re-read here stamps every importer the daemon holds, so
    # forked workers inherit the stamps and not even a first task pays.
    importlib.invalidate_caches()
    # Everything above is shared by every worker and never freed: freeze
    # it, so each task-end gc.collect() scans only the worker's own heap.
    gc.freeze()
    manager()
