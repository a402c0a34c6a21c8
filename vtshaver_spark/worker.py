"""Python-worker hook: stop Spark tasks re-reading unchanged zip
archives on the import path.

pyspark's worker starts every task with ``importlib.invalidate_caches()``
(``setup_spark_files``). Before CPython 3.13 that makes each cached
``zipimporter`` re-read its archive's central directory: ~10 ms for
each of the dozen ``pyspark.zip`` path prefixes and ~44 ms for each
Spark-jar one, 0.17-0.29 CPU-s per task before any kernel runs
(CPython 3.11, Spark 4.1, 4-vCPU x86 VM).
``install`` swaps in a method that re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the last read; an unchanged
archive costs one ``stat``. Changed and deleted archives behave as
under the stock method.
"""

import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) it had when its directory in
# zipimport._zip_directory_cache was read
_signatures: dict = {}


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _signatures.get(self.archive) == sig:
        self._files = files
        return
    _stock(self)
    _signatures[self.archive] = sig


def patch():
    """Replace ``zipimporter.invalidate_caches`` in this process (once).
    The directories cached now are taken as current: in a worker they
    were just re-read by the task's own ``setup_spark_files``."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for archive in zipimport._zip_directory_cache:
        _signatures[archive] = _signature(archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install():
    """``patch`` inside a Spark task only, so a driver's interpreter
    stays stock, and only where the stock method still re-reads eagerly
    (CPython 3.13 made it lazy, with ``zipimporter._get_files``)."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if (
        taskcontext is not None
        and taskcontext.TaskContext.get() is not None
        and not hasattr(zipimport.zipimporter, "_get_files")
    ):
        patch()
