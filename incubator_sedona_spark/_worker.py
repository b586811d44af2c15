"""Cut the fixed per-task cost of a reused Python worker.

A cProfile of a reused worker running a trivial pandas UDF put ~92% of its
time in ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()`` on every task.  On CPython <= 3.12
``zipimporter.invalidate_caches`` re-parses the whole central directory of
``pyspark.zip`` (3.5 MB), once per zipimporter entry (~16, one per package
directory).  After each task the daemon then runs a full ``gc.collect()``
over the whole import graph.

Measured with ``tools/worker_task_cpu.py`` (trivial pandas UDF, 30k rows,
64 partitions, reused workers) on 4 vCPUs, Python 3.11.7, pyspark 4.1.2:
Python CPU per task, median (quartiles) over 316 tasks:

    without this module                       307 ms (269-323)
    zip-index guard only                       56 ms (53-59)
    guard + freeze before pandas/pyarrow load  21 ms (18-24)
    guard + freeze after importing them       4.2 ms (4.0-4.5)

``install()`` runs once per worker process, when the first engine UDF is
unpickled and imports this package; on the driver it does nothing.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark import TaskContext

_installed = False


def _stamped(reread):
    """Wrap ``zipimporter.invalidate_caches`` so an importer re-reads its
    archive only when the file's (mtime, size, inode) stamp changed since that
    importer's last read; a rewritten or newly shipped zip is still seen."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_index_stamp", None):
            reread(self)
            self._index_stamp = stamp

    invalidate_caches.__wrapped__ = reread
    return invalidate_caches


def install() -> None:
    """Idempotent; a no-op outside a Spark task."""
    global _installed
    if _installed or TaskContext.get() is None:
        return
    _installed = True
    if sys.version_info < (3, 13):  # 3.13 made the zip re-read lazy
        zipimport.zipimporter.invalidate_caches = _stamped(
            zipimport.zipimporter.invalidate_caches
        )
    # engine UDFs are pandas/Arrow UDFs; the worker imports these for the
    # first batch, after this runs, and the daemon's per-task collection
    # would walk them (~20 ms a task) unless they are frozen too
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()
