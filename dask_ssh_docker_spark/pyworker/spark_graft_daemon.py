"""PySpark's worker daemon, with zip archives re-read only on change.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that
makes every ``zipimporter`` re-read its archive's whole central
directory, and ``pyspark.zip`` and the Spark core jar head the worker
path: ≈0.2 s of every task.  Here an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` differs from the one it last read.
Stdlib only, so the daemon imports nothing a worker would not.
Run as ``python -m spark_graft_daemon pyspark.worker``.
"""

import importlib
import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(importer):
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        _invalidate(importer)
        importer._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    import pyspark.daemon

    importlib.invalidate_caches()  # stamp the importers once, before workers fork
    pyspark.daemon.manager()
