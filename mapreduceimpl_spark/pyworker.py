"""Python-worker daemon (``spark.python.daemon.module``): pyspark's own
daemon, with zip archives re-read only when they change.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``).  That re-reads the central
directory of every zip importer on the worker's path (pyspark.zip,
py4j, the spark-core jar; one importer per package prefix) before any
user code runs: a one-row job took about 0.25 s with it and 0.1 s
without (4-core host, CPython 3.11).  Here an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` moved, so a
rewritten archive is still picked up.  Forked workers inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.
    The stamp lives on the importer: several importers share one
    archive, and each must notice a rewrite for itself."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._stamp = None
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    # take the patch from the package module, not from __main__, so it
    # is named mapreduceimpl_spark.pyworker inside the workers
    from pyspark import daemon

    from mapreduceimpl_spark import pyworker

    zipimport.zipimporter.invalidate_caches = pyworker.invalidate_if_changed
    importlib.invalidate_caches()  # stamp the daemon's importers once for every fork
    daemon.manager()
