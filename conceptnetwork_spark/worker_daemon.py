"""Spark Python worker daemon that skips needless zip-directory re-reads.

pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` on
every task. On CPython 3.11 that makes each ``zipimport.zipimporter`` the
worker holds (14-16 of them, all over ``pyspark.zip``) re-parse the
archive's 1,328-entry central directory in pure Python: 65-92 ms per task.
Here an importer re-reads only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from the key at its last re-read, so an unchanged archive
costs one ``stat`` per importer. The key starts empty, so every worker
process re-reads once, on its first task; a missing archive always goes to
the original, which empties the importer.

``session.get_spark`` names this module as Spark's Python daemon;
``__main__`` installs the wrapper and runs ``pyspark.daemon``'s manager
unchanged, which reads the worker module from ``sys.argv[1]``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read this importer's zip directory if the archive changed."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_cn_directory_key", None):
        _reread(self)
        self._cn_directory_key = key


if __name__ == "__main__":
    # ``-m`` runs this file as ``__main__``: install the copy imported under
    # the package name, so the wrapper's ``__module__`` says where it lives
    from conceptnetwork_spark import worker_daemon

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches

    import pyspark.daemon

    pyspark.daemon.manager()
