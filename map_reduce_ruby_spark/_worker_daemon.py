"""pyspark's worker daemon, minus the re-read of unchanged zip archives.

Before every task pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and each ``zipimporter`` answers by
re-reading its archive's directory: ~16 importers over ``pyspark.zip``
(1328 entries), the bulk of a Python task's fixed cost. Here a zipimporter
re-reads only when its archive's ``(st_ino, st_size, st_mtime_ns)`` differs
from what it saw at its last read; path finders, meta-path finders and new
``sys.path`` entries are untouched, so ``addPyFile`` and SparkFiles behave as
under the stock daemon. ``session.get_spark`` selects this module for local
masters (``spark.python.daemon.module``).
"""

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_changed(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # stamp before reading: a change during the read shows at the next call
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate(self)
        self._read_stamp = stamp


def main():
    zipimport.zipimporter.invalidate_caches = invalidate_changed
    from pyspark import daemon

    # every importer the daemon's imports made reads once here, before fork
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
