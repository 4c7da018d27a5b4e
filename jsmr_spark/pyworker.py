"""Python worker daemon for the sessions ``session.get_spark`` builds.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython < 3.13 ``zipimporter.invalidate_caches`` re-reads
the archive's whole central directory each time, and a worker's
``sys.path`` carries two archives (pyspark.zip, 3.5 MB, with 14 importer
instances; the spark-core jar, 15 MB, with 2): 0.13-0.33 s of every
task. Here an importer re-reads only when its archive's (inode, size,
mtime) changed or cannot be read, then ``pyspark.daemon`` runs
unchanged. The stamp lives on each importer, not per archive: one
archive has one importer per package prefix, and each holds its own
copy of the directory.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _install() -> None:
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_jsmr_stamp", None):
            reread(self)
            self._jsmr_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# 3.13 made zipimporter.invalidate_caches drop the cache instead of
# re-reading it. Run with ``-m`` this file executes as ``__main__``; the
# package import below installs the wrapper once, under its own name.
if sys.version_info < (3, 13) and __name__ != "__main__":
    _install()

if __name__ == "__main__":
    import importlib

    import jsmr_spark.pyworker  # noqa: F401
    from pyspark import daemon

    # Stamp the daemon's importers once; forked workers inherit them.
    importlib.invalidate_caches()
    daemon.manager()
