"""Python worker daemon: ``pyspark.daemon`` plus a change-guarded zip
directory cache (``spark.python.daemon.module``, set by ``get_spark``).

Before every task pyspark calls ``importlib.invalidate_caches()``. On
CPython < 3.13 that makes every ``zipimporter`` re-read its archive's
whole central directory (pyspark.zip: ~1.3k entries, ~16 importers per
worker), a fixed ~150 ms per Python task. The guard re-reads only when
the archive's (inode, size, mtime) differs from the importer's last
read; a failed ``stat`` always re-reads. CPython 3.13 is already lazy.
Forked workers inherit the patch; the driver process never installs it.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install():
    """Patch ``zipimporter.invalidate_caches`` and read every existing
    importer once so that forked workers inherit current stamps."""
    orig = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            orig(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager  # preloads pyspark.worker

    if sys.version_info < (3, 13):
        # by package name, so the guard reports this module, not __main__
        from alertsage_spark.worker_daemon import install

        install()
    manager()
