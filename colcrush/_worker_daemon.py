"""PySpark's worker daemon behind zip importers that re-read an archive
only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and before CPython 3.13 every ``zipimporter`` then re-reads its
archive's whole zip directory: a worker holds a dozen importers over
pyspark.zip and two over the spark-core jar, ~0.2 s of directory reads
per task. ``get_spark`` names this module as ``spark.python.daemon.module``,
so every Python worker is forked from a process whose zip importers skip
that re-read while the archive's (st_mtime_ns, st_size) is unchanged.
Needs ``colcrush`` importable from the worker's start-up path (cwd,
PYTHONPATH or site-packages), as colcrush's own UDFs already do.

In a ``get_spark`` session the JVM reaches this daemon and its workers
over a Unix socket (``spark.python.unix.domain.socket.enabled``), not
loopback TCP. PySpark's daemon then treats every connection as
authenticated and skips the worker secret, so the socket's directory,
colcrush's per-user dir (``colcrush._userdir.user_dir``: owned by this
user, mode 0700), is what keeps other local users out of the workers.
"""

import os
import sys
import zipimport


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches()`` re-reads the archive
    only when its (st_mtime_ns, st_size) changed."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _archive_stamp(self.archive)

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)  # None once the archive is gone
        if stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Swap the zipimporter path hook for StatZipImporter and drop the
    zip importers already cached, so they are rebuilt through it."""
    sys.path_hooks[:] = [
        StatZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[entry]


if __name__ == "__main__":
    # install through the importable module, so tasks see the same class
    from colcrush._worker_daemon import install as _install

    _install()
    from pyspark import daemon

    daemon.manager()
