"""PySpark worker daemon whose zip importers re-read an archive only when
it has changed (``spark.python.daemon.module``, set by ``get_spark``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Before CPython 3.13, each ``zipimporter`` then re-reads its
whole archive directory; a worker that imports PySpark from
``pyspark.zip`` holds one importer per package directory, so a task
started by re-reading the 1,328-entry archive ~16 times (SCALE.md §6).
Here an importer keeps the cached directory while the archive's
identity (device, inode, size, mtime, ctime) is the one it was read at.

Imports only the standard library and ``pyspark.daemon``: every forked
worker inherits what the daemon has loaded.
"""

import importlib
import os
import sys
import zipimport

_read_directory = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches
# archive -> its identity when last read; process-wide, like the
# zipimport._zip_directory_cache entry it describes
_read_at: dict[str, tuple | None] = {}


def _identity(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def read_directory(archive):
    """``zipimport._read_directory``, recording the archive's identity
    (taken before the read, so a change during it shows next time)."""
    identity = _identity(archive)
    files = _read_directory(archive)
    _read_at[archive] = identity
    return files


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads only a changed,
    missing or never-read archive, else takes the shared cached read."""
    files = zipimport._zip_directory_cache.get(self.archive)
    identity = _identity(self.archive)
    if files is None or identity is None or _read_at.get(self.archive) != identity:
        _reread(self)
    else:
        self._files = files


def install():
    """Patch ``zipimport`` in this process (a no-op on CPython 3.13+,
    whose importers re-read lazily)."""
    if sys.version_info < (3, 13):
        zipimport._read_directory = read_directory
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    # re-read once the archives opened before install (the one this module
    # was found past), so each has the identity it was read at
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
