"""Backport of CPython 3.13's lazy ``zipimporter.invalidate_caches``.

Before 3.13, ``importlib.invalidate_caches()`` makes every ``zipimporter``
re-read its archive's whole central directory; pyspark's worker calls it
before every task. Here every read of an archive's directory, by whichever
reader (a new importer or an invalidation), records the archive's
``os.stat`` (mtime, size, inode) with the table it read. An invalidation
re-reads only if the archive changed since this process last read it, and
otherwise hands the importer that table; a changed, missing or unreadable
archive still goes through CPython's own method. A worker forked from the
Python daemon inherits the daemon's reads. Delete this module once workers
run on CPython 3.13 or later.
"""

import os
import sys
import zipimport

_last_read = {}  # archive -> (stat stamp, file table) of this process's last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _recorded(read_directory):
    def read(archive):
        _last_read.pop(archive, None)
        stamp = _stamp(archive)  # before the read: a write during it re-reads later
        files = read_directory(archive)
        _last_read[archive] = stamp, files
        return files
    return read


def _lazy(eager):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        last = _last_read.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            self._files = last[1]
        else:
            eager(self)
    return invalidate_caches


if sys.version_info < (3, 13) and hasattr(zipimport.zipimporter, "invalidate_caches"):
    zipimport._read_directory = _recorded(zipimport._read_directory)
    zipimport.zipimporter.invalidate_caches = _lazy(zipimport.zipimporter.invalidate_caches)
