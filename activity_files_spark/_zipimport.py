"""Backport of CPython 3.13's lazy ``zipimporter.invalidate_caches``.

Before 3.13, ``importlib.invalidate_caches()`` makes every ``zipimporter``
re-read its archive's whole central directory; pyspark's worker calls it
before every task. Here the re-read is skipped while the archive's ``os.stat``
(mtime, size, inode) matches the importer's last read; a changed, missing or
unreadable archive still goes through CPython's own method. Delete this
module once workers run on CPython 3.13 or later.
"""

import os
import sys
import zipimport


def _lazy(eager):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            eager(self)
            self._read_stamp = stamp
    return invalidate_caches


if sys.version_info < (3, 13) and hasattr(zipimport.zipimporter, "invalidate_caches"):
    zipimport.zipimporter.invalidate_caches = _lazy(zipimport.zipimporter.invalidate_caches)
