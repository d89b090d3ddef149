"""Build artifacts cached in the shared temp dir, under one rule.

An artifact (the native JPEG kernel, the worker daemon's compiled pyspark
copy) is named after what it was built from, so the many Python workers on
one box build it at most once and rebuild it when its source changes. The
temp dir is shared with other users, so an artifact found at its name is
used only if this uid owns it and neither group nor others may write it: a
file another user planted at a predictable name is never loaded. A build
runs in a private ``mkdtemp`` dir and is renamed into place; a process that
loses a race drops its own build, and one that finds the name held by
someone else keeps using its private build until it exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
from collections.abc import Callable


def _ours(path: str) -> bool:
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (st.st_uid == os.getuid() and not stat.S_ISLNK(st.st_mode)
            and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))


def cached(name: str, build: Callable[[str], None]) -> str:
    """Path of the artifact ``name`` in the temp dir. ``build(path)`` makes
    the file or directory at ``path`` when no usable one is cached; its
    errors, and the temp dir's, propagate."""
    path = os.path.join(tempfile.gettempdir(), name)
    if _ours(path):
        return path
    work = tempfile.mkdtemp(prefix=f".{name}-", dir=os.path.dirname(path))
    out = os.path.join(work, name)
    try:
        build(out)
        os.chmod(out, stat.S_IMODE(os.stat(out).st_mode) & ~(stat.S_IWGRP | stat.S_IWOTH))
        try:
            os.rename(out, path)
        except OSError:  # a racing build won, or the name is someone else's
            pass
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    if not _ours(path):
        atexit.register(shutil.rmtree, work, True)
        return out
    shutil.rmtree(work, ignore_errors=True)
    return path
