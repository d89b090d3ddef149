"""The Python worker daemon, started warm.

``session.get_spark`` makes Spark start its Python workers through this
module (``spark.python.daemon.module``) instead of ``pyspark.daemon``.
Spark puts ``pyspark.zip`` and ``py4j-*.zip`` from ``$SPARK_HOME/python/lib``
on the daemon's path. A zip holds no bytecode cache, so each daemon compiled
pyspark from source before it could fork (about 1.3 s), and each forked
worker imported pandas and pyarrow on its first task (about 0.6 s of CPU).

Before pyspark is imported, each such archive on ``sys.path`` is swapped for
an extracted, byte-compiled copy in the temp dir, named after the archive's
path, size and mtime and the interpreter's cache tag, so a box builds it
once (``_tmpcache.cached``). If no copy can be made, the archive stays on
the path. The daemon then imports what every Arrow kernel needs and runs
pyspark's own daemon loop, so each forked worker starts with it loaded.
"""

from __future__ import annotations

import compileall
import hashlib
import importlib
import os
import re
import sys
import zipfile

from activity_files_spark._tmpcache import cached

ARCHIVE = re.compile(r"^(pyspark|py4j)[^/]*\.zip$")
PRELOAD = ("numpy", "pandas", "pyarrow",
           "pyspark.sql.pandas.serializers", "pyspark.sql.pandas.types")


def copy_name(archive: str) -> str:
    """Temp-dir name of ``archive``'s compiled copy."""
    st = os.stat(archive)
    key = f"{os.path.abspath(archive)}\0{st.st_size}\0{st.st_mtime_ns}"
    stem = os.path.basename(archive)[:-len(".zip")]
    return (f"afs_{stem}_{hashlib.sha256(key.encode()).hexdigest()[:16]}"
            f".{sys.implementation.cache_tag}")


def _extract_compiled(archive: str):
    def build(dest: str) -> None:
        with zipfile.ZipFile(archive) as zf:
            zf.extractall(dest)
        # pyspark's test suites are most of its files and no worker runs
        # them; quiet=2: the daemon's stdout carries its port to Spark
        skip = re.compile(re.escape(dest) + r".*[/\\]tests[/\\]")
        compileall.compile_dir(dest, quiet=2, rx=skip)
    return build


def compiled_copy(archive: str) -> str | None:
    """Directory of ``archive``'s byte-compiled copy, or None if none can
    be made."""
    try:
        return cached(copy_name(archive), _extract_compiled(archive))
    except Exception as exc:  # the daemon must start: import from the archive
        print(f"activity_files_spark._daemon: no compiled copy of {archive}, "
              f"which stays on the path: {exc!r}", file=sys.stderr)
        return None


def warm_path(path: list[str]) -> None:
    """Swap each pyspark/py4j archive on ``path`` for its compiled copy."""
    for i, entry in enumerate(path):
        if ARCHIVE.match(os.path.basename(entry)) and os.path.isfile(entry):
            path[i] = compiled_copy(entry) or entry


def main() -> None:
    warm_path(sys.path)
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:  # a worker without it fails where it always did
            pass
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
