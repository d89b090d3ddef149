"""activity_files_spark/_zipimport.py: the lazy ``zipimporter`` invalidation
backported from CPython 3.13, and a source lint that keeps it in one module."""

import importlib
import os
import pathlib
import re
import sys
import zipfile
import zipimport

import pytest

import activity_files_spark

REPO = pathlib.Path(__file__).resolve().parent.parent
BACKPORT = REPO / "activity_files_spark" / "_zipimport.py"
PACKAGE_INIT = REPO / "activity_files_spark" / "__init__.py"
EAGER = sys.version_info < (3, 13)
eager_only = pytest.mark.skipif(
    not EAGER, reason="CPython >= 3.13 invalidates zipimporter caches lazily")


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """A zip holding module ``zi_first`` on ``sys.path``, imported from it;
    yields (archive path, its zipimporter)."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zi_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zi_first").VALUE == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)
    yield archive, importer
    for name in ("zi_first", "zi_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def _count_reads(monkeypatch, archive) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_only
def test_unchanged_archive_is_not_read_again(zipped, monkeypatch):
    archive, _ = zipped
    importlib.invalidate_caches()  # records what the importer last read
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert len(reads) == 1


@eager_only
def test_new_importer_is_read_again_only_when_rewritten(zipped, monkeypatch):
    # the importer read the archive when it was built, after the backport
    # was installed: that read counts, so the first invalidation skips it
    archive, _ = zipped
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == []
    _write_zip(archive, {"zi_first.py": "VALUE = 1\n", "zi_second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zi_second").VALUE == 2


@eager_only
def test_rewritten_archive_serves_its_new_member(zipped):
    archive, _ = zipped
    importlib.invalidate_caches()
    _write_zip(archive, {"zi_first.py": "VALUE = 1\n", "zi_second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zi_second").VALUE == 2


@eager_only
def test_deleted_archive_empties_the_file_table(zipped):
    archive, importer = zipped
    importlib.invalidate_caches()
    assert importer._files
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}


@pytest.mark.skipif(EAGER, reason="the backport is installed before CPython 3.13")
def test_lazy_interpreters_keep_cpythons_method():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@eager_only
def test_reused_python_worker_runs_the_backport(spark):
    def kernel(batches):
        import pandas as pd

        # like every engine kernel, the closure refers to the package, so
        # unpickling it in the worker imports activity_files_spark
        assert activity_files_spark.__version__
        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    df = spark.range(1, numPartitions=1)
    runs = [df.mapInPandas(kernel, "m string").collect() for _ in range(2)]
    assert runs[1] == [("activity_files_spark._zipimport",)]


def test_zip_invalidation_lives_in_one_module():
    pattern = re.compile(r"zipimport|invalidate_caches")
    sources = sorted((REPO / "activity_files_spark").rglob("*.py"))
    sources.append(REPO / "__spark_entry__.py")
    hits = [
        (path, line.strip())
        for path in sources if path != BACKPORT
        for line in path.read_text().splitlines()
        if pattern.search(line)
    ]
    assert len(hits) == 1
    path, line = hits[0]
    assert path == PACKAGE_INIT
    assert re.match(r"from activity_files_spark import _zipimport\b", line)
    assert pattern.search(BACKPORT.read_text())
