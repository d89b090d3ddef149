"""activity_files_spark/_daemon.py: Python workers forked from a daemon that
runs pyspark from a byte-compiled copy of its archive, with the Arrow stack
already imported; the copy's cache name, reuse and races, and the fallback
to the archive when no copy can be made."""

import glob
import os
import pathlib
import subprocess
import sys
import tempfile
import zipfile

import pytest

from activity_files_spark import _daemon
from activity_files_spark.session import _worker_daemon

REPO = pathlib.Path(__file__).resolve().parent.parent
SPARK_LIB = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
SPARK_ZIPS = sorted(glob.glob(os.path.join(SPARK_LIB, "*.zip")))
needs_spark_zips = pytest.mark.skipif(
    not any("pyspark" in z for z in SPARK_ZIPS), reason="no $SPARK_HOME/python/lib/pyspark.zip")


@pytest.mark.skipif(not os.path.exists("/proc/self/maps"), reason="reads /proc/<pid>/maps")
def test_session_workers_fork_warm_from_the_daemon(spark):
    def view(batches):
        warm = [m for m in ("numpy", "pandas", "pyarrow") if m in sys.modules]
        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        main = sys.modules["__main__"].__spec__
        with open(f"/proc/{os.getppid()}/maps") as f:
            parent_has_arrow = "libarrow" in f.read()
        yield pd.DataFrame({
            "pyspark": [pyspark.__file__], "warm": [",".join(warm)],
            "daemon": [main.name if main else ""], "parent_has_arrow": [parent_has_arrow],
        })

    assert spark.conf.get("spark.python.daemon.module") == "activity_files_spark._daemon"
    schema = "pyspark string, warm string, daemon string, parent_has_arrow boolean"
    rows = spark.range(4, numPartitions=2).mapInPandas(view, schema).collect()
    assert rows
    for r in rows:
        assert ".zip" not in r.pyspark
        assert r.warm == "numpy,pandas,pyarrow"
        assert r.daemon == "activity_files_spark._daemon"
        # the daemon, the worker's parent, imported pyarrow before the fork
        assert r.parent_has_arrow


def test_cluster_masters_keep_sparks_daemon():
    assert _daemon_conf("yarn") == {}
    assert _daemon_conf("local-cluster[2,1,1024]") == {}
    assert _daemon_conf("local[2]") == {
        "spark.python.daemon.module": "activity_files_spark._daemon"}


def _daemon_conf(master):
    cwd = os.getcwd()
    os.chdir(REPO)
    try:
        return _worker_daemon(master)
    finally:
        os.chdir(cwd)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A small ``pyspark_fake.zip``; the temp dir is a fresh directory."""
    path = tmp_path / "pyspark_fake.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("fakepkg/__init__.py", "VALUE = 1\n")
    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(cache))
    return path


def test_copy_is_compiled_and_reused_without_extraction(archive, monkeypatch):
    copy = _daemon.compiled_copy(str(archive))
    assert copy == os.path.join(tempfile.gettempdir(), _daemon.copy_name(str(archive)))
    assert (pathlib.Path(copy) / "fakepkg" / "__init__.py").read_text() == "VALUE = 1\n"
    assert list((pathlib.Path(copy) / "fakepkg" / "__pycache__").glob(
        f"__init__.{sys.implementation.cache_tag}.pyc"))

    def no_extraction(*args, **kwargs):
        raise AssertionError("a present copy was extracted again")

    monkeypatch.setattr(zipfile.ZipFile, "extractall", no_extraction)
    assert _daemon.compiled_copy(str(archive)) == copy
    assert sorted(os.listdir(tempfile.gettempdir())) == [os.path.basename(copy)]


def test_copy_name_follows_the_archives_mtime_and_size(archive):
    first = _daemon.copy_name(str(archive))
    assert first.endswith("." + sys.implementation.cache_tag)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    touched = _daemon.copy_name(str(archive))
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("fakepkg/more.py", "X = 2\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    grown = _daemon.copy_name(str(archive))
    assert len({first, touched, grown}) == 3


def test_warm_path_swaps_only_spark_archives(archive):
    other = archive.with_name("engine.zip")
    other.write_bytes(archive.read_bytes())
    path = [str(archive), str(other), "/nonexistent/pyspark.zip"]
    _daemon.warm_path(path)
    assert path[0] == _daemon.compiled_copy(str(archive))
    assert path[1:] == [str(other), "/nonexistent/pyspark.zip"]


def test_no_copy_keeps_the_archive(archive, tmp_path, monkeypatch):
    # a temp dir that is a regular file: every build fails, root's included
    blocked = tmp_path / "not-a-dir"
    blocked.write_text("")
    monkeypatch.setattr(tempfile, "tempdir", str(blocked))
    path = [str(archive)]
    _daemon.warm_path(path)
    assert path == [str(archive)]


_IMPORT_FROM_COPY = """
import sys
sys.path.insert(0, {repo!r})
from activity_files_spark._daemon import warm_path
warm_path(sys.path)
import pyspark
print(pyspark.__file__)
"""


@needs_spark_zips
def test_racing_builds_import_pyspark_and_leave_one_copy(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=os.pathsep.join(SPARK_ZIPS))
    script = _IMPORT_FROM_COPY.format(repo=str(REPO))
    procs = [subprocess.Popen([sys.executable, "-c", script], env=env, cwd=str(tmp_path),
                              stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
             for _ in range(2)]
    outs = [p.communicate(timeout=300) for p in procs]
    assert [p.returncode for p in procs] == [0, 0], [err[-2000:] for _, err in outs]
    files = {out.strip() for out, _ in outs}
    assert len(files) == 1
    (file,) = files
    assert file.startswith(str(tmp_path)) and ".zip" not in file
    names = sorted(os.listdir(tmp_path))
    assert len(names) == len(SPARK_ZIPS), names  # one copy per archive, no build dirs
    assert all(n.startswith("afs_") for n in names)


_TASK_WITHOUT_COPY = """
import os, sys
sys.path.insert(0, {repo!r})
from activity_files_spark.session import get_spark

def view(batches):
    import pandas as pd
    import pyspark
    for _ in batches:
        pass
    yield pd.DataFrame({{"f": [pyspark.__file__], "m": [sys.modules["__main__"].__spec__.name]}})

spark = get_spark("no-copy", master="local[1]", shuffle_partitions=1)
for row in spark.range(2, numPartitions=1).mapInPandas(view, "f string, m string").collect():
    print("ROW", row.f, row.m)
spark.stop()
"""


@needs_spark_zips
def test_task_runs_from_the_archive_when_no_copy_can_be_made(tmp_path):
    # Mode bits do not stop root, and tempfile falls back to /tmp past an
    # unwritable $TMPDIR, so the temp dir here takes small files but no
    # copy: it is nested so deep that the copy's files would pass PATH_MAX
    # (4096 bytes) while the session's own temp files stay below it.
    longest = max(len(n) for z in SPARK_ZIPS if "pyspark" in z
                  for n in zipfile.ZipFile(z).namelist())
    deep = str(tmp_path)
    while len(deep) < 3990:
        deep = os.path.join(deep, "d" * min(200, 3990 - len(deep)))
    os.makedirs(deep)
    assert len(deep) + 100 + longest > 4096
    env = dict(os.environ, TMPDIR=deep)
    proc = subprocess.run([sys.executable, "-c", _TASK_WITHOUT_COPY.format(repo=str(REPO))],
                          env=env, cwd=str(REPO), capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = [line.split()[1:] for line in proc.stdout.splitlines() if line.startswith("ROW")]
    assert rows and all(f.startswith(os.path.join(SPARK_LIB, "pyspark.zip"))
                        and m == "activity_files_spark._daemon" for f, m in rows)
