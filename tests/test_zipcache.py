"""Lazy zipimport invalidation (``xponents_spark.zipcache``): the
CPython 3.13 semantics in-process, the installer on every interpreter at
hand, and the per-task effect inside Spark's reused Python workers."""

import importlib
import os
import pkgutil
import shutil
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from xponents_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name + ".py", source)


@pytest.fixture
def temp_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding one fresh module; yields its path,
    that module's name and a list counting ``_read_directory`` calls."""
    archive = str(tmp_path / "mods.zip")
    name = "zc_" + uuid.uuid4().hex
    _write_zip(archive, {name: "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield archive, name, reads
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for mod in [m for m in sys.modules if m.startswith(name)]:
        del sys.modules[mod]


def test_invalidate_without_import_reads_nothing(temp_zip):
    archive, name, reads = temp_zip
    assert importlib.import_module(name).X == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    # the first lookup after them re-reads the archive once
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(name + "_absent")
    assert reads == [archive]


def test_pkgutil_lists_zip_after_invalidate(temp_zip):
    archive, name, reads = temp_zip
    importlib.import_module(name)
    importlib.invalidate_caches()
    assert [m.name for m in pkgutil.iter_modules([archive])] == [name]


def test_rewritten_zip_is_seen_after_one_invalidate(temp_zip):
    archive, name, reads = temp_zip
    importlib.import_module(name)
    _write_zip(archive, {name: "X = 1\n", name + "_new": "Y = 2\n"})
    with pytest.raises(ModuleNotFoundError):     # directory still cached
        importlib.import_module(name + "_new")
    importlib.invalidate_caches()
    assert importlib.import_module(name + "_new").Y == 2


def test_deleted_zip_imports_nothing(temp_zip):
    archive, name, reads = temp_zip
    importlib.import_module(name)
    os.remove(archive)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(name + "_absent")
    assert archive not in zipimport._zip_directory_cache


_INSTALL_PROBE = """
import importlib.util, sys, zipfile, zipimport
archive = sys.argv[2]
with zipfile.ZipFile(archive, "w") as zf:
    zf.writestr("zc_pre.py", "")
sys.path.insert(0, archive)
import zc_pre                   # an importer that exists before install
spec = importlib.util.spec_from_file_location("zc", sys.argv[1])
zc = importlib.util.module_from_spec(spec)
spec.loader.exec_module(zc)
cls = zipimport.zipimporter
native = hasattr(cls, "_get_files")
before = cls.invalidate_caches
first, second = zc.install(), zc.install()
stale = "_files" in vars(sys.path_importer_cache[archive])
print(native, first, second, cls.invalidate_caches is before,
      cls.invalidate_caches is zc._invalidate_caches, stale)
"""


@pytest.mark.parametrize("python", [sys.executable, "python3.12",
                                    "python3.13"])
def test_install_is_idempotent_and_noop_on_313(python, tmp_path):
    exe = shutil.which(python)
    if exe is None or subprocess.run([exe, "-c", "pass"],
                                     capture_output=True).returncode:
        pytest.skip(f"{python} not runnable")
    out = subprocess.run(
        [exe, "-c", _INSTALL_PROBE, zipcache.__file__,
         str(tmp_path / "pre.zip")],
        capture_output=True, text=True, check=True, timeout=60).stdout
    native, first, second, unchanged, ours, stale = out.split()
    if native == "True":        # 3.13+: already lazy, left alone
        assert (first, second, unchanged, ours) == (
            "False", "False", "True", "False")
    else:
        assert (first, second, unchanged, ours) == (
            "True", "False", "False", "True")
    # no importer keeps a private copy of its archive's directory
    assert stale == "False"
    # in this process the package import already installed it
    assert zipcache.install() is False


def _worker_probe():
    """A task function, nested so cloudpickle ships it by value (workers
    cannot import this test module).  Per worker process it yields the
    task's sequence number, the zip-directory reads so far and the
    pyspark version the worker imported."""
    def probe(_):
        import os
        import zipimport

        import pyspark
        import xponents_spark  # noqa: F401  (as unpickling an engine UDF does)

        state = getattr(zipimport, "_xps_probe", None)
        if state is None:
            real = zipimport._read_directory
            state = zipimport._xps_probe = {"tasks": 0, "reads": 0}

            def counted(path):
                state["reads"] += 1
                return real(path)

            zipimport._read_directory = counted
        state["tasks"] += 1
        yield os.getpid(), state["tasks"], state["reads"], pyspark.__version__

    return probe


def test_reused_worker_task_reads_no_zip_directory(spark):
    import pyspark
    sc = spark.sparkContext
    rows = []
    for _ in range(3):
        rows += sc.parallelize(range(8), 8).mapPartitions(_worker_probe()) \
            .collect()
    assert {r[3] for r in rows} == {pyspark.__version__}
    by_pid = {}
    for pid, seq, reads, _ in rows:
        by_pid.setdefault(pid, []).append((seq, reads))
    reused = [sorted(v) for v in by_pid.values() if len(v) > 1]
    assert reused, "no worker ran two tasks"
    for tasks in reused:
        # every later task of a worker leaves the read count unchanged
        assert [r for _, r in tasks[1:]] == [tasks[0][1]] * (len(tasks) - 1)


def test_add_py_file_after_workers_started(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(8), 8).mapPartitions(_worker_probe()).collect()
    name = "zc_added_" + uuid.uuid4().hex
    archive = str(tmp_path / (name + ".zip"))
    _write_zip(archive, {name: "VALUE = 42\n"})
    sc.addPyFile(archive)

    def use_added(_):
        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(8), 8).mapPartitions(use_added) \
        .collect() == [42] * 8
