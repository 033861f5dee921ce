"""The Python worker daemon (worker_daemon.py) and the workers' import path.

The guard must keep ``importlib.invalidate_caches()`` correct (a module
added to an archive becomes importable) while skipping the re-read of an
unchanged archive; sessions from ``get_spark`` must run their Python tasks
under it, and their workers must import the package from any cwd.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from multithreaded_mapreduce_library_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test; monkeypatch restores the original."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_module_added_to_archive_becomes_importable(guarded, archive):
    assert importlib.import_module("wd_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    _write_zip(archive, {"wd_mod_a": "VALUE = 'a'\n", "wd_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("wd_mod_b").VALUE == "b"


@pytest.mark.skipif(not GUARDED, reason="CPython 3.13+ re-reads archives lazily; no guard")
def test_only_changed_or_vanished_archive_is_reread(guarded, archive, monkeypatch):
    importlib.import_module("wd_mod_a")
    importlib.invalidate_caches()  # the importer's first guarded call reads and stamps
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    _write_zip(archive, {"wd_mod_a": "VALUE = 'a'\n", "wd_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()  # a changed archive is re-read once
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert "wd_mod_b.py" in sys.path_importer_cache[archive]._files
    os.remove(archive)  # a vanished archive is re-read (and found empty), as unguarded
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert sys.path_importer_cache[archive]._files == {}


def test_install_is_idempotent_and_version_gated(guarded):
    installed = zipimport.zipimporter.invalidate_caches
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert getattr(installed, "skips_unchanged_archives", False) is GUARDED


def test_engine_session_tasks_run_guarded(spark):
    def probe(_):
        yield getattr(zipimport.zipimporter.invalidate_caches, "skips_unchanged_archives", False)

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [GUARDED]


def test_package_import_leaves_daemon_unloaded():
    """Workers start the daemon with ``python -m``, which imports the
    package first; if that import already loaded the daemon module, runpy
    warns and executes it a second time."""
    script = (
        "import sys, multithreaded_mapreduce_library_spark\n"
        "print('multithreaded_mapreduce_library_spark.worker_daemon' in sys.modules)"
    )
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip() == "False"


def test_mr_run_from_any_cwd(tmp_path):
    """Workers import the package (the daemon module, the facade's mapper)
    with neither the repo as cwd nor PYTHONPATH set."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from multithreaded_mapreduce_library_spark import mapreduce
        from multithreaded_mapreduce_library_spark.session import get_spark

        spark = get_spark(app_name="any-cwd", cpus=2)
        lines = spark.sparkContext.parallelize(["a b", "b c c"], 2)
        out = mapreduce.mr_run(spark, lines, mapreduce.wordcount_mapper,
                               mapreduce.wordcount_reducer, num_partitions=3)
        print(sorted(out.collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().splitlines()[-1] == "[('a', 1), ('b', 2), ('c', 2)]"
