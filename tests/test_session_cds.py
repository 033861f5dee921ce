"""The driver JVM's class-data archive (``session._cds_launch``).

Every case starts its session in a subprocess with ``XDG_CACHE_HOME`` in
its own temp dir: this process already has a JVM (``get_spark`` only adds
the archive flags to a JVM it starts), and the user's cache stays
untouched.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from pyspark.find_spark_home import _find_spark_home

from multithreaded_mapreduce_library_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "multithreaded_mapreduce_library_spark"

# Start a session, run a query, report what the JVM was started with, then
# stop it cleanly and wait for the JVM to exit (a recording is written then).
SESSION = textwrap.dedent("""
    import json, os, sys
    from multithreaded_mapreduce_library_spark.session import get_spark

    conf_before = os.environ.get("SPARK_CONF_DIR")
    spark = get_spark(app_name="cds", cpus=1, extra_conf=json.loads(sys.argv[1]))
    jvm = spark.sparkContext._jvm
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/maps") as f:
        maps = f.read()
    print(json.dumps({
        "rows": spark.range(10).count(),
        "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "classpath": jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep),
        "tmpdir": jvm.java.lang.System.getProperty("java.io.tmpdir"),
        "mapped": sorted({line.split()[-1] for line in maps.splitlines() if line.endswith(".jsa")}),
        "conf_before": conf_before,
        "conf_after": os.environ.get("SPARK_CONF_DIR"),
    }))
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=240)
""")


def run_session(cache: str, extra_conf: dict | None = None, driver_mem: str = "2g", **env) -> tuple[dict, str]:
    """The session's report and its whole stdout + stderr."""
    full_env = dict(
        os.environ, XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM=driver_mem,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    )
    full_env.update(env)
    res = subprocess.run(
        [sys.executable, "-c", SESSION, json.dumps(extra_conf or {})], cwd=cache, env=full_env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    assert report["rows"] == 10
    return report, res.stdout + res.stderr


def archive_path(cache: str, driver_mem: str = "2g") -> str:
    key = session._cds_key(_find_spark_home(), driver_mem)
    return os.path.join(cache, PACKAGE, f"{key}.jsa")


def cds_args(report: dict) -> list[str]:
    return [a for a in report["args"] if "Archive" in a or "Xshare" in a]


@pytest.fixture(scope="module")
def cache_root(tmp_path_factory):
    """Parent of every case's cache dir, deleted after the module: each
    archive is about 140 MB."""
    root = tmp_path_factory.mktemp("cds")
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture
def cache_dir(cache_root, request):
    """A fresh, empty cache dir under ``cache_root``."""
    path = cache_root / request.node.name.replace("[", "_").replace("]", "")
    path.mkdir()
    return path


@pytest.fixture(scope="module")
def recorded(cache_root) -> str:
    """A cache dir holding the archive one clean 2 GiB session recorded."""
    cache = str(cache_root / "recorded")
    os.mkdir(cache)
    report, output = run_session(cache)
    assert cds_args(report) == [f"-XX:ArchiveClassesAtExit={archive_path(cache)}"]
    assert "[cds" not in output
    return cache


def test_empty_cache_records_archive(recorded):
    assert session._is_archive(archive_path(recorded))


def test_next_session_maps_archive_and_keeps_caller_options(recorded, cache_dir):
    jsa = archive_path(recorded)
    report, output = run_session(recorded, {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cache_dir}"})
    assert cds_args(report) == [f"-XX:SharedArchiveFile={jsa}"]
    assert jsa in report["mapped"]
    assert report["tmpdir"] == str(cache_dir)
    assert "[cds" not in output


@pytest.mark.parametrize("damage", ["garbage", "zeroed_header"])
def test_invalid_archive_is_recorded_anew(recorded, cache_dir, damage):
    """A file without the magic (a dump cut short leaves its header zeroed)
    counts as missing: the session starts and its exit records it anew."""
    jsa = archive_path(str(cache_dir))
    os.makedirs(os.path.dirname(jsa))
    if damage == "garbage":
        with open(jsa, "wb") as f:
            f.write(b"not an archive" * 100)
    else:
        shutil.copyfile(archive_path(recorded), jsa)
        with open(jsa, "r+b") as f:
            f.write(bytes(4096))
    assert not session._is_archive(jsa)
    report, _ = run_session(str(cache_dir))
    assert cds_args(report) == [f"-XX:ArchiveClassesAtExit={jsa}"]
    assert session._is_archive(jsa)


def test_real_conf_file_turns_archive_off(cache_dir):
    """The user's configuration wins: a conf dir holding a real file stays
    on the classpath, and no CDS flag is added."""
    conf = cache_dir / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    report, _ = run_session(str(cache_dir), SPARK_CONF_DIR=str(conf))
    assert cds_args(report) == []
    assert os.path.realpath(report["classpath"][0]) == str(conf)
    assert report["conf_after"] == str(conf)
    assert not os.path.exists(cache_dir / PACKAGE)


def test_caller_cds_flag_turns_archive_off(cache_dir):
    report, _ = run_session(str(cache_dir), {"spark.driver.extraJavaOptions": "-Xshare:auto"})
    assert cds_args(report) == ["-Xshare:auto"]


def test_conf_dir_env_restored_after_launch(recorded):
    """SPARK_CONF_DIR points at the empty conf dir only for the launch."""
    templates = os.path.join(_find_spark_home(), "conf")
    report, _ = run_session(recorded, SPARK_CONF_DIR=templates)
    assert report["conf_before"] == report["conf_after"] == templates
    assert os.path.realpath(report["classpath"][0]) == os.path.join(recorded, PACKAGE, "conf")


def test_conf_dir_env_restored_when_launch_raises(cache_dir):
    script = textwrap.dedent("""
        import os
        from pyspark.sql import SparkSession
        from multithreaded_mapreduce_library_spark.session import get_spark

        seen = []
        def fail(self):
            seen.append(os.environ.get("SPARK_CONF_DIR"))
            raise RuntimeError("launch failed")
        SparkSession.Builder.getOrCreate = fail
        before = os.environ.get("SPARK_CONF_DIR")
        try:
            get_spark(app_name="cds", cpus=1)
        except RuntimeError:
            pass
        print(repr((before, os.environ.get("SPARK_CONF_DIR"), seen)))
    """)
    cache = str(cache_dir)
    empty = os.path.join(cache, PACKAGE, "conf")
    for conf in (None, os.path.join(_find_spark_home(), "conf")):
        env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
        env.update(XDG_CACHE_HOME=cache, PYTHONPATH=REPO)
        if conf is not None:
            env["SPARK_CONF_DIR"] = conf
        res = subprocess.run(
            [sys.executable, "-c", script], cwd=cache, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120,
        )
        assert res.returncode == 0, res.stderr[-3000:]
        assert res.stdout.strip().splitlines()[-1] == repr((conf, conf, [empty]))


def test_default_heap_after_2g_recording(recorded, cache_dir):
    """A 48g heap turns compressed oops off, and an archive recorded with
    them on does not map: the 48g session records its own, quietly, and the
    2 GiB archive stays."""
    small = archive_path(str(cache_dir))
    os.makedirs(os.path.dirname(small))
    shutil.copyfile(archive_path(recorded), small)
    big = archive_path(str(cache_dir), "48g")
    assert big != small
    report, output = run_session(str(cache_dir), driver_mem="48g")
    assert cds_args(report) == [f"-XX:ArchiveClassesAtExit={big}"]
    assert "[cds" not in output
    assert session._is_archive(big) and session._is_archive(small)
