"""No test runs ``scripts/*.py`` or ``bench.py``, so a helper they import
could be deleted or renamed without any test failing. This guard parses
each file and resolves every name it imports from the package or from
bench."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "multithreaded_mapreduce_library_spark"


def _checked_imports(path: str):
    """(line, module, name) for every ``from <package...>|bench import``."""
    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level or not node.module:
            continue
        if node.module == "bench" or node.module.split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.lineno, node.module, alias.name


def test_script_imports_resolve():
    files = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
    files.append(os.path.join(REPO, "bench.py"))
    checked, missing = 0, []
    for path in files:
        for line, module, name in _checked_imports(path):
            checked += 1
            where = f"{os.path.relpath(path, REPO)}:{line}: from {module} import {name}"
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                missing.append(f"{where} ({exc})")
                continue
            is_submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
                f"{module}.{name}"
            )
            if not (hasattr(mod, name) or is_submodule):
                missing.append(where)
    assert checked, "no package or bench imports found — the parser is broken"
    assert not missing, "stranded imports:\n" + "\n".join(missing)


def test_bench_clock_includes_builder(spark):
    """bench.best_of is the one timing loop of bench.py and the scripts; its
    clock starts before the builder, so build-time work (a 0.3 s sleep
    here, standing in for schema reads and eager jobs) is counted in
    every iteration, the best one included."""
    import time

    import bench

    def build():
        time.sleep(0.3)
        return spark.range(1)

    assert bench.best_of(build, 2) >= 0.3


def test_snap_plans_refuses_to_overwrite(monkeypatch, tmp_path):
    """snap_plans and plan_sweep check their targets before starting a
    session: with a target already present each exits naming that file,
    leaves it unchanged and never reaches get_spark, so no Spark job
    runs."""
    from scripts import plan_sweep, snap_plans

    monkeypatch.setattr(snap_plans, "REPO", str(tmp_path))
    sessions = []
    monkeypatch.setattr(snap_plans, "get_spark", lambda **kw: sessions.append(kw))
    kept = tmp_path / "plans" / "r99" / "pricing_summary_before.txt"
    kept.parent.mkdir(parents=True)
    kept.write_text("committed evidence\n")

    with pytest.raises(SystemExit, match="pricing_summary_before.txt"):
        snap_plans.main(["r99", "before", "wordcount", "pricing_summary"])
    assert kept.read_text() == "committed evidence\n"
    assert sorted(os.listdir(kept.parent)) == ["pricing_summary_before.txt"]

    monkeypatch.setattr(plan_sweep, "get_spark", lambda **kw: sessions.append(kw))
    sweep = tmp_path / "plan_sweep.json"
    sweep.write_text("{}\n")
    with pytest.raises(SystemExit, match="plan_sweep.json"):
        plan_sweep.main([str(sweep)])
    with pytest.raises(SystemExit, match="Usage"):
        plan_sweep.main([])
    assert sweep.read_text() == "{}\n"
    assert not sessions


@pytest.mark.parametrize("raw", ["0", "-2", "two", "1.5", ""])
def test_numeric_env_overrides_reject_bad_values(monkeypatch, raw):
    """SPARK_GRAFT_CPUS (session.default_cpus) and SPARK_GRAFT_BENCH_ITERS
    (bench.main) take integers >= 1. Any other value fails naming its
    variable, and bench.main fails before it reaches get_spark: a 0
    would otherwise start local[0], or time no iteration and print a
    non-JSON Infinity."""
    import bench
    from multithreaded_mapreduce_library_spark import session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.default_cpus()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ITERS", raw)
    monkeypatch.setattr(bench, "get_spark", lambda **kw: pytest.fail("session started"))
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_ITERS"):
        bench.main([])
