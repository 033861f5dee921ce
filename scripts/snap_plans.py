"""Snapshot .explain('formatted') for named queries into plans/<round>/.

Usage: python scripts/snap_plans.py <round> <tag> [query ...]
e.g. ``python scripts/snap_plans.py r22 before sim_topk_pq``. Defaults to
the bench HEADLINE set. Output: plans/<round>/<query>_<tag>.txt (the
optimization-round evidence files that plan claims are checked against).
An existing target file is never overwritten: the script exits, naming the
files, before it starts a session.
Eager-build Lloyd queries run their training jobs at build time; that is
fine here — we want the serving plan text. SPARK_GRAFT_SF_DIR picks the
fixture (``sources.default_sf_dir``).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE
from multithreaded_mapreduce_library_spark.plans import formatted_plan
from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.session import get_spark
from multithreaded_mapreduce_library_spark.sources import default_sf_dir

USAGE = "Usage: python scripts/snap_plans.py <round> <tag> [query ...]"


def main(argv: list[str]) -> None:
    if len(argv) < 2:
        sys.exit(USAGE)
    round_name, tag = argv[0], argv[1]
    names = argv[2:] or list(HEADLINE)
    out_dir = os.path.join(REPO, "plans", round_name)
    paths = {name: os.path.join(out_dir, f"{name}_{tag}.txt") for name in names}
    existing = [p for p in paths.values() if os.path.exists(p)]
    if existing:
        sys.exit(
            "refusing to overwrite committed plan evidence: "
            + ", ".join(existing)
            + " (pick a new tag or remove the files)"
        )
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = default_sf_dir()
    spark = get_spark(app_name=f"snap_plans_{round_name}_{tag}")
    specs = load_all()
    for name, path in paths.items():
        plan = formatted_plan(specs[name].builder(spark, sf_dir))
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
