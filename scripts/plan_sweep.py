"""Full-registry formatted-plan sweep: per-query physical-plan node
counts (shuffle exchanges, broadcast exchanges, parquet scans, joins by
strategy, Python-boundary nodes) over every BATCH query in the registry.

The optimization rounds' family-audit tool (OPTIMIZATION_r21.md /
OPTIMIZATION_r22.md): static plans overstate cost where AQE reuses
exchanges (CLAUDE.md r17 lesson — the executed plan is the arbiter for
reuse claims), but node-count drift between rounds is exactly how a
silent plan regression (a lost broadcast, a new Expand, a BatchEvalPython
creeping in) becomes visible without running anything.

Streaming queries are excluded (their builders execute the availableNow
replay internally); eager-build Lloyd builders run their training jobs
at plan-build time, which is fine — we want the serving plan text.

Usage: python scripts/plan_sweep.py <out.json>
An existing output file is never overwritten: the script exits, naming
it, before it starts a session.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multithreaded_mapreduce_library_spark.plans import formatted_plan
from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.session import get_spark
from multithreaded_mapreduce_library_spark.sources import default_sf_dir

USAGE = "Usage: python scripts/plan_sweep.py <out.json>"

# one count per TREE occurrence: formatted explain prints each operator
# in the numbered tree as "<Name> (<id>)" (partitioning/build-side
# detail lives only in the details section, whose headers are the
# reversed "(<id>) <Name>"), so anchoring on the trailing "(<id>)"
# counts tree nodes exactly once.
NODE_PATTERNS = {
    # a ReusedExchange reads an exchange counted elsewhere: its own column
    "shuffle_exchange": r"(?<!Broadcast)(?<!Reused)Exchange \(\d+\)",
    "reused_exchange": r"ReusedExchange \(\d+\)",
    "broadcast_exchange": r"BroadcastExchange \(\d+\)",
    "parquet_scan": r"Scan parquet",
    "rdd_scan": r"Scan ExistingRDD",
    "bhj": r"BroadcastHashJoin[^\n]*\(\d+\)",
    "smj": r"SortMergeJoin[^\n]*\(\d+\)",
    "shj": r"ShuffledHashJoin[^\n]*\(\d+\)",
    "bnlj": r"BroadcastNestedLoopJoin[^\n]*\(\d+\)",
    "cartesian": r"CartesianProduct[^\n]*\(\d+\)",
    "expand": r"Expand \(\d+\)",
    "generate": r"Generate \(\d+\)",
    "python": r"(?:BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|PythonMapInArrow)[^\n]*\(\d+\)",
}


def count_tree_nodes(plan: str) -> dict[str, int]:
    import re

    tree = plan.split("\n\n", 1)[0]  # numbered tree section only
    return {
        key: len(re.findall(pat, tree)) for key, pat in NODE_PATTERNS.items()
    }


def main(argv: list[str]) -> None:
    if len(argv) != 1:
        sys.exit(USAGE)
    out_path = argv[0]
    if os.path.exists(out_path):
        sys.exit(
            f"refusing to overwrite committed plan evidence: {out_path}"
            " (pick a new path or remove the file)"
        )
    sf_dir = default_sf_dir()
    spark = get_spark(app_name="plan_sweep")
    specs = load_all()
    sweep: dict[str, dict[str, int]] = {}
    skipped: list[str] = []
    for name in sorted(specs):
        if name.startswith("stream_"):
            skipped.append(name)
            continue
        try:
            df = specs[name].builder(spark, sf_dir)
        except Exception as exc:  # env-gated builders (e.g. missing codecs)
            skipped.append(f"{name} ({type(exc).__name__})")
            continue
        sweep[name] = count_tree_nodes(formatted_plan(df))
    result = {"sf_dir": sf_dir, "n_swept": len(sweep), "skipped": skipped,
              "queries": sweep}
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {len(sweep)} plans, {len(skipped)} skipped")
    # top offenders, for the round doc
    top = sorted(sweep.items(), key=lambda kv: -kv[1]["shuffle_exchange"])[:12]
    for n, c in top:
        print(f"{n}: shuffles={c['shuffle_exchange']} reused={c['reused_exchange']} "
              f"bcast={c['broadcast_exchange']} "
              f"scans={c['parquet_scan']} expand={c['expand']} python={c['python']}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
