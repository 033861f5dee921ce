#!/usr/bin/env python
"""Reproduce the BASELINE.md head-to-head: the reference's own wordcount
binary vs this engine's `wordcount` query on identical data.

Builds the reference UNMODIFIED (its own Makefile) in a scratch dir —
nothing is copied into this repo — exports the fixture documents to
one-doc-per-line text files, runs both engines, and verifies the
reference's per-partition result files sum to exactly the Spark counts.

    python scripts/bench_reference.py [sf_dir] [n_files]

Defaults: /root/testdata/sf0.1, 32 files.
"""

from __future__ import annotations

import collections
import glob
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    scratch = tempfile.mkdtemp(prefix="refbench-")
    try:
        return _run(scratch, sf_dir, n_files)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(scratch: str, sf_dir: str, n_files: int) -> int:
    # r20 closing-number protocol: bracket the head-to-head with the same
    # canary pair bench.py records — both legs share one host, so a dirty
    # bracket taints the SPEEDUP ratio, not just the absolute times
    # (r19: the reference leg alone swung 21.3s -> 41.8s between runs).
    from bench import _canary_pair, best_of, warm_up

    build, data, run = (os.path.join(scratch, d) for d in ("build", "data", "run"))
    os.makedirs(data)
    os.makedirs(run)

    # 1. build the reference with its own Makefile
    shutil.copytree(REFERENCE, build, ignore=shutil.ignore_patterns(".git"))
    subprocess.run(["make", "wordcount"], cwd=build, check=True, capture_output=True)

    # 2. export documents.text to n_files text files (newlines flattened —
    #    both tokenizers split on them anyway, this keeps doc = line)
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    handles = [open(os.path.join(data, f"part-{i:02d}.txt"), "w") for i in range(n_files)]
    for doc_id, text in rows:
        handles[doc_id % n_files].write(text.replace("\n", " ") + "\n")
    for fh in handles:
        fh.close()

    # 3. time the reference (its hardcoded 5 workers / 10 partitions).
    # The canary bracket OPENS here, immediately before the first timed
    # leg (ADVICE r20: probing at the top of _run spanned minutes of
    # untimed build/export setup, so a burst during setup dirtied the
    # bracket without touching the measured window, and a clean start
    # probe was stale by the time this leg began).
    canary_start = _canary_pair()
    files = sorted(glob.glob(os.path.join(data, "part-*.txt")))
    t0 = time.perf_counter()
    subprocess.run([os.path.join(build, "wordcount"), *files], cwd=run, check=True)
    ref_wall = time.perf_counter() - t0
    ref_counts: collections.Counter = collections.Counter()
    for f in glob.glob(os.path.join(run, "result-*.txt")):
        for line in open(f):
            word, cnt = line.rsplit(": ", 1)
            ref_counts[word] += int(cnt)

    # 4. time this engine's wordcount on the parquet fixture (best-of-3,
    #    builder included, like bench.py)
    from multithreaded_mapreduce_library_spark.registry import load_all
    from multithreaded_mapreduce_library_spark.session import get_spark

    spark = get_spark(app_name="bench-reference")
    specs = load_all()
    builder = specs["wordcount"].builder
    warm_up(spark, specs, sf_dir)
    spark_wall = best_of(lambda: builder(spark, sf_dir), 3)
    ours = collections.Counter(
        {r["word"]: r["cnt"] for r in builder(spark, sf_dir).collect()}
    )
    spark.stop()

    canary_end = _canary_pair()
    identical = ref_counts == ours
    print(
        f"reference wordcount : {ref_wall:.2f}s  ({len(ref_counts)} words, "
        f"{sum(ref_counts.values())} tokens)"
    )
    print(f"this engine         : {spark_wall:.2f}s  (best-of-3, builder + noop sink)")
    print(f"speedup             : {ref_wall / spark_wall:.0f}x")
    print(f"counts identical    : {identical}")
    print(f"canary bracket      : start {canary_start} end {canary_end}")
    return 0 if identical else 1


if __name__ == "__main__":
    raise SystemExit(main())
