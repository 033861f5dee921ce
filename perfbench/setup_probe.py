"""One set-up sample in a fresh process: ``get_spark`` + ``load_all``, timed.

run.py starts this with the environment it pinned and the session's
``extra_conf`` as a JSON argument; it prints one JSON line, then kills the
JVM it started (a clean stop is not part of set-up, and takes a second),
waits for it to end and exits.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    conf = json.loads(sys.argv[1])
    from multithreaded_mapreduce_library_spark.registry import load_all
    from multithreaded_mapreduce_library_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    load_all()
    t2 = time.perf_counter()
    print(json.dumps({"get_spark_s": t1 - t0, "load_all_s": t2 - t1}), flush=True)
    jvm = spark.sparkContext._gateway.proc
    jvm.kill()
    jvm.wait()
    os._exit(0)  # skip the interpreter's shutdown hooks, which call the dead JVM


if __name__ == "__main__":
    main()
