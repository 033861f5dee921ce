"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

    python bench.py            # the 16 headline queries + ann_serving
    python bench.py NAME...    # just the named queries, no ann_serving

Each query is timed by ``best_of``: its clock starts BEFORE the builder,
so build-time Spark jobs, parquet schema reads and plan analysis are
counted, then the result is forced end-to-end with the noop sink (full
computation, no driver-side collect). ``warm_up`` runs two tiny queries
first to take JVM/codegen startup out of the timings. scripts/
scale_probe.py and scripts/bench_reference.py time through the same two
functions.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.session import env_count, get_spark

# Headline set: one representative per operator family (scan+agg, joins,
# windows, text explode, dedup/LSH, vector search, event-time ops), plus
# the LLM-pipeline capstone (corpus_curation: quality gates + LSH dedup —
# the end-to-end query a training-data user actually runs).
HEADLINE = (
    "pricing_summary",
    "forecast_revenue",
    "join_large",
    "join_broadcast",
    "shipping_priority",
    "window_topk_per_group",
    "wordcount",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk_bruteforce",
    "sim_topk_ivf_quantized",
    "time_tumbling",
    "sessionize",
    "product_profit",
    "waiting_orders",
    "corpus_curation",
)


def warm_up(spark, specs, sf_dir: str) -> None:
    """Touch the JVM, codegen and the parquet reader on the fact table once
    (fixture files have a single row group, so scans are single-task)
    so the first timed query does not carry first-touch JIT cost."""
    for name in ("agg_stats", "filter_project"):
        specs[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()


def best_of(build: Callable[[], DataFrame], iters: int) -> float:
    """Best wall seconds over ``iters`` runs of ``build()`` plus a noop
    write of its result. The clock starts before ``build``: builders run
    Spark jobs at build time (schema reads, training, star contraction),
    and a caller of the query waits for them too."""
    best = float("inf")
    for _ in range(iters):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def bench_ann_serving(spark, sf_dir: str, iters: int) -> dict[str, float]:
    """Train-vs-serve split for both quantized ANN capstones (VERDICT r7
    #2): their end-to-end numbers are mostly in-query index builds,
    which misrepresents the steady-state serving cost a 100 TB
    deployment pays — there the index (trained cell assignment + codes)
    is built ONCE and amortized across every query batch. Per codec,
    ``build_ann_index`` builds the index and it materializes to parquet
    once (`index_build` for int8, `pq_index_build` for PQ), then
    shortlist→rerank runs against the materialized index alone (`serve`,
    `pq_serve`, best-of-iters). The headline total still carries the
    END-TO-END sim_topk_ivf_quantized number; this block is reported
    alongside it. Equivalence of the two paths is pinned by
    tests/test_pq.py::test_ann_serving_over_materialized_index_matches_end_to_end.
    """
    import shutil
    import tempfile

    from multithreaded_mapreduce_library_spark.operators.pq import (
        _ivfpq_shortlist_ids,
    )
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _ivfq_shortlist_ids,
        build_ann_index,
        exact_cosine_rerank,
    )

    out = {}
    for codec, prefix in (("int8", ""), ("pq", "pq_")):
        tmp = tempfile.mkdtemp(prefix=f"ann_index_{codec}_")
        try:
            t0 = time.perf_counter()
            index, codec_rows = build_ann_index(spark, sf_dir, codec)
            index.write.mode("overwrite").parquet(tmp)
            out[prefix + "index_build"] = round(time.perf_counter() - t0, 3)
            idx = spark.read.parquet(tmp)

            def serve() -> DataFrame:
                if codec == "int8":
                    short_ids = _ivfq_shortlist_ids(idx)
                else:
                    short_ids = _ivfpq_shortlist_ids(spark, sf_dir, idx, codec_rows)
                return exact_cosine_rerank(spark, sf_dir, short_ids, 3)

            out[prefix + "serve"] = round(best_of(serve, iters), 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _time_once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _py_loop_once() -> float:
    """Interpreter-throughput canary payload, one half of ``_canary_pair``
    (scripts/canary.py and perfbench record that pair, so every probe
    shares one payload definition and none can drift — ADVICE r19)."""
    return _time_once(lambda: sum(i * i for i in range(2_000_000)))


def _canary_pair() -> dict[str, float]:
    """Best-of-3 probe pair. Recorded at bench START and END: r19 proved
    VM-level steal can burst mid-run on a clean-start box, so a single
    leading canary cannot certify a total — trust a run only when BOTH
    brackets are clean (py_loop in the host band, blas at or below the
    quiet ceiling ~0.030)."""
    return {
        "py_loop_sec": round(min(_py_loop_once() for _ in range(3)), 4),
        "blas_matmul_sec": round(min(_blas_once() for _ in range(3)), 4),
    }


def _blas_once() -> float:
    import numpy as np

    a = np.full((768, 768), 0.5)
    return _time_once(lambda: a @ a)


def main(names: list[str]) -> None:
    """Time ``names`` (default: HEADLINE plus the ann_serving block)."""
    from multithreaded_mapreduce_library_spark.sources import default_sf_dir

    sf_dir = default_sf_dir()
    # best-of-N per query (default 3): the first run of a pipeline pays
    # one-time whole-stage-codegen compilation (~0.5-1s for the wide LSH
    # plans), and multi-stage plans (waiting_orders) show ±0.5s
    # scheduling jitter at local[32] — best-of-3 reports steady-state
    # cost, which is what scales with data volume. Read before the
    # session starts, so a bad value fails without a JVM.
    iters = env_count("SPARK_GRAFT_BENCH_ITERS", 3)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    specs = load_all()
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark(app_name="bench")
    warm_up(spark, specs, sf_dir)

    # Machine-load provenance: every bench dispute in rounds 3-5 turned
    # out to be a loaded box (single loaded runs read 50-100% high vs the
    # quiet-box band in PERF.md). Recording 1/5/15-min loadavg at start
    # and end plus wall timestamps makes a high number self-diagnosing.
    load_start = os.getloadavg()
    # Host-throughput canary (r11): the 3.7-4.8s legacy-15 quiet band
    # stopped reproducing on an idle box (loadavg 0.00, steal ~0.1%) with
    # identical code — a host-level shift loadavg cannot see. Timing two
    # fixed single-process workloads (interpreter loop + BLAS matmul)
    # alongside every bench makes the next shift self-diagnosing: if the
    # canaries move with the query times, it's the host, not the code.
    canary = _canary_pair()
    t_start = time.time()
    timings: dict[str, float] = {}
    # Per-query wall-clock windows (VERDICT r21 #7): the run-level canary
    # brackets certify a TOTAL, but a steal burst inside an otherwise
    # clean run inflates individual queries invisibly (r20's sessionize
    # 1.731s vs its 0.33s band). Recording [start_unix, end_unix] per
    # query lets the next PERF comparison place a suspect number inside
    # the loadavg/wall timeline. Two time.time() reads per query, both
    # OUTSIDE the timed regions — additive, timing-neutral.
    query_wall: dict[str, list[float]] = {}
    for name in names or HEADLINE:
        # Guide §1.5: label jobs so a UI/eventlog reading of the bench
        # maps stages to queries. Thread-local, set OUTSIDE the timed
        # region (one py4j call per query, before the clock starts).
        spark.sparkContext.setJobDescription(f"bench:{name}")
        q_wall0 = time.time()
        timings[name] = round(best_of(lambda: specs[name].builder(spark, sf_dir), iters), 3)
        query_wall[name] = [round(q_wall0, 1), round(time.time(), 1)]
    ann_block = {}
    if not names:
        spark.sparkContext.setJobDescription("bench:ann_serving")
        ann_block = {"ann_serving": bench_ann_serving(spark, sf_dir, iters)}
    spark.sparkContext.setJobDescription(None)

    # Trailing canary (r19 lesson, VERDICT r19 #3): steal bursts WITHIN a
    # run on this host class, so the closing-number protocol brackets
    # every run — a total is certifiable only if start AND end canaries
    # are both clean; otherwise re-run and take the best clean-bracket
    # total. Dirty-bracket totals are recorded but never the anchor.
    canary_end = _canary_pair()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # steady-state serving cost of both quantized ANN
                # capstones over a once-materialized index; the headline
                # total carries the END-TO-END (train-in-query) number
                **ann_block,
                "sf": sf,
                "cpu_canary": canary,
                "cpu_canary_end": canary_end,
                # additive (r22): per-query wall windows for post-hoc
                # burst attribution; see the comment at query_wall above
                "query_wall": query_wall,
                "load_avg_start": [round(x, 2) for x in load_start],
                "load_avg_end": [round(x, 2) for x in os.getloadavg()],
                "wall_start_unix": round(t_start, 1),
                "wall_end_unix": round(time.time(), 1),
                "iters": iters,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
