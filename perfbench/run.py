"""The repository's benchmark: one workload in a fresh Spark session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One closed-loop client (this process) runs
the workload's queries in sequence against ``local[nproc]``. A query's time
runs from its builder call to the end of its action (a ``noop`` write), so
jobs a builder runs eagerly are counted. Inputs are generated from the seed
into a private run directory outside every timing.

A run is: two set-ups (one in a fresh process, then this one's), the first
pass, a check that compares each of its outputs with the query's oracle,
then warm passes until ``--seconds`` have gone (at least three). The last
stdout line is the result JSON; with ``--trace 0`` it holds the end-to-end
metrics, with ``--trace 1`` the per-layer ones from a traced session (event
log, job groups, spans; see trace.py). The exit code is 1 if any query raised, any output differed from
its oracle or a self-test of the tracer failed.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_FILES = (
    "multithreaded_mapreduce_library_spark/__init__.py",
    "scripts/gen_fixture.py",
    "tests/oracle.py",
    "bench.py",
)
SETUP_SAMPLES = 2
MIN_WARM_PASSES = 3
# the tracer's self-test job: its task count in the event log must equal this
SELFTEST_GROUP = "selftest:tasks"
SELFTEST_PARTITIONS = 7


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return Run(args, run_dir).execute()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


class Run:
    def __init__(self, args, run_dir: str):
        from perfbench.host import pin_environment, spark_conf

        self.args = args
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.sf_dir = os.path.join(self.data_dir, "tables")
        pin_environment(ROOT, run_dir)
        self.log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
        self.conf = spark_conf(run_dir, self.log_dir)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.benchmark = json.load(f)  # metric names, units and bounds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.distwc_tokens: int | None = None
        self.passes: dict[str, dict[str, float]] = {}
        self.pass_wall: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------

    def setup_sample(self) -> dict[str, float]:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "setup_probe.py"), json.dumps(self.conf)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=120, check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    # -- passes ------------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def run_query(self, label: str, name: str, build):
        """Build and run one query; returns its DataFrame, None if it raised."""
        tr = self.tracer
        self.attempted += 1
        try:
            if tr is None:
                df = build(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                return df
            tr.query = name
            with tr.span("query", name):
                tr.set_group("build")
                with tr.span("operators", name):
                    df = build(self.spark, self.sf_dir)
                tr.set_group("exec")
                with tr.span("exec", name):
                    df.write.format("noop").mode("overwrite").save()
            tr.set_group(None)
            return df
        except Exception:
            traceback.print_exc()
            self.fail(f"{label}/{name} raised")
            return None

    def run_pass(self, label: str) -> dict:
        """One timed pass over the workload; returns each query's DataFrame."""
        from contextlib import nullcontext

        tr = self.tracer
        if tr is not None:
            tr.run = label
        times, outputs = {}, {}
        t_pass = time.perf_counter()
        with tr.span("pass", label) if tr is not None else nullcontext():
            for name, build in self.builders:
                t0 = time.perf_counter()
                outputs[name] = self.run_query(label, name, build)
                times[name] = time.perf_counter() - t0
        self.pass_wall[label] = time.perf_counter() - t_pass
        self.passes[label] = times
        return outputs

    def check_outputs(self, outputs: dict) -> dict[str, int]:
        """Compare the first pass's outputs with their oracles on the same
        tables, without building them again. Returns the distinct output
        keys of the MapReduce queries (traced run)."""
        from oracle import compare_query

        from perfbench.workloads import check_distwc

        tr = self.tracer
        if tr is not None:
            tr.run = "check"
        keys = {}
        for name, df in outputs.items():
            if df is None:
                continue  # counted when it raised
            self.attempted += 1
            if tr is not None:
                tr.query = name
                tr.set_group("check")
            try:
                if name == "distwc":
                    self.distwc_tokens = check_distwc(df, self.data_dir)
                else:
                    spec = dataclasses.replace(self.specs[name], builder=lambda _s, _d, df=df: df)
                    compare_query(self.spark, spec, self.sf_dir)
                if tr is not None and ("first", name) in tr.mr_queries:
                    keys[name] = df.count()
            except Exception:
                traceback.print_exc()
                self.fail(f"check/{name}")
        if tr is not None:
            tr.set_group(None)
        return keys

    # -- the run -----------------------------------------------------------

    def execute(self) -> int:
        args = self.args
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import bench  # canary probes only; bench.py's own figures are not these

        from perfbench import host
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, distwc_builder, generate_inputs

        diag = {"workload": args.workload, "seed": args.seed, "cores": host.cpu_count(),
                "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "load_avg_start": os.getloadavg(), "canary_start": bench._canary_pair()}
        phases = diag["phase_s"] = {}
        mark = [time.perf_counter()]

        def phase(name):
            now = time.perf_counter()
            phases[name] = now - mark[0]
            mark[0] = now

        generate_inputs(ROOT, self.data_dir, args.seed)
        phase("inputs")
        setups = []
        if not args.trace:
            setups = [self.setup_sample() for _ in range(SETUP_SAMPLES - 1)]
        phase("setup_samples")
        self.tracer = Tracer() if args.trace else None
        if self.tracer is not None:
            self.tracer.install()
        from multithreaded_mapreduce_library_spark.registry import load_all
        from multithreaded_mapreduce_library_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        self.specs = load_all()
        t2 = time.perf_counter()
        setups.append({"get_spark_s": t1 - t0, "load_all_s": t2 - t1})
        sampler = None
        if self.tracer is not None:
            sampler = host.RssSampler(host.jvm_pid(self.spark))
            sampler.start()

        queries = WORKLOADS[args.workload]
        self.builders = [
            (n, distwc_builder(self.data_dir) if n == "distwc" else self.specs[n].builder) for n in queries
        ]
        if self.tracer is not None:
            self.tracer.spark_context = self.spark.sparkContext

        phase("setup")
        outputs = self.run_pass("first")
        phase("first")
        output_keys = self.check_outputs(outputs)
        del outputs
        phase("check")
        warm = []
        t_warm = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
            warm.append(f"w{len(warm)}")
            self.run_pass(warm[-1])
        phase("warm")
        if self.tracer is not None:
            self.tracer.sc_group(SELFTEST_GROUP)
            self.spark.sparkContext.parallelize(range(700), SELFTEST_PARTITIONS).count()
            self.tracer.sc_group("")
        if sampler is not None:
            sampler.stop()
        host.stop_spark(self.spark, sampler.seen if sampler else ())
        phase("stop")
        diag.update(canary_end=bench._canary_pair(), load_avg_end=os.getloadavg(),
                    setups=setups, passes=self.passes, pass_wall=self.pass_wall)

        # per-query medians over the warm passes, summed: a burst of host
        # load in one pass moves one query's sample, not the sum
        pass_s = sum(statistics.median(self.passes[w][q] for w in warm) for q in queries)
        first_pass_s = self.pass_wall["first"]
        diag["first_pass_s"] = first_pass_s
        if args.trace:
            values = self.traced_metrics(setups[-1], warm, output_keys, diag)
            values["trace.pass_s"] = pass_s  # as pass_s, for the tracing overhead
            values["first_pass_s"] = first_pass_s
            values["peak_rss_mb"] = sampler.peak_bytes / 2**20
            # a layer no query of the workload reached reads 0
            metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in self.benchmark["per_layer"]}
        else:
            totals = [s["get_spark_s"] + s["load_all_s"] for s in setups]
            values = {"setup_s": statistics.median(totals), "pass_s": pass_s}
            metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in self.benchmark["end_to_end"]}
        diag.update(fail_ratio=self.failed / self.attempted, errors=self.errors)
        print(json.dumps({"diagnostics": diag}, default=str))
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if self.failed == 0 else 1

    def traced_metrics(self, setup, warm, output_keys, diag):
        from perfbench import trace
        from perfbench.host import cpu_count
        from perfbench.workloads import STATEFUL_STREAMS

        log = trace.read_event_log(self.log_dir)
        metrics, per_pass, table = trace.layer_metrics(
            self.tracer, log, cpu_count(), output_keys, setup, warm
        )
        # Self-tests of the tracer itself. Layer self-times must account for
        # each traced pass within the benchmark's pass_s bound.
        bound = next(m["bound"] for m in self.benchmark["end_to_end"] if m["name"] == "pass_s")
        checks = []
        probe = [j for j in log.jobs.values() if j.group == SELFTEST_GROUP]
        checks.append((f"event-log task count of a {SELFTEST_PARTITIONS}-partition job",
                       len(probe) == 1 and probe[0].tasks == SELFTEST_PARTITIONS))
        for run, m in zip(warm, per_pass):
            checks.append((f"{run}: layer self-times cover the pass within {bound}",
                           abs(1 - m["trace.self_time_share"]) <= bound))
        for name, _ in self.builders:
            for run in warm:
                row = table.get(f"{run}/{name}", {})
                if name.startswith("stream_"):
                    checks.append((f"{run}/{name}: at least one batch", row.get("streaming.batches", 0) >= 1))
                if name in STATEFUL_STREAMS:
                    checks.append((f"{run}/{name}: state rows", row.get("streaming.state_rows", 0) > 0))
                if name == "distwc":
                    checks.append((f"{run}/distwc: emitted pairs equal the corpus tokens",
                                   row.get("mapreduce.emitted_pairs") == self.distwc_tokens))
                elif (run, name) in self.tracer.mr_queries:
                    checks.append((f"{run}/{name}: emitted pairs", row.get("mapreduce.emitted_pairs", 0) > 0))
        for what, ok in checks:
            self.attempted += 1
            if not ok:
                self.fail(f"self-test: {what}")
        diag["self_tests"] = len(checks)
        out = os.path.join(ROOT, ".perfbench", f"trace-{self.args.workload}-{self.args.seed}.json")
        with open(out, "w") as f:
            json.dump({"metrics": metrics, "per_pass": dict(zip(warm, per_pass)), "per_query": table,
                       "spans": [vars(s) for s in self.tracer.spans]}, f, indent=1)
        diag["trace_file"] = os.path.relpath(out, ROOT)
        return metrics


if __name__ == "__main__":
    sys.exit(main())
