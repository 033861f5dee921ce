"""Tracing for the per-layer run: spans kept in memory, job labels, and an
event-log reader that attributes Spark's work to the spans.

Only public calls are used. Spans are recorded around the calls the
benchmark makes into each layer (builder, action) and around the two
functions wrapped before ``load_all()`` imports the operators:
``sources.load_table`` and ``mapreduce.mr_run``. Jobs are labelled with
``setJobGroup("<kind>:<pass>:<query>")``, kind being ``build``, ``load``,
``exec`` or ``check``. Micro-batch jobs run on the stream's own thread under
a group of their own, so streaming work is attributed by streaming query id:
a stream belongs to the query whose builder span holds its start event.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_STREAM_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$"


@dataclass
class Span:
    layer: str
    name: str
    run: str  # pass label: "first", "check", "w0", "w1", ...
    query: str
    t0: float  # time.time() seconds
    t1: float = 0.0
    children: float = 0.0  # seconds covered by direct child spans

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children


@dataclass
class Tracer:
    spark_context: object = None
    spans: list[Span] = field(default_factory=list)
    # (run, query) that called mr_run -> accumulators of emitted pairs
    mr_queries: dict = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    run: str = ""
    query: str = ""
    group: str | None = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        s = Span(layer, name, self.run, self.query, time.time())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._stack:
                self._stack[-1].children += s.dur
            self.spans.append(s)

    def set_group(self, kind: str | None) -> None:
        """Label the jobs this thread starts from now on."""
        self.group = None if kind is None else f"{kind}:{self.run}:{self.query}"
        self.sc_group(self.group or "")

    def install(self) -> None:
        """Wrap ``sources.load_table`` and ``mapreduce.mr_run``. Must run
        before ``load_all()``: the operators bind ``load_table`` by name at
        import time."""
        import multithreaded_mapreduce_library_spark as pkg
        from multithreaded_mapreduce_library_spark import mapreduce, sources
        from multithreaded_mapreduce_library_spark.sources import tables

        real_load = tables.load_table
        real_mr_run = mapreduce.mr_run

        @functools.wraps(real_load)
        def load_table(spark, sf_dir, name):
            if threading.current_thread() is not threading.main_thread():
                return real_load(spark, sf_dir, name)  # e.g. a foreachBatch callback
            outer = self.group
            with self.span("sources", name):
                if outer is not None:
                    self.sc_group(f"load:{self.run}:{self.query}")
                try:
                    return real_load(spark, sf_dir, name)
                finally:
                    if outer is not None:
                        self.sc_group(outer)

        @functools.wraps(real_mr_run)
        def mr_run(spark, inputs, mapper, *args, **kwargs):
            if threading.current_thread() is not threading.main_thread():
                return real_mr_run(spark, inputs, mapper, *args, **kwargs)
            # Count the pairs the mappers emit past MR_Emit's empty-key
            # guard: Spark's own shuffle record count sees pickled batches.
            emitted = spark.sparkContext.accumulator(0)
            self.mr_queries.setdefault((self.run, self.query), []).append(emitted)

            def counted(record):
                n = 0
                for pair in mapper(record):
                    n += bool(pair[0])
                    yield pair
                emitted.add(n)

            with self.span("mapreduce", "mr_run"):
                return real_mr_run(spark, inputs, counted, *args, **kwargs)

        for mod in (tables, sources, pkg):
            mod.load_table = load_table
        for mod in (mapreduce, pkg):
            mod.mr_run = mr_run

    def sc_group(self, group: str) -> None:
        self.spark_context.setJobGroup(group, group)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str
    stream_id: str | None
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0
    # executor run time of tasks in stages that write shuffle (map side)
    # and of stages that only read it (reduce side)
    map_run_ms: int = 0
    reduce_run_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stream_starts: dict[str, float]  # query id -> start time (epoch s)
    progress: list[dict]


def _iso_epoch(ts: str) -> float:
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single uncompressed, unrolled event log in ``log_dir``."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    stream_starts: dict[str, float] = {}
    progress: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(
                    job_id=e["Job ID"],
                    group=props.get("spark.jobGroup.id", ""),
                    stream_id=props.get("sql.streaming.queryId"),
                )
                jobs[job.job_id] = job
                for sid in e["Stage IDs"]:
                    # a stage listed again by a later job was skipped there
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                stage_tasks[e["Stage ID"]].append(e)
            elif kind == _STREAM_EVENT + "QueryStartedEvent":
                stream_starts[e["id"]] = _iso_epoch(e["timestamp"])
            elif kind == _STREAM_EVENT + "QueryProgressEvent":
                progress.append(e["progress"])
    for sid, tasks in stage_tasks.items():
        job = jobs[stage_job[sid]]
        writes = any(
            (t.get("Task Metrics") or {}).get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for t in tasks
        )
        for t in tasks:
            info, m = t["Task Info"], t.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            shuffle_read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            job.tasks += 1
            job.run_ms += run_ms
            job.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            job.gc_ms += m.get("JVM GC Time", 0)
            job.sched_delay_ms += max(
                0,
                info["Finish Time"] - info["Launch Time"] - run_ms
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            )
            job.shuffle_read_bytes += shuffle_read
            job.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            job.shuffle_write_records += wr.get("Shuffle Records Written", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            if writes:
                job.map_run_ms += run_ms
            elif shuffle_read:
                job.reduce_run_ms += run_ms
    return EventLog(jobs, stream_starts, progress)


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

def _stream_owner(spans: list[Span], log: EventLog) -> dict[str, tuple[str, str]]:
    """Streaming query id -> (pass, query) whose builder span holds the
    stream's start event."""
    builders = [s for s in spans if s.layer == "operators"]
    owner = {}
    for qid, t in log.stream_starts.items():
        for s in builders:
            if s.t0 <= t <= s.t1:
                owner[qid] = (s.run, s.query)
                break
    return owner


def per_query(tracer: Tracer, log: EventLog, output_keys: dict[str, int]):
    """Per-(pass, query) layer figures: the raw material of the metrics."""
    q: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        key = (s.run, s.query)
        if s.layer == "query":
            q[key]["wall_s"] += s.dur
        elif s.layer == "sources":
            q[key]["sources.load_calls"] += 1
            q[key]["sources.load_s"] += s.self_s
        elif s.layer == "mapreduce":
            q[key]["mapreduce.self_s"] += s.self_s
        elif s.layer == "operators":
            q[key]["builder_self_s"] += s.self_s
        elif s.layer == "exec":
            q[key]["exec.action_s"] += s.dur

    owner = _stream_owner(tracer.spans, log)
    for p in log.progress:
        key = owner.get(p["id"])
        if key is None:
            continue
        d = p.get("durationMs") or {}
        row = q[key]
        row["streaming.batches"] += 1
        row["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        row["streaming.add_batch_ms"] += d.get("addBatch", 0)
        row["streaming.planning_ms"] += d.get("queryPlanning", 0)
        row["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        ops = p.get("stateOperators") or []
        row["streaming.state_rows"] = max(row["streaming.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops))
        row["streaming.state_mem_bytes"] = max(
            row["streaming.state_mem_bytes"], sum(o.get("memoryUsedBytes", 0) for o in ops)
        )

    for job in log.jobs.values():
        if job.stream_id is not None:
            key, kind = owner.get(job.stream_id), "stream"
        else:
            kind, _, rest = job.group.partition(":")
            run, _, query = rest.partition(":")
            key = (run, query) if query else None
        if key is None:
            continue
        row = q[key]
        if kind == "load":
            row["sources.schema_jobs"] += 1
        elif kind in ("build", "stream"):
            row["operators.build_jobs"] += 1
            row["operators.build_run_ms"] += job.run_ms
        elif kind == "exec":
            row["exec.jobs"] += 1
            row["exec.tasks"] += job.tasks
            row["exec.executor_run_ms"] += job.run_ms
            row["exec.cpu_ms"] += job.cpu_ms
            row["exec.gc_ms"] += job.gc_ms
            row["exec.sched_delay_ms"] += job.sched_delay_ms
            row["exec.shuffle_read_bytes"] += job.shuffle_read_bytes
            row["exec.shuffle_write_bytes"] += job.shuffle_write_bytes
            row["exec.spill_bytes"] += job.spill_bytes
        if key in tracer.mr_queries and kind in ("build", "exec"):
            row["mapreduce.map_ms"] += job.map_run_ms
            row["mapreduce.reduce_ms"] += job.reduce_run_ms
            row["mapreduce.shuffle_records"] += job.shuffle_write_records
            row["mapreduce.shuffle_bytes"] += job.shuffle_write_bytes

    for key, row in q.items():
        # A builder that ran streams spent its own time in the streaming
        # layer: the triggers plus starting and stopping the queries.
        if row.get("streaming.batches"):
            row["streaming.start_stop_ms"] = row["builder_self_s"] * 1000 - row["streaming.trigger_ms"]
        else:
            row["operators.build_self_s"] = row["builder_self_s"]
        if key in tracer.mr_queries:
            row["mapreduce.emitted_pairs"] = sum(acc.value for acc in tracer.mr_queries[key])
            row["mapreduce.output_keys"] = output_keys.get(key[1], 0)
    return q


def layer_metrics(tracer: Tracer, log: EventLog, cores: int, output_keys: dict[str, int],
                  setup: dict[str, float], runs: list[str]):
    """Per-pass sums over the traced warm passes ``runs``, reported as
    their median, plus the per-query table written to the trace file."""
    q = per_query(tracer, log, output_keys)
    pass_walls = {s.run: s.dur for s in tracer.spans if s.layer == "pass"}
    per_pass = []
    for run in runs:
        rows = [row for (r, _), row in q.items() if r == run]
        tot: dict[str, float] = defaultdict(float)
        for row in rows:
            for k, v in row.items():
                tot[k] += v
        m = defaultdict(float, tot)
        m["session.get_spark_s"] = setup["get_spark_s"]
        m["registry.load_all_s"] = setup["load_all_s"]
        keys = tot.get("mapreduce.output_keys", 0)
        m["mapreduce.records_per_key"] = m["mapreduce.emitted_pairs"] / keys if keys else 0.0
        action_ms = m["exec.action_s"] * 1000
        m["exec.slot_busy_ratio"] = m["exec.executor_run_ms"] / (action_ms * cores) if action_ms else 0.0
        layers_s = (
            m["sources.load_s"] + m["operators.build_self_s"] + tot.get("mapreduce.self_s", 0.0)
            + (m["streaming.trigger_ms"] + m["streaming.start_stop_ms"]) / 1000 + m["exec.action_s"]
        )
        m["trace.pass_s"] = pass_walls[run]
        m["trace.self_time_share"] = layers_s / pass_walls[run]
        per_pass.append(dict(m))
    names = set().union(*per_pass)
    metrics = {name: statistics.median(p.get(name, 0.0) for p in per_pass) for name in names}
    table = {f"{r}/{qn}": dict(row) for (r, qn), row in sorted(q.items())}
    return metrics, per_pass, table
