"""Streaming semantics tests: stream results vs their batch twins."""

from __future__ import annotations

from multithreaded_mapreduce_library_spark.registry import load_all

SPECS = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    """Complete-mode streaming agg over a full replay == batch windowed agg."""
    stream = SPECS["stream_tumbling"].builder(spark, sf_dir)
    batch = SPECS["time_tumbling"].builder(spark, sf_dir)
    assert _rows(stream) == _rows(batch)


def test_stream_dedup_complete_and_unique(spark, sf_dir):
    out = SPECS["stream_dedup"].builder(spark, sf_dir).collect()
    ids = [r["event_id"] for r in out]
    assert len(ids) == len(set(ids))
    # fixture has no duplicate event_ids, so dedup passes everything through
    from multithreaded_mapreduce_library_spark.sources import load_table

    assert len(ids) == load_table(spark, sf_dir, "events").count()


def test_stream_dedup_drops_actual_duplicates(spark, tmp_path):
    """The fixture's unique keys make stream_dedup's oracle an identity
    projection; this pins the dedup semantics PROPER with a synthesized
    duplicate-bearing stream: one surviving row per key, and every
    survivor is one of that key's input rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.streaming.queries import run_to_memory

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (i % 4, f"payload_{i}", base + dt.timedelta(minutes=i)) for i in range(12)
    ]
    src = tmp_path / "dup_src"
    src.mkdir()
    spark.createDataFrame(
        rows, "event_id long, payload string, ts timestamp"
    ).coalesce(1).write.parquet(str(src / "events.parquet"))
    stream = (
        spark.readStream.schema("event_id long, payload string, ts timestamp")
        .parquet(str(src / "*"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    out = run_to_memory(stream, "append").collect()
    assert sorted(r["event_id"] for r in out) == [0, 1, 2, 3]
    by_key = {}
    for eid, payload, _ in rows:
        by_key.setdefault(eid, set()).add(payload)
    for r in out:
        assert r["payload"] in by_key[r["event_id"]]


def test_stream_sliding_watermark_subset_of_batch(spark, sf_dir):
    """Append mode emits only watermark-finalized windows — a strict subset
    of the batch result, and every emitted window must match batch exactly."""
    stream = {(r["window_start"], r["event_type"]): r["cnt"]
              for r in SPECS["stream_sliding_watermark"].builder(spark, sf_dir).collect()}
    batch = {(r["window_start"], r["event_type"]): r["cnt"]
             for r in SPECS["time_sliding"].builder(spark, sf_dir).collect()}
    assert set(stream) <= set(batch)
    assert all(batch[k] == v for k, v in stream.items())
    assert len(stream) > 0


def test_stream_session_subset_of_batch(spark, sf_dir):
    stream = {(r["user_id"], r["session_start"]): r["n_events"]
              for r in SPECS["stream_session"].builder(spark, sf_dir).collect()}
    batch = {(r["user_id"], r["session_start"]): r["n_events"]
             for r in SPECS["sessionize"].builder(spark, sf_dir).collect()}
    assert set(stream) <= set(batch)
    assert all(batch[k] == v for k, v in stream.items())
    assert len(stream) > 0


def test_stream_session_complete_below_watermark(spark, sf_dir):
    """Completeness half of the session anchor (subset alone is vacuously
    passable by an empty stream): after the availableNow replay the final
    watermark sits at max(ts) - 30min, so every session whose window end
    (last event + 15min gap) is safely below it MUST have been emitted,
    with exactly the batch twin's event count."""
    import datetime as dt

    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    sw = (
        e.groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    max_ts = e.agg(F.max("ts").alias("m")).collect()[0]["m"]
    # 1-minute safety margin keeps the assertion off the exact >-vs->=
    # finalization boundary
    settled_before = max_ts - dt.timedelta(minutes=31)
    closed = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sw.collect()
        if r["session_end"] < settled_before
    }
    stream = {(r["user_id"], r["session_start"]): r["n_events"]
              for r in SPECS["stream_session"].builder(spark, sf_dir).collect()}
    assert closed, "fixture produced no watermark-closed sessions"
    missing = {k: v for k, v in closed.items() if stream.get(k) != v}
    assert not missing, f"{len(missing)} closed sessions not emitted exactly: {list(missing)[:5]}"


def test_stream_sliding_complete_below_watermark(spark, sf_dir):
    """Same completeness anchor for the sliding-window append stream:
    every (window, event_type) whose window end is safely below the final
    2-hour watermark must appear with the exact batch count."""
    import datetime as dt

    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )
    max_ts = e.agg(F.max("ts").alias("m")).collect()[0]["m"]
    settled_before = max_ts - dt.timedelta(hours=2, minutes=1)
    closed = {
        (r["window_start"], r["event_type"]): r["cnt"]
        for r in batch.collect()
        if r["window_end"] < settled_before
    }
    stream = {(r["window_start"], r["event_type"]): r["cnt"]
              for r in SPECS["stream_sliding_watermark"].builder(spark, sf_dir).collect()}
    assert closed, "fixture produced no watermark-closed windows"
    missing = {k: v for k, v in closed.items() if stream.get(k) != v}
    assert not missing, f"{len(missing)} closed windows not emitted exactly: {list(missing)[:5]}"


def test_stream_stateful_running_max(spark, sf_dir):
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources import load_table

    out = {r["user_id"]: (r["max_value"], r["n_events"])
           for r in SPECS["stream_stateful_running_max"].builder(spark, sf_dir).collect()}
    exp = {r["user_id"]: (r["mx"], r["n"])
           for r in load_table(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
           .collect()}
    assert out == exp


def test_vectorized_topk_agrees_with_bruteforce(spark, sf_dir):
    """BLAS matmul path must reproduce the exact fold path: identical
    neighbor ranking, cosines within float reassociation error."""
    bf = {(r["query_id"], r["rnk"]): (r["neighbor_id"], r["cosine"])
          for r in SPECS["sim_topk_bruteforce"].builder(spark, sf_dir).collect()}
    vec = {(r["query_id"], r["rnk"]): (r["neighbor_id"], r["cosine"])
           for r in SPECS["sim_topk_vectorized"].builder(spark, sf_dir).collect()}
    assert set(bf) == set(vec)
    for k in bf:
        assert bf[k][0] == vec[k][0], f"neighbor ranking diverged at {k}"
        assert abs(bf[k][1] - vec[k][1]) < 1e-9


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-data semantics needs real micro-batch sequencing: with
    availableNow, Spark plans all batches' watermarks upfront, so a late
    file in the same run is NOT filtered (observed empirically). Run a
    live processingTime stream instead: file 1 commits and advances the
    watermark, then file 2 arrives with a 3-hours-late event — the state
    store drops it (numRowsDroppedByWatermark) and it never reaches the
    append output."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    src_dir = tmp_path / "late_src"
    src_dir.mkdir()
    base = dt.datetime(2024, 6, 1, 12, 0, 0)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .parquet(str(src_dir / "*"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), F.min("id").alias("min_id"))
    )

    on_time = [(i, base + dt.timedelta(minutes=i)) for i in range(60)]
    spark.createDataFrame(on_time, "id long, ts timestamp").coalesce(1).write.parquet(
        str(src_dir / "batch1")
    )

    q = (
        stream.writeStream.format("memory")
        .queryName("late_live_sink")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p["numInputRows"] == 60 for p in q.recentProgress):
                break
            time.sleep(0.3)
        else:
            raise AssertionError(f"batch1 never processed: {q.recentProgress}")

        late = [(1000, base - dt.timedelta(hours=3))]
        fresh = [(1001, base + dt.timedelta(minutes=59))]
        spark.createDataFrame(late + fresh, "id long, ts timestamp").coalesce(
            1
        ).write.parquet(str(src_dir / "batch2"))

        deadline = time.time() + 60
        dropped = 0
        while time.time() < deadline:
            for p in q.recentProgress:
                if p["numInputRows"] == 2 and p["stateOperators"]:
                    dropped = p["stateOperators"][0]["numRowsDroppedByWatermark"]
                    break
            if dropped:
                break
            time.sleep(0.3)
        assert dropped == 1, f"late row not dropped by watermark: {q.recentProgress}"
        ids = {r["min_id"] for r in spark.table("late_live_sink").collect()}
        assert 1000 not in ids
    finally:
        q.stop()


def test_stream_funnel_equals_batch(spark, sf_dir):
    """The stateful streaming funnel's settled totals must equal the batch
    event_funnel exactly (same attribution semantics, ROWS-frame tie
    order included). Streaming also emits zero-click users; restrict to
    the batch domain."""
    stream = {r["user_id"]: (r["n_clicks"], r["n_converted"])
              for r in SPECS["stream_funnel"].builder(spark, sf_dir).collect()}
    batch = {r["user_id"]: (r["n_clicks"], r["n_converted"])
             for r in SPECS["event_funnel"].builder(spark, sf_dir).collect()}
    assert set(batch) <= set(stream)
    for uid, exp in batch.items():
        assert stream[uid] == exp, f"user {uid}: stream {stream[uid]} != batch {exp}"
    # users with no clicks appear in the stream output with zero counts
    assert all(stream[u][0] == 0 for u in set(stream) - set(batch))


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates are a superset of single-probe's, so recall
    against the exact brute-force top-k can only improve — assert it."""
    def topk(name, k=3):
        out = {}
        for r in SPECS[name].builder(spark, sf_dir).collect():
            if r["rnk"] <= k:
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk("sim_topk_bruteforce")
    single = topk("sim_topk_ivf")
    multi = topk("sim_topk_multiprobe")

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    r_single, r_multi = recall(single), recall(multi)
    assert r_multi >= r_single, f"multiprobe recall {r_multi} < single {r_single}"
    assert r_multi > 0


def test_trained_ivf_recall_beats_sign_buckets(spark, sf_dir):
    """The point of training the coarse quantizer: Lloyd-refined cells
    follow the data distribution, so cell-local probing recovers more of
    the exact top-k than the data-oblivious sign buckets at comparable
    probe cost. Measured 0.30 vs 0.13-0.17 recall@3 on the checked-in
    fixtures. The ORDERING is data-dependent: on a regenerated fixture
    (layouts/data regenerate between rounds) the gap could legitimately
    narrow to a tie without any code bug, so assert non-strict dominance
    (>=) plus the 0.2 absolute floor — the floor is the hard claim
    (headroom under the measured 0.30, above sign-bucket's ceiling);
    the >= guards against an outright regression where training makes
    recall WORSE than the untrained stand-in."""
    def topk(name, k=3):
        out = {}
        for r in SPECS[name].builder(spark, sf_dir).collect():
            if r["rnk"] <= k:
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk("sim_topk_bruteforce")
    sign = topk("sim_topk_ivf")
    trained = topk("sim_topk_ivf_trained")

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    r_sign, r_trained = recall(sign), recall(trained)
    assert r_trained >= r_sign, (
        f"trained-IVF recall {r_trained} regressed below sign buckets {r_sign}"
    )
    assert r_trained >= 0.2


def test_ivf_quantized_serving_results_are_cell_local_and_shortlisted(spark, sf_dir):
    """Structural contract of the capstone serving query: every returned
    neighbor shares its query's TRAINED cell (candidates never leave the
    cell), ranks are dense from 1, and every returned pair also appears
    in the exact same-cell ranking (the int8 shortlist can only SELECT
    from the cell, never invent pairs)."""
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in SPECS["ivf_train_centroids"].builder(spark, sf_dir).collect()
    }
    rows = SPECS["sim_topk_ivf_quantized"].builder(spark, sf_dir).collect()
    assert rows, "serving query returned nothing"
    by_q = {}
    for r in rows:
        assert cells[r["query_id"]] == cells[r["neighbor_id"]], (
            f"neighbor {r['neighbor_id']} outside query {r['query_id']}'s cell"
        )
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (q, rnks)
    trained_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["sim_topk_ivf_trained"].builder(spark, sf_dir).collect()
    }
    # same top-3-by-cosine contract: when the int8 shortlist retains the
    # true cell top-3 (it does on the fixture), the two queries agree
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in rows}
    overlap = len(got_pairs & trained_pairs) / max(len(trained_pairs), 1)
    assert overlap >= 0.5, (
        f"int8 shortlist lost most of the exact cell top-3 (overlap {overlap:.2f})"
    )


def test_lloyd_inertia_monotone(spark, sf_dir):
    """The convergence property that makes multi-round Lloyd worth
    running: total within-cell squared distance must not increase as
    rounds of (update centroids -> re-assign) are added. Exact k-means
    guarantees strict non-increase; the fixed-point pipeline perturbs a
    centroid off the exact minimizer twice — the per-member input
    quantization floor(x*1e6 + 0.5) shifts the mean by up to 5e-7 when
    members' fractional residues align, and the final mean rounding adds
    up to another 5e-7 — so the centroid can sit up to ~1e-6 off, and
    the induced inertia change per (vector, component) is
    ~2*|x - c|*1e-6, up to ~2 fx units at the fixture's |x - c| <= ~1
    range. Allow 2 fx units per (vector, dimension) of slack — still
    many orders of magnitude below the inertia itself, and robust to a
    regenerated fixture with adversarial residue alignment."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        DIM,
        lloyd_inertia_fx,
    )
    from multithreaded_mapreduce_library_spark.sources import load_table

    n_vec = load_table(spark, sf_dir, "embeddings").count()
    slack = 2 * n_vec * DIM  # 2 fixed-point units per component per vector
    inertias = [lloyd_inertia_fx(spark, sf_dir, r) for r in (1, 2, 3)]
    for prev, cur in zip(inertias, inertias[1:]):
        assert cur <= prev + slack, (
            f"inertia increased across Lloyd rounds: {inertias}"
        )
    # and the loop must actually improve something on the fixture — a
    # no-op update() (e.g. always returning the seeds) would pass the
    # monotone check trivially
    assert inertias[-1] < inertias[0], inertias


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Production durability: a stream with a checkpointLocation survives
    stop/restart without reprocessing — file 1's rows are NOT re-emitted
    after restart, file 2's appear exactly once (offset tracking + sink
    commit log)."""
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "ckpt_src"
    ckpt = tmp_path / "ckpt_state"
    src.mkdir()

    def start_query():
        stream = (
            spark.readStream.schema("id long, v double")
            .parquet(str(src / "*"))
            .groupBy((F.col("id") % 4).alias("bucket"))
            .agg(F.count("*").alias("cnt"))
        )
        return (
            stream.writeStream.format("memory")
            .queryName("ckpt_sink")
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )

    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    ).coalesce(1).write.parquet(str(src / "f1"))
    q = start_query()
    q.awaitTermination()
    first = {r["bucket"]: r["cnt"] for r in spark.table("ckpt_sink").collect()}
    assert sum(first.values()) == 100

    # restart from the same checkpoint with a new file present
    spark.createDataFrame(
        [(i, float(i)) for i in range(100, 140)], "id long, v double"
    ).coalesce(1).write.parquet(str(src / "f2"))
    q2 = start_query()
    q2.awaitTermination()
    second = {r["bucket"]: r["cnt"] for r in spark.table("ckpt_sink").collect()}
    # complete-mode state restored from checkpoint + only the new rows added:
    # total is 140, not 240 (f1 not reprocessed) and not 40 (state kept)
    assert sum(second.values()) == 140, second


def test_checkpoint_restart_restores_group_state(spark, tmp_path):
    """Kill-and-restart durability for the CUSTOM stateful path
    (applyInPandasWithState), not just the built-in agg: run 1 commits a
    pending click into GroupState via the checkpoint, the query stops,
    and run 2 — a fresh query from the same checkpoint — processes only
    the new file containing the attributing purchase. The conversion can
    only be counted if the state store restored the pending click (run 2
    never sees the click row: the offset log skips file 1), so the
    asserted row is direct evidence of the GroupState save/restore path."""
    import datetime as dt

    from multithreaded_mapreduce_library_spark.sources.tables import (
        normalize_events_ts,
    )
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        funnel_transform,
    )

    src = tmp_path / "ckpt_funnel_src"
    ckpt = tmp_path / "ckpt_funnel_state"
    src.mkdir()
    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    schema = (
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string"
    )

    def run_once(sink_rows):
        # foreachBatch (not the memory sink, which refuses checkpoint
        # recovery outside complete mode) — the recovery-capable sink
        # shape a production stateful job would use
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            funnel_transform(normalize_events_ts(stream))
            .writeStream.foreachBatch(
                lambda df, _epoch: sink_rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: a lone click — state now holds it as pending
    spark.createDataFrame(
        [(1, 1, "click", T, 1.0, "{}")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    first: list = []
    run_once(first)
    assert [(r["n_clicks"], r["n_converted"]) for r in first] == [(1, 0)], first

    # run 2 (simulated restart after a crash/stop): only the purchase file
    # is new; attribution requires the RESTORED pending click
    spark.createDataFrame(
        [(2, 1, "purchase", T + dt.timedelta(minutes=30), 1.0, "{}")], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    second: list = []
    run_once(second)
    assert [(r["user_id"], r["n_clicks"], r["n_converted"]) for r in second] == [
        (1, 1, 1)
    ], f"GroupState not restored across restart: {second}"


def test_watermark_boundary_is_inclusive_and_ms_truncated(spark, tmp_path):
    """Pins the two facts the sliding/session oracles encode (they were
    first verified with a throwaway fixture — this is the checked-in
    version): (1) a window whose end equals the final watermark IS
    emitted (inclusive <=, not strict <); (2) the watermark truncates
    event time to MILLISECONDS, so a max-ts microsecond tail does not
    push the watermark past a boundary window. If a Spark upgrade flips
    either, this fails before the oracle starts flaking."""
    import datetime as dt

    from pyspark.sql import functions as F

    def run(max_ts):
        d = tmp_path / f"wmb_{max_ts.microsecond}"
        d.mkdir()
        rows = [(1, dt.datetime(2024, 1, 1, 2, 30, 0)), (2, max_ts)]
        spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1).write.parquet(
            str(d / "f.parquet")
        )
        s = (
            spark.readStream.schema("id long, ts timestamp")
            .parquet(str(d / "*"))
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("c"))
        )
        name = f"wmb_sink_{max_ts.microsecond}"
        q = (
            s.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {str(r["w"]["start"]) for r in spark.table(name).collect()}

    # max = 05:00:00.000000 → watermark = 03:00:00.000; the [02:00, 03:00)
    # window's end EQUALS the watermark and must be emitted (inclusive).
    assert run(dt.datetime(2024, 1, 1, 5, 0, 0)) == {"2024-01-01 02:00:00"}
    # max = 04:59:59.999999 → floor_ms = 04:59:59.999 → watermark
    # 02:59:59.999 < window end 03:00 → NOT emitted. (Without truncation
    # the sub-ms tail wouldn't change this case; combined with the case
    # above it pins that the boundary sits at the ms-truncated value.)
    assert run(dt.datetime(2024, 1, 1, 4, 59, 59, 999999)) == set()


def test_asof_window_counts_same_timestamp_click(spark, tmp_path):
    """Tie semantics for the as-of pair: the shared oracle counts any
    click with c.ts <= p.ts, INCLUDING one at exactly the purchase's
    timestamp — the window formulation must order clicks before
    purchases at equal ts or it silently drops that click (and with it
    the whole purchase row when it was the only click)."""
    import datetime as dt

    d = tmp_path / "asof_tie"
    d.mkdir()
    T = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: normal prior click
        (1, 1, "click", T, 1.0, "{}"),
        (2, 1, "purchase", T + dt.timedelta(minutes=5), 1.0, "{}"),
        # user 2: the tie — purchase has the SMALLER event_id at equal ts
        (10, 2, "purchase", T, 1.0, "{}"),
        (11, 2, "click", T, 1.0, "{}"),
        # user 3: purchase with no clicks at all — excluded by both
        (20, 3, "purchase", T, 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double, props string"
    ).coalesce(1).write.parquet(str(d / "events.parquet"))

    for name in ("join_asof", "join_asof_window"):
        got = {
            (r["event_id"], r["n_prior_clicks"], r["last_click_ts"])
            for r in SPECS[name].builder(spark, str(d)).collect()
        }
        assert got == {
            (2, 1, "2024-01-01 12:00:00.000000"),
            (10, 1, "2024-01-01 12:00:00.000000"),
        }, f"{name}: tie semantics diverge from the shared oracle: {got}"


# --- multi-batch replay suite ----------------------------------------------
# The streaming oracles all settle a single-file fixture that replays as
# ONE micro-batch (table_stream hard-asserts that layout). These tests are
# the other half of the story: the `replay` seam runs a registered
# builder as shipped, with table_stream patched to stream a table split
# into part files one file per trigger, so availableNow executes SEVERAL
# data batches. Complete/append modes must settle to the same rows as the
# single-batch replay (the time-ordered split means the final watermark —
# and therefore the emitted set — is identical); update-mode builders
# return one row per key per batch, and their per-key FINAL state (the
# max of the monotone counters) must equal the single-batch settle. This
# is where cross-batch state transitions — the thing Structured Streaming
# exists to do — actually happen and get verified.

import os as _os

import pyarrow as _pa
import pytest as _pytest

N_SPLIT_FILES = 3

# pyarrow schemas of the synthetic streams; fixture slices keep their own
EVENTS = _pa.schema(
    [
        ("event_id", _pa.int64()),
        ("user_id", _pa.int64()),
        ("event_type", _pa.string()),
        ("ts", _pa.timestamp("us")),
        ("value", _pa.float64()),
        ("props", _pa.string()),
    ]
)
DOCS = _pa.schema([("doc_id", _pa.int64()), ("text", _pa.string())])


def write_split(root, name, parts, schema=None):
    """Write table ``name`` under ``root`` as a directory with one parquet
    file per batch, and return ``root``. A part is a pyarrow table (a
    fixture slice keeps its stored layout, e.g. events' timestamp[ns]) or
    a list of row tuples typed by ``schema``. The file source takes files
    in mtime order at millisecond granularity, so back-to-back writes can
    tie and arrive in either order; strictly increasing stamped mtimes
    make the batch order the list order."""
    import time

    import pyarrow.parquet as pq

    from multithreaded_mapreduce_library_spark.sources.tables import table_path

    path = table_path(str(root), name)
    _os.makedirs(path)
    t0 = time.time() - 600
    for i, part in enumerate(parts):
        if not isinstance(part, _pa.Table):
            part = _pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in part], schema=schema
            )
        f = _os.path.join(path, f"part-{i:02d}.parquet")
        pq.write_table(part, f)
        _os.utime(f, (t0 + 30 * i, t0 + 30 * i))
    return str(root)


def fixture_slices(sf_dir, name, keys=(), n=N_SPLIT_FILES):
    """Fixture table ``name``, sorted by ``keys`` if any, cut into ``n``
    contiguous pyarrow slices (the split never round-trips through Spark,
    so the stored column types survive bit-for-bit)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from multithreaded_mapreduce_library_spark.sources.tables import table_path

    t = pq.read_table(table_path(sf_dir, name))
    if keys:
        t = t.take(pc.sort_indices(t, sort_keys=[(k, "ascending") for k in keys]))
    bounds = [round(i * t.num_rows / n) for i in range(n + 1)]
    return [t.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]


def _started_queries(monkeypatch):
    """Record every StreamingQuery that DataStreamWriter.start returns."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return started


def _data_batches(q):
    return sum(1 for p in q.recentProgress if p.numInputRows > 0)


@_pytest.fixture
def replay(spark, monkeypatch):
    """The replay seam: ``replay(name, split, sf_dir=split)`` runs
    registered stream ``name``'s builder over ``sf_dir`` with every table
    it streams read from its part-file directory under ``split``
    (``write_split``), one file per trigger, schema-pinned and normalized
    as ``table_stream`` does. ``events_stream`` and every builder resolve
    ``table_stream`` from the queries module, so one patch covers all of
    them; static sides still load from ``sf_dir``. Returns the builder's
    frame and the one StreamingQuery it ran."""
    from multithreaded_mapreduce_library_spark.sources.tables import (
        _normalize,
        _read_raw,
        table_path,
    )
    from multithreaded_mapreduce_library_spark.streaming import queries

    def run(name, split, sf_dir=None):
        def split_stream(spark, _sf_dir, table):
            stream = (
                spark.readStream.schema(_read_raw(spark, split, table).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(table_path(split, table))
            )
            return _normalize(table, stream)

        with monkeypatch.context() as m:
            m.setattr(queries, "table_stream", split_stream)
            started = _started_queries(m)
            out = SPECS[name].builder(spark, sf_dir or split)
        (q,) = started
        return out, q

    return run


@_pytest.fixture(scope="module")
def events_split(tmp_path_factory, sf_dir):
    """events split into N_SPLIT_FILES (ts, event_id)-ordered part files."""
    return write_split(
        tmp_path_factory.mktemp("events_split"),
        "events",
        fixture_slices(sf_dir, "events", ("ts", "event_id")),
    )


@_pytest.fixture(scope="module")
def docs_split(tmp_path_factory, sf_dir):
    """documents split into N_SPLIT_FILES doc_id-ordered part files."""
    return write_split(
        tmp_path_factory.mktemp("docs_split"),
        "documents",
        fixture_slices(sf_dir, "documents", ("doc_id",)),
    )


def test_multibatch_complete_modes_settle_to_batch(spark, sf_dir, events_split, replay):
    """Complete-mode aggs re-emit the full settled set each batch — after
    the last batch the sink holds exactly the single-batch answer, state
    having transitioned through N partial views on the way."""
    for name in ("stream_tumbling", "stream_static_join"):
        got, q = replay(name, events_split, sf_dir)
        n_batches = _data_batches(q)
        assert n_batches >= 2, f"{name}: replay ran {n_batches} data batches — not multi-batch"
        assert _rows(got) == _rows(SPECS[name].builder(spark, sf_dir)), name


def test_multibatch_append_modes_settle_to_batch(spark, sf_dir, events_split, replay):
    """Append-mode windows/sessions/dedup: because the split is
    time-ordered, every intermediate watermark only finalizes windows no
    later event can touch, so the union of per-batch emissions equals the
    single-batch settled set — nothing extra, nothing dropped."""
    for name in ("stream_sliding_watermark", "stream_session", "stream_dedup"):
        got, q = replay(name, events_split, sf_dir)
        n_batches = _data_batches(q)
        assert n_batches >= 2, f"{name}: only {n_batches} data batches"
        assert _rows(got) == _rows(SPECS[name].builder(spark, sf_dir)), name


def test_multibatch_update_state_transitions(spark, sf_dir, events_split, replay):
    """Update mode is where multi-batch actually differs: each batch emits
    the UPDATED per-key row, so the sink accumulates one row per key per
    touching batch. The per-key final state (max of the monotone
    counters) must equal the single-batch settle, and at least one key
    must have been emitted in more than one batch — i.e. state really
    crossed a batch boundary."""
    from pyspark.sql import functions as F

    got, q = replay("stream_stateful_running_max", events_split, sf_dir)
    assert _data_batches(q) >= 2
    n_rows = got.count()
    n_users = got.select("user_id").distinct().count()
    assert n_rows > n_users, (
        "no user was updated in more than one batch — state never "
        f"transitioned ({n_rows} rows / {n_users} users)"
    )
    final = got.groupBy("user_id").agg(
        F.max("max_value").alias("max_value"), F.max("n_events").alias("n_events")
    )
    assert _rows(final) == _rows(
        SPECS["stream_stateful_running_max"].builder(spark, sf_dir)
    )

    got, q = replay("stream_funnel", events_split, sf_dir)
    assert _data_batches(q) >= 2
    # Cross-batch attribution: pending clicks committed to state by an
    # earlier batch are attributed by purchases arriving in a later one —
    # the per-key final totals must equal the single-batch replay (which
    # itself equals the batch event_funnel oracle).
    assert _funnel_totals(got) == _funnel_totals(
        SPECS["stream_funnel"].builder(spark, sf_dir)
    )


def _funnel_totals(got):
    """stream_funnel's per-user final (n_clicks, n_converted): update mode
    emits a user once per batch that touches it, and both counters only
    grow, so the final state is the per-user max."""
    from pyspark.sql import functions as F

    return {
        r["user_id"]: (r["n_clicks"], r["n_converted"])
        for r in got.groupBy("user_id")
        .agg(F.max("n_clicks").alias("n_clicks"), F.max("n_converted").alias("n_converted"))
        .collect()
    }


def test_multibatch_stream_stream_join(spark, sf_dir, events_split, replay):
    """Stream-stream join state buffers across batches: clicks from early
    batches must still match purchases arriving in later ones (within the
    watermark bound). The time-ordered split keeps every match inside the
    2h watermark, so the appended set equals the single-batch replay."""
    got, q = replay("stream_stream_join", events_split, sf_dir)
    assert _data_batches(q) >= 2
    assert _rows(got) == _rows(SPECS["stream_stream_join"].builder(spark, sf_dir))


@_pytest.mark.parametrize("name", ["events", "documents"])
def test_events_stream_rejects_multi_file_layout(spark, sf_dir, tmp_path, name):
    """The single-file guard every file-source stream shares
    (sources.table_stream, under events_stream too): a part-file
    DIRECTORY at <name>.parquet must fail fast with the layout message,
    not surface as a run of oracle hash mismatches."""
    from multithreaded_mapreduce_library_spark.sources import table_stream

    bad_sf = write_split(tmp_path, name, fixture_slices(sf_dir, name, n=2))
    with _pytest.raises(AssertionError, match="single parquet"):
        table_stream(spark, bad_sf, name)


def test_table_stream_schema_matches_load_table(spark, sf_dir):
    """Stream and batch read one table through one reader: the events
    stream exposes load_table's schema, with ts normalized to TIMESTAMP
    (the stored column is nanos or timestamp_ntz)."""
    from pyspark.sql.types import TimestampType

    from multithreaded_mapreduce_library_spark.sources import load_table, table_stream

    stream = table_stream(spark, sf_dir, "events")
    batch = load_table(spark, sf_dir, "events")
    assert stream.isStreaming and not batch.isStreaming
    assert stream.schema == batch.schema
    assert isinstance(stream.schema["ts"].dataType, TimestampType)


def test_multibatch_funnel_event_time_disorder(tmp_path, replay):
    """The funnel update loop's c > t keep branch is unreachable in
    ordered replays but load-bearing under cross-batch event-time
    disorder: a click committed to state in batch 1 with a purchase
    arriving in batch 2 at an EARLIER event time. The purchase must not
    attribute the future click (a naive `t - c <= WINDOW` check would:
    t - c is negative, trivially inside the window) and must leave it
    pending."""
    import datetime as dt

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    split = write_split(
        tmp_path,
        "events",
        [
            # batch 1: user 1 clicks at T+2h (far in the "future" of batch
            # 2's purchase — outside its window even if wrongly attributed)
            [(1, 1, "click", T + dt.timedelta(hours=2), 1.0, "{}")],
            # batch 2: user 1 purchase at T — event time BEFORE the
            # pending click
            [(2, 1, "purchase", T, 1.0, "{}")],
        ],
        EVENTS,
    )
    got, q = replay("stream_funnel", split)
    assert _data_batches(q) >= 2, "disorder scenario requires the click and purchase in separate batches"
    r = _funnel_totals(got)
    # correct: the future click stays pending, nothing converts; the
    # naive branchless loop would report n_converted=1 here
    assert r == {1: (1, 0)}, (
        f"disordered purchase wrongly attributed a future click: {r}"
    )


def test_multibatch_funnel_click_side_disorder_within_lateness(tmp_path, replay):
    """Click-side disorder, the direction the c > t keep branch does NOT
    cover: a future-timestamped click lands in batch 1 alongside an older
    click, and the older click's attributing purchase arrives in batch 2
    at an earlier event time. The old per-row expiry (cutoff = t - WINDOW
    after every row) let the future click evict the older one, silently
    losing the conversion; the monotone-watermark expiry with a lateness
    allowance keeps it pending until the watermark passes
    window + lateness beyond it, so the within-allowance purchase still
    attributes. Expected: 2 clicks, 1 conversion."""
    import datetime as dt

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    split = write_split(
        tmp_path,
        "events",
        [
            # batch 1: click at T, then a click 2h in the future — the
            # future click pushes the watermark to T+2h; with
            # window=lateness=1h the expiry cutoff is exactly T, so the
            # first click survives the batch
            [
                (1, 1, "click", T, 1.0, "{}"),
                (2, 1, "click", T + dt.timedelta(hours=2), 1.0, "{}"),
            ],
            # batch 2: purchase at T+30min — 90min behind the watermark but
            # only 30min after the first click: in-window, must convert it;
            # the future click is kept pending by the c > t branch
            [(3, 1, "purchase", T + dt.timedelta(minutes=30), 1.0, "{}")],
        ],
        EVENTS,
    )
    got, q = replay("stream_funnel", split)
    assert _data_batches(q) >= 2, "scenario requires the clicks and purchase in separate batches"
    r = _funnel_totals(got)
    assert r == {1: (2, 1)}, (
        f"watermark expiry lost a click a within-allowance purchase needed: {r}"
    )


def test_multibatch_transitions_deltas_sum_to_batch(spark, sf_dir, events_split, replay):
    """stream_transitions emits per-batch DELTA counts; across the
    time-split multi-file replay the per-(user, pair) SUMS must equal the
    single-batch settle (== the batch oracle). The time-ordered split
    guarantees boundary pairs — a user's last event in batch k and first
    event in batch k+1 — which only the GroupState carry can count, so
    equality here proves the state really crosses batches."""
    from pyspark.sql import functions as F

    got, q = replay("stream_transitions", events_split, sf_dir)
    assert _data_batches(q) >= 2
    summed = got.groupBy("user_id", "prev_type", "next_type").agg(
        F.sum("n_transitions").cast("long").alias("n_transitions")
    )
    single = SPECS["stream_transitions"].builder(spark, sf_dir)
    assert _rows(summed) == _rows(single)
    # at least one user's pairs were split across batches (more emitted
    # rows than settled pairs) — otherwise the carry was never exercised
    assert got.count() > single.count()


def test_multibatch_funnel_purchase_disorder_rescues_old_click(tmp_path, replay):
    """Regression for the purchase-loop drop path: a click made stale by
    an out-of-window purchase in batch 1 must STAY pending (not be
    dropped with the conversion scan), because a disordered purchase
    with a smaller event time — arriving in batch 2 inside the lateness
    allowance — may still own it. Before the fix the click was discarded
    the moment the out-of-window purchase scanned it, and the rescue
    purchase found nothing."""
    import datetime as dt

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    split = write_split(
        tmp_path,
        "events",
        [
            # batch 1: click at T, then a purchase 70min later — outside
            # the 60-min window, so it converts nothing; watermark
            # advances to T+70m
            [
                (1, 1, "click", T, 1.0, "{}"),
                (2, 1, "purchase", T + dt.timedelta(minutes=70), 1.0, "{}"),
            ],
            # batch 2: disordered purchase at T+15min — only 55min behind
            # the watermark (inside the 60-min lateness allowance) and
            # in-window of the click: it must find the click still
            # pending and convert it
            [(3, 1, "purchase", T + dt.timedelta(minutes=15), 1.0, "{}")],
        ],
        EVENTS,
    )
    got, q = replay("stream_funnel", split)
    assert _data_batches(q) >= 2
    r = _funnel_totals(got)
    assert r == {1: (1, 1)}, (
        f"within-allowance disordered purchase failed to rescue the click: {r}"
    )


def _summed_pairs(got, *keys):
    """Per-(keys, prev_type, next_type) sums of stream_transitions' deltas."""
    from pyspark.sql import functions as F

    return {
        tuple(r)[:-1]: r["n"]
        for r in got.groupBy(*keys, "prev_type", "next_type")
        .agg(F.sum("n_transitions").cast("long").alias("n"))
        .collect()
    }


def test_multibatch_transitions_disorder_retracts_split_pair(tmp_path, replay):
    """Cross-batch event-time disorder for stream_transitions (the r7
    ADVICE case): batch 1 carries view@T -> purchase@T+10m (pair
    view->purchase emitted), batch 2 delivers click@T+5m — late but well
    inside the 1-hour allowance, so the transform must RETRACT
    view->purchase (-1) and assert view->click and click->purchase (+1
    each). The old one-scalar carry instead appended purchase->click
    (boundary pair against the carried last event) and left the split
    pair standing. Summed deltas must equal the batch answer over the
    union of rows."""
    import datetime as dt

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    split = write_split(
        tmp_path,
        "events",
        [
            [
                (1, 1, "view", T, 1.0, "{}"),
                (2, 1, "purchase", T + dt.timedelta(minutes=10), 1.0, "{}"),
            ],
            [(3, 1, "click", T + dt.timedelta(minutes=5), 1.0, "{}")],
        ],
        EVENTS,
    )
    got, q = replay("stream_transitions", split)
    assert _data_batches(q) >= 2, "disorder scenario requires the late click in its own batch"
    summed = _summed_pairs(got)
    # net totals == batch answer on the union; the split pair nets to 0
    assert summed.get(("view", "click")) == 1, summed
    assert summed.get(("click", "purchase")) == 1, summed
    assert summed.get(("view", "purchase"), 0) == 0, summed
    assert summed.get(("purchase", "click"), 0) == 0, (
        f"old boundary-pair miscount resurfaced: {summed}"
    )


def test_multibatch_transitions_beyond_allowance_row_is_dropped(tmp_path, replay):
    """The other side of the lateness contract: a row sorting at or
    before the SETTLED last event (watermark - allowance) is
    late-beyond-allowance and must be dropped without corrupting state
    or totals — batch 1 spans 3h so its first event settles, batch 2's
    row at T-10m precedes it. Totals must remain exactly batch 1's."""
    import datetime as dt

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    split = write_split(
        tmp_path,
        "events",
        [
            [
                (1, 1, "view", T, 1.0, "{}"),
                (2, 1, "click", T + dt.timedelta(hours=3), 1.0, "{}"),
            ],
            [(3, 1, "search", T - dt.timedelta(minutes=10), 1.0, "{}")],
        ],
        EVENTS,
    )
    got, q = replay("stream_transitions", split)
    assert _data_batches(q) >= 2
    summed = _summed_pairs(got)
    assert summed == {("view", "click"): 1}, (
        f"late-beyond-allowance row leaked into the totals: {summed}"
    )


def test_checkpoint_restart_restores_transitions_pending_buffer(spark, tmp_path):
    """Kill-and-restart durability for the r8 transitions state schema
    (settled scalars + three PENDING arrays + watermark): run 1 commits
    view@T -> purchase@T+10m (pair emitted, both pending — inside the
    1-hour allowance), the query stops, and run 2 — a fresh query from
    the same checkpoint — processes ONLY the late click@T+5m file. The
    correct output (retract view->purchase, assert view->click and
    click->purchase) is constructible only if the pending buffer
    round-tripped the state store: run 2 never re-reads f1."""
    import datetime as dt

    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources.tables import (
        normalize_events_ts,
    )
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        transitions_transform,
    )

    src = tmp_path / "ckpt_trans_src"
    ckpt = tmp_path / "ckpt_trans_state"
    src.mkdir()
    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    schema = (
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string"
    )

    def run_once(sink_rows):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            transitions_transform(normalize_events_ts(stream))
            .writeStream.foreachBatch(
                lambda df, _epoch: sink_rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [
            (1, 1, "view", T, 1.0, "{}"),
            (2, 1, "purchase", T + dt.timedelta(minutes=10), 1.0, "{}"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    first: list = []
    run_once(first)
    assert {
        (r["prev_type"], r["next_type"]): r["n_transitions"] for r in first
    } == {("view", "purchase"): 1}, first

    spark.createDataFrame(
        [(3, 1, "click", T + dt.timedelta(minutes=5), 1.0, "{}")], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    second: list = []
    run_once(second)
    got = {(r["prev_type"], r["next_type"]): r["n_transitions"] for r in second}
    assert got == {
        ("view", "purchase"): -1,
        ("view", "click"): 1,
        ("click", "purchase"): 1,
    }, f"pending buffer not restored across restart: {got}"


def test_multibatch_transitions_random_disorder_sums_to_batch(tmp_path, replay):
    """Property anchor for the retraction algebra: a synthetic 3-user
    event set spanning 30 minutes (strictly inside the 1-hour allowance,
    so nothing settles and nothing may drop) is shuffled by a SEEDED
    permutation into 3 arbitrary-order batch files; the per-(user, pair)
    delta sums must equal the batch transition counts over the union —
    for an arrival order with no relation to event time."""
    import datetime as dt
    import random

    T = dt.datetime(2024, 6, 1, 12, 0, 0)
    types = ["view", "click", "search", "purchase"]
    rng = random.Random(20260814)
    rows = [
        (
            100 * u + i,
            u,
            rng.choice(types),
            T + dt.timedelta(seconds=rng.randrange(1800)),
            1.0,
            "{}",
        )
        for u in (1, 2, 3)
        for i in range(10)
    ]
    # expected: batch pair counts over the pinned (ts, event_id) order
    expected: dict = {}
    for u in (1, 2, 3):
        seq = sorted((r for r in rows if r[1] == u), key=lambda r: (r[3], r[0]))
        for a, b in zip(seq, seq[1:]):
            k = (u, a[2], b[2])
            expected[k] = expected.get(k, 0) + 1

    shuffled = rows[:]
    rng.shuffle(shuffled)
    split = write_split(
        tmp_path, "events", [shuffled[i::3] for i in range(3)], EVENTS
    )
    got_df, q = replay("stream_transitions", split)
    assert _data_batches(q) >= 2
    got = {k: n for k, n in _summed_pairs(got_df, "user_id").items() if n != 0}
    assert got == expected, f"disorder sums diverged from batch: {got} != {expected}"


# --- stream_upsert: foreachBatch MERGE sink ---------------------------------


def _upsert_batch_truth(spark, sf_dir):
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        apply_merge,
        merge_feed,
        merge_target,
    )
    from multithreaded_mapreduce_library_spark.sources import load_table

    return _rows(
        apply_merge(
            merge_target(spark, sf_dir), merge_feed(load_table(spark, sf_dir, "orders"))
        )
    )


def _run_upsert_stream(spark, sf_dir, troot, src_glob, ckpt):
    """Drive the foreachBatch MERGE sink over a (possibly multi-file) feed
    source; returns the number of data batches that ran."""
    from multithreaded_mapreduce_library_spark.operators.maintenance import merge_feed
    from multithreaded_mapreduce_library_spark.streaming.queries import upsert_sink

    schema = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_glob)
    )
    q = (
        merge_feed(stream)
        .writeStream.foreachBatch(upsert_sink(troot))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sum(1 for p in q.recentProgress if p.numInputRows > 0)


def _init_upsert_target(spark, sf_dir, troot):
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.operators.maintenance import merge_target

    _os.makedirs(troot, exist_ok=True)
    merge_target(spark, sf_dir).select(
        F.col("k").alias("o_orderkey"),
        F.col("status").alias("o_orderstatus"),
        F.col("price").alias("o_totalprice"),
    ).write.parquet(_os.path.join(troot, "v0"))


def test_multibatch_stream_upsert_settles_to_batch(spark, sf_dir, tmp_path):
    """The additivity design point: the keyed change feed split into 3
    key-disjoint files, applied one micro-batch at a time through the
    versioned copy-on-write chain, must compose to EXACTLY the single-shot
    batch merge — upserts crossing batch boundaries apply once each."""
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        latest_upsert_version,
    )

    src = tmp_path / "feed_src"
    src.mkdir()
    orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    for i in range(3):
        orders.filter(orders.o_orderkey % 3 == i).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    troot = str(tmp_path / "versions")
    _init_upsert_target(spark, sf_dir, troot)
    n_batches = _run_upsert_stream(
        spark, sf_dir, troot, str(src / "*"), str(tmp_path / "ckpt")
    )
    assert n_batches >= 2, f"replay ran {n_batches} data batches — not multi-batch"
    got = _rows(spark.read.parquet(latest_upsert_version(troot)))
    assert got == _upsert_batch_truth(spark, sf_dir)


def test_stream_upsert_retried_epoch_is_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch's contract is at-least-once; the versioned commit chain
    must make re-delivery of a committed epoch a no-op. Re-invoke the sink
    with an already-committed epoch id and a POISONED batch (all deletes)
    — if the retry guard failed, the target would visibly shrink."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.operators.maintenance import merge_feed
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        latest_upsert_version,
        upsert_sink,
    )

    troot = str(tmp_path / "versions")
    _init_upsert_target(spark, sf_dir, troot)
    orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    sink = upsert_sink(troot)
    sink(merge_feed(orders), 0)
    settled = _rows(spark.read.parquet(latest_upsert_version(troot)))
    assert settled == _upsert_batch_truth(spark, sf_dir)
    poison = merge_feed(orders).withColumn("op", F.lit("D"))
    sink(poison, 0)  # redelivery of epoch 0 — must be a committed no-op
    assert _rows(spark.read.parquet(latest_upsert_version(troot))) == settled


def test_stream_upsert_checkpoint_restart_applies_once(spark, sf_dir, tmp_path):
    """Kill-and-restart durability for the MERGE sink: run 1 applies the
    first feed slice and stops; run 2 — same checkpoint — sees only the
    new file (the offset log skips slice 1), so the settled target equals
    the full batch merge ONLY if slice 1's upserts were committed durably
    and not re-applied."""
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        latest_upsert_version,
    )

    src = tmp_path / "feed_src"
    src.mkdir()
    orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    troot = str(tmp_path / "versions")
    ckpt = str(tmp_path / "ckpt")
    _init_upsert_target(spark, sf_dir, troot)

    orders.filter(orders.o_orderkey % 2 == 0).coalesce(1).write.parquet(
        str(src / "f0")
    )
    _run_upsert_stream(spark, sf_dir, troot, str(src / "*"), ckpt)
    orders.filter(orders.o_orderkey % 2 == 1).coalesce(1).write.parquet(
        str(src / "f1")
    )
    _run_upsert_stream(spark, sf_dir, troot, str(src / "*"), ckpt)

    assert _rows(spark.read.parquet(latest_upsert_version(troot))) == (
        _upsert_batch_truth(spark, sf_dir)
    )
    committed = sorted(
        d for d in _os.listdir(troot)
        if d.startswith("v") and _os.path.exists(_os.path.join(troot, d, "_SUCCESS"))
    )
    assert committed == ["v0", "v1", "v2"], committed


# --- stream_dedup_docs: streaming dedup membership ---------------------------


def _final_keepers(got):
    """stream_dedup_docs' settled state: update mode emits one row per
    hash per batch it appears in, and copies is monotone, so the final
    state is the max-copies row per hash."""
    final = {}
    for r in got.collect():
        prev = final.get(r["content_hash"])
        if prev is None or r["copies"] > prev[1]:
            final[r["content_hash"]] = (r["keeper_id"], r["copies"])
    return final


def test_multibatch_dedup_docs_settles_to_batch(spark, sf_dir, docs_split, replay):
    """documents split into 3 id-ordered files: the final per-hash state
    after a genuinely multi-batch replay equals batch dedup_exact."""
    got, q = replay("stream_dedup_docs", docs_split, sf_dir)
    n_batches = _data_batches(q)
    assert n_batches >= 2, f"replay ran {n_batches} data batches — not multi-batch"
    expected = {
        r["content_hash"]: (r["keeper_id"], r["copies"])
        for r in SPECS["dedup_exact"].builder(spark, sf_dir).collect()
    }
    assert _final_keepers(got) == expected


def test_stream_dedup_docs_membership_and_first_arrival(tmp_path, replay):
    """The contract proper, on a synthesized duplicate-bearing stream
    (the fixture has no exact duplicates — same situation as
    stream_dedup's unique keys): cross-batch membership (a duplicate
    arriving AFTER its keeper's batch only increments copies) and
    first-arrival-wins under disorder (a SMALLER doc_id arriving later
    does not steal keepership — the already-admitted doc stays keeper)."""
    import hashlib

    split = write_split(
        tmp_path,
        "documents",
        [
            [(10, "alpha"), (11, "beta"), (12, "alpha")],
            [(2, "alpha"), (13, "gamma"), (14, "beta")],
        ],
        DOCS,
    )
    got, q = replay("stream_dedup_docs", split)
    n_batches = _data_batches(q)
    assert n_batches == 2, f"expected 2 data batches, ran {n_batches}"
    final = _final_keepers(got)
    h = {s: hashlib.md5(s.encode()).hexdigest() for s in ("alpha", "beta", "gamma")}
    # alpha: keeper 10 (batch-1 min), NOT 2 — first arrival wins; copies 3
    assert final[h["alpha"]] == (10, 3)
    # beta: keeper 11, duplicate in batch 2 only increments copies
    assert final[h["beta"]] == (11, 2)
    assert final[h["gamma"]] == (13, 1)


def test_stream_upsert_recovers_from_crashed_uncommitted_write(spark, sf_dir, tmp_path):
    """Durability edge: a crash mid-write leaves a version directory
    WITHOUT its _SUCCESS marker. The committed-chain rule (read newest
    COMMITTED <= epoch, mode=overwrite) must treat it as garbage — the
    retried epoch recomputes from v0 and overwrites the partial dir, and
    the settled target still equals the batch truth."""
    from multithreaded_mapreduce_library_spark.operators.maintenance import merge_feed
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        latest_upsert_version,
        upsert_sink,
    )

    troot = str(tmp_path / "versions")
    _init_upsert_target(spark, sf_dir, troot)
    # simulate the crash: partial v1 with data-looking junk, no _SUCCESS
    crashed = tmp_path / "versions" / "v1"
    crashed.mkdir()
    (crashed / "part-00000-crashed.parquet").write_bytes(b"not parquet")
    orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    upsert_sink(troot)(merge_feed(orders), 0)  # retry of the crashed epoch
    assert _os.path.exists(str(crashed / "_SUCCESS")), "retry must commit v1"
    assert _rows(spark.read.parquet(latest_upsert_version(troot))) == (
        _upsert_batch_truth(spark, sf_dir)
    )


def test_multibatch_stream_incremental_agg_settles_to_batch(spark, sf_dir, tmp_path):
    """The monoid design point: the orders feed split into 3 key-disjoint
    files, each batch aggregated alone and merged through the versioned
    chain, must equal the from-scratch aggregate — and a crashed retry of
    a committed epoch must not double-count (the classic MV corruption)."""
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        agg_state,
        finalize_agg_state,
    )
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        latest_upsert_version,
        mv_sink,
    )

    src = tmp_path / "orders_src"
    src.mkdir()
    orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    for i in range(3):
        orders.filter(orders.o_orderkey % 3 == i).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    troot = str(tmp_path / "versions")
    _os.makedirs(troot)
    spark.createDataFrame(
        [], "custkey long, cnt long, sum_c long, mx double, mn_d string"
    ).write.parquet(_os.path.join(troot, "v0"))

    schema = orders.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(mv_sink(troot))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    assert n_batches >= 2, f"replay ran {n_batches} data batches — not multi-batch"

    truth = _rows(finalize_agg_state(agg_state(orders)))
    settled = _rows(
        finalize_agg_state(spark.read.parquet(latest_upsert_version(troot)))
    )
    assert settled == truth

    # re-deliver a committed epoch with the FULL feed — a broken chain
    # would double-count every customer's totals
    mv_sink(troot)(orders, 0)
    assert _rows(
        finalize_agg_state(spark.read.parquet(latest_upsert_version(troot)))
    ) == truth


def test_stream_dedup_minhash_first_arrival_and_multibatch(spark, sf_dir, tmp_path, docs_split, replay):
    """The near-dup gate's arrival contract, on a synthesized stream:
    (a) identical texts collide on every band — the first-arrival batch
    elects the bucket keeper; (b) a duplicate arriving in a LATER batch
    is flagged against that keeper; (c) a late arrival with a SMALLER
    doc_id does NOT steal keepership (same contract as the exact-hash
    twin); (d) an id-ordered multi-batch replay of the fixture settles
    to the single-batch gated answer."""

    def gate(split, sf=None):
        out, q = replay("stream_dedup_minhash", split, sf)
        rows = {r["doc_id"]: (r["is_near_dup"], r["dup_of"]) for r in out.collect()}
        return rows, _data_batches(q)

    # synthesized disorder stream; keeper election belongs to the first
    # batch, so this contract is arrival-ORDER-dependent
    got, n_batches = gate(
        write_split(
            tmp_path,
            "documents",
            [
                [(10, "a b c d e"), (11, "p q r s t"), (12, "a b c d e")],
                [(2, "a b c d e"), (13, "m n o u v")],
            ],
            DOCS,
        )
    )
    assert n_batches == 2
    assert got[10] == (False, -1)  # batch-1 min elects keeper
    assert got[12] == (True, 10)  # same-batch duplicate
    assert got[2] == (True, 10)  # LATE smaller id: flagged, keeper NOT stolen
    assert got[11] == (False, -1) and got[13] == (False, -1)

    # id-ordered fixture replay settles to the gated single-batch answer
    got_multi, n_batches = gate(docs_split, sf_dir)
    assert n_batches >= 2
    expected = {
        r["doc_id"]: (r["is_near_dup"], r["dup_of"])
        for r in SPECS["stream_dedup_minhash"].builder(spark, sf_dir).collect()
    }
    assert got_multi == expected


def test_stream_dedup_semantic_equals_batch_incremental(spark, sf_dir):
    """The two execution paths of the semantic admission gate — the
    streaming literal-argmin + stream-static join and the batch window
    argmin + batch join — must agree row-for-row (they share one oracle;
    this pins them against EACH OTHER, so a divergence is caught even if
    both happen to drift from the fixture's oracle-exercised cells)."""
    got = sorted(
        tuple(r)
        for r in SPECS["stream_dedup_semantic"].builder(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in SPECS["dedup_semantic_incremental"].builder(spark, sf_dir).collect()
    )
    assert got == want


def test_multibatch_semantic_admission_settles_to_batch(spark, sf_dir, tmp_path, replay):
    """Embeddings split into 3 id-ordered files and replayed one file per
    trigger: because each admission decision depends only on the
    (vector, static index) pair, the settled multi-batch answer must
    equal the batch answer regardless of arrival batching."""
    split = write_split(
        tmp_path, "embeddings", fixture_slices(sf_dir, "embeddings", ("vec_id",))
    )
    got, q = replay("stream_dedup_semantic", split, sf_dir)
    n_batches = _data_batches(q)
    assert n_batches >= 2, f"replay ran {n_batches} data batches — not multi-batch"
    want = SPECS["dedup_semantic_incremental"].builder(spark, sf_dir)
    assert _rows(got) == _rows(want)


# --- stream_lm_score (landed r18; pins migrated from test_staging.py) ------


def test_stream_lm_score_known_values(spark, tmp_path):
    """Hand-checked with the REAL h31 split (doc_ids 0/3/4 land in the
    arriving batch, 1/2 in the corpus — verified against the md5
    arithmetic offline). Corpus: 'a b a b' + 'b c' -> c2: ab=2, ba=1,
    bc=1; c_ctx: a=2, b=2; V={a,b,c}=3. Arriving: doc0 'a b x' ->
    P(b|a)=0.6, P(x|b) unseen bigram seen context = (0+1)/(2+3)=0.2 ->
    avg 0.4; doc3 'c' (1 token, excluded); doc4 'x y' -> fully novel
    transition = (0+1)/(0+3) -> fx floor(333333.33+0.5)=333333 ->
    0.333333."""
    from tests.test_text_lm import _write_docs

    d = tmp_path / "micro"
    d.mkdir()
    _write_docs(
        d,
        [
            (0, "a b x", "s"),
            (1, "a b a b", "s"),
            (2, "b c", "s"),
            (3, "c", "s"),
            (4, "x y", "s"),
        ],
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_bigram_p"])
        for r in SPECS["stream_lm_score"].builder(spark, str(d)).collect()
    }
    assert got == {0: (2, 0.4), 4: (1, 0.333333)}


def test_stream_lm_score_microbatch_plan_is_broadcast_model(sf_dir, docs_split, replay):
    """The docstring's per-micro-batch claims, pinned on the EXECUTED
    micro-batch plan (q.explain after a multi-batch replay of the
    builder): both model joins are BroadcastHashJoin (arriving rows
    never shuffle for the joins — never a SortMergeJoin carrying the
    stream side), exactly TWO FileScans total (the arriving split + ONE
    corpus scan: c_ctx's subtree is a ReusedExchange of the corpus-scale
    (w1,w2) model agg — the batch twin's r17 exchange-reuse lesson
    holding inside the micro-batch plan), and the stream side's only
    exchange requirement is the stateful doc_id aggregation."""
    import contextlib
    import io

    _, q = replay("stream_lm_score", docs_split, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(True)
    phys = buf.getvalue().split("== Physical Plan ==")[-1]
    assert phys.count("BroadcastHashJoin") == 2, "both model joins must broadcast"
    assert "SortMergeJoin" not in phys, "the stream side must never sort-merge"
    assert phys.count("FileScan") == 2, (
        "exactly two scans per micro-batch: the arriving split + ONE "
        "corpus model scan (a third means the c_ctx exchange reuse broke)"
    )
    assert "ReusedExchange" in phys, "c_ctx must reuse the (w1,w2) model agg"
    assert "StateStoreSave" in phys, "update-mode keyed agg must be stateful"


def test_multibatch_stream_lm_score_settles_to_single_batch(spark, sf_dir, docs_split, replay):
    """Cross-batch state transitions, the streaming-twin obligation: split
    the documents into 3 id-ordered part files, replay the builder with
    maxFilesPerTrigger=1 (several data batches), and require the result
    equal the gated single-batch settle. Each doc arrives whole (files
    split on row boundaries), so update-mode state transitions happen
    across docs, and the builder's max-merge finalize must be
    batching-invariant."""
    single = {
        tuple(r)
        for r in SPECS["stream_lm_score"].builder(spark, str(sf_dir)).collect()
    }
    assert single, "fixture must score at least one arriving doc"
    multi, q = replay("stream_lm_score", docs_split, sf_dir)
    assert _data_batches(q) >= 2, "replay must be genuinely multi-batch"
    assert {tuple(r) for r in multi.collect()} == single


def test_stream_lm_score_empty_corpus_split(spark, tmp_path):
    """Edge: every doc hashes into the ARRIVING split (doc_ids 0/3/4 are
    batch under the real h31 % INC_SPLIT_MOD) — no corpus, no model, no
    vocabulary. The builder must return an EMPTY frame with the gated
    schema without starting a stream (the oracle's WHERE v.vocab > 0
    agrees: zero rows on both engines)."""
    from tests.test_text_lm import _write_docs

    d = tmp_path / "micro"
    d.mkdir()
    _write_docs(d, [(0, "a b x", "s"), (3, "c d", "s"), (4, "x y", "s")])
    got = SPECS["stream_lm_score"].builder(spark, str(d))
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "doc_id", "n_bigrams", "avg_bigram_p",
    ]


def test_run_to_memory_one_state_store_per_task_slot(spark, sf_dir, monkeypatch):
    """A stateful stream run by run_to_memory shuffles its state into
    defaultParallelism partitions (one store per task slot), whatever the
    session's own spark.sql.shuffle.partitions is."""
    started = _started_queries(monkeypatch)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        SPECS["stream_tumbling"].builder(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    (q,) = started
    ops = [op for p in q.recentProgress for op in p.stateOperators]
    assert ops, "stream_tumbling reported no state operator"
    slots = spark.sparkContext.defaultParallelism
    assert {op.numShufflePartitions for op in ops} == {slots}


def test_run_to_memory_restores_shuffle_partitions(spark, sf_dir, tmp_path, monkeypatch):
    """The session's spark.sql.shuffle.partitions survives run_to_memory
    and run_versioned, after a clean run and after a stream that fails
    mid-batch. Each run starts its stream under the FileSystem-based
    checkpoint manager, and the manager class is unset again afterwards;
    a class the caller set stays in force during the run and after it,
    and a caller-set checkpointLocation gets no pinned manager.
    run_to_memory leaves no stream_sink_* view in the catalog
    either way, and its clean frame still collects. run_versioned and compact_apply leave no temp dir behind
    after a clean run or a raising write, and what they return still
    collects with its dir gone and the session's cache cleared (an
    eviction cannot send it back to the deleted files)."""
    import tempfile

    import pytest
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from multithreaded_mapreduce_library_spark.operators.events import (
        tumbling_transform,
    )
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        compact_apply,
        finalize_agg_state,
    )
    from multithreaded_mapreduce_library_spark.sources import load_table, table_stream
    from multithreaded_mapreduce_library_spark.streaming.queries import (
        events_stream,
        mv_sink,
        run_to_memory,
        run_versioned,
    )

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    pinned = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    at_start = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        at_start.append(spark.conf.get(manager, None))
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    v0 = spark.createDataFrame(
        [], "custkey long, cnt long, sum_c long, mx double, mn_d string"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        def sink_views():
            return [
                t.name for t in spark.catalog.listTables()
                if t.name.startswith("stream_sink_")
            ]

        def restored():
            return (
                spark.conf.get("spark.sql.shuffle.partitions") == "3"
                and spark.conf.get(manager, None) is None
            )

        clean = run_to_memory(
            tumbling_transform(events_stream(spark, sf_dir)), "complete"
        )
        assert restored()
        assert not sink_views()
        failing = tumbling_transform(events_stream(spark, sf_dir)).select(
            "*", F.raise_error(F.lit("boom")).alias("fail")
        )
        with pytest.raises(Exception, match="boom"):
            run_to_memory(failing, "complete")
        assert restored()
        assert not sink_views()
        assert len(clean.collect()) == SPECS["time_tumbling"].builder(spark, sf_dir).count()

        feed = table_stream(spark, sf_dir, "orders")
        settled = run_versioned(feed, v0, mv_sink, finalize_agg_state)
        assert restored()
        assert not list(scratch.iterdir())
        spark.catalog.clearCache()
        n_orders = load_table(spark, sf_dir, "orders").count()
        assert sum(r["n_orders"] for r in settled.collect()) == n_orders
        failing = feed.withColumn("o_custkey", F.raise_error(F.lit("boom")))
        with pytest.raises(Exception, match="boom"):
            run_versioned(failing, v0, mv_sink, finalize_agg_state)
        assert restored()
        assert not list(scratch.iterdir())
        assert at_start == [pinned] * 4

        own = pinned.replace("FileSystemBased", "FileContextBased")
        spark.conf.set(manager, own)
        try:
            run_to_memory(tumbling_transform(events_stream(spark, sf_dir)), "complete")
            run_versioned(feed, v0, mv_sink, finalize_agg_state)
            assert spark.conf.get(manager) == own
        finally:
            spark.conf.unset(manager)
        assert at_start[4:] == [own] * 2

        spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt"))
        try:
            run_to_memory(tumbling_transform(events_stream(spark, sf_dir)), "complete")
        finally:
            spark.conf.unset("spark.sql.streaming.checkpointLocation")
        assert at_start[6:] == [None]

        summary = compact_apply(spark, sf_dir)
        assert not list(scratch.iterdir())
        spark.catalog.clearCache()
        assert sum(r["n_rows"] for r in summary.collect()) == n_orders
        real_parquet = DataFrameWriter.parquet

        def write_then_raise(self, path, *args, **kwargs):
            real_parquet(self, path, *args, **kwargs)
            raise RuntimeError("boom")

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", write_then_raise)
            with pytest.raises(RuntimeError, match="boom"):
                compact_apply(spark, sf_dir)
        assert not list(scratch.iterdir())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
