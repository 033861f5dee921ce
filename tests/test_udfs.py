"""Focused internals tests for the pandas-UDF surface (operators/udfs.py).

The oracle gate proves cogroup_reconcile's OUTPUT; what it cannot pin is
the r22 bucketed-cogroup invariant: the result must not depend on the
bucket count B (each custkey lands wholly in one bucket, and the
per-custkey int64-cent sums are order-independent), because B is
scale-adaptive (16 x defaultParallelism) and a deployment override
(spark.graft.cogroup.buckets) must never change answers.
"""

from __future__ import annotations

import pytest

from multithreaded_mapreduce_library_spark.registry import load_all

SPECS = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cogroup_reconcile_invariant_to_bucket_count(spark, sf_dir):
    """Identical output at a tiny, skew-adjacent B (7: buckets hold many
    custkeys each) and at B=1 (every key in ONE pandas call — the
    degenerate all-in-one-group edge)."""
    base = _rows(SPECS["cogroup_reconcile"].builder(spark, sf_dir))
    try:
        for b in ("7", "1"):
            spark.conf.set("spark.graft.cogroup.buckets", b)
            assert _rows(SPECS["cogroup_reconcile"].builder(spark, sf_dir)) == base, b
    finally:
        spark.conf.unset("spark.graft.cogroup.buckets")


def test_cogroup_bucket_override_rejects_bad_values(spark):
    """A non-integer or < 1 spark.graft.cogroup.buckets fails naming the key."""
    from multithreaded_mapreduce_library_spark.operators.udfs import _cogroup_buckets

    try:
        for bad in ("many", "2.5", "0", "-3"):
            spark.conf.set("spark.graft.cogroup.buckets", bad)
            with pytest.raises(ValueError, match="spark.graft.cogroup.buckets"):
                _cogroup_buckets(spark)
        spark.conf.set("spark.graft.cogroup.buckets", "7")
        assert _cogroup_buckets(spark) == 7
    finally:
        spark.conf.unset("spark.graft.cogroup.buckets")
