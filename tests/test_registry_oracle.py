"""Oracle-differential test for every registered query with an oracle.

This is a local replica of the driver's CORRECTNESS gate (at sf0.001 for
speed; the driver runs sf0.01).
"""

from __future__ import annotations

import pytest

from multithreaded_mapreduce_library_spark.registry import load_all

SPECS = load_all()
ORACLE_NAMES = [n for n, s in SPECS.items() if s.oracle is not None]
ROWS_ONLY_NAMES = [n for n, s in SPECS.items() if s.oracle is None]


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    from tests.oracle import compare_query

    compare_query(spark, SPECS[name], sf_dir)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, sf_dir, name):
    df = SPECS[name].builder(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_decimal_output_rejected(spark, sf_dir):
    """Regression for the r2 sql_interface red row: Spark parses the bare
    100.0 literal in SQL text as DECIMAL(4,1), widening BIGINT/100.0 to
    decimal(27,6); toPandas yields object-of-Decimal while DuckDB yields
    float64 — equal values, different driver hashes. The local canon used
    to coerce Decimal→float and pass; check_type_alignment must now reject
    the DECIMAL column so this class can never ship green locally again."""
    from multithreaded_mapreduce_library_spark.sources import register_views
    from tests.oracle import check_type_alignment, duck_oracle_types

    old_text = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM orders
    WHERE o_orderdate >= {d0} AND o_orderdate < {d1}
    GROUP BY o_orderpriority
    """
    register_views(spark, sf_dir)
    sdf = spark.sql(old_text.format(d0="DATE'1996-01-01'", d1="DATE'1997-01-01'"))
    assert any("decimal" in t for _, t in sdf.dtypes)  # the hazard is real
    otypes = duck_oracle_types(
        old_text.format(d0="DATE '1996-01-01'", d1="DATE '1997-01-01'"), sf_dir
    )
    with pytest.raises(AssertionError, match="decimal|DECIMAL"):
        check_type_alignment(sdf, otypes, "old_sql_interface")


def test_array_output_rejected(spark, sf_dir):
    """Regression for the r3 multimodal_features red row: an
    array<double> result column passes the local value canon (which
    stringifies lists) but crashes the driver's pandas sort_values with
    TypeError: unhashable type: 'list'. check_type_alignment must reject
    non-scalar columns on either side so this class can never ship green
    locally again — same closure the DECIMAL test above gives r2's bug."""
    from multithreaded_mapreduce_library_spark.sources import register_views
    from tests.oracle import check_type_alignment, duck_oracle_types

    listy = "SELECT doc_id, split(text, ' ') AS toks FROM documents LIMIT 5"
    register_views(spark, sf_dir)
    sdf = spark.sql(listy)
    assert any(t.startswith("array") for _, t in sdf.dtypes)  # the hazard is real
    otypes = duck_oracle_types(
        "SELECT doc_id, string_split(text, ' ') AS toks FROM documents LIMIT 5", sf_dir
    )
    with pytest.raises(AssertionError, match="scalar"):
        check_type_alignment(sdf, otypes, "listy_query")


def test_gated_schemas_scalar_only(spark, sf_dir):
    """Every oracle-gated query must emit scalar columns only, on BOTH
    sides — the structural closure of the r3 array red row (schema-level,
    so a non-scalar output fails even before any value comparison runs).

    ORACLE-GATED stream_* queries are excluded from the Spark-side half:
    their builders execute a full availableNow streaming run just to
    produce the DataFrame, and the same scalar check already runs inside
    each one's test_query_matches_oracle via check_type_alignment —
    re-running 8 stateful streaming pipelines here buys nothing but
    minutes. That justification holds ONLY while the query stays gated:
    a stream op that reverts to oracle=None (the rows-only escape hatch)
    loses its check_type_alignment coverage, so rows-only stream queries
    re-enter this sweep automatically. The oracle-side check (pure
    DESCRIBE, no execution) still covers every gated query."""
    from tests.oracle import duck_oracle_types

    complex_spark = ("array", "map", "struct")
    sweep = ORACLE_NAMES + [n for n in ROWS_ONLY_NAMES if n.startswith("stream_")]
    for name in sweep:
        covered_by_oracle_test = (
            name.startswith("stream_") and SPECS[name].oracle is not None
        )
        if not covered_by_oracle_test:
            sdf = SPECS[name].builder(spark, sf_dir)
            for col, styp in sdf.dtypes:
                assert not styp.lower().startswith(complex_spark), (
                    f"{name}.{col}: non-scalar Spark output {styp}"
                )
        if SPECS[name].oracle is None:
            continue
        otypes = duck_oracle_types(SPECS[name].oracle, sf_dir)
        for col, otyp in otypes.items():
            u = otyp.upper()
            assert not ("[]" in u or u.startswith(("MAP(", "STRUCT("))), (
                f"{name}.{col}: non-scalar oracle output {otyp}"
            )


def test_priority_names_resolve_and_are_unique():
    """A stale name in _PRIORITY would silently shift the driver's
    50-query gate prefix; load_all now asserts resolution — this pins the
    uniqueness half (a duplicate would also compress the prefix)."""
    from multithreaded_mapreduce_library_spark.registry import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY))
    assert set(_PRIORITY) <= set(SPECS)


def _tracked_correctness() -> dict[int, dict]:
    """Round → parsed CORRECTNESS_r*.json, restricted to git-TRACKED files
    when git is available: an untracked local result file would let a
    prefix rotation pass here but fail in a clean checkout. In a non-git
    copy of the tree (exported/rsynced driver sandbox) fall back to the
    glob — there is no tracked/untracked distinction there."""
    import glob
    import json
    import os
    import re
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "-C", repo, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True,
            text=True,
            check=True,
        )
        files = [os.path.join(repo, rel) for rel in out.stdout.split()]
    except (subprocess.CalledProcessError, FileNotFoundError):
        files = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    rounds = {}
    for f in files:
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds[rnd] = json.load(open(f))
    return rounds


def test_gate_prefix_bounds_staleness():
    """Steady-state rotation contract (see the _PRIORITY comment): each
    gated query either has a green driver row in one of the FOUR most
    recent checked-in rounds, or holds a slot in the current 50-query
    prefix (so the next driver run refreshes it). Four, not three: a
    round with a large changed set (r5 spent 20 slots, r6 spent 14)
    pushes part of the stale backlog one extra round — the r6
    arithmetic in the _PRIORITY comment leaves 18 r3-stale queries
    waiting to lead the r7 prefix. Dropping a stale query from the
    prefix without a fresh green row fails here."""
    from multithreaded_mapreduce_library_spark.registry import _PRIORITY

    rounds = _tracked_correctness()
    last_green: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, r in rounds[rnd].items():
            if r.get("hash_match"):
                last_green[name] = rnd
    recent = sorted(rounds)[-4:]
    prefix = set(_PRIORITY[:50])
    stale = [
        n
        for n in ORACLE_NAMES
        if last_green.get(n, -1) not in recent and n not in prefix
    ]
    assert not stale, (
        f"gated queries with no green row in rounds {recent} and no "
        f"prefix slot: {stale}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert "wordcount" in q


def test_readme_counts_match_registry():
    """README's headline operator counts must track the registry (r13
    verdict: they drifted twice across rounds — pin them mechanically).
    The README states the counts as '**N registered operators, M with
    DuckDB oracles**' and references the M-query second-seed sweep."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "README.md")) as f:
        readme = f.read()
    specs = load_all()
    registered = len(specs)
    oracled = sum(1 for s in specs.values() if s.oracle)
    m = re.search(
        r"\*\*(\d+) registered operators, (\d+) with DuckDB oracles\*\*", readme
    )
    assert m, "README headline counts sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (registered, oracled)
    m = re.search(r"(\d+)-query second-seed sweep", readme)
    assert m and int(m.group(1)) == oracled
