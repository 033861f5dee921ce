"""Local oracle-differential harness — the same check the driver runs.

Runs a registered query through Spark and its oracle SQL through DuckDB on
the same parquet tables, then compares row count, sorted column names, and an
order-insensitive canonicalized value multiset. Exact by design: queries are
built so both engines produce identical values (see registry module doc).
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

import duckdb

from multithreaded_mapreduce_library_spark.sources import TABLES, table_path


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table at ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def run_duckdb(sql: str, sf_dir: str):
    con = duck_connect(sf_dir)
    try:
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _describe(con, sql: str) -> dict[str, str]:
    return {d[0]: d[1] for d in con.execute(f"DESCRIBE {sql}").fetchall()}


def duck_oracle_types(sql: str, sf_dir: str) -> dict[str, str]:
    """Column name → DuckDB type for an oracle query, via DESCRIBE only —
    binds the plan without executing it (cheap even for recursive CTEs)."""
    con = duck_connect(sf_dir)
    try:
        return _describe(con, sql)
    finally:
        con.close()


_DUCK_CLASS = (
    ("BIGINT", "int"), ("INTEGER", "int"), ("SMALLINT", "int"), ("TINYINT", "int"),
    ("UBIGINT", "int"), ("HUGEINT", "int"),
    ("DOUBLE", "float"), ("FLOAT", "float"), ("DECIMAL", "float"),
    ("VARCHAR", "str"), ("BOOLEAN", "bool"),
    ("TIMESTAMP", "ts"), ("DATE", "ts"),
)

_SPARK_CLASS = (
    ("bigint", "int"), ("int", "int"), ("smallint", "int"), ("tinyint", "int"),
    ("double", "float"), ("float", "float"), ("decimal", "float"),
    ("string", "str"), ("boolean", "bool"),
    ("timestamp", "ts"), ("date", "ts"),
)


def _type_class(t: str, table) -> str:
    for pat, cls in table:
        if pat.lower() in t.lower():
            return cls
    return t


def check_type_alignment(sdf, duck_types: dict[str, str], name: str) -> None:
    """Coarse int/float/str/bool/ts class must agree per column — an int
    column on one side hashing as float on the other would break the
    driver's value-hash even when the values are numerically equal."""
    for col, styp in sdf.dtypes:
        # DuckDB sum(BIGINT) widens to HUGEINT (int128); a pandas/Arrow fetch
        # (how the driver reads oracle results) coerces HUGEINT to float64,
        # so "2108190417" hashes as "2108190417.0" and the driver mismatches
        # even though values are equal. Force oracles to CAST(... AS BIGINT).
        assert "HUGEINT" not in duck_types[col].upper(), (
            f"{name}: column {col!r} is {duck_types[col]} in the oracle — "
            "wrap the SQL aggregate in CAST(... AS BIGINT); HUGEINT becomes "
            "float64 under the driver's pandas fetch and breaks the hash"
        )
        # Spark parses bare decimal literals (100.0) as DECIMAL and widens
        # arithmetic to DECIMAL(p,s); toPandas then yields object-of-Decimal
        # ('…260000') while DuckDB's pandas fetch yields float64 — equal
        # values, different hashes (the r2 sql_interface red row). Forbid
        # DECIMAL outputs on either side: CAST(... AS DOUBLE) in shared SQL.
        assert "decimal" not in styp.lower(), (
            f"{name}: column {col!r} is {styp} on the Spark side — a bare "
            "decimal literal in spark.sql() text widens to DECIMAL and its "
            "pandas fetch (object of Decimal) breaks the driver hash vs the "
            "oracle's float64; CAST(... AS DOUBLE) in the SQL text"
        )
        assert "DECIMAL" not in duck_types[col].upper(), (
            f"{name}: column {col!r} is {duck_types[col]} in the oracle — "
            "CAST(... AS DOUBLE) so the hash canon is engine-neutral"
        )
        # The driver canonicalizes results with a pandas sort; list/dict
        # cells make sort_values raise TypeError: unhashable type (the r3
        # multimodal_features red row). Same defect class as the DECIMAL/
        # HUGEINT rejections above, one level up: oracle-gated queries must
        # emit scalar columns only — explode arrays to (pos, value) rows
        # (posexplode / generate_subscripts+unnest) or serialize with
        # array_to_string on BOTH sides.
        assert not styp.lower().startswith(("array", "map", "struct")), (
            f"{name}: column {col!r} is {styp} on the Spark side — the "
            "driver's pandas canon cannot sort/hash non-scalar cells; "
            "explode to scalar rows or array_to_string on both sides"
        )
        _dt_u = duck_types[col].upper()
        assert not ("[]" in _dt_u or _dt_u.startswith(("MAP(", "STRUCT("))), (
            f"{name}: column {col!r} is {duck_types[col]} in the oracle — "
            "the driver's pandas canon cannot sort/hash non-scalar cells; "
            "unnest to scalar rows or array_to_string on both sides"
        )
        scls = _type_class(styp, _SPARK_CLASS)
        ocls = _type_class(duck_types[col], _DUCK_CLASS)
        assert scls == ocls, (
            f"{name}: column {col!r} type-class mismatch spark={styp}({scls}) "
            f"oracle={duck_types[col]}({ocls})"
        )


def canon(v) -> str:
    """Engine-neutral canonical string for one value."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        f = float(v)
        return str(int(f)) if f == int(f) and abs(f) < 2**53 else repr(f)
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canonical_rows(cols: list[str], rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare_query(spark, spec, sf_dir: str) -> None:
    """Assert the Spark result and the DuckDB oracle result match."""
    con = duck_connect(sf_dir)
    try:
        compare_frame(spec.builder(spark, sf_dir), spec.oracle, con, spec.name)
    finally:
        con.close()


def compare_frame(sdf, sql: str, con, name: str) -> int:
    """Assert ``sdf`` matches oracle ``sql`` run on ``con`` (a
    ``duck_connect`` connection); returns the matched row count."""
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    check_type_alignment(sdf, _describe(con, sql), name)

    assert sorted(scols) == sorted(ocols), (
        f"{name}: column mismatch spark={sorted(scols)} oracle={sorted(ocols)}"
    )
    sc = canonical_rows(scols, srows)
    oc = canonical_rows(ocols, orows)
    diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:5]
    assert len(srows) == len(orows), (
        f"{name}: row count mismatch spark={len(srows)} oracle={len(orows)}; "
        f"first sorted-row diffs (spark, oracle): {diffs}"
    )
    if sc != oc:
        raise AssertionError(
            f"{name}: value mismatch; first sorted-row diffs (spark, oracle): {diffs}"
        )
    return len(sc)
