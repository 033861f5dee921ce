"""Parity tests for the cross-engine primitives every oracle relies on:
the md5-derived 60-bit hash, fixed-point quantization, and the sequential
cosine fold. If these agree on adversarial inputs, the generated oracles
agree by construction."""

from __future__ import annotations

import math
import random

import duckdb

from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.functions import (
    MOD_P,
    duck_md5_long60,
    md5_long60,
)


def test_md5_long60_parity(spark):
    rng = random.Random(42)
    words = ["", "a", " ", "\t", "naïve", "日本語", "x" * 500] + [
        "".join(rng.choice("abcdefghij ._-") for _ in range(rng.randint(1, 40)))
        for _ in range(200)
    ]
    sdf = spark.createDataFrame([(w,) for w in words], ["s"])
    got = {r["s"]: r["h"] for r in sdf.select("s", md5_long60(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for w in words:
        (exp,) = con.execute(f"SELECT {duck_md5_long60('?')}", [w]).fetchone()
        assert got[w] == exp, f"hash divergence for {w!r}"
        assert 0 <= exp < 2**60


def test_fixed_point_parity(spark):
    rng = random.Random(7)
    vals = [0.0, 0.005, 1.005, -1.005, 2.675, 1e9 + 0.005] + [
        rng.uniform(-1e6, 1e6) for _ in range(500)
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = [
        r["fx"]
        for r in sdf.select(F.floor(F.col("x") * 100 + F.lit(0.5)).alias("fx")).collect()
    ]
    con = duckdb.connect()
    for v, g in zip(vals, got):
        (exp,) = con.execute("SELECT CAST(floor(? * 100 + 0.5) AS BIGINT)", [v]).fetchone()
        assert g == exp, f"fixed-point divergence for {v!r}: spark={g} duck={exp}"
        # python reference: same IEEE expression
        assert g == math.floor(v * 100 + 0.5)


def test_sequential_fold_cosine_parity(spark):
    rng = random.Random(99)
    pairs = [
        (
            [rng.uniform(-1, 1) for _ in range(64)],
            [rng.uniform(-1, 1) for _ in range(64)],
        )
        for _ in range(50)
    ]
    sdf = spark.createDataFrame(pairs, ["va", "vb"])
    fold = "aggregate({0}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    dot = fold.format("zip_with(va, vb, (x, y) -> x * y)")
    na = fold.format("transform(va, x -> x * x)")
    nb = fold.format("transform(vb, x -> x * x)")
    got = [
        r["c"]
        for r in sdf.select(F.expr(f"{dot} / (sqrt({na}) * sqrt({nb}))").alias("c")).collect()
    ]
    con = duckdb.connect()
    for (va, vb), g in zip(pairs, got):
        (exp,) = con.execute(
            """
            SELECT list_reduce(list_transform(generate_series(1, 64), i -> a[i] * b[i]), (acc, x) -> acc + x)
                   / (sqrt(list_reduce(list_transform(a, x -> x * x), (acc, x) -> acc + x))
                      * sqrt(list_reduce(list_transform(b, x -> x * x), (acc, x) -> acc + x)))
            FROM (SELECT ?::DOUBLE[] AS a, ?::DOUBLE[] AS b)
            """,
            [va, vb],
        ).fetchone()
        assert g == exp, f"cosine bit-divergence: {g!r} vs {exp!r}"

    # python sequential reference confirms the fold order
    va, vb = pairs[0]
    dot_py = 0.0
    for x, y in zip(va, vb):
        dot_py += x * y
    na_py = 0.0
    for x in va:
        na_py += x * x
    nb_py = 0.0
    for y in vb:
        nb_py += y * y
    assert got[0] == dot_py / (math.sqrt(na_py) * math.sqrt(nb_py))


def test_mod_p_headroom():
    # every hash-family intermediate stays below 2^62 (ANSI-overflow-safe)
    from multithreaded_mapreduce_library_spark.operators.dedup import MINHASH_PARAMS

    for a, b in MINHASH_PARAMS:
        assert a * (MOD_P - 1) + b < 2**62


def test_tokens_parity_adversarial(spark):
    """tokens() vs duck_tokens() on adversarial inputs: delimiter runs,
    leading/trailing delimiters, unicode whitespace that must NOT split
    (NBSP, ideographic space — the reference splits only on " \\t\\n\\r",
    distwc.c:14), empty and whitespace-only strings."""
    import duckdb

    from multithreaded_mapreduce_library_spark.functions import duck_tokens, tokens

    rng = random.Random(7)
    cases = [
        "", " ", "\t\n\r ", "a", " a ", "a  b", "\ta\tb\r\nc ",
        "x y",        # NBSP: one token in both engines
        "x　y",        # ideographic space: one token
        "naïve  café\t",
        "a\rb\nc\td e",
        "-" * 300,
    ] + [
        "".join(rng.choice("ab \t\n\r. é") for _ in range(rng.randint(0, 50)))
        for _ in range(150)
    ]
    sdf = spark.createDataFrame([(c,) for c in cases], ["s"]).select(
        "s", tokens("s").alias("t")
    )
    got = {r["s"]: list(r["t"]) for r in sdf.collect()}
    con = duckdb.connect()
    for c in cases:
        (exp,) = con.execute(
            f"SELECT {duck_tokens('?')}", [c]
        ).fetchone()
        assert got[c] == list(exp), f"tokenizer divergence on {c!r}: {got[c]} vs {exp}"
    con.close()


def test_quantize_codes_parity_adversarial(spark, tmp_path):
    """The affine-int8 code rule (_codes_col vs _DUCK_CODES) must agree
    element-for-element beyond the fixture's benign uniform vectors:
    near-degenerate ranges (max-min ~ 1e-6), float32 extremes (~3e38),
    negative-only, and denormal-scale values all stress the shared IEEE
    expression where engines could plausibly diverge."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import duckdb

    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _DUCK_CODES,
        _DUCK_MNMX,
        _codes_col,
    )

    rng = np.random.default_rng(11)
    vecs = [
        rng.uniform(-0.5, 0.5, 8).astype("float32"),
        (np.float32(0.1) + rng.uniform(0, 1e-6, 8)).astype("float32"),
        rng.uniform(1e30, 3e38, 8).astype("float32"),
        (-rng.uniform(1, 2, 8)).astype("float32"),
        rng.uniform(0, 1e-38, 8).astype("float32"),
        # exactly degenerate (max == min): the explicit pin-to-zero-point
        # (-128) branch — without it Spark floors 0/0's NaN to 0 while
        # DuckDB yields NULL
        np.zeros(8, dtype="float32"),
        np.full(8, 0.25, dtype="float32"),
    ]
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        path,
    )
    sdf = spark.read.parquet(path).select("vec_id", _codes_col().alias("codes"))
    # the claimed 4x compression must be physical: real 1-byte codes
    assert dict(sdf.dtypes)["codes"] == "array<tinyint>"
    srows = {r["vec_id"]: r["codes"] for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    orows = {
        r[0]: r[1]
        # _DUCK_CODES references the mn/mx aliases hoisted into _DUCK_MNMX
        # (the O(dim) form both production oracles consume it through)
        for r in con.execute(
            f"SELECT vec_id, {_DUCK_CODES} FROM {_DUCK_MNMX}"
        ).fetchall()
    }
    con.close()
    assert srows == orows


def test_semantic_tau_boundary_agrees_across_engines(spark):
    """dedup_semantic's drop decision AT the threshold (cosine exactly ==
    SEMANTIC_TAU, the crafted pair from test_algorithm_properties) must
    agree bit-for-bit between the Spark fold and the DuckDB oracle fold:
    both engines must compute the double 0.3 EXACTLY for the boundary
    pair (so >= drops it on both sides) and strictly less for the
    epsilon-below pair (kept on both sides) — closing the one edge the
    fixture-driven hash gate never exercises."""
    from tests.test_algorithm_properties import (
        BOUNDARY_A,
        BOUNDARY_B_BELOW,
        BOUNDARY_B_EQ,
    )

    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _SPARK_COSINE,
        _SPARK_NORM,
        SEMANTIC_TAU,
        _duck_cosine,
    )

    sdf = spark.createDataFrame(
        [(BOUNDARY_A, BOUNDARY_B_EQ), (BOUNDARY_A, BOUNDARY_B_BELOW)],
        "va array<float>, vb array<float>",
    )
    norm_of = lambda c: F.expr(_SPARK_NORM.replace("transform(v,", f"transform({c},"))
    rows = (
        sdf.withColumn("norm_a", norm_of("va"))
        .withColumn("norm_b", norm_of("vb"))
        .select(F.expr(_SPARK_COSINE).alias("cos"))
        .collect()
    )
    spark_eq, spark_below = rows[0]["cos"], rows[1]["cos"]

    def duck_lit(v):
        return "CAST([" + ", ".join(repr(x) for x in v) + "] AS FLOAT[])"

    con = duckdb.connect()
    (duck_eq,) = con.execute(
        f"SELECT {_duck_cosine(duck_lit(BOUNDARY_A), duck_lit(BOUNDARY_B_EQ))}"
    ).fetchone()
    (duck_below,) = con.execute(
        f"SELECT {_duck_cosine(duck_lit(BOUNDARY_A), duck_lit(BOUNDARY_B_BELOW))}"
    ).fetchone()

    assert spark_eq == duck_eq == SEMANTIC_TAU == 0.3, (spark_eq, duck_eq)
    assert spark_below == duck_below < SEMANTIC_TAU, (spark_below, duck_below)
    # the decisions the operator takes at/below the boundary, both engines:
    assert (spark_eq >= SEMANTIC_TAU) and (duck_eq >= SEMANTIC_TAU)  # drop
    assert not (spark_below >= SEMANTIC_TAU) and not (duck_below >= SEMANTIC_TAU)


# (symbols, lhs, rhs) built to collide: runs of one symbol, merged
# spellings that equal literal spellings, SQL-hostile pair bytes.
BPE_FOLD_CASES = [
    (["x", "x", "x"], "x", "x"),
    (["x", "x", "x", "x"], "x", "x"),
    (["x", "xx", "x", "xx"], "x", "xx"),
    (["xx", "x", "x"], "xx", "x"),
    (["a", "b", "a", "b", "a"], "a", "b"),
    (["a"], "a", "a"),
    (["it's", '"q"', "it's", "\\"], "it's", '"q"'),
    (["e", "r", "m", "e", "r"], "e", "r"),
]


def test_bpe_merge_fold_parity_adversarial(spark):
    """The bpe_train merge rewrite runs as a Spark aggregate() fold with
    Column literals and as the oracle's DuckDB list_reduce with joined
    pair columns. Both must equal the textbook greedy scan on symbol
    arrays built to collide: runs of one symbol, merged spellings that
    equal literal spellings, and pair values containing SQL-hostile
    bytes (the Spark side takes them as lit() Columns, the DuckDB side
    as bound parameters — neither may depend on string interpolation)."""
    from multithreaded_mapreduce_library_spark.operators.text import _bpe_merge_col
    from tests.test_algorithm_properties import _greedy_merge

    cases = BPE_FOLD_CASES
    sdf = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)], ["i", "syms"]
    )
    got_spark = {}
    for i, (syms, a, b) in enumerate(cases):
        row = (
            sdf.filter(F.col("i") == i)
            .select(_bpe_merge_col(F.col("syms"), a, b).alias("m"))
            .collect()
        )
        got_spark[i] = list(row[0]["m"])
    con = duckdb.connect()
    for i, (syms, a, b) in enumerate(cases):
        want = _greedy_merge(syms, a, b)
        (got_duck,) = con.execute(
            """
            SELECT list_reduce(list_transform(?::VARCHAR[], e -> [e]),
              (acc, xs) -> CASE WHEN acc[-1] = ?::VARCHAR AND xs[1] = ?::VARCHAR
                           THEN list_append(acc[:len(acc)-1], ?::VARCHAR || ?::VARCHAR)
                           ELSE list_concat(acc, xs) END)
            """,
            [syms, a, b, a, b],
        ).fetchone()
        assert got_spark[i] == want, f"spark fold diverges on case {i}: {cases[i]}"
        assert list(got_duck) == want, f"duckdb fold diverges on case {i}: {cases[i]}"
