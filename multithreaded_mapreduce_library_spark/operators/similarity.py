"""Similarity search over the ``embeddings`` table (array<float>, 64-dim):
brute-force cosine top-k, sign-bit LSH bucketing, bucketed near-dup pairs,
and an IVF-style probe (SURVEY.md §2.3; PAPERS.md top-k similarity search).

Bit-exactness across engines: cosine is computed as a *sequential left
fold* over double-cast elements in both engines — Spark ``aggregate()``
and DuckDB ``list_reduce`` both fold left-to-right, and IEEE doubles make
(+, *, sqrt, /) deterministic given identical operand order — so scores
match bit-for-bit and rankings can't diverge. All JVM-side higher-order
functions; no Python UDFs in these paths.

Scale notes: brute-force is the correctness baseline (query-set × corpus
— fine when the query set is small and broadcast; never corpus × corpus).
The LSH/IVF variants bound the candidate set per query so the join is
bucket-local — that's the 100 TB path, with the bucket id as the shuffle/
cluster key.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.registry import register
from multithreaded_mapreduce_library_spark.sources import load_table, rebalance_scan


def _load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with the scan rebalanced: every consumer below does
    per-pair 64-element folds (or 64 sign tests) — CPU-bound map work that
    a one-row-group source would serialize into a single task."""
    return rebalance_scan(load_table(spark, sf_dir, "embeddings"), spark)


DIM = 64
N_SIGN_BITS = 8  # sign-bit LSH: 2^8 = 256 buckets
QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 defines the query set
TOP_K = 5
NEAR_DUP_COSINE = 0.25


# ---------------------------------------------------------------------------
# cross-engine cosine
# ---------------------------------------------------------------------------

def _dvec(col: str) -> Column:
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def _fold_sum(arr_expr: str) -> str:
    # Spark SQL sequential left fold (aggregate == reduce).
    return f"aggregate({arr_expr}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


# Pair-scoring expression over pre-normed sides: dot(va, vb)/(norm_a*norm_b).
# Norms are computed ONCE per vector (sqrt of the same sequential fold) and
# joined in — numerically identical to folding them per pair (IEEE ops on
# identical operands), but ~3× less fold work in the pair loop.
_SPARK_DOT = _fold_sum("zip_with(va, vb, (x, y) -> x * y)")
_SPARK_COSINE = f"({_SPARK_DOT} / (norm_a * norm_b))"
_SPARK_NORM = "sqrt(" + _fold_sum("transform(v, x -> x * x)") + ")"


def _duck_fold_sum(arr_expr: str) -> str:
    return f"list_reduce({arr_expr}, (acc, x) -> acc + x)"


def _duck_cosine(a: str, b: str) -> str:
    va = f"list_transform({a}, x -> CAST(x AS DOUBLE))"
    vb = f"list_transform({b}, x -> CAST(x AS DOUBLE))"
    dot = _duck_fold_sum(
        f"list_transform(generate_series(1, {DIM}), i -> {va}[i] * {vb}[i])"
    )
    na = _duck_fold_sum(f"list_transform({va}, x -> x * x)")
    nb = _duck_fold_sum(f"list_transform({vb}, x -> x * x)")
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _sign_bucket_spark(col: str, nbits: int) -> Column:
    terms = [
        F.when(F.expr(f"{col}[{i}] > 0"), F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(nbits)
    ]
    return _reduce(lambda p, q: p + q, terms)


def _sign_bucket_duck(col: str, nbits: int) -> str:
    # DuckDB lists are 1-indexed; Spark arrays 0-indexed — offset by one.
    return "(" + " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(nbits)
    ) + ")"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

@register(
    "sim_topk_bruteforce",
    oracle=f"""
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_duck_cosine('q.embedding', 'c.embedding')}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "topk", "llm-pipeline"),
    doc=(
        "Brute-force cosine top-k for a small query set against the full "
        "corpus: broadcast the queries, score every (query, candidate) "
        "pair, rank per query. The exact baseline the ANN variants are "
        "measured against."
    ),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    ).withColumn("norm", F.expr(_SPARK_NORM))
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("va"), F.col("norm").alias("norm_a")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"), F.col("norm").alias("norm_b")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_exact", F.expr(_SPARK_COSINE))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_exact").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos_exact", 6).alias("cosine"), "rnk")
    )


@register(
    "sim_lsh_buckets",
    oracle=f"""
SELECT {_sign_bucket_duck('embedding', N_SIGN_BITS)} AS bucket,
       count(*) AS n_vectors,
       min(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
""",
    tags=("similarity", "lsh", "llm-pipeline"),
    doc=(
        f"Sign-bit LSH index: {N_SIGN_BITS} axis-hyperplane bits → "
        f"{1 << N_SIGN_BITS} buckets (exact float sign tests — no arithmetic "
        "to diverge). The bucket id is the cluster/shuffle key at scale."
    ),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir)
    return (
        e.select(_sign_bucket_spark("embedding", N_SIGN_BITS).alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


@register(
    "sim_near_dup",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck('embedding', N_SIGN_BITS)} AS bucket
  FROM embeddings
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       round({_duck_cosine('x.embedding', 'y.embedding')}, 6) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE {_duck_cosine('x.embedding', 'y.embedding')} >= {NEAR_DUP_COSINE}
""",
    tags=("similarity", "dedup", "lsh", "llm-pipeline"),
    doc=(
        "Embedding-cosine near-dup pairs, bucket-local: candidates share a "
        f"{N_SIGN_BITS}-bit sign bucket, then exact cosine ≥ {NEAR_DUP_COSINE}. "
        "The bucket join caps the pair space at sum(bucket²) — the n² cross "
        "join never exists."
    ),
)
def sim_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id",
        _dvec("embedding").alias("v"),
        _sign_bucket_spark("embedding", N_SIGN_BITS).alias("bucket"),
    ).withColumn("norm", F.expr(_SPARK_NORM))
    x = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("bucket").alias("bk"), F.col("norm").alias("norm_a"),
    )
    y = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("bucket").alias("bk2"), F.col("norm").alias("norm_b"),
    )
    return (
        x.join(y, (F.col("bk") == F.col("bk2")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos_exact", F.expr(_SPARK_COSINE))
        .filter(F.col("cos_exact") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", F.round("cos_exact", 6).alias("cosine"))
    )


@register(
    "sim_topk_ivf",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck('embedding', 4)} AS cell
  FROM embeddings
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_duck_cosine('q.embedding', 'c.embedding')}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM b q JOIN b c ON q.cell = c.cell AND q.vec_id <> c.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
)
WHERE rnk <= 3
""",
    tags=("similarity", "topk", "ivf", "llm-pipeline"),
    doc=(
        "IVF-style ANN: coarse-quantize the corpus into 16 cells (4 sign "
        "bits standing in for trained centroids), probe only the query's "
        "cell, exact-rank within it. Same plan shape as a trained IVF: "
        "cell id = partition key, per-cell top-k, no global scan per query."
    ),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v"), _sign_bucket_spark("embedding", 4).alias("cell")
    ).withColumn("norm", F.expr(_SPARK_NORM))
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("va"), "cell",
        F.col("norm").alias("norm_a"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"),
        F.col("cell").alias("cell2"), F.col("norm").alias("norm_b"),
    )
    scored = (
        q.join(c, (F.col("cell") == F.col("cell2")) & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("cos_exact", F.expr(_SPARK_COSINE))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_exact").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", F.round("cos_exact", 6).alias("cosine"), "rnk")
    )


@register(
    "sim_topk_vectorized",
    oracle=None,  # BLAS-reordered float sums — bit-equality not guaranteed;
    # pytest asserts agreement with sim_topk_bruteforce to 1e-9
    tags=("similarity", "topk", "pandas-udf", "llm-pipeline"),
    doc=(
        "Vectorized top-k: the query matrix (tiny) broadcasts to every "
        "executor; each Arrow batch of candidates computes all pair "
        "cosines as one numpy matmul (BLAS). The high-throughput scale "
        "path when the query set fits in memory — same plan shape as "
        "bruteforce, ~vectorized inner loop. Operating envelope: the "
        "driver-side collect is |corpus|/QUERY_MOD rows and grows "
        "LINEARLY with the corpus — at |corpus|/QUERY_MOD x dim x 8 "
        "bytes beyond driver/executor memory (e.g. ~1e7 queries at "
        "dim=64 is ~5 GB broadcast), switch to the LSH/IVF/PQ variants, "
        "whose query side stays distributed."
    ),
)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = _load_embeddings(spark, sf_dir)
    qrows = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id", "embedding")
        .collect()
    )  # tiny query set (|corpus|/QUERY_MOD rows) — broadcast, not a data scan
    q_ids = np.array([r["vec_id"] for r in qrows], dtype="int64")
    q_mat = np.array([r["embedding"] for r in qrows], dtype="float64")
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, qn = bq.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy(dtype="int64")
            c_mat = np.array(list(pdf["embedding"]), dtype="float64")
            if len(c_mat) == 0:
                continue
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            sims = (c_mat @ mat.T) / np.outer(c_norm, qn)  # (n_cand, n_query)
            n, q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids[None, :], n, axis=0).ravel(),
                    "neighbor_id": np.repeat(c_ids, q),
                    "cos_exact": sims.ravel(),
                }
            )

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cos_exact double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cos_exact").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos_exact", 6).alias("cosine"), "rnk")
    )


CENTROID_ORACLE = """
WITH comp AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS val_fx
  FROM embeddings
)
SELECT label, pos,
       (CAST(sum(val_fx) AS DOUBLE) / 1000000) / count(*) AS centroid,
       count(*) AS n_vectors
FROM comp
GROUP BY label, pos
"""


@register(
    "embedding_centroids",
    oracle=CENTROID_ORACLE,
    tags=("similarity", "embedding", "mean-pooling"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (mean pooling), exploded to
    (label, component position, centroid value) rows — the building block
    for class prototypes / IVF coarse quantizers in a training pipeline.

    Exactness: each float component is double-cast and fixed-point
    quantized (1e-6) BEFORE summation, so the per-group sums are integer
    and order-independent; the final divide-back is the identical float
    expression on both engines.

    Shuffle story: posexplode fans each row into 64 components map-side,
    then ONE agg exchange on (label, pos) with map-side partial sums —
    the shuffle carries at most |labels|·64 rows per task, not the data.
    100 TB: identical plan; partial aggregation keeps the exchange tiny.
    """
    e = _load_embeddings(spark, sf_dir)
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn(
        "val_fx", F.floor(F.col("val").cast("double") * 1_000_000 + F.lit(0.5))
    )
    return comp.groupBy("label", "pos").agg(
        ((F.sum("val_fx").cast("double") / 1_000_000) / F.count("*")).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


_MP_BITS = 4  # coarse cells, matching sim_topk_ivf


def _duck_probe_cells(cell: str) -> str:
    # cell plus its Hamming-1 neighbors: flip each of the 4 bits via XOR
    return "[" + ", ".join(
        [cell] + [f"xor({cell}, {1 << b})" for b in range(_MP_BITS)]
    ) + "]"


@register(
    "sim_topk_multiprobe",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck('embedding', _MP_BITS)} AS cell
  FROM embeddings
),
q AS (
  SELECT vec_id, embedding, unnest({_duck_probe_cells('cell')}) AS probe
  FROM b WHERE vec_id % {QUERY_MOD} = 0
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_duck_cosine('q.embedding', 'c.embedding')}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM q JOIN b c ON q.probe = c.cell AND q.vec_id <> c.vec_id
)
WHERE rnk <= 3
""",
    tags=("similarity", "topk", "ivf", "multiprobe", "llm-pipeline"),
    doc=(
        "Multi-probe ANN: each query probes its own coarse cell PLUS the "
        f"{_MP_BITS} Hamming-1 neighbor cells (bit-flip probing, à la "
        "multi-probe LSH) — the standard recall fix for single-probe IVF "
        "(a near-neighbor that lands just across one hyperplane is no "
        "longer missed) at a bounded 5× candidate cost, still never the "
        "n² scan. Shuffle story: the probe fan-out is a narrow 5-row "
        "explode on the (tiny) query side; ONE equi-join exchange on the "
        "cell id; per-query top-k is the window family's single "
        "exchange. At 100 TB the cell id remains the cluster key and "
        "probe count is the recall/cost dial."
    ),
)
def sim_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v"),
        _sign_bucket_spark("embedding", _MP_BITS).alias("cell"),
    ).withColumn("norm", F.expr(_SPARK_NORM))
    probes = F.array(
        F.col("cell"), *[F.expr(f"cell ^ {1 << b}") for b in range(_MP_BITS)]
    )
    q = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("va"),
            F.col("norm").alias("norm_a"), F.explode(probes).alias("probe"),
        )
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"),
        F.col("cell").alias("c_cell"), F.col("norm").alias("norm_b"),
    )
    scored = (
        q.join(c, (F.col("probe") == F.col("c_cell")) & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("cos_exact", F.expr(_SPARK_COSINE))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_exact").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", F.round("cos_exact", 6).alias("cosine"), "rnk")
    )


def _codes_col() -> Column:
    """The affine-int8 code array of ``embedding`` — the ONE definition of
    the quantization rule, shared by embedding_quantize (code statistics)
    and sim_topk_quantized (integer-dot-product scoring).

    STORAGE IS A REAL ``array<tinyint>``: the affine level
    round((x - min) / (max - min) * 255) ∈ [0, 255] is stored shifted by
    the zero-point −128 (stored = level − 128 ∈ [−128, 127]) — exactly how
    asymmetric uint8 quantizers materialize into signed int8 — so each
    code really occupies ONE byte in Tungsten rows / shuffle pages and
    the 4× compression the docstrings claim is realized in-engine, not
    just in value range. Consumers widen to BIGINT inside arithmetic.

    Degenerate constant vectors (max == min) are pinned EXPLICITLY to the
    zero-point (all codes −128, i.e. level 0): without the guard the
    engines diverge on 0/0 — Spark floors NaN to 0 while DuckDB yields
    NULL — a latent hash mismatch on any future fixture with a
    zero/padding vector (the exact-0 comparison is IEEE-safe; both sides
    branch identically)."""
    amin = F.array_min("embedding").cast("double")
    amax = F.array_max("embedding").cast("double")
    return F.transform(
        F.col("embedding"),
        lambda x: (
            F.when(amax == amin, F.lit(0))
            .otherwise(
                F.floor((x.cast("double") - amin) / (amax - amin) * 255 + F.lit(0.5))
            )
            - 128
        ).cast("tinyint"),
    )


# DuckDB twin of _codes_col, f-string'd into both quantization oracles.
# list_min/list_max are hoisted into a FROM-subquery (_DUCK_MNMX below)
# instead of being re-evaluated inside the per-element lambda — inlined
# they make every oracle evaluation O(dim^2) per vector (min/max rescanned
# for each of the dim elements); values are identical either way.
_DUCK_MNMX = """(
  SELECT *,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings
) AS emb_mnmx"""
_DUCK_CODES = """list_transform(
           embedding,
           x -> CASE WHEN mx = mn
                THEN CAST(-128 AS TINYINT)
                ELSE CAST(floor(
                  (CAST(x AS DOUBLE) - mn) / (mx - mn)
                  * 255 + 0.5) - 128 AS TINYINT) END
         )"""


@register(
    "embedding_quantize",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
         {_DUCK_CODES} AS codes
  FROM {_DUCK_MNMX}
)
SELECT vec_id,
       label,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(len(list_filter(codes, c -> c = -128)) AS BIGINT) AS n_min,
       CAST(len(list_filter(codes, c -> c = 127)) AS BIGINT) AS n_sat,
       CAST(codes[1] AS BIGINT) AS first_code
FROM q
""",
    tags=("similarity", "quantization", "embedding", "llm-pipeline"),
    doc=(
        "Per-vector affine int8 quantization (the memory-4x/bandwidth-4x "
        "code path an ANN index uses at 100 TB): level_i = "
        "round((x_i - min) / (max - min) * 255), stored as a REAL "
        "array<tinyint> shifted by the zero-point -128 (stored = level "
        "- 128, the standard asymmetric-uint8-into-int8 materialization "
        "— so the 4x compression is physical, one byte per code in "
        "Tungsten rows and shuffle pages, not just a value range). "
        "Emitted as per-vector integer summaries (code sum, "
        "min-pinned/saturated counts, first code, widened to BIGINT at "
        "the output boundary only) so the differential is exact — the "
        "float work is ONE shared IEEE expression inside floor(..+0.5), "
        "everything after is integer. Degenerate all-constant vectors "
        "are pinned to the zero-point (all codes -128) by an explicit "
        "max==min branch on BOTH sides — the engines DISAGREE on the "
        "unguarded 0/0 (Spark floors NaN to 0, DuckDB yields NULL), so "
        "the guard is load-bearing, not defensive decoration (see "
        "_codes_col). Shuffle story: ZERO exchanges — quantization is a "
        "narrow projection that rides the scan, exactly how a real "
        "pipeline would materialize a code column next to the vectors."
    ),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", "label", _codes_col().alias("codes"))
    return c.select(
        "vec_id",
        "label",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("code_sum"),
        F.size(F.filter("codes", lambda x: x == -128)).cast("long").alias("n_min"),
        F.size(F.filter("codes", lambda x: x == 127)).cast("long").alias("n_sat"),
        F.element_at("codes", 1).cast("long").alias("first_code"),
    )


# --- IVF centroid training (one exact Lloyd refinement) --------------------
K_CELLS = 8
_FX = 1_000_000  # centroid/assignment fixed-point scale (1e-6)


def _duck_d2(a: str, b: str) -> str:
    return _duck_fold_sum(
        f"list_transform(generate_series(1, {DIM}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
    )


# Shared Lloyd CTE chain (seed → assign → fixed-point update → re-assign);
# consumed by both ivf_train_centroids and the trained-probe ANN query so
# the trained cells can never drift between them.
_DUCK_LLOYD_CTES = f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
seeds AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT {K_CELLS}),
a1 AS (
  SELECT vec_id, va, cid FROM (
    SELECT e.vec_id, e.v AS va, s.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {_duck_d2('e.v', 's.c')}, s.cid
           ) AS rn
    FROM e CROSS JOIN seeds s
  ) WHERE rn = 1
),
comp AS (
  SELECT cid, i AS pos, va[i] AS x
  FROM a1 CROSS JOIN unnest(generate_series(1, {DIM})) AS g(i)
),
upd AS (
  SELECT cid, pos,
         floor(CAST(sum(CAST(floor(x * {_FX} + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / {_FX} AS cval
  FROM comp GROUP BY cid, pos
),
newc AS (SELECT cid, list(cval ORDER BY pos) AS c FROM upd GROUP BY cid),
a2 AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT e.vec_id, n.cid, {_duck_d2('e.v', 'n.c')} AS d2,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {_duck_d2('e.v', 'n.c')}, n.cid
           ) AS rn
    FROM e CROSS JOIN newc n
  ) WHERE rn = 1
)"""


@register(
    "ivf_train_centroids",
    oracle=f"""
WITH {_DUCK_LLOYD_CTES}
SELECT vec_id,
       CAST(cid AS BIGINT) AS cell_id,
       CAST(floor(d2 * {_FX} + 0.5) AS BIGINT) AS d2_fx
FROM a2
""",
    tags=("similarity", "ivf", "kmeans", "llm-pipeline"),
    doc=(
        f"IVF coarse-quantizer TRAINING, one exact Lloyd refinement: seed "
        f"{K_CELLS} centroids from the {K_CELLS} smallest vec_ids, assign "
        "every vector to its nearest seed (squared-L2 as the shared "
        "sequential fold, centroid-id tiebreak), recompute centroids as "
        "fixed-point component means (1e-6 quantized — double sums are "
        "order-dependent, integer sums are not, so the updated centroids "
        "are bit-identical across engines and partitionings), then emit "
        "the final assignment + fixed-point distance per vector. This is "
        "the training step sim_topk_ivf's sign-bucket stand-in abstracts "
        "over; the convergence loop is real — _lloyd_final_assignment "
        "takes a rounds parameter (this gated query is rounds=1), and "
        "inertia is pinned monotone non-increasing across rounds. Shuffle "
        "story: centroids are k rows, fetched to the driver once and "
        "folded into the plan as a LITERAL array — assignment is "
        "array_min over struct(d2, cid), one narrow "
        "whole-stage-codegen projection, ZERO exchange (no "
        "window, no join; plan-pinned); the update is a posexplode into "
        f"(cid, pos) partial-aggregated counters — {K_CELLS}×{DIM} groups "
        "regardless of corpus size. At 100 TB nothing wide ever shuffles: "
        "assignment rides the scan, the update reduces to k×dim cells."
    ),
)
def ivf_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lloyd_final_assignment(spark, sf_dir).select(
        "vec_id",
        F.col("cid").cast("long").alias("cell_id"),
        F.floor(F.col("d2") * _FX + F.lit(0.5)).cast("long").alias("d2_fx"),
    )


# --- the ONE Lloyd core --------------------------------------------------
# Every IVF/PQ trainer, the ANN index builder and the semantic-admission
# pair (batch + streaming) run through the functions below. Three
# invariants keep them bit-identical to the DuckDB oracles:
# - seed rule: BOTH engines seed with the K_CELLS smallest vec_ids
#   PRESENT in the input frame — Spark via orderBy/limit (_lloyd_seeds),
#   the oracles via `ORDER BY vec_id LIMIT K` in _DUCK_LLOYD_CTES' seeds
#   CTE (docs/lloyd_seeds_alignment_r15.md; vec_id is unique, so the
#   selection is total and stable on any id range, dense or not);
# - d2 is the shared sequential squared-L2 fold, and every nearest-
#   centroid pick goes through _nearest_centroid's (d2, cid) argmin;
# - centroid and codeword updates are fixed-point means
#   (_fixed_point_means): integer component sums are order-independent.


def _lloyd_seeds(e: DataFrame) -> DataFrame:
    """(cid, vc): the K_CELLS smallest vec_ids present in ``e``, as the
    initial centroids. TakeOrderedAndProject — per-partition top-k, then
    k rows to one task; never a full sort, at any corpus size."""
    return (
        e.orderBy("vec_id")
        .limit(K_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("vc"))
    )


def _nearest_centroid(rows, vcol: str) -> str:
    """SQL for the nearest-centroid argmin of the array<double> column
    ``vcol`` against collected (cid, vc) centroid rows (non-empty):
    ``array_min`` over one ``struct(d2, cid)`` per centroid, with the
    centroids folded into the plan as literal arrays. d2 is the shared
    sequential squared-L2 fold (the same operand order as the oracles'
    _duck_d2, so bit-identical doubles), and struct comparison is
    field-lexicographic, so the pick IS the oracles' ``ORDER BY d2,
    cid`` tiebreak. Doubles round-trip collect -> repr -> SQL literal
    losslessly (shortest round-trip strings, correctly-rounded
    decimal-literal -> DOUBLE conversions). Terms are emitted in cid
    order for deterministic expression text; the argmin itself is
    order-independent. ONE parsed SQL string, not k*dim F.lit calls:
    each Column call is a py4j round trip, and at k=8 x dim=64 the
    F.lit form spent ~0.5s of driver time per build vs ~0.1s (r15)."""

    def arr(vc) -> str:
        return "array(" + ",".join(repr(float(x)) for x in vc) + ")"

    terms = ",".join(
        f"struct(aggregate(zip_with({vcol}, {arr(r['vc'])},"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS d2,"
        f" CAST({int(r['cid'])} AS BIGINT) AS cid)"
        for r in sorted(rows, key=lambda r: r["cid"])
    )
    return f"array_min(array({terms}))"


def _lloyd_assign(e: DataFrame, rows) -> DataFrame:
    """(vec_id, cid, d2, va): nearest-centroid assignment of an
    embeddings frame (vec_id, v) to collected (cid, vc) centroid rows —
    the _nearest_centroid literal argmin, one narrow whole-stage-codegen
    projection with ZERO exchange and no join (the k centroids live in
    the plan). Agreement with the oracles' window argmin, d2 bits
    included, is pinned by
    tests/test_plans.py::test_lloyd_narrow_assign_agrees_with_window.

    Envelope: the literal's driver-side build grows with k (2.7 s at
    k=8, 6.9 s at k=64 in the r16 k-sweep, PERF.md, 16x fixture), and it
    is measured for k <= 16 only; K_CELLS is 8. Raising K_CELLS past 16
    means measuring again — a broadcast + row_number window argmin is no
    fallback at scale, because it exchanges and sorts N*k rows."""
    if not rows:
        # no centroids: nothing to assign to (the oracles' cross join
        # with an empty centroid CTE is empty too)
        return e.select(
            "vec_id",
            F.lit(None).cast("long").alias("cid"),
            F.lit(None).cast("double").alias("d2"),
            F.col("v").alias("va"),
        ).where(F.lit(False))
    return (
        e.select("vec_id", F.col("v").alias("va"))
        .withColumn("_best", F.expr(_nearest_centroid(rows, "va")))
        .select(
            "vec_id",
            F.col("_best.cid").alias("cid"),
            F.col("_best.d2").alias("d2"),
            "va",
        )
    )


def _fixed_point_means(a: DataFrame, keys: tuple[str, ...], vcol: str) -> DataFrame:
    """(*keys, vc): the update step of every Lloyd and PQ round — per
    ``keys`` group, the FIXED-POINT component means (1e-6 quantized) of
    the array<double> column ``vcol``: keys ``cid`` over full vectors
    (``va``) for the Lloyd centroids, keys ``m, cid`` over subvectors
    (``sv``) for the PQ codebooks. Double sums are order-dependent,
    integer sums are not, so the means are bit-identical across engines
    and partitionings. Shuffle story: a posexplode into (keys…, pos)
    partial-aggregated counters — groups × dim regardless of corpus
    size."""
    comp = a.select(*keys, F.posexplode(vcol).alias("pos", "x"))
    upd = (
        comp.groupBy(*keys, "pos")
        .agg(
            F.sum(F.floor(F.col("x") * _FX + F.lit(0.5)).cast("long")).alias("sfx"),
            F.count("*").alias("n"),
        )
        .withColumn(
            "cval",
            F.floor(F.col("sfx").cast("double") / F.col("n") + F.lit(0.5)) / _FX,
        )
    )
    return upd.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("vc")
    )


def _lloyd_train(e: DataFrame, rounds: int = 1) -> list:
    """Collected (cid, vc) centroid rows after ``rounds`` Lloyd
    refinements over an ARBITRARY embeddings frame (vec_id, v) — seed
    with the K_CELLS smallest vec_ids present, then alternate
    assign/update. The fixed-point-means trick makes EVERY round engine-
    and partitioning-independent, not just the first — integer component
    sums are associative, so round r's centroids (and therefore round
    r+1's assignment) are bit-identical however the corpus is
    partitioned. Monotone non-increasing inertia across rounds is pinned
    by tests/test_streaming.py::test_lloyd_inertia_monotone. One k-row
    collect per round (plus the seeds): the centroids enter the next
    round's plan as literals, so every round's plan is O(1) deep."""
    assert rounds >= 1
    rows = _lloyd_seeds(e).collect()
    for _ in range(rounds):
        rows = _fixed_point_means(_lloyd_assign(e, rows), ("cid",), "va").collect()
    return rows


def _lloyd_final_assignment(
    spark: SparkSession, sf_dir: str, rounds: int = 1
) -> DataFrame:
    """(vec_id, cid, d2, va) after ``rounds`` Lloyd refinements of the
    full embeddings table — the Spark twin of _DUCK_LLOYD_CTES at
    rounds=1 (the oracle-gated path) and the real convergence loop
    beyond it; a two-call composition of the unified core."""
    e = _load_embeddings(spark, sf_dir).select("vec_id", _dvec("embedding").alias("v"))
    return _lloyd_assign(e, _lloyd_train(e, rounds))


def lloyd_inertia_fx(spark: SparkSession, sf_dir: str, rounds: int) -> int:
    """Total within-cell squared distance after ``rounds`` refinements,
    in 1e-6 fixed-point units (exact integer — comparable across runs)."""
    a = _lloyd_final_assignment(spark, sf_dir, rounds)
    return a.agg(
        F.sum(F.floor(F.col("d2") * _FX + F.lit(0.5)).cast("long")).alias("i")
    ).collect()[0]["i"]


# --- embedding-space outlier ranking (landed r18 after an oracle
# differential on seeds 42 AND 1201, a hand-checked 9-vector micro-corpus
# and plan pins) -----------------------------------------------------------

TOP_OUTLIERS = 5

EMBEDDING_OUTLIERS_ORACLE = f"""
WITH {_DUCK_LLOYD_CTES}
SELECT cid, vec_id,
       floor(d2 * 1000000 + 0.5) / 1000000 AS d2_r,
       rnk
FROM (
  SELECT cid, vec_id, d2,
         row_number() OVER (PARTITION BY cid ORDER BY d2 DESC, vec_id) AS rnk
  FROM a2
)
WHERE rnk <= {TOP_OUTLIERS}
"""


@register(
    "embedding_outliers",
    oracle=EMBEDDING_OUTLIERS_ORACLE,
    tags=("similarity", "kmeans", "quality", "llm-pipeline"),
    doc=(
        "Per-cell far-from-centroid ranking over the shared Lloyd cells "
        f"(_DUCK_LLOYD_CTES, K_CELLS={K_CELLS}, 1 refinement — the exact "
        "same trained cells as the IVF family): the top-"
        f"{TOP_OUTLIERS} vectors by squared-L2 distance DESC per cell "
        "(vec_id tiebreak). The SemDeDup-style embedding-space pruning "
        "signal: cluster outliers are the noise/off-distribution "
        "candidates a curation pass drops first. d2 is the bit-identical "
        "sequential fold, so the ranking and the 1e-6-floored d2_r are "
        "exact. Shuffle story (100 TB): training + assignment are the "
        "shared Lloyd core (TakeOrdered seeds, zero-exchange literal "
        "argmin, k x dim partial-agg update); the only NEW exchange is "
        "the per-cell ranking window on cid, and Spark pushes the rnk<=5 "
        "filter into a WindowGroupLimit (each partition keeps top-5 "
        "before the final sort — the property that bounds the sort at "
        "scale; pinned in tests/test_plans.py). At the gated k=8 the "
        "window has 8 partitions — fine at fixture scale; at real scale "
        "k ~ sqrt(N) cells keep partitions balanced. No joins on the "
        "data path at all (pinned)."
    ),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    asn = _lloyd_final_assignment(spark, sf_dir)
    w = W.partitionBy("cid").orderBy(F.col("d2").desc(), "vec_id")
    return (
        asn.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_OUTLIERS)
        .select(
            "cid",
            "vec_id",
            (
                F.floor(F.col("d2") * F.lit(1000000) + F.lit(0.5))
                / F.lit(1000000)
            ).alias("d2_r"),
            "rnk",
        )
    )


@register(
    "sim_topk_ivf_trained",
    oracle=f"""
WITH {_DUCK_LLOYD_CTES},
asn AS (
  SELECT a2.vec_id, a2.cid, e.v AS embedding
  FROM a2 JOIN e ON a2.vec_id = e.vec_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_duck_cosine('q.embedding', 'c.embedding')}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
         ) AS rnk
  FROM asn q JOIN asn c ON q.cid = c.cid AND q.vec_id <> c.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
)
WHERE rnk <= 3
""",
    tags=("similarity", "topk", "ivf", "kmeans", "llm-pipeline"),
    doc=(
        "The full trained-IVF ANN loop: Lloyd-refined centroids "
        "(ivf_train_centroids' exact pipeline, shared code and shared "
        "oracle CTEs), cell assignment, then probe only the query's "
        "trained cell and exact-rank by cosine inside it — replacing "
        "sim_topk_ivf's sign-bucket stand-in with the real "
        "train-index-probe sequence. Shuffle story: training as in "
        "ivf_train_centroids (literal k-centroid argmin, zero-exchange "
        "narrow assignment; k×dim partial-agg update); the probe is one equi-join "
        "on the trained cell id — candidates stay cell-local, never a "
        "global scan per query, the IVF contract at 100 TB."
    ),
)
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    asn = _lloyd_final_assignment(spark, sf_dir).select(
        "vec_id", "cid", F.col("va").alias("v")
    ).withColumn("norm", F.expr(_SPARK_NORM))
    q = asn.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("va"), "cid",
        F.col("norm").alias("norm_a"),
    )
    c = asn.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"),
        F.col("cid").alias("cid2"), F.col("norm").alias("norm_b"),
    )
    scored = (
        q.join(c, (F.col("cid") == F.col("cid2")) & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("cos_exact", F.expr(_SPARK_COSINE))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_exact").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", F.round("cos_exact", 6).alias("cosine"), "rnk")
    )


@register(
    "sim_topk_quantized",
    oracle=f"""
WITH c AS (
  SELECT vec_id, {_DUCK_CODES} AS codes
  FROM {_DUCK_MNMX}
)
SELECT query_id, neighbor_id, qdot, rnk FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, {DIM}),
                                      i -> CAST(q.codes[i] AS BIGINT)
                                           * CAST(n.codes[i] AS BIGINT))) AS BIGINT) AS qdot,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(generate_series(1, {DIM}),
                                            i -> CAST(q.codes[i] AS BIGINT)
                                                 * CAST(n.codes[i] AS BIGINT))) DESC,
                    n.vec_id
         ) AS rnk
  FROM c q JOIN c n ON q.vec_id <> n.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "topk", "quantization", "llm-pipeline"),
    doc=(
        "Top-k scored ON THE INT8 CODES: rank candidates by the integer "
        "dot product of their affine-quantized codes (embedding_quantize's "
        "exact rule, shared Spark expression and shared oracle SQL; the "
        "codes travel as real 1-byte tinyints and are widened to BIGINT "
        "only inside the dot fold, so products can never overflow the "
        "storage type) — the asymmetric-distance serving path a 100 TB "
        "ANN index runs, where float vectors stay on disk and the "
        "4x-smaller codes are scored with integer SIMD, refining only "
        "the survivors. All-integer math makes the cross-engine "
        "differential exact with no float-order caveats at all. Shuffle "
        "story: broadcast the tiny query-side code set, score per "
        "partition, TakeOrdered per query — at scale this composes with "
        "the trained IVF cells (score codes only within the probed cell)."
    ),
)
def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir).select("vec_id", _codes_col().alias("codes"))
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qa")
    )
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("codes").alias("qb"))
    qdot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("qdot", qdot)
    )
    w = W.partitionBy("query_id").orderBy(F.col("qdot").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "qdot", "rnk")
    )




SHORTLIST_K = 10  # int8 candidates kept per query before exact re-rank


def build_ann_index(
    spark: SparkSession, sf_dir: str, codec: str
) -> tuple[DataFrame, list]:
    """(index, codec rows): the quantized ANN index both serving
    capstones read. ``index`` is the materialized (vec_id, cid, codes)
    frame — the trained Lloyd cell id plus the codec's tinyint code
    array, with NO float column. ``codec`` picks the codes:

    - ``"int8"``: GLOBAL-symmetric int8 codes of the unit-normalized
      vectors, ``floor(u_i * s + 0.5)`` with s = 127 / max|u_i| (range
      [-127, 127], so the signed byte holds the symmetric rule with no
      zero-point shift); the codec rows are the one collected scale row
      (``vc`` = [s]);
    - ``"pq"``: the PQ_M per-subspace codeword ids (pq._pq_codes_expr);
      the codec rows are the collected (m, cid, vc) codebook, which the
      serving LUT needs.

    Rounds, in order: (1) the Lloyd seeds TakeOrdered collect, kept on
    its own so the limit fast path stays intact (PQ's seed-subvector
    collect follows it, inside pq._pq_update); (2) ONE union'ed collect
    of the Lloyd centroid update and the codec's rows — the global-scale
    agg for int8, the PQ codebook update for pq — so the independent
    subtrees run as concurrent stages of one action; (3) the narrow
    assignment + code projection, ``localCheckpoint``'ed eagerly. Every
    collected value is a fixed-point mean or an order-independent max,
    and a collected double round-trips repr -> SQL literal losslessly,
    so the literals are bit-identical to the oracles' values. Past the
    collects the assignment and the codes are one narrow zero-exchange
    projection riding the scan. The index is computed fresh from parquet
    on every call (nothing persists across runs); this is the one place
    a cluster would swap ``localCheckpoint`` for a reliable
    ``checkpoint()``. An empty corpus gives an empty index (int8 falls
    back to scale 1.0; PQ has no codebook to code against)."""
    # pq.py imports this module at module level
    from multithreaded_mapreduce_library_spark.operators.pq import (
        _pq_codes_expr,
        _pq_sub,
        _pq_update,
    )

    def unit(df: DataFrame) -> DataFrame:
        # zero-norm guard keeps degenerate vectors deterministic: unit
        # := v, codes all zero after scaling
        return df.withColumn("norm", F.expr(_SPARK_NORM)).withColumn(
            "uv", F.expr("transform(v, x -> x / IF(norm = 0.0D, 1.0D, norm))")
        )

    e = _load_embeddings(spark, sf_dir).select("vec_id", _dvec("embedding").alias("v"))
    a = _lloyd_assign(e, _lloyd_seeds(e).collect())
    if codec == "int8":
        gmax = F.max(
            F.greatest(F.abs(F.expr("array_min(uv)")), F.abs(F.expr("array_max(uv)")))
        )
        codec_df = unit(e).agg(
            (F.lit(127.0) / F.when(gmax == 0.0, 1.0).otherwise(gmax)).alias("s")
        ).select(F.array("s").alias("vc"))
    elif codec == "pq":
        codec_df = _pq_update(_pq_sub(spark, sf_dir))
    else:
        raise ValueError(f"codec must be 'int8' or 'pq', not {codec!r}")
    rows = (
        _fixed_point_means(a, ("cid",), "va")
        .withColumn("lloyd", F.lit(True))
        .unionByName(codec_df, allowMissingColumns=True)
        .collect()
    )
    codec_rows = [r for r in rows if not r["lloyd"]]
    base = _assign_to_cells(e, [r for r in rows if r["lloyd"]])
    if codec == "int8":
        # empty corpus: the agg still yields one row, with s NULL, and
        # there are no centroids — any finite literal gives the same
        # (empty) index. CAST(<repr> AS DOUBLE) is the exact collected
        # double (_nearest_centroid's literal rule).
        s = codec_rows[0]["vc"][0]
        s = 1.0 if s is None else float(s)
        index = unit(base).select(
            "vec_id",
            "cid",
            F.expr(
                f"transform(uv, x -> CAST(floor(x * CAST({s!r} AS DOUBLE) + 0.5)"
                " AS TINYINT))"
            ).alias("codes"),
        )
    elif codec_rows:
        index = base.select(
            "vec_id", "cid", F.expr(_pq_codes_expr(codec_rows, "v")).alias("codes")
        )
    else:
        # no codebook (no embeddings): nothing to code against
        index = base.select(
            "vec_id", "cid", F.lit(None).cast("array<tinyint>").alias("codes")
        ).where(F.lit(False))
    return index.localCheckpoint(eager=True), codec_rows


def _ivfq_shortlist_ids(index: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) — the per-query int8 shortlist over a
    build_ann_index(..., "int8") index (checkpointed, or read back from
    parquet), computed entirely on the tinyint codes: cell-local
    candidate join, widened integer dot product, top-SHORTLIST_K window.
    No float-array column exists anywhere in this subplan — the
    candidate exchange carries ids + 1-byte codes only (plan-asserted by
    tests/test_plans.py::test_ivf_quantized_shortlist_carries_no_floats)."""
    q = index.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("qcid"),
        F.col("codes").alias("qa"),
    )
    n = index.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cid").alias("ncid"),
        F.col("codes").alias("qb"),
    )
    qdot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = q.join(
        n,
        (F.col("qcid") == F.col("ncid"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).withColumn("qdot", qdot)
    w_short = W.partitionBy("query_id").orderBy(F.col("qdot").desc(), "neighbor_id")
    return (
        cand.withColumn("crnk", F.row_number().over(w_short))
        .filter(F.col("crnk") <= SHORTLIST_K)
        .select("query_id", "neighbor_id")
    )


def exact_cosine_rerank(
    spark: SparkSession, sf_dir: str, short_ids: DataFrame, top_n: int
) -> DataFrame:
    """Exact float-cosine rerank of a tiny (query_id, neighbor_id)
    shortlist — the shared final stage of every quantized serving
    capstone (sim_topk_ivf_quantized, sim_topk_ivfpq). Re-acquires the
    float vectors by BROADCASTING the shortlist against the embeddings
    scan twice (query side, then neighbor side), so the corpus never
    shuffles and the exact math touches only the shortlisted rows."""
    vec = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    ).withColumn("norm", F.expr(_SPARK_NORM))
    a = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("va"),
        F.col("norm").alias("norm_a"),
    )
    b = vec.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("vb"),
        F.col("norm").alias("norm_b"),
    )
    withq = a.join(F.broadcast(short_ids), "query_id")
    short = b.join(F.broadcast(withq), "neighbor_id").withColumn(
        "cos_exact", F.expr(_SPARK_COSINE)
    )
    w_rank = W.partitionBy("query_id").orderBy(F.col("cos_exact").desc(), "neighbor_id")
    return (
        short.select("query_id", "neighbor_id", "cos_exact")
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= top_n)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_exact", 6).alias("cosine"),
            "rnk",
        )
    )


@register(
    "sim_topk_ivf_quantized",
    oracle=f"""
WITH {_DUCK_LLOYD_CTES},
unit AS (
  SELECT u.vec_id, u.cid, u.v,
         list_transform(u.v, x -> x / CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END)
           AS uv
  FROM (
    SELECT e.vec_id, a2.cid, e.v,
           sqrt({_duck_fold_sum("list_transform(e.v, x -> x * x)")}) AS nrm
    FROM e JOIN a2 ON e.vec_id = a2.vec_id
  ) u
),
gs AS (
  SELECT 127.0 / CASE WHEN max(greatest(abs(list_min(uv)), abs(list_max(uv)))) = 0
                 THEN 1
                 ELSE max(greatest(abs(list_min(uv)), abs(list_max(uv)))) END AS s
  FROM unit
),
asn AS (
  SELECT vec_id, cid, v,
         list_transform(uv, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS codes
  FROM unit CROSS JOIN gs
),
cand AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, {DIM}),
                                      i -> q.codes[i] * n.codes[i])) AS BIGINT) AS qdot,
         q.v AS qv, n.v AS nv
  FROM asn q JOIN asn n ON q.cid = n.cid AND q.vec_id <> n.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
),
shortlist AS (
  SELECT query_id, neighbor_id, qv, nv FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY qdot DESC, neighbor_id
    ) AS crnk
    FROM cand
  ) WHERE crnk <= {SHORTLIST_K}
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT query_id, neighbor_id,
         round({_duck_cosine('qv', 'nv')}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY {_duck_cosine('qv', 'nv')} DESC, neighbor_id
         ) AS rnk
  FROM shortlist
) WHERE rnk <= 3
""",
    tags=("similarity", "topk", "ivf", "kmeans", "quantization", "llm-pipeline"),
    doc=(
        "The COMPLETE production ANN serving path in one oracle-gated "
        "query: Lloyd-trained coarse cells (ivf_train_centroids' exact "
        "pipeline), int8 codes, candidate generation restricted to the "
        "query's trained cell, an integer dot-product shortlist of "
        f"{SHORTLIST_K} per query (deterministic with the id tiebreak), "
        "then exact float cosine ONLY on the shortlist survivors, ranked "
        "to top-3. The codes here are deliberately NOT "
        "embedding_quantize's per-vector affine rule: affine codes are "
        "scale/offset-invariant per vector, so their integer dot product "
        "ranks cosine poorly (measured 0.33 of the exact cell top-3 "
        "retained in a 10-deep shortlist, invariant to normalization). "
        "Ranking needs scores comparable ACROSS vectors, so this query "
        "quantizes the UNIT-normalized vectors with one GLOBAL symmetric "
        "scale s = 127/max|u_i| (both reductions order-independent, so s "
        "is cross-engine exact) — measured 1.00 of the exact cell top-3 "
        "retained at the same depth. Both rules coexist on purpose: "
        "affine-per-vector for storage/reconstruction statistics, "
        "global-symmetric for similarity serving — which is how real "
        "systems do it (shared scales or codebooks for comparable "
        "scores). This is how a 100 TB index answers: floats stay on "
        "disk, 4x-smaller codes are scanned cell-locally with integer "
        "SIMD, and the expensive exact math touches K rows per query — "
        "and the plan matches the claim end-to-end: the index is ONE "
        "materialized (vec_id, cell id, tinyint codes) frame "
        "(build_ann_index(codec='int8')), the candidate join + shortlist "
        "window shuffle ids and real 1-byte codes ONLY (no float-array "
        "column exists in that subplan, plan-asserted), and the exact "
        "rerank re-acquires the float vectors by broadcasting the tiny "
        "(queries x SHORTLIST_K) id list against the embeddings scan — "
        "the corpus itself never shuffles for the rerank. Shuffle story: "
        "training as in ivf_train_centroids (k centroids folded into the "
        "plan as literals, kxdim partial-agg update); ONE extra 1-row "
        "global-scale aggregation, collected in the same job as the "
        "centroid update and folded into the code projection as a "
        "double literal (bit-identical: both reductions are order-"
        "independent); the probe "
        "is ONE equi-join on the trained cell id (no CartesianProduct, "
        "plan-asserted) carrying codes only; shortlist and re-rank are "
        f"two windows partitioned by query_id, bounded by cell size and "
        f"{SHORTLIST_K} rows respectively. (The oracle materializes the "
        "same code VALUES as BIGINT lists — storage width is an "
        "engine-side physical property the value differential cannot "
        "and need not see.)"
    ),
)
def sim_topk_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    index, _ = build_ann_index(spark, sf_dir, "int8")
    return exact_cosine_rerank(spark, sf_dir, _ivfq_shortlist_ids(index), 3)


# ---------------------------------------------------------------------------
# embedding hygiene: per-label squared-norm statistics
# ---------------------------------------------------------------------------

@register(
    "embedding_stats",
    oracle=f"""
WITH s AS (
  SELECT label,
         {_duck_fold_sum("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")} AS sq
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(min(sq), 6) AS min_sqnorm,
       round(max(sq), 6) AS max_sqnorm,
       (CAST(sum(CAST(floor(sq * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
        / 1000000.0) / count(*) AS avg_sqnorm
FROM s GROUP BY label
""",
    tags=("similarity", "embedding", "profiling", "llm-pipeline"),
    doc=(
        "Embedding hygiene profile: per-label vector counts and squared-"
        "norm min/max/mean — the sanity gate before any ANN indexing "
        "(zero or exploding norms poison IVF training and cosine "
        "ranking). Exactness: each vector's squared norm is the shared "
        "sequential left fold (bit-identical across engines), the mean "
        "accumulates through fixed-point micro-units (order-independent "
        "integer sum — a naive double SUM would depend on partition "
        "merge order), min/max are order-free. Shuffle story: the fold "
        "is a narrow map riding the scan; ONE partial-aggregated "
        "exchange on label carrying 4 scalars per group — at 100 TB "
        "the vectors themselves never shuffle."
    ),
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load_embeddings(spark, sf_dir)
    sq = F.expr(_fold_sum("transform(transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)"))
    s = e.select("label", sq.alias("sq"))
    return s.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.min("sq"), 6).alias("min_sqnorm"),
        F.round(F.max("sq"), 6).alias("max_sqnorm"),
        (
            (F.sum(F.floor(F.col("sq") * 1000000 + F.lit(0.5))).cast("long") / 1000000.0)
            / F.count("*")
        ).alias("avg_sqnorm"),
    )


SEMANTIC_TAU = 0.3  # within-cell cosine at/above which the later doc drops


@register(
    "dedup_semantic",
    oracle=f"""
WITH {_DUCK_LLOYD_CTES},
asn AS (
  SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e ON a2.vec_id = e.vec_id
),
drops AS (
  SELECT b.vec_id AS dup_id, min(a.vec_id) AS rep
  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_duck_cosine('a.v', 'b.v')} >= {SEMANTIC_TAU}
  GROUP BY b.vec_id
)
SELECT asn.vec_id,
       CAST(asn.cid AS BIGINT) AS cell_id,
       (d.dup_id IS NULL) AS kept,
       CAST(coalesce(d.rep, -1) AS BIGINT) AS dup_of
FROM asn LEFT JOIN drops d ON asn.vec_id = d.dup_id
""",
    tags=("dedup", "similarity", "kmeans", "llm-pipeline"),
    doc=(
        "Semantic (embedding-space) corpus dedup, SemDeDup-style (Abbas "
        "et al. 2023, arXiv:2303.09540 — method only, no code consulted): "
        "cluster the corpus with the exact Lloyd pipeline shared with "
        "ivf_train_centroids (same code, same oracle CTEs — the cells "
        "cannot drift from the ANN index), then inside each cell drop "
        f"every document that has an earlier-id neighbor at cosine >= "
        f"{SEMANTIC_TAU}, recording the smallest such earlier id as "
        "dup_of (-1 sentinel for kept docs; EXISTS-any-earlier "
        "semantics, not survivor-chained — deterministic without "
        "iteration). Emits the full per-document decision table "
        "(vec_id, cell_id, kept, dup_of) — the curation artifact a "
        "training pipeline joins against, not just the pair list "
        "sim_near_dup produces. Exactness: cosine is the shared "
        "sequential left fold (bit-identical across engines), so the "
        "threshold compare agrees bit-for-bit; the representative is a "
        "min over ids. Shuffle story: training as in ivf_train_centroids "
        "(literal k-centroid argmin, zero-exchange narrow assignment, k x dim "
        "partial-agg update); the pair join is ONE exchange on the cell "
        "id with cell-local pairs — sum over cells of cell^2. NOTE: "
        "K_CELLS is fixed (8) here, so cell-local pair work is ~n^2/k — "
        "still quadratic in corpus size at constant k; the SemDeDup "
        "deployment contract is that k SCALES with the corpus (k ~ n/"
        "target_cell_size, i.e. bounded cells => pair work ~ n * "
        "target_cell_size, linear) — at 100 TB that dial, not this "
        "constant, is what bounds the join. The drop agg and the final "
        "left join are both keyed on vec_id; vectors cross exactly the "
        "one cell-keyed exchange."
    ),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    asn = _lloyd_final_assignment(spark, sf_dir)  # (vec_id, cid, d2, va)
    e = asn.select(
        "vec_id", "cid", F.col("va").alias("v")
    ).withColumn("norm", F.expr(_SPARK_NORM))
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("cid").alias("cid_a"),
        F.col("v").alias("va"), F.col("norm").alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("cid").alias("cid_b"),
        F.col("v").alias("vb"), F.col("norm").alias("norm_b"),
    )
    drops = (
        a.join(b, (F.col("cid_a") == F.col("cid_b")) & (F.col("a_id") < F.col("b_id")))
        .filter(F.expr(_SPARK_COSINE) >= F.lit(SEMANTIC_TAU))
        .groupBy("b_id")
        .agg(F.min("a_id").alias("rep"))
    )
    return (
        e.join(drops, e.vec_id == drops.b_id, "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cell_id"),
            F.col("b_id").isNull().alias("kept"),
            F.coalesce(F.col("rep"), F.lit(-1)).cast("long").alias("dup_of"),
        )
    )


# ---------------------------------------------------------------------------
# incremental semantic dedup: new batch vs trained corpus index
# ---------------------------------------------------------------------------

_COS_SENTINEL_FX = -2_000_000  # below any real fx cosine (range [-1e6, 1e6])


def _duck_inc_batch_cond(col: str) -> str:
    from multithreaded_mapreduce_library_spark.functions import duck_h31
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD

    return f"(({duck_h31(f'CAST({col} AS VARCHAR)')}) % {INC_SPLIT_MOD} = 0)"


def _duck_sem_inc_oracle() -> str:
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD  # noqa: F401 (constant pinned via cond helper)

    bc = _duck_inc_batch_cond("vec_id")
    # corpus-trained Lloyd: the _DUCK_LLOYD_CTES chain with (a) training
    # restricted to the corpus split and (b) seeds = the K smallest CORPUS
    # vec_ids (vec_id < K would leak batch vectors into training)
    return f"""
WITH eall AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ec AS (SELECT * FROM eall WHERE NOT {bc}),
eb AS (SELECT * FROM eall WHERE {bc}),
seeds AS (
  SELECT vec_id AS cid, v AS c FROM ec ORDER BY vec_id LIMIT {K_CELLS}
),
a1 AS (
  SELECT vec_id, va, cid FROM (
    SELECT ec.vec_id, ec.v AS va, s.cid,
           row_number() OVER (
             PARTITION BY ec.vec_id ORDER BY {_duck_d2('ec.v', 's.c')}, s.cid
           ) AS rn
    FROM ec CROSS JOIN seeds s
  ) WHERE rn = 1
),
comp AS (
  SELECT cid, i AS pos, va[i] AS x
  FROM a1 CROSS JOIN unnest(generate_series(1, {DIM})) AS g(i)
),
upd AS (
  SELECT cid, pos,
         floor(CAST(sum(CAST(floor(x * {_FX} + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / {_FX} AS cval
  FROM comp GROUP BY cid, pos
),
newc AS (SELECT cid, list(cval ORDER BY pos) AS c FROM upd GROUP BY cid),
idx AS (
  SELECT vec_id, cid, v FROM (
    SELECT ec.vec_id, n.cid, ec.v,
           row_number() OVER (
             PARTITION BY ec.vec_id ORDER BY {_duck_d2('ec.v', 'n.c')}, n.cid
           ) AS rn
    FROM ec CROSS JOIN newc n
  ) WHERE rn = 1
),
bat AS (
  SELECT vec_id, cid, v FROM (
    SELECT eb.vec_id, n.cid, eb.v,
           row_number() OVER (
             PARTITION BY eb.vec_id ORDER BY {_duck_d2('eb.v', 'n.c')}, n.cid
           ) AS rn
    FROM eb CROSS JOIN newc n
  ) WHERE rn = 1
),
pairs AS (
  SELECT b.vec_id AS nd, i.vec_id AS od,
         {_duck_cosine('b.v', 'i.v')} AS c
  FROM bat b JOIN idx i ON b.cid = i.cid
),
dec AS (
  SELECT nd,
         count(*) AS n_cell,
         CAST(floor(max(c) * {_FX} + 0.5) AS BIGINT) AS max_cos_fx,
         min(CASE WHEN c >= {SEMANTIC_TAU} THEN od END) AS dup_raw
  FROM pairs GROUP BY nd
)
SELECT b.vec_id,
       CAST(b.cid AS BIGINT) AS cell_id,
       CAST(coalesce(dec.n_cell, 0) AS BIGINT) AS n_cell,
       CAST(coalesce(dec.max_cos_fx, {_COS_SENTINEL_FX}) AS BIGINT) AS max_cos_fx,
       (dec.dup_raw IS NOT NULL) AS is_dup,
       CAST(coalesce(dec.dup_raw, -1) AS BIGINT) AS dup_of
FROM bat b LEFT JOIN dec ON b.vec_id = dec.nd
"""


def _assign_to_cells(e: DataFrame, rows) -> DataFrame:
    """(vec_id, cid, v): the unified core's _lloyd_assign projected for
    the admission consumers (batch + streaming semantic dedup), which
    key on the cell id and the raw vector but never the distance."""
    return _lloyd_assign(e, rows).select(
        "vec_id", "cid", F.col("va").alias("v")
    )


@register(
    "dedup_semantic_incremental",
    oracle=_duck_sem_inc_oracle(),
    tags=("dedup", "similarity", "kmeans", "incremental", "llm-pipeline"),
    doc=(
        "Incremental SEMANTIC dedup — the embedding half of the arriving-"
        "batch ingestion gate, composing dedup_semantic's cluster-scoped "
        "cosine test with dedup_minhash_incremental's batch-vs-index "
        "split (the last cell of the exact/near/semantic x batch/stream "
        "admission matrix): embeddings hash-split into the corpus index "
        "(~80%) and the arriving batch (~20%, vec_id md5 bucket 0 of "
        "INC_SPLIT_MOD); ONE exact Lloyd refinement trains cells on the "
        "CORPUS ONLY (seeds = K smallest corpus vec_ids — the index's "
        "quantizer must not see the batch, exactly as a production IVF "
        "index predates the batch probing it); corpus and batch vectors "
        "assign to the trained cells, and each batch vector compares "
        "cosine ONLY against same-cell corpus vectors — never batch x "
        "batch, never index x index. Per batch vector: its cell, the "
        "number of corpus vectors compared (n_cell), the max cosine seen "
        "(1e-6 fixed-point; sentinel -2000000 for an empty cell — max "
        "over bit-identical doubles is order-free, so the quantization "
        f"agrees), is_dup (any same-cell corpus cosine >= {SEMANTIC_TAU}"
        "), and the smallest qualifying corpus vec_id as dup_of (-1 = "
        "admit). Exactness: d2 and cosine are the shared sequential "
        "folds, centroid means are fixed-point integer sums — every "
        "stage bit-identical across engines and partitionings. Shuffle "
        "story: training as ivf_train_centroids on the corpus split "
        "(literal k-centroid argmin, zero-exchange narrow assignment, k x "
        "dim partial-agg update); both assignments fold the k trained "
        "centroids into the plan as literals (the corpus never shuffles "
        "— or joins — for assignment); the admission join "
        "is ONE exchange on the cell id whose LEFT side is only the "
        "batch — work is |batch| x avg cell occupancy, and at 100 TB "
        "the corpus-side assignments are precomputed and stored cell-"
        "partitioned (they ARE the IVF index), so an arriving batch "
        "shuffles only itself plus the touched cells: work scales with "
        "the BATCH, not the corpus."
    ),
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multithreaded_mapreduce_library_spark.functions import h31
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD

    is_batch = (
        F.pmod(h31(F.col("vec_id").cast("string")), F.lit(INC_SPLIT_MOD)) == 0
    )
    e = _load_embeddings(spark, sf_dir).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    corpus = e.filter(~is_batch)
    batch = e.filter(is_batch)
    centroids = _lloyd_train(corpus)
    idx = _assign_to_cells(corpus, centroids)
    bat = _assign_to_cells(batch, centroids)
    a = (
        bat.withColumn("norm", F.expr(_SPARK_NORM))
        .select(
            F.col("vec_id").alias("nd"), F.col("cid").alias("cid_b"),
            F.col("v").alias("va"), F.col("norm").alias("norm_a"),
        )
    )
    b = (
        idx.withColumn("norm", F.expr(_SPARK_NORM))
        .select(
            F.col("vec_id").alias("od"), F.col("cid").alias("cid_i"),
            F.col("v").alias("vb"), F.col("norm").alias("norm_b"),
        )
    )
    pairs = a.join(b, F.col("cid_b") == F.col("cid_i")).select(
        "nd", "od", F.expr(_SPARK_COSINE).alias("c")
    )
    dec = pairs.groupBy("nd").agg(
        F.count("*").cast("long").alias("n_cell"),
        F.floor(F.max("c") * _FX + F.lit(0.5)).cast("long").alias("max_cos_fx"),
        F.min(F.when(F.col("c") >= SEMANTIC_TAU, F.col("od"))).alias("dup_raw"),
    )
    return bat.join(dec, bat.vec_id == dec.nd, "left").select(
        "vec_id",
        F.col("cid").cast("long").alias("cell_id"),
        F.coalesce(F.col("n_cell"), F.lit(0)).cast("long").alias("n_cell"),
        F.coalesce(F.col("max_cos_fx"), F.lit(_COS_SENTINEL_FX))
        .cast("long")
        .alias("max_cos_fx"),
        F.col("dup_raw").isNotNull().alias("is_dup"),
        F.coalesce(F.col("dup_raw"), F.lit(-1)).cast("long").alias("dup_of"),
    )
