"""Product quantization (PQ) over the ``embeddings`` table — the canonical
100 TB ANN compression/serving scheme (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; the index family
FAISS ships as IVF-PQ): split each vector into M subvectors, train a
small codebook per subspace (same exact fixed-point Lloyd machinery as
``ivf_train_centroids``), store each vector as M tiny code ids, and
answer queries with asymmetric distance computation (ADC) — a per-query
lookup table of query-subvector-to-codeword distances, so scoring a
candidate is M table lookups + M integer adds instead of a 64-element
float dot product.

Extension op (no reference counterpart — the reference is a wordcount
MapReduce library, `mapreduce.h:48`); part of the mandated LLM-pipeline
similarity-search surface, composing with the trained-IVF family in
``similarity.py``.

Cross-engine exactness: subvector squared-L2 uses the shared sequential
left fold (bit-identical doubles), codeword means are 1e-6 fixed-point
(order-independent integer sums), and every ADC score is a SUM OF M
INTEGERS (the fixed-point LUT entries) — associative, so the differential
is exact with no float-order caveats anywhere in the serving path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.operators.similarity import (
    _DUCK_LLOYD_CTES,
    _FX,
    _duck_cosine,
    _duck_fold_sum,
    _dvec,
    _fixed_point_means,
    _load_embeddings,
    build_ann_index,
    exact_cosine_rerank,
    QUERY_MOD,
    SHORTLIST_K,
    TOP_K,
)
from multithreaded_mapreduce_library_spark.registry import register

DIM = 64
PQ_M = 8  # subspaces
SUB = DIM // PQ_M  # dims per subspace
PQ_K = 8  # codewords per subspace (3 bits/code — tiny on purpose: the
# oracle re-derives the full training, so k stays SQL-tractable; the
# plan shape is identical at k=256)


def _duck_d2n(a: str, b: str, n: int) -> str:
    """Squared-L2 over the first ``n`` list elements as the same
    sequential left fold as similarity._duck_d2 (which pins n=DIM)."""
    return _duck_fold_sum(
        f"list_transform(generate_series(1, {n}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
    )


# Shared PQ training CTE chain: slice -> seed -> assign -> fixed-point
# update -> re-assign. Consumed by pq_train_codes, sim_topk_pq AND
# sim_topk_ivfpq so the codebooks can never drift between trainer and
# servers (the same shared-CTE discipline as similarity._DUCK_LLOYD_CTES).
# Split into the shared `e` scan + a TAIL whose CTE names are disjoint
# from the Lloyd chain's, so sim_topk_ivfpq can compose both behind one
# WITH (they share the identical `e`).
_DUCK_PQ_TAIL = f"""pqsub AS (
  SELECT vec_id, m, list_slice(v, m * {SUB} + 1, m * {SUB} + {SUB}) AS sv
  FROM e CROSS JOIN unnest([{", ".join(str(m) for m in range(PQ_M))}]) AS mm(m)
),
pqseeds AS (
  SELECT s.m, r.cid, s.sv AS c
  FROM pqsub s JOIN (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
    FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_K})
  ) r ON s.vec_id = r.vec_id
),
p1 AS (
  SELECT vec_id, m, sv, cid FROM (
    SELECT s.vec_id, s.m, s.sv, d.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_duck_d2n('s.sv', 'd.c', SUB)}, d.cid
           ) AS rn
    FROM pqsub s JOIN pqseeds d ON s.m = d.m
  ) WHERE rn = 1
),
pqcomp AS (
  SELECT m, cid, i AS pos, sv[i] AS x
  FROM p1 CROSS JOIN unnest(generate_series(1, {SUB})) AS g(i)
),
pqupd AS (
  SELECT m, cid, pos,
         floor(CAST(sum(CAST(floor(x * {_FX} + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) + 0.5) / {_FX} AS cval
  FROM pqcomp GROUP BY m, cid, pos
),
pqnewc AS (SELECT m, cid, list(cval ORDER BY pos) AS c FROM pqupd GROUP BY m, cid),
p2 AS (
  SELECT vec_id, m, cid, d2 FROM (
    SELECT s.vec_id, s.m, n.cid, {_duck_d2n('s.sv', 'n.c', SUB)} AS d2,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_duck_d2n('s.sv', 'n.c', SUB)}, n.cid
           ) AS rn
    FROM pqsub s JOIN pqnewc n ON s.m = n.m
  ) WHERE rn = 1
)"""

_DUCK_PQ_CTES = f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
{_DUCK_PQ_TAIL}"""


def _pq_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv) — each vector split into its PQ_M subvectors.
    The slice explode is a narrow map-side fanout (M rows per vector,
    each SUB doubles — same bytes as the original row)."""
    e = _load_embeddings(spark, sf_dir).select("vec_id", _dvec("embedding").alias("v"))
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(f"slice(v, {m * SUB + 1}, {SUB})").alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return e.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


def _pq_codebook_literal(rows) -> str:
    """SQL literal for a collected codebook: an array indexed by subspace
    m of array<struct<c: array<double>, cid: bigint>>. Doubles round-trip
    collect -> repr -> SQL literal losslessly (shortest round-trip
    strings, correctly-rounded decimal-literal -> DOUBLE conversions —
    the similarity._nearest_centroid precedent), so the literal
    codewords are bit-identical to the collected values. Codewords are
    emitted sorted by (m, cid) for deterministic expression text;
    array_min's (d2, cid) struct comparison is order-independent
    regardless."""
    by_m: dict[int, list] = {m: [] for m in range(PQ_M)}
    for r in rows:
        by_m[int(r["m"])].append((int(r["cid"]), [float(x) for x in r["vc"]]))

    def arr(vs) -> str:
        return "array(" + ",".join(repr(x) for x in vs) + ")"

    subs = []
    for m in range(PQ_M):
        cws = ",".join(
            f"struct({arr(vc)} AS c, CAST({cid} AS BIGINT) AS cid)"
            for cid, vc in sorted(by_m[m])
        )
        subs.append(f"array({cws})")
    return "array(" + ",".join(subs) + ")"


# Shared narrow squared-L2 fold against a literal codeword — the same
# sequential fold as similarity._nearest_centroid and the oracles'
# _duck_d2n (identical operand order => identical doubles).
_PQ_D2_CW = (
    "aggregate(zip_with(sv, cw.c, (x, y) -> (x - y) * (x - y)),"
    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


def _pq_assign_narrow(sub: DataFrame, rows) -> DataFrame:
    """(vec_id, m, cid, d2, sv) — nearest-codeword assignment per
    (vec_id, m) as a zero-exchange literal argmin (agreement with the
    oracle's p1/p2 window argmins pinned by
    tests/test_pq.py::test_pq_narrow_assign_agrees_with_window): the
    M×k collected codebook rows fold into the plan as a literal, each
    row picks array_min over the k codewords OF ITS OWN SUBSPACE
    (element_at by m), and struct comparison reproduces the oracle's
    (d2, cid) ORDER BY exactly. The assignment rides the scan — no
    broadcast join, no N×M×k window exchange+sort; at 100 TB the only
    remaining wide work per assignment pass is the narrow map itself.
    PQ_M×PQ_K = {0} literal codewords of {1} doubles — the same
    driver-literal volume class as the accepted K_CELLS×DIM Lloyd
    argmin.""".format(PQ_M * PQ_K, SUB)
    if not rows:
        # an empty codebook assigns nothing
        return (
            sub.select(
                "vec_id",
                "m",
                F.lit(None).cast("long").alias("cid"),
                F.lit(None).cast("double").alias("d2"),
                "sv",
            ).where(F.lit(False))
        )
    cbs = _pq_codebook_literal(rows)
    best = (
        f"array_min(transform(element_at({cbs}, m + 1), "
        f"cw -> struct({_PQ_D2_CW} AS d2, cw.cid AS cid)))"
    )
    return sub.withColumn("_best", F.expr(best)).select(
        "vec_id",
        "m",
        F.col("_best.cid").alias("cid"),
        F.col("_best.d2").alias("d2"),
        "sv",
    )


def _pq_update(sub: DataFrame) -> DataFrame:
    """(m, cid, vc): the codebook after one exact refinement, not yet
    collected — the seed collect (the M×k subvectors of the PQ_K
    smallest vec_ids present, as _lloyd_seeds picks its seeds: every
    vector has exactly PQ_M subvector rows, so one TakeOrderedAndProject
    of PQ_K×PQ_M rows; a codeword's id is its seed's rank 0..PQ_K-1, so
    it fits the tinyint codes whatever the vec_ids), the narrow
    literal-argmin assignment
    against them, then the fixed-point per-(subspace, codeword) means
    (M×k×SUB partial-aggregated counters regardless of corpus size).
    _pq_trained collects it alone; similarity.build_ann_index collects
    it in one action with the Lloyd centroid update."""
    seeds = sub.orderBy("vec_id", "m").limit(PQ_K * PQ_M).collect()
    rank = {v: i for i, v in enumerate(sorted({r["vec_id"] for r in seeds}))}
    seed_rows = [{"m": r["m"], "cid": rank[r["vec_id"]], "vc": r["sv"]} for r in seeds]
    return _fixed_point_means(_pq_assign_narrow(sub, seed_rows), ("m", "cid"), "sv")


def _pq_trained(spark: SparkSession, sf_dir: str) -> list:
    """Trained codebook ROWS after one exact refinement — the Spark twin
    of _DUCK_PQ_CTES' pqnewc. Two small eager collects (the M×k seed
    subvectors, then the M×k updated codebooks — the same constant-size
    driver-fetch class as the Lloyd centroid collects)."""
    return _pq_update(_pq_sub(spark, sf_dir)).collect()


def _pq_final(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """(final assignment, trained codebook ROWS) after one exact
    refinement — the Spark twin of _DUCK_PQ_CTES (p2, pqnewc). r21: both
    assignment passes use the narrow literal argmin (_pq_assign_narrow),
    so training pays two small eager collects and the assignments
    themselves ride the scan with ZERO exchanges, instead of two
    broadcast-join + N×M×k window exchange+sort passes."""
    newc_rows = _pq_trained(spark, sf_dir)
    return _pq_assign_narrow(_pq_sub(spark, sf_dir), newc_rows), newc_rows


def _pq_codes_narrow(e: DataFrame, rows, vcol: str = "v") -> DataFrame:
    """(vec_id, codes) — the per-vector tinyint code array computed as
    ONE narrow projection over the full-vector frame ``e`` (vec_id,
    ``vcol``: array<double>) — _pq_assign_narrow's per-subspace codes
    gathered per vector in m order, with no subvector explode and no
    groupBy(vec_id) exchange (r22, guide §2.4): per subspace m the
    codeword argmin is the same literal array_min over (d2, cid) structs
    as _pq_assign_narrow — the slice/zip_with/fold operand order is
    textually identical, so d2 and the picked cid are bit-identical.
    Agreement is pinned by
    tests/test_pq.py::test_pq_narrow_codes_agree_with_grouped.
    At 100 TB the code build rides the scan: no M-rows-per-vector
    explode, no corpus-wide exchange carrying the code bytes."""
    if not rows:
        # an empty codebook assigns nothing
        return (
            e.select(
                "vec_id",
                F.lit(None).cast("array<tinyint>").alias("codes"),
            ).where(F.lit(False))
        )
    return e.select("vec_id", F.expr(_pq_codes_expr(rows, vcol)).alias("codes"))


def _pq_codes_expr(rows, vcol: str) -> str:
    """The narrow per-vector code-array expression (see _pq_codes_narrow;
    ``rows`` must be non-empty). Shared with
    similarity.build_ann_index, whose input frame also carries the
    trained cell id."""
    cbs = _pq_codebook_literal(rows)
    d2 = (
        f"aggregate(zip_with(slice({vcol}, m * {SUB} + 1, {SUB}), cw.c,"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"CAST(array_min(transform(element_at({cbs}, m + 1), "
        f"cw -> struct({d2} AS d2, cw.cid AS cid))).cid AS TINYINT))"
    )


def _pq_query_lut(spark: SparkSession, sf_dir: str, newc_rows: list) -> DataFrame:
    """(query_id, lut) — per-query ADC lookup table as an array of
    cid-keyed maps (lut[m][cid] = fixed-point squared-L2 from the
    query's m-th subvector to codeword cid), so the candidate-side score
    is a pure projection. Queries x M x k rows total — tiny, built for
    broadcast. r21: the codebook is the collected literal, so each
    (query, m) row builds its whole map in ONE narrow projection —
    the old broadcast join + per-(query, m) agg exchange are gone; the
    only exchange left is the final per-query assembly."""
    qsub = _pq_sub(spark, sf_dir).filter(F.col("vec_id") % QUERY_MOD == 0)
    if not newc_rows:
        return (
            qsub.select(
                F.col("vec_id").alias("query_id"),
                F.expr("CAST(array() AS array<map<int,bigint>>)").alias("lut"),
            ).where(F.lit(False))
        )
    cbs = _pq_codebook_literal(newc_rows)
    # cid-KEYED map, not a positional array: a codeword that ends up
    # with zero members after the first assignment is absent from newc,
    # and a positionally-indexed row would silently shift every higher
    # cid's distance (and overflow the last one). Codes can only hold
    # cids present in newc, so the map lookup is always defined.
    row_expr = (
        f"map_from_entries(transform(element_at({cbs}, m + 1), "
        f"cw -> struct(CAST(cw.cid AS INT) AS cid, "
        f"CAST(floor({_PQ_D2_CW} * {_FX} + 0.5) AS BIGINT) AS d2fx)))"
    )
    per_m = qsub.select(
        F.col("vec_id").alias("query_id"), "m", F.expr(row_expr).alias("row")
    )
    # the outer array is assembled by the m index (dense 0..PQ_M-1 by
    # construction — every subspace exists for every query), because
    # structs containing maps cannot be array_sort'ed
    return (
        per_m.groupBy("query_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("m", "row"))).alias("mp"))
        .select(
            "query_id",
            F.expr(f"transform(sequence(0, {PQ_M - 1}), i -> mp[i])").alias("lut"),
        )
    )


# ADC score: M table lookups + M integer adds (codes widened from
# tinyint only inside the subscript).
_ADC_SCORE = (
    "aggregate(zip_with(codes, lut, (c, l) -> l[CAST(c AS INT)]),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)


@register(
    "pq_train_codes",
    oracle=f"""
WITH {_DUCK_PQ_CTES}
SELECT vec_id,
       CAST(m AS BIGINT) AS subspace,
       CAST(cid AS BIGINT) AS code,
       CAST(floor(d2 * {_FX} + 0.5) AS BIGINT) AS d2_fx
FROM p2
""",
    tags=("similarity", "pq", "quantization", "kmeans", "llm-pipeline"),
    doc=(
        f"PQ codebook TRAINING + encoding: split every vector into "
        f"{PQ_M} subvectors of {SUB} dims, seed {PQ_K} codewords per "
        "subspace from the smallest vec_ids, one exact Lloyd refinement "
        "per subspace (shared-fold squared-L2 assignment with codeword-"
        "id tiebreak, 1e-6 fixed-point component means — order-"
        "independent integer sums, so the trained codebooks are bit-"
        "identical across engines and partitionings), then emit each "
        "vector's per-subspace code + fixed-point residual distance. "
        f"A vector is now {PQ_M} tiny code ids ({PQ_M}x3 bits here; "
        f"{PQ_M}x8 at k=256) instead of {DIM} floats — the compression "
        "an index at 100 TB actually stores. Shuffle story (r21): the "
        f"subvector explode is a narrow map ({PQ_M} rows per vector, "
        "same bytes); both assignment passes are the narrow LITERAL "
        "argmin (_pq_assign_narrow — the M×k collected codebook folds "
        "into the plan, array_min reproduces the (d2, cid) ORDER BY of "
        "the DuckDB oracle's p1/p2 window argmins bit-for-bit), so "
        "assignment rides the scan with "
        "ZERO exchanges instead of a broadcast join + N×M×k window "
        "exchange+sort per pass; the update partial-"
        f"aggregates into {PQ_M}x{PQ_K}x{SUB} cells regardless of "
        "corpus size. Nothing wide ever shuffles."
    ),
)
def pq_train_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, _ = _pq_final(spark, sf_dir)
    return assigned.select(
        "vec_id",
        F.col("m").cast("long").alias("subspace"),
        F.col("cid").cast("long").alias("code"),
        F.floor(F.col("d2") * _FX + F.lit(0.5)).cast("long").alias("d2_fx"),
    )


@register(
    "sim_topk_pq",
    oracle=f"""
WITH {_DUCK_PQ_CTES},
lut AS (
  SELECT q.vec_id AS query_id, n.m, n.cid,
         CAST(floor({_duck_d2n('q.sv', 'n.c', SUB)} * {_FX} + 0.5) AS BIGINT)
           AS d2fx
  FROM pqsub q JOIN pqnewc n ON q.m = n.m
  WHERE q.vec_id % {QUERY_MOD} = 0
),
score AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(sum(l.d2fx) AS BIGINT) AS adist_fx
  FROM p2 c JOIN lut l ON c.m = l.m AND c.cid = l.cid
  WHERE l.query_id <> c.vec_id
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, neighbor_id, adist_fx, rnk FROM (
  SELECT query_id, neighbor_id, adist_fx,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adist_fx, neighbor_id
         ) AS rnk
  FROM score
) WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "topk", "pq", "quantization", "llm-pipeline"),
    doc=(
        "Asymmetric distance computation (ADC) top-k over the PQ codes — "
        "how a PQ index actually serves queries: per query, precompute a "
        f"lookup table of fixed-point distances from each of its {PQ_M} "
        f"subvectors to every codeword ({PQ_M}x{PQ_K} BIGINTs, built "
        "from the SAME shared training CTEs as pq_train_codes so trainer "
        "and server can never drift), then score every candidate as the "
        f"SUM OF {PQ_M} TABLE LOOKUPS on its stored tinyint codes — "
        f"{PQ_M} integer adds replace a {DIM}-element float dot product. "
        "All-integer scoring makes the differential exact with no float-"
        "order caveats. Shuffle story (r22): the per-vector code array "
        "is ONE narrow projection against the LITERAL trained codebook "
        "riding the embeddings scan (_pq_codes_narrow — r22 removed the "
        "subvector explode and the corpus-wide groupBy(vec_id) exchange "
        "the r21 form still paid; bit-identity with the DuckDB oracle's "
        "p1/p2 argmins is test-pinned); each "
        "query's LUT row is built in ONE narrow projection against the "
        "same literal (the old broadcast join + per-"
        "(query, m) agg exchange are gone), assembled per query by one "
        "tiny exchange and BROADCAST into the candidate scan, where the "
        "score is a pure zip_with/element-lookup projection (no explode, "
        "no scoring exchange); per-query top-k is the window family's "
        "single query_id exchange carrying (ids, one BIGINT). At 100 TB "
        "this composes with the trained IVF cells exactly like "
        "sim_topk_ivf_quantized: scan codes cell-locally, rerank "
        "survivors in float. Calibration honesty (measured, like the "
        "sign-bucket recall note): on the fixture's near-uniform random "
        f"vectors, {PQ_M}x{PQ_K} codes ({PQ_M * 3} bits/vector) "
        "concentrate ADC picks into the top ~14% of the true-L2 ranking "
        "(mean pick rank ~68/500 vs ~250 random — pinned in pytest) but "
        "recall@5 stays low: random high-dim points are near-equidistant,"
        " so no fixed quantization budget separates rank 5 from rank 50. "
        "On real clustered embeddings the same plan with k=256 is the "
        "standard production recall/compression point."
    ),
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    newc = _pq_trained(spark, sf_dir)
    e = _load_embeddings(spark, sf_dir).select("vec_id", _dvec("embedding").alias("v"))
    codes = _pq_codes_narrow(e, newc)
    lut = _pq_query_lut(spark, sf_dir, newc)
    scored = codes.join(
        F.broadcast(lut), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(_ADC_SCORE).alias("adist_fx"),
    )
    w = W.partitionBy("query_id").orderBy("adist_fx", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "adist_fx", "rnk")
    )


def _ivfpq_shortlist_ids(
    spark: SparkSession, sf_dir: str, index: DataFrame, codebook_rows: list
) -> DataFrame:
    """(query_id, neighbor_id) — the per-query PQ shortlist over a
    build_ann_index(..., "pq") index (checkpointed, or read back from
    parquet) and its codebook rows: each query's ADC LUT (_pq_query_lut)
    joined with its own cell id is BROADCAST into the index scan, keyed
    on the trained cell id, so the candidate side carries (ids, tinyint
    codes) only; ADC is a pure projection, and the top-SHORTLIST_K
    window is one query_id exchange carrying a single BIGINT."""
    qcells = index.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("cid").alias("qcid")
    )
    qlut = _pq_query_lut(spark, sf_dir, codebook_rows).join(qcells, "query_id")
    cand = index.join(
        F.broadcast(qlut),
        (F.col("cid") == F.col("qcid")) & (F.col("query_id") != F.col("vec_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(_ADC_SCORE).alias("adist_fx"),
    )
    w = W.partitionBy("query_id").orderBy("adist_fx", "neighbor_id")
    return (
        scored.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= SHORTLIST_K)
        .select("query_id", "neighbor_id")
    )


@register(
    "sim_topk_ivfpq",
    oracle=f"""
WITH {_DUCK_LLOYD_CTES},
{_DUCK_PQ_TAIL},
lut AS (
  SELECT q.vec_id AS query_id, n.m, n.cid,
         CAST(floor({_duck_d2n('q.sv', 'n.c', SUB)} * {_FX} + 0.5) AS BIGINT)
           AS d2fx
  FROM pqsub q JOIN pqnewc n ON q.m = n.m
  WHERE q.vec_id % {QUERY_MOD} = 0
),
score AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(sum(l.d2fx) AS BIGINT) AS adist_fx
  FROM p2 c
  JOIN lut l ON c.m = l.m AND c.cid = l.cid
  JOIN a2 cc ON cc.vec_id = c.vec_id
  JOIN a2 qc ON qc.vec_id = l.query_id
  WHERE l.query_id <> c.vec_id AND cc.cid = qc.cid
  GROUP BY l.query_id, c.vec_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY adist_fx, neighbor_id
           ) AS crnk
    FROM score
  ) WHERE crnk <= {SHORTLIST_K}
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT s.query_id, s.neighbor_id,
         round({_duck_cosine('eq.v', 'en.v')}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {_duck_cosine('eq.v', 'en.v')} DESC, s.neighbor_id
         ) AS rnk
  FROM shortlist s
  JOIN e eq ON eq.vec_id = s.query_id
  JOIN e en ON en.vec_id = s.neighbor_id
) WHERE rnk <= 3
""",
    tags=("similarity", "topk", "ivf", "pq", "kmeans", "quantization",
          "llm-pipeline"),
    doc=(
        "IVF-PQ — the full FAISS-style production index in one "
        "oracle-gated query: Lloyd-trained coarse cells "
        "(ivf_train_centroids' exact pipeline and shared oracle CTEs) "
        "route each query to its cell; candidates inside the cell are "
        f"scored by PQ ADC ({PQ_M} integer table lookups on the stored "
        "tinyint codes — pq_train_codes' exact codebooks, shared CTEs); "
        f"the {SHORTLIST_K}-deep integer shortlist is then reranked with "
        "exact float cosine via the shared broadcast rerank "
        "(similarity.exact_cosine_rerank) to top-3. Both quantizers in "
        "one plan is precisely the 100 TB serving layout: the index "
        "stores cell id + M bytes per vector, a query touches one "
        "cell's codes, and floats are read for K rows only. Shuffle "
        "story: both trainings fold their k-row codebooks into the plan "
        "as literals (narrow zero-exchange assignments — _lloyd_assign "
        "and _pq_codes_expr), and the whole (vec_id, cell id, codes) "
        "index is built in ONE scan and materialized once per build "
        "(build_ann_index(codec='pq'), computed fresh from parquet "
        "every invocation): the codes side and the query-cell side READ "
        "the materialized index instead of each re-planning "
        "scan→assign→codes; candidate generation is ONE "
        "equi-join of the index against the BROADCAST "
        "(query LUT x query cell) frame keyed on the trained cell id — "
        "the candidate side carries (ids, tinyint codes) only, no "
        "float column; ADC is a pure projection; shortlist is one "
        "query_id window carrying a single BIGINT; the rerank "
        "broadcasts the tiny id list against the scan, so the corpus "
        "never shuffles anywhere in the serving path."
    ),
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    index, codebook = build_ann_index(spark, sf_dir, "pq")
    return exact_cosine_rerank(
        spark, sf_dir, _ivfpq_shortlist_ids(spark, sf_dir, index, codebook), 3
    )
