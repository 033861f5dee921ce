"""UDF / UDAF / UDTF surface — the reference's *entire* query model is
user-defined functions (SURVEY.md §2.2: ``Mapper`` = UDTF, ``Reducer`` =
UDAF, ``MR_Partitioner`` = custom partitioner; mapreduce.h:5-6,40). The
facade (:mod:`..mapreduce`) reproduces that model verbatim on RDDs; this
module exposes the modern Spark equivalents — Arrow-vectorized Pandas UDFs
— with DuckDB oracles proving they compute standard semantics.

Performance doctrine (pyspark guide): built-ins > pandas UDFs > row
UDFs. These queries intentionally exercise the pandas tier; identical
logic exists as pure built-ins elsewhere in the inventory, and the bench
keeps UDF paths out of the headline set.

Exactness: the scalar UDF mirrors an IEEE double expression (same operand
order as the oracle); the UDAF accumulates in int64 cents (numpy integer
sums are exact, so pandas' pairwise summation can't diverge from the
oracle's sequential sum).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from multithreaded_mapreduce_library_spark.registry import register
from multithreaded_mapreduce_library_spark.sources import load_table


def _net_price_udf():
    # Defined lazily: pandas_udf registration requires an active session.
    @pandas_udf("double")
    def _net_price(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        # Same operand order as the oracle expression: ((p*(1-d))*(1+t)).
        return (price * (1 - disc)) * (1 + tax)

    return _net_price


@register(
    "pandas_udf_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor((l_extendedprice * (1 - l_discount)) * (1 + l_tax) * 10000 + 0.5) / 10000 AS net_price
FROM lineitem
WHERE l_orderkey % 200 = 0
""",
    tags=("udf", "pandas", "scalar"),
)
def pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar Pandas UDF (batch-at-a-time numpy math —
    the 10-100× path over row-at-a-time Python UDFs).

    Output quantized via floor(x*1e4+0.5)/1e4 rather than round(): the two
    engines' round() disagree near decimal boundaries on large magnitudes
    (Spark rounds the exact BigDecimal expansion; DuckDB rounds after a
    lossy float multiply — observed flips at sf0.1), while floor of the
    identical IEEE expression is bit-deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    net_price = _net_price_udf()
    raw = net_price(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(raw * 10000 + F.lit(0.5)) / 10000).alias("net_price"),
    )


def _weighted_disc_udaf():
    @pandas_udf("double")
    def _weighted_disc_cents(disc: pd.Series, qty: pd.Series) -> float:
        # int64-cents accumulation: exact regardless of pandas' summation
        # order.
        import numpy as np

        num = int(np.floor(disc * qty * 10_000 + 0.5).astype("int64").sum())
        den = int(np.floor(qty * 100 + 0.5).astype("int64").sum())
        return num / den / 100.0

    @pandas_udf("long")
    def _n_items(qty: pd.Series) -> int:
        # pandas UDAFs can't mix with JVM aggregates in one agg() —
        # count rides the same Arrow exchange instead.
        return int(len(qty))

    return _weighted_disc_cents, _n_items


@register(
    "pandas_udaf_grouped",
    oracle="""
SELECT l_returnflag,
       (sum(CAST(floor(l_discount * l_quantity * 10000 + 0.5) AS BIGINT))
        / sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))) / 100.0 AS wavg_discount,
       count(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("udf", "pandas", "udaf"),
)
def pandas_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDAF: quantity-weighted mean discount per
    return flag — the modern form of the reference's Reducer
    (distwc.c:23-34: drain values, fold)."""
    li = load_table(spark, sf_dir, "lineitem")
    weighted_disc, n_items = _weighted_disc_udaf()
    return li.groupBy("l_returnflag").agg(
        weighted_disc(F.col("l_discount"), F.col("l_quantity")).alias("wavg_discount"),
        n_items(F.col("l_quantity")).alias("n_items"),
    )


@register(
    "grouped_map_zscore",
    oracle="""
WITH s AS (
  SELECT o_orderpriority,
         max(o_totalprice) AS mx, min(o_totalprice) AS mn
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority,
       CASE WHEN mx = mn THEN 0.0
            ELSE round((o_totalprice - mn) / (mx - mn), 6) END AS price_minmax
FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority
WHERE o_orderkey % 100 = 0
""",
    tags=("udf", "pandas", "grouped-map"),
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-group min-max normalization, each
    group as a pandas DataFrame (per-key dataframe-in/dataframe-out — the
    shape the reference's per-key Reducer scheduling approximated,
    mapreduce.c:179-187, minus the task-per-key overhead)."""

    def minmax(pdf: pd.DataFrame) -> pd.DataFrame:
        mx, mn = pdf["o_totalprice"].max(), pdf["o_totalprice"].min()
        out = pdf[pdf["o_orderkey"] % 100 == 0][["o_orderkey", "o_orderpriority", "o_totalprice"]]
        if mx == mn:
            # Degenerate group (all prices equal): pandas would emit
            # inf/NaN where SQL's x/0 yields NULL — define it as 0.0 on
            # both sides instead (oracle has the matching CASE).
            norm = 0.0
        else:
            norm = ((out["o_totalprice"] - mn) / (mx - mn)).round(6)
        out = out.assign(price_minmax=norm)
        return out[["o_orderkey", "o_orderpriority", "price_minmax"]]

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").applyInPandas(
        minmax, "o_orderkey long, o_orderpriority string, price_minmax double"
    )


@register(
    "map_in_pandas_filter",
    oracle="""
SELECT doc_id, n_chars, lang
FROM documents
WHERE n_chars > 300 AND lang IN ('en', 'fr')
""",
    tags=("udf", "pandas", "map-in-pandas"),
)
def map_in_pandas_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas partition-batch iterator (the custom-scan/operator
    escape hatch): vectorized predicate over Arrow batches."""

    def flt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf[(pdf["n_chars"] > 300) & (pdf["lang"].isin(["en", "fr"]))][
                ["doc_id", "n_chars", "lang"]
            ]

    d = load_table(spark, sf_dir, "documents")
    return d.mapInPandas(flt, "doc_id long, n_chars long, lang string")


@register(
    "map_in_arrow_project",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price
FROM lineitem
WHERE l_quantity < 5
""",
    tags=("udf", "arrow", "map-in-arrow"),
)
def map_in_arrow_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy RecordBatch surface below mapInPandas —
    no pandas materialization, pyarrow.compute kernels straight on Arrow
    buffers. Same escape-hatch role as mapInPandas but the fastest Python
    path Spark offers (one serialization hop less per batch). Narrow
    (per-partition, no shuffle); the quantity filter is applied in-kernel.
    Fixed-point quantization matches the oracle's double math exactly
    (same IEEE op order)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def project(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            keep = pc.less(batch.column("l_quantity"), pa.scalar(5.0))
            b = batch.filter(keep)
            net = pc.divide(
                pc.floor(
                    pc.add(
                        pc.multiply(
                            pc.multiply(
                                b.column("l_extendedprice"),
                                pc.subtract(pa.scalar(1.0), b.column("l_discount")),
                            ),
                            pa.scalar(100.0),
                        ),
                        pa.scalar(0.5),
                    )
                ),
                pa.scalar(100.0),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("l_orderkey"),
                    # parquet stores l_linenumber as int32; the declared
                    # output schema says long, and Spark's Arrow reader
                    # does no implicit widening — cast in-kernel.
                    pc.cast(b.column("l_linenumber"), pa.int64()),
                    net,
                ],
                names=["l_orderkey", "l_linenumber", "net_price"],
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    return li.mapInArrow(project, "l_orderkey long, l_linenumber long, net_price double")


@register(
    "udtf_tokenize",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\r]+'), x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 50 = 0
)
SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token
FROM t
""",
    tags=("udf", "udtf", "sql-api"),
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) via LATERAL join — the modern form of
    the reference's Mapper contract (one input -> n output rows,
    mapreduce.h:5). Arrow-batched; registered per-session."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            cleaned = text.replace("\t", " ").replace("\n", " ").replace("\r", " ")
            pos = 0
            for tok in cleaned.split(" "):
                if tok:
                    yield pos, tok
                    pos += 1

    spark.udtf.register("mr_tokenize", Tokenize)
    from multithreaded_mapreduce_library_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT doc_id, t.pos, t.token
        FROM documents, LATERAL mr_tokenize(text) AS t
        WHERE doc_id % 50 = 0
        """
    )


def _cogroup_buckets(spark: SparkSession) -> int:
    """Cogroup bucket count for cogroup_reconcile: scale-adaptive, not a
    local[32] constant (optimization-round rule). 16 buckets per core
    keeps every core fed with per-call batches big enough to amortize
    the per-key Python call (the measured cost: B=512 beat B=2048 by
    1.9x at sf0.1 because halving batch size doubles call overhead);
    on a real cluster B grows with parallelism so bucket SIZE tracks
    the ordinary rows-per-task story. Override via
    spark.graft.cogroup.buckets when a deployment wants a different
    batch/memory trade (each bucket is one Arrow stream in one task).
    Output is invariant to B — each custkey lands wholly in one bucket.
    An override that is not an integer >= 1 raises ValueError naming the key.
    """
    key = "spark.graft.cogroup.buckets"
    explicit = spark.conf.get(key, None)
    if explicit is not None:
        try:
            buckets = int(explicit)
        except ValueError:
            buckets = 0
        if buckets < 1:
            raise ValueError(f"{key} must be an integer >= 1, got {explicit!r}")
        return buckets
    return max(512, 16 * spark.sparkContext.defaultParallelism)


@register(
    "cogroup_reconcile",
    oracle="""
WITH o AS (
  SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_fx
  FROM orders GROUP BY o_custkey
),
l AS (
  SELECT o_custkey, count(*) AS n_items
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey
)
SELECT o.o_custkey AS custkey, o.n_orders,
       COALESCE(l.n_items, 0) AS n_items,
       (o.spend_fx / 100.0) AS total_spend
FROM o LEFT JOIN l ON o.o_custkey = l.o_custkey
""",
    tags=("udf", "pandas", "cogroup"),
    doc=(
        "cogroup().applyInPandas — the two-sided grouped-map surface "
        "(each cogroup key's orders AND lineitems arrive as a pandas "
        "DataFrame pair): per-customer order/item reconciliation with "
        "fixed-point spend. The modern form of a reduce-side join the "
        "reference user would hand-roll across two Mapper tag streams. "
        "The cogroup key is a custkey BUCKET (pmod(custkey, B)), not the "
        "raw custkey: FlatMapCoGroupsInPandas makes one Python call per "
        "key, and per-key calls over every customer were the measured "
        "cost (r22 A/B: 8.15s -> 1.44s at sf0.1) — inside each bucket "
        "the reconciliation is vectorized pandas groupby, bit-identical "
        "because each custkey lands wholly in one bucket and the "
        "per-custkey int64-cent sums are order-independent. Shuffle "
        "story: both sides exchange once on the bucket key (lineitem "
        "pre-keyed by custkey via a broadcast orders-key join), then the "
        "pandas function runs partition-local; one Arrow hop per side. "
        "B scales with cluster parallelism (see _cogroup_buckets); at "
        "any B the output is identical, B only sets call granularity."
    ),
)
def cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    okeys = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .join(F.broadcast(okeys), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey")
    )
    n_buckets = _cogroup_buckets(spark)
    ob = o.withColumn("bk", F.pmod(F.col("o_custkey"), F.lit(n_buckets)))
    lib = li.withColumn("bk", F.pmod(F.col("o_custkey"), F.lit(n_buckets)))

    def reconcile(orders_pdf: pd.DataFrame, items_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(orders_pdf) == 0:
            return pd.DataFrame(
                columns=["custkey", "n_orders", "n_items", "total_spend"]
            )
        # Identical per-customer arithmetic to the per-key form: int64
        # cents per order row, grouped integer sum (order-independent).
        fx = np.floor(orders_pdf["o_totalprice"].to_numpy() * 100 + 0.5).astype(
            "int64"
        )
        g = (
            pd.DataFrame({"custkey": orders_pdf["o_custkey"].to_numpy(), "fx": fx})
            .groupby("custkey", sort=False)
            .agg(n_orders=("fx", "size"), spend_fx=("fx", "sum"))
            .reset_index()
        )
        it = (
            items_pdf.groupby("o_custkey", sort=False).size().rename("n_items")
            if len(items_pdf)
            else pd.Series(dtype="int64", name="n_items")
        )
        out = g.merge(it, left_on="custkey", right_index=True, how="left")
        out["n_items"] = out["n_items"].fillna(0).astype("int64")
        out["total_spend"] = out["spend_fx"] / 100.0
        return out[["custkey", "n_orders", "n_items", "total_spend"]]

    return (
        ob.groupBy("bk")
        .cogroup(lib.groupBy("bk"))
        .applyInPandas(
            reconcile,
            "custkey long, n_orders long, n_items long, total_spend double",
        )
    )
