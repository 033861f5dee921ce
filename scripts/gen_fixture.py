"""Second-seed fixture generator (VERDICT r4 'What's missing' #2).

Writes the same ten tables as the driver's fixture generator — identical
schemas, column types, and value domains, different RNG seed — so the
oracle suite can run against data the repo's constants were NOT calibrated
on. Every oracle constant (mime = doc_id % 3, modulo filters, the shingle
df-cutoff, split buckets) is either engine-symmetric arithmetic (both
sides compute it from the same rows, so ANY data works) or a domain
constant replicated here; a constant that silently depended on the
checked-in seed-42 data would surface as a hash mismatch on this fixture.

Usage: python scripts/gen_fixture.py OUT_DIR [SEED]
Scale is pinned at the sf0.001 row counts (fast enough for a full sweep).

This writes the *current* physical layout (timestamp[us], naive) — the
loader's nanos-long compatibility path is covered by unit tests instead.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Canonical burned-seed registry (r16 VERDICT "What's wrong" #5: keep
# the list in ONE place as it grows). A seed is burned once any
# committed evidence depends on it: 42 is the checked-in driver fixture;
# 7 is the =1 sweep alias; the rest are recorded sweep seeds or the
# forcing-test seeds new operators were validated on before landing
# (99 and 1201). Pick NEW sweep/forcing seeds outside this set, then add
# them here in the same commit.
BURNED_SEEDS = frozenset(
    {7, 42, 73, 99, 307, 509, 641, 911, 1097, 1201, 1381, 1783, 2311,
     2753, 3109, 3499, 4421, 4903, 5077, 5281, 5903, 6113, 6577, 6829,
     7649, 8191, 8443, 9461, 9643}
)

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_LINEITEM = 6000
N_EVENTS = 1000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMB_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("cold", "small", "large", "blue", "red", "green", "shiny", "dull")
P_NOUN = ("widget", "bolt", "rod", "gear", "plate", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "fr", "de", "es", "zh")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)

_EPOCH = np.datetime64("1970-01-01", "us")


def _day_ts(days: np.ndarray) -> pa.Array:
    """Midnight timestamps (timestamp[us], naive) from day offsets."""
    us = days.astype("int64") * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int = 7) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    write(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), type=pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
    )
    write(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), type=pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
            }
        ),
    )
    write(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(range(N_CUSTOMER), type=pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, N_CUSTOMER), type=pa.int32()
                ),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER)),
            }
        ),
    )
    write(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(range(N_SUPPLIER), type=pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
                "s_nationkey": pa.array(
                    rng.integers(0, 25, N_SUPPLIER), type=pa.int32()
                ),
                "s_acctbal": pa.array(_money(rng, 0, 9999.99, N_SUPPLIER)),
            }
        ),
    )
    write(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(range(N_PART), type=pa.int64()),
                "p_name": pa.array(
                    [
                        f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}"
                        for _ in range(N_PART)
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{rng.integers(1, 26)}" for _ in range(N_PART)]
                ),
                "p_type": pa.array(rng.choice(PTYPES, N_PART)),
                "p_size": pa.array(rng.integers(1, 51, N_PART), type=pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + np.arange(N_PART) * 0.1, 2)
                ),
            }
        ),
    )

    # orders: days spanning 1995-01-01 .. ~2001-08 (matching the seed-42
    # window, so date-literal filters select non-trivial subsets)
    d0 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
    order_days = d0 + rng.integers(0, 2404, N_ORDERS)
    write(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(range(N_ORDERS), type=pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, N_CUSTOMER, N_ORDERS), type=pa.int64()
                ),
                "o_orderstatus": pa.array(
                    rng.choice(("F", "O", "P"), N_ORDERS, p=(0.48, 0.48, 0.04))
                ),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, N_ORDERS)),
                "o_orderdate": _day_ts(order_days),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS)),
            }
        ),
    )

    # lineitem: ~4 lines per order, shipdate = orderdate + 1..120 days
    lkeys = rng.integers(0, N_ORDERS, N_LINEITEM)
    lkeys.sort()
    linenumber = np.ones(N_LINEITEM, dtype=np.int64)
    for i in range(1, N_LINEITEM):
        linenumber[i] = linenumber[i - 1] + 1 if lkeys[i] == lkeys[i - 1] else 1
    ship_days = order_days[lkeys] + rng.integers(1, 121, N_LINEITEM)
    write(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(lkeys, type=pa.int64()),
                "l_partkey": pa.array(
                    rng.integers(0, N_PART, N_LINEITEM), type=pa.int64()
                ),
                "l_suppkey": pa.array(
                    rng.integers(0, N_SUPPLIER, N_LINEITEM), type=pa.int64()
                ),
                "l_linenumber": pa.array(linenumber, type=pa.int32()),
                "l_quantity": pa.array(
                    rng.integers(1, 51, N_LINEITEM).astype("float64")
                ),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, N_LINEITEM)),
                "l_discount": pa.array(
                    np.round(rng.integers(0, 11, N_LINEITEM) * 0.01, 2)
                ),
                "l_tax": pa.array(np.round(rng.integers(0, 9, N_LINEITEM) * 0.01, 2)),
                "l_returnflag": pa.array(rng.choice(("A", "N", "R"), N_LINEITEM)),
                "l_linestatus": pa.array(rng.choice(("F", "O"), N_LINEITEM)),
                "l_shipdate": _day_ts(ship_days),
            }
        ),
    )

    # events: one month of microsecond timestamps
    t0 = (
        np.datetime64("2024-01-01", "us") - _EPOCH
    ).astype("int64")
    ev_us = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    write(
        "events",
        pa.table(
            {
                "event_id": pa.array(range(N_EVENTS), type=pa.int64()),
                "ts": pa.array(ev_us, type=pa.timestamp("us")),
                "user_id": pa.array(
                    rng.integers(0, 15, N_EVENTS), type=pa.int64()
                ),
                "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
                "value": pa.array(_money(rng, 0.01, 350, N_EVENTS)),
                "props": pa.array(
                    [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]
                ),
            }
        ),
    )

    # documents: whitespace-joined vocab words; ~10% near-duplicates (an
    # earlier doc with one word substituted) so dedup/LSH paths have real
    # candidate pairs on this seed too
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 0 and rng.random() < 0.10:
            words = texts[rng.integers(0, len(texts))].split(" ")
            words[rng.integers(0, len(words))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 101))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    write(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(N_DOCUMENTS), type=pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(LANGS, N_DOCUMENTS)),
                "source": pa.array(
                    [f"src{rng.integers(0, 20)}" for _ in range(N_DOCUMENTS)]
                ),
                "n_chars": pa.array(
                    [len(t) for t in texts], type=pa.int64()
                ),
            }
        ),
    )

    emb = rng.uniform(-0.5, 0.5, (N_EMBEDDINGS, EMB_DIM)).astype("float32")
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(range(N_EMBEDDINGS), type=pa.int64()),
                "embedding": pa.array(
                    [row for row in emb.tolist()],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array(
                    rng.integers(0, 10, N_EMBEDDINGS), type=pa.int32()
                ),
            }
        ),
    )


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_seed7"
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    generate(out, seed)
    print(f"wrote second-seed fixture (seed={seed}) to {out}")
