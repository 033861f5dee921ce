"""Scaling probe: measure how the heavy plans grow with data volume.

Builds an N-fold copy of the sf0.1 fixture (fact tables replicated with
key offsets so joins/groupings stay realistic — dims untouched, orders
fan out over the same customers) and times a probe set of queries at 1x
and Nx. A plan that is linear in the data should show t(Nx)/t(1x) <= ~N
(less, when fixed overheads amortize); a quadratic candidate-pair blowup
shows >> N. This is the empirical side of the plan assertions in
tests/test_plans.py — run it after touching any dedup/contamination/join
shape.

Usage: python scripts/scale_probe.py [N] [out_json]
Writes nothing outside /tmp; prints one JSON line with per-query ratios.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

BASE = "/root/testdata/sf0.1"
DIMS = ("region", "nation", "customer", "supplier", "part")
PROBE = (
    "wordcount",
    "pricing_summary",
    "join_large",
    "tf_idf",
    "repetition_ngram",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "contamination_check",
    "corpus_curation",
    # ANN family (embeddings table scales with PERTURBED copies — see
    # _SCALED["embeddings"]): quantize is a narrow map (expect ~1x),
    # training/assignment is linear with broadcast centroids,
    # cell-local probing scales with (queries x cell size), and near-dup
    # candidate generation is bucket-local. The query SET also grows
    # with the corpus here (vec_id % QUERY_MOD keeps its density), so
    # the topk queries' fair bound is queries x per-query work, not a
    # flat Nx — called out per-query in PERF.md.
    "embedding_quantize",
    "ivf_train_centroids",
    "sim_topk_ivf_trained",
    "sim_topk_quantized",
    "sim_near_dup",
    # multimodal (media blobs derived per-row from documents, which the
    # scaled fixture replicates): decode is the per-row stdlib
    # PNG/WAV/MP4 parse whose linearity was previously only asserted;
    # features is the Arrow-batched byte-histogram path. Both are
    # shuffle-free mapInPandas — expect ~Nx or below.
    "multimodal_decode",
    "multimodal_features",
    # round-7 additions: heavy_hitters is two linear passes (MG summary +
    # broadcast-candidate count) — expect ~Nx; graph_pagerank's edge agg
    # scales Nx while the iteration frames (same node/pair set, weights
    # xN) stay constant-size — expect sub-Nx; snapshot_diff is a keyed
    # full-outer SMJ — expect ~Nx. dedup_substring is the honest outlier:
    # VERBATIM replication makes every copy a true full-length duplicate
    # of its source, so the CORRECT answer itself grows ~N^2 (C(N,2)
    # pairs per source doc) — the df-cutoff caps per-gram join fanout at
    # df^2 <= 400 regardless of N, so the measured ratio should land far
    # below the naive N^2 all-pairs blowup; reported against that bound,
    # not against Nx.
    "heavy_hitters",
    "graph_pagerank",
    "snapshot_diff",
    "dedup_substring",
    # round-7 second wave: windowed/joined event analytics (expect ~Nx
    # or below — events replicate with distinct event_ids but the SAME
    # user set, so per-user frames deepen rather than multiply) and the
    # bin-bucketed interval join (campaign side is constant — fanout
    # grows with sessions per day, linear in events).
    "retention_cohorts",
    "event_transitions",
    "gaps_islands",
    "time_weighted_avg",
    "join_asof_nearest",
    "join_interval_bins",
    # round-8 additions: merge_upsert is ONE keyed full-outer SMJ over
    # narrow (key, status, price, op) payloads — expect ~Nx;
    # split_contamination_gate follows contamination_check's df-bounded
    # inverted-index shape (verbatim replication multiplies every
    # shingle's df, so the df-cutoff drops MORE shingles at Nx and the
    # candidate join can land below Nx — reported against Nx).
    "merge_upsert",
    "split_contamination_gate",
    # round-9 additions (streaming ops are excluded by construction: their
    # builders execute the availableNow replay internally, so the noop
    # write after the builder re-reads a settled memory table — their
    # batch cores ARE merge_upsert and dedup_exact, both probed):
    # compact_plan plans over the file-inventory METADATA (one agg + one
    # single-partition window over O(#files) rows) — expect ~Nx from the
    # inventory agg, the window input grows with chunk count only;
    # hybrid_retrieval is two linear shortlist scans (BM25 agg + 1-row
    # broadcast cosine) fused at constant shortlist size — expect ~Nx;
    # dedup_minhash_incremental is the dedup_substring-style honest
    # outlier: VERBATIM replication makes every copy of a doc an exact
    # dup sharing all band signatures, so the TRUE candidate set itself
    # grows ~N^2 (each batch copy matches ~0.8N corpus copies); the
    # banded join keeps fanout bucket-local, so the measured ratio
    # should land far below the naive all-pairs N^2 — reported against
    # that bound, not against Nx.
    "compact_plan",
    "hybrid_retrieval",
    "dedup_minhash_incremental",
    # round-11 additions: compact_apply adds the physical rewrite to
    # compact_plan's planning subtree — one size-capped exchange on
    # out_file plus a parquet write/read round-trip, all linear in rows —
    # expect ~Nx; dedup_semantic_incremental trains on the corpus split
    # (broadcast k centroids, k x dim update — constant-size frames) and
    # its admission join is batch x same-cell corpus: with PERTURBED
    # embedding copies both sides of every cell grow ~Nx, so the TRUE
    # pair work grows ~N^2/k like dedup_semantic's — the probe checks the
    # cell-locality keeps the measured ratio far below all-pairs N^2,
    # reported against that bound, not against Nx.
    "compact_apply",
    "dedup_semantic_incremental",
    # bpe_train: verbatim doc replication leaves the VOCAB identical
    # (same words, freqs xN), so the driver-side merge rounds — the
    # iterative part — do constant work and only the initial wordcount agg scales Nx; the
    # measured ratio should sit far below Nx, pinning the vocab-scale
    # (never corpus-scale) round claim in the docstring.
    "bpe_train",
    # r14: bpe_apply = bpe_train (sub-Nx, above) + the serving pass —
    # a ZERO-exchange narrow scan re-encoding every document (per-task
    # cost O(doc bytes x rules), plan pinned by test_bpe_apply_is_narrow).
    # The apply pass is the only corpus-scale part, so the end-to-end
    # ratio should land at ~Nx or below (training amortizes): the
    # corpus-linear claim in the docstring, measured.
    "bpe_apply",
    # r15: the remaining Lloyd-family consumers (builders unchanged by
    # the r15 oracle-side seeds alignment; probed for direct scale
    # evidence). dedup_semantic = corpus Lloyd training (broadcast k
    # centroids, constant k x dim update) + within-cell cosine pairs:
    # with PERTURBED copies both sides of every cell grow ~Nx, so the
    # TRUE pair work grows ~N^2/k — the probe checks cell-locality keeps
    # the ratio far below all-pairs N^2 (same bound as
    # dedup_semantic_incremental). sim_topk_ivf_quantized and
    # sim_topk_ivfpq: training is linear (assignment rides the scan, the
    # update reduces to k x dim cells); serving is query x same-cell
    # shortlist work — the query SET grows Nx (vec_id % QUERY_MOD keeps
    # density on offset copies) and cells grow Nx, so shortlist work is
    # ~N^2/k over tinyint codes with a constant-size exact rerank per
    # query; reported against the cell-local bound, not flat Nx. Copy 0
    # keeps original vec_ids, so the Lloyd and PQ seeds (the 8 smallest
    # vec_ids present) stay those of the original fixture.
    "dedup_semantic",
    "sim_topk_ivf_quantized",
    "sim_topk_ivfpq",
    # r21 (optimization round): direct octave evidence for the changed
    # shapes. waiting_orders — ONE conditional-min/max agg exchange on
    # l_orderkey + broadcasts (orders fan out with offset keys, so the
    # agg's group count grows Nx with constant per-group state) — expect
    # ~Nx or below. profile_table — per-column distinct->count subtrees
    # (no Expand): scan bytes Nx, distinct-value exchanges grow with the
    # per-column cardinality (sub-Nx for low-cardinality columns) —
    # expect ~Nx or below. pq_train_codes — narrow literal-argmin
    # assignments riding the scan + M x k x SUB partial-agg update
    # (constant-size) — expect ~Nx or below.
    "waiting_orders",
    "profile_table",
    "pq_train_codes",
    # r22 (second optimization round): sim_topk_pq — the narrow
    # per-vector code build rides the scan (no explode, no groupBy
    # exchange), the LUT is query-scale, and the ADC BNLJ is corpus x
    # queries over tinyint codes: with the query SET growing Nx (vec_id
    # % QUERY_MOD keeps density on offset copies) the true scoring work
    # grows ~N^2 — reported against that all-pairs ADC bound, not flat
    # Nx (same class as the ivf/ivfpq cell-local notes, minus the cell
    # restriction this query deliberately lacks).
    "sim_topk_pq",
    # r22: cogroup_reconcile — bucketed cogroup (pmod(custkey, B), one
    # vectorized pandas call per bucket): both sides exchange once on
    # the bucket key, per-bucket work is linear in its rows, and B is
    # constant per host class — so rows per bucket grow Nx while the
    # per-call Python overhead is amortized over Nx more rows; expect
    # ~Nx or below end-to-end (Arrow transfer + vectorized groupby are
    # both linear).
    "cogroup_reconcile",
    # dedup_simhash (r22 packed bit counters): the per-token md5 and the
    # per-doc bit-count agg are linear; VERBATIM replication makes every
    # copy share all band signatures with its source, so the TRUE
    # candidate set grows ~N^2 — reported against that bound, like
    # dedup_minhash_incremental.
    "dedup_simhash",
    # r17: lm_bigram_score = two keyed agg exchanges (bigram + context
    # counts, map-side partials) + two keyed model joins + one doc-mean
    # agg — the first probe whose hot keys are natural-language stopwords
    # (skew the other probes lack). Ratio-only: VERBATIM doc replication
    # multiplies every count by N while V stays fixed, so the SCORES
    # change with N by design (assert ~Nx growth, never values).
    "lm_bigram_score",
    # r18 landings (ratio-only, the 16x pre-landing probes are the
    # anchors — 7.78 / 5.52 / 1.65 at 16x, all sub-linear):
    # doc_ngram_novelty — VERBATIM replication makes every trigram's df
    # a multiple of N, so n_novel collapses to 0 by design (assert
    # growth, never values); the work is one (doc_id, trigram) distinct
    # exchange + a keyed re-agg + one equi-join — expect ~Nx.
    # source_divergence — counts multiply by N while every p_s(w)/q(w)
    # ratio is invariant (tv fixed by design); ONE corpus agg reused by
    # all four consumers + vocab-scale joins — expect ~Nx or below.
    # embedding_outliers — the Lloyd family's cell-local bound: training
    # is linear (literal argmin rides the scan, k x dim update), the
    # ranking window input grows Nx with constant k partitions and the
    # WindowGroupLimit caps per-partition state at top-5 — expect ~Nx.
    # (stream_lm_score is excluded by construction like every streaming
    # op — its builder executes the availableNow replay internally; its
    # batch core IS lm_bigram_score, probed above.)
    "doc_ngram_novelty",
    "source_divergence",
    "embedding_outliers",
)
OFF = 100_000_000  # key offset per copy — far above any base key


# Per-table SELECT template; {k} is the copy index, the offset column
# keeps every key unique across copies while dims stay shared.
_SCALED = {
    "documents": "SELECT doc_id + {koff} AS doc_id, text, lang, source,"
    " n_chars FROM read_parquet('{base}/documents.parquet')",
    # Copies k>0 get a deterministic large perturbation per component:
    # replicating embeddings VERBATIM would make every copy an exact
    # near-duplicate of its original — a degenerate ANN/near-dup workload
    # whose true answer (and therefore any correct plan's output) grows
    # quadratically in N. Perturbed copies model the real thing: a bigger
    # corpus of DISTINCT vectors spread across buckets/cells.
    "embeddings": "SELECT vec_id + {koff} AS vec_id,"
    " CASE WHEN {k} = 0 THEN embedding ELSE"
    " list_transform(embedding, x -> CAST(x + sin(x * 12.9898 + {k} * 1.618)"
    " AS FLOAT)) END AS embedding, label"
    " FROM read_parquet('{base}/embeddings.parquet')",
    "orders": "SELECT o_orderkey + {koff} AS o_orderkey, o_custkey,"
    " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    " FROM read_parquet('{base}/orders.parquet')",
    "lineitem": "SELECT l_orderkey + {koff} AS l_orderkey, l_partkey,"
    " l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,"
    " l_tax, l_returnflag, l_linestatus, l_shipdate"
    " FROM read_parquet('{base}/lineitem.parquet')",
    "events": "SELECT event_id + {koff} AS event_id, ts, user_id,"
    " event_type, value, props FROM read_parquet('{base}/events.parquet')",
}


def build_scaled(n: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in DIMS:
        shutil.copy(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")
    for t, tpl in _SCALED.items():
        union = " UNION ALL ".join(
            tpl.format(k=k, koff=k * OFF, base=BASE) for k in range(n)
        )
        con.execute(
            f"COPY ({union}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()


def ensure_scaled(n: int) -> str:
    """Build (or reuse) the cached Nx fixture and return its directory.
    The ONLY place that knows the cache path + '.complete' marker
    protocol, so every probe that reuses it measures the same fixture
    (ADVICE r16). Done-marker,
    not a table file: an interrupted build must not leave a
    complete-looking cache missing its later tables."""
    scaled_dir = f"/tmp/spark_graft_scale_{n}x"
    marker = f"{scaled_dir}/.complete"
    if not os.path.exists(marker):
        if os.path.exists(scaled_dir):
            shutil.rmtree(scaled_dir)
        build_scaled(n, scaled_dir)
        open(marker, "w").close()
    return scaled_dir


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    # optional: probe only the named queries (new-operator rounds re-probe
    # their additions without re-running the whole battery); unknown names
    # are an error — silently dropping a typo would either run the full
    # battery or skip the intended query while reporting a complete run
    unknown = [a for a in sys.argv[2:] if a not in PROBE]
    if unknown:
        sys.exit(f"not in PROBE: {unknown}; choose from {sorted(PROBE)}")
    probe = tuple(sys.argv[2:]) or PROBE
    from bench import best_of, warm_up
    from multithreaded_mapreduce_library_spark.registry import load_all
    from multithreaded_mapreduce_library_spark.session import get_spark

    scaled_dir = ensure_scaled(n)
    spark = get_spark(app_name="scale_probe")
    specs = load_all()
    warm_up(spark, specs, BASE)
    t1, tn = (
        {q: round(best_of(lambda: specs[q].builder(spark, sf_dir), 3), 3) for q in probe}
        for sf_dir in (BASE, scaled_dir)
    )
    ratios = {q: round(tn[q] / max(t1[q], 1e-3), 2) for q in probe}
    print(
        json.dumps(
            {
                "n": n,
                "t_1x": t1,
                "t_nx": tn,
                "ratio": ratios,
                # same provenance as bench.py: a loaded box reads 2-10x
                # high on individual queries and poisons ratios
                "load_avg_end": [round(x, 2) for x in os.getloadavg()],
            },
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
