"""Known-values and plan-shape pins for the corpus-statistics text
flagships: lm_bigram_score (landed r17), doc_ngram_novelty and
source_divergence (landed r18).

The oracle differentials themselves run in tests/test_registry_oracle.py
like every registered query; these are the per-query pins kept when
each operator landed (PERF.md, the round-17 and round-18 entries): the
hand-checked micro-corpora, the plan shapes the docstrings claim, and
the EXECUTED-plan exchange-reuse/scan-count pins (the r17 AQE lesson —
the static plan cannot show a silent recompute). The pre-landing
differential tests (checked-in fixture + fresh seed) were retired on
landing — they are redundant with the registry-wide harness plus the
env-gated second-seed sweep.
"""

from __future__ import annotations

import re

import pytest

from multithreaded_mapreduce_library_spark.plans import final_adaptive_plan
from multithreaded_mapreduce_library_spark.registry import load_all
from tests.test_plans import formatted_plan

QUERIES = load_all()
SPEC = QUERIES["lm_bigram_score"]


def _write_docs(path, rows):
    """Micro documents.parquet: rows of (doc_id, text, source)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], type=pa.int64()
                ),
            }
        ),
        str(path / "documents.parquet"),
    )


def test_lm_bigram_score_plan_shape(spark, sf_dir):
    """Docstring claims, pinned: the only nested-loop join is the 1-row
    vocabulary broadcast (BroadcastNestedLoopJoin over a literal-free
    cross of a 1-row aggregate is fine; a CartesianProduct is not), and
    the model-table joins are equi-joins (hash or sort-merge — never a
    nested loop carrying the bigram stream)."""
    plan = formatted_plan(SPEC.builder(spark, sf_dir))
    assert "CartesianProduct" not in plan

    # "formatted" mode names each node twice (tree + numbered detail);
    # count nodes via the numbered detail entries only
    def nodes(kind: str) -> int:
        return len(re.findall(rf"^\(\d+\) {kind}", plan, re.M))

    # the two model joins + the V cross: exactly ONE nested-loop node,
    # and it must be the broadcast variant (the 1-row V attach)
    assert nodes("BroadcastNestedLoopJoin") == 1
    assert (
        nodes("SortMergeJoin") + nodes("ShuffledHashJoin") + nodes("BroadcastHashJoin")
        >= 2
    ), "both model-table joins must be equi-joins"


def test_lm_bigram_score_reuses_model_exchange(spark, sf_dir):
    """The c_ctx re-agg must REUSE the corpus-scale (w1,w2) shuffle
    rather than recompute it: the explicit not-null filter on bg keeps
    the two c2 subtrees canonically equal (inner-join null-filter
    inference would otherwise make them differ and AQE would run the
    corpus aggregation twice). Reuse only materializes in the FINAL
    adaptive plan, so execute first — and assert on the final section
    ONLY (the toString re-prints the initial plan, where a stale
    ReusedExchange or extra scans could mask a recompute regression).
    Scan budget: exactly THREE FileScans of documents — the model-agg
    subtree, the bg scoring side, and the vocabulary agg (the docstring's
    three corpus passes); c_ctx contributes NO fourth scan because its
    subtree is the pinned ReusedExchange."""
    final = final_adaptive_plan(SPEC.builder(spark, sf_dir))
    assert "ReusedExchange" in final, "model exchange must be reused, not recomputed"
    assert final.count("FileScan parquet") == 3, (
        "lm_bigram_score must scan documents exactly three times "
        "(model agg, scoring side, vocab) — a fourth scan means the "
        "c_ctx exchange reuse regressed"
    )


def test_lm_bigram_score_known_values(spark, tmp_path):
    """Hand-checked micro-corpus: 2 docs over a 3-word vocabulary.
    docs: 'a b a b' and 'b c'. Bigrams: (a,b)x2, (b,a)x1, (b,c)x1.
    c_ctx: a->2, b->2. V=3.
    P(b|a)=(2+1)/(2+3)=0.6  P(a|b)=(1+1)/(2+3)=0.4  P(c|b)=(1+1)/(2+3)=0.4
    doc0 mean = (0.6+0.4+0.6)/3 = 0.533333(3) -> fx sum 1600000/3 ->
    floor(533333.33..+0.5)=533333 -> 0.533333; doc1 = 0.4 exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "micro"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1], type=pa.int64()),
                "text": ["a b a b", "b c"],
                "lang": ["en", "en"],
                "source": ["s", "s"],
                "n_chars": pa.array([7, 3], type=pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_bigram_p"])
        for r in SPEC.builder(spark, str(d)).collect()
    }
    assert got == {0: (3, 0.533333), 1: (1, 0.4)}


# --- doc_ngram_novelty (landed r18; pins migrated from test_staging.py) ----


def test_doc_ngram_novelty_known_values(spark, tmp_path):
    """Hand-checked: doc0 'a b c d' -> distinct trigrams {abc, bcd};
    doc1 'a b c' -> {abc}; doc2 'x' excluded (<3 tokens); doc3
    'p q p q p' -> raw trigrams pqp,qpq,pqp -> DISTINCT {pqp, qpq}.
    df: abc=2, bcd=1, pqp=1, qpq=1. doc0: n=2 novel=1 frac=0.5;
    doc1: n=1 novel=0 frac=0.0; doc3: n=2 novel=2 frac=1.0."""
    d = tmp_path / "micro"
    d.mkdir()
    _write_docs(
        d, [(0, "a b c d", "s"), (1, "a b c", "s"), (2, "x", "s"), (3, "p q p q p", "s")]
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["n_novel"], r["novel_frac"])
        for r in QUERIES["doc_ngram_novelty"].builder(spark, str(d)).collect()
    }
    assert got == {0: (2, 1, 0.5), 1: (1, 0, 0.0), 3: (2, 2, 1.0)}


def test_doc_ngram_novelty_plan_shape(spark, sf_dir):
    """No all-pairs anywhere: the df join is an equi-join on the trigram
    key — never a nested loop or cartesian carrying doc x doc work."""
    plan = formatted_plan(QUERIES["doc_ngram_novelty"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["doc_ngram_novelty", "source_divergence"])
def test_landed_text_queries_are_one_corpus_pass(spark, sf_dir, name):
    """Both r18 text flagships must read documents EXACTLY ONCE in the
    executed plan: every downstream consumer (novelty's df table;
    divergence's stot/wc/tot and the scoring join) rides a ReusedExchange
    of the first corpus-scale aggregation. BOTH hold by construction via
    the explicit uniform not-null filter below the first agg (for
    source_divergence it keeps the four sw subtrees canonically equal;
    for novelty — since the r18 ADVICE fix — it makes the df and
    scoring-join subtrees equal regardless of which isnotnull inferences
    the optimizer pushes, instead of pinning a symmetric-inference
    coincidence). Final
    adaptive section only — the full toString re-prints the initial plan
    and would double-count scans."""
    final = final_adaptive_plan(QUERIES[name].builder(spark, sf_dir))
    assert final.count("FileScan parquet") == 1, "documents must scan once"
    assert "ReusedExchange" in final


# --- source_divergence (landed r18; pins migrated from test_staging.py) ---


def test_source_divergence_known_values(spark, tmp_path):
    """Hand-checked: source s1 tokens [a a b] (ns=3), s2 [b] (ns=1);
    corpus a:2 b:2 N=4, q_a=q_b=0.5 so fx(q)=500000 each, qsum=1000000.
    s1 present: |2/3-1/2|=|1/3-1/2|=1/6 -> fx=166667 each -> 333334;
    qs=1000000 -> absent 0 -> tv=333334/2e6=0.166667.
    s2 present: |1-1/2| -> fx=500000; qs=500000 -> absent 500000 ->
    tv=1000000/2e6=0.5 (exact TV of (0,1) vs (.5,.5))."""
    d = tmp_path / "micro"
    d.mkdir()
    _write_docs(d, [(0, "a a b", "s1"), (1, "b", "s2")])
    got = {
        r["source"]: (r["n_tokens"], r["tv_distance"])
        for r in QUERIES["source_divergence"].builder(spark, str(d)).collect()
    }
    assert got == {"s1": (3, 0.166667), "s2": (1, 0.5)}


def test_doc_ngram_novelty_duplicate_docs_score_zero(spark, tmp_path):
    """Edge: two VERBATIM duplicate docs — every trigram has df=2, so
    both score novel_frac 0.0 (the signal a boilerplate-heavy corpus
    produces; also the reason the 16x/64x probes are ratio-only)."""
    d = tmp_path / "micro"
    d.mkdir()
    _write_docs(d, [(0, "a b c d", "s"), (1, "a b c d", "s")])
    got = {
        r["doc_id"]: (r["n_trigrams"], r["n_novel"], r["novel_frac"])
        for r in QUERIES["doc_ngram_novelty"].builder(spark, str(d)).collect()
    }
    assert got == {0: (2, 0, 0.0), 1: (2, 0, 0.0)}


def test_source_divergence_single_source_is_zero(spark, tmp_path):
    """Edge: with ONE source, p_s == q identically, so TV must be an
    exact 0.0 — every present term is |x - x| and the absent-mass
    algebra cancels to qsum - qs = 0 (any nonzero here would mean the
    fx formula differs between the qsum and qs paths)."""
    d = tmp_path / "micro"
    d.mkdir()
    _write_docs(d, [(0, "a a b", "s1"), (1, "b c a", "s1")])
    got = [
        (r["source"], r["n_tokens"], r["tv_distance"])
        for r in QUERIES["source_divergence"].builder(spark, str(d)).collect()
    ]
    assert got == [("s1", 6, 0.0)]


def test_source_divergence_plan_shape(spark, sf_dir):
    """The only nested-loop joins are the three 1-row broadcasts (tot
    twice, qsum once); the scoring joins are equi-joins on w/source."""
    plan = formatted_plan(QUERIES["source_divergence"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan

    def nodes(kind: str) -> int:
        return len(re.findall(rf"^\(\d+\) {kind}", plan, re.M))

    assert nodes("BroadcastNestedLoopJoin") == 3
    assert (
        nodes("SortMergeJoin") + nodes("ShuffledHashJoin") + nodes("BroadcastHashJoin")
        >= 3
    ), "sw-stot, sw-wc and per-stot must be equi-joins"
