"""Tiny-fixture edge tests for the round-11 operators (the r10 ADVICE
pattern: termination paths the sf fixtures never reach must be pinned
against the oracle on synthetic fixtures, not verified ad hoc).

compact_apply: all-keep, all-compact, and empty-table layouts;
dedup_semantic_incremental: corpus smaller than K_CELLS, empty corpus;
bpe_train: empty table, pairless vocab, pairs exhausted mid-loop, and the
driver merge loop against a naive recount."""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from multithreaded_mapreduce_library_spark.functions import MOD_P
from multithreaded_mapreduce_library_spark.registry import load_all

SPECS = load_all()


def _duck_rows(oracle: str, sf_dir: str, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rows = con.execute(oracle).fetchall()
    con.close()
    return sorted(rows)


def _spark_rows(spark, name, sf_dir):
    return sorted(tuple(r) for r in SPECS[name].builder(spark, str(sf_dir)).collect())


def _write_orders(out_dir, rows):
    """rows: list of (o_orderkey, o_custkey, o_orderstatus, o_totalprice) —
    the four columns the compaction family touches."""
    ks, cs, ss, ps = (
        [r[0] for r in rows], [r[1] for r in rows],
        [r[2] for r in rows], [r[3] for r in rows],
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(ks, type=pa.int64()),
                "o_custkey": pa.array(cs, type=pa.int64()),
                "o_orderstatus": pa.array(ss, type=pa.string()),
                "o_totalprice": pa.array(ps, type=pa.float64()),
            }
        ),
        str(out_dir / "orders.parquet"),
    )


def _compare(spark, name, sf_dir, tables):
    got = _spark_rows(spark, name, sf_dir)
    want = _duck_rows(SPECS[name].oracle, str(sf_dir), tables)
    assert got == want
    return got


def test_compact_apply_empty_orders(spark, tmp_path):
    """OPTIMIZE of an empty table is a no-op: the oracle's join over zero
    rows is empty, and the Spark side must return empty instead of
    failing schema inference on a zero-partition read-back."""
    _write_orders(tmp_path, [])
    assert _compare(spark, "compact_apply", tmp_path, ["orders"]) == []


def test_compact_apply_all_keeps(spark, tmp_path):
    """Every file at/over target: no bins, every row passes through under
    its own file name — the pure keep branch no sf fixture isolates."""
    # custkey 1 (%10=1 < 3 -> compacted/0) and 7 (%10=7 -> ingest/1), one
    # order each at $25M => 2.5e9 cents >= COMPACT_TARGET: both files keep
    _write_orders(tmp_path, [(1, 1, "O", 25_000_000.0), (2, 7, "F", 25_000_000.0)])
    got = _compare(spark, "compact_apply", tmp_path, ["orders"])
    assert {r[0] for r in got} == {"compacted/0", "ingest/1"}


def test_compact_apply_all_compact(spark, tmp_path):
    """Every file under target: the whole inventory packs into bins (here
    one bin), the pure compact branch."""
    _write_orders(
        tmp_path,
        [(1, 1, "O", 10.0), (2, 7, "F", 20.0), (3, 11, "O", 30.0), (4, 17, "F", 40.0)],
    )
    got = _compare(spark, "compact_apply", tmp_path, ["orders"])
    assert {r[0] for r in got} == {"bin-0"}
    assert got[0][1] == 4  # all four rows landed in the one bin


def _batch_split_ids(want_batch, want_corpus):
    """First `want_batch` ids whose md5 bucket is 0 of INC_SPLIT_MOD and
    first `want_corpus` whose bucket is nonzero — the same split the
    operator derives, precomputed so the fixture controls membership."""
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD

    batch, corpus = [], []
    i = 0
    while len(batch) < want_batch or len(corpus) < want_corpus:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % MOD_P
        (batch if h % INC_SPLIT_MOD == 0 else corpus).append(i)
        i += 1
    return batch[:want_batch], corpus[:want_corpus]


def _write_embeddings(out_dir, vec_ids, dim):
    import numpy as np

    rng = np.random.default_rng(23)
    emb = rng.uniform(-0.5, 0.5, (len(vec_ids), dim)).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids, type=pa.int64()),
                "embedding": pa.array(emb.tolist(), type=pa.list_(pa.float32())),
                "label": pa.array([0] * len(vec_ids), type=pa.int32()),
            }
        ),
        str(out_dir / "embeddings.parquet"),
    )


def test_dedup_semantic_incremental_corpus_smaller_than_k(spark, tmp_path):
    """Corpus with fewer vectors than K_CELLS: the seed LIMIT takes them
    all, every cell is a single corpus vector, and the admission decision
    must still match the oracle bit-for-bit."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        DIM,
        K_CELLS,
    )

    n_corpus = K_CELLS - 3
    batch, corpus = _batch_split_ids(3, n_corpus)
    _write_embeddings(tmp_path, sorted(batch + corpus), DIM)
    got = _compare(spark, "dedup_semantic_incremental", tmp_path, ["embeddings"])
    assert {r[0] for r in got} == set(batch)
    assert all(r[2] >= 1 for r in got)  # every cell holds >= 1 corpus vec


def test_dedup_semantic_incremental_empty_corpus(spark, tmp_path):
    """Degenerate all-batch corpus: with nothing to train on, both engines
    agree on the empty result (no trained cells => no assignments — the
    documented contract, pinned so the engines can never diverge on it)."""
    from multithreaded_mapreduce_library_spark.operators.similarity import DIM

    batch, _ = _batch_split_ids(4, 0)
    _write_embeddings(tmp_path, sorted(batch), DIM)
    assert _compare(spark, "dedup_semantic_incremental", tmp_path, ["embeddings"]) == []


def test_ann_capstones_empty_corpus(spark, tmp_path):
    """Empty embeddings table: build_ann_index's empty-corpus branches
    (int8 falls back to scale 1.0, PQ has no codebook) must give both
    serving capstones an empty result with their usual schema, as the
    oracles do."""
    from multithreaded_mapreduce_library_spark.operators.similarity import DIM

    _write_embeddings(tmp_path, [], DIM)
    dtypes = [
        ("query_id", "bigint"), ("neighbor_id", "bigint"),
        ("cosine", "double"), ("rnk", "int"),
    ]
    for name in ("sim_topk_ivf_quantized", "sim_topk_ivfpq"):
        assert SPECS[name].builder(spark, str(tmp_path)).dtypes == dtypes, name
        assert _compare(spark, name, tmp_path, ["embeddings"]) == [], name


# ---------------------------------------------------------------------------
# bpe_train edges: the sf fixtures always fill all BPE_ROUNDS rules, so the
# early-termination paths (no pairs at all / pairs exhausted mid-loop) are
# pinned here against the same oracle.
# ---------------------------------------------------------------------------


def _write_documents(out_dir, texts):
    rows = list(enumerate(texts))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in rows], type=pa.int64()),
                "text": pa.array([t for _, t in rows], type=pa.string()),
                "lang": pa.array(["en"] * len(rows), type=pa.string()),
                "source": pa.array(["edge"] * len(rows), type=pa.string()),
                "n_chars": pa.array([len(t) for _, t in rows], type=pa.int64()),
            }
        ),
        str(out_dir / "documents.parquet"),
    )


def test_bpe_contract_corpora_are_ascii(sf_dir):
    """bpe_train's cross-engine bit-identity contract is ASCII corpora
    (see its doc): on ASCII, Spark's and DuckDB's string comparison
    (tiebreak collation), indexing and length coincide symbol-for-
    symbol; beyond it they can diverge (UTF-16 vs UTF-8 order for
    supplementary-plane code points, code-point vs grapheme slicing).
    Pin that every corpus the oracle differential runs on — the driver
    fixtures and the second-seed generator's vocabulary — satisfies the
    precondition, so a non-ASCII fixture regression surfaces here
    instead of as an inscrutable hash mismatch."""
    import os

    t = pq.read_table(os.path.join(str(sf_dir), "documents.parquet"))
    for chunk in t.column("text").chunks:
        for s in chunk.to_pylist():
            assert s is None or s.isascii(), f"non-ASCII document: {s[:80]!r}"

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_fixture",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "gen_fixture.py"),
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert all(w.isascii() for w in gen.VOCAB)


def test_bpe_train_empty_table(spark, tmp_path):
    d = tmp_path / "bpe_empty"
    d.mkdir()
    _write_documents(d, [])
    _compare(spark, "bpe_train", d, ["documents"])
    assert _spark_rows(spark, "bpe_train", d) == []


def test_bpe_train_no_pairs_ever(spark, tmp_path):
    """Single-character vocabulary: no adjacent pair exists, round 1's
    argmax is empty on both engines and the loop terminates at zero
    rules."""
    d = tmp_path / "bpe_singles"
    d.mkdir()
    _write_documents(d, ["a b a", "b a", "a"])
    _compare(spark, "bpe_train", d, ["documents"])
    assert _spark_rows(spark, "bpe_train", d) == []


def test_bpe_train_pairs_exhaust_mid_loop(spark, tmp_path):
    """One two-char word: round 1 merges it to a single symbol, rounds
    2..BPE_ROUNDS find no pairs — the Spark loop breaks early and the
    oracle's later-round CTEs settle empty, so both emit exactly one
    rule."""
    d = tmp_path / "bpe_exhaust"
    d.mkdir()
    _write_documents(d, ["ab ab", "ab"])
    _compare(spark, "bpe_train", d, ["documents"])
    got = _spark_rows(spark, "bpe_train", d)
    assert got == [(1, "a", "b", "ab", 3)]


def test_bpe_train_later_rule_merges_earlier_merged_symbol(spark, tmp_path):
    """True iteration, pinned data-independently: with corpus 'abc' x3,
    round 1 merges (a,b) — the (count DESC, lhs, rhs) tiebreak over the
    tied (a,b)/(b,c) pairs — and round 2's best pair is ('ab', c), whose
    lhs EXISTS only because round 1 rewrote the vocab. Six independent
    top-pairs (the bug this pins against) could never emit an 'ab' lhs."""
    d = tmp_path / "bpe_iter"
    d.mkdir()
    _write_documents(d, ["abc abc", "abc"])
    _compare(spark, "bpe_train", d, ["documents"])
    got = _spark_rows(spark, "bpe_train", d)
    assert got == [(1, "a", "b", "ab", 3), (2, "ab", "c", "abc", 3)]


def _naive_bpe(vocab, rounds):
    """Textbook BPE training: recount every adjacent pair of every word
    each round, take the (count DESC, lhs, rhs) argmax, greedy-merge it
    everywhere; stop when no pair is left."""
    from collections import Counter

    from tests.test_algorithm_properties import _greedy_merge

    words = [(list(w), f) for w, f in vocab]
    rules = []
    for step in range(1, rounds + 1):
        counts = Counter()
        for syms, f in words:
            for pair in zip(syms, syms[1:]):
                counts[pair] += f
        if not counts:
            break
        (lhs, rhs), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((step, lhs, rhs, lhs + rhs, c))
        words = [(_greedy_merge(syms, lhs, rhs), f) for syms, f in words]
    return rules


@given(
    st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=3),
        max_size=8,
    ),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=300, deadline=None)
def test_bpe_incremental_learn_equals_naive_recount(vocab, rounds):
    """The driver trainer's incremental pair index (only the words
    holding the chosen pair are re-folded and re-counted) learns exactly
    the rules of a trainer that recounts everything each round. Tiny
    alphabets and freqs force count ties (the lhs, rhs tiebreak) and
    rounds beyond the vocab's pair supply force early exhaustion."""
    from multithreaded_mapreduce_library_spark.operators.text import _bpe_learn

    assert _bpe_learn(vocab.items(), rounds) == _naive_bpe(vocab.items(), rounds)


def test_bpe_driver_fold_matches_spark_fold(spark):
    """bpe_train folds on the driver, bpe_apply through _bpe_merge_col;
    apply(train(corpus)) only reproduces the trained segmentation if
    the two folds agree, on the adversarial cases of the cross-engine
    fold parity test."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_library_spark.operators.text import (
        _bpe_fold,
        _bpe_merge_col,
    )
    from tests.test_cross_engine_primitives import BPE_FOLD_CASES

    for syms, a, b in BPE_FOLD_CASES:
        (row,) = (
            spark.createDataFrame([(syms,)], "syms array<string>")
            .select(_bpe_merge_col(F.col("syms"), a, b).alias("m"))
            .collect()
        )
        assert _bpe_fold(syms, a, b) == list(row["m"]), (syms, a, b)


def test_bpe_train_jobs_do_not_grow_with_rounds(spark):
    """Training is ONE Spark round (the corpus wordcount); the merge
    rounds run on the driver, so 1 and 6 merges launch the same jobs."""
    from multithreaded_mapreduce_library_spark.operators.text import _bpe_train_rules

    docs = spark.createDataFrame([("abcdefg",)] * 3, "text string")
    sc = spark.sparkContext
    jobs = {}
    try:
        for rounds in (1, 6):
            group = f"bpe-train-rounds-{rounds}"
            sc.setJobGroup(group, group)
            assert len(_bpe_train_rules(docs, rounds=rounds)) == rounds
            jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    assert 0 < jobs[1] == jobs[6], jobs


# ---------------------------------------------------------------------------
# bpe_apply edges (r13): the serving half must agree with the oracle on the
# same termination paths the trainer pins above, plus the apply-only edge —
# a document whose text tokenizes to nothing (fold-over-empty semantics).
# ---------------------------------------------------------------------------


def test_bpe_oracle_string_stable():
    """_duck_bpe_ctes was factored out of _duck_bpe_oracle in r13 by pure
    code motion so bpe_apply's oracle could extend the identical training
    chain; bpe_train's GENERATED oracle string must stay byte-identical
    (its gate bookkeeping treats it as unchanged). A deliberate future
    rewrite updates this hash AND re-gates bpe_train as changed."""
    from multithreaded_mapreduce_library_spark.operators.text import _duck_bpe_oracle

    digest = hashlib.md5(_duck_bpe_oracle().encode()).hexdigest()
    assert digest == "8415ff0400677672f0747b436b6a0d23"


def test_bpe_apply_empty_table(spark, tmp_path):
    d = tmp_path / "bpea_empty"
    d.mkdir()
    _write_documents(d, [])
    _compare(spark, "bpe_apply", d, ["documents"])
    assert _spark_rows(spark, "bpe_apply", d) == []


def test_bpe_apply_tokenless_doc_and_exhausted_rules(spark, tmp_path):
    """Mixed fixture: the trainer exhausts after one rule (a,b) — see
    test_bpe_train_pairs_exhaust_mid_loop — and doc 1 is whitespace-only,
    so its token list is EMPTY: Spark's aggregate-over-empty yields the
    0-count row with an empty preview, and the oracle's LEFT JOIN back to
    documents + COALESCE must produce the identical row (a doc with no
    tokens never reaches the per-token CTE chain)."""
    d = tmp_path / "bpea_edge"
    d.mkdir()
    _write_documents(d, ["ab ab", " \t\n ", "ab"])
    _compare(spark, "bpe_apply", d, ["documents"])
    got = _spark_rows(spark, "bpe_apply", d)
    assert got == [
        (0, 2, 4, 2, "ab ab"),
        (1, 0, 0, 0, ""),
        (2, 1, 2, 1, "ab"),
    ]


def test_bpe_apply_replays_iterative_rules(spark, tmp_path):
    """On the 'abc' corpus the trainer learns (a,b) then (ab,c) — rule 2's
    lhs exists only because rule 1 rewrote the vocab. Application must
    replay the rules IN ORDER: fold 1 turns [a,b,c] into [ab,c], fold 2
    into [abc]. Six independent single-pair rewrites (the bug this pins
    against) could never produce the single 'abc' symbol."""
    d = tmp_path / "bpea_iter"
    d.mkdir()
    _write_documents(d, ["abc abc", "abc"])
    _compare(spark, "bpe_apply", d, ["documents"])
    got = _spark_rows(spark, "bpe_apply", d)
    assert got == [
        (0, 2, 6, 2, "abc abc"),
        (1, 1, 3, 1, "abc"),
    ]


def test_fixture_vec_ids_dense_from_zero(sf_dir):
    """INFORMATIONAL fixture-shape pin (demoted from correctness
    precondition in r15): since the Lloyd seeds-CTE alignment, BOTH
    engines seed with the K_CELLS smallest vec_ids present (orderBy/limit
    vs ORDER BY ... LIMIT), so neither depends on vec_ids being dense
    from 0 — test_lloyd_seeds_agree_on_nondense_fixture proves agreement
    on a sparse-id fixture. This pin stays only to document the shape
    scripts/gen_fixture.py and the driver fixtures actually emit
    (vec_id = range(N)); if a future generator changes that, update this
    docstring rather than treating it as a correctness failure."""
    import os

    ids = sorted(
        pq.read_table(
            os.path.join(str(sf_dir), "embeddings.parquet"), columns=["vec_id"]
        )
        .column("vec_id")
        .to_pylist()
    )
    assert ids == list(range(len(ids))), f"sparse vec_ids in {sf_dir}"


def test_lloyd_seeds_agree_on_nondense_fixture(spark, tmp_path):
    """The r15 Lloyd seeds-CTE alignment's proof (formerly the forcing-
    function divergence pin; docs/lloyd_seeds_alignment_r15.md item 6):
    both engines now seed with the K_CELLS smallest vec_ids PRESENT —
    Spark via orderBy/limit, the oracle via `ORDER BY vec_id LIMIT K` in
    _DUCK_LLOYD_CTES — so on a deliberately non-dense fixture (ids
    1000..1031, where the old `WHERE vec_id < K` filter collapsed the
    oracle to zero rows) the full differential must AGREE, for the
    oracles built on the shared Lloyd and PQ CTE chains (each reads only
    the embeddings table; the PQ seeds follow the same rule). This is the
    direct evidence that the dense-from-0 fixture shape is documentation,
    not a correctness precondition."""
    from multithreaded_mapreduce_library_spark.operators.similarity import DIM

    _write_embeddings(tmp_path, list(range(1000, 1032)), DIM)
    got = _spark_rows(spark, "ivf_train_centroids", tmp_path)
    want = _duck_rows(
        SPECS["ivf_train_centroids"].oracle, str(tmp_path), ["embeddings"]
    )
    assert len(got) == 32, "Spark side must train on any id range"
    assert got == want
    for name in (
        "sim_topk_ivf_trained",
        "sim_topk_ivf_quantized",
        "dedup_semantic",
        "pq_train_codes",
        "sim_topk_pq",
        "sim_topk_ivfpq",
    ):
        got = _spark_rows(spark, name, tmp_path)
        want = _duck_rows(SPECS[name].oracle, str(tmp_path), ["embeddings"])
        assert got, f"{name}: empty result on the non-dense fixture"
        assert got == want, f"{name}: engines disagree on non-dense ids"
    # A GAPPED fixture too: the 8 smallest present vec_ids
    # ({0..3, 1000..1003}) differ from a `vec_id < 8` seed set ({0..3}),
    # so a filter on either engine would disagree with a LIMIT on the other.
    gapped = tmp_path / "gapped"
    gapped.mkdir()
    _write_embeddings(gapped, [0, 1, 2, 3, *range(1000, 1028)], DIM)
    got = _spark_rows(spark, "sim_topk_ivfpq", gapped)
    want = _duck_rows(SPECS["sim_topk_ivfpq"].oracle, str(gapped), ["embeddings"])
    assert got, "sim_topk_ivfpq: empty result on the gapped fixture"
    assert got == want, "sim_topk_ivfpq: engines disagree on gapped ids"
