"""Property tests for the round-7 algorithmic rewrites, independent of
the parquet fixtures and of Spark: each checks the OPERATOR'S algorithm
against a brute-force definition on adversarial random inputs. The
oracle-differential suite proves cross-engine agreement; these prove the
shared algorithm is the right one in the first place (a bug present in
both the builder and its hand-matched oracle would pass the hash gate —
this is the independent anchor, same role tests/test_approx.py plays for
the sketches).

All pure Python — no SparkSession, runs in milliseconds per example.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from multithreaded_mapreduce_library_spark.operators.text import (
    HH_CAPACITY,
    _bpe_fold,
    _mg_candidate_batches,
)

# ---------------------------------------------------------------------------
# Misra-Gries: the per-partition summary must never lose a heavy hitter
# ---------------------------------------------------------------------------

# small alphabet + skewed repeats => real decrement rounds
_tokens = st.lists(
    st.sampled_from([f"t{i}" for i in range(HH_CAPACITY * 3)]),
    min_size=0,
    max_size=2000,
)


@given(_tokens, st.integers(min_value=1, max_value=4))
@settings(max_examples=60, deadline=None)
def test_mg_summary_retains_every_partition_heavy_hitter(toks, n_chunks):
    """Any token with count > n/(C+1) must survive the MG summary — the
    pigeonhole the two-phase heavy_hitters plan is correct by. Chunking
    must not matter (the summary is stream-order- and batch-agnostic for
    this guarantee)."""
    chunks = [
        pd.DataFrame({"toks": [toks[i :: n_chunks]]}) for i in range(n_chunks)
    ]
    # _mg_candidate_batches consumes an iterator of batches, each row a
    # token list — feed the same multiset split into n_chunks rows
    (out,) = list(_mg_candidate_batches(iter(chunks)))
    survivors = set(out["word"])
    n = len(toks)
    from collections import Counter

    for tok, cnt in Counter(toks).items():
        if cnt * (HH_CAPACITY + 1) > n:
            assert tok in survivors, (
                f"{tok} has count {cnt} > n/(C+1) = {n}/{HH_CAPACITY + 1} "
                "but was evicted"
            )


# ---------------------------------------------------------------------------
# 2-D skyline: prefix-max rewrite == quadratic dominance definition
# ---------------------------------------------------------------------------

_points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # price (minimize)
        st.integers(min_value=0, max_value=20),  # size (maximize)
    ),
    min_size=0,
    max_size=60,
)


def _skyline_quadratic(pts):
    """The oracle's NOT-EXISTS definition verbatim: a point survives iff
    no point weakly dominates it with strict improvement somewhere
    (exact duplicates never dominate each other)."""
    return {
        (pa, sa)
        for (pa, sa) in pts
        if not any(
            (pb <= pa and sb >= sa and (pb < pa or sb > sa))
            for (pb, sb) in pts
        )
    }


def _skyline_prefix_max(pts):
    """The pareto_frontier plan's algebra: per-price max size, running
    max over strictly-cheaper prices, keep levels that strictly beat it,
    then recover rows with size == their level max."""
    if not pts:
        return set()
    lvl: dict[int, int] = {}
    for p, s in pts:
        lvl[p] = max(lvl.get(p, -1), s)
    m1 = None
    keep_prices = {}
    for p in sorted(lvl):
        if m1 is None or m1 < lvl[p]:
            keep_prices[p] = lvl[p]
        m1 = lvl[p] if m1 is None else max(m1, lvl[p])
    return {(p, s) for (p, s) in pts if p in keep_prices and s == keep_prices[p]}


@given(_points)
@settings(max_examples=120, deadline=None)
def test_skyline_prefix_max_equals_quadratic(pts):
    assert _skyline_prefix_max(pts) == _skyline_quadratic(pts)


# ---------------------------------------------------------------------------
# substring spans: gram-diagonal islands == true longest common substring
# ---------------------------------------------------------------------------

_doc = st.lists(st.sampled_from(list("abc")), min_size=0, max_size=40)


def _lcs_tokens(a, b):
    """True longest common (contiguous) token run, O(n*m) DP."""
    best = 0
    dp = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        prev = 0
        for j in range(1, len(b) + 1):
            cur = dp[j]
            dp[j] = prev + 1 if a[i - 1] == b[j - 1] else 0
            best = max(best, dp[j])
            prev = cur
    return best


def _max_span_islands(a, b, L):
    """dedup_substring's algebra (no df-cutoff): L-gram seeds, equi-match
    on the gram, max run of consecutive matches per diagonal + L - 1."""
    grams_a = {}
    for i in range(len(a) - L + 1):
        grams_a.setdefault(tuple(a[i : i + L]), []).append(i)
    runs: dict[int, set[int]] = {}
    for j in range(len(b) - L + 1):
        for i in grams_a.get(tuple(b[j : j + L]), ()):
            runs.setdefault(i - j, set()).add(i)
    best = 0
    for positions in runs.values():
        for i in positions:
            if i - 1 not in positions:
                k = i
                while k + 1 in positions:
                    k += 1
                best = max(best, k - i + 1 + L - 1)
    return best


@given(_doc, _doc, st.integers(min_value=2, max_value=4))
@settings(max_examples=120, deadline=None)
def test_substring_span_equals_true_lcs(a, b, L):
    """Whenever the true longest shared run is >= L tokens, the
    gram-diagonal islands formula recovers it EXACTLY (shorter overlaps
    are below the seed length by design and report 0)."""
    truth = _lcs_tokens(a, b)
    got = _max_span_islands(a, b, L)
    if truth >= L:
        assert got == truth
    else:
        assert got == 0


# ---------------------------------------------------------------------------
# interval-overlap join: bin-bucketed rewrite == quadratic overlap scan
# ---------------------------------------------------------------------------

_intervals = st.lists(
    st.tuples(st.integers(0, 200), st.integers(0, 60)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    min_size=0,
    max_size=25,
)


def _overlaps_quadratic(aset, bset):
    return {
        (i, j)
        for i, (s0, s1) in enumerate(aset)
        for j, (c0, c1) in enumerate(bset)
        if s0 <= c1 and c0 <= s1
    }


def _overlaps_binned(aset, bset, bin_w):
    """join_interval_bins' algebra: explode each interval into the bins
    it spans, equi-match on the bin, dedupe pairs, keep true overlaps."""
    cand = set()
    bins_b: dict[int, list[int]] = {}
    for j, (c0, c1) in enumerate(bset):
        for bn in range(c0 // bin_w, c1 // bin_w + 1):
            bins_b.setdefault(bn, []).append(j)
    for i, (s0, s1) in enumerate(aset):
        for bn in range(s0 // bin_w, s1 // bin_w + 1):
            for j in bins_b.get(bn, ()):
                cand.add((i, j))
    return {
        (i, j)
        for (i, j) in cand
        if aset[i][0] <= bset[j][1] and bset[j][0] <= aset[i][1]
    }


@given(_intervals, _intervals, st.integers(min_value=1, max_value=50))
@settings(max_examples=120, deadline=None)
def test_interval_bins_equals_quadratic(aset, bset, bin_w):
    """The bin rewrite finds EXACTLY the overlapping pairs for any bin
    width: an overlapping pair always shares at least one bin (their
    intersection lies in some bin), and the explicit overlap filter
    removes bin-coincidences."""
    assert _overlaps_binned(aset, bset, bin_w) == _overlaps_quadratic(aset, bset)


# ---------------------------------------------------------------------------
# AUC: doubled-midrank Mann-Whitney identity == brute-force pair counting
# ---------------------------------------------------------------------------

_scored = st.lists(
    st.tuples(st.integers(0, 10), st.booleans()), min_size=2, max_size=60
)


@given(_scored)
@settings(max_examples=120, deadline=None)
def test_auc_ranksum_equals_pair_counting(rows):
    """eval_auc's integer algebra — avg2 = 2*rank + tiecount - 1 summed
    over positives, AUC = (sum - n1(n1+1)) / (2 n1 n0) — must equal the
    probabilistic definition: P(score_pos > score_neg) + 0.5 *
    P(tie), counted over all positive x negative pairs."""
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        return
    # brute force in integer halves: 2 per win, 1 per tie
    num2 = sum(2 if p > n else 1 if p == n else 0 for p in pos for n in neg)
    # the operator's rank-sum form (ranks over the combined sample)
    allv = sorted(s for s, _ in rows)
    import bisect

    r2sum = 0
    for s in pos:
        rank = bisect.bisect_left(allv, s) + 1  # SQL rank(): ties share min
        k = bisect.bisect_right(allv, s) - bisect.bisect_left(allv, s)
        r2sum += 2 * rank + k - 1
    n1 = len(pos)
    lhs = r2sum - n1 * (n1 + 1)
    assert lhs == num2, (lhs, num2)


# ---------------------------------------------------------------------------
# dedup_semantic: threshold-boundary exactness (VERDICT r8 #5)
# ---------------------------------------------------------------------------

def _fold_cosine(a, b):
    """Bit-faithful Python replica of the engines' shared sequential-fold
    cosine (similarity._SPARK_COSINE / _duck_cosine): float32 inputs
    widened to double, sequential left folds for dot and squared norms,
    sqrt, one divide. Python floats ARE IEEE doubles, so each step here
    performs the identical rounding."""
    import math

    import numpy as np

    va = [float(np.float32(x)) for x in a]
    vb = [float(np.float32(x)) for x in b]
    dot = 0.0
    for x, y in zip(va, vb):
        dot = dot + x * y
    na = 0.0
    for x in va:
        na = na + x * x
    nb = 0.0
    for y in vb:
        nb = nb + y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


# The crafted boundary pair: every component is exact in float32 AND every
# fold step is exact in double (quarter-integers, sums <= 25), so
# cosine == fl(3/10) — the double literal 0.3, i.e. SEMANTIC_TAU itself,
# with NO accumulated rounding. The epsilon pair adds one 0.25 component
# to the b norm, pushing cosine strictly (not one-ulp-ambiguously) below.
BOUNDARY_A = [2.0] + [0.0] * 63
BOUNDARY_B_EQ = [1.5, 4.5, 1.5, 0.5] + [0.0] * 60  # |b|^2 = 25 exactly
BOUNDARY_B_BELOW = [1.5, 4.5, 1.5, 0.5, 0.25] + [0.0] * 59  # |b|^2 = 25.0625


def test_semantic_tau_boundary_pair_is_exact():
    """cosine(a, b_eq) must equal SEMANTIC_TAU bit-for-bit under the
    shared fold — the crafted pair sits ON the threshold, so the >= drop
    decision is exercised at the boundary, not near it; b_below keeps."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        SEMANTIC_TAU,
    )

    eq = _fold_cosine(BOUNDARY_A, BOUNDARY_B_EQ)
    assert eq == SEMANTIC_TAU == 0.3, f"{eq!r} is not the double 0.3"
    below = _fold_cosine(BOUNDARY_A, BOUNDARY_B_BELOW)
    assert below < SEMANTIC_TAU
    # inclusive >= semantics: ON the boundary drops, below keeps
    assert (eq >= SEMANTIC_TAU) and not (below >= SEMANTIC_TAU)


# ---------------------------------------------------------------------------
# BPE: the left fold both engines run IS the textbook greedy merge
# ---------------------------------------------------------------------------

def _greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Textbook BPE single-pair merge: scan left to right, merge each
    non-overlapping adjacent (a, b) occurrence, skip past the merge."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


_syms = st.lists(st.sampled_from(["x", "y", "xx", "xy", "yx", "z"]), max_size=12)


@given(_syms, st.sampled_from(["x", "y", "xx", "xy"]), st.sampled_from(["x", "y", "xx"]))
@settings(max_examples=400, deadline=None)
def test_bpe_fold_equals_greedy_scan(syms, a, b):
    """The whole bpe_train exactness argument rests on 'a left fold IS
    the greedy non-overlapping scan' (a just-merged a+b can never equal
    a, so no re-merge chain). Adversarial small alphabets with symbols
    that are concatenations of each other (x/xx/xy) probe exactly the
    collision cases that claim has to survive."""
    assert _bpe_fold(syms, a, b) == _greedy_merge(syms, a, b)


def test_bpe_fold_overlap_runs():
    """The classic overlap pins: runs of the same symbol merge pairwise
    left-to-right, never chained."""
    assert _bpe_fold(["x", "x", "x"], "x", "x") == ["xx", "x"]
    assert _bpe_fold(["x", "x", "x", "x"], "x", "x") == ["xx", "xx"]
    assert _bpe_fold(["x", "x", "x", "x", "x"], "x", "x") == ["xx", "xx", "x"]
    # merged symbol colliding with a literal symbol of the same spelling
    assert _bpe_fold(["x", "xx", "x"], "x", "xx") == ["xxx", "x"]
    assert _bpe_fold(["xx", "x", "x"], "xx", "x") == ["xxx", "x"]
