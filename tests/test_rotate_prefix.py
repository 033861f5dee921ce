"""Unit tests for scripts/rotate_prefix.py — the tool that mechanizes the
_PRIORITY gate-prefix rotation (round 7 hand-patched the name lists three
times before mechanizing; these pin the mechanization itself).

Pure Python, no SparkSession: rotate() is exercised on synthetic driver
histories, and the committed registry._PRIORITY prefix is round-tripped
through the tool so "Generated by scripts/rotate_prefix.py (which
reproduces this list bit-for-bit)" is a tested claim, not a comment.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from scripts.rotate_prefix import PREFIX_SLOTS, build_blocks, rotate


def _hist(last_green: dict[str, int]) -> dict[int, dict]:
    """Synthetic CORRECTNESS history: one green row per query at its
    last-green round (sufficient — rotate() keeps only the max)."""
    rounds: dict[int, dict] = {}
    for name, rnd in last_green.items():
        rounds.setdefault(rnd, {})[name] = {"hash_match": True}
    return rounds


def test_changed_leads_then_oldest_alphabetical():
    gated = [f"q{i:03d}" for i in range(60)]
    # q000-q019 green in r2 (stalest), q020-q059 green in r3
    lg = {n: (2 if i < 20 else 3) for i, n in enumerate(gated)}
    prefix, tail, _ = rotate(gated, ["q055", "q030"], _hist(lg))
    assert prefix[:2] == ["q055", "q030"], "changed set must lead in given order"
    assert len(prefix) == PREFIX_SLOTS and len(prefix) + len(tail) == 60
    # fill: ALL 20 r2 queries before any r3 one, alphabetical within rounds
    fill = prefix[2:]
    assert fill[:20] == [f"q{i:03d}" for i in range(20)]
    r3_fill = fill[20:]
    assert r3_fill == sorted(r3_fill)
    assert "q055" not in fill and "q030" not in fill, "no duplicate slots"
    # tail: the least-stale leftovers, alphabetical
    assert tail == sorted(tail) and set(tail) == set(gated) - set(prefix)


def test_never_green_query_must_be_declared_changed():
    gated = [f"q{i:03d}" for i in range(10)] + ["brand_new"]
    lg = {f"q{i:03d}": 5 for i in range(10)}
    with pytest.raises(SystemExit, match="brand_new"):
        rotate(gated, [], _hist(lg))
    prefix, _, _ = rotate(gated, ["brand_new"], _hist(lg))
    assert prefix[0] == "brand_new"


def test_unknown_changed_name_rejected():
    gated = ["a", "b"]
    with pytest.raises(SystemExit, match="typo_name"):
        rotate(gated, ["typo_name"], _hist({"a": 1, "b": 1}))


def test_committed_prefix_reproduces_bit_for_bit():
    """The registry's current 50-query prefix must be exactly what the
    tool computes from the tracked CORRECTNESS history plus the changed
    set declared by the '# (1) new/changed' marker — the _PRIORITY
    header's reproducibility claim, kept honest every round without
    hardcoding this round's names.

    Round-boundary lifecycle (same as test_gate_prefix_bounds_staleness,
    by design): the moment the driver commits the NEW round's
    CORRECTNESS_r*.json this goes red, because the committed prefix was
    computed from the history as of the PREVIOUS round — the next
    round's first action is `rotate_prefix.py --apply`, which makes both
    tests green again. A red here mid-round means the prefix was
    hand-edited or the rule changed."""
    from multithreaded_mapreduce_library_spark import registry
    from multithreaded_mapreduce_library_spark.registry import _PRIORITY, load_all
    from scripts.rotate_prefix import tracked_correctness

    src = open(registry.__file__.rstrip("c")).read()
    m = re.search(r"# \(1\) new/changed in r(\d+) \((\d+)\):", src)
    assert m, "changed-set marker missing from registry.py"
    n_changed = int(m.group(2))
    changed = list(_PRIORITY[:n_changed])

    specs = load_all()
    gated = [n for n, s in specs.items() if s.oracle is not None]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # ADVICE r21 #2: validate against the TRACKED rounds only instead of
    # skipping at the round boundary — the committed prefix was computed
    # from exactly that history, so the check stays meaningful while the
    # driver's new CORRECTNESS file sits untracked (the refusal itself is
    # still pinned by test_untracked_newer_correctness_refuses_rotation,
    # and rotate_prefix.py --apply keeps it loud).
    rounds = tracked_correctness(repo, ignore_untracked=True)
    prefix, tail, last_green = rotate(gated, changed, rounds)
    assert list(_PRIORITY[:PREFIX_SLOTS]) == prefix, (
        "committed prefix diverges from the rotation rule"
    )
    # and the full gated ordering too: prefix + tail is the whole region
    gated_in_priority = [n for n in _PRIORITY if n in set(gated)]
    assert gated_in_priority == prefix + tail

    # the applied name-region text also round-trips through build_blocks
    this_round = int(m.group(1))
    blocks = build_blocks(changed, prefix, tail, last_green, this_round)
    names_in_blocks = re.findall(r'"([a-z0-9_]+)",', blocks)
    assert names_in_blocks == prefix + tail


def test_untracked_newer_correctness_refuses_rotation(tmp_path):
    """VERDICT r19 #1: the driver drops CORRECTNESS_r{N}.json untracked at
    round close, and rotating before committing it refreshes the WRONG
    cohort (recurred in r18 and r19). tracked_correctness must refuse
    when an untracked file newer than the tracked max exists — and stay
    quiet for untracked files at or below it (e.g. a re-checkout)."""
    import json
    import subprocess

    from scripts.rotate_prefix import tracked_correctness

    repo = str(tmp_path)
    subprocess.run(["git", "init", "-q", repo], check=True)
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({"q": {"hash_match": True}})
    )
    subprocess.run(["git", "-C", repo, "add", "CORRECTNESS_r1.json"], check=True)
    subprocess.run(
        ["git", "-C", repo, "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-qm", "r1"],
        check=True,
    )
    assert set(tracked_correctness(repo)) == {1}

    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({"q": {"hash_match": True}})
    )
    with pytest.raises(SystemExit, match="CORRECTNESS_r2.json"):
        tracked_correctness(repo)


def test_cli_rejects_unknown_flags_and_flag_conflicts(monkeypatch):
    """ADVICE r16: a typo'd flag must fail loudly instead of falling
    through into the changed-name list, and '--apply --preview' must be
    an error instead of silently applying."""
    from scripts.rotate_prefix import main

    monkeypatch.setattr(sys, "argv", ["rotate_prefix.py", "--aply", "q1"])
    with pytest.raises(SystemExit, match="unrecognized flag"):
        main()
    monkeypatch.setattr(sys, "argv", ["rotate_prefix.py", "--apply", "--preview"])
    with pytest.raises(SystemExit, match="mutually exclusive"):
        main()


def test_query_hashes_pin_source():
    """ADVICE r19 #3 (mechanical changed-set derivation, part 1): the
    committed QUERY_HASHES.json must equal the fingerprints computed from
    the live registry, so ANY builder/oracle text change forces a visible
    QUERY_HASHES.json delta in the same commit — prose discipline becomes
    a failing test."""
    import json

    from scripts.query_hashes import HASH_FILE, compute_hashes

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    committed = json.load(open(os.path.join(repo, HASH_FILE)))
    current = compute_hashes()
    drifted = sorted(
        set(k for k in current if current[k] != committed.get(k))
        | (set(committed) - set(current))
    )
    assert not drifted, (
        f"query source changed without updating {HASH_FILE} "
        f"(run scripts/query_hashes.py --apply): {drifted}"
    )


def test_changed_hashes_are_declared():
    """ADVICE r19 #3, part 2: every gated query whose fingerprint moved
    since the last round-close commit (the commit that last touched the
    newest tracked CORRECTNESS_r*.json) must appear in the declared
    '# (1) new/changed' marker set. In a saturated cap-0 round the
    declared set is empty, so no gated query's text may change at all —
    the r19 doc_ngram_novelty exception class now fails loudly instead
    of relying on the _PRIORITY prose."""
    import json
    import subprocess

    from multithreaded_mapreduce_library_spark import registry
    from multithreaded_mapreduce_library_spark.registry import _PRIORITY, load_all
    from scripts.query_hashes import HASH_FILE, compute_hashes
    from scripts.rotate_prefix import tracked_correctness

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # ADVICE r21 #2: tracked rounds only, no round-boundary skip — the
    # changed-set declaration is checked against the last COMMITTED round
    # close, which is well-defined whether or not a newer untracked
    # CORRECTNESS file exists.
    rounds = tracked_correctness(repo, ignore_untracked=True)
    newest = f"CORRECTNESS_r{max(rounds):02d}.json"
    sha = subprocess.run(
        ["git", "-C", repo, "log", "-1", "--format=%H", "--", newest],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    baseline_raw = subprocess.run(
        ["git", "-C", repo, "show", f"{sha}:{HASH_FILE}"],
        capture_output=True, text=True,
    )
    if baseline_raw.returncode != 0:
        pytest.skip(f"{HASH_FILE} not yet tracked at the {newest} commit "
                    "(first round with fingerprints)")
    baseline = json.loads(baseline_raw.stdout)

    src = open(registry.__file__.rstrip("c")).read()
    m = re.search(r"# \(1\) new/changed in r\d+ \((\d+)\):", src)
    declared = set(_PRIORITY[: int(m.group(1))])

    gated = {n for n, s in load_all().items() if s.oracle is not None}
    current = compute_hashes()
    undeclared = sorted(
        n for n in gated
        if n in baseline and current.get(n) != baseline[n] and n not in declared
    )
    assert not undeclared, (
        "gated query source changed since the last round close without a "
        f"declared changed-set slot: {undeclared}"
    )


def test_canary_probe_shape():
    """scripts/canary.py must stay import-compatible with bench.py (it
    returns bench's probe pair so the standalone canary and the one
    recorded inside bench JSON can never drift) and return the three
    documented keys with sane positive readings. ADVICE r19: the probe
    must be THE SAME OBJECT as bench's — an inline re-definition in
    canary.py silently desynchronized the probes once; pin identity so
    it can't recur."""
    import bench
    from scripts import canary
    from scripts.canary import probe

    assert canary._canary_pair is bench._canary_pair

    c = probe()
    assert set(c) == {"py_loop_sec", "blas_matmul_sec", "load_avg"}
    assert 0 < c["py_loop_sec"] < 5
    assert 0 < c["blas_matmul_sec"] < 5
    assert len(c["load_avg"]) == 3
