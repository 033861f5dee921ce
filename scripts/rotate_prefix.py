"""Compute the next round's 50-query gate-prefix rotation.

Implements the rotation rule pinned in registry.py's ``_PRIORITY``
comment and by test_gate_prefix_bounds_staleness:

  (1) every NEW or changed query this round (passed as arguments) leads,
  (2) fill to 50 with the least-recently-verified remainder — oldest
      last-green CORRECTNESS_r*.json round first, alphabetical within a
      round,
  then the rotated-out tail, most-stale first, alphabetical within a
  round.

Prints the ``_PRIORITY`` name region exactly as ``--apply`` writes it
(names only — keep/refresh the prose comment by hand, it carries the
per-round arithmetic) plus a staleness forecast for the two rounds
after this one; ``--apply`` prints the same forecast after patching.
Purely advisory: registry.py stays the single source of truth, and the
pinned tests still validate whatever is committed.

Usage: python scripts/rotate_prefix.py [--apply|--preview] [changed_query ...]

An EMPTY changed set (a pure re-verification round, e.g. r16) is valid:
pass ``--apply`` alone, or ``--preview`` alone to review the blocks.
Bare invocation with no flags and no names prints this help instead of
silently rotating, so a typo'd flag can't masquerade as an empty set.

With ``--apply``, the name region of registry._PRIORITY (everything from
the ``# (1) new/changed`` marker to the tuple's closing paren) is patched
in place with the computed blocks — no hand-wrapping, no drift; the
prose arithmetic comment above the marker stays hand-maintained (the
script prints a reminder; copy its numbers from the forecast lines).
Without it, prints the blocks for review.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PREFIX_SLOTS = 50


def tracked_correctness(repo: str, ignore_untracked: bool = False) -> dict[int, dict]:
    """Round -> parsed CORRECTNESS_r*.json, git-tracked files only when
    git is available (same rule as tests/test_registry_oracle.py).

    ``ignore_untracked=True`` skips the untracked-newer-file refusal and
    just returns the tracked rounds (ADVICE r21 #2): the reproducibility
    tests validate the committed prefix against the committed history —
    which is exactly the input it was computed from — so they stay
    MEANINGFUL (not skipped) during the round-boundary window in which
    the driver's new CORRECTNESS file sits untracked. The rotation tool
    itself always keeps the loud refusal (default False): rotating
    against a stale history corrupts the cohort math."""
    try:
        out = subprocess.run(
            ["git", "-C", repo, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True,
            text=True,
            check=True,
        )
        files = [os.path.join(repo, rel) for rel in out.stdout.split()]
    except (subprocess.CalledProcessError, FileNotFoundError):
        files = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    rounds: dict[int, dict] = {}
    for f in files:
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds[rnd] = json.load(open(f))
    # Guard (VERDICT r19 #1): the driver drops CORRECTNESS_r{N}.json
    # UNTRACKED at round close; rotating before it is committed computes
    # the PREVIOUS round's cohort and corrupts the rotation math. This
    # recurred two rounds running — refuse instead of silently rotating.
    if rounds and not ignore_untracked:
        tracked = set(map(os.path.abspath, files))
        stray = []
        for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
            if os.path.abspath(f) in tracked:
                continue
            m = re.search(r"r(\d+)", os.path.basename(f))
            # ADVICE r20: a digit-less suffix (CORRECTNESS_rtmp.json) must
            # refuse with the clear message, not crash on .group(1) of None
            if m is None or int(m.group(1)) > max(rounds):
                stray.append(f)
        if stray:
            raise SystemExit(
                f"untracked CORRECTNESS file(s) newer than the tracked max "
                f"r{max(rounds)}: {[os.path.basename(f) for f in stray]} — "
                "commit them first, or the rotation will refresh the wrong "
                "cohort."
            )
    return rounds


def rotate(
    gated: list[str], changed: list[str], rounds: dict[int, dict]
) -> tuple[list[str], list[str], dict[str, int]]:
    """Return (prefix, tail, last_green). ``gated`` is every oracle-gated
    query name; ``changed`` the new/changed set (kept in given order)."""
    unknown = [n for n in changed if n not in gated]
    if unknown:
        raise SystemExit(f"changed names not in the gated registry: {unknown}")
    last_green: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, r in rounds[rnd].items():
            if r.get("hash_match"):
                last_green[name] = rnd
    never = [n for n in gated if n not in last_green and n not in changed]
    if never:
        # first-coverage queries outrank staleness — they have NO green row
        raise SystemExit(
            f"gated queries with no green driver row (put them in changed): {never}"
        )
    backlog = sorted(
        (n for n in gated if n not in changed),
        key=lambda n: (last_green[n], n),
    )
    if len(changed) > PREFIX_SLOTS:
        raise SystemExit(
            f"changed set ({len(changed)}) exceeds the {PREFIX_SLOTS}-slot prefix"
        )
    fill = backlog[: PREFIX_SLOTS - len(changed)]
    tail = backlog[PREFIX_SLOTS - len(changed) :]
    return list(changed) + fill, tail, last_green


def fmt(names: list[str], indent: str = "    ") -> str:
    lines, cur = [], indent
    for n in names:
        tok = f'"{n}",'
        if len(cur) + len(tok) + 1 > 79:
            lines.append(cur.rstrip())
            cur = indent
        cur += tok + " "
    lines.append(cur.rstrip())
    return "\n".join(lines)


def build_blocks(changed, prefix, tail, last_green, this_round):
    """Canonical _PRIORITY name-region text (comments + wrapped names)."""
    out = [f"    # (1) new/changed in r{this_round} ({len(changed)}):"]
    if changed:  # fmt([]) would emit a stray blank line
        out.append(fmt(changed))
    by_round: dict[int, list[str]] = {}
    for n in prefix[len(changed):]:
        by_round.setdefault(last_green[n], []).append(n)
    for rnd in sorted(by_round):
        out.append(f"    # (2) last green in r{rnd} ({len(by_round[rnd])}):")
        out.append(fmt(by_round[rnd]))
    # derive the marker count from the actual prefix width — a hardcoded
    # 50 would silently go stale if the gate ever widened (ADVICE r7)
    head = f"    # --- end of gate prefix ({len(prefix)}) "
    out.append(head + "-" * max(1, 74 - len(head)))
    tail_by_round: dict[int, list[str]] = {}
    for n in tail:
        tail_by_round.setdefault(last_green[n], []).append(n)
    for rnd in sorted(tail_by_round):
        out.append(
            f"    # rotated out, last green r{rnd} ({len(tail_by_round[rnd])}):"
        )
        out.append(fmt(tail_by_round[rnd]))
    return "\n".join(out)


def forecast(tail, last_green, this_round) -> list[str]:
    """Staleness forecast for the two rounds after ``this_round``.

    After this round's driver run everything in the prefix is green at
    this_round; the waiting backlog walks forward two rounds, so the
    _PRIORITY prose can copy both next-round caps from one computation
    (assumes each forecast round gates green, the steady state; a red
    round re-runs this script with the failures as changed)."""
    out = []
    waiting = sorted(tail, key=lambda n: (last_green[n], n))
    for ahead in (1, 2):
        if not waiting:
            break
        oldest = last_green[waiting[0]]
        must_lead = [n for n in waiting if last_green[n] == oldest]
        out.append(
            f"# forecast: {len(must_lead)} queries last green in "
            f"r{oldest} must lead the r{this_round + ahead} prefix "
            f"(changed-set cap {PREFIX_SLOTS - len(must_lead)}):"
        )
        out.append(fmt(must_lead, indent="#   "))
        waiting = waiting[len(must_lead):]
    return out


def apply_blocks(repo: str, blocks: str) -> None:
    path = os.path.join(repo, "multithreaded_mapreduce_library_spark", "registry.py")
    src = open(path).read()
    m = re.search(r"(    # \(1\) new/changed in r\d+ \(\d+\):\n)(.*?)(\n\)\n)", src, re.S)
    if not m:
        raise SystemExit("registry.py: '# (1) new/changed' marker not found")
    src = src[: m.start(1)] + blocks + src[m.end(2):]
    open(path, "w").write(src)
    print(f"# applied to {path} — update the prose arithmetic comment above")


def main() -> None:
    args = sys.argv[1:]
    flags = [a for a in args if a.startswith("--")]
    unknown = [a for a in flags if a not in ("--apply", "--preview")]
    if unknown:
        # a typo'd flag must not fall through into the changed-name list,
        # where the registry check would reject it with a confusing message
        raise SystemExit(f"unrecognized flag(s): {unknown} (valid: --apply, --preview)")
    if "--apply" in flags and "--preview" in flags:
        raise SystemExit("--apply and --preview are mutually exclusive")
    apply = "--apply" in flags
    changed = [a for a in args if not a.startswith("--")]
    if not args:
        raise SystemExit(__doc__)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from multithreaded_mapreduce_library_spark.registry import load_all

    specs = load_all()
    gated = [n for n, s in specs.items() if s.oracle is not None]
    rounds = tracked_correctness(repo)
    if not rounds:
        raise SystemExit(
            "no git-tracked CORRECTNESS_r*.json found — the rotation is "
            "derived from driver history, so at least one round's file "
            "must be committed first (a fresh repo has no prefix to "
            "rotate: seed _PRIORITY by hand for round 1)."
        )
    prefix, tail, last_green = rotate(gated, changed, rounds)

    this_round = max(rounds) + 1
    blocks = build_blocks(changed, prefix, tail, last_green, this_round)
    if apply:
        apply_blocks(repo, blocks)
    else:
        print(blocks)
    for line in forecast(tail, last_green, this_round):
        print(line)


if __name__ == "__main__":
    main()
