"""Scale probe for bpe_train's driver-side merge phase.

bpe_train runs ONE Spark round (the corpus wordcount), collects the
vocab-sized (word, freq) table and learns every merge on the driver
with an incremental pair index (operators/text.py::_bpe_learn). This
probe times that driver phase alone on synthetic Zipf vocabularies —
word ranks with freq ~ 1/rank, letters drawn with a skewed distribution
so pairs repeat across words like real text — and reports, per vocab
size:

- per-round wall time in ms, as the median of each tenth of the run
  (``window_median_ms``): flat or falling means a round costs the same
  however many merges came before;
- the one-off index build and the total training time;
- driver RSS: the baseline before the vocab exists, the peak after
  training, and their difference per vocab entry (the collected rows
  plus the trainer's index), which sets the driver-memory ceiling.

Each size runs in its own child process so RSS peaks do not mix.

Usage: python scripts/probe_bpe_rounds.py [merges] [vocab_size ...]
Defaults: 1000 merges over 10000, 100000 and 1000000 words.
Writes nothing; prints one JSON line per vocab size.
"""

from __future__ import annotations

import json
import os
import random
import resource
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def zipf_vocab(n: int, seed: int = 7) -> list[tuple[str, int]]:
    """n distinct words, freq of rank r = max(1, 10**7 // r)."""
    rng = random.Random(seed)
    weights = [1 / (k + 1) for k in range(len(LETTERS))]
    words: dict[str, None] = {}
    while len(words) < n:
        size = rng.randint(3, 10)
        words["".join(rng.choices(LETTERS, weights, k=size))] = None
    return [(w, max(1, 10**7 // r)) for r, w in enumerate(words, start=1)]


def probe_one(n: int, merges: int) -> dict:
    from multithreaded_mapreduce_library_spark.operators.text import _bpe_learn

    base = rss_mb()
    vocab = zipf_vocab(n)
    rounds_ms: list[float] = []
    t0 = time.perf_counter()
    rules = _bpe_learn(vocab, merges, lambda step, s: rounds_ms.append(s * 1000))
    total = time.perf_counter() - t0
    peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    tenth = max(1, len(rounds_ms) // 10)
    windows = [
        sorted(rounds_ms[i : i + tenth])[len(rounds_ms[i : i + tenth]) // 2]
        for i in range(0, len(rounds_ms), tenth)
    ]
    return {
        "vocab": n,
        "merges": len(rules),
        "index_build_s": round(total - sum(rounds_ms) / 1000, 2),
        "train_s": round(total, 2),
        "window_median_ms": [round(w, 2) for w in windows],
        "max_round_ms": round(max(rounds_ms), 1),
        "rss_base_mb": round(base, 1),
        "rss_peak_mb": round(peak, 1),
        "bytes_per_entry": round((peak - base) * 2**20 / n),
    }


def main() -> None:
    if sys.argv[1:2] == ["--one"]:
        print(json.dumps(probe_one(int(sys.argv[2]), int(sys.argv[3]))))
        return
    merges = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    sizes = [int(a) for a in sys.argv[2:]] or [10_000, 100_000, 1_000_000]
    for n in sizes:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", str(n), str(merges)],
            check=True,
        )


if __name__ == "__main__":
    main()
