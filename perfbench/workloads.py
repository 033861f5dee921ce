"""Workload definitions: seeded inputs, the query lists, and output checks.

Every workload is a list of query names. Registry names run the registered
builder; ``distwc`` is the benchmark's own query: the reference library's
example application (distwc.c) through ``mapreduce.mr_run`` over seeded text
files, one map task per file and ``num_partitions=10`` as in distwc.c.
"""

from __future__ import annotations

import importlib.util
import os
import random
from collections import Counter
from typing import Callable

# The sf0.1 parquet footers of the checked-in fixtures; about 16 MB of
# parquet, generated in about 2.5 s outside every timing.
FIXTURE_ROWS = {
    "N_CUSTOMER": 15_000,
    "N_SUPPLIER": 1_000,
    "N_PART": 20_000,
    "N_ORDERS": 150_000,
    "N_LINEITEM": 600_000,
    "N_EVENTS": 100_000,
    "N_DOCUMENTS": 5_000,
    "N_EMBEDDINGS": 2_000,
}

# distwc corpus: 8 files of 12 500 tokens each (100 000 tokens) drawn from a
# 4 000-word Zipf vocabulary, so the shuffle carries about 26 pairs per
# distinct key.
DISTWC_FILES = 8
DISTWC_TOKENS_PER_FILE = 12_500
DISTWC_VOCAB = 4_000
DISTWC_PARTITIONS = 10


# Why each workload exists is recorded in BENCHMARK.json and README.md.
# Each workload leans on different layers, yet runs one query of every
# layer, so that each per-layer time is measured (and nonzero) on both.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Lazy builders: sources and exec do the work. mr_wordcount takes the MR
    # facade's djb2 groupByKey path over documents; wordcount computes the
    # same answer through Catalyst. stream_tumbling, the cheapest and
    # steadiest stream, keeps the streaming layer measured here too.
    "analytics": ("pricing_summary", "wordcount", "mr_wordcount", "stream_tumbling"),
    # A builder that runs jobs eagerly (BPE training's merge rounds), an
    # availableNow stream with a state store and WAL, and the paper's distwc
    # over seeded files.
    "pipeline": ("bpe_train", "stream_tumbling", "distwc"),
}

# The workloads' streaming queries whose operators keep state (a
# complete-mode windowed aggregation): the traced run must see nonzero state
# rows for each of them.
STATEFUL_STREAMS = frozenset({"stream_tumbling"})


def _load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate_inputs(root: str, out_dir: str, seed: int) -> None:
    """Write the fixture tables (scripts/gen_fixture.py at the row counts
    above) and the distwc corpus under ``out_dir``, both from ``seed``."""
    gen = _load_module(os.path.join(root, "scripts", "gen_fixture.py"), "perfbench_gen_fixture")
    for attr, rows in FIXTURE_ROWS.items():
        setattr(gen, attr, rows)
    gen.generate(os.path.join(out_dir, "tables"), seed)
    write_distwc_corpus(os.path.join(out_dir, "corpus"), seed)


def write_distwc_corpus(corpus_dir: str, seed: int) -> None:
    """Seeded text files with the separators distwc.c splits on: runs of
    spaces, tabs and CRs, so the emit filter drops empty tokens."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choices(letters, k=rng.randint(2, 9))) for _ in range(DISTWC_VOCAB)})
    weights = [1.0 / (rank + 1) for rank in range(len(vocab))]
    seps = (" ", " ", " ", "  ", "\t", " \r")
    os.makedirs(corpus_dir, exist_ok=True)
    for i in range(DISTWC_FILES):
        words = rng.choices(vocab, weights=weights, k=DISTWC_TOKENS_PER_FILE)
        lines = []
        for start in range(0, len(words), 12):
            chunk = words[start:start + 12]
            lines.append("".join(w + rng.choice(seps) for w in chunk))
        with open(os.path.join(corpus_dir, f"part-{i:02d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")


def corpus_files(data_dir: str) -> list[str]:
    corpus = os.path.join(data_dir, "corpus")
    return sorted(os.path.join(corpus, f) for f in os.listdir(corpus))


def distwc_file_mapper(path: str):
    """distwc.c's Map over one input file: every line through the facade's
    ``wordcount_mapper``."""
    from multithreaded_mapreduce_library_spark.mapreduce import wordcount_mapper

    with open(path) as f:
        for line in f:
            yield from wordcount_mapper(line)


def distwc_builder(data_dir: str) -> Callable:
    def build(spark, _sf_dir):
        from multithreaded_mapreduce_library_spark import mapreduce

        out = mapreduce.mr_run(
            spark,
            corpus_files(data_dir),
            distwc_file_mapper,
            mapreduce.wordcount_reducer,
            num_partitions=DISTWC_PARTITIONS,
        )
        return spark.createDataFrame(out, schema="word string, cnt long")

    return build


def check_distwc(df, data_dir: str) -> int:
    """distwc's output must equal a Counter over the same files. Returns the
    corpus's token count."""
    expected: Counter[str] = Counter()
    for path in corpus_files(data_dir):
        with open(path) as f:
            for line in f:
                expected.update(
                    t for t in line.replace("\t", " ").replace("\n", " ").replace("\r", " ").split(" ") if t
                )
    got = {w: c for w, c in df.collect()}
    if got != dict(expected):
        missing = set(expected) - set(got)
        wrong = [w for w in expected if w in got and got[w] != expected[w]][:5]
        raise AssertionError(
            f"distwc: {len(got)} keys vs {len(expected)} expected; "
            f"{len(missing)} missing, first wrong counts {wrong}"
        )
    return sum(expected.values())
