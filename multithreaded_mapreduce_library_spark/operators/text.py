"""Text operators over the ``documents`` table.

Flagship: the reference-fidelity word count — the exact computation of the
reference's example application (distwc.c:7-34): whitespace tokenization
(`strsep` on " \\t\\n\\r", distwc.c:14), empty-token drop (mapreduce.c:205-207),
per-word count (distwc.c:23-34). Spark-first shape: explode+split+filter+
groupBy/count — Catalyst prunes the scan to the ``text`` column and the
count aggregate gets map-side partial aggregation (the combiner the
reference lacks, SURVEY.md §2.2).
"""

from __future__ import annotations

import heapq
import time
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.functions import (
    MOD_P,
    duck_tokens,
    h31,
    tokens,
)
from multithreaded_mapreduce_library_spark.registry import register
from multithreaded_mapreduce_library_spark.sources import load_table, rebalance_scan

WORDCOUNT_ORACLE = f"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest({duck_tokens('text')}) AS word FROM documents)
GROUP BY word
"""


@register(
    "wordcount",
    oracle=WORDCOUNT_ORACLE,
    tags=("text", "flagship", "reference-fidelity"),
    doc=(
        "distwc.c word count: whitespace tokens, empty tokens dropped, "
        "count per word. Shuffle story: explode is narrow fan-out; ONE agg "
        "exchange carrying (word, partial count) — the map-side combine "
        "the reference's shuffle lacks (every raw pair crosses its "
        "'wire', mapreduce.c:204-222). 90× faster than the reference "
        "binary on identical sf0.1 data (BASELINE.md)."
    ),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# token statistics
# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer classes: letter runs, digit runs, single non-space
# symbols. Identical regex semantics in Java regex and RE2 for this pattern.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]"


@register(
    "token_stats",
    oracle=f"""
SELECT doc_id,
       len({duck_tokens('text')}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens,
       round(length(replace(text, ' ', '')) / len({duck_tokens('text')}), 6) AS chars_per_token
FROM documents
WHERE len({duck_tokens('text')}) > 0
""",
    tags=("text", "llm-pipeline"),
    doc=(
        "Token counting per document: whitespace tokens plus a BPE-style "
        "regex pre-tokenization (letter runs / digit runs / single symbols) "
        "— the standard cheap token-budget estimator for training-data "
        "pipelines. Pure JVM expressions, one scan, no shuffle."
    ),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_ws = F.size(tokens("text"))
    n_bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0))
    return (
        d.filter(n_ws > 0)
        .select(
            "doc_id",
            n_ws.alias("n_ws_tokens"),
            n_bpe.alias("n_bpe_tokens"),
            F.round(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_ws, 6
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars, {duck_tokens('text')} AS toks,
         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(len(list_filter(toks, t -> t IN {STOPWORDS!r})) / len(toks), 6) AS stopword_ratio,
       round(n_punct / n_chars, 6) AS punct_ratio,
       round(len(list_distinct(toks)) / len(toks), 6) AS type_token_ratio,
       round(length(array_to_string(toks, '')) / len(toks), 6) AS avg_token_len
FROM t
WHERE len(toks) > 0
""",
    tags=("text", "quality", "llm-pipeline"),
    doc=(
        "Document quality signals: stopword ratio, punctuation density, "
        "type-token ratio (lexical diversity), mean token length — the "
        "classic cheap filters (C4/Gopher-style) ahead of expensive model "
        "scoring. All ratios are exact-int divisions, so engines agree. "
        "Shuffle story: NARROW — pure per-row array expressions, zero "
        "exchanges; at 100 TB this is a single map-only pass over the scan."
    ),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(
        "doc_id",
        "n_chars",
        toks.alias("toks"),
        F.length(F.regexp_replace(F.col("text"), "[^.,!?;:]", "")).alias("n_punct"),
    ).filter(F.size("toks") > 0)
    n = F.size("toks")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))) / n, 6).alias(
            "stopword_ratio"
        ),
        F.round(F.col("n_punct") / F.col("n_chars"), 6).alias("punct_ratio"),
        F.round(F.size(F.array_distinct("toks")) / n, 6).alias("type_token_ratio"),
        F.round(F.length(F.array_join("toks", "")) / n, 6).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# language identification (corpus-derived lexicons, deterministic)
# ---------------------------------------------------------------------------

LEXICON_TOP_N = 20


@register(
    "lang_id",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({duck_tokens('text')}) AS token FROM documents
),
lexicon AS (
  SELECT lang AS lex_lang, token FROM (
    SELECT lang, token, row_number() OVER (
             PARTITION BY lang ORDER BY count(*) DESC, token
           ) AS rn
    FROM tok GROUP BY lang, token
  ) WHERE rn <= {LEXICON_TOP_N}
),
doc_tok AS (SELECT DISTINCT doc_id, lang, token FROM tok),
scores AS (
  SELECT d.doc_id, d.lang AS actual_lang, l.lex_lang, count(*) AS n_matches
  FROM doc_tok d JOIN lexicon l ON d.token = l.token
  GROUP BY 1, 2, 3
)
SELECT doc_id, actual_lang, lex_lang AS predicted_lang, n_matches,
       (lex_lang = actual_lang) AS is_correct
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY n_matches DESC, lex_lang
         ) AS rn
  FROM scores
) WHERE rn = 1
""",
    tags=("text", "lang-id", "llm-pipeline"),
    doc=(
        "n-gram-lexicon language ID: derive a top-N token lexicon per "
        "language from the corpus itself (one agg), score each document by "
        "distinct-token overlap per lexicon (one join + agg), argmax with a "
        "deterministic tiebreak. Two shuffles total; the lexicon side is "
        "broadcast-sized at any corpus scale."
    ),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(tokens("text")).alias("token"))

    w_lex = W.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    lexicon = (
        tok.groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_lex))
        .filter(F.col("rn") <= LEXICON_TOP_N)
        .select(F.col("lang").alias("lex_lang"), "token")
    )

    doc_tok = tok.select("doc_id", F.col("lang").alias("actual_lang"), "token").distinct()
    scores = (
        doc_tok.join(F.broadcast(lexicon), "token")
        .groupBy("doc_id", "actual_lang", "lex_lang")
        .agg(F.count("*").alias("n_matches"))
    )
    w_pred = W.partitionBy("doc_id").orderBy(F.col("n_matches").desc(), "lex_lang")
    return (
        scores.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual_lang",
            F.col("lex_lang").alias("predicted_lang"),
            "n_matches",
            (F.col("lex_lang") == F.col("actual_lang")).alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# document fingerprinting (polynomial rolling hash)
# ---------------------------------------------------------------------------

FP_BASE = 131
FP_PREFIX = 64  # fingerprint the first 64 tokens
# B^i mod P, shared literally by both engines so the modular sums agree.
FP_POWERS = tuple(pow(FP_BASE, i, MOD_P) for i in range(FP_PREFIX))


@register(
    "doc_fingerprint",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens('text')}[1:{FP_PREFIX}] AS toks FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok FROM toks
)
SELECT doc_id,
       CAST(sum((('0x' || substr(md5(tok), 1, 15))::BIGINT % {MOD_P})
           * ([{','.join(str(p) for p in FP_POWERS)}][i]) % {MOD_P}) % {MOD_P} AS BIGINT) AS fingerprint
FROM pos
GROUP BY doc_id
""",
    tags=("text", "fingerprint", "llm-pipeline"),
    doc=(
        f"Polynomial rolling-hash fingerprint of the first {FP_PREFIX} "
        f"tokens (base {FP_BASE} mod 2^31-1), with the power table shared "
        "literally across engines — exact integer arithmetic end-to-end. "
        "Position-sensitive (unlike bag-of-words hashes), so reordered "
        "copies get different fingerprints; identical prefixes collide "
        "intentionally for prefix-dup detection. Shuffle story: posexplode "
        "is narrow; ONE agg exchange on doc_id carrying a single partial "
        "modular sum per doc."
    ),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.slice(tokens("text"), 1, FP_PREFIX).alias("toks"))
    pos = toks.select("doc_id", F.posexplode("toks").alias("i0", "tok"))
    powers = F.array(*[F.lit(p) for p in FP_POWERS])
    term = F.pmod(h31(F.col("tok")) * F.element_at(powers, F.col("i0") + 1), F.lit(MOD_P))
    return pos.groupBy("doc_id").agg(F.pmod(F.sum(term), F.lit(MOD_P)).alias("fingerprint"))



TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf,
         CAST(floor(
           tf * (ln((n_docs + 1.0) / (count(*) OVER (PARTITION BY token) + 1.0)) + 1.0)
           * 1000000 + 0.5) AS BIGINT) AS score_fx
  FROM tf CROSS JOIN n
)
SELECT doc_id, token, tf, score_fx / 1000000.0 AS tfidf
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score_fx DESC, token) <= 5
"""


@register(
    "tf_idf",
    oracle=TFIDF_ORACLE,
    tags=("text", "tf-idf", "window"),
)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF (tf · (ln((N+1)/(df+1)) + 1)), top-5 terms per doc.

    Exactness: the score is fixed-point-quantized (1e-6) immediately after
    the identical float expression on both engines, so the per-doc ranking
    and the score column compare as integers — ties broken by token.

    Shuffle story: the token stream is exploded and shuffled ONCE (agg on
    (doc_id, token)); document frequency is a count window over that same
    result (exchange on token) rather than a self-join, so the explode
    subtree is never recomputed; N is a 1-row broadcast off the bare scan;
    the top-5 window exchanges on doc_id. Three exchanges total, all of
    the compact tf table, never the raw tokens twice.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n = d.groupBy().agg(F.count("*").alias("n_docs"))
    df = F.count("*").over(W.partitionBy("token"))
    score = (
        F.col("tf")
        * (F.log((F.col("n_docs") + F.lit(1.0)) / (df + F.lit(1.0))) + F.lit(1.0))
    )
    scored = tf.crossJoin(F.broadcast(n)).withColumn(
        "score_fx", F.floor(score * 1_000_000 + F.lit(0.5))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score_fx").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tf", (F.col("score_fx") / 1_000_000.0).alias("tfidf"))
    )


BM25_TERMS = ("spark", "join", "window")


def _bm25_term_sql(term: str) -> str:
    """Quantized BM25 contribution of one query term (k1=1.2, b=0.75)."""
    return f"""CAST(floor(
      ln(1.0 + (n_docs - df_{term} + 0.5) / (df_{term} + 0.5))
      * (tf_{term} * 2.2) / (tf_{term} + 1.2 * (0.25 + 0.75 * dl / avgdl))
      * 1000000 + 0.5) AS BIGINT)"""


# The tok -> per_doc -> stats -> scored CTE chain, shared VERBATIM by
# BM25_ORACLE and hybrid_retrieval's oracle (the lexical leg cannot drift).
BM25_CORE_CTES = f"""tok AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents
),
per_doc AS (
  SELECT doc_id, count(*) AS dl,
         {', '.join(f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS tf_{t}" for t in BM25_TERMS)}
  FROM tok GROUP BY doc_id
),
stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n_docs,
         {', '.join(f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS)}
  FROM per_doc
),
scored AS (
  SELECT doc_id, {' + '.join(_bm25_term_sql(t) for t in BM25_TERMS)} AS sum_fx
  FROM per_doc CROSS JOIN stats
)"""

BM25_ORACLE = f"""
WITH {BM25_CORE_CTES}
SELECT doc_id, sum_fx / 1000000.0 AS bm25
FROM scored WHERE sum_fx > 0
ORDER BY sum_fx DESC, doc_id
LIMIT 20
"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 (k1=1.2, b=0.75) scored frame (doc_id, sum_fx) for the
    query {spark, join, window} — the exact Spark twin of the `scored`
    CTE in BM25_CORE_CTES, shared by bm25_search and hybrid_retrieval.

    Exactness: each per-term score is fixed-point-quantized (1e-6) right
    after the identical float expression; the per-doc total is a fixed
    left-to-right integer addition of the three term columns — no
    sum-over-rows, so no accumulation-order hazard at all. A zero tf
    yields exactly fx 0 (floor(0.5)), and sum_fx > 0 ⇔ the doc contains
    at least one query term.

    Shuffle story: ONE explode pass, ONE exchange — the per-doc pivot agg
    on doc_id folds document length and all per-term frequencies into a
    single map-side-combined aggregation; corpus stats are a 1-row
    broadcast off that table. At any scale the token stream is read and
    shuffled exactly once.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stats = per_doc.groupBy().agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )

    def term_fx(t: str):
        tf, dfc = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        )
        score = (
            idf
            * (tf * F.lit(2.2))
            / (tf + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl")))
        )
        return F.floor(score * 1_000_000 + F.lit(0.5))

    total = term_fx(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        total = total + term_fx(t)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .withColumn("sum_fx", total)
        .select("doc_id", "sum_fx")
    )


@register(
    "bm25_search",
    oracle=BM25_ORACLE,
    tags=("text", "bm25", "search", "topk"),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BM25 matches (sum_fx desc, doc_id tiebreak) off the shared
    scored frame; the top-k is TakeOrderedAndProject — see bm25_scored
    for the exactness and shuffle story."""
    scored = bm25_scored(spark, sf_dir)
    return (
        scored.filter(F.col("sum_fx") > 0)
        .orderBy(F.col("sum_fx").desc(), "doc_id")
        .limit(20)
        .select("doc_id", (F.col("sum_fx") / 1_000_000.0).alias("bm25"))
    )


@register(
    "repetition_ngram",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
  FROM t CROSS JOIN unnest(generate_series(1, len(toks) - 1)) AS g(i)
),
c AS (
  SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       round(1 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_bigram_ratio,
       CAST(max(c) AS BIGINT) AS max_bigram_count
FROM c
GROUP BY doc_id
""",
    tags=("text", "quality", "repetition", "llm-pipeline"),
    doc=(
        "Gopher-style repetition gate: per-document duplicate-bigram ratio "
        "(1 - distinct/total word 2-grams) and the hottest bigram's "
        "occurrence count — the cheap signal that catches boilerplate and "
        "degenerate repetition loops that type-token ratio misses. "
        "Shuffle story: explode to (doc_id, gram) rows, then TWO "
        "partial-aggregated exchanges on (doc_id, gram) and doc_id — "
        "grams are short strings, full text never crosses a shuffle; at "
        "100 TB the map-side partial count collapses repeated grams "
        "before the wire, exactly where repetition makes data redundant."
    ),
)
def repetition_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    bg = docs.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("gram"),
    )
    c = bg.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
        F.round(
            F.lit(1) - F.count("*") / F.sum("c").cast("double"), 6
        ).alias("dup_bigram_ratio"),
        F.max("c").cast("long").alias("max_bigram_count"),
    )


# ---------------------------------------------------------------------------
# exact heavy hitters (two-phase Misra-Gries)
# ---------------------------------------------------------------------------

# Misra-Gries counter capacity per partition. The final (exact) support
# threshold is count(token) * HH_CAPACITY > N_total — i.e. frequency
# strictly above N/HH_CAPACITY.
HH_CAPACITY = 200


def _mg_candidate_batches(batches):
    """Per-partition Misra-Gries summary over the token stream.

    Classic MG with HH_CAPACITY counters: hits increment; a miss with a
    full table decrements EVERY counter by one and drops zeros (one
    "round"). Each round consumes HH_CAPACITY+1 units of total count, so
    across a partition of n_p tokens there are at most n_p/(C+1) rounds
    — amortized O(1) per token, O(C) memory. Guarantee: any token with
    partition count > n_p/(C+1) still holds a counter at the end.
    """
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for toks in pdf["toks"]:
            for t in toks:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < HH_CAPACITY:
                    counters[t] = 1
                else:
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
    yield pd.DataFrame({"word": list(counters.keys())})


@register(
    "heavy_hitters",
    oracle=f"""
WITH tok AS (SELECT unnest({duck_tokens('text')}) AS word FROM documents),
     tot AS (SELECT count(*) AS n_total FROM tok)
SELECT word,
       count(*) AS cnt,
       (SELECT n_total FROM tot) AS n_total
FROM tok
GROUP BY word
HAVING count(*) * {HH_CAPACITY} > (SELECT n_total FROM tot)
""",
    tags=("text", "heavy-hitters", "sketch", "llm-pipeline"),
    doc=(
        "EXACT frequent tokens (count strictly above N/"
        f"{HH_CAPACITY}) via two-phase distributed Misra-Gries — the "
        "scale-out alternative to shuffling every distinct token: "
        "phase 1 streams each partition once through a "
        f"{HH_CAPACITY}-counter MG summary (mapInPandas, zero exchanges) "
        "and emits a tiny candidate set; phase 2 broadcast-semi-joins the "
        "candidates into the exploded token stream and counts ONLY them "
        "— the single agg exchange carries candidate occurrences, not "
        "the full vocabulary. Correct by the MG pigeonhole: if "
        "count(t) > N/C then some partition has count_p(t) > n_p/C > "
        "n_p/(C+1), so t survives phase 1 in that partition; phase 2 "
        "counts are exact, so no false positives either. At 100 TB the "
        "vocabulary (URLs, ids, long-tail tokens) is the scale-killer in "
        "a naive wordcount-then-filter — this plan never shuffles it."
    ),
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(tokens("text").alias("toks"))
    cand = docs.mapInPandas(_mg_candidate_batches, "word string").distinct()
    words = docs.select(F.explode("toks").alias("word"))
    counts = (
        words.join(F.broadcast(cand), "word")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    tot = docs.select(F.size("toks").alias("n")).agg(
        F.sum("n").cast("long").alias("n_total")
    )
    return counts.crossJoin(F.broadcast(tot)).filter(
        F.col("cnt") * HH_CAPACITY > F.col("n_total")
    )


# ---------------------------------------------------------------------------
# vocabulary coverage curve (tokenizer budget planning)
# ---------------------------------------------------------------------------

VOCAB_KS = (5, 10, 20)  # vocabulary budgets to evaluate


@register(
    "vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT unnest({duck_tokens('text')}) AS word FROM documents),
cnts AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnts),
ranked AS (
  SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rn
  FROM cnts
)
SELECT k,
       CAST(count(*) AS BIGINT) AS n_vocab,
       (CAST(sum(r.cnt) AS BIGINT) * 1000000) // (SELECT total FROM tot)
         AS coverage_ppm
FROM (SELECT unnest(ARRAY{list(VOCAB_KS)}) AS k) ks
JOIN ranked r ON r.rn <= ks.k
GROUP BY k
""",
    tags=("text", "vocabulary", "llm-pipeline"),
    doc=(
        "Vocabulary-budget coverage curve: for each candidate vocab size "
        f"K in {VOCAB_KS}, the integer-ppm share of all token "
        "occurrences covered by the K most frequent tokens (ties broken "
        "on the token — the repo's unique-key ranking convention). The "
        "tokenizer-planning primitive: where this curve flattens is "
        "where a bigger vocab stops paying. Shuffle story: ONE "
        "partial-aggregated exchange for token counts; the top-K cut is "
        "TakeOrderedAndProject over the reduced vocab frame (never a "
        "global sort of the vocabulary), and the budget expansion "
        "cross-joins max(K) rows with a 3-row broadcast — at 100 TB "
        "only (word, count) pairs move, and only K of them reach the "
        "driver side of the plan."
    ),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnts = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    tot = cnts.agg(F.sum("cnt").cast("long").alias("total"))
    top = cnts.orderBy(F.col("cnt").desc(), F.col("word")).limit(max(VOCAB_KS))
    rn = F.row_number().over(W.orderBy(F.col("cnt").desc(), F.col("word")))
    ranked = top.withColumn("rn", rn)
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in VOCAB_KS])).alias("k")
    )
    return (
        ranked.join(F.broadcast(ks), ranked["rn"] <= ks["k"])
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_vocab"),
            F.sum("cnt").cast("long").alias("cov"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_vocab",
            F.expr("(cov * 1000000) div total").alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-pair training
# ---------------------------------------------------------------------------

BPE_ROUNDS = 6  # merge rules learned; each extra round is one driver-side pass


def _bpe_merge_col(syms, lhs: str, rhs: str):
    """Greedy left-to-right non-overlapping merge of the adjacent symbol
    pair (lhs, rhs) inside a symbol array, as a single sequential fold:
    if the accumulator's last symbol is lhs and the current is rhs,
    replace the last with lhs||rhs, else append. A left fold IS the
    greedy scan (a just-merged lhs||rhs can never equal lhs — symbols
    are non-empty — so no re-merge chain), and the identical fold runs
    on the oracle side via DuckDB list_reduce. Pair values enter as
    Column literals, never interpolated into SQL text, so arbitrary
    token bytes are safe."""
    la, lb, lab = F.lit(lhs), F.lit(rhs), F.lit(lhs + rhs)

    def step(acc, x):
        hit = (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb)
        return F.when(
            hit, F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lab))
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.expr("CAST(array() AS array<string>)"), step)


def _duck_bpe_ctes(rounds: int = BPE_ROUNDS) -> str:
    """The shared training-CTE chain of the unrolled DuckDB BPE twin:
    per round, pair counts over the current vocab (unnest of the
    adjacent-pair list), the (count DESC, lhs, rhs) argmax, and the
    list_reduce greedy merge — the same fold as _bpe_merge_col, with
    the chosen pair flowing in as LEFT JOIN ON TRUE columns so an
    exhausted round (no pairs anywhere) degrades to the identity
    rewrite on both engines. Pure code motion out of _duck_bpe_oracle
    (r13, to let bpe_apply's oracle extend the identical chain);
    bpe_train's generated oracle string is byte-identical to r12's
    (pinned by test_bpe_oracle_string_stable)."""
    sql = f"""WITH toks AS (SELECT unnest({duck_tokens('text')}) AS w FROM documents),
vocab0 AS (SELECT w, CAST(count(*) AS BIGINT) AS f,
  list_transform(range(1, len(w)+1), i -> w[i]) AS syms
  FROM toks GROUP BY w)"""
    for k in range(1, rounds + 1):
        p = k - 1
        sql += f""",
p{k} AS (SELECT u.pr.l AS l, u.pr.r AS r, CAST(sum(f) AS BIGINT) AS c
  FROM vocab{p}, unnest(list_transform(range(1, len(syms)),
    i -> struct_pack(l := syms[i], r := syms[i+1]))) AS u(pr)
  GROUP BY 1, 2),
b{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
vocab{k} AS (SELECT w, f, CASE WHEN b{k}.l IS NULL THEN syms ELSE
    list_reduce(list_transform(syms, e -> [e]),
      (acc, xs) -> CASE WHEN acc[-1] = b{k}.l AND xs[1] = b{k}.r
                   THEN list_append(acc[:len(acc)-1], b{k}.l || b{k}.r)
                   ELSE list_concat(acc, xs) END) END AS syms
  FROM vocab{p} LEFT JOIN b{k} ON TRUE)"""
    return sql


def _duck_bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    """bpe_train's oracle: the shared training chain, surfacing the per
    round argmax rows b1..bN as the learned merge-rule table."""
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS lhs, r AS rhs, l || r AS merged,"
        f" c AS pair_count FROM b{k}"
        for k in range(1, rounds + 1)
    )
    return _duck_bpe_ctes(rounds) + f"\nSELECT * FROM (\n{unions}\n)"


@register(
    "bpe_train",
    oracle=_duck_bpe_oracle(),
    tags=("text", "llm-pipeline", "iterative", "flagship"),
    doc=(
        "BPE tokenizer training — the classic iterative merge-pair "
        "algorithm (Sennrich et al. 2016) run the way SentencePiece/HF "
        "trainers actually run it at corpus scale: ONE Spark round — the "
        "corpus-scale wordcount shuffle collapses 100 TB of text into a "
        "vocab-sized (word, freq) table, collected to the driver (vocab "
        "grows sub-linearly with the corpus, Heaps' law). Every merge "
        "after that runs on the driver over that table with an "
        "incremental pair index (pair -> summed freq, pair -> words "
        "holding it): per round a (count DESC, lhs, rhs) argmax over the "
        "live pairs and a greedy left-to-right fold of only the words "
        "holding the chosen pair (the _bpe_merge_col fold), so per-round "
        "cost is independent of corpus size and of how many merges came "
        "before, and a k-merge run launches the same jobs for any k "
        "(flat-per-round probe and driver-memory ceiling: "
        "scripts/probe_bpe_rounds.py -> PERF.md). "
        "Tiebreak (count DESC, lhs, rhs) is "
        "total and counts are exact BIGINTs; the CONTRACT IS ASCII "
        "corpora (pinned by test_bpe_contract_corpora_are_ascii): on "
        "ASCII every symbol is one byte, so the driver's, Spark's and "
        "DuckDB's string "
        "comparison, indexing and length all coincide and every round's "
        "argmax and rewrite agrees bit-for-bit with the unrolled oracle "
        "(which re-derives its own argmax per round rather than "
        "trusting the engine's). Beyond ASCII the engines' collation "
        "and character-indexing rules can diverge (supplementary-plane "
        "code points vs U+E000-U+FFFF ordering; code-point vs grapheme "
        "slicing) — a collation-proof variant would order the tiebreak "
        "by the symbols' byte encodings on both sides. Output: the first "
        f"{BPE_ROUNDS} merge rules (step, lhs, rhs, merged, pair_count); "
        "later rules may merge earlier MERGED symbols (the fixture's "
        "round 6 merges 'm' with round 1's 'er'), pinning true "
        "iteration, not six independent top-pairs."
    ),
)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rules = _bpe_train_rules(docs)
    return spark.createDataFrame(
        rules, "step int, lhs string, rhs string, merged string, pair_count long"
    )


def _bpe_train_rules(
    docs: DataFrame, rounds: int = BPE_ROUNDS, on_round=None
) -> list[tuple]:
    """The BPE merge-rule trainer shared by bpe_train (the contract
    query, default rounds) and scripts/probe_bpe_rounds.py (the
    driver-phase scale probe). ONE Spark round: the corpus-scale
    tokenize + wordcount shuffle, collected as the vocab-sized (w, f)
    table; every merge after that runs on the driver (_bpe_learn).
    Returns [(step, lhs, rhs, merged, pair_count), ...]."""
    vocab = docs.select(F.explode(tokens("text")).alias("w")).groupBy("w").count()
    return _bpe_learn(vocab.collect(), rounds, on_round)


def _bpe_fold(syms: list[str], lhs: str, rhs: str) -> list[str]:
    """_bpe_merge_col's greedy left-to-right non-overlapping fold on a
    Python symbol list."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == lhs and x == rhs:
            out[-1] = lhs + rhs
        else:
            out.append(x)
    return out


def _bpe_learn(vocab, rounds: int = BPE_ROUNDS, on_round=None) -> list[tuple]:
    """Learn up to ``rounds`` merge rules from (word, freq) rows with an
    incremental pair index: pair -> summed freq, pair -> ids of the
    words holding it, and a heap keyed (-count, lhs, rhs) — Python's
    code-point str order is Spark's UTF-8 byte order. Each round pushes
    the new count of every pair whose count moved since the last round
    (live, count > 0, pairs only), skips heap entries whose count has
    since moved, and takes the top as the (count DESC, lhs, rhs) argmax;
    it stops when none is left. Only the words holding the chosen pair are
    re-folded, moving their freq from the old pairs to the new ones. A
    word id may linger under a pair it no longer holds; re-folding it
    then is the identity and nets to zero. ``on_round(step, seconds)``,
    when given, receives each round's wall time
    (scripts/probe_bpe_rounds.py -> PERF.md)."""
    words = [(list(w), f) for w, f in vocab]
    count: dict[tuple[str, str], int] = defaultdict(int)
    holders: dict[tuple[str, str], set[int]] = defaultdict(set)
    touched: dict[tuple[str, str], int] = {}  # pair -> count before
    heap: list[tuple[int, tuple[str, str]]] = []

    def tally(i: int, sign: int) -> None:
        syms, f = words[i]
        for pair in zip(syms, syms[1:]):
            touched.setdefault(pair, count[pair])
            count[pair] += sign * f
            if sign > 0:
                holders[pair].add(i)

    for i in range(len(words)):
        tally(i, 1)
    rules: list[tuple] = []
    for step in range(1, rounds + 1):
        t0 = time.perf_counter()
        for pair, before in touched.items():
            if count[pair] > 0 and count[pair] != before:
                heapq.heappush(heap, (-count[pair], pair))
        touched.clear()
        while heap and -heap[0][0] != count[heap[0][1]]:
            heapq.heappop(heap)
        if not heap:
            break
        neg, (lhs, rhs) = heapq.heappop(heap)
        rules.append((step, lhs, rhs, lhs + rhs, -neg))
        for i in holders.pop((lhs, rhs)):
            tally(i, -1)
            words[i] = (_bpe_fold(words[i][0], lhs, rhs), words[i][1])
            tally(i, 1)
        if on_round:
            on_round(step, time.perf_counter() - t0)
    return rules


# ---------------------------------------------------------------------------
# BPE merge-rule application (the serving half of bpe_train)
# ---------------------------------------------------------------------------

BPE_PREVIEW_K = 10  # leading BPE symbols surfaced per doc (sequence pin)


def _duck_bpe_apply_oracle(rounds: int = BPE_ROUNDS) -> str:
    """Unrolled DuckDB twin of bpe_apply: re-derive the merge rules with
    the SAME training chain as bpe_train (_duck_bpe_ctes — its own
    argmax per round, never trusting Spark's), then rewrite every token
    occurrence of every document through the same rounds of the
    list_reduce greedy fold, each round's pair flowing in as LEFT JOIN
    ON TRUE columns (an exhausted round degrades to the identity
    rewrite, exactly like the Spark side's missing fold layer). Docs
    whose text tokenizes to nothing never reach the per-token chain, so
    the final select LEFT JOINs back to documents and coalesces the
    counts to 0 / the preview to '' — matching Spark's fold-over-empty
    semantics. Integer sums are CAST to BIGINT (sum(BIGINT) widens to
    HUGEINT, which the driver's pandas fetch would coerce to float64)."""
    sql = _duck_bpe_ctes(rounds)
    sql += f""",
dtl AS (SELECT doc_id, {duck_tokens('text')} AS tl FROM documents),
a0 AS (SELECT doc_id, unnest(range(1, len(tl)+1)) AS tok_idx, unnest(tl) AS w
  FROM dtl),
s0 AS (SELECT doc_id, tok_idx, w,
  list_transform(range(1, len(w)+1), i -> w[i]) AS syms FROM a0)"""
    for k in range(1, rounds + 1):
        p = k - 1
        sql += f""",
s{k} AS (SELECT doc_id, tok_idx, w, CASE WHEN b{k}.l IS NULL THEN syms ELSE
    list_reduce(list_transform(syms, e -> [e]),
      (acc, xs) -> CASE WHEN acc[-1] = b{k}.l AND xs[1] = b{k}.r
                   THEN list_append(acc[:len(acc)-1], b{k}.l || b{k}.r)
                   ELSE list_concat(acc, xs) END) END AS syms
  FROM s{p} LEFT JOIN b{k} ON TRUE)"""
    sql += f""",
perdoc AS (SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(len(w)) AS BIGINT) AS n_chars_tok,
  CAST(sum(len(syms)) AS BIGINT) AS n_tokens_bpe,
  array_to_string(flatten(list(syms ORDER BY tok_idx))[:{BPE_PREVIEW_K}], ' ')
    AS preview_bpe
  FROM s{rounds} GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(p.n_words, 0) AS n_words,
  COALESCE(p.n_chars_tok, 0) AS n_chars_tok,
  COALESCE(p.n_tokens_bpe, 0) AS n_tokens_bpe,
  COALESCE(p.preview_bpe, '') AS preview_bpe
FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id"""
    return sql


@register(
    "bpe_apply",
    oracle=_duck_bpe_apply_oracle(),
    tags=("text", "llm-pipeline", "flagship"),
    doc=(
        "BPE tokenizer APPLICATION — the serving half of bpe_train, the "
        "same train->apply pairing as compact_plan->compact_apply: learn "
        f"the {BPE_ROUNDS} merge rules (bpe_train verbatim, rules "
        "bit-identical by its green gate), then encode EVERY document: "
        "whitespace-tokenize, split each token to character symbols, and "
        "replay the merge rules in training order as greedy left-to-right "
        "non-overlapping folds (_bpe_merge_col — the exact fold the "
        "trainer used, so apply(train(corpus)) reproduces the trained "
        "segmentation). Per doc: word count, summed token chars, the "
        "post-merge BPE token count (the number an LLM data pipeline "
        "budgets by), and the first "
        f"{BPE_PREVIEW_K} BPE symbols space-joined (pins real symbol "
        "SEQUENCES cross-engine, not just counts). Shuffle story: "
        "training reuses bpe_train's (ONE corpus wordcount exchange, "
        "then vocab-scale rounds); the learned rules return to the "
        "driver as a <=" f"{BPE_ROUNDS}-row scalar probe and enter "
        "application as column LITERALS — the broadcast of a vocab-scale "
        "merge table in its degenerate cheapest form (a real 30k-rule "
        "vocab would broadcast-join a rule table instead). Application "
        "itself is join-free and agg-free: scan documents -> one narrow "
        "Project evaluating tokenize + char-split + the rule folds per "
        "row, behind at most the ONE rebalance exchange of the SOURCE "
        "rows (r21, sources.rebalance_scan — a no-op on well-split "
        "sources; on the one-row-group fixture it spreads the "
        "registry's most CPU-dense per-row work across the cluster, "
        "measured 10-12s single-task -> 4.0s at sf0.1; plan-pinned by "
        "test_bpe_apply_is_narrow: no join/agg/sort/generate, ReadSchema "
        "doc_id+text only). At 100 TB the apply stage is "
        "embarrassingly parallel — per-task cost O(doc bytes x rules), "
        "no skew surface, no data-dependent shuffle — exactly how "
        "production tokenizer "
        "workers shard a corpus. Exactness: ASCII-corpus contract "
        "inherited from bpe_train (test_bpe_contract_corpora_are_ascii); "
        "counts are BIGINTs; the oracle re-derives its own rules with "
        "_duck_bpe_ctes rather than trusting the engine under test."
    ),
)
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = sorted(bpe_train(spark, sf_dir).collect(), key=lambda r: r["step"])

    def encode(w):
        syms = F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
        )
        for r in rules:
            syms = _bpe_merge_col(syms, r["lhs"], r["rhs"])
        return syms

    # r21: rebalance the scan (guide §2.6 / sources.rebalance_scan's own
    # charter) — the encode projection is the most CPU-dense per-row work
    # in the registry (char-split + rule folds per word), and the
    # single-row-group fixture otherwise runs ALL of it in ONE task
    # (measured at sf0.1, builder+noop incl. the eager training collect:
    # 10-12s single-task -> 4.0s best-of-3 across the cluster). At
    # 100 TB the source is well-split and this is a no-op;
    # the apply stage stays join-free/agg-free either way and the scan
    # still prunes to doc_id+text (plan pin updated accordingly).
    docs = rebalance_scan(load_table(spark, sf_dir, "documents"), spark)
    zero = F.lit(0).cast("long")
    return (
        docs.select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_words"),
            F.aggregate("toks", zero, lambda a, w: a + F.length(w)).alias(
                "n_chars_tok"
            ),
            F.transform("toks", encode).alias("enc"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars_tok",
            F.aggregate("enc", zero, lambda a, s: a + F.size(s)).alias(
                "n_tokens_bpe"
            ),
            F.array_join(F.slice(F.flatten("enc"), 1, BPE_PREVIEW_K), " ").alias(
                "preview_bpe"
            ),
        )
    )


# ---------------------------------------------------------------------------
# bigram language-model predictability scoring (landed r17 after an
# oracle differential on seeds 42 AND 99, a hand-checked micro-corpus
# and plan pins)
# ---------------------------------------------------------------------------

LM_BIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens('text')} AS t FROM documents
),
bg AS (
  SELECT doc_id, bgs.w1 AS w1, bgs.w2 AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
                          i -> {{'w1': t[i-1], 'w2': t[i]}})) AS bgs
    FROM toks WHERE len(t) >= 2
  )
),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab
      FROM (SELECT unnest(t) AS w FROM toks))
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       floor(CAST(CAST(sum(CAST(floor(
           (c2.c12 + 1) / CAST(c1.c1 + v.vocab AS DOUBLE) * 1000000 + 0.5
         ) AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) + 0.5) / 1000000
         AS avg_bigram_p
FROM bg b
JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
JOIN c1 ON b.w1 = c1.w1
CROSS JOIN v
GROUP BY b.doc_id
"""


@register(
    "lm_bigram_score",
    oracle=LM_BIGRAM_ORACLE,
    tags=("text", "llm-pipeline", "quality"),
    doc=(
        "Corpus-trained bigram-LM predictability score per document — the "
        "perplexity-filter quality signal of CCNet/Gopher-style pipelines, "
        "re-expressed without transcendentals so the fixed-point hash is "
        "exact. Tokens are the reference tokenizer (distwc.c:7-21 split + "
        "empty drop, shared with wordcount); for every document with >= 2 "
        "tokens, score = mean over its bigrams of the add-1-smoothed "
        "P(w2|w1) = (c(w1,w2)+1) / (c_ctx(w1)+V), with V the whole-corpus "
        "distinct-unigram vocabulary (1-token docs included, both engines). "
        "Exactness: each per-bigram probability is ONE IEEE double division "
        "of exact integers (< 2^53), correctly rounded on both engines, so "
        "floor(p*1e6+0.5) is bit-identical; the per-doc mean rides the "
        "fixed-point integer-sum convention. Mean PROBABILITY (not mean "
        "log-prob) precisely because Math.log/std::log are only ~1-ulp and "
        "could flip a boundary rounding. Shuffle story (100 TB): tokenize + "
        "bigram explode narrow; model = ONE corpus-scale keyed agg exchange "
        "on (w1,w2), map-side partials, AQE-REUSED (ReusedExchange, pinned) "
        "by the VOCAB-scale c_ctx re-agg (sum_w2 c12 — never a second "
        "corpus pass); "
        "scoring = two keyed joins against the vocab-sized model tables "
        "(AQE broadcasts when small) + a 1-row broadcast V; final mean ONE "
        "agg exchange on doc_id. THREE corpus passes total — model agg, "
        "scoring join, and the vocabulary distinct-agg (V's subtree is an "
        "independent scan+tokenize: its key is the unigram, so it cannot "
        "share the (w1,w2) exchange; counted honestly, and cheap — a "
        "count_distinct with map-side partials) — vs four with a direct "
        "GROUP BY w1 for c_ctx. Skew: stopword "
        "contexts are hot keys, but both model sides are PRE-AGGREGATED so "
        "the hot key carries one row per distinct bigram, not per "
        "occurrence; the occurrence-side fanout is per-document-partition, "
        "AQE skew-join splits if needed. Plan pins: no CartesianProduct; "
        "exactly one BroadcastNestedLoopJoin (the 1-row V attach); both "
        "model joins equi-joins (tests/test_text_lm.py)."
    ),
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("t"))
    # vocabulary over ALL tokens (1-token docs included), matching the
    # oracle's v CTE — computed BEFORE the >=2-token bigram filter
    v = toks.select(F.explode("t").alias("w")).agg(
        F.count_distinct("w").alias("vocab")
    )
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bgs"),
        )
        .select("doc_id", "bgs.w1", "bgs.w2")
        # semantically a no-op (tokens are non-null by construction) but
        # load-bearing for the plan: the inner joins below push
        # isnotnull(w1) AND isnotnull(w2) into THEIR c2 subtree while the
        # c1 re-agg's subtree only infers isnotnull(w1) — asymmetric
        # filters break canonical plan equality and AQE then runs the
        # corpus-scale (w1,w2) shuffle TWICE. With the filter explicit on
        # bg, both c2 subtrees canonicalize equal and the final plan
        # shows a ReusedExchange (pinned in tests/test_text_lm.py).
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # c_ctx(w1) = sum_w2 c(w1, w2): derive it from c2's vocab-sized
    # output instead of re-aggregating the corpus-scale bigram stream —
    # with the shared c2 exchange reused, the model build costs ONE
    # corpus pass instead of two (the oracle keeps the direct GROUP BY
    # w1 formulation, which is the stronger differential: independent
    # derivations must agree exactly)
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    p = (F.col("c12") + F.lit(1)) / (F.col("c1") + F.col("vocab")).cast("double")
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .withColumn("p_fx", F.floor(p * F.lit(1000000) + F.lit(0.5)).cast("long"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.floor(
                F.sum("p_fx").cast("double") / F.count("*") + F.lit(0.5)
            ) / F.lit(1000000)
        ).alias("avg_bigram_p"),
    )


# ---------------------------------------------------------------------------
# cross-corpus trigram novelty (landed r18 after an oracle differential
# on seeds 42 AND 1201, a hand-checked micro-corpus and plan pins;
# evidence in the r17 and r18 PERF.md entries)
# ---------------------------------------------------------------------------

DOC_NGRAM_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens('text')} AS t FROM documents
),
tri AS (
  -- the not-null predicate mirrors the builder's load-bearing (but
  -- semantically no-op) uniform filter below the distinct, so the two
  -- engines agree even on hypothetical null trigram components
  SELECT DISTINCT doc_id, tg.w1 AS w1, tg.w2 AS w2, tg.w3 AS w3 FROM (
    SELECT doc_id, unnest(list_transform(range(3, len(t) + 1),
                          i -> {{'w1': t[i-2], 'w2': t[i-1], 'w3': t[i]}})) AS tg
    FROM toks WHERE len(t) >= 3
  )
  WHERE tg.w1 IS NOT NULL AND tg.w2 IS NOT NULL AND tg.w3 IS NOT NULL
),
df AS (
  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS df
  FROM tri GROUP BY w1, w2, w3
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       floor(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS novel_frac
FROM tri t
JOIN df d ON t.w1 = d.w1 AND t.w2 = d.w2 AND t.w3 = d.w3
GROUP BY t.doc_id
"""


@register(
    "doc_ngram_novelty",
    oracle=DOC_NGRAM_NOVELTY_ORACLE,
    tags=("text", "dedup", "llm-pipeline"),
    doc=(
        "Per-document cross-corpus trigram novelty — the boilerplate/"
        "memorization diversity signal of training-data curation: the "
        "fraction of a document's DISTINCT word trigrams (reference "
        "tokenizer, distwc.c:7-21 split + empty drop) that appear in NO "
        "other document (document frequency 1 over the deduped per-doc "
        "trigram set). A low-novelty doc is assembled from phrases the "
        "corpus already has; a high-novelty doc contributes new text. "
        "Exact integer counting end-to-end; the one division rides the "
        "fixed-point convention (floor(frac*1e6+0.5)/1e6). Shuffle story "
        "(100 TB): trigram explode is narrow; per-doc DISTINCT is one "
        "exchange on (doc_id, trigram); the df table is ONE keyed re-agg "
        "of that distinct set (map-side partials — a hot boilerplate "
        "trigram carries one row per distinct doc, already deduped); the "
        "df join is an equi-join on the trigram key (AQE broadcasts when "
        "the df table is small, shuffles when vocab-scale); the final "
        "mean is one agg exchange on doc_id. ONE corpus scan total: "
        "every consumer (df and the scoring join) rides a ReusedExchange "
        "of the distinct aggregation — held BY CONSTRUCTION via the "
        "explicit uniform not-null filter below the distinct (the "
        "lm_bigram_score/source_divergence lesson; r18 ADVICE) and "
        "pinned on the EXECUTED plan in "
        "tests/test_text_lm.py. No all-pairs anywhere — novelty needs "
        "only per-trigram document frequency, never doc x doc comparison "
        "(no CartesianProduct / nested-loop join, pinned)."
    ),
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("t"))
    tri = (
        toks.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2,"
                    " element_at(t, i + 2) AS w3))"
                )
            ).alias("tg"),
        )
        .select("doc_id", "tg.w1", "tg.w2", "tg.w3")
        # Semantically a no-op (element_at over the valid 1..size(t)-2
        # range never yields null) but load-bearing for the plan, same
        # as lm_bigram_score/source_divergence: the scoring join infers
        # isnotnull(w1,w2,w3) into ITS subtrees while a bare df re-agg
        # infers nothing — explicit and uniform BELOW the distinct, both
        # consumers' subtrees canonicalize equal by construction and the
        # distinct exchange is reused regardless of which inferences a
        # given Spark/AQE version pushes (r18 ADVICE; previously the
        # reuse held only by symmetric-inference coincidence, pinned).
        .filter(
            F.col("w1").isNotNull()
            & F.col("w2").isNotNull()
            & F.col("w3").isNotNull()
        )
        .distinct()
    )
    df = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("df"))
    novel = F.sum(
        F.when(F.col("df") == 1, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    agg = (
        tri.join(df, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_trigrams"), novel.alias("n_novel"))
    )
    return agg.select(
        "doc_id",
        "n_trigrams",
        "n_novel",
        (
            F.floor(
                F.col("n_novel").cast("double") / F.col("n_trigrams")
                * F.lit(1000000) + F.lit(0.5)
            ) / F.lit(1000000)
        ).alias("novel_frac"),
    )


# ---------------------------------------------------------------------------
# per-source distribution divergence (landed r18; staged+validated r17 —
# same protocol and evidence as doc_ngram_novelty above)
# ---------------------------------------------------------------------------

# fx(x) must be the IDENTICAL formula everywhere it appears (present
# terms, qs_fx, qsum_fx) so the absent-word algebra cancels exactly.
_SD_FX = 1_000_000

SOURCE_DIVERGENCE_ORACLE = f"""
WITH tok AS (
  SELECT source, w FROM (
    SELECT source, unnest({duck_tokens('text')}) AS w
    FROM documents WHERE source IS NOT NULL
  ) WHERE w IS NOT NULL
),
sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, w
),
stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sw GROUP BY source),
wc AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sw),
qfx AS (
  SELECT CAST(sum(CAST(floor(CAST(cw AS DOUBLE) / n * {_SD_FX} + 0.5)
                       AS BIGINT)) AS BIGINT) AS qsum_fx
  FROM wc CROSS JOIN tot
),
per AS (
  SELECT s.source,
         CAST(sum(CAST(floor(abs(CAST(s.c AS DOUBLE) / t.ns
                                 - CAST(w.cw AS DOUBLE) / o.n)
                             * {_SD_FX} + 0.5) AS BIGINT)) AS BIGINT)
           AS present_fx,
         CAST(sum(CAST(floor(CAST(w.cw AS DOUBLE) / o.n * {_SD_FX} + 0.5)
                       AS BIGINT)) AS BIGINT) AS qs_fx
  FROM sw s
  JOIN stot t ON s.source = t.source
  JOIN wc w ON s.w = w.w
  CROSS JOIN tot o
  GROUP BY s.source
)
SELECT p.source, t.ns AS n_tokens,
       CAST(p.present_fx + (q.qsum_fx - p.qs_fx) AS DOUBLE) / {2 * _SD_FX}
         AS tv_distance
FROM per p
JOIN stot t ON p.source = t.source
CROSS JOIN qfx q
"""


@register(
    "source_divergence",
    oracle=SOURCE_DIVERGENCE_ORACLE,
    tags=("text", "mixture", "llm-pipeline"),
    doc=(
        "Per-source total-variation distance between the source's unigram "
        "distribution and the whole-corpus distribution: TV(p_s, q) = "
        "0.5 * sum_w |p_s(w) - q(w)| — the mixture-design / distribution-"
        "shift signal (which sources differ most from the corpus they're "
        "blended into; DoReMi-style reweighting starts from exactly this "
        "table). Deliberately TV, not KL: KL needs log, whose last ulp "
        "differs across engines; each TV term is correctly-rounded IEEE "
        "divisions/subtractions of exact integers, fixed-pointed per term "
        "(the fx formula is IDENTICAL everywhere it appears) and integer-"
        "summed. Absent-word terms (w in corpus, not in s: |0-q(w)| = "
        "q(w)) are handled WITHOUT materializing source x vocab: sum over "
        "absent = qsum_fx - qs_fx with the same per-term fx on both "
        "engines. Shuffle story (100 TB): token explode narrow; ONE "
        "corpus-scale keyed agg exchange on (source, w); stot / wc / tot "
        "are RE-AGGREGATIONS of that pre-aggregated table (map-side "
        "partials, never a second pass over raw tokens) — the explicit "
        "uniform not-null filter below the agg keeps all four consumer "
        "subtrees canonically equal so AQE reuses ONE exchange (the r17 "
        "lm_bigram_score lesson applied BY CONSTRUCTION; single corpus "
        "scan pinned on the EXECUTED plan in tests/test_text_lm.py); the "
        "scoring join is keyed on w against the vocab-sized wc (AQE "
        "broadcasts when small) plus a handful-of-rows stot join and two "
        "1-row broadcasts (tot, qsum). Skew: stopword rows are already "
        "collapsed to one row per (source, w) before any join. Output is "
        "one row per source."
    ),
)
def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # The not-null filter is semantically a no-op on real data (tokens
    # are non-null by construction; a null source would be excluded by
    # the inner joins below on BOTH engines anyway — and the oracle's
    # tok CTE carries the same WHERE so the corpus totals agree even on
    # hypothetical null-source rows). It is load-bearing for the plan:
    # the joins infer isnotnull(source)/isnotnull(w) into SOME of sw's
    # four consumer subtrees but not others (wc/tot see no keys), which
    # breaks canonical equality and makes AQE re-run the corpus-scale
    # (source, w) aggregation. Explicit and uniform, all four consumers
    # reuse ONE exchange — a single corpus pass (pinned).
    tok = d.select("source", F.explode(tokens("text")).alias("w")).filter(
        F.col("source").isNotNull() & F.col("w").isNotNull()
    )
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("ns"))
    wc = sw.groupBy("w").agg(F.sum("c").alias("cw"))
    tot = sw.agg(F.sum("c").alias("n"))

    def fx(col):
        return F.floor(col * F.lit(_SD_FX) + F.lit(0.5)).cast("long")

    qv = F.col("cw").cast("double") / F.col("n")
    qfx = (
        wc.crossJoin(F.broadcast(tot)).agg(F.sum(fx(qv)).alias("qsum_fx"))
    )
    per = (
        sw.join(stot, ["source"])
        .join(wc, ["w"])
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                fx(F.abs(F.col("c").cast("double") / F.col("ns") - qv))
            ).alias("present_fx"),
            F.sum(fx(qv)).alias("qs_fx"),
        )
    )
    return (
        per.join(stot, ["source"])
        .crossJoin(F.broadcast(qfx))
        .select(
            "source",
            F.col("ns").alias("n_tokens"),
            (
                (
                    F.col("present_fx")
                    + (F.col("qsum_fx") - F.col("qs_fx"))
                ).cast("double") / F.lit(2 * _SD_FX)
            ).alias("tv_distance"),
        )
    )
