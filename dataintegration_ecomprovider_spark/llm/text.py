"""Text analysis operators for training-data curation (BASELINE north star).

All pure built-in column expressions (whole-stage codegen; no UDFs):
language-ID by marker-word heuristic, quality scoring (length / word /
stopword ratios), whitespace+regex token counting, and a polynomial
rolling-hash fingerprint.  Each has an exact DuckDB-SQL equivalent so the
oracle can hash-check the results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "and", "of", "to")

# marker words per language for the heuristic language-ID (checked in order)
LANG_MARKERS = (("en", " the "), ("es", " el "), ("fr", " le "), ("de", " der "))


def word_array(text: Column) -> Column:
    # [ \t\n\r\f]+ not \s+: Java \s includes \x0B, the DuckDB oracles'
    # RE2 \s does not (see llm/bpe.word_tokens)
    return F.split(F.trim(text), r"[ \t\n\r\f]+")


def n_words(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(word_array(text))
    ).cast("bigint")


def stopword_count(text: Column) -> Column:
    words = word_array(F.lower(text))
    return F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("bigint")


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring features: lengths, word stats, stopword ratio."""
    nw = n_words(text)
    return {
        "char_len": F.length(text).cast("bigint"),
        "word_count": nw,
        "avg_word_len": F.round(
            F.length(F.regexp_replace(text, r"[ \t\n\r\f]+", "")) / F.greatest(nw, F.lit(1)), 6
        ),
        "stopword_ratio": F.round(stopword_count(text) / F.greatest(nw, F.lit(1)), 6),
    }


# GPT-2-style pretokenizer shape: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs.  Kept to constructs whose
# semantics agree between Java regex (Spark) and DuckDB's RE2 so the oracle
# can count with the same pattern.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: number of pretokenizer matches — the cheap
    engine-side estimate of LLM token usage (a real tokenizer would be a
    pandas_udf over the same column; the counting surface is identical)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("bigint")


def lang_guess(text: Column) -> Column:
    """Marker-word language ID: first language whose marker appears.  A
    deterministic n-gram-style heuristic (real model would be a pandas_udf;
    the decision logic is the engine surface being tested)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    expr = F.lit("und")
    for lang, marker in reversed(LANG_MARKERS):
        expr = F.when(padded.contains(marker), F.lit(lang)).otherwise(expr)
    return expr


def rolling_fingerprint(text: Column, mod: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling-hash fingerprint over characters:
    h = (h*base + ascii(c)) mod m.  Bounded intermediate (< 2^63) so the
    same integer arithmetic is expressible in DuckDB for the oracle.

    Characters come from split-on-empty-pattern (one array materialization)
    rather than per-index substr over a sequence — same values, measured
    ~6x faster at sf0.1 (the substr form re-slices the string per element
    inside the interpreted HOF)."""
    chars = F.transform(F.split(text, ""), lambda c: F.ascii(c))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % F.lit(mod).cast("long"),
    )
