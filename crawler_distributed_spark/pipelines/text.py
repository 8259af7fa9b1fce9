"""Text-analysis operators for training-data pipelines.

All pure Column expressions (codegen, no Python): language-ID by n-gram
heuristic, quality scoring, token counting (whitespace + BPE-ish regex),
and rolling-hash document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword signatures for the n-gram/stopword heuristic;
# deterministic, no model download. Extend per corpus as needed.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "es"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "les", "est"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), r"\s+"))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximating count: words + punctuation marks counted
    separately (a cheap, deterministic proxy for subword counts)."""
    words = F.size(F.split(F.trim(text), r"\s+"))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?()\[\]{}\"']", ""))
    longs = F.size(F.filter(F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 8))
    return words + punct + longs  # long words split ~once under BPE


def lang_guess(text: Column) -> Column:
    """Arg-max language guess over the marker scores ('und' when no hits)."""
    toks = F.split(F.lower(text), r"\s+")
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, markers in _LANG_MARKERS.items():
        score = F.size(F.filter(toks, lambda w: w.isin(markers)))
        improved = score > best_score
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improved, score).otherwise(best_score)
    return best_lang


def quality_struct(text: Column) -> Column:
    """Quality scoring: length, punct/upper/digit ratios, mean word length,
    stopword ratio — the usual pretraining-filter signals."""
    n = F.greatest(F.length(text), F.lit(1))
    toks = F.split(F.trim(text), r"\s+")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    stop = F.size(
        F.filter(F.transform(toks, F.lower), lambda w: w.isin(
            ["the", "and", "of", "is", "a", "to", "in", "it"]
        ))
    )
    return F.struct(
        F.length(text).alias("chars"),
        F.size(toks).alias("tokens"),
        F.round(punct / n, 4).alias("punct_ratio"),
        F.round(upper / n, 4).alias("upper_ratio"),
        F.round(digit / n, 4).alias("digit_ratio"),
        F.round((n - F.size(toks)) / n_tok, 2).alias("mean_word_len"),
        F.round(stop / n_tok, 4).alias("stopword_ratio"),
    )


def doc_fingerprint(text: Column, prefix: int = 64) -> Column:
    """Stable document fingerprint: xxhash64 over the case/space-normalized
    prefix (rolling-hash analog, one pass)."""
    norm = F.regexp_replace(F.lower(F.substring(text, 1, prefix)), r"\s+", " ")
    return F.xxhash64(norm)
