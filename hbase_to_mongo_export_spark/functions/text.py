"""Text-analysis functions for the training-data pipeline surface.

All hot-path functions are built-in column expressions (JVM-side, inside
whole-stage codegen) — no Python in the loop. Each has a DuckDB-SQL
equivalent used by the correctness oracle, so the two engines' semantics
are pinned against each other:

- token_count        — whitespace tokenization
- bpe_token_estimate — BPE-ish regex token count (words + punctuation)
- punct_ratio / digit_ratio / mean_word_len — quality signals
- stopword_ratio     — per-language stopword hit ratio
- quality_score      — composite [0,1] heuristic
- lang_id            — n-gram/stopword-count heuristic language guess
- fingerprint        — md5 of whitespace-normalized lowercased text
                       (document identity for exact dedup)

At 100 TB these are pure narrow projections: no shuffle, no UDF, fully
pushdown/prune friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the heuristic language ID.
# Deliberately small + deterministic; real deployments plug in fastText etc.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "und", "das", "ein"],
}

BPE_TOKEN_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty string ⇒ empty array)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_estimate(text: Column) -> Column:
    """Count of word/punctuation chunks — a cheap BPE-ish token estimate."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_REGEX), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^.,;:!?]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped) / F.length(text)
    )


def digit_ratio(text: Column) -> Column:
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(text, r"[^0-9]", "")) / F.length(text)
    )


def mean_word_len(text: Column) -> Column:
    tok = tokens(text)
    total = F.aggregate(
        F.transform(tok, lambda w: F.length(w)), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(tok) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(tok)
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens (lowercased) that are stopwords of ``lang``."""
    words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    low = F.transform(tokens(text), lambda w: F.lower(w))
    return F.size(F.filter(low, lambda w: F.array_contains(words, w)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    tok = tokens(text)
    return F.when(F.size(tok) == 0, F.lit(0.0)).otherwise(
        stopword_hits(text, lang).cast("double") / F.size(tok)
    )


def lang_id(text: Column) -> Column:
    """Heuristic language guess: argmax of per-language stopword hits,
    'und' (undetermined) when no stopword matches at all. Ties break by
    language-code order (deterministic)."""
    langs = sorted(LANG_STOPWORDS)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # Fold from lowest-priority (last alphabetically) to highest; '>=' lets
    # later (higher-priority) languages take ties, and the h>0 guard keeps
    # 'und' for zero-hit text.
    for lg in reversed(langs):
        h = stopword_hits(text, lg)
        take = (h >= best_hits) & (h > 0)
        best_lang = F.when(take, F.lit(lg)).otherwise(best_lang)
        best_hits = F.when(take, h).otherwise(best_hits)
    return best_lang


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards stopword presence and
    moderate word length, penalizes punctuation/digit noise."""
    sw = stopword_ratio(text)
    wl = mean_word_len(text)
    wl_term = F.lit(1.0) - F.least(F.abs(wl - F.lit(5.0)) / F.lit(5.0), F.lit(1.0))
    noise = F.least(punct_ratio(text) + digit_ratio(text), F.lit(1.0))
    score = (
        F.lit(0.4) * F.least(sw * F.lit(4.0), F.lit(1.0))
        + F.lit(0.4) * wl_term
        + F.lit(0.2) * (F.lit(1.0) - noise)
    )
    return F.round(score, 6)


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of lowercased, whitespace-collapsed
    text. md5 (not xxhash) so DuckDB can reproduce it bit-for-bit."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)
