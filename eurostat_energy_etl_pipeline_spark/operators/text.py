"""Text analysis operators: tokenization, language ID, quality scoring,
fingerprinting. Everything here is built-in column expressions (whole-stage
codegen, no Python in the hot path); the regex subset used is common to Java
regex (Spark) and RE2 (DuckDB) so the oracle can mirror semantics exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish word/number/punctuation splitter, engine-portable subset.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Marker stopwords per language for the n-gram-free heuristic language ID.
# Deterministic and tiny by design — constant-folded into the plan.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to", "in", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour"],
    "zh": ["的", "是", "了", "在", "我", "有", "他", "这"],
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "for", "on", "as", "are", "it"]


def whitespace_tokens(col: Column) -> Column:
    """Lowercased whitespace tokens, empty-safe (no '' token for '')."""
    return F.split(F.trim(F.lower(col)), "\\s+")


# Java's \s: ASCII whitespace only (Python's \s also matches \xa0, \x1c-\x1f
# and the other Unicode spaces).
_JAVA_SPACE = re.compile("[ \t\n\x0b\f\r]+")


def split_whitespace(text: str) -> list[str]:
    """Driver-side twin of `whitespace_tokens` for one short string (a
    search query): Spark's `trim` strips only ' ' and its split regex is
    Java's ASCII `\\s`, so `str.strip()` / `re`'s Unicode `\\s` would
    tokenize some strings differently from the corpus side."""
    return _JAVA_SPACE.split(text.lower().strip(" "))


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for blank text."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(
        F.size(whitespace_tokens(col))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / single symbols) —
    a cheap, deterministic proxy for LLM token budgeting."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def _marker_score(tokens: Column, markers: list[str]) -> Column:
    """How many tokens are in the marker list (multiset count)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: marker-stopword hit counts per language,
    argmax with a fixed priority order (en > de > es > fr > zh) for ties;
    'und' when nothing matches. Pure expressions -> runs in codegen."""
    toks = whitespace_tokens(col)
    scores = {lang: _marker_score(toks, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    out = F.when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = tie-break priority
        out = out.when(scores[lang] == best, F.lit(lang))
    return out.otherwise(F.lit("und"))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are sentence punctuation."""
    n = F.length(col)
    punct = F.length(F.regexp_replace(col, "[^.!?,;:]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = whitespace_tokens(col)
    n = token_count(col)
    return F.when(
        n > 0, _marker_score(toks, ENGLISH_STOPWORDS).cast("double") / n
    ).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards
    mid-length documents, penalizes punctuation soup, rewards a natural
    stopword rate. Deterministic arithmetic only (oracle-mirrorable)."""
    n = F.length(col).cast("double")
    length_score = F.least(n / 500.0, F.lit(1.0))
    punct_pen = F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop = stopword_ratio(col)
    stop_score = F.least(stop * 4.0, F.lit(1.0))
    return length_score * 0.5 + stop_score * 0.3 + (1.0 - punct_pen) * 0.2


def fingerprint(col: Column) -> Column:
    """Normalization fingerprint: md5 of lowercase, whitespace-collapsed,
    trimmed text — the classic near-exact dedup key (catches rows that
    differ only in spacing/case)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), "\\s+", " ")))


_ROLL_MOD = (1 << 31) - 1  # Mersenne prime: keeps acc*base below 2^62 (ANSI-safe)


def _rolling_lane(toks: Column, base: int, seed: int) -> Column:
    """One 31-bit polynomial-rolling-hash lane:
    h = (h * base + hash31(token)) mod (2^31 - 1). Every intermediate stays
    under 2^52, so the fold never overflows int64 under ANSI mode."""
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(base).cast("long")
            + F.shiftrightunsigned(F.xxhash64(t, F.lit(seed)), 33),
            F.lit(_ROLL_MOD).cast("long"),
        ),
    )


def rolling_hash(col: Column, base: int = 1000003) -> Column:
    """Order-sensitive polynomial rolling hash over whitespace tokens
    (content-defined fingerprint; Spark-side only — uses xxhash64).
    Two independent 31-bit modular lanes packed into one 62-bit long —
    int64-overflow-free under ANSI mode, birthday-safe to ~2^31 docs."""
    toks = whitespace_tokens(col)
    return _rolling_lane(toks, base, 0) * F.lit(1 << 31).cast("long") + _rolling_lane(
        toks, base, 1
    )


# PII-ish patterns, engine-portable regex subset (Java regex ∩ RE2 — no
# backrefs, no lookaround). Non-overlapping leftmost-longest extraction is
# identical in both engines, so counts are oracle-mirrorable exactly.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_PATTERN = "https?://[^\\s]+"
NUMSEQ_PATTERN = "[0-9]{2,}"  # digit runs: ids, phones, card fragments


def pattern_count(col: Column, pattern: str) -> Column:
    """Non-overlapping match count of `pattern` (JVM regexp_count — codegen,
    no Python)."""
    return F.regexp_count(col, F.lit(pattern))


def redact_pii(col: Column) -> Column:
    """Replace emails/URLs/digit-runs with typed placeholders — the
    write-side scrub of a PII pipeline. Order matters: emails before digit
    runs (an email may contain digits), URLs before digit runs likewise."""
    out = F.regexp_replace(col, EMAIL_PATTERN, "[EMAIL]")
    out = F.regexp_replace(out, URL_PATTERN, "[URL]")
    return F.regexp_replace(out, NUMSEQ_PATTERN, "[NUM]")
