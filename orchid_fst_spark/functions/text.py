"""Text-analysis column expressions for training-data pipelines.

All pure Catalyst (JVM codegen, no Python): language-ID by stopword-hit
ratio, whitespace token counting, PII pattern counting/redaction, and
document fingerprinting.  Each has an exact DuckDB-SQL twin in the
oracle layer.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .normalize import tokens

# tiny, deterministic stopword inventories (top function words)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}

# BPE-ish token regex: word pieces, numbers, or single non-space symbols
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def stopword_ratio(col, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_id(col) -> Column:
    """Heuristic language ID: argmax stopword-hit ratio over the
    inventories; 'und' when no stopword hits at all."""
    ratios = {lg: stopword_ratio(col, lg) for lg in STOPWORDS}
    best_lang = F.lit("und")
    best_ratio = F.lit(0.0)
    for lg in sorted(STOPWORDS):  # deterministic tie-break: first lang code wins
        r = ratios[lg]
        is_better = r > best_ratio
        best_lang = F.when(is_better, F.lit(lg)).otherwise(best_lang)
        best_ratio = F.when(is_better, r).otherwise(best_ratio)
    return best_lang


# punctuation class shared with the DuckDB oracle SQL (kept quote-free so
# the SQL literal needs no escaping) — change both or neither
PUNCT_CLASS = "[^.,;:!?()-]"


# PII-ish patterns shared with the DuckDB oracle SQL (kept inside the
# Java∩RE2 common dialect: no backreferences, no lookaround — change
# both engines or neither)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^\\s]+"
IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


def pattern_count(col, regex: str) -> Column:
    """Occurrences of ``regex`` in the column (0 for empty/NULL-free
    rows) — JVM ``regexp_count``, codegen'd, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(regex))


def redact(col, regex: str, token: str = "<redacted>") -> Column:
    """Replace every match of ``regex`` with ``token`` (global, same as
    DuckDB ``regexp_replace(..., 'g')``).  ``token`` must not contain
    ``$`` (Java replacement backreference syntax)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, regex, token)


def scrub_pii(col, token: str = "<redacted>") -> Column:
    """Chain-redact emails, then URLs, then IPv4 literals.  Order
    matters and is part of the contract (an email inside a URL is
    redacted by the URL pass only if the email pass left it intact);
    the DuckDB oracle applies the same three passes in the same
    order."""
    c = F.col(col) if isinstance(col, str) else col
    return redact(redact(redact(c, EMAIL_RE, token), URL_RE, token), IPV4_RE, token)


def fingerprint(col) -> Column:
    """Order/duplication-insensitive document fingerprint: md5 of the
    sorted distinct lowercase tokens (OpenRefine-style key collision
    fingerprint) — a deterministic cluster key for near-identical docs."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_sort(F.array_distinct(tokens(F.lower(c))))
    return F.md5(F.array_join(toks, " "))
