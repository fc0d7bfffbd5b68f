"""Key-normalization expressions — pure Catalyst (JVM, codegen'd).

The reference sorts/keys on *trimmed* lines (large_file_sorter.cpp:329)
and handles text at UTF-8 character granularity (utf8_util.cpp:78-90).
Here normalization is a column expression so it inlines into the scan
stage; the raw ``text`` column is NEVER routed through any of these
(byte-identical pass-through invariant, BASELINE.json input_hint).

Every expression here has an exact ANSI-SQL twin used in the DuckDB
oracles (``oracle_sql``) — keep them in sync.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# regex shared with the DuckDB oracle SQL — change both or neither
HOST_RE = "^[a-z][a-z0-9+.-]*://([^/?#]+)"


def norm_key(col) -> Column:
    """lower + trim + collapse internal whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def url_host(col) -> Column:
    """Host part of a URL via regexp (portable to the DuckDB oracle;
    Spark's parse_url is not available in DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, HOST_RE, 1)


# tracking query parameters stripped by canonical_url — shared with the
# DuckDB oracle twin (change both or neither)
TRACKING_PARAM_RE = "&(utm_[a-z0-9_]+|fbclid|gclid)=[^&]*"


def canonical_url(col) -> Column:
    """Canonical form of a URL for crawl-level dedup: lower-cased,
    fragment stripped, scheme and leading ``www.`` dropped, tracking
    query parameters (``utm_*``, ``fbclid``, ``gclid``) removed, and
    any trailing slash trimmed.  Two pages that differ only in these
    presentational details collapse to one canonical key.

    Pure Catalyst regexp chain in the Java∩RE2 common dialect (no
    backreferences, no lookaround), so the DuckDB oracle applies the
    byte-identical patterns (with the ``'g'`` flag — DuckDB's
    ``regexp_replace`` is first-match-only by default, Spark's is
    global).  The parameter surgery unifies ``?``/``&`` separators
    first, strips tracking params, then restores the first separator —
    avoiding the classic "``?utm_x=1&real=2`` leaves ``&real=2``
    dangling" bug.  Ports and percent-encoding normalization are out of
    scope (documented).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(F.trim(c))
    c = F.regexp_replace(c, "#.*$", "")
    c = F.regexp_replace(c, "^[a-z][a-z0-9+.-]*://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"\?", "&")
    c = F.regexp_replace(c, TRACKING_PARAM_RE, "")
    path = F.regexp_extract(c, "^[^&]*", 0)
    rest = F.substring(c, F.length(path) + 2, F.lit(1 << 30))
    c = F.concat(
        path, F.when(rest == "", "").otherwise(F.concat(F.lit("?"), rest))
    )
    c = F.regexp_replace(c, r"/\?", "?")
    return F.regexp_replace(c, "/$", "")


def tokens(col) -> Column:
    """Whitespace tokens of a normalized string (empty strings removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


# letter -> Soundex digit map, aligned to 'abcdefghijklmnopqrstuvwxyz'
# (vowels + h/w/y -> 0, the six consonant classes -> 1..6)
_SOUNDEX_DIGITS = "01230120022455012623010202"


def phonetic_key(col) -> Column:
    """Simplified Soundex phonetic code (Knuth TAOCP vol. 3 variant
    WITHOUT the h/w-separator rule): uppercase first letter + the first
    three consonant-class digits after collapsing adjacent runs and
    dropping vowel-class zeros, zero-padded — 'robert'/'rupert' ->
    'R163', 'tymczak' -> 'T522'.  Keys with no ASCII letters code to
    the empty string (exclude them from phonetic blocks).

    Pure JVM string expressions (lower/regexp/translate/rpad — inside
    whole-stage codegen, no Python), and every step has an identical
    DuckDB spelling, so phonetic blocks are oracle-checkable.  The
    collapse step is one regexp per digit class because RE2 (DuckDB)
    has no backreferences; 7 chained constant regexes fold into one
    codegen stage.
    """
    c = F.col(col) if isinstance(col, str) else col
    letters = F.regexp_replace(F.lower(c), "[^a-z]", "")
    digits = F.translate(letters, "abcdefghijklmnopqrstuvwxyz", _SOUNDEX_DIGITS)
    for d in "0123456":
        digits = F.regexp_replace(digits, d + "+", d)
    tail = F.translate(F.substring(digits, 2, 1 << 30), "0", "")
    return F.when(letters == "", F.lit("")).otherwise(
        F.concat(
            F.upper(F.substring(letters, 1, 1)),
            F.rpad(F.substring(tail, 1, 3), 3, "0"),
        )
    )
