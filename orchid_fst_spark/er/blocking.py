"""Blocking stage: key normalization + candidate-pair generation.

The reference's fuzzy query with a pinned prefix (``samePrefixLen``,
fst.cpp:530-553) *is* a blocking key: only keys sharing the prefix are
compared.  At web scale a single prefix block is both too coarse (hot
hosts) and too brittle (typos in the first chars escape the block), so
the default candidate generator is segment/pigeonhole blocking
(operators/passjoin): every key within Levenshtein distance k <= 2 of
another on its first ``max_len`` chars shares one exactly-matching
segment, found by a plain equi-join on O(1) signature rows per key (an
OSA transposition is two such edits, so the pigeonhole has holes, see
``candidate_pairs``); deletion-neighborhood signatures
(operators/dictionary.variant_sigs) remain as the high-precision option
for short keys.  Both run through the one edit-distance self-join,
``operators.dictionary.fuzzy_self_pairs``.

Skew design (the story the reference never needed, SURVEY.md §7.4):
explicit per-signature frequency caps bound the quadratic blow-up of
degenerate blocks and are *observable* via the metrics tables, never
silent; AQE's skew-join splits oversized-but-legitimate join partitions
at runtime.  Salting is deliberately NOT used for candidate generation —
salting a hot signature group would require cross-salt-bucket joins to
stay complete (defeating the point); capping + AQE is the correct
mechanism when in-group pair completeness matters.

All plan-side logic is Catalyst expressions; Python appears only in the
Arrow-batched OSA verify over near-pairs that survive the JVM banded
Levenshtein prefilter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.normalize import HOST_RE, norm_key
from ..operators.dictionary import fuzzy_self_pairs

# path (title) part of a URL: everything between host and ?/#
PATH_RE = "^[a-z][a-z0-9+.-]*://[^/?#]+/([^?#]*)"
TITLE_RE = "<title>([^<]*)</title>"


def normalize_pages(pages: DataFrame, use_html_title: bool = False) -> DataFrame:
    """Add ``host``, ``title_key`` and the blocking ``norm_key`` (host +
    '/' + normalized title).  ``text`` is carried through untouched
    (byte-identical invariant).  Pure Catalyst — inlines into the scan."""
    host = F.regexp_extract("url", HOST_RE, 1)
    if use_html_title:
        title = F.regexp_extract(F.col("html").cast("string"), TITLE_RE, 1)
        title = F.when(F.length(title) > 0, title).otherwise(
            F.regexp_extract("url", PATH_RE, 1)
        )
    else:
        title = F.regexp_extract("url", PATH_RE, 1)
    return (
        pages.withColumn("host", F.lower(host))
        .withColumn("title_key", norm_key(title))
        .withColumn("norm_key", F.concat_ws("/", F.lower(host), norm_key(title)))
    )


def candidate_pairs(
    normalized: DataFrame,
    k: int = 2,
    max_len: int = 96,
    sig_cap: int = 1000,
    damerau: bool = True,
    algo: str = "passjoin",
) -> DataFrame:
    """Distinct norm_key pairs within edit distance k: ``fuzzy_self_pairs``
    over the non-empty ``norm_key`` values.

    Plan: distinct keys -> signature explode (JVM-side) -> equi-join /
    in-group pair explode over 8-byte key ids -> distinct id pairs ->
    id->key join-back -> vectorized banded-DP verify.

    ``algo`` picks the blocking signature family:
      'passjoin'  segment/pigeonhole blocking (operators/passjoin):
                  ~40 signature rows per key *independent of key
                  length* — the default and the scheme that survives
                  10^12 long web keys.
      'deletes'   full-key deletion-neighborhood signatures
                  (dictionary.variant_sigs): O(len²) rows/key but the
                  tightest precision; right for short keys (word
                  dictionaries).
    A k beyond a family's ceiling warns and reroutes (see
    ``fuzzy_self_pairs``); any other name is a ValueError.  Neither
    family is complete for every pair within k: see the completeness
    note of ``fuzzy_self_pairs`` (the default, 'passjoin' with
    ``damerau``, misses OSA pairs whose transpositions straddle segment
    boundaries).

    ``sig_cap`` drops signatures shared by more than cap keys (a
    degenerate block would contribute O(cap²) pairs).  Returns
    (key_a, key_b, dist) over *keys*; join back to urls downstream so the
    quadratic work happens on distinct keys, not urls.
    """
    return fuzzy_self_pairs(
        normalized.filter(F.length("norm_key") > 0),
        "norm_key",
        k=k,
        damerau=damerau,
        max_len=max_len,
        sig_cap=sig_cap,
        algo=algo,
    )

