"""PassJoin-style segment blocking for edit-distance self-join at scale.

The deletion-neighborhood scheme (dictionary.variant_sigs) emits
O(len²) signatures per key at k=2 — ~1,300 rows for a 50-char web key,
which is the shuffle that dies first at 10^12 keys.  This module
implements the segment/pigeonhole alternative (the PassJoin family,
Li/Deng/Feng, VLDB 2011 — public algorithm, re-derived here),
generalized to any k (pigeonhole with n = k+1 segments; the engine
exposes k <= MAX_K = 8, covering the useful join range of the
reference CLI's ``-d`` option, fst_cmd.cpp:103-111; joins beyond that
fall back to the length-banded path in dictionary.fuzzy_join):

Cost model (per key, at blocking level kb = max(k, 2), n = kb + 1):
  index rows  = n                  (one per segment) + short band
  probe rows  = O(n · kb)          (for each of <= kb+1 partner lengths
                                    and n segments, a shift window of
                                    width <= kb+1; the position-aware
                                    bound below keeps the constant ~1/2)
  short band  = keys of length <= 2·kb + 2 are pair-verified brute-force
                within one bucket (subject to sig_cap).
So signature volume grows O(k²)/key — at k=8 that's ~120 probe rows
per key, still independent of key length (vs O(len²·len^k) for
deletion neighborhoods), but segments shrink to len/9 chars: for a
word dictionary most keys land in the short band, while long web keys
(URLs, titles) keep useful segment selectivity.  That trade is why the
ceiling sits at 8, not 100.

  Split every key into n = k+1 contiguous segments (even partition,
  remainder chars to the trailing segments).  For a pair (s, t) with
  ed(s, t) <= k and len(s) <= len(t), assign each edit to the segment of
  s it touches (substitutions/deletions mark a char, insertions the
  segment whose span they fall in).  With <= k edits over k+1 segments,
  some segment has none — so it maps *contiguously and unedited* into t,
  starting within a bounded shift of its position in s (net shift of
  preceding edits).  Hence an exact equi-join finds every pair:

    index side:  each key of length l emits its n segments
                 (i, l, content) — n rows/key.
    probe side:  each key of length m emits, for every partner length
                 l in [m-k, m] and segment i, the substrings of
                 length len_i(l) starting within the shift window of
                 p_i(l) — O(n·k²) rows/key, independent of len.

  The argument counts Levenshtein edits on the first ``max_len`` chars,
  and two holes follow.  An OSA transposition is two Levenshtein edits,
  so under ``damerau`` two transpositions that straddle segment
  boundaries edit all k+1 segments and the pair is never a candidate
  (abc|def|ghi vs abd|ceg|fhi).  And keys longer than ``max_len`` are
  segmented after truncation, so a pair within k whose truncated
  prefixes are further apart (an insertion near the front shifts the
  cut tail) is missed too.

  Keys shorter than n chars can't carry n segments; they fall into a
  single "short band" bucket (their partners are all short too, also
  banded).  Hot signatures — e.g. the segment that equals a shared URL
  host prefix — are counted and capped on the index side (sig_cap), an
  *observable* recall trade like the deletes path; a true pair loses
  candidacy only if all of its unedited segments are hot.

All of this is Catalyst expressions (explode/substring/xxhash64)
-> one equi-join -> distinct -> the shared vectorized DP verify.  ~40
signature rows per key at k=2 vs ~1,300: the 100 TB shuffle story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import drop_hot

MAX_K = 8  # beyond k=8 segment blocking degenerates (see cost model above)


def _nseg(k: int) -> int:
    """Segments to block with.  Blocking is always built at k >= 2 (the
    3-segment pigeonhole); callers with k=1 verify at 1 — k=2 candidates
    are a superset, so completeness holds for any requested k."""
    if not 1 <= k <= MAX_K:
        raise ValueError(f"segment blocking supports k <= {MAX_K}")
    return max(k, 2) + 1


def _short_max(n: int) -> int:
    """Keys of length <= n+1 also go to the brute-force short band (keys
    shorter than n can't carry n segments; the one-char margin keeps
    near-minimum-length blocks out of degenerate 1-char-segment land)."""
    return n + 1


def _seg_structs(n: int, l2: str) -> str:
    """SQL array<struct(i,p,sl)> of the even n-partition of a string of
    length ``l2`` (1-indexed positions; the trailing ``l2 % n`` segments
    absorb the remainder, one extra char each).  For segment i in 1..n:
      sl_i = (l DIV n) + (1 if l % n > n - i else 0)
      p_i  = 1 + (i-1)*(l DIV n) + max(0, (l % n) - (n - i + 1) + ... )
           = 1 + (i-1)*(l DIV n) + greatest(0, (i - 1 - n) + l % n)
    (the greatest() term counts how many of the preceding segments were
    extended)."""
    structs = []
    for i in range(1, n + 1):
        sl = f"(({l2}) DIV {n}) + IF(({l2}) % {n} > {n - i}, 1, 0)"
        p = (
            f"1 + {i - 1} * (({l2}) DIV {n}) "
            f"+ greatest(0, {i - 1 - n} + ({l2}) % {n})"
        )
        structs.append(f"named_struct('i', {i}, 'p', {p}, 'sl', {sl})")
    return "array(" + ", ".join(structs) + ")"


def passjoin_index(keyed: DataFrame, k: int, max_len: int) -> DataFrame:
    """(key-id, l, sig) index entries: the n segments of each key (plus
    the short band).  ``keyed`` must have columns (key string, kid)."""
    n = _nseg(k)
    t = keyed.selectExpr(
        "kid", f"substring(key, 1, {max_len}) AS _kt"
    ).selectExpr("kid", "_kt", "length(_kt) AS l")
    segs = t.filter(f"l >= {n}").selectExpr(
        "kid",
        "l",
        f"explode({_seg_structs(n, 'l')}) AS s",
        "_kt",
    ).selectExpr(
        "kid", "l", "xxhash64(substring(_kt, s.p, s.sl), s.i, l, 7777) AS sig"
    )
    short = t.filter(f"l <= {_short_max(n)}").selectExpr(
        "kid", "l", "xxhash64('shortband', 7777) AS sig"
    )
    return segs.unionAll(short)


def passjoin_probe(keyed: DataFrame, k: int, max_len: int) -> DataFrame:
    """(key-id, sig) probe entries: for partner lengths l in [m-kb, m] and
    each segment, the substrings within the position-aware start window
    (kb = the blocking level, max(k, 2))."""
    n = _nseg(k)
    kb = n - 1  # blocking level: candidates complete for any verify k <= kb
    t = keyed.selectExpr(
        "kid", f"substring(key, 1, {max_len}) AS _kt"
    ).selectExpr("kid", "_kt", "length(_kt) AS m")
    by_len = t.selectExpr(
        "kid", "_kt", "m", f"explode(sequence(greatest(m - {kb}, {n}), m)) AS l2"
    ).selectExpr("kid", "_kt", "m", "l2", "(m - l2) AS d")
    # position-aware shift window: the net shift of an unedited segment
    # is (#insertions - #deletions) among the edits before it, bounded by
    # the total ins/del budgets implied by e <= kb and len-diff d =
    # #ins - #del (so #del <= (kb-d)/2, #ins <= (kb+d)/2), and
    # symmetrically by the suffix side (d - shift obeys the same bounds).
    # At kb=2 this is [-1,1] / [0,1] / [0,2] for d = 0/1/2 — ~2x fewer
    # probe rows than the naive [-kb, kb] window, same completeness.
    sh_lo = f"greatest(-((({kb}) - d) DIV 2), d - ((({kb}) + d) DIV 2))"
    sh_hi = f"least((({kb}) + d) DIV 2, d + ((({kb}) - d) DIV 2))"
    probes = (
        by_len.selectExpr(
            "kid",
            "_kt",
            "m",
            "l2",
            "d",
            f"explode({_seg_structs(n, 'l2')}) AS s",
        )
        .selectExpr(
            "kid",
            "_kt",
            "m",
            "l2",
            "s",
            f"explode(sequence({sh_lo}, {sh_hi})) AS shift",
        )
        .selectExpr(
            "kid",
            "l2",
            "s.i AS i",
            "s.sl AS sl",
            "(s.p + shift) AS start",
            "_kt",
            "m",
        )
        .filter("start >= 1 AND start + sl - 1 <= m")
        .selectExpr("kid", "xxhash64(substring(_kt, start, sl), i, l2, 7777) AS sig")
    )
    short = t.filter(f"m <= {_short_max(n)} + {kb}").selectExpr(
        "kid", "xxhash64('shortband', 7777) AS sig"
    )
    return probes.unionAll(short)


def _capped_index(keyed: DataFrame, k: int, max_len: int, sig_cap: int) -> DataFrame:
    """``passjoin_index`` minus the entries of hot signatures (> sig_cap
    keys — e.g. a segment equal to a crawl-dominating host prefix),
    dropped by ``drop_hot`` before the join."""
    return drop_hot(passjoin_index(keyed, k, max_len), "sig", sig_cap)


def passjoin_self_candidates(
    keyed: DataFrame, k: int = 2, max_len: int = 96, sig_cap: int = 1000
) -> DataFrame:
    """Distinct candidate id pairs (key_a < key_b) from one keyed frame
    (columns key, kid), hot index signatures capped at ``sig_cap``."""
    idx_ok = _capped_index(keyed, k, max_len, sig_cap)
    probe = passjoin_probe(keyed, k, max_len)
    pairs = (
        idx_ok.select("sig", F.col("kid").alias("kid_i"))
        .join(probe.select("sig", F.col("kid").alias("kid_p")), "sig")
        .filter(F.col("kid_i") != F.col("kid_p"))
        .select(
            F.least("kid_i", "kid_p").alias("key_a"),
            F.greatest("kid_i", "kid_p").alias("key_b"),
        )
        .distinct()
    )
    return pairs


def passjoin_join_candidates(
    left: DataFrame,
    right: DataFrame,
    k: int = 2,
    max_len: int = 96,
    sig_cap: int = 1000,
) -> DataFrame:
    """Two-table variant: distinct candidate id pairs (key_a from
    ``left``, key_b from ``right``) between two keyed frames (columns
    key, kid).  For any pair within distance k the *shorter* key's
    unedited segment must match a substring of the longer one, so both
    directions are joined: left-indexed x right-probed plus
    right-indexed x left-probed.  Hot index signatures capped per
    direction as in the self-join."""
    il, ir = (_capped_index(t, k, max_len, sig_cap) for t in (left, right))
    pl, pr = (passjoin_probe(t, k, max_len) for t in (left, right))
    d1 = (
        il.select("sig", F.col("kid").alias("key_a"))
        .join(pr.select("sig", F.col("kid").alias("key_b")), "sig")
        .select("key_a", "key_b")
    )
    d2 = (
        ir.select("sig", F.col("kid").alias("key_b"))
        .join(pl.select("sig", F.col("kid").alias("key_a")), "sig")
        .select("key_a", "key_b")
    )
    return d1.unionAll(d2).distinct()
