"""Composable matcher API — the reference's automaton combinator surface.

The reference's extension point is the ``Automaton`` interface
(automaton.h:84-99): users compose Str / Prefix / GreaterThan /
LessThan / Levenshtein / Always with Intersect / Union / Not /
StartsWith (automaton.h:138-304) and hand the tree to the FST iterator.
This module is the Spark-first twin: a ``Matcher`` is a small
declarative object that

- compiles to a **Catalyst Column predicate** (``col_predicate``) so the
  common cases run JVM-side with pushdown (exact/prefix/range become
  scan filters; plain Levenshtein uses the built-in banded function);
- and to a **plain-Python predicate** (``accepts``) for use inside
  Arrow UDFs — the OSA/Damerau path, or any composition thereof, where
  no JVM builtin exists.

``match(df, matcher)`` picks the JVM path when every leaf is
JVM-expressible, else evaluates the Python predicate in one
``mapInPandas`` over the key column.  Results are ordered by key
(reference enumeration order, fst.cpp:471-524).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from .lev_dfa import compile_dfa


class Matcher:
    """Base: boolean predicate over a key string."""

    jvm_ok = True

    # True when acceptance is closed under extension: accepts(p) implies
    # accepts(p + anything).  For such matchers the set of accepted
    # prefixes of any key is upward-closed (once in, every longer prefix
    # is in), which is what licenses the StartsWith closed forms on
    # Intersect and Not below.  Prefix / GreaterThan / Always qualify;
    # Str / LessThan / Fuzzy do not.
    extension_closed = False

    def col_predicate(self, c: Column) -> Column:
        raise NotImplementedError

    def accepts(self, s: str) -> bool:
        raise NotImplementedError

    def accepts_any_prefix(self, s: str) -> bool:
        """True iff some prefix of ``s`` (incl. '' and s) is accepted —
        the StartsWith composition (automaton.h:235-297).  Leaves with a
        cheaper closed form or an incremental automaton override this;
        the fallback is the O(len²) prefix enumeration."""
        return any(self.accepts(s[:i]) for i in range(len(s) + 1))

    def startswith_col_predicate(self, c: Column):
        """Catalyst predicate for 'some prefix of the key is accepted by
        this matcher', or None when no closed form exists (the tree then
        runs on the Python path)."""
        return None

    def startswith_jvm_ok(self) -> bool:
        """Whether ``startswith_col_predicate`` has a closed form (pure
        bookkeeping — no Column is built, so no JVM round-trip)."""
        return False

    # combinators (reference automaton.h:138-232)
    def __and__(self, other: "Matcher") -> "Matcher":
        return Intersect(self, other)

    def __or__(self, other: "Matcher") -> "Matcher":
        return Union(self, other)

    def __invert__(self) -> "Matcher":
        return Not(self)


@dataclass
class Always(Matcher):
    """AlwaysAutomaton (automaton.h:307-325)."""

    extension_closed = True

    def col_predicate(self, c: Column) -> Column:
        return F.lit(True)

    def accepts(self, s: str) -> bool:
        return True

    def accepts_any_prefix(self, s: str) -> bool:
        return True

    def startswith_col_predicate(self, c: Column) -> Column:
        return F.lit(True)

    def startswith_jvm_ok(self) -> bool:
        return True


@dataclass
class Str(Matcher):
    """Exact match (StrAutomaton, automaton.cpp:53-82)."""

    query: str

    def col_predicate(self, c: Column) -> Column:
        return c == F.lit(self.query)

    def accepts(self, s: str) -> bool:
        return s == self.query

    def accepts_any_prefix(self, s: str) -> bool:
        # the only prefix of s equal to query is s[:len(query)]
        return s.startswith(self.query)

    def startswith_col_predicate(self, c: Column) -> Column:
        return c.startswith(self.query)

    def startswith_jvm_ok(self) -> bool:
        return True


@dataclass
class Prefix(Matcher):
    """PrefixAutomaton (automaton.cpp:185-213)."""

    prefix: str
    extension_closed = True

    def col_predicate(self, c: Column) -> Column:
        return c.startswith(self.prefix)

    def accepts(self, s: str) -> bool:
        return s.startswith(self.prefix)

    def accepts_any_prefix(self, s: str) -> bool:
        # a prefix of s starting with self.prefix exists iff s does
        return s.startswith(self.prefix)

    def startswith_col_predicate(self, c: Column) -> Column:
        return c.startswith(self.prefix)

    def startswith_jvm_ok(self) -> bool:
        return True


@dataclass
class GreaterThan(Matcher):
    """Lexicographic lower bound (automaton.cpp:85-129)."""

    bound: str
    inclusive: bool = True
    extension_closed = True  # any extension sorts >= the accepted prefix

    def col_predicate(self, c: Column) -> Column:
        return c >= F.lit(self.bound) if self.inclusive else c > F.lit(self.bound)

    def accepts(self, s: str) -> bool:
        return s >= self.bound if self.inclusive else s > self.bound

    def accepts_any_prefix(self, s: str) -> bool:
        # prefixes of s are lexicographically increasing; the largest is
        # s itself, so some prefix clears the lower bound iff s does
        return self.accepts(s)

    def startswith_col_predicate(self, c: Column) -> Column:
        return self.col_predicate(c)

    def startswith_jvm_ok(self) -> bool:
        return True


@dataclass
class LessThan(Matcher):
    """Lexicographic upper bound (automaton.cpp:132-181)."""

    bound: str
    inclusive: bool = True

    def col_predicate(self, c: Column) -> Column:
        return c <= F.lit(self.bound) if self.inclusive else c < F.lit(self.bound)

    def accepts(self, s: str) -> bool:
        return s <= self.bound if self.inclusive else s < self.bound

    def accepts_any_prefix(self, s: str) -> bool:
        # the smallest prefix is '': '' <= bound always, '' < bound
        # unless bound is itself empty
        return True if self.inclusive else self.bound != ""

    def startswith_col_predicate(self, c: Column) -> Column:
        return F.lit(True if self.inclusive else self.bound != "")

    def startswith_jvm_ok(self) -> bool:
        return True


class Fuzzy(Matcher):
    """LevenshteinAutomaton / DamerauLevenshteinAutomaton
    (automaton.cpp:216-326, 328-524).  Plain Levenshtein is
    JVM-expressible via the banded builtin; OSA needs the compiled DFA
    (Python path)."""

    def __init__(self, query: str, k: int, damerau: bool = False):
        self.query, self.k, self.damerau = query, k, damerau
        self.jvm_ok = not damerau
        self._dfa = compile_dfa(query, k, damerau)

    def col_predicate(self, c: Column) -> Column:
        if self.damerau:
            raise NotImplementedError("OSA has no JVM builtin")
        d = F.levenshtein(c, F.lit(self.query), self.k)
        return (d >= 0) & (d <= self.k)

    def accepts(self, s: str) -> bool:
        return self._dfa.accepts(s)

    def accepts_any_prefix(self, s: str) -> bool:
        # one incremental DFA walk with a match-seen flag — O(len), not
        # O(len²) prefix re-evaluation
        return self._dfa.accepts_any_prefix(s)


@dataclass
class Intersect(Matcher):
    """IntersectAutomaton (automaton.h:138-163)."""

    left: Matcher
    right: Matcher

    @property
    def jvm_ok(self) -> bool:  # type: ignore[override]
        return self.left.jvm_ok and self.right.jvm_ok

    @property
    def extension_closed(self) -> bool:  # type: ignore[override]
        return self.left.extension_closed and self.right.extension_closed

    def col_predicate(self, c: Column) -> Column:
        return self.left.col_predicate(c) & self.right.col_predicate(c)

    def accepts(self, s: str) -> bool:
        return self.left.accepts(s) and self.right.accepts(s)

    def startswith_col_predicate(self, c: Column):
        # StartsWith(A ∩ B) = StartsWith(A) ∧ StartsWith(B) requires
        # that SOME SHARED prefix satisfies both.  When both inners are
        # extension-closed, each accepted-prefix set is upward-closed,
        # so both being nonempty forces both to contain the full key —
        # the conjunction is exact (automaton.h:235-297 composes
        # StartsWith with any inner; this is the prefix-closed subset
        # that admits a Catalyst closed form).
        if not (self.left.extension_closed and self.right.extension_closed):
            return None
        l = self.left.startswith_col_predicate(c)
        r = self.right.startswith_col_predicate(c)
        return (l & r) if l is not None and r is not None else None

    def startswith_jvm_ok(self) -> bool:
        return (
            self.left.extension_closed
            and self.right.extension_closed
            and self.left.startswith_jvm_ok()
            and self.right.startswith_jvm_ok()
        )


@dataclass
class Union(Matcher):
    """UnionAutomaton (automaton.h:166-191)."""

    left: Matcher
    right: Matcher

    @property
    def jvm_ok(self) -> bool:  # type: ignore[override]
        return self.left.jvm_ok and self.right.jvm_ok

    @property
    def extension_closed(self) -> bool:  # type: ignore[override]
        # union of upward-closed sets is upward-closed
        return self.left.extension_closed and self.right.extension_closed

    def col_predicate(self, c: Column) -> Column:
        return self.left.col_predicate(c) | self.right.col_predicate(c)

    def accepts(self, s: str) -> bool:
        return self.left.accepts(s) or self.right.accepts(s)

    def accepts_any_prefix(self, s: str) -> bool:
        # StartsWith distributes over union: some prefix satisfies
        # (a ∪ b) iff some prefix satisfies a or some prefix satisfies b
        return self.left.accepts_any_prefix(s) or self.right.accepts_any_prefix(s)

    def startswith_col_predicate(self, c: Column):
        l = self.left.startswith_col_predicate(c)
        r = self.right.startswith_col_predicate(c)
        return (l | r) if l is not None and r is not None else None

    def startswith_jvm_ok(self) -> bool:
        return self.left.startswith_jvm_ok() and self.right.startswith_jvm_ok()


@dataclass
class Not(Matcher):
    """NotAutomaton (automaton.h:212-232)."""

    inner: Matcher

    @property
    def jvm_ok(self) -> bool:  # type: ignore[override]
        return self.inner.jvm_ok

    def col_predicate(self, c: Column) -> Column:
        return ~self.inner.col_predicate(c)

    def accepts(self, s: str) -> bool:
        return not self.inner.accepts(s)

    def startswith_col_predicate(self, c: Column):
        # For an extension-closed inner the accepted-prefix set of any
        # key is upward-closed, so 'some prefix is REJECTED' reduces to
        # 'the empty prefix is rejected' — a constant independent of the
        # key (if inner accepts '', upward closure accepts every prefix
        # of everything).
        if not self.inner.extension_closed:
            return None
        return F.lit(not self.inner.accepts(""))

    def startswith_jvm_ok(self) -> bool:
        return self.inner.extension_closed


@dataclass
class StartsWith(Matcher):
    """StartsWithAutomaton (automaton.h:235-297): the inner matcher
    accepts some prefix of the key.

    JVM path whenever the inner tree has a closed form for
    'some-prefix-accepted' (Str/Prefix -> ``startswith``; bounds ->
    monotone prefix arguments; Always; unions thereof) — those compile
    to ordinary Catalyst predicates with scan pushdown.  Inner automata
    without a closed form (Fuzzy, Intersect, Not) run on the Python
    path via ``accepts_any_prefix`` — a single incremental walk per key,
    not per-prefix re-evaluation."""

    inner: Matcher

    @property
    def jvm_ok(self) -> bool:  # type: ignore[override]
        return self.inner.startswith_jvm_ok()

    def col_predicate(self, c: Column) -> Column:
        p = self.inner.startswith_col_predicate(c)
        if p is None:
            raise NotImplementedError(
                "this StartsWith composition runs on the Python path"
            )
        return p

    def accepts(self, s: str) -> bool:
        return self.inner.accepts_any_prefix(s)


def _sorted_batch(pdf, key_col: str):
    """One Arrow batch with null keys dropped, sorted by key — the input
    shape ``dfa_mask_sorted`` needs to reuse states along shared prefixes."""
    return pdf[pdf[key_col].notna()].sort_values(key_col)


def _dfa_filter(df: DataFrame, dfa, key_col: str) -> DataFrame:
    """Rows of ``df`` whose key ``dfa`` accepts: one mapInPandas running
    the DFA over each sorted batch (the trie ∩ DFA walk without a trie).
    Batch order is not kept; callers order the result."""
    from .lev_dfa import dfa_mask_sorted

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = _sorted_batch(pdf, key_col)
            yield pdf[dfa_mask_sorted(pdf[key_col].tolist(), dfa)]

    return df.mapInPandas(gen, schema=df.schema)


def match(dict_df: DataFrame, matcher: Matcher, key_col: str = "key") -> DataFrame:
    """Enumerate dictionary rows accepted by ``matcher`` in key order.

    JVM path (all leaves JVM-expressible): a single Catalyst predicate —
    pushdown-friendly, whole-stage codegen.  Python path: one
    ``mapInPandas`` evaluating the composed predicate per key."""
    c = F.col(key_col)
    if matcher.jvm_ok:
        return dict_df.filter(matcher.col_predicate(c)).orderBy(key_col)

    if isinstance(matcher, Fuzzy):
        # a bare Fuzzy leaf gets the shared-prefix sorted walk; composed
        # trees fall back to the per-key predicate
        return _dfa_filter(dict_df, matcher._dfa, key_col).orderBy(key_col)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mask = [
                (s is not None) and matcher.accepts(s) for s in pdf[key_col].tolist()
            ]
            yield pdf[mask]

    return dict_df.mapInPandas(gen, schema=dict_df.schema).orderBy(key_col)
