"""Arrow-vectorized pandas UDFs — the only Python that runs on executors.

Everything here receives whole Arrow batches (pandas Series), computes
with the numpy kernels from ``distance``/``similarity``, and returns a
Series; no row-at-a-time Python UDFs anywhere in the engine
(BASELINE.json input_hint).  Built-in Catalyst expressions are always
preferred — these UDFs exist only for semantics Spark lacks:
OSA / true Damerau-Levenshtein distance and Jaro-Winkler.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from .distance import batch_levenshtein, damerau_levenshtein
from .similarity import batch_jaro_winkler, batch_monge_elkan


@F.pandas_udf(IntegerType())
def osa_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Restricted Damerau-Levenshtein (OSA) — the reference's Damerau
    semantics (automaton.cpp:425-430), numpy-vectorized across the batch."""
    out = batch_levenshtein(a.fillna("").tolist(), b.fillna("").tolist(), transpositions=True)
    return pd.Series(out.astype("int32"))


@F.pandas_udf(IntegerType())
def true_damerau_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Unrestricted Damerau-Levenshtein (matches DuckDB's
    damerau_levenshtein).  Per-pair DP inside the Arrow batch — used on
    post-blocking candidate pairs only, never on full tables."""
    av = a.fillna("").tolist()
    bv = b.fillna("").tolist()
    return pd.Series([damerau_levenshtein(x, y) for x, y in zip(av, bv)], dtype="int32")


@F.pandas_udf(IntegerType())
def affine_gap_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Affine-gap (Gotoh) edit distance, default integer costs
    mismatch=2 / gap_open=3 / gap_extend=1 (functions/distance.py
    batch_affine_gap) — the truncation-tolerant comparator of Bilenko
    & Mooney KDD'03, numpy-vectorized across the Arrow batch.  Use on
    post-blocking candidates with a JVM ``levenshtein(a,b,T) <= T``
    prefilter first: unit-cost Levenshtein lower-bounds affine-gap
    (every affine op costs >= 1), so the prefilter is exact."""
    from .distance import batch_affine_gap

    out = batch_affine_gap(a.fillna("").tolist(), b.fillna("").tolist())
    return pd.Series(out.astype("int32"))


@F.pandas_udf(DoubleType())
def jaro_winkler_sim(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler similarity, DuckDB-compatible (floored transpositions,
    boost threshold 0.7, p=0.1, prefix<=4)."""
    out = batch_jaro_winkler(a.fillna("").tolist(), b.fillna("").tolist())
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def monge_elkan_sim(a: pd.Series, b: pd.Series) -> pd.Series:
    """Symmetric Monge-Elkan with a Jaro-Winkler inner measure, 6dp
    integer-fixpointed per token so the DuckDB list-comprehension twin
    hash-matches (functions/similarity.monge_elkan)."""
    out = batch_monge_elkan(a.fillna("").tolist(), b.fillna("").tolist())
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def soft_tfidf_sim(
    ta: pd.Series, wa: pd.Series, tb: pd.Series, wb: pd.Series
) -> pd.Series:
    """Soft TF-IDF (Cohen, Ravikumar & Fienberg 2003) over parallel
    sorted token / 6dp-TF-IDF-weight arrays; 1e9 integer-fixpointed
    terms so the DuckDB relational twin hash-matches
    (functions/similarity.soft_tfidf)."""
    from .similarity import batch_soft_tfidf

    out = batch_soft_tfidf(
        ta.tolist(), wa.tolist(), tb.tolist(), wb.tolist()
    )
    return pd.Series(out)
