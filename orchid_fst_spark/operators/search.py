"""Keyword search operators over document tables: positional-postings
phrase search and boolean (AND / AND-NOT) term search.

Complements ``ranking.bm25_scores`` (relevance scoring) with the exact
retrieval primitives: *phrase* ("these tokens, adjacent, in order") and
*boolean* ("all of these terms, none of those").

Scale notes (100 TB): both operators filter the token explode down to
the QUERY vocabulary before anything shuffles — the postings frame that
reaches a join or aggregate carries only hits of the handful of query
terms, never the corpus's token stream.  Phrase matching joins the
per-term position frames on (doc, anchor); after the first exchange
every join side is hash-partitioned on the same key, and with AQE the
rarest term's frame typically broadcasts.  Boolean search is ONE
distinct + ONE hash aggregate + an anti-join — no pair joins, no
windows, no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.normalize import tokens
from ..util.storage import maybe_persist as _maybe_persist


def postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional postings: one row per token occurrence,
    (doc_id, pos, term), pos 0-based.  Pure Catalyst (split +
    posexplode)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )


def phrase_match_postings(p: DataFrame, phrase: list[str]) -> DataFrame:
    """The phrase-match core, shared by the scan path
    (:func:`phrase_search`) and the artifact path
    (``text_index.indexed_phrase_search``) so the two can never
    diverge: given a (doc_id, pos, term) postings frame already
    restricted to (at least) the phrase vocabulary, anchor the i-th
    term's positions at ``pos - i`` and equi-join the m frames on
    (doc_id, anchor) — a survivor means the terms are adjacent in
    order.  Returns (doc_id, n_matches ≥ 1), overlapping occurrences
    each counted."""
    out = None
    for i, term in enumerate(phrase):
        side = p.filter(F.col("term") == term).select(
            "doc_id", (F.col("pos") - i).alias("anchor")
        )
        out = side if out is None else out.join(side, ["doc_id", "anchor"])
    return out.groupBy("doc_id").agg(F.count("*").alias("n_matches"))


def phrase_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrase: list[str],
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Documents containing the exact token phrase (adjacent, in
    order); returns (doc_id, n_matches) with n_matches ≥ 1 counting
    distinct starting positions (overlapping occurrences each count).

    Plan: postings are filtered to the phrase vocabulary FIRST (the
    filter sits on the generated column, so only query-term hits leave
    the scan stage), then :func:`phrase_match_postings` runs the
    anchor-join core.  The filtered postings frame feeds every per-term
    branch, so it is persisted under ``storage`` (registered with
    util.storage.release_persisted)."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    p = _maybe_persist(
        postings(docs, id_col, text_col).filter(
            F.col("term").isin(list(set(phrase)))
        ),
        storage,
    )
    return phrase_match_postings(p, phrase)


def boolean_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    must: list[str],
    must_not: list[str] | None = None,
) -> DataFrame:
    """Documents containing ALL ``must`` terms and NONE of the
    ``must_not`` terms; returns (doc_id).

    Plan: the token explode is filtered to the combined query
    vocabulary and deduped to (doc_id, term); one hash aggregate keeps
    docs matching every must term, then a left-anti join removes docs
    carrying any excluded term.  The corpus token stream never shuffles
    — only query-term hits do."""
    if not must:
        raise ValueError("must terms required")
    must_set = sorted(set(must))
    not_set = sorted(set(must_not or []))
    hits = (
        postings(docs, id_col, text_col)
        .filter(F.col("term").isin(must_set + not_set))
        .select("doc_id", "term")
        .distinct()
    )
    keep = (
        hits.filter(F.col("term").isin(must_set))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == len(must_set))
        .select("doc_id")
    )
    if not_set:
        bad = hits.filter(F.col("term").isin(not_set)).select("doc_id").distinct()
        keep = keep.join(bad, "doc_id", "left_anti")
    return keep


def fuzzy_term_docs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 1,
) -> DataFrame:
    """Documents containing any token within Levenshtein distance ``k``
    of ``query`` — the reference's core capability (fuzzy dictionary
    lookup, fst_cmd.cpp fuzzy subcommand) applied to the retrieval
    surface ("did you mean" search over the corpus vocabulary).

    Returns ``(term, dist, doc_id, tf)`` — one row per (matched
    vocabulary term, document containing it) with the in-document
    occurrence count — so callers can rank exact hits above distance-1
    hits and aggregate however they score.

    Plan shape: the (doc, term, tf) frame aggregates ONCE from the
    token explode (the same map-side-combine shape as the BM25/TF-IDF
    family); the fuzzy predicate is Spark's banded JVM
    ``levenshtein(term, query, k)`` (the 3-arg form early-exits above
    the bound) applied AFTER the per-doc aggregate, so the distance
    runs once per distinct (doc, term), never per occurrence.  The
    vocabulary scan is unavoidable for an un-indexed fuzzy query —
    the same reason the reference walks its FST — but nothing here is
    quadratic: one explode, one hash aggregate, one filtered
    projection.  For repeated fuzzy queries over a fixed corpus, build
    the persisted dictionary index (``operators.index``) over the
    vocabulary instead and use its DFA-pruned lookups."""
    if k < 0:
        raise ValueError("need k >= 0")
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    d = F.levenshtein(F.col("term"), F.lit(query.lower()), int(k))
    return (
        tf.withColumn("dist", d.cast("long"))
        .filter(F.col("dist") >= 0)  # 3-arg levenshtein returns -1 above k
        .select("term", "dist", "doc_id", "tf")
    )
