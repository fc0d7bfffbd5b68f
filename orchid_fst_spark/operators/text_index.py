"""Persisted positional inverted-index artifact: build once, serve
phrase / BM25 / term queries many times off a term-bucketed parquet
layout — the build-once/query-many discipline of the FST artifact
(`operators/index.py`, mirroring the reference's mmap'd index file,
fst_cmd.cpp:174-177) applied to the token-search surface.

Layout: postings (doc_id, pos, term) are hashed into ``n_buckets``
partitions (`bucket = pmod(xxhash64(term), n_buckets)`) and written
``partitionBy("bucket")``, sorted by term within each file.  A query
for k terms therefore
  1. prunes to at most k bucket DIRECTORIES at planning time (literal
     `bucket IN (...)` on the partition column — nothing else is even
     listed), and
  2. pushes `term IN (...)` into the parquet scan, where the per-file
     term ordering makes row-group min/max stats selective.
At 100 TB a phrase query reads a few buckets' worth of postings instead
of re-tokenizing the corpus — the same scan-vs-artifact trade the FST
index makes for fuzzy lookups.

The bucket count, token normalization, and exact integer corpus stats
(n_docs, sum_dl) are recorded in a ``_meta`` JSON sidecar inside the
artifact (underscore-prefixed → invisible to parquet discovery, like
``_SUCCESS``), so queries recompute each term's bucket with the exact
build-time mapping and ``indexed_bm25`` scores without ANY corpus-side
scan.  Like the FST artifact, paths must be absolute
local/shared-filesystem paths (asserted at build/load).
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.normalize import tokens


class TextIndex(NamedTuple):
    path: str
    n_buckets: int
    lowercase: bool
    n_docs: int
    sum_dl: int


def _check_path(path: str) -> str:
    if "://" in path:
        raise ValueError(
            "text index artifacts require plain filesystem paths "
            "(URI schemes are not openable for the _meta sidecar)"
        )
    return os.path.abspath(path)


def build_text_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n_buckets: int = 64,
    lowercase: bool = False,
) -> None:
    """Write the term-bucketed positional-postings artifact.  One
    shuffle (hash on bucket) + a per-partition term sort; every bucket's
    postings land in term-ordered parquet row groups under their own
    ``bucket=`` directory.

    Each posting carries the doc's token count ``dl`` (denormalized, +8
    bytes/row) and the ``_meta`` sidecar records exact integer corpus
    stats (n_docs, sum_dl), so relevance scoring (``indexed_bm25``)
    runs with ZERO corpus-side scans at query time.  ``lowercase=True``
    builds over lowercased tokens — required for an index serving
    ``indexed_bm25`` with ``ranking.bm25_scores`` semantics; phrase /
    term queries against such an index are case-insensitive."""
    path = _check_path(path)
    stats = _write_postings(
        docs, id_col, text_col, path, n_buckets, lowercase, mode="error"
    )
    with open(os.path.join(path, "_meta"), "w") as f:
        json.dump(
            {
                "n_buckets": n_buckets,
                "lowercase": lowercase,
                "n_docs": int(stats.n_docs),
                "sum_dl": int(stats.sum_dl or 0),
            },
            f,
        )


def _write_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n_buckets: int,
    lowercase: bool,
    mode: str,
):
    """Tokenize once, write the bucketed postings, return the exact
    integer (n_docs, sum_dl) stats row.  The tokenized frame feeds two
    actions (the stats collect and the parquet write), so it is
    persisted for the duration — without it the full corpus would be
    tokenized twice, and a non-deterministic input (a re-read of a
    changing source) could make the sidecar stats diverge from the
    postings actually written."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text).alias("toks"))
        .withColumn("dl", F.size("toks").cast("long"))
        .persist()
    )
    try:
        stats = toks.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
        ).collect()[0]
        p = toks.select(
            "doc_id", "dl", F.posexplode("toks").alias("pos", "term")
        ).withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        (
            p.repartition(n_buckets, "bucket")
            .sortWithinPartitions("bucket", "term")
            .write.mode(mode)
            .partitionBy("bucket")
            .parquet(path)
        )
    finally:
        toks.unpersist()
    return stats


def load_text_index(spark: SparkSession, path: str) -> TextIndex:
    """Validate the artifact (must carry _SUCCESS and the _meta sidecar)
    and return its handle.  No data is read."""
    path = _check_path(path)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"no published text index at {path}")
    with open(os.path.join(path, "_meta")) as f:
        m = json.load(f)
    return TextIndex(
        path, m["n_buckets"], m["lowercase"], m["n_docs"], m["sum_dl"]
    )


def _term_buckets(
    spark: SparkSession, idx: TextIndex, terms: list[str]
) -> dict[str, int]:
    """Each term's bucket under the build-time mapping, computed with
    the same JVM xxhash64 (one |terms|-row local job — bounded by the
    query size, never the corpus)."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(
            "term",
            F.pmod(F.xxhash64("term"), F.lit(idx.n_buckets)).alias("b"),
        )
        .collect()
    )
    return {r.term: r.b for r in rows}


def indexed_postings(
    spark: SparkSession, idx: TextIndex, terms: list[str]
) -> DataFrame:
    """Postings of ``terms`` off the artifact: literal bucket IN-list →
    partition-directory pruning; term IN-list → parquet row-group
    pruning via the per-file term sort.  Query terms are lowercased
    when the index was built lowercased (they could never match
    otherwise)."""
    if idx.lowercase:
        terms = [t.lower() for t in terms]
    terms = sorted(set(terms))
    if not terms:
        raise ValueError("terms must be non-empty")
    buckets = sorted(set(_term_buckets(spark, idx, terms).values()))
    return (
        spark.read.parquet(idx.path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("doc_id", "pos", "term", "dl")
    )


def indexed_phrase_search(
    spark: SparkSession, idx: TextIndex, phrase: list[str]
) -> DataFrame:
    """Exact token-phrase matches served from the artifact; identical
    semantics and output to ``search.phrase_search`` (doc_id,
    n_matches), but the corpus is never re-tokenized — only the phrase
    terms' buckets are scanned."""
    from .search import phrase_match_postings

    if not phrase:
        raise ValueError("phrase must be non-empty")
    if idx.lowercase:
        phrase = [t.lower() for t in phrase]
    return phrase_match_postings(indexed_postings(spark, idx, phrase), phrase)


def indexed_bm25(
    spark: SparkSession,
    idx: TextIndex,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int | None = None,
) -> DataFrame:
    """BM25 served entirely off the artifact — identical semantics,
    formula, and 6-dp output rounding to ``ranking.bm25_scores`` over
    the same documents (requires an index built with
    ``lowercase=True``, matching bm25's token normalization; asserted).

    ZERO corpus scans at query time: tf comes from the pruned postings
    read, dl rides each posting row (denormalized at build), df is one
    aggregate over the same hits, and n_docs / avgdl are exact integer
    build-time stats from the ``_meta`` sidecar (``avgdl = sum_dl /
    n_docs``, the same one-division double bm25_scores computes).  Cost
    scales with the query terms' posting lists, not the corpus."""
    if not idx.lowercase:
        raise ValueError(
            "indexed_bm25 needs an index built with lowercase=True "
            "(bm25_scores lowercases tokens)"
        )
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if idx.n_docs == 0:
        raise ValueError("empty index")
    avgdl = idx.sum_dl / idx.n_docs
    hits = (
        indexed_postings(spark, idx, query_terms)
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = hits.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(idx.n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    part = (
        idf
        * (F.col("tf") * (F.lit(k1) + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = (
        hits.join(F.broadcast(df_), "term")
        .withColumn("part", part)
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    if topk is None:
        return scored
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(topk))
        .select("doc_id", "score")
    )


def append_text_index(
    docs: DataFrame, id_col: str, text_col: str, idx: TextIndex
) -> TextIndex:
    """Incremental maintenance: add new documents' postings to an
    existing artifact and return the refreshed handle.

    New postings are bucketed with the artifact's own mapping and
    normalization (the ``_meta`` sidecar), written ``mode("append")``
    into the same ``bucket=`` directories (each appended file is
    term-sorted, so row-group pruning keeps working file-by-file), and
    the sidecar's exact integer corpus stats are advanced — so
    ``indexed_bm25`` keeps scoring the grown corpus with zero scans.
    Queries see exactly what a fresh full build over old+new would
    serve (pinned by test).

    Single-writer discipline: the append and the sidecar rewrite are
    two steps, not one atomic publish — concurrent appenders or a crash
    between the steps need the caller-level atomic-rename publication
    the entry uses for /tmp artifacts.  Caller must ensure doc ids are
    new (appending an existing id duplicates its postings, like
    inserting a duplicate key into any index without a delete path)."""
    stats = _write_postings(
        docs, id_col, text_col, idx.path, idx.n_buckets, idx.lowercase,
        mode="append",
    )
    new = TextIndex(
        idx.path,
        idx.n_buckets,
        idx.lowercase,
        idx.n_docs + int(stats.n_docs),
        idx.sum_dl + int(stats.sum_dl or 0),
    )
    with open(os.path.join(idx.path, "_meta"), "w") as f:
        json.dump(
            {
                "n_buckets": new.n_buckets,
                "lowercase": new.lowercase,
                "n_docs": new.n_docs,
                "sum_dl": new.sum_dl,
            },
            f,
        )
    return new


def indexed_fuzzy_terms(
    spark: SparkSession, idx: TextIndex, query: str, k: int = 1
) -> DataFrame:
    """Fuzzy term search served off the artifact — identical output to
    ``search.fuzzy_term_docs`` over the indexed documents: ``(term,
    dist, doc_id, tf)`` for every vocabulary term within Levenshtein
    ``k`` of ``query``.

    A fuzzy query cannot prune bucket DIRECTORIES (the bucket hash
    scatters near-neighbors), but the read is still index-shaped, not
    corpus-shaped: the artifact's (term, doc_id) columns are
    column-pruned out of the postings files (no text, no re-tokenize),
    the banded 3-arg ``levenshtein`` runs once per DISTINCT vocabulary
    term (one hash aggregate over the term column), and only the
    surviving terms' postings aggregate to (doc, term, tf) via a
    broadcast semi-join — so query cost scales with vocabulary size +
    matched postings, not corpus text size.  Requires a
    ``lowercase=True`` artifact — ``fuzzy_term_docs`` always lowercases
    both text and query, so a case-preserving artifact would silently
    return DIFFERENT results than the operator this one promises to
    equal (same guard as ``indexed_bm25``)."""
    if k < 0:
        raise ValueError("need k >= 0")
    if not idx.lowercase:
        raise ValueError(
            "indexed_fuzzy_terms needs an index built with lowercase=True "
            "(fuzzy_term_docs matches case-insensitively)"
        )
    q = query.lower()
    p = spark.read.parquet(idx.path).select("term", "doc_id")
    vocab = (
        p.select("term")
        .distinct()
        .withColumn(
            "dist", F.levenshtein(F.col("term"), F.lit(q), int(k)).cast("long")
        )
        .filter(F.col("dist") >= 0)
    )
    return (
        p.join(F.broadcast(vocab), "term")
        .groupBy("term", "dist", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
        .select("term", "dist", "doc_id", "tf")
    )
