"""Incremental entity resolution: fold a new batch into an existing
clustering without re-resolving the old corpus.

The reference's build is explicitly incremental — keys arrive, the
structure grows, queries keep serving (fst.h:16-22); this module is the
ER-pipeline form of that contract for the batch world (the streaming
twin is ``streaming/stateful.streaming_fuzzy_match``).

Semantics — exactly transitive when blocking is complete, pinned by
test.  If every key pair within distance k is a blocking candidate, the
edge set of a full re-run over old ∪ new equals

    old-old edges (already folded into ``resolved``)
  ∪ new-new edges (self pairs over the batch)
  ∪ new-old edges (fuzzy join batch -> old keys),

so running connected components over {new-new edges} ∪ {new-key ->
old-CLUSTER edges} — old clusters collapse to their representative id,
which is the lexicographic min of their members — reproduces the full
re-run's components AND labels:

    incremental_resolve(resolve(old), new) == resolve(old ∪ new)

including the case where a new record BRIDGES two old clusters (both
collapse into one component; all their members relabel to the smaller
id).

Blocking is complete when no key is longer than ``max_len``, no
signature is shared by more than ``sig_cap`` keys (the caps count each
side here, but old ∪ new in the full run), and no pair within k needs
what passjoin's pigeonhole cannot see: it counts Levenshtein edits, so
with the default ``algo="passjoin"`` and ``damerau=True`` an OSA pair
whose two transpositions straddle segment boundaries is never a
candidate (the strict xfails in tests/test_dictionary.py).  Outside
these conditions the two results can differ.

Scale shape: the old corpus is touched exactly twice — once as the
fuzzy-join right side (distinct norm_keys through segment-signature
blocking; 8-byte id shuffles) and once by the final relabel join
(relabel map is touched-cluster-sized, so AQE broadcasts it).  The CC
graph is (new batch + touched clusters)-sized, never old-corpus-sized —
the whole point of paying for incrementality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .blocking import normalize_pages
from .clustering import connected_components
from .scoring import match_edges, score_pairs
from ..operators.dictionary import fuzzy_join, fuzzy_self_pairs


def incremental_components(
    resolved: DataFrame,
    new_keys: DataFrame,
    key_col: str = "norm_key",
    k: int = 2,
    damerau: bool = True,
    jw_floor: float = 0.0,
    jaccard_floor: float = 0.0,
    algo: str = "passjoin",
    sig_cap: int = 1000,
    max_len: int = 96,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Key-level incremental clustering: ``(norm_key, cluster_id)`` for
    every old AND new key, with old clusters relabeled where a new
    record merged them.

    ``resolved``: any frame carrying (norm_key, cluster_id) — e.g. the
    output of ``resolve`` (url-level rows are fine; the key->cluster
    map is distinct'd).  ``new_keys``: the batch's keys in ``key_col``.
    Match rule parameters must equal the ones the old clustering was
    built with, or the incremental == full-rerun property does not
    hold (documented, not enforceable).
    """
    old_map = (
        resolved.select(
            F.col("norm_key"), F.col("cluster_id")
        )
        .filter(F.col("norm_key").isNotNull())
        .distinct()
    )
    new = (
        new_keys.select(F.col(key_col).alias("norm_key"))
        .filter(F.col("norm_key").isNotNull())
        .distinct()
    )

    nn = fuzzy_self_pairs(
        new, "norm_key", k=k, damerau=damerau, algo=algo, sig_cap=sig_cap,
        max_len=max_len,
    )
    no = fuzzy_join(
        new,
        old_map,
        "norm_key",
        "norm_key",
        k=k,
        damerau=damerau,
        algo=algo,
        sig_cap=sig_cap,
        max_len=max_len,
        assume_unique=True,
    )
    nn_edges = match_edges(
        score_pairs(nn), k=k, jw_floor=jw_floor, jaccard_floor=jaccard_floor
    )
    # new-old pairs attach to the old key's CLUSTER representative:
    # old clusters are already transitively closed, so the cluster id
    # (min member) stands in for every member in the new graph
    no_edges = (
        match_edges(
            score_pairs(no), k=k, jw_floor=jw_floor,
            jaccard_floor=jaccard_floor,
        )
        .join(
            old_map.select(
                F.col("norm_key").alias("key_b"),
                F.col("cluster_id").alias("old_cluster"),
            ),
            "key_b",
        )
        .select(F.col("key_a"), F.col("old_cluster").alias("key_b"))
    )
    edges = nn_edges.unionByName(no_edges)
    comp = connected_components(
        edges, src="key_a", dst="key_b", checkpoint_dir=checkpoint_dir
    )

    new_assign = (
        new.join(comp, new["norm_key"] == comp["node"], "left")
        .select(
            "norm_key",
            F.coalesce("component", "norm_key").alias("cluster_id"),
        )
    )
    # relabel map: old cluster ids that appear in the new graph; every
    # other old cluster is untouched (touched-cluster-sized -> AQE
    # broadcasts the join)
    relabel = comp.select(
        F.col("node").alias("cluster_id"),
        F.col("component").alias("new_cluster_id"),
    )
    old_updated = old_map.join(relabel, "cluster_id", "left").select(
        "norm_key",
        F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id"),
    )
    # a batch key may duplicate an old key (same entity re-crawled):
    # keep one row per key — assignments agree by construction (the
    # dist-0 edge puts the new key in its old cluster's component)
    return old_updated.unionByName(new_assign).groupBy("norm_key").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def incremental_resolve(
    resolved: DataFrame,
    new_pages: DataFrame,
    k: int = 2,
    damerau: bool = True,
    jw_floor: float = 0.0,
    jaccard_floor: float = 0.0,
    algo: str = "passjoin",
    sig_cap: int = 1000,
    max_len: int = 96,
    checkpoint_dir: str | None = None,
    use_html_title: bool = False,
) -> DataFrame:
    """Page-level incremental resolve: ``(url, norm_key, cluster_id)``
    for old ∪ new urls — the updated full assignment, row-identical to
    ``resolve(old_pages ∪ new_pages)`` under the same match parameters
    (pinned by test).

    ``resolved`` is the (url, norm_key, cluster_id) output of a prior
    ``resolve`` / ``incremental_resolve``; ``new_pages`` is a
    pages-shaped batch (url, warc_ts, html, text, lang).
    """
    normalized_new = normalize_pages(new_pages, use_html_title=use_html_title)
    assign = incremental_components(
        resolved,
        normalized_new.select("norm_key"),
        k=k,
        damerau=damerau,
        jw_floor=jw_floor,
        jaccard_floor=jaccard_floor,
        algo=algo,
        sig_cap=sig_cap,
        max_len=max_len,
        checkpoint_dir=checkpoint_dir,
    )
    urls = resolved.select("url", "norm_key").unionByName(
        normalized_new.select("url", "norm_key")
    ).distinct()
    return urls.join(assign, "norm_key").select("url", "norm_key", "cluster_id")
