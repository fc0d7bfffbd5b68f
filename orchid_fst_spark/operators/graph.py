"""Link-graph analytics for web corpora: degree statistics and
fixed-iteration PageRank (Brin & Page, WWW'98).

Why this lives in a training-data engine: domain/page authority is a
standard corpus-quality weighting signal for web-scale LLM corpora
(link-centrality filtering of Common-Crawl-style crawls), and the link
graph is the one corpus view the rest of the operator inventory
(text/dedup/similarity families) does not cover.

Scale notes (100 TB of edges):
- ``degree_stats`` is a union-tag + ONE hash aggregate — a single
  shuffle of (node, 0/1) longs, never two aggregates + an outer join.
- ``pagerank`` does one shuffle on ``dst`` per iteration (the contrib
  aggregate); the edge frame is joined with out-degrees ONCE and
  persisted, so iterations re-scan the cached (src, dst, outdeg) frame
  instead of recomputing it.  Per-iteration scalars (dangling mass,
  node count) travel as broadcast one-row frames.
- Rank/score frames are lineage-TRUNCATED each iteration
  (``localCheckpoint(eager=True)``, or a parquet round-trip under
  ``checkpoint_dir`` — the cluster-reliable form) because each
  iteration reads the previous frame twice (dangling mass +
  contributions / normalizer + score join): an un-truncated double
  reference doubles the ANALYZED plan tree per iteration and AQE's
  per-stage re-planning goes superlinear (measured on ``hits``: 105 s
  for 3 iterations at sf0.1 vs 6.6 s truncated; ``persist()`` alone
  makes it worse — it eagerly plans the doubled tree per call).
  Truncation costs one node-sized materialization job per iteration;
  the long-lived frames that ARE persisted (edges, nodes) register
  with util.storage for release.  localCheckpoint data is freed when
  the RDD is garbage collected (same lifecycle as
  ``er.clustering.connected_components``).

Cross-engine determinism: ranks are double sums whose order Spark does
not fix; the standard recipe is followed — iterate
unrounded, round to ``round_dp`` only on output, like
``ranking.lm_doc_logprob``.  With iterations fixed and small, ulp noise
stays ~1e-12 relative, far inside the 6-dp output grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util.storage import cut, maybe_persist as _maybe_persist


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, out_degree, in_degree) in ONE hash aggregate: tag each
    edge endpoint with (1,0)/(0,1) via union-all, then a single
    groupBy(node) sum — one shuffle of 8-byte ids, no outer join of two
    aggregates.  Nodes appearing only as a source have in_degree 0 and
    vice versa (every endpoint is emitted)."""
    out_tag = edges.select(
        F.col(src).alias("node"),
        F.lit(1).alias("o"),
        F.lit(0).alias("i"),
    )
    in_tag = edges.select(
        F.col(dst).alias("node"),
        F.lit(0).alias("o"),
        F.lit(1).alias("i"),
    )
    return (
        out_tag.unionAll(in_tag)
        .groupBy("node")
        .agg(
            F.sum("o").alias("out_degree"),
            F.sum("i").alias("in_degree"),
        )
    )


def extract_links(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    url_re: str | None = None,
) -> DataFrame:
    """Extract the outbound link list from document text: one row per
    URL occurrence as ``(src_doc, url, host)`` — the text→graph bridge
    that feeds ``degree_stats`` / ``pagerank`` / ``hits`` with a REAL
    edge list (src_doc/host bipartite, or host-level after a host-side
    self-join) instead of a pre-extracted one.

    The pattern defaults to the engine-wide ``functions.text.URL_RE``
    and the host comes from ``functions.normalize.url_host`` — both in
    the Java∩RE2∩DuckDB common dialect, so the extraction is
    oracle-reproducible.  Pure map-side (regexp_extract_all + explode,
    ZERO exchanges); output size is the inherent link count."""
    from ..functions.normalize import url_host
    from ..functions.text import URL_RE

    pattern = url_re if url_re is not None else URL_RE
    return (
        docs.select(
            F.col(id_col).alias("src_doc"),
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
            ).alias("url"),
        )
        .withColumn("host", url_host("url"))
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    round_dp: int | None = 6,
    storage: str | None = "MEMORY_AND_DISK",
    checkpoint_dir: str | None = None,
    truncate: bool = True,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM'99) for a FIXED
    number of power iterations — the link-analysis complement of
    ``pagerank`` (a page can be a good directory of quality pages —
    hub — without being an authority itself; both are standard
    corpus-weighting signals).

    Sum-normalized variant: each iteration computes

        auth'(v) = sum_{u->v} hub(u)        then auth = auth'/Σauth'
        hub'(u)  = sum_{u->v} auth(v)       then hub  = hub'/Σhub'

    (the classical L2 normalization only rescales each vector; the L1
    form is used here because both scores then sum to exactly 1 and
    the division count per iteration is the same — documented
    deviation, deterministic either way for fixed iterations).  Nodes
    with no in-edges have auth 0; nodes with no out-edges have hub 0.
    Initial hub mass is uniform 1/N over the distinct endpoint set.

    Returns ``(node, hub, auth)`` rounded to ``round_dp`` decimals.

    Plan shape: the edge frame is persisted once; each iteration is one
    hash aggregate on ``dst`` (auth) + one on ``src`` (hub) against the
    node-sized score frame (AQE broadcasts it into the edge join at web
    scale).  Two HITS-specific deviations from ``pagerank``'s loop,
    both forced by HITS touching every frame twice per half-iteration
    (normalizer + score join) where PageRank reads its rank frame
    twice per FULL iteration:

    - the normalizers come back to the driver as Python floats (one
      single-row action each, 2·iterations tiny jobs) instead of
      broadcast one-row frames: the broadcast form made each raw-score
      frame doubly referenced and the analyzed plan tree grew 4x per
      iteration — AQE's per-stage re-planning then went superlinear
      (measured at sf0.1: 105 s for 3 iterations vs sub-linear with
      scalars; eagerly persisting the raw frames made it WORSE, since
      each ``persist()`` pays the planning of the doubled tree),
    - each iteration's score frame is lineage-truncated with
      ``localCheckpoint`` (or a parquet round-trip under
      ``checkpoint_dir`` — the cluster-reliable form, same contract as
      ``er.clustering.connected_components``), so every job in the
      loop plans a CONSTANT-size tree regardless of the iteration
      count.  The raw-score frames are persisted via ``storage`` (the
      normalizer action populates the cache, the score join reuses
      it)."""
    if iterations < 1:
        raise ValueError("need iterations >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = _maybe_persist(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct(),
        storage,
    )
    n_df = F.broadcast(nodes.agg(F.count("*").cast("double").alias("nn")))
    e2 = _maybe_persist(e, storage)

    def _cut(df: DataFrame, name: str, i: int) -> DataFrame:
        if not truncate:  # plan-audit knob, same contract as pagerank's
            return df
        return cut(df, f"{checkpoint_dir}/hits_{name}_{i}" if checkpoint_dir else None)[0]

    hubs = _cut(
        nodes.crossJoin(n_df).select(
            "node", (F.lit(1.0) / F.col("nn")).alias("hub")
        ),
        "hub",
        0,
    )
    auths = None
    for i in range(1, iterations + 1):
        a_raw = _maybe_persist(
            e2.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("ar")),
            storage,
        )
        sa = (
            a_raw.agg(F.coalesce(F.sum("ar"), F.lit(0.0)).alias("s")).first()["s"]
        )
        auths = _cut(
            nodes.join(a_raw.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.coalesce("ar", F.lit(0.0)) / F.lit(float(sa))
                    if sa != 0.0
                    else F.lit(0.0)
                ).alias("auth"),
            ),
            "auth",
            i,
        )
        if storage and truncate:
            # the eager _cut materialized auths; the cached raw frame
            # has served both its consumers (normalizer action + score
            # join) — release it, or 2*iterations cache entries pile up
            # until release_persisted() (ADVICE r3)
            a_raw.unpersist()
        h_raw = _maybe_persist(
            e2.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("hr")),
            storage,
        )
        sh = (
            h_raw.agg(F.coalesce(F.sum("hr"), F.lit(0.0)).alias("s")).first()["s"]
        )
        hubs = _cut(
            nodes.join(h_raw.withColumnRenamed("src", "node"), "node", "left")
            .select(
                "node",
                (
                    F.coalesce("hr", F.lit(0.0)) / F.lit(float(sh))
                    if sh != 0.0
                    else F.lit(0.0)
                ).alias("hub"),
            ),
            "hub",
            i,
        )
        if storage and truncate:
            h_raw.unpersist()

    out = hubs.join(auths, "node")
    if round_dp is not None:
        out = out.select(
            "node",
            F.round("hub", round_dp).alias("hub"),
            F.round("auth", round_dp).alias("auth"),
        )
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    alpha: float = 0.85,
    round_dp: int | None = 6,
    storage: str | None = "MEMORY_AND_DISK",
    checkpoint_dir: str | None = None,
    truncate: bool = True,
) -> DataFrame:
    """Classic PageRank with dangling-mass redistribution, run for a
    FIXED number of power iterations (deterministic output — no
    convergence test, so two engines and two runs agree exactly).

    Semantics per iteration (rank mass sums to 1 throughout):

        rank'(v) = (1-alpha)/N
                   + alpha * ( sum_{u->v} rank(u)/outdeg(u)
                               + dangling_mass/N )

    where ``dangling_mass`` is the total rank of nodes with no
    out-edges and N the number of distinct nodes (union of both edge
    endpoints).  Parallel edges contribute once each (a multigraph
    caller dedups first if that is not wanted).

    Returns (node, rank), rank rounded to ``round_dp`` decimals
    (``None`` = unrounded).

    Plan shape: the (src, dst, outdeg) frame is materialized once;
    every iteration is one equi-join of that frame with the node-sized
    rank frame + one hash aggregate on ``dst`` + two broadcast one-row
    scalar joins.  The rank frame is node-sized — at web scale orders
    of magnitude smaller than the edge frame — so AQE typically
    broadcasts it into the edge join, leaving the contrib aggregate as
    the only shuffle per iteration.

    Each iteration's rank frame is lineage-TRUNCATED (localCheckpoint,
    or a parquet round-trip under ``checkpoint_dir`` — the
    cluster-reliable form, same contract as
    ``er.clustering.connected_components``): the rank frame is
    referenced twice per iteration (dangling mass + contributions), so
    an un-truncated lineage doubles the analyzed plan tree every
    iteration and AQE's per-stage re-planning goes superlinear in the
    iteration count (the failure mode measured on ``hits``, which hits
    it at 4x per iteration).  Truncation costs one materialization job
    per iteration and keeps every planned tree constant-size, so the
    iteration count can grow freely.  ``truncate=False`` disables the
    cut — ONLY for plan auditing (gen_plans asserts the iteration
    body's physical plan, which truncation would hide behind a
    checkpointed leaf); never run real iteration counts with it."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = _maybe_persist(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct(),
        storage,
    )
    n_df = F.broadcast(
        nodes.agg(F.count("*").cast("double").alias("nn"))
    )
    outdeg = e.groupBy("src").agg(
        F.count("*").cast("double").alias("outdeg")
    )
    # edge frame enriched once, re-scanned every iteration
    e2 = _maybe_persist(e.join(outdeg, "src"), storage)
    dangling_nodes = _maybe_persist(
        nodes.join(
            outdeg.select(F.col("src").alias("node")), "node", "left_anti"
        ),
        storage,
    )

    def _cut(df: DataFrame, i: int) -> DataFrame:
        if not truncate:
            return df
        return cut(df, f"{checkpoint_dir}/pagerank_rank_{i}" if checkpoint_dir else None)[0]

    ranks = _cut(
        nodes.crossJoin(n_df).select(
            "node", (F.lit(1.0) / F.col("nn")).alias("rank")
        ),
        0,
    )
    for _i in range(1, iterations + 1):
        dm_df = F.broadcast(
            dangling_nodes.join(ranks, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contrib = (
            e2.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("c"))
        )
        new_ranks = (
            nodes.join(
                contrib.withColumnRenamed("dst", "node"), "node", "left"
            )
            .crossJoin(dm_df)
            .crossJoin(n_df)
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(alpha)) / F.col("nn")
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") / F.col("nn")
                    )
                ).alias("rank"),
            )
        )
        # truncate lineage: the rank frame is read twice next iteration
        # (dangling mass + contributions) — without the cut the analyzed
        # tree doubles per iteration and AQE planning goes superlinear
        ranks = _cut(new_ranks, _i)

    if round_dp is not None:
        ranks = ranks.select("node", F.round("rank", round_dp).alias("rank"))
    return ranks
