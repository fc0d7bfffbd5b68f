"""Transitive clustering: connected components over the match-edge list.

``connected_components`` canonicalises the edges (small -> large, no
self loops, distinct) and cuts them once through ``util.storage.cut``,
whose job also observes their row count.  Small graphs are finished on
the driver: at or below ``_DRIVER_MAX_EDGES`` canonical edges the cut
is collected through Arrow, labelled with numpy (root hooking and
pointer jumping over ids numbered in sorted order) and returned as a
local relation.  That is the common ER case — blocking and scoring
leave a few thousand edges, where each Spark job costs more than the
whole numpy labelling — and the budget keeps the collect far below
``spark.driver.maxResultSize``.

Larger graphs run alternating large-star / small-star rounds (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public literature, see PAPERS.md): DataFrame groupBy/join rounds that
converge in O(log n) rounds even for pathological chain graphs (hash-min
label propagation needs O(diameter)).  Each round is one shuffle on node
id; each round's edge set goes through ``cut`` (localCheckpoint or
parquet), which truncates lineage so the iteration count never bloats
the plan, and whose job also observes the row count and digest that
decide convergence.

Node ids are kept as their natural values (urls / norm_keys / bigint
ids) and compared in Spark's order — no id re-mapping pass,
deterministic cluster representatives (min key in the component), no
64-bit hash collision risk at 10^12 nodes.  Both paths give the same
labels: Arrow sorts strings by their UTF-8 bytes, which is Spark's
binary order.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from ..util.storage import cut

#: star rounds before ``connected_components`` gives up; O(log n)
#: rounds suffice (a shuffled 64-node path converges in 6)
_MAX_ROUNDS = 25

#: canonical edges at or below which ``connected_components`` labels the
#: round-0 cut on the driver instead of running star rounds.  Measured
#: on perfbench ``cluster_graph``-shaped graphs (8-char ids, local[4],
#: 3g driver), warm pass, driver finish vs star rounds: 44k edges 0.7 s
#: vs 6.3 s wall, 1.7 vs 13.8 CPU-s; 250k 3.0 vs 19.6 s, 5.0 vs 52.6;
#: 1M 11.7 vs 52.7 s, 17.1 vs 149.0; 4M 42.2 vs 217.0 s, 71.0 vs 638.6.
#: The driver wins at every size, so memory sets the budget: at 1M the
#: collected Arrow edges are ~24 MB (~200 MB for 96-char keys, a fifth
#: of the default 1 GB ``spark.driver.maxResultSize``) and the Python
#: driver grows ~200 MB (~570 MB at 4M, where the JVM sat at its heap)
_DRIVER_MAX_EDGES = 1_000_000


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge small -> large, drop self loops, dedup."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Return (node, component) with component = lexicographic min node
    id reachable — deterministic, iteration-order independent.  The
    node column keeps the input's type.

    The canonical edges are cut once (round 0), and that cut's observed
    row count picks the path.  At or below ``_DRIVER_MAX_EDGES`` the
    labels are computed on the driver (``_driver_components``) and
    returned as a local relation: the call runs the cut's jobs and one
    collect.  Above it, star rounds run on the executors: alternate
    large-star (every neighbor > v links to v's minimum neighborhood
    node) and small-star (neighbors <= v link to the minimum) until the
    edge set stops changing: a round has
    converged when its cut's ``(rows, digest)`` equals the previous
    cut's (the count and xor-of-row-hashes the cut's own job observes,
    so convergence costs no extra job; edges are distinct, so only a
    64-bit collision could hide a change).  Raises ``RuntimeError`` if
    it still changes after ``_MAX_ROUNDS`` rounds: the labelling read
    off an unconverged edge set would be wrong.  Under
    ``checkpoint_dir`` each round's edges are written to
    ``cc_edges_{round}``.

    Neither star step drops a node of the input edge set, and at the
    fixpoint every edge is ``(component min, member)``, so the members
    plus the distinct roots are exactly one row per node.  On either
    path self loops are dropped first: a node seen only in a self loop
    is absent.
    """
    e = _canonical(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))

    def _cut(df: DataFrame, i: int):
        return cut(df, f"{checkpoint_dir}/cc_edges_{i}" if checkpoint_dir else None)

    e, rows, digest = _cut(e, 0)
    if rows <= _DRIVER_MAX_EDGES:
        return _driver_components(e)
    fp_prev = [rows, digest]
    for i in range(1, _MAX_ROUNDS + 1):
        # -- large-star --------------------------------------------------
        # neighborhood of v including v; m = min; link every neighbor > v to m
        nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
        mins = mins.withColumn("m", F.least("src", "m"))
        large = (
            nbrs.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("m").alias("src"), F.col("dst").alias("dst"))
        )
        e1 = _canonical(large)
        # -- small-star --------------------------------------------------
        # for each v: neighbors <= v (plus v) all link to the minimum
        directed = e1  # already small -> large as (src < dst)
        nbr_small = directed.select(
            F.col("dst").alias("v"), F.col("src").alias("u")
        )
        mins2 = nbr_small.groupBy("v").agg(F.min("u").alias("m"))
        small = (
            nbr_small.join(mins2, "v")
            .select(F.col("m").alias("src"), F.col("u").alias("dst"))
            .union(mins2.select(F.col("m").alias("src"), F.col("v").alias("dst")))
        )
        e, *fp_new = _cut(_canonical(small), i)
        if fp_new == fp_prev:
            break
        fp_prev = fp_new
    else:
        raise RuntimeError(
            f"connected_components: edge set still changing after "
            f"{_MAX_ROUNDS} rounds"
        )

    # at the fixpoint every edge is (component min, member)
    members = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = e.select(F.col("src").alias("node")).distinct()
    return members.union(roots.withColumn("component", F.col("node")))


def _driver_components(e: DataFrame) -> DataFrame:
    """Label a canonical edge set on the driver: collect it (Arrow),
    number its nodes in sorted order (``dictionary_encode``, then the
    rank of each dictionary entry under ``sort_indices``), then hook
    roots and jump pointers until every edge's endpoints share a root.

    ``parent[v] <= v`` always holds and stays inside v's component: a
    root is only ever hooked, through ``np.minimum.at``, to the smaller
    root of an edge's other endpoint, and pointer jumping only follows
    parents.  At the fixpoint a component has one root, and its minimum
    node, which has no smaller parent, is that root.  Node numbers
    follow the ids' sort order: for strings Arrow's byte order, which
    is Spark's UTF-8 binary order, so the labels equal the star rounds'
    lexicographic minimum.  The ids stay Arrow arrays throughout (no
    Python object per id)."""
    tbl = e.toArrow()
    m = tbl.num_rows
    ends = (
        pa.chunked_array(tbl["src"].chunks + tbl["dst"].chunks, tbl["src"].type)
        .combine_chunks()
        .dictionary_encode()
    )
    order = pc.sort_indices(ends.dictionary).to_numpy()
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    idx = rank[ends.indices.to_numpy()]
    nodes = ends.dictionary.take(order)
    a, b = idx[:m], idx[m:]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            break
        ra, rb = ra[split], rb[split]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        jumped = parent[parent]
        while not np.array_equal(jumped, parent):
            parent, jumped = jumped, jumped[jumped]
    t = e.schema["src"].dataType
    schema = StructType([StructField("node", t), StructField("component", t)])
    labels = pa.table({"node": nodes, "component": nodes.take(parent)})
    # a LocalRelation, empty or not (an empty pandas frame would not be)
    return e.sparkSession.createDataFrame(labels, schema)


def star_clusters(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-pass deterministic star clustering — the standard
    chaining-free alternative to transitive closure for ER cluster
    formation (Aslam, Pelekhov & Rus, "The Star Clustering Algorithm",
    JGAA 2004; evaluated for record linkage by Hassanzadeh et al.,
    "Framework for Evaluating Clustering Algorithms in Duplicate
    Detection", VLDB 2009 — public literature, see PAPERS.md).

    Where ``connected_components`` merges everything reachable (one bad
    edge chains two big entities together), star clustering only groups
    records around locally dominant hub records:

    - ``deg(v)`` = number of match-edge neighbors.
    - ``v`` is a CENTER iff it beats every neighbor under the total
      order (deg DESC, node ASC) — the parallel local-maximum variant
      of the paper's sequential highest-degree-first greedy sweep, so
      two adjacent nodes are never both centers (star property).
    - Every non-center attaches to its best adjacent center under the
      same order; a non-center with NO adjacent center stays a
      singleton (the documented trade vs the greedy sweep, which would
      promote it in a later pass — at web scale one pass, no chaining).

    Deterministic under any partitioning: the order (deg DESC, node
    ASC) is total, so centers and assignments are unique — no float
    scores involved.  Returns ``(node, center)`` for every node that
    appears in the edge list; callers left-join the full record set and
    coalesce to self for isolated records, exactly like
    ``connected_components`` consumers.

    Plan shape: one degree aggregate, two node-keyed equi-joins to
    decorate edge endpoints, and two ``min(struct)`` aggregates with
    map-side partial combine (the struct ``(-deg, node)`` makes MIN
    implement "highest degree, then smallest node") — no windows, no
    iteration, no driver collection; every shuffle is on node id.
    Reference grounding: consumes the same match-edge list the
    reference's fuzzy semantics define (fst_core/fst.h:16-22 fuzzy
    match contract); clustering policy itself is from the public ER
    literature, the reference stops at lookup hits.
    """
    e = _canonical(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select(F.col("src").alias("v"), F.col("dst").alias("u"))
    deg = sym.groupBy(F.col("v").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    # decorate both endpoints with degree; rank = (-deg, node) so MIN
    # picks highest degree with smallest-node tie-break
    nb = (
        sym.join(deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v")), "v")
        .join(deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u")), "u")
    )
    best_nbr = nb.groupBy("v", "deg_v").agg(
        F.min(F.struct((-F.col("deg_u")).alias("nd"), F.col("u").alias("n"))).alias(
            "bn"
        )
    )
    centers = best_nbr.filter(
        F.struct((-F.col("deg_v")).alias("nd"), F.col("v").alias("n")) < F.col("bn")
    ).select(F.col("v").alias("c"))
    # attach every node to its best adjacent center (centers attach to
    # themselves below; non-centers with no adjacent center fall out of
    # the join and resolve to self)
    att = (
        nb.join(centers, nb["u"] == centers["c"])
        .groupBy("v")
        .agg(
            F.min(
                F.struct((-F.col("deg_u")).alias("nd"), F.col("u").alias("n"))
            ).alias("bc")
        )
        .select("v", F.col("bc.n").alias("center"))
    )
    nodes = deg.select(F.col("node").alias("v"))
    return (
        nodes.join(centers.withColumnRenamed("c", "v"), "v", "left_semi")
        .select(F.col("v").alias("node"), F.col("v").alias("center"))
        .unionByName(
            nodes.join(centers, nodes["v"] == centers["c"], "left_anti")
            .join(att, "v", "left")
            .select(
                F.col("v").alias("node"),
                F.coalesce("center", F.col("v")).alias("center"),
            )
        )
    )


def _hash_local_minima(sym: DataFrame, pi) -> DataFrame:
    """Active nodes whose hash beats every active neighbor's — the
    per-round pivot/center selection shared by ``pivot_clusters`` and
    ``canopy_clusters`` (one neighbor-min aggregate + a filter;
    eagerly checkpointed since every consumer reads it >= twice)."""
    nbmin = sym.groupBy("v").agg(F.min(pi(F.col("u"))).alias("mn"))
    return cut(
        nbmin.filter(pi(F.col("v")) < F.col("mn")).select(F.col("v").alias("c"))
    )[0]


def pivot_clusters(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    seed: str = "pivot",
) -> DataFrame:
    """Round-synchronous pivot (correlation) clustering — the third
    cluster-formation policy next to ``connected_components`` (chains)
    and ``star_clusters`` (degree hubs), from the KwikCluster line of
    work (Ailon, Charikar & Newman, JACM 2008; parallel rounds per
    Chierichetti, Dalvi & Kumar, KDD 2014; lock-free round-synchronous
    assignment as in ClusterWild!, Pan et al., NIPS 2015 — public
    literature, see PAPERS.md).  Every cluster is a pivot plus a subset
    of its DIRECT neighbors (radius 1 by construction), and the pivot
    order is a hash — unbiased by degree, the property the 3-approx
    analysis of KwikCluster rests on.

    Deterministic variant: the random order is ``pi(v) = md5('{seed}|'
    || v)`` (identical hex in any engine).  Per round, over the still-
    active subgraph:

    - pivots  = nodes whose pi beats every active neighbor's pi (the
      parallel local-minima sweep — per Blelloch, Fineman & Shun,
      PPoPP 2012, iterating local minima yields EXACTLY the sequential
      greedy pivot set under pi);
    - every active non-pivot adjacent to a pivot joins its min-pi
      adjacent pivot THIS round (the round-synchronous rule: a node
      adjacent to both a round-r pivot and a lower-pi round-(r+1) pivot
      goes to the round-r one, where sequential KwikCluster would pick
      the later lower-pi pivot — the documented ClusterWild!-style
      deviation, made deterministic);
    - clustered nodes leave the graph.

    After ``rounds`` rounds (md5 order is effectively random, so the
    expected round count is O(log n); 8 covers graphs far beyond any
    realistic blocking output — the loop also exits early the moment
    the active graph drains) any still-active node becomes a singleton,
    a bounded-compute contract the unrolled-CTE oracle replays exactly.

    Plan shape per round: one neighbor-min aggregate, one pivot
    equi-join + min_by aggregate, two anti-joins to shrink the edge
    frame — every shuffle on node id, no windows; ``sym`` and the
    per-round output go through ``cut`` so the plan tree stays
    constant-size across rounds (the pagerank-loop lesson), and the
    loop's emptiness test reads the row count that ``sym``'s cut
    observed (no extra job).  Returns
    ``(node, cluster)`` for every node in the edge list; callers
    left-join the full record set and coalesce to self, exactly like
    ``connected_components`` / ``star_clusters`` consumers."""
    if rounds < 1:
        raise ValueError("need rounds >= 1")

    def _pi(c) -> F.Column:
        return F.md5(F.concat(F.lit(f"{seed}|"), c))

    e = _canonical(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    sym, n_sym, _ = cut(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .select(F.col("src").alias("v"), F.col("dst").alias("u"))
    )
    all_nodes = cut(sym.select("v").distinct())[0]

    clustered: list[DataFrame] = []
    for _ in range(rounds):
        if not n_sym:
            break
        pivots = _hash_local_minima(sym, _pi)
        assigned = (
            sym.join(pivots, sym["u"] == pivots["c"])
            .groupBy("v")
            .agg(
                F.min(F.struct(_pi(F.col("c")).alias("h"), F.col("c").alias("c"))).alias("bc")
            )
            .select("v", F.col("bc.c").alias("cluster"))
        )
        this_round = cut(
            pivots.select(F.col("c").alias("node"), F.col("c").alias("cluster"))
            .unionByName(assigned.select(F.col("v").alias("node"), "cluster"))
        )[0]
        clustered.append(this_round)
        gone = this_round.select("node")
        sym, n_sym, _ = cut(
            sym.join(gone, sym["v"] == gone["node"], "left_anti")
            .join(gone, sym["u"] == gone["node"], "left_anti")
        )

    out = clustered[0] if clustered else None
    for fr in clustered[1:]:
        out = out.unionByName(fr)
    leftovers = all_nodes
    if out is not None:
        leftovers = all_nodes.join(
            out, all_nodes["v"] == out["node"], "left_anti"
        )
    leftovers = leftovers.select(
        F.col("v").alias("node"), F.col("v").alias("cluster")
    )
    return leftovers if out is None else out.unionByName(leftovers)


def golden_records(
    df: DataFrame,
    cluster_col: str = "component",
    prefer: list | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Survivorship (golden-record selection): ONE canonical record per
    cluster, chosen by the ``prefer`` ordering — the stage after
    transitive clustering where duplicates collapse into the record the
    downstream pipeline keeps (longest text, freshest timestamp,
    highest quality...).

    ``prefer``: list of Columns compared lexicographically where LARGER
    wins; make the final element unique within a cluster (e.g. the key
    itself, or ``-id`` for smallest-id-wins on numeric ids) so the
    choice is deterministic under any partitioning.  String columns
    cannot be inverted — if you need smallest-string-wins ahead of
    other keys, precompute an orderable surrogate.

    Plan: a single ``max_by(struct(row), struct(prefer))`` aggregate —
    guaranteed map-side partial combine (each task keeps one candidate
    per cluster, the shuffle carries one row per (task, cluster)),
    unlike a row_number window which must sort full clusters after the
    exchange.  Output: (cluster, n_members, <record columns>).
    """
    if prefer is None:
        raise ValueError("prefer: need at least one ordering column")
    cols = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != cluster_col
    ]
    clash = {cluster_col, "n_members"} & set(cols)
    if clash:
        raise ValueError(
            f"record columns {sorted(clash)} collide with the output's "
            "cluster/n_members columns — rename or exclude via keep_cols"
        )
    rec = F.max_by(F.struct(*[F.col(c) for c in cols]), F.struct(*prefer))
    out = df.groupBy(cluster_col).agg(
        rec.alias("_rec"), F.count("*").cast("long").alias("n_members")
    )
    return out.select(cluster_col, "n_members", "_rec.*")


def repair_clusters(
    assignment: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
    src: str = "src",
    dst: str = "dst",
    min_density_num: int = 1,
    min_density_den: int = 2,
) -> DataFrame:
    """Cohesion-gated cluster repair: clusters whose direct-edge density
    falls below ``min_density_num/min_density_den`` are RE-FORMED with
    ``star_clusters`` over their own intra-cluster edges; dense clusters
    pass through untouched.  This operationalizes the Hassanzadeh
    VLDB'09 reading of the density lens — transitive closure for the
    near-cliques, a chaining-free policy exactly where chaining is the
    diagnosed failure — without paying star formation over the whole
    graph.

    Returns ``(node, cluster, repaired)`` covering every assigned node:
    kept nodes carry their original cluster id, repaired nodes their
    star center (isolated-in-subgraph nodes become singletons labeled
    by themselves).  The density gate is the exact integer
    cross-multiplication ``n_edges · den < num · possible`` — float-
    free, bit-identical in any engine; singletons and 2-member clusters
    (density 1 by construction) are never repaired.

    Precondition: cluster ids are drawn from member node ids (the
    CC/star/pivot labeling convention) — repaired labels are member
    node ids of LOW clusters, so they can never collide with a kept
    cluster's label.

    Plan shape: one ``cluster_cohesion`` pass (cluster-count-sized
    after its endpoint joins), a broadcast-sized low-cluster semi-join
    to split the assignment, star formation over the low subgraph only,
    and a union — no iteration.
    """
    coh = cluster_cohesion(
        assignment, edges, node_col=node_col, cluster_col=cluster_col,
        src=src, dst=dst,
    )
    low = coh.filter(
        F.col("n_edges") * F.lit(int(min_density_den))
        < F.lit(int(min_density_num)) * F.col("possible")
    ).select(F.col(cluster_col).alias("_lc"))
    asg = assignment.select(
        F.col(node_col).alias("node"), F.col(cluster_col).alias("cluster")
    )
    low_nodes = asg.join(low, asg["cluster"] == low["_lc"]).select(
        "node", "cluster"
    )
    kept = asg.join(low, asg["cluster"] == low["_lc"], "left_anti").select(
        "node", "cluster", F.lit(False).alias("repaired")
    )
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    intra = (
        e.join(low_nodes.withColumnRenamed("node", "_s"), "_s")
        .withColumnRenamed("cluster", "_ca")
        .join(low_nodes.withColumnRenamed("node", "_d"), "_d")
        .filter(F.col("_ca") == F.col("cluster"))
        .select(F.col("_s").alias("src"), F.col("_d").alias("dst"))
    )
    stars = star_clusters(intra, src="src", dst="dst")
    rebuilt = (
        low_nodes.join(stars, "node", "left")
        .select(
            "node",
            F.coalesce("center", "node").alias("cluster"),
            F.lit(True).alias("repaired"),
        )
    )
    return kept.unionByName(rebuilt)


def fuse_attributes(
    df: DataFrame,
    cluster_col: str = "component",
    attrs: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Attribute-level data fusion: resolve each attribute's value per
    cluster by (weighted) majority vote — the conflict-resolution stage
    of record linkage (Bleiholder & Naumann, "Data Fusion", ACM CSUR
    2008; Dong & Naumann VLDB'09 tutorial).  Complements
    ``golden_records``: that keeps one whole record, this builds a
    composite — each attribute fused independently, so the entity can
    carry r1's name and r2's phone.

    One LONG-form row per (cluster, attr): ``(cluster, attr, value,
    votes, total_votes, support)`` with ``value`` the winner under
    (votes DESC, value ASC — deterministic tie-break), ``support`` =
    votes/total_votes rounded 6dp.  Null attribute values do not vote
    (the standard convention); a (cluster, attr) whose values are all
    null emits no row.

    ``weight_col``: optional INTEGER per-row source weight (a source-
    reliability prior); integer weights keep the vote counts exact in
    any engine.  Default: one row, one vote.

    Plan shape: one melt (explode(array(struct…))) over the clustered
    frame, ONE (cluster, attr, value) count aggregate, then the winner
    as ONE ``min_by(struct(value, votes), struct(-votes, value))``
    aggregate per (cluster, attr) — map-side partial combine, no
    window sort (the ``golden_records`` argument); total votes ride
    the same aggregate as a ``sum``.  Attribute values are cast to
    string for the melt (document per-attr types upstream); at web
    scale the only shuffles carry (cluster, attr, value) counts.
    """
    if not attrs:
        raise ValueError("attrs: need at least one attribute column")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    melted = df.select(
        F.col(cluster_col).alias("cluster"),
        w.alias("_w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("attr"),
                        F.col(a).cast("string").alias("value"),
                    )
                    for a in attrs
                ]
            )
        ).alias("_m"),
    ).select("cluster", "_m.attr", "_m.value", "_w")
    counted = (
        melted.filter(F.col("value").isNotNull())
        .groupBy("cluster", "attr", "value")
        .agg(F.sum("_w").cast("long").alias("votes"))
    )
    fused = counted.groupBy("cluster", "attr").agg(
        F.min_by(
            F.struct(F.col("value"), F.col("votes")),
            F.struct((-F.col("votes")).alias("nv"), F.col("value")),
        ).alias("win"),
        F.sum("votes").cast("long").alias("total_votes"),
    )
    return fused.select(
        "cluster",
        "attr",
        F.col("win.value").alias("value"),
        F.col("win.votes").alias("votes"),
        "total_votes",
        F.round(F.col("win.votes") / F.col("total_votes"), 6).alias(
            "support"
        ),
    )


def fusion_em(
    df: DataFrame,
    cluster_col: str = "component",
    attrs: list[str] | None = None,
    source_col: str = "source",
    iters: int = 3,
) -> DataFrame:
    """Truth discovery: iterative source-reliability fusion (the
    TruthFinder / AccuVote construction — Yin, Han & Yu KDD'07; Dong,
    Berti-Équille & Srivastava VLDB'09).  ``fuse_attributes`` counts
    every row equally; here sources EARN weight: a value's confidence
    is the sum of its supporting sources' trust, the per-cell winner is
    the max-confidence value, and a source's trust is the fraction of
    its claims that agree with the current winners — iterated a fixed
    ``iters`` times from uniform trust (iteration 1 is therefore plain
    plurality; by iteration 3 a source that keeps disagreeing with the
    consensus has lost its vote weight).

    Claims are the DISTINCT (cluster, attr, source, value) assertions
    with non-null values.  One row per (cluster, attr):
    ``(cluster, attr, value, confidence, support)`` — ``confidence``
    the winner's integer trust-sum (micro-units), ``support`` its
    share of the cell's total confidence (6dp).

    Determinism (cross-engine): trust is held in integer MICRO-units —
    start 500000, update ``(2·matches·10⁶ + total) div (2·total)``
    (exact half-up integer rounding of matches/total), clamped to
    [1, 999999] (the EM clamp discipline: a source never hits hard 0,
    which would freeze it out irrecoverably); confidences are exact
    integer sums; winners break ties (confidence DESC, value ASC);
    ``support`` is ONE IEEE division rounded 6dp.  No float exists
    anywhere in the loop, so a DuckDB replay is a mechanical unrolled
    CTE (the ``er_fs_em`` pattern).

    Scale shape per iteration: claims ⋈ trust (source-count-sized —
    AQE broadcasts it), one (cluster, attr, value) confidence
    aggregate, one ``min_by`` winner aggregate, one source-agreement
    aggregate; the trust frame is ``localCheckpoint``-cut per
    iteration (the iterative-loop lesson), so every iteration plans a
    constant tree.
    """
    if not attrs:
        raise ValueError("attrs: need at least one attribute column")
    claims = (
        df.select(
            F.col(cluster_col).alias("cluster"),
            F.col(source_col).cast("string").alias("src"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(a).alias("attr"),
                            F.col(a).cast("string").alias("value"),
                        )
                        for a in attrs
                    ]
                )
            ).alias("_m"),
        )
        .select("cluster", "_m.attr", "_m.value", "src")
        .filter(F.col("value").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    trust = (
        claims.select("src")
        .distinct()
        .withColumn("t", F.lit(500000).cast("long"))
        .localCheckpoint(eager=True)
    )

    def _winners(tr: DataFrame) -> DataFrame:
        conf = (
            claims.join(tr, "src")
            .groupBy("cluster", "attr", "value")
            .agg(F.sum("t").cast("long").alias("conf"))
        )
        return conf.groupBy("cluster", "attr").agg(
            F.min_by(
                F.struct(F.col("value"), F.col("conf")),
                F.struct((-F.col("conf")).alias("nc"), F.col("value")),
            ).alias("win"),
            F.sum("conf").cast("long").alias("total_conf"),
        )

    win = None
    for _ in range(iters):
        win = _winners(trust)
        agree = (
            claims.join(
                win.select(
                    "cluster", "attr", F.col("win.value").alias("wv")
                ),
                ["cluster", "attr"],
            )
            .groupBy("src")
            .agg(
                F.count("*").cast("long").alias("total"),
                F.sum(
                    F.when(F.col("value") == F.col("wv"), 1).otherwise(0)
                ).cast("long").alias("matches"),
            )
        )
        trust = agree.select(
            "src",
            F.least(
                F.greatest(
                    F.call_function(
                        "div",
                        2 * F.col("matches") * F.lit(1000000)
                        + F.col("total"),
                        2 * F.col("total"),
                    ),
                    F.lit(1),
                ),
                F.lit(999999),
            ).cast("long").alias("t"),
        ).localCheckpoint(eager=True)

    return win.select(
        "cluster",
        "attr",
        F.col("win.value").alias("value"),
        F.col("win.conf").alias("confidence"),
        F.round(F.col("win.conf") / F.col("total_conf"), 6).alias(
            "support"
        ),
    )


def cluster_cohesion(
    assignment: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-cluster cohesion report: how much direct match evidence holds
    each transitive cluster together.  Connected components certify only
    a spanning tree — a chained cluster (a~b, b~c, but a and c share
    nothing) has density near the n−1 tree floor, a genuine entity's
    near-clique sits near 1.0.  This is the report you read to decide
    which clusters to re-form with ``star_clusters`` or route to
    clerical review (Hassanzadeh et al. VLDB'09 use exactly this
    density lens to compare dedup cluster generators).

    One row per non-singleton cluster: ``(cluster_id, n_members,
    n_edges, possible, density, is_tree)`` — ``n_edges`` counts distinct
    within-cluster match edges, ``possible`` = nC2, ``density`` their
    6dp ratio, ``is_tree`` flags the n−1 chain floor.

    Plan shape: edges canonicalized, each endpoint resolved by one
    node-keyed equi-join against the assignment (broadcast when the
    assignment is small, AQE otherwise), one per-cluster count, one join
    with cluster sizes.  Everything after the endpoint joins is
    cluster-count-sized.  Cross-cluster edges (endpoints resolved to
    different clusters — e.g. edges pruned away before clustering) are
    dropped; edges with an unassigned endpoint raise no error, they
    simply cannot pair.

    Determinism: counts are exact longs; density is one double division
    of two exact longs rounded 6dp (no accumulation order anywhere).
    """
    asg = assignment.select(
        F.col(node_col).alias("_n"), F.col(cluster_col).alias("_c")
    )
    e = _canonical(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    within = (
        e.join(asg.withColumnRenamed("_n", "src"), "src")
        .withColumnRenamed("_c", "_ca")
        .join(asg.withColumnRenamed("_n", "dst"), "dst")
        .withColumnRenamed("_c", "_cb")
        .filter(F.col("_ca") == F.col("_cb"))
        .select(F.col("_ca").alias(cluster_col))
    )
    edge_counts = within.groupBy(cluster_col).agg(
        F.count("*").cast("long").alias("n_edges")
    )
    sizes = (
        asg.groupBy(F.col("_c").alias(cluster_col))
        .agg(F.count("*").cast("long").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    joined = sizes.join(edge_counts, cluster_col, "left").withColumn(
        "n_edges", F.coalesce("n_edges", F.lit(0)).cast("long")
    )
    possible = F.call_function(
        "div", F.col("n_members") * (F.col("n_members") - 1), F.lit(2)
    )
    out = joined.withColumn("possible", possible.cast("long"))
    return out.select(
        cluster_col,
        "n_members",
        "n_edges",
        "possible",
        F.round(F.col("n_edges") / F.col("possible"), 6).alias("density"),
        (F.col("n_edges") == F.col("n_members") - 1).alias("is_tree"),
    )


def canopy_clusters(
    edges_loose: DataFrame,
    edges_tight: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    seed: str = "canopy",
) -> DataFrame:
    """Canopy clustering (McCallum, Nigam & Ungar, KDD 2000) — the
    classic cheap-metric pre-clustering: canopies OVERLAP (a record may
    belong to several), so the expensive comparison stage runs within
    canopies without the hard-partition recall loss of exclusive
    blocking.  Edge-based like the rest of the clustering menu: the
    caller supplies the LOOSE graph (cheap similarity >= T1 —
    membership) and the TIGHT graph (>= T2 — removal), from any blocker
    + cheap score; ``edges_tight`` must be a subset of ``edges_loose``
    (T2 >= T1 in similarity terms — the union is taken internally so a
    violating tight edge still grants membership).

    Deterministic sequential contract: under the md5 order ``pi(v) =
    md5('{seed}|' || v)``, sequential canopy processing (next unremoved
    point becomes a center; every point within T1 joins its canopy;
    points within T2 leave the pool) picks EXACTLY the iterated
    local-minima pivot set of the tight graph — the same
    Blelloch/Fineman/Shun argument as ``pivot_clusters``, since removal
    is "adjacent to an earlier center in E2".  So: centers = pivot
    rounds on ``edges_tight`` (one neighbor-min aggregate + two
    anti-joins per round, ``cut`` each round, whose observed row count
    is the emptiness test), then ONE semi-join
    of the symmetrized loose graph against the center set emits the
    overlapping memberships.  After ``rounds`` rounds any still-active
    node simply never centers: it keeps whatever memberships its loose
    edges to centers grant, and only if NO center is loose-adjacent
    does it fall back to a ``(v, v)`` self row (the bounded-compute
    contract the unrolled-CTE oracle replays; the loop exits early when
    the tight graph drains).

    Returns ``(node, canopy)`` — one row per membership, centers
    included as ``(c, c)``; nodes outside every canopy get ``(v, v)``."""
    if rounds < 1:
        raise ValueError("need rounds >= 1")

    def _pi(c) -> F.Column:
        return F.md5(F.concat(F.lit(f"{seed}|"), c))

    loose = _canonical(
        edges_loose.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).unionByName(
        _canonical(
            edges_tight.select(
                F.col(src).alias("src"), F.col(dst).alias("dst")
            )
        )
    ).distinct()
    tight = _canonical(
        edges_tight.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    lsym = cut(
        loose.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .union(loose.select(F.col("dst").alias("v"), F.col("src").alias("u")))
    )[0]
    tsym, n_sym, _ = cut(
        tight.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .union(tight.select(F.col("dst").alias("v"), F.col("src").alias("u")))
    )
    all_nodes = cut(lsym.select("v").distinct())[0]

    # tight-graph pivot rounds: centers + removal, no assignment
    sym = tsym
    # a node with loose edges but NO tight edges is never removed and
    # never blocked: it is a center by construction (sequential canopy
    # reaches it eventually) — seed the center set with them
    isolated = all_nodes.join(
        tsym.select("v").distinct(), "v", "left_anti"
    ).select(F.col("v").alias("c"))
    centers = cut(isolated)[0]
    for _ in range(rounds):
        if not n_sym:
            break
        pivots = _hash_local_minima(sym, _pi)
        centers = centers.unionByName(pivots)
        removed = cut(
            pivots.select(F.col("c").alias("node")).unionByName(
                sym.join(pivots, sym["u"] == pivots["c"])
                .select(F.col("v").alias("node"))
                .distinct()
            )
        )[0]
        prev_nodes = sym.select("v").distinct()
        sym, n_sym, _ = cut(
            sym.join(removed, sym["v"] == removed["node"], "left_anti")
            .join(removed, sym["u"] == removed["node"], "left_anti")
        )
        # a node whose every tight neighbor was just removed (without
        # being removed itself) can never be blocked again: sequential
        # canopy centers it when reached — add it now (removed nodes
        # never center, so these are mutually consistent)
        newly_isolated = cut(
            prev_nodes.join(
                removed, prev_nodes["v"] == removed["node"], "left_anti"
            )
            .join(sym.select("v").distinct(), "v", "left_anti")
            .select(F.col("v").alias("c"))
        )[0]
        centers = centers.unionByName(newly_isolated)
    centers = cut(centers)[0]

    member = lsym.join(
        centers, lsym["u"] == centers["c"]
    ).select(F.col("v").alias("node"), F.col("c").alias("canopy"))
    self_rows = centers.select(
        F.col("c").alias("node"), F.col("c").alias("canopy")
    )
    covered = member.select("node").unionByName(
        self_rows.select("node")
    ).distinct()
    stranded = all_nodes.join(
        covered, all_nodes["v"] == covered["node"], "left_anti"
    ).select(F.col("v").alias("node"), F.col("v").alias("canopy"))
    return member.unionByName(self_rows).unionByName(stranded).distinct()


def merge_center_clusters(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    seed: str = "pivot",
) -> DataFrame:
    """Merge-Center clustering (Hassanzadeh, Chiang, Lee & Miller,
    "Framework for Evaluating Clustering Algorithms in Duplicate
    Detection", VLDB 2009) — the middle ground between center/pivot
    clustering (radius 1, may over-split an entity whose records spread
    past one center) and connected components (radius unbounded, chains
    entities): start from the deterministic ``pivot_clusters``
    assignment, then MERGE clusters whenever a member is match-adjacent
    to ANOTHER cluster's center, taking the transitive closure of those
    merges.  A singleton cluster's center is itself (MC semantics: every
    cluster has a center), so the center set is exactly
    ``{c : assign(c) = c}``.

    Plan: the pivot rounds, one equi-join of the symmetrized edge list
    against the center set + one assignment join to emit cluster-merge
    edges (a CLUSTER-count-sized graph, not record-sized), then
    ``connected_components`` over it and one relabel join.  Clusters
    touched by no merge edge keep their pivot label (left join +
    coalesce).  Deterministic end-to-end: pivot order is md5, merged
    labels are the lexicographic min cluster id.

    Returns ``(node, cluster)`` for every node in the edge list, same
    consumer contract as the rest of the clustering menu."""
    assign = pivot_clusters(
        edges, src=src, dst=dst, rounds=rounds, seed=seed
    ).localCheckpoint(eager=True)
    e = _canonical(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    sym = e.select(F.col("src").alias("v"), F.col("dst").alias("u")).union(
        e.select(F.col("dst").alias("v"), F.col("src").alias("u"))
    )
    centers = assign.filter(F.col("node") == F.col("cluster")).select(
        F.col("node").alias("c")
    )
    to_center = sym.join(centers, sym["u"] == centers["c"]).select("v", "u")
    merge_edges = (
        to_center.join(assign, to_center["v"] == assign["node"])
        .filter(F.col("cluster") != F.col("u"))
        .select(F.col("cluster").alias("src"), F.col("u").alias("dst"))
        .distinct()
    )
    merged = connected_components(merge_edges)
    out = (
        assign.join(
            merged, assign["cluster"] == merged["node"], "left"
        )
        .select(
            assign["node"].alias("node"),
            F.coalesce(merged["component"], assign["cluster"]).alias(
                "cluster"
            ),
        )
    )
    return out
