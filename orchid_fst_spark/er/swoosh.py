"""Merge-based entity resolution — the Swoosh family.

Benjelloun, Garcia-Molina, Menestrina, Su, Whang & Widom, "Swoosh: a
generic approach to entity resolution", VLDB Journal 2009 (R-Swoosh);
the round-synchronous distributed structure follows D-Swoosh
(Benjelloun et al., "D-Swoosh: a family of algorithms for generic,
distributed entity resolution", ICDCS 2007).  Grounding in the
reference: the same incremental-build contract as ``er/incremental.py``
(keys arrive, the structure grows, queries keep serving — fst.h:16-22),
here applied to the RECORD side: entities grow by merging.

Why this is a separate paradigm from everything in ``er/clustering.py``:
cluster-based ER fixes a pairwise edge set and forms clusters from it
(CC / star / pivot / merge-center all refine the same edges).
Merge-based ER re-evaluates the match function on MERGED entities, so
evidence assembled from two different members can produce matches no
pairwise comparison finds.  The shipped match/merge instance makes that
concrete and fully deterministic:

- merge  = field-wise set union of the two value arrays (idempotent,
  commutative, associative);
- match  = CONJUNCTIVE existential overlap: entities match iff their
  A-value sets intersect AND their B-value sets intersect.

Representativity holds (a merged entity's value sets are unions, so it
matches everything any member matched), hence the ICAR properties of
the Swoosh paper — the fixpoint partition is unique and independent of
merge order, which is what lets a round-synchronous CC-per-round
engine reproduce sequential R-Swoosh exactly (pinned by the replica
test in tests/test_er_pipeline.py).

The canonical novelty gadget: r1=(A{a1,a9}, B{b1}), r2=(A{a1},
B{b1,b2}), r3=(A{a9}, B{b2}).  r1-r2 match (a1, b1); r3 matches
NEITHER pairwise (A-overlap only with r1, B-overlap only with r2) but
matches their merge — one extra round resolves it.

Scale shape (per round): two explode → distinct value frames
(entity, value), two self equi-joins on value, one (e1, e2) equi-join
intersecting the A-pairs with the B-pairs — all JVM, no arrays in the
hot path — then one ``connected_components`` run over ENTITY-count-
sized edges and one relabel join.  Values can be capped with the
standard hot-block discipline (``value_cap``: a value shared by more
entities than the cap is dropped from pair generation that round,
observable, the token-blocking df-cap story).  The assignment frame is
``localCheckpoint``-cut every round (the iterative-loop lesson), so
every round plans a constant-size tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import drop_hot
from .clustering import connected_components


def _entity_values(
    records: DataFrame,
    asg: DataFrame,
    id_col: str,
    val_col: str,
) -> DataFrame:
    """Distinct (ent, val) pairs of the current entities."""
    return (
        records.select(
            F.col(id_col).alias("_id"), F.explode(F.col(val_col)).alias("val")
        )
        .join(asg, "_id")
        .select("ent", "val")
        .distinct()
    )


def _overlap_pairs(vals: DataFrame, value_cap: int | None) -> DataFrame:
    """Distinct (e1 < e2) entity pairs sharing at least one value.

    ``value_cap`` drops values shared by more than cap entities BEFORE
    the self-join (``drop_hot``; the window's hash partitioning is
    reused by the join build).
    """
    v = vals if value_cap is None else drop_hot(vals, "val", value_cap)
    a = v.select(F.col("ent").alias("e1"), "val")
    b = v.select(F.col("ent").alias("e2"), "val")
    return (
        a.join(b, "val")
        .filter(F.col("e1") < F.col("e2"))
        .select("e1", "e2")
        .distinct()
    )


def swoosh_resolve(
    records: DataFrame,
    id_col: str = "id",
    a_col: str = "a_vals",
    b_col: str = "b_vals",
    rounds: int | None = None,
    max_rounds: int = 20,
    value_cap: int | None = None,
    init_assignment: DataFrame | None = None,
) -> DataFrame:
    """Resolve ``records`` under the union-merge / conjunctive-overlap
    Swoosh instance.  Returns ``(id, entity_id)`` with ``entity_id`` =
    the minimum member id (deterministic under any partitioning — CC's
    lexicographic-min label, stable across rounds because merged
    entities keep their min label).

    ``rounds``: run EXACTLY this many rounds (the unrolled-oracle twin
    — a fixed-round replay is what a static SQL oracle can express);
    ``rounds=None`` iterates to the fixpoint (no new matches), bounded
    by ``max_rounds`` (raises if not converged — at web scale pick the
    bound from the expected evidence-chain depth; each round with any
    match strictly decreases the entity count, so n_records is always
    a safe bound).

    Each round re-derives entity value sets from the BASE records plus
    the current assignment (one explode + join per field) instead of
    growing merged arrays iteratively — state is the assignment frame
    only, lineage-cut per round.

    Precondition: ``id_col`` values are unique (one row per record —
    run ``exact_dedup``/``keep_latest`` first if a crawl re-delivers);
    null/empty value arrays are fine — such a record simply generates
    no evidence on that field and stays a singleton unless the other
    field matches... which under the conjunctive rule it cannot, so it
    stays a singleton.

    ``init_assignment``: an existing ``(id, entity_id)`` assignment to
    resume from — the INCREMENTAL form (the Swoosh paper's
    incrementality: ER(R1 ∪ R2) = ER(ER(R1) ∪ R2) under ICAR, the same
    contract as ``er/incremental.py``).  Pass the previous resolve's
    output covering a subset of ``records``; ids absent from it start
    as singletons.  Because match/merge here are ICAR, resuming from a
    correct prior assignment yields the IDENTICAL fixpoint as a full
    rerun (pinned by test), while the first round's edge work is
    (new batch + touched entities)-sized in the value joins.
    """
    base = records.select(
        F.col(id_col).alias("_id"), F.col(id_col).alias("ent")
    )
    if init_assignment is not None:
        prior = init_assignment.select(
            F.col(id_col).alias("_id"), F.col("entity_id").alias("_pent")
        )
        base = base.join(prior, "_id", "left").select(
            "_id", F.coalesce("_pent", "ent").alias("ent")
        )
    asg = base.localCheckpoint(eager=True)

    n_rounds = rounds if rounds is not None else max_rounds
    for r in range(n_rounds):
        va = _entity_values(records, asg, id_col, a_col)
        vb = _entity_values(records, asg, id_col, b_col)
        apairs = _overlap_pairs(va, value_cap)
        bpairs = _overlap_pairs(vb, value_cap)
        # conjunctive match: both overlaps must hold
        edges = apairs.join(bpairs, ["e1", "e2"])
        if edges.isEmpty():
            break  # fixpoint; under fixed rounds the rest are no-ops
        cc = connected_components(edges, "e1", "e2")
        asg = (
            asg.join(cc, asg["ent"] == cc["node"], "left")
            .select("_id", F.coalesce("component", "ent").alias("ent"))
            .localCheckpoint(eager=True)
        )
    else:
        if rounds is None:
            # the loop only certifies convergence by OBSERVING an empty
            # edge set, which a final productive round never does — so
            # an input whose evidence-chain depth equals max_rounds
            # exactly would be declared non-converged despite reaching
            # the fixpoint.  One extra edge-derivation check settles it.
            va = _entity_values(records, asg, id_col, a_col)
            vb = _entity_values(records, asg, id_col, b_col)
            edges = _overlap_pairs(va, value_cap).join(
                _overlap_pairs(vb, value_cap), ["e1", "e2"]
            )
            if not edges.isEmpty():
                raise RuntimeError(
                    f"swoosh_resolve did not converge in {max_rounds} rounds"
                )

    return asg.select(F.col("_id").alias(id_col), F.col("ent").alias("entity_id"))


def swoosh_entities(
    records: DataFrame,
    assignment: DataFrame,
    id_col: str = "id",
    a_col: str = "a_vals",
    b_col: str = "b_vals",
) -> DataFrame:
    """Merged entity records for a ``swoosh_resolve`` assignment: one
    row per entity with the UNION of each field's values
    (``sort_array``-canonical, so the frame is deterministic under any
    partitioning) and the member count.  One explode + distinct + one
    ``collect_list`` per field over already-grouped frames; the
    aggregation buffer holds one entity's distinct values, the merged
    record itself — cap upstream with ``value_cap`` if a mega-entity's
    vocabulary must stay bounded."""
    asg = assignment.select(
        F.col(id_col).alias("_id"), F.col("entity_id").alias("ent")
    )

    def _union(col: str, out: str) -> DataFrame:
        return (
            records.select(
                F.col(id_col).alias("_id"), F.explode(F.col(col)).alias("v")
            )
            .join(asg, "_id")
            .select("ent", "v")
            .distinct()
            .groupBy("ent")
            .agg(F.sort_array(F.collect_list("v")).alias(out))
        )

    members = asg.groupBy("ent").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return (
        members.join(_union(a_col, "a_vals"), "ent")
        .join(_union(b_col, "b_vals"), "ent")
        .select(
            F.col("ent").alias("entity_id"), "n_members", "a_vals", "b_vals"
        )
    )
