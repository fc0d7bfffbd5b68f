"""ER evaluation operators — the north-rule metric as a DataFrame.

The reference validates its fuzzy enumeration by counting golden hits
exactly (fst_unittest.cpp:90-97: assert 214 matches, then a per-line
compare); these operators generalize that count-the-hits discipline to
the ER pipeline's own quality contract (pairwise F1 >= 0.99) using the
standard record-linkage definitions (Christen, "Data Matching", 2012):

- ``pair_metrics``            precision/recall/F1 of a predicted PAIR set
                              vs a labeled truth pair set.
- ``clustering_pair_metrics`` the same metric for two CLUSTERINGS via the
                              contingency table — never materializes the
                              O(cluster_size^2) implied pairs.
- ``blocking_quality``        pair completeness + reduction ratio of a
                              candidate generator vs truth pairs — the
                              two numbers that justify a blocking scheme.

All three return ONE-row DataFrames (exact integer counts + ratios
rounded to 6dp per the cross-engine float recipe) so they are
oracle-checkable and cheap to log per pipeline run: at 100 TB each is a
couple of canonicalize-distinct shuffles on pair-sized (not corpus-
sized) frames followed by single-row aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _canon_pairs(df: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct unordered pairs as canonical (pa < pb) tuples.

    Self-pairs (a == b) carry no linkage information and are dropped so
    both metric inputs agree on the universe regardless of whether a
    generator emits reflexive rows.
    """
    return (
        df.select(
            F.least(F.col(a), F.col(b)).alias("pa"),
            F.greatest(F.col(a), F.col(b)).alias("pb"),
        )
        .filter(F.col("pa") < F.col("pb"))
        .distinct()
    )


def _prf(tp: F.Column, fp: F.Column, fn: F.Column) -> list:
    """precision/recall/f1 columns from exact long counts, rounded 6dp.

    Empty-side conventions: an empty predicted set has precision 1, an
    empty truth set has recall 1 (nothing was asserted / nothing was
    missed), and f1 is 0 when both precision and recall are 0.
    """
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(1.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(1.0))
    f1 = F.when(
        prec + rec > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return [
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ]


def pair_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    a: str = "key_a",
    b: str = "key_b",
) -> DataFrame:
    """Pairwise precision/recall/F1 of a predicted pair set vs truth.

    One row: ``(tp, fp, fn, precision, recall, f1)``.  Both inputs are
    canonicalized (unordered, distinct, no self-pairs) first, so emit
    order / duplication in either generator cannot skew the counts.

    Plan shape: one distinct shuffle per side, one full-outer equi-join
    on the canonical pair key (co-partitioned — the distincts already
    hash-partitioned both sides on (pa, pb)), one single-row aggregate.
    Inputs are pair-sized; the corpus itself is never touched.
    """
    p = _canon_pairs(predicted, a, b).withColumn("in_p", F.lit(1))
    t = _canon_pairs(truth, a, b).withColumn("in_t", F.lit(1))
    joined = p.join(t, ["pa", "pb"], "full_outer")
    agg = joined.agg(
        F.coalesce(
            F.sum(F.when(F.col("in_p").isNotNull() & F.col("in_t").isNotNull(), 1)),
            F.lit(0),
        ).cast("long").alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("in_p").isNotNull() & F.col("in_t").isNull(), 1)),
            F.lit(0),
        ).cast("long").alias("fp"),
        F.coalesce(
            F.sum(F.when(F.col("in_p").isNull() & F.col("in_t").isNotNull(), 1)),
            F.lit(0),
        ).cast("long").alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select("tp", "fp", "fn", *_prf(tp, fp, fn))


def clustering_pair_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "cluster_id",
    truth_col: str = "cluster_id",
) -> DataFrame:
    """Pairwise P/R/F1 of a predicted CLUSTERING vs a truth clustering.

    One row: ``(tp, pred_pairs, true_pairs, precision, recall, f1)``.
    The one contingency-table definition: ``er.pipeline.pairwise_f1``
    collects this row as a dict; as a frame it serves oracle checking
    and per-run metric logging without a driver collect.

    Pair counts come from cluster-size histograms (sum of nC2) and the
    (pred, truth) contingency table — a 10M-member cluster contributes
    one histogram row, never 5*10^13 materialized pairs.  Records absent
    from either side are ignored (inner join on the id).
    """
    pred = predicted.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("pc")
    )
    tr = truth.select(F.col(id_col).alias("_id"), F.col(truth_col).alias("tc"))
    joined = pred.join(tr, "_id")

    # integer-exact nC2: n*(n-1) is even, and `div` keeps it a long
    _pair_sum = F.coalesce(
        F.sum(F.call_function("div", F.col("n") * (F.col("n") - 1), F.lit(2))),
        F.lit(0),
    ).cast("long")

    cont = (
        joined.groupBy("pc", "tc")
        .agg(F.count("*").alias("n"))
        .agg(_pair_sum.alias("tp"))
    )
    pp = (
        joined.groupBy("pc")
        .agg(F.count("*").alias("n"))
        .agg(_pair_sum.alias("pred_pairs"))
    )
    tpairs = (
        joined.groupBy("tc")
        .agg(F.count("*").alias("n"))
        .agg(_pair_sum.alias("true_pairs"))
    )
    one = cont.crossJoin(pp).crossJoin(tpairs)
    tp = F.col("tp")
    fp = F.col("pred_pairs") - tp
    fn = F.col("true_pairs") - tp
    return one.select("tp", "pred_pairs", "true_pairs", *_prf(tp, fp, fn))


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    records: DataFrame,
    a: str = "key_a",
    b: str = "key_b",
) -> DataFrame:
    """Pair completeness + reduction ratio of a blocking scheme.

    One row: ``(n_records, n_candidates, n_truth, tp, pair_completeness,
    reduction_ratio)`` — the two standard numbers that justify a
    candidate generator (Christen 2012): what fraction of true matches
    survive blocking (completeness = recall of the candidate set) and
    what fraction of the n*(n-1)/2 full cross-product it avoided
    (reduction ratio).  ``records`` is the deduplicated record frame the
    pairs draw from (only its count is used).

    Same plan discipline as pair_metrics; the records count is one
    map-side-combined aggregate over the corpus (its only corpus-sized
    touch).
    """
    c = _canon_pairs(candidates, a, b)
    t = _canon_pairs(truth, a, b)
    n_cand = c.agg(F.count("*").cast("long").alias("n_candidates"))
    n_truth = t.agg(F.count("*").cast("long").alias("n_truth"))
    tp = c.join(t, ["pa", "pb"]).agg(F.count("*").cast("long").alias("tp"))
    n_rec = records.agg(F.count("*").cast("long").alias("n_records"))
    one = n_rec.crossJoin(n_cand).crossJoin(n_truth).crossJoin(tp)
    total_pairs = F.call_function(
        "div", F.col("n_records") * (F.col("n_records") - 1), F.lit(2)
    )
    pc = F.when(
        F.col("n_truth") > 0, F.col("tp") / F.col("n_truth")
    ).otherwise(F.lit(1.0))
    rr = F.when(
        total_pairs > 0, 1 - F.col("n_candidates") / total_pairs
    ).otherwise(F.lit(0.0))
    return one.select(
        "n_records",
        "n_candidates",
        "n_truth",
        "tp",
        F.round(pc, 6).alias("pair_completeness"),
        F.round(rr, 6).alias("reduction_ratio"),
    )


def bcubed_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "cluster_id",
    truth_col: str = "cluster_id",
) -> DataFrame:
    """B-cubed precision/recall/F1 of a predicted clustering vs truth
    (Bagga & Baldwin 1998; Amigó et al. 2009 show it is the extrinsic
    clustering metric satisfying all four formal constraints).  Unlike
    pairwise F1 — which a single giant cluster dominates quadratically —
    B³ averages PER RECORD, so a chained 10M-member cluster and a
    botched 3-member cluster are weighted by membership, not by implied
    pair count.  Read both: pairwise F1 is the north-rule contract, B³
    is the size-robust second opinion.

    Per record r: precision = |C(r) ∩ T(r)| / |C(r)|, recall =
    |C(r) ∩ T(r)| / |T(r)| with C/T its predicted/truth cluster; the
    metric is the mean over records.  Grouping by (pred, truth) cell
    collapses that to cell counts — ``B³p = (1/N) Σ_cells n²/n_pc`` —
    so a cluster contributes one contingency row, never its implied
    pairs (same discipline as ``clustering_pair_metrics``).

    One row: ``(n_records, bcubed_precision, bcubed_recall, bcubed_f1)``.

    Plan shape: one id equi-join, one (pc, tc) cell aggregate, two
    marginal aggregates over the CELL frame (cluster-count-sized, not
    corpus-sized), a broadcast-sized join back, one single-row reduce.

    Determinism (cross-engine): each cell term is the exact integer
    ``div(n_cell² · 10⁹, marginal)`` (decimal(38,0) / HUGEINT — no
    overflow at any cluster size) summed exactly, then ONE double
    division by ``N·10⁹`` rounded 6dp — float accumulation order never
    exists.  Truncation understates each term by < 10⁻⁹, so the summed
    error is < #cells/N · 10⁻⁹ ≤ 10⁻⁹ — invisible at 6dp away from
    exact .0000005 boundaries (planted tests keep margins wide).
    """
    pred = predicted.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("pc")
    )
    tr = truth.select(F.col(id_col).alias("_id"), F.col(truth_col).alias("tc"))
    cells = (
        pred.join(tr, "_id")
        .groupBy("pc", "tc")
        .agg(F.count("*").cast("long").alias("n_cell"))
    )
    pc_sizes = cells.groupBy("pc").agg(F.sum("n_cell").alias("n_pc"))
    tc_sizes = cells.groupBy("tc").agg(F.sum("n_cell").alias("n_tc"))
    scale = F.lit(1_000_000_000)
    n2 = F.col("n_cell").cast("decimal(38,0)") * F.col("n_cell")
    one = (
        cells.join(pc_sizes, "pc")
        .join(tc_sizes, "tc")
        .agg(
            F.sum("n_cell").cast("long").alias("n_records"),
            F.sum(
                F.call_function("div", n2 * scale, F.col("n_pc"))
            ).cast("decimal(38,0)").alias("_pfp"),
            F.sum(
                F.call_function("div", n2 * scale, F.col("n_tc"))
            ).cast("decimal(38,0)").alias("_rfp"),
        )
    )
    denom = F.col("n_records").cast("double") * 1e9
    p_raw = F.when(
        F.col("n_records") > 0, F.col("_pfp").cast("double") / denom
    ).otherwise(F.lit(1.0))
    r_raw = F.when(
        F.col("n_records") > 0, F.col("_rfp").cast("double") / denom
    ).otherwise(F.lit(1.0))
    f1 = F.when(
        p_raw + r_raw > 0, 2 * p_raw * r_raw / (p_raw + r_raw)
    ).otherwise(F.lit(0.0))
    return one.select(
        "n_records",
        F.round(p_raw, 6).alias("bcubed_precision"),
        F.round(r_raw, 6).alias("bcubed_recall"),
        F.round(f1, 6).alias("bcubed_f1"),
    )


def blocking_cost(
    records: DataFrame,
    rules: list[tuple[str, F.Column]],
    null_safe: bool = True,
) -> DataFrame:
    """Predicted comparison workload of each blocking rule WITHOUT
    generating a single pair (the Splink ``count_comparisons``
    discipline): at web scale you read this report — block-count,
    hottest block, and the exact Σ n·(n−1)/2 comparison total per rule
    — BEFORE paying the candidate-pair shuffle, because one hot key
    ("index.html") can make a rule quadratically more expensive than
    its siblings.

    ``rules``: ``[(name, key_expression)]`` over the record frame's
    columns; null keys opt the record out of that rule (the standard
    blocking-rule semantics).

    One row per rule: ``(rule, n_keyed, n_blocks, max_block,
    comparisons, top_share)`` — ``comparisons`` is the exact pair count
    the rule would emit, ``top_share`` the fraction owned by the single
    hottest block (skew at a glance, 6dp).

    Plan shape: ONE corpus scan — every rule's key is emitted from the
    same row via explode(array(struct…)) — then one (rule, key) cell
    aggregate and one rule-sized reduce; nC2 in exact long ``div``
    arithmetic.  The corpus is never shuffled on record identity, only
    (rule, key) counts move.
    """
    if not rules:
        raise ValueError("need at least one (name, key_expression) rule")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in {names}")
    keyed = records.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        expr.cast("string").alias("bk"),
                    )
                    for name, expr in rules
                ]
            )
        ).alias("_r")
    ).select("_r.rule", "_r.bk")
    if null_safe:
        keyed = keyed.filter(F.col("bk").isNotNull())
    blocks = keyed.groupBy("rule", "bk").agg(
        F.count("*").cast("long").alias("n")
    )
    ncomp = F.call_function("div", F.col("n") * (F.col("n") - 1), F.lit(2))
    per_rule = blocks.groupBy("rule").agg(
        F.sum("n").cast("long").alias("n_keyed"),
        F.count("*").cast("long").alias("n_blocks"),
        F.max("n").cast("long").alias("max_block"),
        F.sum(ncomp).cast("long").alias("comparisons"),
        F.max(ncomp).cast("long").alias("_top"),
    )
    top_share = F.when(
        F.col("comparisons") > 0, F.col("_top") / F.col("comparisons")
    ).otherwise(F.lit(0.0))
    return per_rule.select(
        "rule",
        "n_keyed",
        "n_blocks",
        "max_block",
        "comparisons",
        F.round(top_share, 6).alias("top_share"),
    )


def weight_threshold_sweep(
    weighted: DataFrame,
    truth: DataFrame,
    weight_col: str = "fs_weight",
    a: str = "key_a",
    b: str = "key_b",
) -> DataFrame:
    """Precision/recall/F1 at EVERY candidate decision threshold: for
    each distinct value ``w`` of ``weight_col``, the metrics of the rule
    "predict match iff weight >= w" against the labeled ``truth`` pair
    set — the curve you read to pick the Fellegi-Sunter acceptance
    threshold (or any scorer's operating point) instead of guessing.

    One row per distinct weight, descending: ``(threshold, n_pred,
    tp, precision, recall, f1)``.  ``n_pred``/``tp`` are CUMULATIVE
    (all pairs at or above the threshold).

    Plan shape: canonicalize + left-join truth onto the weighted pairs
    (both pair-sized), ONE groupBy(weight) aggregate to per-weight
    (n, n_true) — map-side combined, so the shuffle carries one row per
    distinct weight per task — then the cumulative sums run in a window
    over the distinct-weight frame only.  With K boolean FS features
    that frame has at most 2**K rows, so the single-partition window is
    constant-sized by construction (for a continuous scorer, bucket the
    weights first — e.g. ``F.round(w, 2)`` — to keep it bounded).
    Truth size is one scalar aggregate; truth pairs absent from the
    candidate set count as FN at every threshold (recall is honest even
    when blocking missed them).
    """
    # canonicalize keeping the weight: a pair emitted twice keeps its
    # best weight (max — deterministic, and the rule "weight >= w"
    # predicts the pair at its strongest evidence)
    wp = (
        weighted.select(
            F.least(F.col(a), F.col(b)).alias("pa"),
            F.greatest(F.col(a), F.col(b)).alias("pb"),
            F.col(weight_col).alias("_w"),
        )
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.max("_w").alias("_w"))
    )
    t = _canon_pairs(truth, a, b).withColumn("in_t", F.lit(1))
    flagged = wp.join(t, ["pa", "pb"], "left")
    per_w = flagged.groupBy("_w").agg(
        F.count("*").cast("long").alias("n_at"),
        F.coalesce(F.sum("in_t"), F.lit(0)).cast("long").alias("t_at"),
    )
    n_truth = t.agg(F.count("*").cast("long").alias("n_truth"))
    win = Window.orderBy(F.col("_w").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        per_w.withColumn("n_pred", F.sum("n_at").over(win))
        .withColumn("tp", F.sum("t_at").over(win))
        .crossJoin(n_truth)
    )
    tp = F.col("tp")
    fp = F.col("n_pred") - tp
    fn = F.col("n_truth") - tp
    return cum.select(
        F.col("_w").alias("threshold"),
        "n_pred",
        "tp",
        *_prf(tp, fp, fn),
    )


def calibration_report(
    scored: DataFrame,
    truth: DataFrame,
    prob_col: str = "posterior",
    a: str = "key_a",
    b: str = "key_b",
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram of a probabilistic matcher: bin the pairs by
    predicted match probability and compare the bin's mean prediction
    with its OBSERVED truth rate (DeGroot & Fienberg's calibration
    construction; the check a trained Fellegi-Sunter posterior owes you
    before its 0.5 Bayes cut is trusted).  A well-calibrated model has
    ``observed ≈ avg_pred`` in every bin; systematic gaps say the EM
    fit's posteriors are over/under-confident and the three-region
    bounds should come from the sweep instead.

    One row per non-empty bin: ``(bin, n, n_true, avg_pred, observed,
    gap)`` — ``bin`` = ``floor(p·bins)`` clamped to ``bins-1``,
    ``gap = |avg_pred − observed|``.  Truth pairs missing from
    ``scored`` are NOT counted (calibration is a property of the
    scored set; recall lives in ``pair_metrics``).

    Determinism: probabilities enter as 6dp values, are fixed to exact
    MICRO-unit longs (``floor(p·1e6 + 0.5)``) before the per-bin sum,
    so the mean is ONE IEEE division of exact integers; the observed
    rate and gap are fixed-order expressions rounded 6dp.  The bin
    index is the same IEEE ``floor(p·bins)`` in both engines.

    Plan: one canonicalize + max aggregate per pair, one left join of
    the truth flag, ONE bin aggregate — everything pair-sized.
    """
    wp = (
        scored.select(
            F.least(F.col(a), F.col(b)).alias("pa"),
            F.greatest(F.col(a), F.col(b)).alias("pb"),
            F.col(prob_col).alias("_p"),
        )
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.max("_p").alias("_p"))
    )
    t = _canon_pairs(truth, a, b).withColumn("in_t", F.lit(1))
    flagged = wp.join(t, ["pa", "pb"], "left")
    bin_col = F.least(
        F.floor(F.col("_p") * bins), F.lit(bins - 1)
    ).cast("int")
    per = (
        flagged.withColumn("bin", bin_col)
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.sum("in_t"), F.lit(0)).cast("long").alias("n_true"),
            F.sum(
                F.floor(F.col("_p") * 1e6 + 0.5).cast("long")
            ).cast("long").alias("_psum"),
        )
    )
    avg_raw = F.col("_psum").cast("double") / (
        F.col("n").cast("double") * 1e6
    )
    obs_raw = F.col("n_true") / F.col("n")
    return per.select(
        "bin",
        "n",
        "n_true",
        F.round(avg_raw, 6).alias("avg_pred"),
        F.round(obs_raw, 6).alias("observed"),
        F.round(F.abs(avg_raw - obs_raw), 6).alias("gap"),
    )


def calibration_ece(
    scored: DataFrame,
    truth: DataFrame,
    prob_col: str = "posterior",
    a: str = "key_a",
    b: str = "key_b",
    bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error: the one-number summary of
    ``calibration_report`` — ``ECE = Σ_b (n_b/N)·|observed_b −
    avg_pred_b|``, the bin-weighted mean reliability gap (Naeini,
    Cooper & Hauskrecht AAAI'15 formalize the estimator).

    One row: ``(n_pairs, n_bins, ece)``.  Exactly the report's
    binning; the weighted gap telescopes to
    ``Σ_b |n_true_b·10⁶ − psum_b| / (N·10⁶)`` — an exact-integer
    numerator summed per bin (probabilities enter as the same
    micro-unit longs), so the whole metric is ONE IEEE division,
    rounded 6dp.  Convention: empty scored set → ece 0.0.
    """
    wp = (
        scored.select(
            F.least(F.col(a), F.col(b)).alias("pa"),
            F.greatest(F.col(a), F.col(b)).alias("pb"),
            F.col(prob_col).alias("_p"),
        )
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.max("_p").alias("_p"))
    )
    t = _canon_pairs(truth, a, b).withColumn("in_t", F.lit(1))
    flagged = wp.join(t, ["pa", "pb"], "left")
    bin_col = F.least(
        F.floor(F.col("_p") * bins), F.lit(bins - 1)
    ).cast("int")
    per = (
        flagged.withColumn("bin", bin_col)
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.sum("in_t"), F.lit(0)).cast("long").alias("nt"),
            F.sum(
                F.floor(F.col("_p") * 1e6 + 0.5).cast("long")
            ).cast("long").alias("ps"),
        )
    )
    one = per.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_pairs"),
        F.count("*").cast("long").alias("n_bins"),
        F.coalesce(
            F.sum(F.abs(F.col("nt") * F.lit(1_000_000) - F.col("ps"))),
            F.lit(0),
        ).cast("long").alias("_num"),
    )
    ece = F.when(
        F.col("n_pairs") > 0,
        F.col("_num").cast("double")
        / (F.col("n_pairs").cast("double") * 1e6),
    ).otherwise(F.lit(0.0))
    return one.select(
        "n_pairs", "n_bins", F.round(ece, 6).alias("ece")
    )


def ari_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "cluster_id",
    truth_col: str = "cluster_id",
) -> DataFrame:
    """Adjusted Rand Index of a predicted clustering vs a truth
    clustering (Hubert & Arabie, J. Classification 1985) — the
    chance-corrected agreement number read next to pairwise F1
    (``clustering_pair_metrics``) and B-cubed: F1 ignores the
    together-in-neither cell entirely, so a clustering that shatters
    everything scores 0 while one that merges everything can still
    score well on recall; ARI weighs all four pair-confusion cells and
    is 0 in expectation for a random partition.

    One row: ``(n, n11, n10, n01, n00, rand_index, ari)`` where the
    pair-confusion cells are exact longs — n11 = pairs together in
    both clusterings, n10 = together only in predicted, n01 = together
    only in truth, n00 = together in neither — and

        ARI = 2*(n11*n00 - n10*n01)
              / ((n11+n10)*(n10+n00) + (n11+n01)*(n01+n00))

    (the pair-counting form; identical to the classic sum-over-
    contingency-cells formula).  ARI is 1.0 by convention when the
    denominator is 0 (both clusterings all-singletons or both one
    cluster — no disagreement is expressible).

    Scale/determinism: the cells come from cluster-size histograms and
    the (pred, truth) contingency table — sum of nC2 per group, never
    materialized pairs — so a 10M-member cluster contributes one
    histogram row (same discipline as ``clustering_pair_metrics``).
    The cell products are cast to DOUBLE BEFORE multiplying: at web
    scale n00 ~ (n^2/2)^2 overflows BIGINT multiplication (which
    DuckDB raises on and Spark silently wraps), while int->double
    conversion and the fixed-order double formula are correctly
    rounded and bit-identical in both engines; the final ratio is
    rounded 6dp per the cross-engine float recipe.
    """
    pred = predicted.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("pc")
    )
    tr = truth.select(F.col(id_col).alias("_id"), F.col(truth_col).alias("tc"))
    joined = pred.join(tr, "_id")

    _pair_sum = F.coalesce(
        F.sum(F.call_function("div", F.col("n") * (F.col("n") - 1), F.lit(2))),
        F.lit(0),
    ).cast("long")

    cont = (
        joined.groupBy("pc", "tc")
        .agg(F.count("*").alias("n"))
        .agg(_pair_sum.alias("n11"))
    )
    pp = (
        joined.groupBy("pc")
        .agg(F.count("*").alias("n"))
        .agg(_pair_sum.alias("pred_pairs"))
    )
    tpairs = (
        joined.groupBy("tc")
        .agg(F.count("*").alias("n"))
        .agg(_pair_sum.alias("true_pairs"))
    )
    tot = joined.agg(F.count("*").cast("long").alias("n"))
    one = cont.crossJoin(pp).crossJoin(tpairs).crossJoin(tot)

    n = F.col("n")
    total = F.call_function("div", n * (n - F.lit(1)), F.lit(2))
    n11 = F.col("n11")
    n10 = (F.col("pred_pairs") - n11).alias("n10")
    n01 = (F.col("true_pairs") - n11).alias("n01")
    n00 = (total - F.col("pred_pairs") - F.col("true_pairs") + n11).alias(
        "n00"
    )
    cells = one.select(n.alias("n"), n11, n10, n01, n00)

    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = F.lit(2.0) * (d("n11") * d("n00") - d("n10") * d("n01"))
    den = (d("n11") + d("n10")) * (d("n10") + d("n00")) + (
        d("n11") + d("n01")
    ) * (d("n01") + d("n00"))
    total_pairs = d("n11") + d("n10") + d("n01") + d("n00")
    ri = F.when(
        total_pairs > 0, (d("n11") + d("n00")) / total_pairs
    ).otherwise(F.lit(1.0))
    ari = F.when(den != 0, num / den).otherwise(F.lit(1.0))
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(ri, 6).alias("rand_index"),
        F.round(ari, 6).alias("ari"),
    )


def nmi_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "cluster_id",
    truth_col: str = "cluster_id",
) -> DataFrame:
    """Normalized Mutual Information + V-measure of a predicted
    clustering vs truth (Strehl & Ghosh, JMLR 2002 — sqrt-normalized
    NMI; Rosenberg & Hirschberg, EMNLP 2007 — homogeneity /
    completeness / V-measure).  The information-theoretic third opinion
    next to pairwise F1 (``clustering_pair_metrics``), B-cubed and ARI:
    V-measure decomposes disagreement into the two failure modes the
    cluster-formation policy menu (CC chains vs star/pivot over-splits)
    actually trades between — homogeneity (each predicted cluster holds
    one entity) and completeness (each entity lands in one cluster).

    One row: ``(n_records, n_cells, h_pred, h_truth, mi, nmi,
    homogeneity, completeness, v_measure)``.

    Conventions (documented because entropy-0 edges are genuinely
    ambiguous): ``homogeneity = 1`` when H(truth) = 0, ``completeness =
    1`` when H(pred) = 0 (the Rosenberg-Hirschberg conventions);
    ``nmi = 1`` when BOTH entropies are 0 (two trivial clusterings
    cannot disagree), 0 when exactly one is; ``v_measure = 0`` when
    homogeneity + completeness = 0.

    Scale: the distributed part is one id equi-join + the (pred, truth)
    cell aggregate + three SIZE-HISTOGRAM aggregates (group size →
    #groups).  Every Σ n·ln n entropy statistic depends only on those
    histograms, whose row count is bounded by the number of DISTINCT
    group sizes — at most O(√(2N)) rows since distinct sizes sum to ≤ N
    (≈ 1.4M rows at 10^12 records) — so they are collected and folded
    on the driver, the ``fs_em_train`` sufficient-statistic discipline.
    A 10M-member cluster contributes one histogram row.

    Determinism (cross-engine): the only transcendental is ``ln`` of
    exact INTEGER group sizes, immediately fixed to integer nano-units
    ``floor(ln(s)·1e9 + 0.5)`` — Python's ``math.log`` and DuckDB's
    ``ln`` are the same libm call on identical double inputs, and a
    1-ulp libm disagreement would still have to straddle a 0.5 nano-
    boundary to flip the fixpoint.  All Σ n·lnfix(n) sums are exact
    integers (Python bigint / HUGEINT), mi/entropy fixes are clamped at
    0 (true MI ≥ 0; fixpoint noise of < #groups · 0.5 nano-units could
    otherwise dip below), and each reported ratio is ONE fixed-order
    IEEE expression over those integers, rounded 6dp half-up — float
    accumulation order never exists in either engine.
    """
    import math

    pred = predicted.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("pc")
    )
    tr = truth.select(F.col(id_col).alias("_id"), F.col(truth_col).alias("tc"))
    cells = (
        pred.join(tr, "_id")
        .groupBy("pc", "tc")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # size histograms: (group size s, #groups of that size c)
    cell_hist = cells.groupBy("n").agg(F.count("*").alias("c")).collect()
    pred_hist = (
        cells.groupBy("pc")
        .agg(F.sum("n").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    truth_hist = (
        cells.groupBy("tc")
        .agg(F.sum("n").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("c"))
        .collect()
    )

    def _lnfix(s: int) -> int:
        return math.floor(math.log(s) * 1e9 + 0.5)

    def _ssum(hist, size_field) -> int:
        return sum(int(r["c"]) * int(r[size_field]) * _lnfix(int(r[size_field]))
                   for r in hist)

    n_cells = sum(int(r["c"]) for r in cell_hist)
    n_records = sum(int(r["c"]) * int(r["n"]) for r in cell_hist)
    if n_records > 0:
        s_cells = _ssum(cell_hist, "n")
        s_pred = _ssum(pred_hist, "s")
        s_truth = _ssum(truth_hist, "s")
        n_lnfix_n = n_records * _lnfix(n_records)
        hp_fix = max(n_lnfix_n - s_pred, 0)
        ht_fix = max(n_lnfix_n - s_truth, 0)
        mi_fix = max(s_cells - s_pred - s_truth + n_lnfix_n, 0)
        denom = float(n_records) * 1e9
        mi = float(mi_fix) / denom
        h_pred = float(hp_fix) / denom
        h_truth = float(ht_fix) / denom
        homog = 1.0 if ht_fix == 0 else float(mi_fix) / float(ht_fix)
        compl = 1.0 if hp_fix == 0 else float(mi_fix) / float(hp_fix)
        if hp_fix == 0 and ht_fix == 0:
            nmi = 1.0
        elif hp_fix == 0 or ht_fix == 0:
            nmi = 0.0
        else:
            nmi = float(mi_fix) / math.sqrt(float(hp_fix) * float(ht_fix))
        v = 0.0 if homog + compl == 0 else 2 * homog * compl / (homog + compl)
    else:
        mi = h_pred = h_truth = 0.0
        homog = compl = nmi = 1.0
        v = 1.0

    def _r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    spark = predicted.sparkSession
    return spark.createDataFrame(
        [
            (
                n_records,
                n_cells,
                _r6(h_pred),
                _r6(h_truth),
                _r6(mi),
                _r6(nmi),
                _r6(homog),
                _r6(compl),
                _r6(v),
            )
        ],
        "n_records long, n_cells long, h_pred double, h_truth double, "
        "mi double, nmi double, homogeneity double, completeness double, "
        "v_measure double",
    )


def gmd_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "cluster_id",
    truth_col: str = "cluster_id",
) -> DataFrame:
    """Generalized Merge Distance with unit costs (Menestrina, Whang &
    Garcia-Molina, "Evaluating Entity Resolution Results", VLDB 2010):
    the minimum number of cluster SPLIT and MERGE operations
    transforming the predicted clustering into the truth — the
    edit-distance view of ER quality the paper shows subsumes pairwise
    precision/recall (both are GMD instances under other cost
    functions).  Under unit costs the optimum has closed form from the
    contingency table: first split every predicted cluster into its
    truth-cells (``#cells − #pred`` splits), then assemble each truth
    cluster from its cells (``#cells − #truth`` merges).

    One row: ``(n_records, n_cells, n_pred, n_truth, splits, merges,
    gmd)`` — ALL exact integers (no float anywhere, the strongest
    cross-engine determinism class).  Plan: one id equi-join, one
    (pred, truth) cell aggregate, one single-row reduce over the
    cluster-count-sized cell frame (the ``bcubed_metrics`` discipline —
    a cluster contributes one contingency row, never its implied
    pairs)."""
    pred = predicted.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("pc")
    )
    tr = truth.select(F.col(id_col).alias("_id"), F.col(truth_col).alias("tc"))
    cells = (
        pred.join(tr, "_id")
        .groupBy("pc", "tc")
        .agg(F.count("*").cast("long").alias("n_cell"))
    )
    one = cells.agg(
        F.sum("n_cell").cast("long").alias("n_records"),
        F.count("*").cast("long").alias("n_cells"),
        F.countDistinct("pc").cast("long").alias("n_pred"),
        F.countDistinct("tc").cast("long").alias("n_truth"),
    )
    splits = F.col("n_cells") - F.col("n_pred")
    merges = F.col("n_cells") - F.col("n_truth")
    return one.select(
        "n_records",
        "n_cells",
        "n_pred",
        "n_truth",
        splits.alias("splits"),
        merges.alias("merges"),
        (splits + merges).alias("gmd"),
    )
