"""Pairwise scoring stage.

Candidate key pairs get three similarity features in one Arrow pass —
banded OSA edit distance (numpy kernel), Jaro-Winkler
(DuckDB-compatible), token Jaccard (pure Catalyst array ops) — and a
boolean decision column.  The default decision reproduces the
reference's fuzzy-match semantics (dist <= k); the similarity features
support threshold rules for messier real-world keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.normalize import tokens
from ..functions.vectorized import jaro_winkler_sim
from ..util.storage import cut


def score_pairs(pairs: DataFrame, a: str = "key_a", b: str = "key_b") -> DataFrame:
    """Add jw / token_jaccard columns to verified candidate pairs (which
    already carry the banded ``dist``)."""
    ta, tb = tokens(F.regexp_replace(a, "[/-]", " ")), tokens(
        F.regexp_replace(b, "[/-]", " ")
    )
    inter = F.size(F.array_intersect(F.array_distinct(ta), F.array_distinct(tb)))
    union = F.size(F.array_union(ta, tb))
    return (
        pairs.withColumn("jw", jaro_winkler_sim(F.col(a), F.col(b)))
        .withColumn(
            "token_jaccard",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
        )
    )


def monge_elkan_pairs(
    pairs: DataFrame, a: str = "key_a", b: str = "key_b", out: str = "me"
) -> DataFrame:
    """Add a symmetric Monge-Elkan similarity column to candidate pairs
    (Monge & Elkan, KDD 1996; Jaro-Winkler inner measure over the same
    '/-'->space tokenization as ``score_pairs``).  The field-level
    measure for multi-word names — token reorders and extra tokens that
    sink whole-string edit distance barely move it.  One Arrow batch per
    pair partition, O(|ta|*|tb|) JW calls per pair, so it belongs AFTER
    blocking, never on a raw cross join.  Deterministic across engines
    via the 6dp integer fixpoint (functions/similarity._me_oneway)."""
    from ..functions.vectorized import monge_elkan_sim

    return pairs.withColumn(out, monge_elkan_sim(F.col(a), F.col(b)))


def weighted_tokens(
    records: DataFrame,
    key: str = "key",
    id_col: str = "id",
    out_tokens: str = "toks",
    out_weights: str = "ws",
) -> DataFrame:
    """Per-record sorted token array with aligned raw TF-IDF weights —
    the corpus-statistics input Soft TF-IDF needs (same '/-'->space
    tokenization as ``score_pairs``; same ``tf·(ln((N+1)/(df+1))+1)``
    weight rounded 6dp as the ``tf_idf_terms`` family, so the DuckDB
    twin is the proven formula).

    Plan: one explode + (id, token) count, one token-level DF aggregate
    joined back BROADCAST (the distinct-token table is vocabulary-sized,
    never corpus-sized), one sorted collect per record — the aggregation
    buffer holds one record's tokens, bounded by key length.  N is a
    one-row count collected as a driver literal (the normalizer
    pattern)."""
    toked = records.select(
        F.col(id_col).alias("_id"),
        F.explode(
            tokens(F.regexp_replace(key, "[/-]", " "))
        ).alias("t"),
    )
    tf = toked.groupBy("_id", "t").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("t").agg(F.count("*").cast("long").alias("df"))
    n_docs = records.count()
    w = F.round(
        F.col("tf")
        * (
            F.log(
                (F.lit(float(n_docs)) + F.lit(1.0))
                / (F.col("df") + F.lit(1.0))
            )
            + F.lit(1.0)
        ),
        6,
    )
    weighted = tf.join(F.broadcast(dfreq), "t").withColumn("w", w)
    arr = weighted.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "w"))).alias("tw")
    )
    return arr.select(
        F.col("_id").alias(id_col),
        F.col("tw.t").alias(out_tokens),
        F.col("tw.w").alias(out_weights),
    )


def soft_tfidf_pairs(
    pairs: DataFrame,
    weighted: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "id",
    out: str = "soft_tfidf",
) -> DataFrame:
    """Add a Soft TF-IDF similarity column (Cohen, Ravikumar & Fienberg,
    IJCAI 2003 workshop) to candidate id pairs from a ``weighted_tokens``
    frame: L2-normalized TF-IDF token weights, each left token's best
    Jaro-Winkler match >= 0.9 contributing ``V(w,S)·V(v*,T)·JW``.  The
    corpus-weighted hybrid the study found strongest for name matching —
    shared stopwords contribute ~nothing, shared rare tokens dominate
    (what ``monge_elkan_pairs`` cannot express).

    Plan: two id equi-joins of the pair frame against the record-sized
    token-array frame (LEFT — a tokenless side scores 0.0), then ONE
    Arrow pass.  The reference's fuzzy matching is whole-key
    (automaton.cpp); this is the field-level corpus-weighted companion
    the derived ER pipeline adds.  Deterministic cross-engine via the
    1e9 term fixpoint (functions/similarity.soft_tfidf)."""
    from ..functions.vectorized import soft_tfidf_sim

    wa = weighted.select(
        F.col(id_col).alias(id_a),
        F.col("toks").alias("_ta"),
        F.col("ws").alias("_wa"),
    )
    wb = weighted.select(
        F.col(id_col).alias(id_b),
        F.col("toks").alias("_tb"),
        F.col("ws").alias("_wb"),
    )
    return (
        pairs.join(wa, id_a, "left")
        .join(wb, id_b, "left")
        .withColumn(out, soft_tfidf_sim("_ta", "_wa", "_tb", "_wb"))
        .drop("_ta", "_wa", "_tb", "_wb")
    )


def match_edges(
    scored: DataFrame,
    k: int = 2,
    jw_floor: float = 0.0,
    jaccard_floor: float = 0.0,
) -> DataFrame:
    """Decision: edit distance within k (reference IsMatch semantics),
    optionally tightened by similarity floors.  Returns the edge list
    (key_a, key_b) for transitive clustering."""
    cond = F.col("dist") <= k
    if jw_floor > 0:
        cond = cond & (F.col("jw") >= jw_floor)
    if jaccard_floor > 0:
        cond = cond & (F.col("token_jaccard") >= jaccard_floor)
    return scored.filter(cond).select("key_a", "key_b")


def fs_match_weights(
    scored: DataFrame,
    features: list[tuple[str, F.Column, float, float]] | None = None,
) -> DataFrame:
    """Fellegi–Sunter match weights (Fellegi & Sunter, JASA 1969) over
    scored candidate pairs: each feature contributes ``log2(m/u)`` on
    agreement and ``log2((1-m)/(1-u))`` on disagreement, where m/u are
    the feature's agreement probabilities among true matches /
    non-matches (caller-trained parameters — the documented model seam,
    like the hashed classifier's weights).

    ``features``: ``[(name, agreement_condition, m, u)]``; the default
    set uses the three similarity features ``score_pairs`` computes
    (edit distance <= 1, Jaro-Winkler >= 0.9 on the 6dp-rounded value,
    token Jaccard >= 0.5) with textbook-shaped priors.

    Adds one boolean ``agree_<name>`` per feature and ``fs_weight`` —
    the sum of per-feature weights, rounded 6dp.  All weights are
    PYTHON-computed literals folded into the plan (one fixed-order sum
    of constants per row, map-side, zero exchanges, and bit-exact in
    any engine — no runtime log calls).  Decide matches by thresholding
    ``fs_weight`` between the sorted weight masses of labeled pairs.
    """
    import math

    if features is None:
        features = [
            ("dist", F.col("dist") <= 1, 0.9, 0.01),
            ("jw", F.round(F.col("jw"), 6) >= 0.9, 0.85, 0.02),
            (
                "jaccard",
                F.round(F.col("token_jaccard"), 6) >= 0.5,
                0.8,
                0.05,
            ),
        ]
    out = scored
    total = F.lit(0.0)
    for name, cond, m, u in features:
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"feature {name}: need 0 < u < m < 1, got m={m} u={u}"
            )
        agree_w = math.log2(m / u)
        disagree_w = math.log2((1.0 - m) / (1.0 - u))
        out = out.withColumn(f"agree_{name}", cond)
        total = total + F.when(
            F.col(f"agree_{name}"), F.lit(agree_w)
        ).otherwise(F.lit(disagree_w))
    return out.withColumn("fs_weight", F.round(total, 6))


def default_fs_features() -> list[tuple[str, F.Column]]:
    """The three agreement conditions ``fs_match_weights`` defaults to,
    without priors — the condition set ``fs_em_train`` trains m/u for."""
    return [
        ("dist", F.col("dist") <= 1),
        ("jw", F.round(F.col("jw"), 6) >= 0.9),
        ("jaccard", F.round(F.col("token_jaccard"), 6) >= 0.5),
    ]


# fixed-point scales shared by the Spark/driver EM and the SQL oracle
_EM_PSCALE = 10**9  # posterior fixed-point (floor(p*1e9 + 0.5))
_EM_RSCALE = 10**6  # parameter rounding (6dp)
_EM_EPS = 1e-06     # parameter clamp: params live in [1e-6, 0.999999]
_EM_HI = 0.999999   # literal, NOT 1.0-1e-06: the decimal literal is what
                    # the SQL oracle parses, and 1.0-1e-06 computed in
                    # doubles need not be the same bit pattern


def _em_round_clamp(x: float) -> float:
    """round-half-up to 6dp then clamp into (0, 1) — EXACTLY
    ``least(greatest(floor(x*1e6 + 0.5)/1e6, 1e-6), 0.999999)`` so the
    SQL oracle reproduces every trained parameter bit-for-bit."""
    import math

    r = math.floor(x * _EM_RSCALE + 0.5) / _EM_RSCALE
    return min(max(r, _EM_EPS), _EM_HI)


def fs_em_train(
    scored: DataFrame,
    features: list[tuple[str, F.Column]] | None = None,
    iters: int = 10,
    init: tuple[float, float, float] = (0.1, 0.9, 0.1),
):
    """Unsupervised Fellegi–Sunter parameter training by EM (Winkler
    1988; the Splink architecture): estimate the match prevalence
    ``lam`` and per-feature agreement probabilities ``m``/``u`` from
    UNLABELED candidate pairs under the conditional-independence model,
    so ``fs_match_weights`` no longer needs hand-set priors.

    The distributed work is ONE hash aggregate: the K boolean agreement
    features collapse the pair frame into at most 2**K agreement-
    pattern counts (map-side partial combine over <= 2**K groups — the
    shuffle carries 2**K rows per task no matter the corpus size).  EM
    then iterates on the driver over that tiny contingency table, which
    is the exact sufficient statistic for the CI model — at 100 TB the
    cluster computes one aggregate and the driver does arithmetic on
    <= 2**K integers.

    Determinism contract (cross-engine, oracle-checkable): posteriors
    are fixed-point integers ``clamp(floor(p * 1e9 + 0.5), 1, 1e9-1)``;
    the M-step is exact BIGINT sums of ``p_int * n`` (needs
    ``total_pairs < ~9e9`` to stay in int64 — raise ``_EM_PSCALE``
    headroom by lowering it if you are genuinely beyond that);
    parameters are rounded half-up to 6dp and clamped to
    ``[1e-6, 1-1e-6]`` after every update.  Every float op (product
    order, division, floor) is mirrored statement-for-statement by the
    unrolled-CTE SQL the entry oracle generates, so the trained
    parameters hash-match across engines.

    Returns ``(params, patterns)``:

    - ``params``: ``{"lam": float, "<name>": (m, u), ...}`` — feed the
      pairs ``[(name, cond, m, u)]`` straight into ``fs_match_weights``
      to score the full pair frame with the trained weights.
    - ``patterns``: DataFrame ``(agree_<name>..., n_pairs, posterior,
      lam, m_<name>, u_<name>...)`` — one row per observed agreement
      pattern with its trained match posterior (6dp) and the parameters
      as literal columns, the auditable training report.
    """
    if features is None:
        features = default_fs_features()
    if not features:
        raise ValueError("need at least one feature")
    names = [n for n, _ in features]
    flagged = _flag_features(scored, features)
    agree_cols = [f"agree_{n}" for n in names]
    pat_df = flagged.groupBy(*agree_cols).agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    rows = pat_df.collect()  # <= 2**K rows by construction
    if not rows:
        raise ValueError("no candidate pairs to train on")
    pats = [
        (tuple(bool(r[c]) for c in agree_cols), int(r["n_pairs"]))
        for r in rows
    ]
    lam, m, u = _em_fit(pats, len(names), iters, init)
    params: dict = {"lam": lam}
    for k, name in enumerate(names):
        params[name] = (m[k], u[k])
    # report over the ALREADY-COLLECTED rows, not the lazy pat_df: the
    # training aggregate scanned the pair frame once; re-planning it
    # per downstream consumer (the broadcast side of fs_em_match_edges,
    # the entry output) would pay the corpus-sized scan again
    pat_local = scored.sparkSession.createDataFrame(rows, pat_df.schema)
    return params, _em_report(pat_local, names, lam, m, u)


def _flag_features(
    df: DataFrame, features: list[tuple[str, F.Column]]
) -> DataFrame:
    """Add one NULL-SAFE boolean ``agree_<name>`` per feature: a
    condition over missing fields evaluates to NULL in Spark, which the
    driver-side fit coerces to False (``bool(None)``) but a plain
    equi-join on the flag would silently drop — coalesce(cond, False)
    keeps training, the decision join, and the streaming counts all
    agreeing that missing evidence = disagreement."""
    out = df
    for name, cond in features:
        out = out.withColumn(
            f"agree_{name}", F.coalesce(cond, F.lit(False))
        )
    return out


def _em_fit(
    pats: list[tuple[tuple[bool, ...], int]],
    n_features: int,
    iters: int = 10,
    init: tuple[float, float, float] = (0.1, 0.9, 0.1),
) -> tuple[float, list[float], list[float]]:
    """The driver-side EM loop over an agreement-pattern contingency
    table (the CI model's sufficient statistic) — shared by
    ``fs_em_train`` (batch) and ``fs_em_from_state`` (streaming).
    Returns ``(lam, m, u)`` under the fixed-point determinism contract
    documented on ``fs_em_train``."""
    import math

    if iters < 1:
        raise ValueError("need iters >= 1")
    if not pats:
        raise ValueError("no candidate pairs to train on")
    # deterministic driver-side order (the sums below are exact-integer,
    # so order only matters for reproducibility of debugging output)
    pats = sorted(pats, key=lambda t: t[0])
    n_total = sum(n for _, n in pats)

    lam0, m0, u0 = init
    lam = _em_round_clamp(lam0)
    m = [_em_round_clamp(m0)] * n_features
    u = [_em_round_clamp(u0)] * n_features

    def _posteriors(lam, m, u):
        out = []
        for g, n in pats:
            w = lam
            v = 1.0 - lam
            for k in range(n_features):
                w = w * (m[k] if g[k] else 1.0 - m[k])
                v = v * (u[k] if g[k] else 1.0 - u[k])
            p = w / (w + v)
            p_int = math.floor(p * _EM_PSCALE + 0.5)
            p_int = min(max(p_int, 1), _EM_PSCALE - 1)
            out.append((g, n, p_int))
        return out

    for _ in range(iters):
        e = _posteriors(lam, m, u)
        sum_p = sum(p_int * n for _, n, p_int in e)
        lam = _em_round_clamp(sum_p / float(n_total * _EM_PSCALE))
        new_m, new_u = [], []
        for k in range(n_features):
            num_m = sum(p_int * n for g, n, p_int in e if g[k])
            num_u = sum((_EM_PSCALE - p_int) * n for g, n, p_int in e if g[k])
            den_u = n_total * _EM_PSCALE - sum_p
            new_m.append(_em_round_clamp(num_m / float(sum_p)))
            new_u.append(_em_round_clamp(num_u / float(den_u)))
        m, u = new_m, new_u
    return lam, m, u


def _em_report(
    pat_df: DataFrame, names: list[str], lam: float, m: list, u: list
) -> DataFrame:
    """Per-pattern posterior at the trained parameters as literal-folded
    Spark expressions over the (lazy, distributed) pattern frame — the
    same left-assoc product/divide/round sequence the oracle SQL writes
    out."""
    w: F.Column = F.lit(lam)
    v: F.Column = F.lit(1.0 - lam)
    for k, name in enumerate(names):
        gk = F.col(f"agree_{name}")
        w = w * F.when(gk, F.lit(m[k])).otherwise(F.lit(1.0 - m[k]))
        v = v * F.when(gk, F.lit(u[k])).otherwise(F.lit(1.0 - u[k]))
    post = F.floor(w / (w + v) * F.lit(float(_EM_RSCALE)) + F.lit(0.5)) / F.lit(
        float(_EM_RSCALE)
    )
    out = pat_df.withColumn("posterior", post).withColumn("lam", F.lit(lam))
    for k, name in enumerate(names):
        out = out.withColumn(f"m_{name}", F.lit(m[k])).withColumn(
            f"u_{name}", F.lit(u[k])
        )
    return out


def trained_fs_features(
    params: dict,
    features: list[tuple[str, F.Column]] | None = None,
) -> list[tuple[str, F.Column, float, float]]:
    """Bridge ``fs_em_train`` output into ``fs_match_weights`` input:
    ``[(name, cond, m, u)]`` keeping only the INFORMATIVE features —
    EM on data where a feature never (or always) agrees legitimately
    converges to ``m <= u`` (often both clamped to the 1e-6 floor),
    and such a feature carries no log-likelihood-ratio evidence under
    the model, so it is dropped rather than passed to the strict
    ``0 < u < m < 1`` prior check.  Raises if NO feature survives
    (the trained model found nothing discriminative — scoring with it
    would be noise)."""
    if features is None:
        features = default_fs_features()
    out = [
        (name, cond, params[name][0], params[name][1])
        for name, cond in features
        if params[name][0] > params[name][1]
    ]
    if not out:
        raise ValueError(
            "no informative feature survived EM (m <= u for all); "
            "the trained model cannot score matches"
        )
    return out


def exact_agreement_u(
    records: DataFrame,
    value_of,
    record_col: str = "key",
) -> float:
    """The principled u-probability for an EXACT-agreement feature:
    the probability two records drawn at random agree on the field,
    ``u = sum_v n_v^2 / n^2`` over the field's value distribution
    (Fellegi & Sunter 1969 §3.3.1 — frequency-based error-free u; what
    hand-set priors approximate).

    ``value_of`` maps the record's key column to the compared value
    (e.g. ``lambda c: F.split(c, " ")[0]`` for a first-token field).

    Determinism: the sufficient statistic is INTEGER (``sum n_v^2`` and
    ``n`` as exact decimal sums — no float accumulation order anywhere);
    the single float division ``float(s2) / float(n*n)`` mirrors SQL's
    ``s2::DOUBLE / (n*n)::DOUBLE`` bit-for-bit while both stay below
    2^53 (document the driver-side literal beyond that).  Distributed
    work: one value-count aggregate + a one-row reduction."""
    counts = (
        records.select(value_of(F.col(record_col)).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("n_v"))
    )
    row = counts.agg(
        F.sum(F.col("n_v").cast("decimal(38,0)") * F.col("n_v")).alias("s2"),
        F.sum("n_v").cast("decimal(38,0)").alias("n"),
    ).collect()[0]
    if row.n is None or int(row.n) == 0:
        raise ValueError("no non-null field values to measure u over")
    s2, n = int(row.s2), int(row.n)
    return float(s2) / float(n * n)


def fs_tf_adjusted_weights(
    scored: DataFrame,
    records: DataFrame,
    value_of,
    record_col: str = "key",
    a: str = "key_a",
    b: str = "key_b",
    m: float = 0.9,
    u: float = 0.05,
    name: str = "tf",
    min_share: float | None = None,
) -> DataFrame:
    """Term-frequency-adjusted Fellegi–Sunter weight for an EXACT-
    agreement feature (Winkler 1995; the Splink architecture's
    term_frequency_adjustments): agreement on a COMMON value ("smith")
    is weaker evidence than agreement on a rare one, so the value-
    specific u replaces the global u — ``P(agree on v | U) ≈ tf_v^2``
    and ``P(show v and agree | M) ≈ m·tf_v`` give the value-specific
    agreement weight ``log2(m / tf_v)``; disagreement keeps the global
    ``log2((1-m)/(1-u))``.

    - ``value_of``: maps a key column to the compared field value (same
      expression applied to ``records[record_col]``, ``pairs[a]`` and
      ``pairs[b]``).
    - ``m``/``u``: the feature's trained parameters (``u`` also backs
      the fallback weight for an agreeing value missing from
      ``records`` — e.g. pairs built from a superset frame; use
      ``exact_agreement_u`` for the principled value).
    - ``min_share``: optional tf floor — caps the boost an ultra-rare
      value can contribute (Splink's documented guard against
      once-seen typos dominating the score).

    Adds ``agree_<name>`` (null-safe boolean), ``w_<name>`` (the 6dp
    per-pair weight) and ``fs_weight_tf`` (= 6dp ``fs_weight + w`` when
    ``scored`` already carries ``fs_weight``, else the weight alone) —
    so it composes additively with ``fs_match_weights``.

    Plan: ONE value-count aggregate over ``records`` (+ a one-row total
    collected as a driver literal — the normalizer pattern), then ONE
    left equi-join of the pair frame against the count table on the
    AGREEING value (join key nulled on disagreement, so only agreeing
    rows can match; AQE broadcasts a small count table, skew-joins a
    hot one) and map-side arithmetic.  At 100 TB prefer joining the
    count table onto the RECORD frame before pair generation so each
    side carries its own n_v — same weights, record-sized join.

    Determinism (cross-engine): shares are exact-long/exact-long double
    divisions; the value-specific log2 runs JVM-side and is rounded
    6dp (pinned 0/20000 bitwise flips vs libm at 6dp); the disagreement
    weight is a Python ``math.log2`` literal (bit-identical to DuckDB's
    log2 — same libm); sums of already-6dp-rounded doubles are
    bit-identical in any engine."""
    import math

    if not (0.0 < u < m < 1.0):
        raise ValueError(f"need 0 < u < m < 1, got m={m} u={u}")
    if min_share is not None and not (0.0 < min_share < 1.0):
        raise ValueError(f"need 0 < min_share < 1, got {min_share}")

    counts = (
        records.select(value_of(F.col(record_col)).alias("tf_value"))
        .filter(F.col("tf_value").isNotNull())
        .groupBy("tf_value")
        .agg(F.count("*").cast("long").alias("n_v"))
    )
    n_total = counts.agg(F.sum("n_v").cast("long")).collect()[0][0]
    if not n_total:
        raise ValueError("records carry no non-null field values")

    va, vb = value_of(F.col(a)), value_of(F.col(b))
    agree = F.coalesce(va == vb, F.lit(False))
    joined = scored.withColumn(
        "_tf_join_value", F.when(agree, va)
    ).join(
        counts.withColumnRenamed("tf_value", "_tf_join_value"),
        "_tf_join_value",
        "left",
    )
    share = F.coalesce(
        F.col("n_v") / F.lit(float(n_total)), F.lit(float(u))
    )
    if min_share is not None:
        share = F.greatest(share, F.lit(float(min_share)))
    dw = math.log2((1.0 - m) / (1.0 - u))
    w = F.round(
        F.when(agree, F.log2(F.lit(float(m)) / share)).otherwise(F.lit(dw)),
        6,
    )
    out = (
        joined.withColumn(f"agree_{name}", agree)
        .withColumn(f"w_{name}", w)
        .drop("_tf_join_value", "n_v")
    )
    if "fs_weight" in scored.columns:
        return out.withColumn(
            "fs_weight_tf",
            F.round(F.col("fs_weight") + F.col(f"w_{name}"), 6),
        )
    return out.withColumn("fs_weight_tf", F.col(f"w_{name}"))


def mutual_best_pairs(
    scored: DataFrame,
    a: str = "key_a",
    b: str = "key_b",
    score_col: str = "jw",
) -> DataFrame:
    """Mutual-best-match linkage (the distributed 1:1 constraint):
    keep a candidate pair only when each side is the other's single
    best-scoring partner — the standard scalable approximation of
    one-to-one assignment in record linkage (a global optimal matching
    is sequential; mutual nearest neighbors is embarrassingly
    aggregate-shaped and what production linkers ship).

    Input: canonical candidate pairs (``a < b``, one row per pair) with
    a similarity column.  The pair set is symmetrized internally so
    "best partner" sees neighbors on both sides of the canonical order.

    Determinism: the best partner per key is ONE ``min_by`` aggregate
    ordered by ``(-round(score, 6), partner)`` — 6dp rounding first
    (absorbs cross-engine ulp noise per the recipe), lexicographically
    smallest partner on ties.  ``min_by``/``arg_min`` on a struct gets
    a map-side partial combine in both engines, so the per-key argmax
    never materializes the neighbor lists.

    Plan: symmetrize (no shuffle) -> one groupBy(key) aggregate (one
    Exchange on the key) -> self-join of the node-sized best frame on
    the (key = partner) equi-join -> canonical filter.  Output:
    ``(key_a, key_b, score)`` with ``key_a < key_b``, score 6dp.
    """
    # drop self-pairs BEFORE the argmax: an (x, x) row (bipartite input
    # where the same string appears on both sides) would win x's best-
    # partner slot at score 1.0 and shadow every real neighbor's link —
    # a self-pair is not a link between two records
    nontrivial = scored.filter(F.col(a) != F.col(b))
    sym = nontrivial.select(
        F.col(a).alias("k"), F.col(b).alias("p"),
        F.round(F.col(score_col), 6).alias("s"),
    ).unionAll(
        nontrivial.select(
            F.col(b).alias("k"), F.col(a).alias("p"),
            F.round(F.col(score_col), 6).alias("s"),
        )
    )
    best = sym.groupBy("k").agg(
        F.min_by(F.struct(F.col("p"), F.col("s")), F.struct(-F.col("s"), F.col("p"))).alias("bp")
    ).select("k", F.col("bp.p").alias("p"), F.col("bp.s").alias("s"))
    other = best.select(
        F.col("k").alias("p2"), F.col("p").alias("k2")
    )
    return (
        best.join(other, (best.k == other.k2) & (best.p == other.p2))
        .filter(F.col("k") < F.col("p"))
        .select(
            F.col("k").alias("key_a"),
            F.col("p").alias("key_b"),
            F.col("s").alias("score"),
        )
    )


def fs_em_match_edges(
    scored: DataFrame,
    features: list[tuple[str, F.Column]] | None = None,
    iters: int = 10,
    threshold: float = 0.5,
    a: str = "key_a",
    b: str = "key_b",
) -> DataFrame:
    """Fully unsupervised match decision: EM-train the FS model
    (``fs_em_train``), then keep the pairs whose agreement PATTERN has
    trained match posterior >= ``threshold`` (0.5 = the Bayes rule
    under the fitted mixture) — no hand-set priors, no hand-picked
    weight cut.  Returns the ``(a, b)`` edge list for transitive
    clustering.

    Plan: the training aggregate (one shuffle of <= 2**K rows), then
    the pair frame equi-joins the BROADCAST pattern frame on the K
    agreement booleans and filters — map-side only, zero additional
    exchanges over the pair frame.  Posterior is the 6dp-rounded
    deterministic value, so the decision is oracle-checkable."""
    if features is None:
        features = default_fs_features()
    _, patterns = fs_em_train(scored, features, iters)
    agree_cols = [f"agree_{n}" for n, _ in features]
    post = patterns.select(*agree_cols, "posterior")
    # null-safe flags (same coercion as training): a pair with a NULL
    # condition must land on the all-False side of the join, not be
    # silently dropped by NULL-never-equals-NULL equi-join semantics
    flagged = _flag_features(scored, features)
    return (
        flagged.join(F.broadcast(post), agree_cols)
        .filter(F.col("posterior") >= F.lit(float(threshold)))
        .select(F.col(a), F.col(b))
    )


def fs_three_way(
    df: DataFrame,
    weight_col: str = "fs_weight",
    upper: float = 0.0,
    lower: float | None = None,
) -> DataFrame:
    """The Fellegi–Sunter three-region decision (the construct the 1969
    paper actually defines): weight >= ``upper`` -> 'link',
    weight < ``lower`` -> 'nonlink', between -> 'review' (the clerical-
    review band a production linker routes to humans).  ``lower``
    defaults to ``upper`` (empty review band = the binary rule).

    Adds one string column ``decision`` — a literal CASE, map-side,
    zero exchanges.  Pick the bounds from ``weight_threshold_sweep``:
    ``upper`` at the precision you must hold, ``lower`` at the recall
    you must reach; the band between is the human workload."""
    if lower is None:
        lower = upper
    if lower > upper:
        raise ValueError(f"need lower <= upper, got {lower} > {upper}")
    w = F.col(weight_col)
    return df.withColumn(
        "decision",
        F.when(w >= F.lit(float(upper)), F.lit("link"))
        .when(w < F.lit(float(lower)), F.lit("nonlink"))
        .otherwise(F.lit("review")),
    )


# ---------------------------------------------------------------------------
# Multi-level (Winkler) comparison vectors
# ---------------------------------------------------------------------------


def default_fs_level_features() -> list[tuple[str, F.Column, int]]:
    """The leveled comparison vector ``fs_em_train_leveled`` defaults
    to: ``(name, level_column, n_levels)`` with level 0 = worst
    agreement and level n_levels-1 = best.  Winkler's string-comparator
    bands (0.88/0.94-style cuts on Jaro-Winkler) over the
    ``score_pairs`` columns; ``dist`` stays 2-level because the k<=2
    candidate generators never emit dist > 2 (a dead level would train
    both its m and u to the 1e-6 clamp and carry weight 0).  Every
    similarity is rounded to 6dp BEFORE banding (the cross-engine
    argmin/rank recipe, applied to thresholds)."""
    jw6 = F.round(F.col("jw"), 6)
    jc6 = F.round(F.col("token_jaccard"), 6)
    return [
        ("dist", F.when(F.col("dist") <= 1, 1).otherwise(0), 2),
        (
            "jw",
            F.when(jw6 >= 0.95, 2).when(jw6 >= 0.88, 1).otherwise(0),
            3,
        ),
        (
            "jaccard",
            F.when(jc6 >= 0.5, 2).when(jc6 >= 0.2, 1).otherwise(0),
            3,
        ),
    ]


def fs_level_init(n_levels: int) -> tuple[list[float], list[float]]:
    """Deterministic EM start for one leveled feature: triangular mass
    ascending toward full agreement for m, descending for u —
    ``m0[l] = (l+1)/T``, ``u0[l] = (L-l)/T`` with ``T = L(L+1)/2``,
    both 6dp-round-clamped so the SQL twin folds the identical
    literals."""
    total = n_levels * (n_levels + 1) // 2
    m0 = [_em_round_clamp((lv + 1) / total) for lv in range(n_levels)]
    u0 = [_em_round_clamp((n_levels - lv) / total) for lv in range(n_levels)]
    return m0, u0


def _flag_levels(
    df: DataFrame, features: list[tuple[str, F.Column, int]]
) -> DataFrame:
    """Add one null-safe INT column ``lvl_<name>`` per feature
    (missing evidence = level 0, the same coercion as
    ``_flag_features``)."""
    out = df
    for name, col, _n in features:
        out = out.withColumn(
            f"lvl_{name}", F.coalesce(col, F.lit(0)).cast("int")
        )
    return out


def _em_fit_leveled(
    pats: list[tuple[tuple[int, ...], int]],
    level_counts: list[int],
    iters: int = 10,
    lam0: float = 0.1,
) -> tuple[float, list[list[float]], list[list[float]]]:
    """Driver-side EM over a LEVEL-pattern contingency table — the
    multi-level generalization of ``_em_fit`` (Winkler 1990, "String
    Comparator Metrics and Enhanced Decision Rules in the Fellegi-
    Sunter Model"): per feature f, ``m[f][l] = P(level=l | M)`` and
    ``u[f][l] = P(level=l | U)``.  Same fixed-point determinism
    contract as the binary fit: integer posteriors, exact BIGINT
    M-step sums, 6dp round-clamp per parameter.  After rounding the
    per-feature level masses need not sum to exactly 1 — harmless,
    the decision rule only consumes ratios, and the SQL twin replays
    the identical arithmetic."""
    import math

    if iters < 1:
        raise ValueError("need iters >= 1")
    if not pats:
        raise ValueError("no candidate pairs to train on")
    pats = sorted(pats, key=lambda t: t[0])
    n_total = sum(n for _, n in pats)
    n_features = len(level_counts)

    lam = _em_round_clamp(lam0)
    m, u = [], []
    for nl in level_counts:
        m0, u0 = fs_level_init(nl)
        m.append(m0)
        u.append(u0)

    def _posteriors(lam, m, u):
        out = []
        for g, n in pats:
            w = lam
            v = 1.0 - lam
            for k in range(n_features):
                w = w * m[k][g[k]]
                v = v * u[k][g[k]]
            p = w / (w + v)
            p_int = math.floor(p * _EM_PSCALE + 0.5)
            p_int = min(max(p_int, 1), _EM_PSCALE - 1)
            out.append((g, n, p_int))
        return out

    for _ in range(iters):
        e = _posteriors(lam, m, u)
        sum_p = sum(p_int * n for _, n, p_int in e)
        den_u = n_total * _EM_PSCALE - sum_p
        lam = _em_round_clamp(sum_p / float(n_total * _EM_PSCALE))
        new_m, new_u = [], []
        for k, nl in enumerate(level_counts):
            new_m.append(
                [
                    _em_round_clamp(
                        sum(p_int * n for g, n, p_int in e if g[k] == lv)
                        / float(sum_p)
                    )
                    for lv in range(nl)
                ]
            )
            new_u.append(
                [
                    _em_round_clamp(
                        sum(
                            (_EM_PSCALE - p_int) * n
                            for g, n, p_int in e
                            if g[k] == lv
                        )
                        / float(den_u)
                    )
                    for lv in range(nl)
                ]
            )
        m, u = new_m, new_u
    return lam, m, u


def fs_em_train_leveled(
    scored: DataFrame,
    features: list[tuple[str, F.Column, int]] | None = None,
    iters: int = 10,
    lam0: float = 0.1,
):
    """Unsupervised training of the MULTI-LEVEL Fellegi–Sunter model
    (Winkler 1990's enhanced decision rules): comparison vectors carry
    graded agreement levels (exact / close / disagree) instead of
    booleans, so a near-agreeing Jaro-Winkler band contributes partial
    evidence rather than collapsing onto one side of a threshold —
    the refinement Winkler showed dominates the binary model on
    name-matching.

    Distributed work is unchanged from ``fs_em_train``: ONE hash
    aggregate collapses the pair frame into at most prod(n_levels)
    level-pattern counts (map-side combine), and EM iterates on the
    driver over that exact sufficient statistic.  Same fixed-point
    cross-engine determinism contract (see ``_em_fit_leveled``).

    Returns ``(params, patterns)``:

    - ``params``: ``{"lam": float, "<name>": (m_levels, u_levels)}``
      with per-level lists ordered worst -> best.
    - ``patterns``: DataFrame ``(lvl_<name>..., n_pairs, posterior,
      lam, m_<name>_<l>..., u_<name>_<l>...)`` — the auditable report,
      literal-folded like ``fs_em_train``'s."""
    if features is None:
        features = default_fs_level_features()
    if not features:
        raise ValueError("need at least one feature")
    names = [n for n, _c, _l in features]
    level_counts = [nl for _n, _c, nl in features]
    flagged = _flag_levels(scored, features)
    lvl_cols = [f"lvl_{n}" for n in names]
    pat_df = flagged.groupBy(*lvl_cols).agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    rows = pat_df.collect()  # <= prod(n_levels) rows by construction
    if not rows:
        raise ValueError("no candidate pairs to train on")
    for r in rows:
        for c, nl in zip(lvl_cols, level_counts):
            if not 0 <= int(r[c]) < nl:
                raise ValueError(
                    f"{c} produced level {r[c]} outside [0, {nl})"
                )
    pats = [
        (tuple(int(r[c]) for c in lvl_cols), int(r["n_pairs"]))
        for r in rows
    ]
    lam, m, u = _em_fit_leveled(pats, level_counts, iters, lam0)
    params: dict = {"lam": lam}
    for k, name in enumerate(names):
        params[name] = (m[k], u[k])
    pat_local = scored.sparkSession.createDataFrame(rows, pat_df.schema)
    w: F.Column = F.lit(lam)
    v: F.Column = F.lit(1.0 - lam)
    for k, name in enumerate(names):
        lk = F.col(f"lvl_{name}")
        mc: F.Column = F.lit(m[k][0])
        uc: F.Column = F.lit(u[k][0])
        for lv in range(1, level_counts[k]):
            mc = F.when(lk == lv, F.lit(m[k][lv])).otherwise(mc)
            uc = F.when(lk == lv, F.lit(u[k][lv])).otherwise(uc)
        w = w * mc
        v = v * uc
    post = F.floor(
        w / (w + v) * F.lit(float(_EM_RSCALE)) + F.lit(0.5)
    ) / F.lit(float(_EM_RSCALE))
    report = pat_local.withColumn("posterior", post).withColumn(
        "lam", F.lit(lam)
    )
    for k, name in enumerate(names):
        for lv in range(level_counts[k]):
            report = report.withColumn(
                f"m_{name}_{lv}", F.lit(m[k][lv])
            ).withColumn(f"u_{name}_{lv}", F.lit(u[k][lv]))
    return params, report


def fs_leveled_weights(
    scored: DataFrame,
    params: dict,
    features: list[tuple[str, F.Column, int]] | None = None,
    weight_col: str = "fs_weight",
) -> DataFrame:
    """Winkler-1990 partial-agreement match weight: per feature the
    level-specific ``log2(m[l] / u[l])`` — a near-agreement band earns
    an intermediate weight instead of the binary all-or-nothing — summed
    in fixed feature order.  Every weight is a PYTHON literal
    ``floor(log2(m/u) * 1e6 + 0.5) / 1e6`` folded into the plan
    (map-side, zero exchanges; libm log2 is bit-identical to DuckDB's,
    the established ``fs_match_weights`` discipline).  Clamped-dead
    levels (never observed: m = u = 1e-6) get weight exactly 0."""
    import math

    if features is None:
        features = default_fs_level_features()
    flagged = _flag_levels(scored, features)
    total: F.Column | None = None
    for name, _col, nl in features:
        m_levels, u_levels = params[name]
        if len(m_levels) != nl or len(u_levels) != nl:
            raise ValueError(f"params for {name} do not have {nl} levels")
        lk = F.col(f"lvl_{name}")
        weights = [
            math.floor(math.log2(m_levels[lv] / u_levels[lv]) * _EM_RSCALE + 0.5)
            / _EM_RSCALE
            for lv in range(nl)
        ]
        wc: F.Column = F.lit(weights[0])
        for lv in range(1, nl):
            wc = F.when(lk == lv, F.lit(weights[lv])).otherwise(wc)
        # a level outside [0, n_levels) means the caller's banding and
        # the declared level count disagree — fail loudly instead of
        # silently scoring the row with the level-0 weight
        wc = F.when(
            (lk < 0) | (lk >= nl),
            F.raise_error(
                F.concat(
                    F.lit(f"lvl_{name} out of range [0, {nl}): "),
                    lk.cast("string"),
                )
            ).cast("double"),
        ).otherwise(wc)
        total = wc if total is None else total + wc
    return flagged.withColumn(weight_col, total)


def greedy_one_to_one(
    scored: DataFrame,
    a: str = "key_a",
    b: str = "key_b",
    score_col: str = "jw",
    rounds: int = 8,
) -> DataFrame:
    """MAXIMAL 1:1 matching by iterated mutual-best rounds — the
    round-synchronous local-dominant edge matching (Preis, STACS'99;
    Manne & Bisseling 2007: a 1/2-approximation of maximum-weight
    matching that parallel graph systems ship).  ``mutual_best_pairs``
    alone leaves nodes unmatched whenever their best partner prefers
    someone else; iterating — match the locally-dominant edges, remove
    both endpoints, repeat on the residual graph — matches every node
    that still has an unmatched neighbor.

    Determinism and the sequential contract: with the per-node order
    ``(-round(s, 6), partner)`` (and the node-local partner order being
    consistent with the global ``(-s, min, max)`` edge order — case
    check in the test replica), the iterated local-dominant edge set is
    EXACTLY the sequential greedy matching over edges sorted by
    ``(-round(s,6), key_a, key_b)`` — pinned by test.  Each round is
    the ``mutual_best_pairs`` plan (one Exchange on the node id + a
    node-sized self-join) plus two anti-joins to drop matched
    endpoints; per-round frames go through ``cut`` so the plan tree
    stays constant-size (the pagerank-loop lesson), and the residual
    graph's observed row count is the emptiness test (no extra job).

    After ``rounds`` rounds (expected O(log n) suffice; the loop exits
    early the moment the residual graph drains) any residual edges are
    left unmatched — a bounded-compute contract the unrolled-CTE
    oracle replays exactly.  Returns ``(key_a, key_b, score)`` with
    ``key_a < key_b``, at most one row per node anywhere."""
    if rounds < 1:
        raise ValueError("need rounds >= 1")
    e, n_e, _ = cut(
        scored.filter(F.col(a) != F.col(b))
        .select(
            F.least(F.col(a), F.col(b)).alias("key_a"),
            F.greatest(F.col(a), F.col(b)).alias("key_b"),
            F.round(F.col(score_col), 6).alias("s"),
        )
        .groupBy("key_a", "key_b")
        .agg(F.max("s").alias("s"))
    )
    matched: list[DataFrame] = []
    for _ in range(rounds):
        if not n_e:
            break
        mb = cut(mutual_best_pairs(e, score_col="s"))[0]
        matched.append(mb)
        gone = (
            mb.select(F.col("key_a").alias("node"))
            .unionAll(mb.select(F.col("key_b").alias("node")))
        )
        e, n_e, _ = cut(
            e.join(gone, e["key_a"] == gone["node"], "left_anti")
            .join(gone, e["key_b"] == gone["node"], "left_anti")
        )
    if not matched:
        return e.select("key_a", "key_b", F.col("s").alias("score")).limit(0)
    out = matched[0]
    for fr in matched[1:]:
        out = out.unionByName(fr)
    return out


def group_linkage(
    member_pairs: DataFrame,
    groups: DataFrame,
    a: str = "key_a",
    b: str = "key_b",
    score_col: str = "jw",
    key_col: str = "key",
    group_col: str = "grp",
    rounds: int = 4,
) -> DataFrame:
    """Group linkage (On, Koudas, Lee, Marian, Srivastava & Yu, ICDE
    2007): similarity between GROUPS of records (households, author
    publication sets, multi-page hosts) as the normalized weight of a
    matching over member-pair similarities —
    ``sim(G1, G2) = sum(matched sims) / (|G1| + |G2| - |matching|)``,
    the paper's bipartite-matching measure (1 iff the groups match
    member-for-member at sim 1).  The matching is the iterated
    mutual-best (local-dominant) rule run PER GROUP PAIR — after the
    rounds drain it equals the sequential greedy matching under the
    ``(-round(s,6), l, r)`` edge order within each group pair (the
    ``greedy_one_to_one`` argument, applied independently per
    (grp_a, grp_b) partition; pinned by test), a 1/2-approximation of
    the paper's optimal assignment.

    Plan: member pairs annotate group ids via two equi-joins on the
    record key; each round is TWO ``min_by`` aggregates keyed
    (ga, gb, member) + an aliased self-join for mutuality + two
    anti-joins to drop matched members — all shuffles on (group pair,
    member), no windows; per-round ``cut`` calls keep the plan
    constant-size, and the loop exits early when the remaining pairs'
    observed row count is 0.
    Determinism: sims are 6dp-fixed to INTEGER micro-units before any
    sum (exact BIGINT addition in any order), ties break on the
    partner id, and the single float division happens once at the
    end — ``msum / (1e6 * (n1 + n2 - matched))``.

    Returns ``(grp_a, grp_b, n_a, n_b, matched, sim)`` with
    ``grp_a < grp_b``, one row per group pair that shares at least one
    scored member pair."""
    if rounds < 1:
        raise ValueError("need rounds >= 1")
    g = groups.select(
        F.col(key_col).alias("k"), F.col(group_col).alias("g")
    )
    sizes = g.groupBy("g").agg(F.count("*").cast("long").alias("n"))
    s6 = (
        F.floor(F.round(F.col(score_col), 6) * F.lit(1000000) + F.lit(0.5))
        .cast("long")
        .alias("s6")
    )
    # drop self-pairs BEFORE annotation (the mutual_best_pairs hazard:
    # a key assigned to two groups would otherwise "match itself" at
    # sim 1.0 and win its best slot)
    p = member_pairs.filter(F.col(a) != F.col(b)).select(
        F.col(a).alias("ka"), F.col(b).alias("kb"), s6
    )
    ann = (
        p.join(g.withColumnRenamed("k", "ka").withColumnRenamed("g", "ga"), "ka")
        .join(g.withColumnRenamed("k", "kb").withColumnRenamed("g", "gb"), "kb")
        .filter(F.col("ga") != F.col("gb"))
    )
    # canonicalize the group pair; (l, r) = the member on the lesser /
    # greater group's side; duplicate (l, r) pairs keep the best score
    swap = F.col("ga") > F.col("gb")
    remaining, n_rem, _ = cut(
        ann.select(
            F.least("ga", "gb").alias("ga"),
            F.greatest("ga", "gb").alias("gb"),
            F.when(swap, F.col("kb")).otherwise(F.col("ka")).alias("l"),
            F.when(swap, F.col("ka")).otherwise(F.col("kb")).alias("r"),
            "s6",
        )
        .groupBy("ga", "gb", "l", "r")
        .agg(F.max("s6").alias("s6"))
    )
    matched_frames: list[DataFrame] = []
    for _ in range(rounds):
        if not n_rem:
            break
        best_l = remaining.groupBy("ga", "gb", "l").agg(
            F.min_by(
                F.struct(F.col("r"), F.col("s6")),
                F.struct(-F.col("s6"), F.col("r")),
            ).alias("bl")
        )
        best_r = remaining.groupBy("ga", "gb", "r").agg(
            F.min_by(
                F.struct(F.col("l"), F.col("s6")),
                F.struct(-F.col("s6"), F.col("l")),
            ).alias("br")
        )
        L, R = best_l.alias("L"), best_r.alias("R")
        mutual = cut(
            L.join(
                R,
                (F.col("L.ga") == F.col("R.ga"))
                & (F.col("L.gb") == F.col("R.gb"))
                & (F.col("L.bl.r") == F.col("R.r"))
                & (F.col("R.br.l") == F.col("L.l")),
            ).select(
                F.col("L.ga").alias("ga"),
                F.col("L.gb").alias("gb"),
                F.col("L.l").alias("l"),
                F.col("L.bl.r").alias("r"),
                F.col("L.bl.s6").alias("s6"),
            )
        )[0]
        matched_frames.append(mutual)
        lgone = mutual.select("ga", "gb", F.col("l").alias("m"))
        rgone = mutual.select("ga", "gb", F.col("r").alias("m"))
        remaining, n_rem, _ = cut(
            remaining.join(
                lgone,
                (remaining["ga"] == lgone["ga"])
                & (remaining["gb"] == lgone["gb"])
                & (remaining["l"] == lgone["m"]),
                "left_anti",
            ).join(
                rgone,
                (remaining["ga"] == rgone["ga"])
                & (remaining["gb"] == rgone["gb"])
                & (remaining["r"] == rgone["m"]),
                "left_anti",
            )
        )
    if not matched_frames:
        # limit(0) keeps the non-empty path's exact column types (a
        # hardcoded string schema would flip grp types for callers
        # using non-string group ids)
        matched_frames = [remaining.select("ga", "gb", "l", "r", "s6").limit(0)]
    allm = matched_frames[0]
    for fr in matched_frames[1:]:
        allm = allm.unionByName(fr)
    agg = allm.groupBy("ga", "gb").agg(
        F.count("*").cast("long").alias("matched"),
        F.sum("s6").alias("msum"),
    )
    return (
        agg.join(
            sizes.withColumnRenamed("g", "ga").withColumnRenamed("n", "n_a"),
            "ga",
        )
        .join(
            sizes.withColumnRenamed("g", "gb").withColumnRenamed("n", "n_b"),
            "gb",
        )
        .select(
            F.col("ga").alias("grp_a"),
            F.col("gb").alias("grp_b"),
            "n_a",
            "n_b",
            "matched",
            F.round(
                F.col("msum").cast("double")
                / (
                    F.lit(1000000.0)
                    * (F.col("n_a") + F.col("n_b") - F.col("matched")).cast(
                        "double"
                    )
                ),
                6,
            ).alias("sim"),
        )
    )
