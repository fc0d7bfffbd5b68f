"""Deterministic sampling / splitting operators for training-data
pipelines.

Hash-based Bernoulli sampling keyed on a stable id — the reproducible
alternative to ``df.sample()`` (whose RNG draw depends on partitioning
and Spark version).  The unit hash is md5-derived exactly like the
engine's LSH hyperplanes, so DuckDB oracles reproduce the selection
bit-for-bit: ``unit = int(md5(seed|key)[:8], 16) / 2^32``.

Scale design: the per-stratum rate table is a tiny broadcast join (a
rates map over languages/domains is ≤1e6 rows), the filter itself is a
pure Catalyst predicate evaluated map-side — no shuffle of the corpus
at all, and the selection is stable under repartitioning, insertion
order, and cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_UNIT_DEN = float(2**32)


def hash_unit(key: Column, seed: str = "s1") -> Column:
    """Deterministic uniform [0, 1) draw from ``md5(seed|key)`` (first
    8 hex chars as a 32-bit integer)."""
    h = F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_UNIT_DEN)


def deterministic_sample(
    df: DataFrame, key_col: str, rate: float, seed: str = "s1"
) -> DataFrame:
    """Keep each row iff its key's unit hash < ``rate`` — deterministic,
    partitioning-independent Bernoulli sampling."""
    return df.filter(hash_unit(F.col(key_col), seed) < float(rate))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    seed: str = "s1",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample: row kept iff
    ``hash_unit(key) < rates.get(stratum, default_rate)``.  The rates
    map joins in as a broadcast table (scales to ~1e6 strata — per-
    domain rates — without a driver-side literal CASE of that size).
    Strata absent from ``rates`` fall back to ``default_rate``.
    """
    spark = df.sparkSession
    # fixed internal column names (a caller's column name interpolated
    # into DDL would crash on non-identifier names); the join matches
    # the stratum as a STRING on both sides so a non-string stratum
    # column compares under one explicit, engine-stable cast instead of
    # whichever implicit coercion Spark picks
    rate_df = spark.createDataFrame(
        [(str(k), float(v)) for k, v in sorted(rates.items())],
        "_stratum string, _rate double",
    )
    joined = df.join(
        F.broadcast(rate_df),
        F.col(stratum_col).cast("string") == F.col("_stratum"),
        "left",
    )
    return (
        joined.withColumn(
            "_rate", F.coalesce("_rate", F.lit(float(default_rate)))
        )
        .filter(hash_unit(F.col(key_col), seed) < F.col("_rate"))
        .drop("_rate", "_stratum")
    )


def es_priority(key: Column, weight: Column, seed: str = "w1") -> Column:
    """Efraimidis–Spirakis A-Res selection priority for weighted
    sampling without replacement: ``ln(u) / w`` — the monotone twin of
    the textbook ``u^(1/w)`` key (TOMS 2006; public literature).  The
    uniform draw ``u = (h + 0.5) / 2^32`` is md5-derived like
    :func:`hash_unit` but offset half a step so ``u`` is strictly
    inside (0, 1) (``ln(0)`` can never appear).  Rounded to 6 dp so the
    DuckDB oracle twin orders identically (ties are broken by the key
    column at the call sites)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(_UNIT_DEN)
    return F.round(F.ln(u) / weight.cast("double"), 6)


def weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int, seed: str = "w1"
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the ``k``
    rows with the largest :func:`es_priority` (ties broken by the key
    ascending), i.e. row ``i`` wins with probability proportional to
    its weight, jointly correct for all ``k`` (A-Res).  Rows with
    non-positive or NULL weight are excluded.

    Scale notes: ``orderBy(...).limit(k)`` plans as
    TakeOrderedAndProject — a per-partition top-k heap plus a driver
    merge of ``n_partitions * k`` rows; the corpus is never globally
    sorted and never shuffled.  Selection is partitioning-independent
    (pure function of key, weight, seed), so re-runs and cluster
    resizes reproduce the identical sample.
    """
    pri = es_priority(F.col(key_col), F.col(weight_col), seed)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", pri)
        .orderBy(F.desc("es_key"), F.col(key_col))
        .limit(int(k))
    )


def train_eval_split(
    df: DataFrame, key_col: str, eval_frac: float, seed: str = "split"
) -> DataFrame:
    """Add a ``split`` column ('eval' iff the key's unit hash <
    ``eval_frac``, else 'train') — the standard leakage-safe holdout
    assignment: a key always lands in the same split regardless of
    partitioning, re-runs, or corpus growth."""
    return df.withColumn(
        "split",
        F.when(hash_unit(F.col(key_col), seed) < float(eval_frac), "eval")
        .otherwise("train"),
    )


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int,
    seed: str = "q1",
) -> DataFrame:
    """Per-group quota sampling: keep a deterministic uniform sample of
    at most ``k`` rows per group — the corpus-balancing pass that stops
    a handful of mega-domains from dominating a training mix (domain /
    language quotas).

    Which rows survive is decided by a per-key md5 priority (the
    engine's standard hash-unit draw), so the selection is
    partitioning-independent, stable under corpus growth *outside* the
    group (new docs in other domains never change this domain's picks),
    and reproducible in any engine — unlike ``df.sample`` or an
    arbitrary LIMIT per group.  Within a group, adding rows can only
    displace the largest priorities (a uniform reservoir, Efraimidis-
    Spirakis with unit weights).

    Plan: delegates to ``ranking.group_topk`` ordered by (priority,
    key) — Spark's partial WindowGroupLimit executes BELOW the
    exchange, so even a mega-group ships at most k rows per map
    partition, never its full membership."""
    from .ranking import group_topk

    pr = hash_unit(F.col(key_col), seed)
    out = group_topk(
        df.withColumn("_pr", pr),
        group_cols,
        [F.col("_pr").asc(), F.col(key_col).asc()],
        k,
        rank_col="_rk",
    )
    return out.drop("_pr", "_rk")


def temperature_rates(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    target_total: int | None = None,
) -> DataFrame:
    """Per-group temperature-scaled sampling rates — the standard
    multilingual/domain mixing formula (Arivazhagan et al. 2019, mT5):
    target share ∝ n_g^alpha, so alpha < 1 upweights small groups and
    alpha = 1 keeps natural proportions.

    Returns ``(group, n, target_share, rate)``: ``rate = min(1,
    target_total * target_share / n)`` is the Bernoulli keep-rate that
    hits the target mix at the target budget (``target_total`` defaults
    to the corpus size — pure re-balancing).  ``target_share`` and
    ``rate`` are rounded 6dp (the cross-engine float recipe; with
    alpha = 0.5 the power is an exact sqrt in every engine).

    Plan: ONE hash aggregate over the corpus (map-side combined), then
    arithmetic on the group-sized frame; corpus totals ride along via a
    window over the unpartitioned group frame (group-count rows, not
    corpus rows).
    """
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").cast("long").alias("n")
    )
    w = (
        F.sqrt(F.col("n").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
    )
    # the group frame is tiny (one row per language/domain): a global
    # window over it is a single-partition exchange of group-count rows
    from pyspark.sql import Window

    everything = Window.partitionBy()
    weighted = counts.withColumn("_w", w).withColumn(
        "_wsum", F.sum("_w").over(everything)
    ).withColumn("_ntot", F.sum("n").over(everything))
    share = F.round(F.col("_w") / F.col("_wsum"), 6)
    total = (
        F.lit(int(target_total)).cast("double")
        if target_total is not None
        else F.col("_ntot").cast("double")
    )
    rate = F.round(
        F.least(F.lit(1.0), total * share / F.col("n")), 6
    )
    return weighted.select(
        "group", "n", share.alias("target_share"), rate.alias("rate")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_total: int | None = None,
    seed: str = "t1",
) -> DataFrame:
    """Deterministic temperature-mixed corpus sample: keep each row iff
    its key's unit hash < its group's ``temperature_rates`` rate.

    The rate table is group-sized and broadcast; the filter is a pure
    map-side predicate — the corpus is scanned once for counts and once
    for the filter, with no corpus shuffle.  Selection is partitioning-
    independent and stable under growth of OTHER groups' membership up
    to the rate recomputation (documented: rates move when the mix
    moves — that is the point).
    """
    rates = temperature_rates(df, group_col, alpha, target_total).select(
        F.col("group"), F.col("rate")
    )
    joined = df.join(
        F.broadcast(rates),
        F.col(group_col).cast("string") == F.col("group").cast("string"),
        "left",
    )
    return (
        joined.filter(
            hash_unit(F.col(key_col), seed) < F.coalesce("rate", F.lit(0.0))
        )
        .drop("group", "rate")
    )


def _gram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    seed: str,
) -> DataFrame:
    """(id, bucket) — one row per unigram/bigram OCCURRENCE, hashed into
    ``n_buckets`` with the engine-wide md5 32-bit draw (DuckDB oracles
    reproduce buckets bit-for-bit).  Bigrams via the zip_with-over-
    slices idiom (the token array never appears inside a lambda body —
    the recorded CollapseProject trap)."""
    from ..functions.normalize import tokens

    toks = tokens(F.lower(F.col(text_col)))
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("_u"), bigrams.alias("_b")
    )
    grams = base.select(
        "id", F.explode(F.concat("_u", "_b")).alias("g")
    )
    h = F.md5(F.concat(F.lit(f"{seed}|"), F.col("g")))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets
    return grams.select("id", bucket.alias("bucket"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    seed: str = "dsir",
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    per-document log importance weights of a TARGET distribution over
    the RAW corpus, under hashed bag-of-ngram (unigram+bigram) feature
    models.

    Returns ``(id, n_grams, avg_logratio)`` for every raw doc, where
    ``avg_logratio`` is the mean over the doc's gram occurrences of
    ``ln(ct[b]+alpha) - ln(cs[b]+alpha) + ln(Ns+alpha*B) - ln(Nt+alpha*B)``
    (add-alpha smoothed target/raw likelihood ratio per hashed bucket;
    higher = more target-like).  Docs with no tokens report (0, 0.0).
    Rounded to 6 dp (integer counts until the final ln — the engine-wide
    float discipline, same as ``lm_doc_logprob``).

    Scale notes: each corpus is scanned once into a <= n_buckets-row
    count table (hash aggregate with map-side combine); the per-gram
    scoring join is against those broadcast-sized tables; one per-doc
    aggregate finishes.  Nothing is quadratic and the corpus never
    shuffles on grams — buckets only.  The two grand totals are
    collected as driver scalars at call time (two bucket-table-sized
    jobs) and folded into the log-ratio as literals — never a
    crossJoin(broadcast(agg)) nested-loop row.
    """
    from ..util.storage import maybe_persist as _maybe_persist

    if n_buckets < 2:
        raise ValueError("need n_buckets >= 2")
    a = float(alpha)
    raw_b = _maybe_persist(
        _gram_buckets(raw, id_col, text_col, n_buckets, seed), storage
    )
    tgt_cnt = (
        _gram_buckets(target, id_col, text_col, n_buckets, seed)
        .groupBy("bucket").agg(F.count("*").cast("long").alias("ct"))
    )
    src_cnt = raw_b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("cs")
    )
    # one-row totals as driver scalars, not crossJoin(broadcast(agg)):
    # the engine-wide normalizer discipline — a 1-row BroadcastNestedLoop
    # join of an aggregate of a non-leaf frame doubles the analyzed tree
    # for zero benefit; the log of the literal folds at plan time
    nt = tgt_cnt.agg(F.sum("ct")).first()[0] or 0
    ns = src_cnt.agg(F.sum("cs")).first()[0] or 0
    lr = (
        F.log(F.coalesce("ct", F.lit(0)) + F.lit(a))
        - F.log(F.coalesce("cs", F.lit(0)) + F.lit(a))
        + F.log(F.lit(float(ns) + a * n_buckets))
        - F.log(F.lit(float(nt) + a * n_buckets))
    )
    scored = (
        raw_b.join(F.broadcast(tgt_cnt), "bucket", "left")
        .join(F.broadcast(src_cnt), "bucket", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.round(F.avg(lr), 6).alias("avg_logratio"),
        )
    )
    return (
        raw.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("avg_logratio", F.lit(0.0)).alias("avg_logratio"),
        )
    )
