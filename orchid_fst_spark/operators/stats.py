"""Corpus-statistics operators for training-data pipelines.

Repetition signals (the Gopher-rules family of quality heuristics:
duplicate-token fraction, most-frequent-token fraction, most-frequent-
bigram fraction — published data-quality practice, no reference-file
grounding) and multi-level rollup aggregation over corpus dimensions.

All pure Catalyst: integer counting until one final rounded division,
so the DuckDB oracle twins are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.normalize import tokens


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals:

    ``(id, n_tokens, n_distinct, dup_token_frac, top_token_frac,
    top_bigram_frac)`` where ``dup_token_frac = 1 - distinct/total``
    (mass sitting in repeats), ``top_token_frac`` = occurrence share of
    the single most frequent token, and ``top_bigram_frac`` = share of
    the most frequent space-joined token bigram among all bigrams.
    Fractions are rounded to 6 dp; docs with no tokens (or no bigrams)
    report 0.0 for the corresponding fractions.  Every input doc
    appears exactly once.

    Scale notes: explode → (doc, term) hash aggregate → (doc) hash
    aggregate, both with map-side partial combine — linear in token
    count, no window, no sort.  Bigrams come from
    ``zip_with(slice(toks,1,m), slice(toks,2,m), concat)``: the token
    array appears only as a plain argument of slice/zip_with, never
    inside a lambda body, so Catalyst's CollapseProject re-inline (the
    recorded O(n²)-per-doc HOF trap) cannot multiply the split.
    """
    toks = tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    base = docs.select(F.col(id_col).alias("id"), toks.alias("_t"),
                       bigrams.alias("_b"))

    tok_counts = (
        base.select("id", F.explode("_t").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("_top_tok"),
        )
    )
    bg_counts = (
        base.select("id", F.explode("_b").alias("bg"))
        .groupBy("id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("_n_bg"),
            F.max("c").cast("long").alias("_top_bg"),
        )
    )

    def _frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6
        )

    return (
        base.select("id")
        .join(tok_counts, "id", "left")
        .join(bg_counts, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0).cast("long")).alias("n_distinct"),
            F.coalesce("_top_tok", F.lit(0).cast("long")).alias("_top_tok"),
            F.coalesce("_n_bg", F.lit(0).cast("long")).alias("_n_bg"),
            F.coalesce("_top_bg", F.lit(0).cast("long")).alias("_top_bg"),
        )
        .select(
            "id",
            "n_tokens",
            "n_distinct",
            _frac(F.col("n_tokens") - F.col("n_distinct"), F.col("n_tokens"))
            .alias("dup_token_frac"),
            _frac(F.col("_top_tok"), F.col("n_tokens")).alias("top_token_frac"),
            _frac(F.col("_top_bg"), F.col("_n_bg")).alias("top_bigram_frac"),
        )
    )


def numeric_profile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group numeric profile: ``n``, ``mean``, ``sd``, ``vmin``,
    ``vmax`` and one ``p{q}`` column per requested quantile, all
    rounded to 6 dp.

    ``exact=True`` uses Spark's exact ``percentile`` (linear-
    interpolation semantics, matching DuckDB ``quantile_cont`` — the
    oracle twin) — it buffers each group's values, so reserve it for
    bounded group sizes.  ``exact=False`` switches to
    ``approx_percentile`` (GK sketch, ``accuracy`` trades memory for
    error) — the constant-memory 100 TB path, same plan shape, no
    cross-engine oracle.
    """
    pcols = []
    for qt in quantiles:
        name = f"p{str(qt).replace('0.', '').rstrip('0') or '0'}"
        if exact:
            c = F.percentile(value_col, F.lit(float(qt)))
        else:
            c = F.approx_percentile(
                value_col, F.lit(float(qt)), F.lit(int(accuracy))
            )
        pcols.append(F.round(c, 6).alias(name))
    return df.groupBy(*group_cols).agg(
        F.count(value_col).cast("long").alias("n"),
        F.round(F.avg(value_col), 6).alias("mean"),
        F.round(F.stddev_samp(value_col), 6).alias("sd"),
        F.round(F.min(value_col), 6).alias("vmin"),
        F.round(F.max(value_col), 6).alias("vmax"),
        *pcols,
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram: bucket 0 = underflow (< lo), buckets
    1..n = [lo, hi) in equal widths, bucket n+1 = overflow (>= hi);
    returns ``(group…, bucket, bucket_lo, n)``, empty buckets omitted.
    One hash aggregate with map-side partial combine — the binning
    arithmetic is a closed-form double expression (identical in the
    DuckDB oracle), not a per-row UDF or a join against bucket bounds.
    NULL values are dropped (no bucket).
    """
    if not (hi > lo and n_buckets > 0):
        raise ValueError("need hi > lo and n_buckets > 0")
    width = (float(hi) - float(lo)) / int(n_buckets)
    v = F.col(value_col)
    bucket = (
        F.when(v < float(lo), F.lit(0))
        .when(v >= float(hi), F.lit(n_buckets + 1))
        .otherwise(F.floor((v - float(lo)) / F.lit(width)) + 1)
        .cast("long")
    )
    gcols = list(group_cols or [])
    return (
        df.filter(v.isNotNull())
        .select(*gcols, bucket.alias("bucket"))
        .groupBy(*gcols, "bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn(
            "bucket_lo",
            F.round(
                F.lit(float(lo)) + (F.col("bucket") - 1) * F.lit(width), 6
            ),
        )
        .select(*gcols, "bucket", "bucket_lo", "n")
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    group_cols: list[str] | None = None,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Equi-depth (quantile) histogram: rows are binned at the
    per-group quantile boundaries, so every bucket holds ~1/n of the
    group's rows regardless of the value distribution — the optimizer-
    statistics twin of the fixed-width :func:`value_histogram` (skewed
    values get resolution where the mass is).

    Returns ``(group…, bucket, lo, hi, n)`` with ``bucket`` in
    ``0..n_buckets-1``, ``lo``/``hi`` the bucket's boundary values
    (NULL at the outer edges), empty buckets omitted (possible under
    heavy ties).  A value exactly on a boundary lands in the higher
    bucket (``v >= b``) in both engines.

    Two passes: (1) one aggregate computes the ``n_buckets - 1``
    interior boundaries per group — exact ``percentile`` (linear
    interpolation == DuckDB ``quantile_cont``, the oracle twin) or
    ``exact=False`` → ``approx_percentile`` (GK sketch), the
    constant-memory 100 TB path; (2) the boundary arrays broadcast back
    and binning is ``size(filter(bs, b -> v >= b))`` — a codegen'd
    scan over a ≤ n_buckets-element array per row (the array is a join
    attribute, not a computed alias, so the CollapseProject HOF
    re-inline cannot touch it), then one hash aggregate."""
    if n_buckets < 2:
        raise ValueError("need n_buckets >= 2")
    g = list(group_cols or [])
    qs = [i / n_buckets for i in range(1, n_buckets)]
    if exact:
        pct = F.percentile(value_col, F.array(*[F.lit(q) for q in qs]))
    else:
        pct = F.approx_percentile(
            value_col, F.array(*[F.lit(q) for q in qs]), F.lit(int(accuracy))
        )
    grouped = df.filter(F.col(value_col).isNotNull()).groupBy(*g)
    bnds = grouped.agg(pct.alias("_bs"))
    src = df.filter(F.col(value_col).isNotNull())
    joined = (
        src.join(F.broadcast(bnds), g) if g else src.crossJoin(F.broadcast(bnds))
    )
    v = F.col(value_col)
    bucket = F.size(F.filter("_bs", lambda b: v >= b)).cast("long")
    return (
        joined.withColumn("bucket", bucket)
        .groupBy(*g, "bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.first("_bs").alias("_bs"),
        )
        .select(
            *g,
            "bucket",
            F.when(
                F.col("bucket") > 0,
                F.round(F.element_at("_bs", F.col("bucket").cast("int")), 6),
            ).alias("lo"),
            F.when(
                F.col("bucket") < n_buckets - 1,
                F.round(F.element_at("_bs", F.col("bucket").cast("int") + 1), 6),
            ).alias("hi"),
            "n",
        )
    )


def rolling_stats(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Per-row trailing event-time aggregate: every input row gains
    ``n_w`` / ``sum_w`` / ``avg_w`` over the key's rows with timestamp
    in ``[ts - window_seconds, ts]`` (inclusive both ends — the
    standard trailing-window monitor shape: errors per user in the last
    hour, spend per host in the last day).

    Event time is truncated to whole epoch seconds before framing (the
    same discipline as the sessionizers — sub-second ordering is not
    preserved by a RANGE frame anyway), so the DuckDB twin
    (``ORDER BY floor(epoch(ts))::BIGINT RANGE BETWEEN w PRECEDING AND
    CURRENT ROW``) frames identically.  ``sum_w``/``avg_w`` rounded to
    6 dp.

    Scale notes: ONE hash shuffle on the key + a per-key sort; Spark
    evaluates the range frame as a sliding window (state = the rows
    inside one window, not the whole partition).  A pathologically hot
    key serializes its own partition — trailing windows cannot be
    salted without changing semantics, so cap per-key event rates
    upstream (the blocking-cap discipline) or pre-aggregate to coarser
    time buckets first."""
    # TZ-independent whole-second key (TIMESTAMP_NTZ has no direct long
    # cast in Spark 4, and an LTZ round-trip would drag the session
    # timezone into the frame boundaries)
    sec = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"cast({ts_col} as timestamp_ntz))"
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(sec)
        .rangeBetween(-int(window_seconds), 0)
    )
    v = F.col(value_col)
    n = F.count(v).over(w)
    s = F.sum(v).over(w)
    # one select, not chained withColumns: all three expressions share
    # the window spec, so Catalyst plans ONE Window node (a withColumn
    # chain planned three — three passes over every partition)
    return df.select(
        "*",
        n.cast("long").alias("n_w"),
        F.round(s, 6).alias("sum_w"),
        F.round(F.when(n > 0, s / n).otherwise(F.lit(0.0)), 6).alias("avg_w"),
    )


def _grouping_stats(
    grouped, dims: list[str], measures: dict[str, Column] | None,
    total_label: str,
) -> DataFrame:
    if measures is None:
        measures = {"n_rows": F.count("*")}
    # grouping() is only legal inside the rollup/cube aggregate itself,
    # so the subtotal flags come out as aggregate columns and the labels
    # are applied in a follow-up projection
    aggs = [F.grouping(d).alias(f"_g_{d}") for d in dims] + [
        c.alias(name) for name, c in measures.items()
    ]
    labelled = [
        F.when(F.col(f"_g_{d}") == 1, F.lit(total_label))
        .otherwise(F.col(d))
        .alias(d)
        for d in dims
    ]
    return grouped.agg(*aggs).select(
        *labelled, *[F.col(n) for n in measures]
    )


def rollup_stats(
    df: DataFrame,
    dims: list[str],
    measures: dict[str, Column] | None = None,
    total_label: str = "<all>",
) -> DataFrame:
    """Multi-level ROLLUP aggregate over ``dims`` (finest → grand
    total) with subtotal rows labelled ``total_label`` via
    ``grouping()`` — so a genuine NULL dim value stays distinguishable
    from a subtotal.  ``measures`` maps output name → aggregate Column
    (default: ``n_rows`` count).

    Scale notes: Spark plans ROLLUP as a single Expand + hash aggregate
    with map-side partial combine — one shuffle for every subtotal
    level, instead of len(dims)+1 separate groupBy jobs over the 100 TB
    input.
    """
    return _grouping_stats(df.rollup(*dims), dims, measures, total_label)


def cube_stats(
    df: DataFrame,
    dims: list[str],
    measures: dict[str, Column] | None = None,
    total_label: str = "<all>",
) -> DataFrame:
    """CUBE twin of :func:`rollup_stats`: subtotals for EVERY subset of
    ``dims`` (2^len(dims) grouping sets), labelled through the same
    ``grouping()`` discipline.  Planned as one Expand + hash aggregate —
    the Expand fan-out is 2^len(dims) rows per input row, so keep the
    dim list short at scale (the standard CUBE cost model)."""
    return _grouping_stats(df.cube(*dims), dims, measures, total_label)


def skew_profile(
    df: DataFrame, key_col: str, top_n: int = 20
) -> DataFrame:
    """Hot-key profile of a join/groupBy key: the ``top_n`` heaviest
    keys as ``(key, n, share)`` under the total order (n DESC, key ASC).

    The north rule requires skew handled EXPLICITLY — this is the
    observability half: run it on a key before shuffling on that key,
    and feed what it reports into salting / cap decisions (the same
    discipline as ``bucket_profile`` for the LSH caps).

    Plan: one hash aggregate over the corpus (map-side combined), a
    one-row total, and a TakeOrderedAndProject cut — the key-count
    frame is never globally sorted and never single-partitioned.
    ``share`` is rounded 6dp (cross-engine float recipe).
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").cast("long").alias("_tot"))
    top = counts.orderBy(F.desc("n"), F.asc("key")).limit(int(top_n))
    return top.crossJoin(F.broadcast(total)).select(
        "key", "n", F.round(F.col("n") / F.col("_tot"), 6).alias("share")
    )


def skew_summary(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew summary of a key's group-size distribution:
    ``(n_rows, n_keys, max_n, p50_n, p90_n, p99_n, top_share)`` —
    enough to decide between a plain shuffle, salting, and a cap
    before paying for the job.

    ``p*_n`` are exact percentiles of the per-key counts (linear
    interpolation == DuckDB ``quantile_cont``); the count frame is
    key-distinct-sized, so the exact path is affordable wherever the
    profile itself is.  ``top_share`` = heaviest key's row share,
    rounded 6dp.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    return counts.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.round(F.percentile("n", F.lit(0.5)), 6).alias("p50_n"),
        F.round(F.percentile("n", F.lit(0.9)), 6).alias("p90_n"),
        F.round(F.percentile("n", F.lit(0.99)), 6).alias("p99_n"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
    )
