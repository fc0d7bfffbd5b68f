"""Benchmark decontamination for training-data pipelines.

Flags training documents whose token n-grams overlap a held-out
benchmark / eval set — the standard test-set-contamination filter run
before LLM pretraining (n-gram collision screening as published in the
GPT-3 / PaLM appendices; public practice, no reference-file grounding —
this is part of the training-data operator family the engine adds on
top of the orchid-fst surface).

Scale design (100 TB training corpus, ~MB-scale benchmark):

* The benchmark side is small by construction (eval sets are 1e4..1e7
  grams vs 1e10+ training docs), so its DISTINCT gram set is
  ``broadcast()`` and the probe is a map-side LEFT SEMI hash join
  against the exploded training grams — the 100 TB side is never
  shuffled on the gram key.
* Per-doc totals and hit counts are hash aggregates with map-side
  partial combine keyed by the 8-byte doc id.
* Per-doc gram dedup happens ROW-LOCALLY via ``array_distinct`` before
  the explode (unlike ``dedup.shingle_df``'s cross-row ``distinct()``),
  so the training corpus is never hash-partitioned on the gram key —
  its only exchange is the final id-keyed aggregate.  The one gram-
  keyed exchange in the whole plan is the benchmark side's distinct,
  which is small by construction and feeds the BroadcastExchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.normalize import tokens


def _gram_array(text_col: str, n: int) -> Column:
    """Per-row DISTINCT token n-grams as an array — split → sequence →
    transform → array_distinct, all row-local (no shuffle).  Docs with
    fewer than ``n`` tokens carry no gram evidence (empty array), the
    same semantics as the shared shingler and its DuckDB twin."""
    toks = tokens(F.col(text_col))
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def benchmark_grams(
    bench: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """The DISTINCT token ``n``-gram set of a benchmark corpus, as a
    single-column frame ``(sh)`` ready to broadcast into
    :func:`contamination_stats`."""
    return (
        bench.select(F.explode(_gram_array(text_col, n)).alias("sh"))
        .distinct()
    )


def contamination_stats(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
    threshold: float = 0.0,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap statistics.

    Returns ``(id, n_grams, n_hits, overlap_frac, contaminated)``:
    ``n_grams`` = distinct token n-grams in the doc, ``n_hits`` = how
    many of those also appear anywhere in ``bench``, ``overlap_frac`` =
    hits / grams rounded to 6 dp (0.0 for docs too short to carry a
    gram), ``contaminated`` = ``n_hits > 0`` when ``threshold`` is 0
    (the strict any-collision rule), else ``overlap_frac >= threshold``.

    Every input doc appears exactly once in the output — docs with
    fewer than ``n`` tokens carry no gram evidence and come back
    ``(0, 0, 0.0, false)``.

    ``broadcast_bench=False`` falls back to a shuffled semi join for
    the rare huge-benchmark case.
    """
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_gram_array(text_col, n)).alias("sh"),
    )  # (id, sh), distinct per doc by row-local array_distinct
    bg = benchmark_grams(bench, bench_text_col, n).withColumn(
        "_hit", F.lit(1).cast("long")
    )
    if broadcast_bench:
        bg = F.broadcast(bg)
    # single pass over the exploded grams: broadcast LEFT join marks
    # benchmark collisions (bg is distinct, so no row multiplication),
    # then ONE hash aggregate keyed by the 8-byte id yields both counts
    per_doc = (
        grams.join(bg, "sh", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0).cast("long")))
            .cast("long")
            .alias("n_hits"),
        )
    )
    base = docs.select(F.col(id_col).alias("id"))
    out = (
        base.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        )
        .withColumn(
            "overlap_frac",
            F.round(
                F.when(F.col("n_grams") > 0, F.col("n_hits") / F.col("n_grams"))
                .otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    if threshold <= 0.0:
        flag = F.col("n_hits") > 0
    else:
        flag = F.col("overlap_frac") >= float(threshold)
    return out.withColumn("contaminated", flag)
