"""Document chunking and sequence packing for training-data pipelines
(tokenizer/context-window preparation; published pretraining practice —
no reference-file grounding, part of the training-data operator family
layered on top of the orchid-fst surface).

``chunk_documents`` splits each document's token stream into fixed-size
(optionally overlapping) windows — the standard context-window slicing
step before embedding or pretraining.  ``pack_sequences`` assigns each
document its position in a stream of fixed-token-budget training
sequences (a packing manifest: seq_id + offset), the greedy
concatenate-then-split layout used by most LM data loaders.

Scale design (100 TB):

* chunking is row-local: tokenize -> explode a per-doc offset sequence
  -> slice.  No shuffle at all; output size is the inherent chunk
  count.  The token array is materialized once per row below the
  Generate and referenced only as a plain slice argument (never inside
  a lambda body — the recorded CollapseProject HOF trap);
* packing needs a GLOBAL running total, which a naive
  ``sum() OVER (ORDER BY id)`` would compute on a single task.  Here it
  is the same two-pass distributed scan as ``sort.ranked_lines``:
  range-repartition by id, one per-partition counting job (n_partitions
  scalar rows to the driver), then partition-local window cumsums
  shifted by broadcast offsets — fully parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.normalize import tokens


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """Fixed-size token windows per document: ``(id, chunk_id,
    n_tokens, chunk_text)``.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)``
    (0-based), for every offset ``i*stride`` strictly inside the
    document — so trailing chunks may be short, every token belongs to
    at least one chunk, and ``stride < chunk_tokens`` yields sliding
    overlap.  Empty documents (no tokens) emit no chunks.
    """
    stride = chunk_tokens if stride is None else stride
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("need chunk_tokens > 0 and stride > 0")
    base = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t")
    ).filter(F.size("_t") > 0)
    n_off = F.floor((F.size("_t") - 1) / stride).cast("int")
    ex = base.select(
        "id", "_t", F.explode(F.sequence(F.lit(0), n_off)).alias("chunk_id")
    )
    piece = F.slice("_t", F.col("chunk_id") * stride + 1, chunk_tokens)
    return ex.select(
        "id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_tokens: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """Packing manifest ``(id, n_tokens, seq_id, seq_offset)``: lay the
    documents out in ``id`` order as one concatenated token stream cut
    into consecutive ``seq_tokens``-sized training sequences; a document
    starts in sequence ``seq_id`` at position ``seq_offset`` (documents
    may straddle a boundary — the boundary-free greedy layout LM loaders
    use).  ``id`` values must be unique (they define the layout order).

    The global running total is the two-pass distributed cumsum
    described in the module docstring — no single-partition window.
    The sorted frame is ``localCheckpoint``ed so both passes observe one
    materialization (same rationale as ``sort.ranked_lines``).
    """
    if seq_tokens <= 0:
        raise ValueError("need seq_tokens > 0")
    df = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    if num_partitions:
        n = num_partitions
    else:
        try:
            n = int(
                docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except ValueError:
            n = docs.sparkSession.sparkContext.defaultParallelism
    srt = (
        df.repartitionByRange(n, "id")
        .sortWithinPartitions("id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sums = sorted(
        (r["_pid"], r["s"])
        for r in srt.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, s in sums:
        offsets.append((int(pid), int(acc)))
        acc += int(s or 0)
    off_df = docs.sparkSession.createDataFrame(
        offsets, "_pid int, _off long"
    )
    local_before = F.coalesce(
        F.sum("n_tokens").over(
            Window.partitionBy("_pid")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    before = (F.col("_off") + local_before).alias("_before")
    return (
        srt.join(F.broadcast(off_df), "_pid")
        .select("id", "n_tokens", before)
        .select(
            "id",
            "n_tokens",
            # exact integral division: _before is the GLOBAL token
            # cumsum; long `/` in Spark is DOUBLE division, which loses
            # integer exactness past 2^53 — within reach of a
            # long-running 100 TB pipeline.  _before >= 0, so
            # truncating div == floor
            F.call_function("div", F.col("_before"), F.lit(int(seq_tokens)))
            .cast("long")
            .alias("seq_id"),
            (F.col("_before") % seq_tokens).cast("long").alias("seq_offset"),
        )
    )
