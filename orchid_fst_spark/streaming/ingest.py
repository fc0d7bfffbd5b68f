"""Structured Streaming ingest for the pages table.

The reference is batch-only (its closest notion of streaming is the
incremental sorted-key FST build, fst.h:16-22 — keys stream in, nodes
freeze as the frontier moves).  At web scale, pages arrive continuously
(new WARC drops), so the engine adds an incremental path:

- ``read_pages_stream``: file-source stream over a parquet directory
  with the canonical pages schema — new files are discovered per
  micro-batch, the streaming analog of "keys arriving in order".
- ``stream_dedup``: exact URL dedup with an event-time watermark on
  ``warc_ts`` (state is bounded: a url seen again after the watermark
  lapses is treated as a re-crawl, matching crawl semantics).
- ``incremental_er``: foreachBatch incremental blocking — each
  micro-batch's *new* keys are fuzzy-joined (deletion-signature join,
  operators/dictionary.fuzzy_join) against the accumulated key store,
  plus among themselves, and the new match edges are appended.  Work per
  batch is O(new x matched-signatures), never a recompute of all pairs;
  clusters are derived from the accumulated edge log on demand with the
  same batch connected-components operator, so streaming and batch
  pipelines share one clustering semantics.

Everything here is the stock Structured Streaming engine.  foreachBatch
alone is at-least-once (a retried batch would re-run its writes); the
state writes are made idempotent by writing each micro-batch to a
deterministic ``batch_id=N`` subdirectory with overwrite — a retry
replaces its own partial output instead of appending a duplicate — which
upgrades the end-to-end guarantee to effectively-once per micro-batch,
the streaming extension of the batch checkpoint/resume story
(er/pipeline.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dictionary import fuzzy_join, fuzzy_self_pairs
from ..er.blocking import normalize_pages
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of pages parquet dropped into ``path``."""
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(path)


def stream_dedup(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exact-dedup a pages stream on url within the watermark window.

    State stays bounded by the watermark (Spark drops per-key state once
    event time passes it) — the stream never accumulates unbounded url
    state the way a naive dropDuplicates would."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def incremental_er(
    pages_stream: DataFrame,
    state_dir: str,
    k: int = 2,
    damerau: bool = True,
    sig_cap: int = 1000,
    max_len: int = 96,
    watermark: str = "1 hour",
    checkpoint_dir: str | None = None,
):
    """Start the incremental ER stream; returns the StreamingQuery.

    Per micro-batch (idempotent per-batch overwrite — a foreachBatch
    retry rewrites the same ``batch_id=N`` directory, so no duplicate
    state survives a partial failure):
      1. normalize the batch's pages -> (url, norm_key); write to
         ``state_dir/keys/batch_id=N``.
      2. candidate edges = fuzzy_join(new keys, previously-seen keys)
         ∪ fuzzy_self_pairs(new keys); exact-DP verified; write to
         ``state_dir/edges/batch_id=N``.

    Derive clusters at any time with ``clusters_from_state``.
    """
    keys_path = os.path.join(state_dir, "keys")
    edges_path = os.path.join(state_dir, "edges")
    ckpt = checkpoint_dir or os.path.join(state_dir, "_stream_ckpt")

    deduped = stream_dedup(pages_stream, watermark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_keys = (
            normalize_pages(batch_df)
            .select("url", "norm_key")
            .filter(F.length("norm_key") > 0)
        )
        new_keys.persist()
        try:
            new_k = new_keys.select("norm_key").distinct()
            try:
                old_k = spark.read.parquet(keys_path).select("norm_key").distinct()
            except Exception:  # first batch: no key store yet
                old_k = None

            within = fuzzy_self_pairs(
                new_k, "norm_key", k=k, damerau=damerau,
                max_len=max_len, sig_cap=sig_cap, algo="passjoin",
            )
            if old_k is not None:
                # segment blocking: O(1) signature rows per key — the
                # increment stays cheap as the accumulated store grows
                cross = fuzzy_join(
                    new_k, old_k, "norm_key", "norm_key",
                    k=k, damerau=damerau, max_len=max_len, algo="passjoin",
                    sig_cap=sig_cap, assume_unique=True,
                ).filter(F.col("key_a") != F.col("key_b"))
                edges = within.unionAll(
                    cross.select(
                        F.least("key_a", "key_b").alias("key_a"),
                        F.greatest("key_a", "key_b").alias("key_b"),
                        "dist",
                    )
                ).distinct()
            else:
                edges = within
            # deterministic per-batch directories (partition-discovery
            # layout: readers of edges_path/keys_path see batch_id as a
            # column); overwrite makes a retried batch idempotent
            edges.write.mode("overwrite").parquet(
                os.path.join(edges_path, f"batch_id={batch_id}")
            )
            new_keys.write.mode("overwrite").parquet(
                os.path.join(keys_path, f"batch_id={batch_id}")
            )
        finally:
            new_keys.unpersist()

    return (
        deduped.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def clusters_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url, norm_key, cluster_id) from the accumulated stream state —
    same connected-components semantics as the batch resolve()."""
    from ..er.clustering import connected_components

    keys = spark.read.parquet(os.path.join(state_dir, "keys"))
    try:
        edges = (
            spark.read.parquet(os.path.join(state_dir, "edges"))
            .select("key_a", "key_b")
            .distinct()
        )
    except Exception:
        edges = None
    if edges is None or edges.isEmpty():
        return keys.select(
            "url", "norm_key", F.col("norm_key").alias("cluster_id")
        )
    comps = connected_components(edges, src="key_a", dst="key_b")
    return (
        keys.join(
            comps.withColumnRenamed("node", "norm_key").withColumnRenamed(
                "component", "cluster_id"
            ),
            "norm_key",
            "left",
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", "norm_key"))
        .select("url", "norm_key", "cluster_id")
    )


def stream_near_dedup(
    docs_stream: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold_num: int = 3,
    threshold_den: int = 10,
    bucket_cap: int = 5000,
    checkpoint_dir: str | None = None,
):
    """Maintain a near-dedup cluster assignment from a document STREAM —
    the streaming twin of ``dedup.incremental_near_dedup`` (and the same
    incremental-build-frontier grounding as the rest of this module,
    fst.h:16-22).

    Per micro-batch (foreachBatch): the first batch runs the full
    ``near_dedup``; every later batch folds into the prior assignment
    with ``incremental_near_dedup`` (md5 exact routing + new-new LSH
    pairs + new-old ``minhash_lsh_join`` against the accumulated
    corpus's exact-reps) — so per-batch work is (batch + touched
    clusters)-sized, and the maintained assignment equals the batch
    ``near_dedup`` over everything ingested so far (pinned by test).

    State layout (idempotent per-batch overwrite, same discipline as
    ``incremental_er``): ``state_dir/docs/batch_id=N`` accumulates the
    corpus; ``state_dir/assign/batch_id=N`` holds the FULL assignment
    snapshot as of batch N (corpus-sized — readers take the max
    batch_id via ``dedup_from_state``; prune old snapshots out-of-band
    if the history isn't wanted).  A retried batch reads only state
    with batch_id < its own, so it can never observe its own partial
    output.  Re-delivered doc ids (a doc re-crawled in a later batch)
    are dropped against the accumulated store — ids are the identity
    here; use a (url, crawl_ts) composite upstream if re-crawls must
    version instead.

    Returns the started StreamingQuery."""
    from ..operators.dedup import incremental_near_dedup, near_dedup

    docs_path = os.path.join(state_dir, "docs")
    assign_path = os.path.join(state_dir, "assign")
    ckpt = checkpoint_dir or os.path.join(state_dir, "_stream_ckpt")
    kw = dict(
        n=n, num_hashes=num_hashes, bands=bands,
        threshold_num=threshold_num, threshold_den=threshold_den,
        bucket_cap=bucket_cap,
    )

    def _prior_batches(batch_id: int) -> list[int]:
        if not os.path.isdir(docs_path):
            return []
        out = []
        for e in os.listdir(docs_path):
            if e.startswith("batch_id="):
                try:
                    b = int(e.split("=", 1)[1])
                except ValueError:
                    continue
                if b < batch_id:
                    out.append(b)
        return sorted(out)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = (
            batch_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            .dropDuplicates(["doc_id"])
            .persist()
        )
        batch_new = batch
        try:
            if not batch.take(1):
                return
            prior = _prior_batches(batch_id)
            if prior:
                old_docs = spark.read.parquet(
                    *[os.path.join(docs_path, f"batch_id={b}") for b in prior]
                )
                # drop re-delivered ids: the id's first batch wins
                batch_new = batch.join(
                    old_docs.select("doc_id"), "doc_id", "left_anti"
                ).persist()
                prev_assign = spark.read.parquet(
                    os.path.join(assign_path, f"batch_id={max(prior)}")
                )
                if not batch_new.take(1):
                    assign = prev_assign
                else:
                    assign = incremental_near_dedup(
                        old_docs, prev_assign, batch_new,
                        id_col="doc_id", text_col="text", storage=None, **kw,
                    ).withColumnRenamed("id", "doc_id")
            else:
                batch_new = batch
                assign = near_dedup(
                    batch_new, "doc_id", "text", storage=None, **kw
                ).withColumnRenamed("id", "doc_id")
            assign.write.mode("overwrite").parquet(
                os.path.join(assign_path, f"batch_id={batch_id}")
            )
            batch_new.write.mode("overwrite").parquet(
                os.path.join(docs_path, f"batch_id={batch_id}")
            )
        finally:
            if batch_new is not batch:
                batch_new.unpersist()
            batch.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def dedup_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, rep_id, keep) — the latest assignment snapshot from the
    accumulated ``stream_near_dedup`` state; equals the batch
    ``near_dedup`` over every document ingested so far (pinned by
    test)."""
    assign_path = os.path.join(state_dir, "assign")
    snaps = [
        int(e.split("=", 1)[1])
        for e in os.listdir(assign_path)
        if e.startswith("batch_id=")
    ]
    if not snaps:
        raise FileNotFoundError(f"no assignment snapshots under {assign_path}")
    return spark.read.parquet(
        os.path.join(assign_path, f"batch_id={max(snaps)}")
    )


def stream_text_index(
    docs_stream: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    n_buckets: int = 64,
    lowercase: bool = False,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Maintain the persisted inverted-index artifact
    (``operators.text_index``) from a document STREAM — the streaming
    twin of ``append_text_index`` and the same incremental-build-
    frontier grounding as the rest of this module (fst.h:16-22: keys
    arrive, the structure grows, queries keep serving).

    Per micro-batch (foreachBatch): the first batch full-builds the
    artifact, every later batch appends with the artifact's own
    bucket mapping/normalization; ``indexed_bm25``/``phrase_search``
    over the artifact equal the batch operators over everything
    ingested so far (pinned by test).  A ``_batch_<id>`` marker makes
    re-delivered batch ids no-ops — and each marker records the
    batch's (row count, xor-of-doc-id-hashes) fingerprint, so a
    batch-id COLLISION carrying different documents (a stream restarted
    with a fresh checkpoint against an index built from other data —
    checkpoint and index lifetimes decoupled) RAISES instead of
    silently dropping the new documents; a collision with a matching
    fingerprint (crash retry, or a same-source replay under a new
    checkpoint) stays a no-op.  The same two-step caveat as
    ``append_text_index`` remains: a crash BETWEEN the append and the
    marker write duplicates that one batch on retry (single-writer
    discipline; the batch path's atomic-rename publication is the
    stronger alternative when full rebuilds are affordable).

    Returns the started StreamingQuery."""
    import json as _json

    from ..operators.text_index import (
        append_text_index,
        build_text_index,
        load_text_index,
    )

    spark = docs_stream.sparkSession

    def _fingerprint(batch: DataFrame) -> tuple[int, int]:
        r = batch.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col(id_col).cast("string"))),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return int(r.n), int(r.h)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(index_dir, f"_batch_{batch_id}")
        if os.path.exists(marker):
            with open(marker) as f:
                m = _json.load(f)
            if "n" not in m:
                return  # legacy marker (no fingerprint): assume replay
            if tuple(_fingerprint(batch)) == (m["n"], m["h"]):
                return  # true re-delivery of the same documents
            raise ValueError(
                f"batch id {batch_id} already incorporated into "
                f"{index_dir} with DIFFERENT documents — the stream's "
                "checkpoint was reset against an existing index; "
                "refusing to silently drop this batch (couple the "
                "index_dir and checkpoint_dir lifetimes, or rebuild)"
            )
        if not batch.take(1):
            return
        if not os.path.exists(os.path.join(index_dir, "_meta")):
            # a directory without _meta is a partial first build (crash
            # between the parquet write and the sidecar): clear it, or
            # the mode='error' rebuild would throw on every retry and
            # wedge the stream permanently.  No markers can exist yet —
            # they are only written after _meta.  Before deleting,
            # verify the directory actually LOOKS like a partial index
            # build (bucket=*/ dirs and Spark write debris only) — a
            # misconfigured path pointing at unrelated data must fail
            # loudly, not vanish.
            if os.path.exists(index_dir):
                import shutil as _shutil

                foreign = [
                    e
                    for e in os.listdir(index_dir)
                    if not (
                        e.startswith("bucket=")
                        or e.startswith("_SUCCESS")
                        or e.startswith("._SUCCESS")
                        or e == "_temporary"
                        or e.startswith("part-")
                        or e.startswith(".part-")
                    )
                ]
                if foreign:
                    raise ValueError(
                        f"{index_dir} exists without a _meta sidecar but "
                        f"holds non-index entries {foreign[:5]} — not a "
                        "partial index build; refusing to delete it "
                        "(point the stream at an empty/new index_dir)"
                    )
                _shutil.rmtree(index_dir, ignore_errors=True)
            build_text_index(
                batch, id_col, text_col, index_dir,
                n_buckets=n_buckets, lowercase=lowercase,
            )
        else:
            append_text_index(
                batch, id_col, text_col, load_text_index(spark, index_dir)
            )
        n, h = _fingerprint(batch)
        with open(marker, "w") as f:
            _json.dump({"batch_id": int(batch_id), "n": n, "h": h}, f)

    w = docs_stream.writeStream.foreachBatch(_apply).outputMode("append")
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_fs_pattern_counts(
    pairs_stream: DataFrame,
    state_dir: str,
    features=None,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Maintain the Fellegi–Sunter agreement-pattern contingency table
    from a STREAM of scored candidate pairs — the streaming twin of
    ``er.scoring.fs_em_train``'s training aggregate (same incremental-
    build-frontier grounding as the rest of this module, fst.h:16-22).

    The pattern counts are the CI model's sufficient statistic and
    ADDITIVE over disjoint pair batches, so EM trained from the summed
    state (``fs_em_from_state``) equals batch ``fs_em_train`` over every
    pair ingested — EXACT, not an approximation (pinned by test).

    Per micro-batch (foreachBatch): flag the K agreement booleans,
    one <= 2**K-row count aggregate, idempotent overwrite of
    ``state_dir/counts/batch_id=N`` — a retried batch REPLACES its own
    rows, never double-counts.  Cross-batch identity is the caller's
    contract: a pair re-emitted in a LATER batch counts twice (pair
    streams from incremental blocking emit each pair once; feed pairs
    through a keyed dedup upstream if yours re-delivers).

    Returns the started StreamingQuery."""
    from ..er.scoring import default_fs_features

    feats = features if features is not None else default_fs_features()
    counts_path = os.path.join(state_dir, "counts")
    ckpt = checkpoint_dir or os.path.join(state_dir, "_stream_ckpt")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..er.scoring import _flag_features

        # null-safe flags — the same coercion fs_em_train applies, so
        # the streamed counts stay bit-identical to batch training
        flagged = _flag_features(batch_df, feats)
        agree_cols = [f"agree_{n}" for n, _ in feats]
        pat = flagged.groupBy(*agree_cols).agg(
            F.count("*").cast("long").alias("n_pairs")
        )
        pat.write.mode("overwrite").parquet(
            os.path.join(counts_path, f"batch_id={batch_id}")
        )

    w = (
        pairs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def fs_em_from_state(
    spark: SparkSession,
    state_dir: str,
    feature_names: list[str] | None = None,
    iters: int = 10,
    init: tuple[float, float, float] = (0.1, 0.9, 0.1),
):
    """Train the FS model from the accumulated streaming pattern counts:
    sum the per-batch contingency tables (one tiny aggregate), then the
    same driver EM as ``fs_em_train`` — returns the identical
    ``(params, patterns)`` the batch trainer would produce over every
    pair ingested so far (pinned by test)."""
    from ..er.scoring import _em_fit, _em_report, default_fs_features

    names = feature_names if feature_names is not None else [
        n for n, _ in default_fs_features()
    ]
    counts_path = os.path.join(state_dir, "counts")
    if not os.path.isdir(counts_path):
        raise FileNotFoundError(f"no pattern counts under {counts_path}")
    agree_cols = [f"agree_{n}" for n in names]
    merged = (
        spark.read.parquet(counts_path)
        .groupBy(*agree_cols)
        .agg(F.sum("n_pairs").cast("long").alias("n_pairs"))
    )
    rows = merged.collect()
    pats = [
        (tuple(bool(r[c]) for c in agree_cols), int(r["n_pairs"]))
        for r in rows
    ]
    lam, m, u = _em_fit(pats, len(names), iters, init)
    params: dict = {"lam": lam}
    for k, name in enumerate(names):
        params[name] = (m[k], u[k])
    # report over the collected rows (the fs_em_train contract): no
    # re-read of the state parquet per downstream consumer
    merged_local = spark.createDataFrame(rows, merged.schema)
    return params, _em_report(merged_local, names, lam, m, u)


def stream_swoosh(
    records_stream: DataFrame,
    state_dir: str,
    id_col: str = "id",
    a_col: str = "a_vals",
    b_col: str = "b_vals",
    max_rounds: int = 20,
    value_cap: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Maintain a merge-based (Swoosh) entity assignment from a record
    STREAM — the streaming twin of incremental ``swoosh_resolve`` and
    the same incremental-build-frontier grounding as the rest of this
    module (fst.h:16-22).  Under ICAR, ER(R1 ∪ R2) = ER(ER(R1) ∪ R2),
    so folding each micro-batch into the prior assignment yields
    EXACTLY the batch resolve over everything ingested (pinned by
    test).

    Per micro-batch (foreachBatch): the first batch runs
    ``swoosh_resolve`` alone; later batches resume from the prior
    snapshot via ``init_assignment`` — the prior corpus is already at
    its fixpoint, so round 1 can only find edges involving a new
    record, and the round count is the batch's evidence-chain depth.
    Cost caveat (documented trade): each round re-derives entity value
    sets from the ACCUMULATED record store (one explode + equi-join
    per field — linear scans, no growing merged arrays), so a batch
    pays a corpus-sized scan per round; a (batch + touched)-sized
    variant would need per-entity materialized value sets.

    State layout (idempotent per-batch overwrite, same discipline as
    ``stream_near_dedup``): ``state_dir/records/batch_id=N``
    accumulates records; ``state_dir/assign/batch_id=N`` holds the
    full assignment snapshot as of batch N.  A retried batch reads
    only state with batch_id < its own; re-delivered record ids are
    dropped first-batch-wins.

    Returns the started StreamingQuery.
    """
    from ..er.swoosh import swoosh_resolve

    recs_path = os.path.join(state_dir, "records")
    assign_path = os.path.join(state_dir, "assign")
    ckpt = checkpoint_dir or os.path.join(state_dir, "_stream_ckpt")

    def _prior_batches(batch_id: int) -> list[int]:
        if not os.path.isdir(recs_path):
            return []
        out = []
        for e in os.listdir(recs_path):
            if e.startswith("batch_id="):
                try:
                    b = int(e.split("=", 1)[1])
                except ValueError:
                    continue
                if b < batch_id:
                    out.append(b)
        return sorted(out)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = (
            batch_df.select(
                F.col(id_col).alias("id"),
                F.col(a_col).alias("a_vals"),
                F.col(b_col).alias("b_vals"),
            )
            .dropDuplicates(["id"])
            .persist()
        )
        batch_new = batch
        try:
            if not batch.take(1):
                return
            prior = _prior_batches(batch_id)
            if prior:
                old = spark.read.parquet(
                    *[os.path.join(recs_path, f"batch_id={b}") for b in prior]
                )
                batch_new = batch.join(
                    old.select("id"), "id", "left_anti"
                ).persist()
                prev_assign = spark.read.parquet(
                    os.path.join(assign_path, f"batch_id={max(prior)}")
                )
                if not batch_new.take(1):
                    assign = prev_assign
                else:
                    assign = swoosh_resolve(
                        old.unionByName(batch_new),
                        max_rounds=max_rounds,
                        value_cap=value_cap,
                        init_assignment=prev_assign,
                    )
            else:
                assign = swoosh_resolve(
                    batch_new, max_rounds=max_rounds, value_cap=value_cap
                )
            assign.write.mode("overwrite").parquet(
                os.path.join(assign_path, f"batch_id={batch_id}")
            )
            batch_new.write.mode("overwrite").parquet(
                os.path.join(recs_path, f"batch_id={batch_id}")
            )
        finally:
            if batch_new is not batch:
                batch_new.unpersist()
            batch.unpersist()

    return (
        records_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def swoosh_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """(id, entity_id) — the latest Swoosh assignment snapshot from the
    accumulated ``stream_swoosh`` state; equals the batch
    ``swoosh_resolve`` over every record ingested so far (pinned by
    test)."""
    assign_path = os.path.join(state_dir, "assign")
    snaps = [
        int(e.split("=", 1)[1])
        for e in os.listdir(assign_path)
        if e.startswith("batch_id=")
    ]
    if not snaps:
        raise FileNotFoundError(f"no assignment snapshots under {assign_path}")
    return spark.read.parquet(
        os.path.join(assign_path, f"batch_id={max(snaps)}")
    )
