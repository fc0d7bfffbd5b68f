#!/usr/bin/env python
"""Regenerate PLANS.md: annotated physical plans of the headline
operators at sf0.01, with the properties each plan must keep asserted
in code (so regenerating doubles as a plan-regression check).

    python scripts/gen_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    from pyspark.sql import functions as F

    from orchid_fst_spark.er.blocking import candidate_pairs, normalize_pages
    from orchid_fst_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs
    from orchid_fst_spark.operators.index import (
        _TRIE_CACHE,
        build_index,
        index_match_lookup,
        load_index,
    )
    from orchid_fst_spark.operators.similarity import ivf_topk
    from orchid_fst_spark.operators.sort import ranked_lines
    from orchid_fst_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="gen_plans", cores=8, shuffle_partitions=16)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections = []

    def add(title, notes, df, must_contain=(), must_not=("CartesianProduct",),
            at_most=None):
        plan = formatted(df)
        for frag in must_contain:
            assert frag in plan, (title, frag)
        for frag in must_not:
            assert frag not in plan, (title, frag)
        for frag, cap in (at_most or {}).items():
            assert plan.count(frag) <= cap, (title, frag, plan.count(frag))
        sections.append((title, notes, plan))

    pages = entry._pages_from_docs(spark, SF)
    add(
        "ER candidate generation (`er.blocking.candidate_pairs`, passjoin)",
        "Segment blocking: Catalyst explodes emit O(1) signature rows per "
        "key; all blocking shuffles carry 8-byte xxhash64 ids; hot "
        "signatures are removed by `drop_hot`'s count window (one pass "
        "over the index, its hash partitioning on sig reused by the "
        "equi-join) before the join; the string keys rejoin only for the "
        "banded-DP verify (single Arrow stage).  No cartesian products "
        "anywhere.",
        candidate_pairs(normalize_pages(pages).select("url", "norm_key")),
        must_contain=("xxhash64", "Window"),
        must_not=("LeftAnti",),
    )
    add(
        "N-gram Jaccard near-dup (`operators.dedup.ngram_jaccard_pairs`)",
        "Hot shingles (document frequency > df_cap) are dropped by "
        "`drop_hot`'s count window BEFORE the O(df²) self equi-join; "
        "union denominators come from the uncapped per-doc counts.",
        ngram_jaccard_pairs(docs, "doc_id", "text"),
        must_contain=("Window",),
        must_not=("LeftAnti",),
    )
    add(
        "SimHash near-dup (`operators.dedup.simhash_pairs`)",
        "Radius-derived bands (pigeonhole-complete) feed the grouped "
        "single-shuffle pair expansion (`drop_hot` window cap -> "
        "groupBy(bucket) reusing its partitioning -> member collect -> "
        "two successive Generates; no band self-join).  The signature "
        "long rides "
        "the expansion as a payload, so there is no per-side join-back; "
        "the bit_count(xor) Hamming verify runs BEFORE the distinct so "
        "the dedup shuffle carries only passing pairs.",
        simhash_pairs(docs, "doc_id", "text", max_hamming=10),
        must_contain=("Generate",),
        must_not=("CartesianProduct", "LeftAnti"),
    )
    from orchid_fst_spark.operators.dedup import minhash_lsh_pairs
    from orchid_fst_spark.operators.similarity import cosine_lsh_pairs

    add(
        "MinHash-LSH near-dup (`operators.dedup.minhash_lsh_pairs`)",
        "Band buckets go through the grouped single-shuffle pair "
        "expansion (`drop_hot` window cap, whose hash partitioning the "
        "ONE groupBy(bucket) aggregate reuses; pairs stream out of two "
        "successive Generates — no two-sided band self-join, so the band "
        "frame is scanned once and is not persisted); exact integer "
        "Jaccard verify touches candidates only.",
        minhash_lsh_pairs(docs, "doc_id", "text"),
        must_contain=("Generate",),
        must_not=("CartesianProduct", "LeftAnti"),
    )
    add(
        "Cosine hyperplane-LSH pairs (`operators.similarity.cosine_lsh_pairs`)",
        "Arrow-batched signature stage, then the grouped single-shuffle "
        "band pair expansion (window cap, one groupBy, two Generates); "
        "vectors are too wide for the O(m^2) pair fan-out, so the exact "
        "cosine verify joins them back per side on the DISTINCT "
        "candidate set.",
        cosine_lsh_pairs(emb, "vec_id", "embedding", 0.8, dim=64),
        must_contain=("Generate",),
        must_not=("CartesianProduct", "LeftAnti"),
    )
    from orchid_fst_spark.operators.dictionary import fuzzy_join

    qdf = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("q")
    ).filter(F.col("q") != "").distinct()
    add(
        "Fuzzy two-table join, deletes path (`operators.dictionary.fuzzy_join`)",
        "Per-side signature arrays come out of the aggregate as REAL "
        "columns and the cross-side pair expansion is two successive "
        "Generate (explode) steps — the plan contains NO lambda "
        "referencing a computed array (the CollapseProject HOF "
        "re-inline trap measured as a 2x regression in BENCH_r02).",
        fuzzy_join(qdf, entry._dict(spark, SF), "q", "key", k=1),
        must_not=("CartesianProduct", "lambdafunction"),
    )
    add(
        "IVF top-k ANN (`operators.similarity.ivf_topk`)",
        "Centroids broadcast to both the assignment and the query-probe "
        "side; the only big join is the cell equi-join touching "
        "~n_probe/n_cells of the corpus per query.",
        ivf_topk(emb, emb.filter(F.col("vec_id") < 20), "vec_id", "embedding",
                 "vec_id", "embedding", k=3),
        must_contain=("BroadcastNestedLoopJoin",),
    )
    add(
        "Globally ranked sort (`operators.sort.ranked_lines`)",
        "Range repartition + in-partition sort + per-partition counts; "
        "rank = broadcast offset + monotonic-id low bits.  NO "
        "single-partition exchange (the naive global window would "
        "collapse to one task).",
        ranked_lines(
            spark.read.parquet(f"{SF}/part.parquet").select(
                F.col("p_name").alias("line")
            )
        ),
        must_not=("SinglePartition", "CartesianProduct"),
    )
    from orchid_fst_spark.operators.dedup import winnow_pairs

    add(
        "Winnowing near-dup pairs (`operators.dedup.winnow_pairs`)",
        "Rolling k-gram hashes posexploded once per doc, window-min over "
        "w grams (ONE hash exchange — never a nested HOF, which "
        "CollapseProject would inline into O(n²) hashing), hot "
        "fingerprints removed by `drop_hot`'s count window before the "
        "equi-join.",
        winnow_pairs(docs, "doc_id", "text"),
        must_contain=("Window",),
        must_not=("LeftAnti",),
    )
    from orchid_fst_spark.operators.dedup import near_dedup
    from orchid_fst_spark.operators.similarity import embedding_dedup

    add(
        "End-to-end keep-one text dedup (`operators.dedup.near_dedup`)",
        "Final labeling plan: the persisted mapped frame (exact collapse "
        "= ONE null-safe hash shuffle) left-joins the connected-components "
        "labels — here a LocalTableScan, because a graph within "
        "`clustering._DRIVER_MAX_EDGES` canonical edges is labelled on "
        "the driver (above it, the last star round's checkpoint scan).  "
        "At execution time only the InMemoryTableScan and the labels' "
        "scan run — the long InMemoryRelation subtree printed below is "
        "the cached plan echoed for transparency, and no CC work appears "
        "at all (the edges were cut and labelled before planning).  The "
        "LSH/verify stages are the already-asserted minhash_lsh_pairs "
        "plan.  Every input row survives to the output (NULL texts "
        "included).",
        near_dedup(docs, "doc_id", "text"),
        must_contain=("InMemoryTableScan",),
    )
    add(
        "End-to-end keep-one embedding dedup (`operators.similarity.embedding_dedup`)",
        "Vector twin of near_dedup: exact collapse groups on the raw "
        "vector (one shuffle), cosine-LSH pairs over representatives "
        "only, CC labels as a local relation (driver-labelled within "
        "the edge budget), NULL-vec rows re-enter as singleton "
        "keeps via a union.  Execution reads the InMemoryTableScan + "
        "the labels' LocalTableScan (the printed InMemoryRelation "
        "subtree is the cached plan echoed, not re-executed).",
        embedding_dedup(emb, "vec_id", "embedding", 0.8, dim=64),
        must_contain=("InMemoryTableScan", "Union"),
    )
    from orchid_fst_spark.operators.dedup import span_dedup
    from orchid_fst_spark.operators.ranking import bm25_scores

    add(
        "Span-level exact dedup (`operators.dedup.span_dedup`)",
        "Tumbling token windows built as posexplode -> (doc, span_id) "
        "aggregate (NOT transform(sequence, slice) — the CollapseProject "
        "HOF re-inline would make it O(len²/w) per doc, fatal for "
        "book-length pages); span frequency is a second aggregate on "
        "the md5 hash; the per-doc rebuild a third.  A mega-cluster of "
        "identical spans only ever hits aggregates — there is no pair "
        "join anywhere in the plan.",
        span_dedup(docs, "doc_id", "text"),
        must_contain=("Generate",),
        must_not=("CartesianProduct", "SortMergeJoin("),
    )
    add(
        "BM25 keyword search (`operators.ranking.bm25_scores`)",
        "The token explode is filtered to the query vocabulary BEFORE "
        "the tf aggregate (the shuffle carries only query-term hits); "
        "per-term df and the single-row corpus stats (N, avgdl as exact "
        "integer sum / count) arrive by broadcast; the scoring "
        "projection is whole-stage-codegen arithmetic.",
        bm25_scores(docs, "doc_id", "text", ["spark", "window", "hash"]),
        must_contain=("BroadcastExchange", "HashAggregate"),
    )
    from orchid_fst_spark.operators.dedup import keep_latest
    from orchid_fst_spark.operators.ranking import vocab_topk

    add(
        "Vocabulary top-N (`operators.ranking.vocab_topk`, ngram=2)",
        "Bigrams via zip_with over two slices of the token array (the "
        "array is only ever a plain slice argument, never referenced "
        "inside a lambda body — the CollapseProject re-inline cannot "
        "multiply the split); two hash aggregates with map-side partial "
        "combine; the global cut is TakeOrderedAndProject (per-partition "
        "top-N + one merge), NOT a full sort or a global window.",
        vocab_topk(docs, "doc_id", "text", n=100, ngram=2),
        must_contain=("TakeOrderedAndProject", "partial_"),
        must_not=("CartesianProduct", "Window"),
    )
    events = spark.read.parquet(f"{SF}/events.parquet")
    add(
        "Crawl-snapshot compaction (`operators.dedup.keep_latest`)",
        "Latest row per key as max(struct(order.., payload..)): ONE "
        "exchange, with a map-side partial_max so each map partition "
        "ships at most one candidate row per key — the window "
        "formulation (row_number over key) would shuffle every version "
        "of every page.  No Window operator in the plan.",
        keep_latest(events, ["user_id"], ["ts", "event_id"], ["event_type", "value"]),
        must_contain=("partial_max",),
        must_not=("CartesianProduct", "Window"),
    )
    idx_path = "/tmp/plans_idx"
    build_index(entry._dict(spark, SF), idx_path, n_shards=8)
    # a zero LRU budget shows the executor path; under the budget the
    # walk runs on the driver and the plan is the result's LocalTableScan
    budget, _TRIE_CACHE.budget = _TRIE_CACHE.budget, 0
    try:
        lookup = index_match_lookup(load_index(spark, idx_path), "scan")
    finally:
        _TRIE_CACHE.budget = budget
    add(
        "Persisted-index point lookup (`operators.index.index_match_lookup`)",
        "The shard metadata is read once on the driver (`load_index`) into "
        "a local relation, and the lo_key/hi_key shard filter is folded "
        "into it at planning — the FST bound-seek without a metadata scan. "
        "Shown here is the executor path, taken when the pruned shards "
        "exceed the decoded-shard LRU budget, the result exceeds "
        "`_DRIVER_MAX_ROWS` rows or a batch exceeds `_DRIVER_MAX_QUERIES` "
        "queries: one mapInPandas over the surviving shard rows decodes "
        "each shard worker-side through the LRU.  Otherwise the walk runs "
        "on the driver and the lookup runs no Spark job.",
        lookup,
        must_contain=("LocalTableScan",),
        must_not=("CartesianProduct", "Scan parquet"),
    )

    from orchid_fst_spark.operators.decontam import contamination_stats
    from orchid_fst_spark.operators.sampling import stratified_sample
    from orchid_fst_spark.operators.stats import rollup_stats

    add(
        "Benchmark decontamination (`operators.decontam.contamination_stats`)",
        "The benchmark's distinct gram set builds the BROADCAST side of "
        "a LEFT join against the exploded corpus grams; per-doc gram "
        "dedup is row-local array_distinct, so the TRAINING side is "
        "never hash-partitioned on the gram key — the single gram-keyed "
        "exchange in the plan is the tiny benchmark distinct feeding "
        "the BroadcastExchange.  Hits and totals come out of ONE hash "
        "aggregate keyed by the 8-byte doc id, with map-side partial "
        "combine.",
        contamination_stats(
            docs, docs.filter(F.col("doc_id") % 17 == 0).select("text"), n=5
        ),
        must_contain=("BroadcastHashJoin", "partial_count"),
        at_most={"hashpartitioning(sh": 1},
    )
    add(
        "Rollup corpus stats (`operators.stats.rollup_stats`)",
        "Multi-level ROLLUP plans as ONE Expand + hash aggregate with "
        "map-side partial combine — a single scan and a single shuffle "
        "produce every subtotal level, instead of len(dims)+1 separate "
        "groupBy jobs over the input.",
        rollup_stats(
            docs,
            ["lang", "source"],
            {"n_docs": F.count("*"), "total_chars": F.sum("n_chars")},
        ),
        must_contain=("Expand", "partial_count"),
        must_not=("CartesianProduct", "Window"),
    )
    add(
        "Stratified hash sample (`operators.sampling.stratified_sample`)",
        "The per-stratum rate table is a tiny BroadcastExchange; the "
        "md5-unit draw and the rate comparison run as a map-side Filter "
        "— the corpus is never shuffled at all (no hash-partitioned "
        "Exchange in the plan), so the sample is partitioning-"
        "independent by construction.",
        stratified_sample(
            docs, "lang", {"en": 0.5, "es": 0.25, "zh": 1.0}, "doc_id", 0.1
        ),
        must_contain=("BroadcastHashJoin", "Filter"),
        must_not=("CartesianProduct", "Exchange hashpartitioning"),
    )

    from orchid_fst_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    asof_left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    asof_right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_id"))
    )
    add(
        "As-of join (`operators.asof.asof_join`)",
        "Union-tag-window formulation: ONE hash shuffle of the tagged "
        "union on the join key + a per-key sort, then a streaming "
        "last(..., ignorenulls) carry-forward over `rows unbounded "
        "preceding` — no range self-join (which is O(|L|·|R|) per key), "
        "no nested-loop or cartesian operator anywhere.",
        asof_join(
            asof_left, asof_right, ["user_id"], "ts", "ts", ["err_id"]
        ),
        must_contain=("Window", "hashpartitioning(user_id"),
        must_not=("CartesianProduct", "BroadcastNestedLoop"),
    )

    from orchid_fst_spark.operators.chunking import chunk_documents, pack_sequences
    from orchid_fst_spark.operators.interval import interval_join
    from orchid_fst_spark.operators.sampling import weighted_sample
    from orchid_fst_spark.operators.setsim import jaccard_prefix_pairs

    add(
        "Prefix-filter set-similarity join (`operators.setsim.jaccard_prefix_pairs`)",
        "Lossless AllPairs/PPJoin: candidates come from exploding ONLY "
        "each doc's rarest (df-ascending prefix) shingles, hashed to "
        "8-byte longs before the equi-join, with the AllPairs length "
        "filter applied inside the join condition; the shingle base and "
        "the per-doc array frame are each persisted once "
        "(InMemoryRelation) instead of recomputing the tokenize->shingle "
        "pipeline per consumer; verification is a JVM `array_intersect` "
        "over the hashed arrays — no Python, no cartesian, no lambda "
        "over a computed array column (the transform lambdas bind only "
        "their own element argument).",
        jaccard_prefix_pairs(docs, "doc_id", "text", 3, 1, 2),
        must_contain=("Generate", "array_intersect", "InMemoryRelation"),
        must_not=("CartesianProduct", "BroadcastNestedLoop"),
    )

    add(
        "Context-window chunking (`operators.chunking.chunk_documents`)",
        "Row-local: tokenize -> explode a per-doc offset sequence -> "
        "slice.  ZERO exchanges of any kind — chunking a 100 TB corpus "
        "is pure map-side work whose output size is the inherent chunk "
        "count.",
        chunk_documents(docs, "doc_id", "text", 64, 32),
        must_contain=("Generate",),
        must_not=("CartesianProduct", "Exchange"),
    )

    add(
        "Sequence packing (`operators.chunking.pack_sequences`)",
        "The global running token total is the two-pass distributed "
        "cumsum: range partition by id, one per-partition counting job, "
        "then a partition-LOCAL window (partitionBy _pid — fully "
        "parallel) shifted by broadcast offsets.  No single-partition "
        "exchange anywhere, so the manifest computes at any corpus "
        "size.",
        pack_sequences(docs, "doc_id", "text", 2048),
        must_contain=("Window", "BroadcastHashJoin"),
        must_not=("CartesianProduct", "Exchange SinglePartition"),
    )

    add(
        "Bucketed interval join (`operators.interval.interval_join`)",
        "Bucket decomposition: intervals explode to the buckets they "
        "cover (Generate over `sequence`), points tag exactly one "
        "bucket, and the join is an equi-join on (key…, bucket) with "
        "the half-open range compare as the join residual — never the "
        "key-only join whose hot keys go quadratic, never a "
        "nested-loop.  Each qualifying pair is produced exactly once, "
        "so there is no distinct pass.",
        interval_join(
            asof_left,
            asof_right.withColumnRenamed("ts", "win_start").withColumn(
                "win_end", F.col("win_start") + F.expr("INTERVAL 2 HOURS")
            ),
            ["user_id"],
            "ts",
            "win_start",
            "win_end",
            bucket_seconds=3600,
        ),
        must_contain=("Generate", "sequence(", "_bkt"),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )

    from orchid_fst_spark.operators.ranking import hashed_classifier_score

    add(
        "Hashed linear quality classifier (`operators.ranking.hashed_classifier_score`)",
        "The default (md5-placeholder-weights) path is a pure map-side "
        "projection: tokenize -> sequential integer fold over the token "
        "array (the array is an argument of the fold, never referenced "
        "inside another lambda) -> one divide + logistic.  ZERO "
        "exchanges of any kind and no Python — scoring a 100 TB corpus "
        "is embarrassingly parallel, exactly one output row per input "
        "row.",
        hashed_classifier_score(docs, "doc_id", "text"),
        must_contain=("Project",),
        must_not=("CartesianProduct", "Exchange", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.ranking import collocations

    add(
        "PMI collocation mining (`operators.ranking.collocations`)",
        "Unigram/bigram counts are hash aggregates with map-side "
        "partial combine (bigrams from zip_with over slices — the "
        "token array is never inside a lambda body); corpus totals "
        "are a broadcast one-row frame; the global top-N executes as "
        "TakeOrderedAndProject (per-partition top-N + driver merge), "
        "never a full sort.",
        collocations(docs, "doc_id", "text", min_count=2, top_n=100),
        must_contain=("TakeOrderedAndProject", "HashAggregate"),
        must_not=("CartesianProduct", "Exchange rangepartitioning",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.interval import interval_overlap_join

    add(
        "Interval-interval overlap join (`operators.interval.interval_overlap_join`)",
        "Both sides explode to their covered buckets, the join is the "
        "same equi-join on (key…, bucket), and exactly-once emission "
        "comes from keeping a pair only in its overlap-start bucket "
        "(`_bkt == greatest(floor(ls/b), floor(rs/b))`, a join "
        "residual) — no distinct pass, no key-only hot-key quadratic "
        "join, no nested-loop.",
        interval_overlap_join(
            asof_left.withColumn(
                "c_end", F.col("ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            asof_right.withColumnRenamed("ts", "e_start").withColumn(
                "e_end", F.col("e_start") + F.expr("INTERVAL 2 HOURS")
            ),
            ["user_id"],
            "ts",
            "c_end",
            "e_start",
            "e_end",
            bucket_seconds=3600,
        ),
        must_contain=("Generate", "sequence(", "_bkt", "greatest("),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )

    add(
        "Weighted sample without replacement (`operators.sampling.weighted_sample`)",
        "Efraimidis-Spirakis priorities are a map-side projection "
        "(md5-derived, partitioning-independent); the global top-k is "
        "TakeOrderedAndProject — a per-partition heap plus a driver "
        "merge of n_partitions*k rows.  The corpus is never globally "
        "sorted (no range-partitioned exchange) and never hash-shuffled; "
        "the weight filter is pushed into the parquet scan.",
        weighted_sample(docs, "doc_id", "n_chars", 100),
        must_contain=("TakeOrderedAndProject", "GreaterThan(n_chars,0)"),
        must_not=("CartesianProduct", "Exchange rangepartitioning",
                  "Exchange hashpartitioning"),
    )

    add(
        "CUBE corpus stats (`operators.stats.cube_stats`)",
        "All 2^d grouping sets in ONE Expand + partial/final hash "
        "aggregate (map-side combine before the single shuffle) — not "
        "2^d separate scans of the 100 TB input; `grouping()` flags ride "
        "the aggregate so genuine NULL dims stay distinguishable from "
        "subtotal rows.",
        __import__("orchid_fst_spark.operators.stats", fromlist=["cube_stats"]).cube_stats(
            docs, ["lang", "source"]
        ),
        must_contain=("Expand", "partial_count"),
        must_not=("CartesianProduct", "Window"),
    )

    from orchid_fst_spark.operators.ranking import lm_doc_logprob
    from orchid_fst_spark.operators.similarity import pq_topk
    from orchid_fst_spark.operators.sketch import (
        cms_sketch,
        hll_registers,
        hll_summary,
    )

    add(
        "HyperLogLog summary (`operators.sketch.hll_registers` + `hll_summary`)",
        "Constant-memory distinct counting: one partial/final hash "
        "aggregate folds the corpus to at most 2^p register rows (the "
        "only data-sized shuffle), then a single-row aggregate derives "
        "the integer harmonic-sum summary.  Pure Catalyst md5/bit "
        "arithmetic — no Python, and sketches merge by max so "
        "incremental day-over-day counting never re-scans history.",
        hll_summary(hll_registers(docs, "text", p=9), p=9),
        must_contain=("HashAggregate", "partial_max"),
        must_not=("CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                  "MapInPandas"),
        # formatted explain names each node twice (tree + details):
        # 2 real exchanges = register shuffle + single-row final
        at_most={"Exchange": 4},
    )

    add(
        "Count-Min sketch (`operators.sketch.cms_sketch`)",
        "Frequency sketching: a static depth-way Generate (constant "
        "fan-out, not data-dependent) feeds ONE partial/final hash "
        "aggregate bounded at depth*width cells — the corpus shuffles "
        "once and only (depth, bucket) pairs ride the wire.  Cells are "
        "integer counts (mergeable by sum); lookups broadcast the probe "
        "list against the bounded sketch.",
        cms_sketch(
            docs.select(
                F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
            ),
            "term",
        ),
        must_contain=("Generate", "HashAggregate"),
        must_not=("CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                  "MapInPandas"),
        # one real exchange (the cell aggregate), named twice
        at_most={"Exchange": 2},
    )

    add(
        "Bigram LM quality scoring (`operators.ranking.lm_doc_logprob`)",
        "The corpus is tokenized ONCE into the compact (id, w1, w2, c) "
        "frame, persisted for its four consumers (InMemoryTableScan "
        "below) — corpus/context counts derive from it, probabilities "
        "join back onto it, and every stage is a map-side-combining "
        "hash aggregate or key-shuffled equi-join; the vocabulary size "
        "is the only broadcast.  No window, nothing quadratic, and the "
        "bigram split uses the zip_with-over-slices idiom so the "
        "CollapseProject HOF re-inline cannot multiply tokenization.",
        lm_doc_logprob(docs, "doc_id", "text"),
        must_contain=("InMemoryTableScan",),
        must_not=("CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                  "MapInPandas", "Window"),
    )

    add(
        "PQ ANN — asymmetric distance top-k (`operators.similarity.pq_topk`)",
        "Every join is an explicit broadcast: the m*ksub codebook joins "
        "the exploded subvectors (corpus scanned once, argmin per "
        "(id, sub) is one hash aggregate), and the per-query distance "
        "table (|Q|*m*ksub rows) joins the codes frame — the corpus "
        "vectors themselves never shuffle, only (id, sub, code) rows "
        "do.  The final per-query top-k is a bounded window over "
        "candidate rows.  No SortMergeJoin, no cartesian, no Python.",
        pq_topk(
            emb,
            emb.filter(F.col("vec_id") < 20),
            "vec_id", "embedding", "vec_id", "embedding",
            dim=64, m=8, ksub=16, k=3,
        ),
        must_contain=("BroadcastHashJoin",),
        must_not=("CartesianProduct", "SortMergeJoin", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.cleaning import quality_gate

    add(
        "Corpus quality gate (`operators.cleaning.quality_gate`)",
        "Every signal is explode → map-side-combining hash aggregate → "
        "join-back on the 8-byte id; the exact-dup collapse shuffles "
        "md5 digests, never document bytes; the LM threshold is a "
        "single-row exact-percentile broadcast (or a precomputed "
        "constant at 100 TB).  No window over the corpus, no cartesian "
        "product, no Python.",
        quality_gate(
            docs,
            docs.filter(F.col("doc_id") % 17 == 0).select("text"),
            min_tokens=10,
            max_tokens=55,
            max_dup_token_frac=0.55,
            ngram=5,
        ),
        must_contain=("InMemoryTableScan",),
        must_not=("CartesianProduct", "Window", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.stats import (
        equi_depth_histogram,
        rolling_stats,
    )

    events = spark.read.parquet(f"{SF}/events.parquet")
    add(
        "Rolling event-time aggregates (`operators.stats.rolling_stats`)",
        "ONE hash exchange on the key feeds a per-key sort and a "
        "sliding RANGE-frame Window (state bounded by the frame, not "
        "the partition); the whole-second frame key is a codegen'd "
        "timestampdiff projection.  No corpus-wide sort, no "
        "single-partition exchange.",
        rolling_stats(events, ["user_id"], "ts", "value", 3600),
        must_contain=("Window", "RangeFrame"),
        # all three aggregates share one spec -> ONE Window node (x2 names)
        at_most={"Exchange": 2, "Window": 2},
        must_not=("CartesianProduct", "SinglePartition", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    add(
        "Equi-depth histogram (`operators.stats.equi_depth_histogram`)",
        "Pass 1 = one percentile aggregate per group (exact here; the "
        "GK-sketch approx_percentile is the constant-memory switch); "
        "pass 2 broadcasts the boundary arrays back and bins with a "
        "codegen'd array filter over a JOIN ATTRIBUTE (never a "
        "computed-alias array inside a lambda — the CollapseProject "
        "trap), then one hash aggregate.  No Window anywhere.",
        equi_depth_histogram(events, "value", 8, ["event_type"]),
        must_contain=("BroadcastHashJoin", "percentile"),
        must_not=("CartesianProduct", "Window", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.dedup import containment_pairs
    from orchid_fst_spark.operators.graph import pagerank

    add(
        "Containment near-dup pairs (`operators.dedup.containment_pairs`)",
        "Identical shuffle profile to ngram_jaccard_pairs (the asserted "
        "plan above): hot shingles removed by `drop_hot`'s count window "
        "before the O(df²) self equi-join, 8-byte xxhash64 join keys, "
        "integer-exact threshold vs least(|A|,|B|) folded into codegen. "
        "No cartesian, no Python.",
        containment_pairs(docs, "doc_id", "text", storage=None),
        must_contain=("BroadcastHashJoin", "xxhash64", "Window"),
        must_not=("CartesianProduct", "LeftAnti", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    add(
        "PageRank power iteration (`operators.graph.pagerank`, 1 iter, "
        "truncate=False plan audit)",
        "One iteration = equi-join of the (src,dst,outdeg) edge frame "
        "with the node-sized rank frame + ONE hash aggregate on dst; "
        "the two scalars (node count, dangling mass) ride broadcast "
        "one-row frames.  No Python, no corpus-wide window, no "
        "cartesian of data rows.  In real runs each iteration's rank "
        "frame is lineage-TRUNCATED (localCheckpoint/parquet) — a "
        "doubly-referenced un-truncated rank frame doubles the "
        "analyzed plan per iteration and AQE planning goes superlinear "
        "(measured on hits: 105 s for 3 iterations at sf0.1); "
        "truncate=False exists ONLY so this audit can see the "
        "iteration body instead of a checkpointed leaf.",
        pagerank(entry._doc_edges(spark, SF), iterations=1, storage=None,
                 truncate=False),
        must_contain=("HashAggregate",),
        must_not=("CartesianProduct", "Window", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.dedup import strip_boilerplate
    from orchid_fst_spark.operators.sampling import cap_per_group
    from orchid_fst_spark.operators.search import phrase_search

    add(
        "Phrase search (`operators.search.phrase_search`)",
        "The token explode is filtered to the QUERY vocabulary before "
        "anything shuffles (the corpus token stream never leaves the "
        "scan stage); per-term position frames anchor at pos-i and "
        "equi-join on (doc, anchor) — a survivor means adjacency in "
        "order.  No cartesian, no Python.",
        phrase_search(docs, "doc_id", "text", ["fast", "merge"], storage=None),
        must_contain=("HashAggregate",),
        must_not=("CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    add(
        "Line-level boilerplate removal (`operators.dedup.strip_boilerplate`)",
        "posexplode lines -> per-(group, md5) DISTINCT-doc df aggregate "
        "-> equi-join back -> per-doc in-order reassembly.  Shuffles "
        "carry md5 hashes and 8-byte ids, a million-page footer only "
        "ever hits aggregates — no pair join, no window, no Python.",
        strip_boilerplate(docs, "doc_id", "text", group_col="lang",
                          storage=None),
        must_contain=("HashAggregate", "md5"),
        must_not=("CartesianProduct", "Window", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    add(
        "Per-group quota sampling (`operators.sampling.cap_per_group`)",
        "k smallest md5 priorities per group via row_number under a "
        "total order; Spark's partial WindowGroupLimit executes BELOW "
        "the exchange, so a mega-domain ships at most k rows per map "
        "partition, never its full membership.",
        cap_per_group(docs.select("lang", "doc_id"), ["lang"], "doc_id", 25),
        must_contain=("WindowGroupLimit", "Partial"),
        must_not=("CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.er.neighborhood import (
        block_graph,
        sorted_neighborhood_pairs,
        wnp_prune,
    )

    add(
        "Sorted-neighborhood blocking (`er.neighborhood.sorted_neighborhood_pairs`)",
        "The sliding-window self-join plans as ONE SortMergeJoin on the "
        "band-bucket key (bucket = rank div (w-1); side A Generates two "
        "bucket ids) — never a theta-join, so the work is O(n·w) rows at "
        "any scale.  The global rank is the two-pass distributed scan: "
        "row_number windows are PARTITIONED by _pid (one balanced window "
        "group per range partition, no single-partition exchange).",
        sorted_neighborhood_pairs(
            docs.select(F.col("text").alias("key"),
                        F.col("doc_id").alias("id")),
            key_col="key", id_col="id", window=4,
        ),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    _blk = docs.select(
        F.col("doc_id").alias("id"),
        F.substring("text", 1, 12).alias("block"),
    )
    add(
        "Meta-blocking graph + WNP pruning (`er.neighborhood.block_graph`)",
        "Blocks are purged over block_cap with the constant-memory "
        "window-count idiom BEFORE the pair self-join (WindowExec spills "
        "where a collect_list buffer can't, and its hash partitioning on "
        "block is reused by the join — no extra Exchange); WNP per-node "
        "means are integer cross-multiplications on one symmetric "
        "explode + aggregate, float-free.",
        wnp_prune(block_graph(_blk, block_cap=500)),
        must_contain=("Window",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.er.neighborhood import suffix_blocking_pairs

    add(
        "Suffix blocking (`er.neighborhood.suffix_blocking_pairs`)",
        "Every >= min_suffix_len tail of the key is a block — the "
        "head-typo complement of prefix blocks.  Per-key emissions are "
        "bounded by max_suffixes (a Generate over a bounded sequence, "
        "never length-of-key rows on long web keys), then the pairs go "
        "through block_graph: hot blocks are purged with the "
        "window-count cap BEFORE the self-join explode, and the CBS "
        "weight aggregate reuses the same hash partitioning.  All "
        "equi-joins; Python never appears.",
        suffix_blocking_pairs(
            docs.select(F.col("text").alias("key"),
                        F.col("doc_id").alias("id")),
            key_col="key", id_col="id",
            min_suffix_len=6, max_suffixes=8, block_cap=500,
        ),
        must_contain=("Window",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.er.clustering import golden_records
    from orchid_fst_spark.er.neighborhood import qgram_blocking_pairs
    from orchid_fst_spark.er.scoring import (
        fs_em_match_edges,
        fs_em_train,
        mutual_best_pairs,
        score_pairs as _fs_score_pairs,
    )
    from orchid_fst_spark.operators.dictionary import fuzzy_self_pairs

    _fs_keys = (
        docs.selectExpr(r"explode(split(trim(text), '\s+')) AS key")
        .filter("key <> ''").distinct()
    )
    _fs_scored = _fs_score_pairs(
        fuzzy_self_pairs(_fs_keys, "key", k=2, damerau=False)
    )

    add(
        "FS EM pattern report (`er.scoring.fs_em_train`)",
        "The report frame is built FROM THE ALREADY-COLLECTED <= 2^K "
        "pattern rows (a local scan, no aggregate anywhere): the "
        "training aggregate scanned the pair frame exactly once, and "
        "downstream consumers (the broadcast side of "
        "fs_em_match_edges, the entry output) never re-pay the "
        "corpus-sized scan.  Trained parameters are folded in as "
        "literals; the EM itself ran on the driver.",
        fs_em_train(_fs_scored)[1],
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "HashAggregate", "Exchange"),
    )
    add(
        "Unsupervised FS match edges (`er.scoring.fs_em_match_edges`)",
        "The pair frame equi-joins the <= 2^K trained pattern table on "
        "the K agreement booleans as an explicit BROADCAST — the "
        "decision adds zero exchanges over the pair frame; the Arrow "
        "stage is the Jaro-Winkler feature, not the decision.",
        fs_em_match_edges(_fs_scored),
        must_contain=("BroadcastHashJoin",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    add(
        "Mutual-best 1:1 linkage (`er.scoring.mutual_best_pairs`)",
        "Best partner per key is ONE min_by(struct) aggregate over the "
        "symmetrized pairs — map-side partial combine ships one "
        "candidate per (task, key); the reciprocity check is a "
        "node-sized equi-self-join of the best frame.  Never a window "
        "sort over neighbor lists, never a theta-join.",
        mutual_best_pairs(_fs_scored, score_col="jw"),
        must_contain=("min_by",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    add(
        "Golden-record survivorship (`er.clustering.golden_records`)",
        "One max_by(struct(row), struct(prefer)) aggregate per cluster: "
        "partial combine keeps one candidate per (task, cluster), so "
        "the shuffle is cluster-count-sized — a row_number window "
        "would sort whole clusters AFTER the exchange.  Exactly one "
        "Exchange in the whole plan.",
        golden_records(
            docs.select(
                (F.col("doc_id") % 50).alias("component"),
                "doc_id", "text",
            ),
            cluster_col="component",
            prefer=[F.length("text"), F.col("doc_id")],
        ),
        must_contain=("max_by", "Exchange"),
        must_not=("CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
        # formatted mode names each node twice (tree line + detail
        # header): 2 mentions == exactly ONE Exchange node
        at_most={"Exchange": 2},
    )
    add(
        "Q-gram blocking (`er.neighborhood.qgram_blocking_pairs`)",
        "L-q+1 gram emissions per key via one Generate over a bounded "
        "sequence, then block_graph's window-count cap purges hot "
        "grams BEFORE the pair self-join; the CBS weight aggregate "
        "reuses the window's hash partitioning on block.  All "
        "equi-joins, all JVM.",
        qgram_blocking_pairs(
            docs.select(F.substring("text", 1, 24).alias("key")),
            q=3, block_cap=500,
        ),
        must_contain=("Window",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.er.neighborhood import block_split_pairs

    add(
        "BlockSplit load balancing (`er.neighborhood.block_split_pairs`)",
        "Completeness-preserving skew splitting (Kolb ICDE'12): block "
        "size + in-block rank from ONE Exchange (the second window "
        "reuses the first's hash partitioning), round-robin sub-block "
        "ids, m-way task fan-out via one bounded Generate, then an "
        "EXPLICIT repartition on the full (block, lo, hi) task key — "
        "that second Exchange IS the balancing: without it Catalyst "
        "satisfies the groupBy with block-only partitioning and a "
        "giant block's every task lands in one partition.  Pair "
        "expansion streams through posexplode + position-slice; "
        "distinct=False keeps the whole pipeline at exactly two "
        "Exchange nodes, all JVM.",
        block_split_pairs(
            docs.select(
                F.col("doc_id").cast("string").alias("id"),
                F.substring("text", 1, 2).alias("block"),
            ),
            max_block=8,
            distinct=False,
        ),
        must_contain=("Window",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
        at_most={"Exchange": 4},  # 4 mentions == TWO Exchange nodes
    )

    from orchid_fst_spark.er.neighborhood import ann_blocking_pairs

    add(
        "ANN / embedding blocking (`er.neighborhood.ann_blocking_pairs`)",
        "The IVF-cell blocker: the centroid set is a hard n_centroids "
        "bound independent of corpus size and is BROADCAST against the "
        "corpus (BroadcastNestedLoopJoin over the bounded side — never "
        "a shuffle or an unbroadcast cartesian), scoring stays map-side "
        "JVM (Catalyst aggregate fold, no Python), the per-record "
        "top-n_probe is a rank-limit window (WindowGroupLimit caps "
        "rows map-side before its Exchange), and block_graph purges "
        "over-cap cells with the constant-memory window-count idiom "
        "BEFORE the pair explode.",
        ann_blocking_pairs(
            emb, id_col="vec_id", vec_col="embedding",
            n_centroids=16, n_probe=2,
        ),
        must_contain=("BroadcastNestedLoopJoin", "Window"),
        must_not=("CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.er.scoring import group_linkage

    docs_keys = docs.select(
        F.substring("text", 1, 16).alias("key_a"),
        F.substring("text", 3, 16).alias("key_b"),
        (F.length("text") % 100 / 100.0).alias("jw"),
    ).limit(400)
    add(
        "Group linkage round (`er.scoring.group_linkage`)",
        "One matching round of the per-group-pair mutual-best rule: "
        "two min_by aggregates keyed (group pair, member) — map-side "
        "partial combine, no windows, no row_number sorts — an aliased "
        "self-join for mutuality, anti-joins to retire matched "
        "members.  Scores are 6dp integer micro-units, so every sum "
        "is exact BIGINT in any partitioning.",
        group_linkage(
            docs_keys,
            docs.select(
                F.substring("text", 1, 16).alias("key"),
                F.substring("source", 1, 1).alias("grp"),
            ),
            rounds=1,
        ),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                  "Window"),
    )

    from orchid_fst_spark.operators.sampling import dsir_weights

    add(
        "DSIR importance weights (`operators.sampling.dsir_weights`)",
        "Each corpus is scanned ONCE into a <= n_buckets-row hashed "
        "gram-count table (hash aggregate, map-side combine); per-gram "
        "scoring joins those bucket-sized tables back on the 32-bit "
        "md5 bucket id, and one per-doc aggregate finishes.  The "
        "corpus never shuffles on grams — bucket ids only — and "
        "nothing is quadratic in either corpus.",
        dsir_weights(
            docs.filter(F.col("doc_id") % 3 == 0), docs,
            id_col="doc_id", text_col="text",
            n_buckets=512, storage=None,
        ),
        must_contain=("md5",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.bpe import bpe_pair_counts

    add(
        "BPE pair statistics (`operators.bpe.bpe_pair_counts`)",
        "The iteration-0 training frame: the corpus collapses to a "
        "word-frequency aggregate first (a billion repeated words pay "
        "one symbol split), adjacent pairs come from a zip_with over "
        "two slices of the symbol array (no posexplode self-join), and "
        "top_n plans as TakeOrderedAndProject — never a full sort of "
        "the pair domain.",
        bpe_pair_counts(docs, text_col="text", top_n=100),
        must_contain=("TakeOrderedAndProject",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    from orchid_fst_spark.operators.dedup import minhash_lsh_join

    add(
        "Cross-corpus LSH join (`operators.dedup.minhash_lsh_join`)",
        "Both corpora band into the SAME md5-minhash buckets; each "
        "side's band frame is capped independently by a window count "
        "before the bucket equi-join (a hot boilerplate bucket "
        "contributes at most cap×cap rows), and the exact Jaccard "
        "verify joins xxhash64'd shingles for candidates only.  All "
        "joins are equi-joins; Python never appears.",
        minhash_lsh_join(
            docs.filter(F.col("doc_id") % 3 == 0), docs,
            "doc_id", "text", storage=None,
        ),
        must_contain=("xxhash64",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    import shutil as _sh
    import tempfile as _tf

    from orchid_fst_spark.operators.text_index import (
        build_text_index,
        indexed_postings,
        load_text_index,
    )

    _tid = _tf.mkdtemp(prefix="plans_txtidx_")
    _sh.rmtree(_tid)
    build_text_index(docs, "doc_id", "text", _tid, n_buckets=16)
    add(
        "Inverted-index postings read (`operators.text_index.indexed_postings`)",
        "The artifact read shows BOTH pruning layers: PartitionFilters "
        "on the literal bucket IN-list (only the query terms' bucket "
        "directories are listed) and PushedFilters on the term IN-list "
        "(row-group min/max selective thanks to the per-file term "
        "sort).  The corpus is never re-tokenized at query time.",
        indexed_postings(spark, load_text_index(spark, _tid),
                         ["fast", "merge"]),
        must_contain=("PartitionFilters", "PushedFilters", "bucket", "term"),
        must_not=("CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "MapInPandas"),
    )
    _sh.rmtree(_tid, ignore_errors=True)

    from orchid_fst_spark.er.swoosh import _entity_values, _overlap_pairs

    _srecs = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("a_vals"),
        F.array(F.col("lang")).alias("b_vals"),
    )
    _sasg = _srecs.select(F.col("id").alias("_id"), F.col("id").alias("ent"))
    _sva = _entity_values(_srecs, _sasg, "id", "a_vals")
    _svb = _entity_values(_srecs, _sasg, "id", "b_vals")
    add(
        "Swoosh round edges (`er.swoosh.swoosh_resolve`, one round)",
        "The conjunctive match is two value equi-joins intersected on "
        "the entity pair — no arrays, no cartesian, all JVM.  With "
        "`value_cap` the hot-value purge is the constant-memory window "
        "count BEFORE each self-join (WindowExec spills; the window's "
        "hash partitioning is reused by the join).  Per round this "
        "edge frame feeds connected_components; the assignment is "
        "lineage-cut so every round plans this same constant tree.",
        _overlap_pairs(_sva, 1000).join(
            _overlap_pairs(_svb, 1000), ["e1", "e2"]
        ),
        must_contain=("Window",),
        must_not=("CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython", "MapInPandas"),
    )

    with open(OUT, "w") as f:
        f.write(
            "# PLANS — annotated physical plans (sf0.01, local[8])\n\n"
            "Regenerate with `python scripts/gen_plans.py`; the generator\n"
            "asserts each plan's load-bearing properties (broadcast cap\n"
            "joins present, no cartesian products, no single-partition\n"
            "exchanges, pushed shard predicates), so a plan regression\n"
            "fails the script before it ever reaches this file.\n"
        )
        for title, notes, plan in sections:
            f.write(f"\n## {title}\n\n{notes}\n\n```\n{plan}\n```\n")
    print(f"wrote {OUT} ({len(sections)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
