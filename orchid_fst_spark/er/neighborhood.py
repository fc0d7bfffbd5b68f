"""Sorted-neighborhood blocking and meta-blocking — the two classic
record-linkage candidate generators the segment/delete families don't
cover (published methods; no reference-file counterpart — the reference
exposes only prefix-pinned fuzzy blocks, fst.cpp:530-553):

* sorted neighborhood (Hernandez & Stolfo, SIGMOD'95): sort all records
  by a blocking key and compare every pair within a sliding window of w
  consecutive ranks.  Catches near-duplicates whose *sort position* is
  close even when no substring block would join them (e.g. numeric id
  suffixes), and emits a strictly linear O(n*w) candidate set.
* meta-blocking (Papadakis et al., TKDE 2013): given redundant block
  assignments (each record in several cheap blocks), build the
  block-graph whose edge weight counts the blocks a pair co-occurs in
  (CBS), then prune low-evidence edges — weighted edge pruning (WEP,
  global mean threshold) or weighted node pruning (WNP, per-node mean).

Scale design (100 TB):

* the global rank is the same two-pass distributed scan as
  ``sort.ranked_lines`` / ``chunking.pack_sequences``: range-repartition
  on the key, per-partition counting job (n_partitions scalar rows to
  the driver), partition-local ``row_number`` shifted by broadcast
  offsets — never a single-partition window;
* the window self-join is a *banded bucket equi-join*: with band
  b = w-1, ranks r_a < r_b within the window satisfy
  bucket(r_b) - bucket(r_a) in {0, 1} for bucket = rank div b, so one
  side emits two bucket keys and the join is a plain balanced equi-join
  (~b rows per bucket -> O(n*w) join work, no theta-join, no cartesian);
  bucket ids use true integral division (the recorded >2^53 double-div
  trap);
* block-graph blocks are capped BEFORE the pair explode with
  ``dedup.drop_hot``'s ``count() over (partition by block)`` (same
  Exchange-reusing plan as dedup.grouped_bucket_pairs), so a degenerate
  block can never materialize O(cap^2) aggregation state;
* both pruning rules compare with *integer cross-multiplication*
  (w * n_edges > sum_w instead of w > avg) — bit-exact in any engine,
  immune to the float-avg ulp trap the cross-engine recipes document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..operators.dedup import drop_hot


def ranked_records(
    records: DataFrame,
    key_col: str = "key",
    id_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``(id, key, rank)`` with a global 1-based rank in ``(key, id)``
    order, computed by the two-pass distributed scan (module docstring).
    ``id_col`` defaults to the key itself (keys must then be distinct);
    with an explicit id the (key, id) order is a deterministic total
    order even under duplicate keys."""
    if id_col is None:
        df = records.select(
            F.col(key_col).alias("key"), F.col(key_col).alias("id")
        )
    else:
        df = records.select(
            F.col(key_col).alias("key"), F.col(id_col).alias("id")
        )
    spark = records.sparkSession
    if num_partitions:
        n = num_partitions
    else:
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except ValueError:
            n = spark.sparkContext.defaultParallelism
    srt = (
        df.repartitionByRange(n, "key", "id")
        .sortWithinPartitions("key", "id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in srt.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((int(pid), int(acc)))
        acc += int(c)
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    local_pos = F.row_number().over(
        Window.partitionBy("_pid").orderBy("key", "id")
    )
    return (
        srt.join(F.broadcast(off_df), "_pid")
        .withColumn("rank", (F.col("_off") + local_pos).cast("long"))
        .select("id", "key", "rank")
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    key_col: str = "key",
    id_col: str | None = None,
    window: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs: ``(id_a, key_a, id_b, key_b,
    gap)`` for every pair of records at most ``window - 1`` apart in the
    global ``(key, id)`` sort order (``gap`` = rank distance, 1-based;
    the classic SNM sliding window of size ``window``).

    Plan: two-pass global rank, then ONE banded bucket equi-join — side
    A emits bucket ids {g, g+1}, side B carries g, the gap filter runs
    on the joined band.  Work is O(n * window) rows end to end; no
    theta-join appears in the plan at any scale.
    """
    if window < 2:
        raise ValueError("need window >= 2 (a window of 1 pairs nothing)")
    b = window - 1
    ranked = ranked_records(
        records, key_col=key_col, id_col=id_col, num_partitions=num_partitions
    )
    # bucket = (rank-1) div b; exact integral division (rank >= 1)
    bucket = F.call_function("div", F.col("rank") - 1, F.lit(b).cast("long"))
    left = ranked.select(
        F.col("id").alias("id_a"),
        F.col("key").alias("key_a"),
        F.col("rank").alias("rank_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("_g"),
    )
    right = ranked.select(
        F.col("id").alias("id_b"),
        F.col("key").alias("key_b"),
        F.col("rank").alias("rank_b"),
        bucket.alias("_g"),
    )
    gap = F.col("rank_b") - F.col("rank_a")
    return (
        left.join(right, "_g")
        .filter((gap >= 1) & (gap <= b))
        .select(
            "id_a", "key_a", "id_b", "key_b", gap.cast("long").alias("gap")
        )
    )


def multipass_snm_pairs(
    records: DataFrame,
    key_cols: list[str],
    id_col: str,
    window: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-pass sorted neighborhood (the standard SNM hardening:
    Hernandez & Stolfo run several passes with DIFFERENT sort keys —
    a typo early in one key escapes that key's window but lands inside
    another's): the distinct union of ``sorted_neighborhood_pairs`` over
    each key column, as ``(id_a, id_b)`` with ``id_a < id_b``.

    Each pass is the same O(n·w) rank + banded equi-join; passes are
    independent jobs (no cross-pass shuffle), and the final distinct is
    one hash aggregate over O(passes·n·w) rows."""
    if not key_cols:
        raise ValueError("need at least one key column")
    out = None
    for key_col in key_cols:
        p = sorted_neighborhood_pairs(
            records,
            key_col=key_col,
            id_col=id_col,
            window=window,
            num_partitions=num_partitions,
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        out = p if out is None else out.unionByName(p)
    return out.distinct()


def block_graph(
    blocks: DataFrame,
    id_col: str = "id",
    block_col: str = "block",
    block_cap: int = 1000,
) -> DataFrame:
    """CBS-weighted comparison graph from redundant block assignments:
    ``(id_a, id_b, weight)`` where ``weight`` counts the distinct blocks
    the pair co-occurs in (Papadakis' common-blocks scheme).

    Blocks larger than ``block_cap`` are dropped BEFORE the pair explode
    by ``drop_hot``'s spillable window count (the cap is the standard
    meta-blocking block-purging step: an over-cap block carries almost
    no discriminative weight and quadratic cost).  One Exchange for the
    window+join on ``block`` (reused), one for the pair aggregation.
    """
    asg = blocks.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block")
    ).distinct()
    capped = drop_hot(asg, "block", block_cap)
    a = capped.select(F.col("block"), F.col("id").alias("id_a"))
    bside = capped.select(F.col("block"), F.col("id").alias("id_b"))
    return (
        a.join(bside, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def suffix_blocking_pairs(
    records: DataFrame,
    key_col: str = "key",
    id_col: str | None = None,
    min_suffix_len: int = 4,
    max_suffixes: int | None = None,
    block_cap: int = 1000,
) -> DataFrame:
    """Suffix-array blocking (Aizawa & Oyama 2005): every suffix of the
    key with length >= ``min_suffix_len`` is a block, so records whose
    keys share any sufficiently-long TAIL become candidates — the
    complement of prefix-style blocks (a typo in the first characters
    escapes every prefix block but leaves the tail suffixes intact).

    Returns ``(id_a, id_b, weight)`` where ``weight`` counts shared
    suffix blocks (composable with ``wep_prune``/``wnp_prune``).
    ``max_suffixes`` bounds the per-key block emissions (the LONGEST
    ``max_suffixes`` suffixes are kept) — without it a length-L web key
    emits L - min_suffix_len + 1 rows.  Blocks hotter than
    ``block_cap`` are purged before the pair explode (``block_graph``'s
    constant-memory window cap)."""
    if min_suffix_len < 1:
        raise ValueError("need min_suffix_len >= 1")
    if id_col is None:
        df = records.select(
            F.col(key_col).alias("key"), F.col(key_col).alias("id")
        )
    else:
        df = records.select(
            F.col(key_col).alias("key"), F.col(id_col).alias("id")
        )
    n_sfx = F.length("key") - F.lit(min_suffix_len - 1)
    if max_suffixes is not None:
        n_sfx = F.least(n_sfx, F.lit(int(max_suffixes)))
    ex = df.filter(F.length("key") >= min_suffix_len).select(
        "id",
        "key",
        F.explode(F.sequence(F.lit(1), n_sfx)).alias("i"),
    )
    blocks = ex.select(
        "id", F.col("key").substr(F.col("i"), F.length("key")).alias("block")
    )
    return block_graph(blocks, block_cap=block_cap)


def wep_prune(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """Weighted edge pruning: keep edges strictly heavier than the mean
    edge weight.  The compare is the integer cross-multiplication
    ``w * n_edges > sum_w`` — no float average anywhere, so the result
    is bit-identical in any engine.  One extra job for the 1-row global
    aggregate (broadcast)."""
    w = F.col(weight_col).cast("long")
    totals = edges.agg(
        F.sum(w).alias("_sw"), F.count("*").alias("_ne")
    )
    return (
        edges.crossJoin(F.broadcast(totals))
        .filter(w * F.col("_ne") > F.col("_sw"))
        .drop("_sw", "_ne")
    )


def wnp_prune(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted node pruning: keep an edge iff its weight reaches the
    mean weight of *either* endpoint's neighborhood (Papadakis' WNP with
    union/OR retention — each node keeps its locally-strong edges, and
    an edge survives if either side wants it).  Per-node sums/degrees
    come from one symmetric explode + aggregate; the compare is integer
    cross-multiplication (``w * deg >= sum``), float-free.
    """
    w = F.col(weight_col).cast("long")
    sym = edges.select(
        F.col(id_a).alias("node"), w.alias("w")
    ).unionByName(edges.select(F.col(id_b).alias("node"), w.alias("w")))
    stats = sym.groupBy("node").agg(
        F.sum("w").alias("_sum"), F.count("*").alias("_deg")
    )
    sa = stats.select(
        F.col("node").alias(id_a),
        F.col("_sum").alias("_sum_a"),
        F.col("_deg").alias("_deg_a"),
    )
    sb = stats.select(
        F.col("node").alias(id_b),
        F.col("_sum").alias("_sum_b"),
        F.col("_deg").alias("_deg_b"),
    )
    return (
        edges.join(sa, id_a)
        .join(sb, id_b)
        .filter(
            (w * F.col("_deg_a") >= F.col("_sum_a"))
            | (w * F.col("_deg_b") >= F.col("_sum_b"))
        )
        .select(id_a, id_b, weight_col)
    )


def phonetic_blocking_pairs(
    records: DataFrame,
    key_col: str = "key",
    id_col: str | None = None,
    block_cap: int = 1000,
) -> DataFrame:
    """Phonetic blocking (Odell & Russell's Soundex, the oldest blocking
    scheme in record linkage): records whose keys share the simplified-
    Soundex code become candidates — catches sound-alike misspellings
    (vowel swaps, doubled consonants, voiced/unvoiced confusions) that
    edit-distance segment blocks treat as far apart.

    Returns ``(id_a, id_b, weight)`` through ``block_graph`` (weight is
    1 — one code per key; composable with other blockers' graphs by
    union before ``wep_prune``/``wnp_prune``).  Keys with no letters
    code to '' and are excluded.  Blocks hotter than ``block_cap`` are
    purged by the constant-memory window cap (phonetic codes have only
    26*7^3 possible values, so at web scale EVERY block is hot — lower
    the cap or intersect with another blocker; the purge is observable
    via the weight mass dropped)."""
    from ..functions.normalize import phonetic_key

    if id_col is None:
        df = records.select(
            F.col(key_col).alias("key"), F.col(key_col).alias("id")
        )
    else:
        df = records.select(
            F.col(key_col).alias("key"), F.col(id_col).alias("id")
        )
    blocks = df.select(
        "id", phonetic_key("key").alias("block")
    ).filter(F.col("block") != "")
    return block_graph(blocks, block_cap=block_cap)


def token_blocking_pairs(
    records: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    block_cap: int = 1000,
) -> DataFrame:
    """Schema-agnostic token blocking (Papadakis et al., the baseline
    every meta-blocking paper prunes): every distinct whitespace token
    of the record's text is a block, so records sharing ANY token
    become candidates and the CBS weight counts shared distinct tokens
    — the signal ``wep_prune``/``wnp_prune`` threshold on.

    Returns ``(id_a, id_b, weight)`` through ``block_graph``.  Web-scale
    note: natural-language stopwords make most token blocks hot — the
    ``block_cap`` purge (constant-memory window count, one reused
    Exchange) is NOT optional here but the scheme's documented df-cap,
    exactly like the shingle df-cap in ``ngram_jaccard_pairs``; purged
    mass is observable by diffing ``count`` against the uncapped block
    list."""
    from ..functions.normalize import tokens

    blocks = records.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("block"),
    )
    return block_graph(blocks, block_cap=block_cap)


def qgram_blocking_pairs(
    records: DataFrame,
    key_col: str = "key",
    id_col: str | None = None,
    q: int = 3,
    block_cap: int = 1000,
) -> DataFrame:
    """Character q-gram blocking (Baxter, Christen & Churches 2003):
    every distinct character q-gram of the key is a block, so records
    sharing ANY q-gram become candidates and the CBS weight counts
    shared distinct grams — tolerant of typos anywhere in the key
    (an edit destroys at most q grams), where prefix/suffix blocks die
    on head/tail errors and token blocks need multi-token keys.

    Returns ``(id_a, id_b, weight)`` through ``block_graph``.  A
    length-L key emits L-q+1 grams; hot grams (inevitable on a skewed
    alphabet) are purged by the ``block_cap`` window cap before the
    pair explode."""
    if q < 1:
        raise ValueError("need q >= 1")
    if id_col is None:
        df = records.select(
            F.col(key_col).alias("key"), F.col(key_col).alias("id")
        )
    else:
        df = records.select(
            F.col(key_col).alias("key"), F.col(id_col).alias("id")
        )
    ex = df.filter(F.length("key") >= q).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("key") - F.lit(q - 1)),
                lambda i: F.col("key").substr(i, F.lit(q)),
            )
        ).alias("block"),
    )
    return block_graph(ex, block_cap=block_cap)


def grid_blocking_pairs(
    records: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    radius: float = 1.0,
    cell: float | None = None,
    cell_cap: int = 10000,
) -> DataFrame:
    """Distance blocking for NUMERIC/spatial attributes: all pairs
    within Euclidean ``radius`` on the (x, y) plane via fixed-grid
    cells — the standard spatial-join decomposition (grid files /
    uniform-grid spatial hashing), here as the ER blocker for
    geo-coded records (venues, POIs, addresses) that no string scheme
    can pair.  Complete by the stencil argument: with ``cell >=
    radius`` (enforced), two points within ``radius`` differ by at
    most one cell index per axis, so the 3x3 neighbor stencil covers
    every qualifying pair exactly once.

    Returns ``(id_a, id_b, dist)`` (id_a < id_b, dist rounded 6dp) for
    every pair with Euclidean distance <= radius.

    Plan shape: coordinates cast to DOUBLE first (float32 inputs
    promote exactly, so both engines do identical IEEE arithmetic);
    one cell-index projection, the constant-memory window cap on cell
    occupancy (a megacity cell is the hot-block story), then ONE
    equi-join — the home-cell side against the other side's 3x3
    exploded stencil keys (9 rows/point, never a 9-way self-join);
    each unordered pair survives the ``id_a < id_b`` filter exactly
    once, so no distinct is needed.  The verify compares squared
    distance (no sqrt in the filter).
    """
    if cell is None:
        # strictly > radius by a relative epsilon: at cell == radius the
        # stencil proof has zero margin — a pair whose per-axis gap is
        # within ~1 ulp of exactly `cell` can have IEEE-rounded
        # quotients x/cell floor into cells 2 apart while still passing
        # the d² <= r² verify, and would be missed.  The epsilon buys
        # back the margin without changing any cell index on real data.
        cell = radius * (1.0 + 1e-12)
    if cell < radius:
        raise ValueError(
            f"cell ({cell}) must be >= radius ({radius}) for the 3x3 "
            "stencil to be complete"
        )
    # explicit cell == radius is allowed but carries the zero-margin
    # ulp caveat above; the default avoids it.
    if radius <= 0:
        raise ValueError("radius must be positive")
    pts = records.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    pts = pts.withColumn("cx", F.floor(F.col("x") / cell)).withColumn(
        "cy", F.floor(F.col("y") / cell)
    )
    capped = drop_hot(pts, ["cx", "cy"], cell_cap)
    home = capped.select(
        F.col("_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        "cx",
        "cy",
    )
    stencil = capped.select(
        F.col("_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("cx"),
                        (F.col("cy") + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("_s"),
    ).select("id_b", "xb", "yb", F.col("_s.cx"), F.col("_s.cy"))
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        home.join(stencil, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(d2 <= F.lit(float(radius)) * F.lit(float(radius)))
        .select(
            "id_a",
            "id_b",
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
    )


def ann_blocking_pairs(
    records: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    n_centroids: int = 4096,
    n_probe: int = 2,
    centroid_algo: str = "hash",
    seed: int = 42,
    block_cap: int = 1000,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Embedding (ANN) blocking — the modern-ER default blocker (e.g.
    Splink / dedupe / DeepBlocker-style embedding blocking) the string
    menu (phonetic / q-gram / suffix / grid) cannot express: records
    whose EMBEDDINGS quantize to the same IVF coarse cell become
    candidates, pairing semantic near-duplicates that share no token,
    phoneme, or character n-gram.

    Each record is assigned to its ``n_probe`` nearest centroids (the
    multi-probe trick from IVF search, reused as REDUNDANT blocking:
    a record near a cell boundary co-occurs with both sides, which is
    what makes the scheme recall-robust — and shared-cell counts become
    meta-blocking evidence).  Returns ``(id_a, id_b, weight)`` through
    ``block_graph`` — weight counts shared cells, composable with
    ``wep_prune`` / ``wnp_prune`` and the ``blocking_quality`` report.

    Scale shape (100 TB): the centroid set is a hard ``n_centroids``
    bound independent of corpus size (``ivf_centroids`` — hash-ordered
    sample by default, trained k-means via ``centroid_algo='kmeans'``),
    BROADCAST against the corpus, so scoring is map-side with no
    shuffle of the n × n_centroids frame; the per-record top-``n_probe``
    runs as a rank-limit window (WindowGroupLimit caps rows map-side
    before its Exchange), and cells hotter than ``block_cap`` are
    purged BEFORE the pair explode by ``block_graph``'s constant-memory
    window-count idiom.  Tie-breaks mirror ``ivf_assign``/``ivf_topk``
    exactly — ``(round(ccos, 6) DESC, cid ASC)`` — the cross-engine
    determinism recipe, so the whole blocker is oracle-checkable.
    """
    from ..operators.similarity import cosine, ivf_centroids

    if n_probe < 1:
        raise ValueError("need n_probe >= 1")
    src = records.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).filter(F.col("vec").isNotNull())
    if cents is None:
        cents = ivf_centroids(
            records, id_col, vec_col, n_centroids,
            algo=centroid_algo, seed=seed,
        )
    scored = src.join(F.broadcast(cents)).withColumn(
        "ccos", F.round(cosine(F.col("vec"), F.col("cvec")), 6)
    )
    w = Window.partitionBy("id").orderBy(F.desc("ccos"), F.asc("cid"))
    blocks = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("id", F.col("cid").alias("block"))
    )
    return block_graph(blocks, block_cap=block_cap)


def learn_blocking_scheme(
    records: DataFrame,
    truth: DataFrame,
    rules: list[tuple[str, F.Column]],
    id_col: str = "id",
    a: str = "key_a",
    b: str = "key_b",
    max_rules: int | None = None,
    block_cap: int = 1000,
    conjunctions: int = 1,
) -> DataFrame:
    """Learn a disjunctive blocking scheme: greedily select the rule
    union that covers the labeled truth pairs at the least comparison
    cost (the sequential-covering construction of Michelson & Knoblock,
    "Learning Blocking Schemes for Record Linkage", AAAI 2006; the
    selection report Christen 2012 says to read before paying any
    candidate shuffle).  Each step picks the rule with the most truth
    pairs NOT yet covered by the selected union — ties broken by fewer
    comparisons, then rule name — and stops when no rule adds coverage.

    ``rules``: ``[(name, key_expression)]`` over the record frame
    (the ``blocking_cost`` convention; null keys opt the record out).
    ``conjunctions=2`` adds every pairwise rule CONJUNCTION
    (``"a&b"`` blocks on the concatenated key — both must agree; null
    in either side opts out), the paper's actual scheme space:
    a conjunction covers fewer truth pairs than either atom but at a
    fraction of the comparisons, so the greedy cost tie-break often
    prefers it.  Returns one row per SELECTED rule, in selection order:
    ``(step, rule, new_tp, cum_tp, comparisons, cum_comparisons,
    completeness)`` — ``comparisons`` is the rule's own exact pair
    count under the cap, ``completeness`` the cumulative recall of the
    union against ``truth`` (6dp).

    Scale shape: ONE corpus scan emits every rule's key
    (explode(array(struct…))), blocks over ``block_cap`` are purged
    with the window-count idiom (consistent with what the capped
    blockers would actually emit), per-rule comparison counts are
    nC2 histogram sums (never materialized pairs), and coverage is
    two TRUTH-sized equi-joins — the corpus is never pair-exploded.
    The greedy fold runs on the driver over per-rule COUNTS (the
    ``fs_em_train`` sufficient-statistic discipline); each step is one
    anti-join + count over the truth-sized coverage frame, lineage-cut
    per step.
    """
    if not rules:
        raise ValueError("need at least one (name, key_expression) rule")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in {names}")

    if conjunctions not in (1, 2):
        raise ValueError("conjunctions: only depth 1 or 2 is supported")
    if conjunctions == 2:
        # the paper's actual scheme space: disjunctions of rule
        # CONJUNCTIONS — a conjunction blocks on the concatenated key
        # (both must agree), typically far cheaper than either atom
        # alone; null in either side opts the record out (strict AND)
        base = list(rules)
        for i in range(len(base)):
            for j in range(i + 1, len(base)):
                ni, ei = base[i]
                nj, ej = base[j]
                ci = ei.cast("string")
                cj = ej.cast("string")
                rules = rules + [
                    (
                        f"{ni}&{nj}",
                        F.when(
                            ci.isNotNull() & cj.isNotNull(),
                            F.concat(ci, F.lit("\x1f"), cj),
                        ),
                    )
                ]
        names = [n for n, _ in rules]

    keyed = (
        records.select(
            F.col(id_col).alias("_id"),
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
            ).alias("_r"),
        )
        .select("_id", "_r.rule", "_r.bk")
        .filter(F.col("bk").isNotNull())
        .distinct()
    )
    capped = drop_hot(keyed, ["rule", "bk"], block_cap).localCheckpoint(
        eager=True
    )

    ncomp = F.call_function("div", F.col("n") * (F.col("n") - 1), F.lit(2))
    comps = {
        r["rule"]: int(r["comparisons"])
        for r in capped.groupBy("rule", "bk")
        .agg(F.count("*").alias("n"))
        .groupBy("rule")
        .agg(F.sum(ncomp).cast("long").alias("comparisons"))
        .collect()
    }
    comps = {n: comps.get(n, 0) for n in names}

    t = (
        truth.select(
            F.least(F.col(a), F.col(b)).alias("pa"),
            F.greatest(F.col(a), F.col(b)).alias("pb"),
        )
        .filter(F.col("pa") < F.col("pb"))
        .distinct()
    )
    n_truth = t.count()
    x = capped.select(
        F.col("_id").alias("pa"), F.col("rule"), F.col("bk")
    )
    y = capped.select(
        F.col("_id").alias("pb"), F.col("rule"), F.col("bk")
    )
    cov = (
        t.join(x, "pa").join(y, ["pb", "rule", "bk"])
        .select("rule", "pa", "pb")
        .distinct()
        .localCheckpoint(eager=True)
    )

    import math

    remaining = list(names)
    covered: DataFrame | None = None
    rows = []
    cum_tp = 0
    cum_comp = 0
    steps = max_rules if max_rules is not None else len(names)
    for step in range(1, steps + 1):
        if not remaining:
            break
        pending = cov.filter(F.col("rule").isin(remaining))
        if covered is not None:
            pending = pending.join(covered, ["pa", "pb"], "left_anti")
        gains = {
            r["rule"]: int(r["gain"])
            for r in pending.groupBy("rule")
            .agg(F.count("*").cast("long").alias("gain"))
            .collect()
        }
        best = sorted(
            remaining, key=lambda n: (-gains.get(n, 0), comps[n], n)
        )[0]
        g = gains.get(best, 0)
        if g == 0:
            break
        cum_tp += g
        cum_comp += comps[best]
        rows.append((step, best, g, cum_tp, comps[best], cum_comp))
        newly = cov.filter(F.col("rule") == best).select("pa", "pb")
        covered = (
            newly if covered is None else covered.union(newly).distinct()
        ).localCheckpoint(eager=True)
        remaining.remove(best)

    def _r6(v: float) -> float:
        return math.floor(v * 1e6 + 0.5) / 1e6

    out = [
        (
            s,
            rule,
            ntp,
            ctp,
            c,
            cc,
            1.0 if n_truth == 0 else _r6(ctp / n_truth),
        )
        for s, rule, ntp, ctp, c, cc in rows
    ]
    return records.sparkSession.createDataFrame(
        out,
        "step int, rule string, new_tp long, cum_tp long, "
        "comparisons long, cum_comparisons long, completeness double",
    )


def progressive_pairs(
    blocks: DataFrame,
    budget: int,
    id_col: str = "id",
    block_col: str = "block",
    block_cap: int = 1000,
) -> DataFrame:
    """Pay-as-you-go comparison schedule (progressive ER: Whang,
    Marmaros & Garcia-Molina, ICDE 2013; Papenbrock, Heise & Naumann,
    TKDE 2015): rank every blocked candidate pair by its common-block
    evidence and emit only the ``budget`` most-promising ones —
    maximizing matches found per comparison spent when the full
    candidate set cannot be verified in the available time.

    Input is a redundant block-assignment frame (``id``, ``block``) from
    any of the blocking generators; the rank signal is the CBS weight
    from ``block_graph`` (distinct blocks the pair co-occurs in — the
    more independent blocking rules agree, the more likely the match;
    Papadakis' meta-blocking weight).  Output: ``(id_a, id_b, weight)``,
    the top-``budget`` pairs under the TOTAL order (weight DESC, id_a,
    id_b) — the deterministic tie-break makes the schedule
    partitioning-invariant, so a resumed run verifies the same prefix.

    Scale: ``block_graph`` purges over-``block_cap`` blocks before the
    pair explode (constant-memory window-count idiom) and the global
    top-``budget`` is a ``TakeOrderedAndProject`` — each task keeps a
    budget-sized heap and ships at most ``budget`` rows to the driver;
    no full sort, no single-partition window.  Downstream: feed the
    emitted pairs to the verify/score stage in weight order and stop at
    the time budget (the hierarchy-of-ordered-records pattern
    degenerates to exactly this schedule for equality blocks).
    """
    g = block_graph(blocks, id_col=id_col, block_col=block_col,
                    block_cap=block_cap)
    return g.orderBy(
        F.col("weight").desc(), F.col("id_a"), F.col("id_b")
    ).limit(budget)


def block_split_pairs(
    blocks: DataFrame,
    id_col: str = "id",
    block_col: str = "block",
    max_block: int = 64,
    distinct: bool = True,
) -> DataFrame:
    """COMPLETENESS-PRESERVING load balancing for skewed blocks —
    BlockSplit (Kolb, Thor & Rahm, ICDE 2012, "Load Balancing for
    MapReduce-based Entity Resolution"): every intra-block pair of every
    block is emitted, but a block with n > ``max_block`` members is
    split into m = ceil(n / max_block) deterministic sub-blocks and its
    n·(n-1)/2 comparisons decomposed into m·(m+1)/2 bounded tasks (one
    per sub-block pair), so no single task ever buffers more than
    ~2·``max_block`` members.  This is the other arm of the skew story
    next to ``dedup.grouped_bucket_pairs``: caps
    DROP over-cap blocks (observable recall trade), BlockSplit keeps
    them and pays the full O(n²) comparison bill in balanced, spillable
    installments — use it when the blocker is the precision stage and
    every candidate must be verified (the north rule's "skew-aware
    block-size caps" covers both arms).  The quadratic bill itself is
    unchanged — a 10M-member block still implies 5·10¹³ comparisons;
    meta-blocking / caps remain the tool when that is unaffordable.

    Plan (TWO exchanges, both hash, no driver round-trips):

    1. ``count() over (partition by block)`` + ``row_number`` within the
       block — the second window reuses the first's hash partitioning
       (one Exchange, the grouped_bucket_pairs idiom);
    2. sub-block id s = (rank-1) mod m (round-robin => sizes differ by
       at most 1); each member explodes to its m comparison tasks
       ``(block, least(s,t), greatest(s,t))`` for t in [0, m) — the
       member of sub i meets sub j exactly once (from t = j), the
       replication factor is exactly m (the paper's match-task fan-out);
    3. groupBy the task key (second Exchange), collect ≤ 2·max_block
       (id, s) structs, expand pairs via the posexplode + position-slice
       idiom (rows stream out, never an O(cap²) array), keep a pair iff
       the task is intra (i == j) or the subs differ (cross pairs belong
       to their (i, j) task; intra-sub pairs to (s, s)) — each unordered
       pair surfaces in EXACTLY one task.

    m uses true integral division (``div``) — ``F.ceil`` on a LONG/LONG
    double quotient goes off-by-one past 2^53 (the recorded trap).
    Blocks of size ≤ max_block get m = 1 and flow through the same plan
    as one intra task.  Returns ``(id_a, id_b)`` with id_a < id_b;
    ``distinct`` dedups pairs that co-occur in several blocks (within
    one block a pair is exactly-once by construction — pinned by test);
    ``distinct=False`` skips that extra shuffle for single-assignment
    blockers."""
    if max_block < 2:
        raise ValueError("need max_block >= 2")
    df = blocks.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block")
    )
    w = Window.partitionBy("block")
    cap = F.lit(max_block)
    sized = (
        df.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") >= 2)
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy("block").orderBy("id")),
        )
        .withColumn(
            "_m",
            F.call_function("div", F.col("_bn") + cap - F.lit(1), cap),
        )
        .withColumn("_s", F.pmod(F.col("_rk") - F.lit(1), F.col("_m")))
    )
    tasks = sized.select(
        "id",
        "_s",
        F.col("block").alias("_b"),
        F.explode(F.sequence(F.lit(0), F.col("_m") - F.lit(1))).alias("_t"),
    ).select(
        "id",
        "_s",
        "_b",
        F.least("_s", "_t").alias("_lo"),
        F.greatest("_s", "_t").alias("_hi"),
    )
    # the explicit repartition on the FULL task key is load-bearing:
    # without it, Catalyst satisfies the groupBy with the window's
    # block-only hash partitioning (subset-key ClusteredDistribution),
    # and every task of a giant block stays in ONE partition — the
    # exact skew BlockSplit exists to break.  This second shuffle IS
    # the balancing (pinned by the spread test).
    grouped = (
        tasks.repartition(F.col("_b"), F.col("_lo"), F.col("_hi"))
        .groupBy("_b", "_lo", "_hi")
        .agg(
            F.collect_list(
                F.struct(F.col("id"), F.col("_s").alias("s"))
            ).alias("ms")
        )
    )
    e1 = grouped.select(
        "_lo", "_hi", "ms", F.posexplode("ms").alias("i", "a")
    )
    e2 = e1.select(
        "_lo",
        "_hi",
        "a",
        F.explode(
            F.slice(F.col("ms"), F.col("i") + F.lit(2), F.size("ms"))
        ).alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    out = (
        e2.filter(
            (a["id"] != b["id"])
            & ((F.col("_lo") == F.col("_hi")) | (a["s"] != b["s"]))
        )
        .select(
            F.least(a["id"], b["id"]).alias("id_a"),
            F.greatest(a["id"], b["id"]).alias("id_b"),
        )
    )
    return out.distinct() if distinct else out
