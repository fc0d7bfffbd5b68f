"""Deduplication operator family for training-data pipelines.

All similarity math that feeds a correctness gate is integer-exact:
near-dup decisions compare ``inter * D >= N * union`` (integers) instead
of float Jaccard, and MinHash uses md5 hex strings (identical in Spark
and DuckDB) so the LSH candidate set is engine-independent and fully
oracle-checkable.

Scale notes (100 TB): every op here is explode -> hash-shuffle ->
aggregate / equi-join; no cross joins, no driver collection.  MinHash
bands turn the quadratic near-dup problem into an equi-join whose fan-out
is bounded by band-bucket sizes; exact-Jaccard verification touches only
candidate pairs.  SimHash bands are derived from the asked Hamming
radius (max_hamming + 1 disjoint bands over the 60-bit signature —
pigeonhole-complete for that radius).  Hot-shingle document-frequency
caps bound the one remaining O(df²) join (ngram_jaccard_pairs.df_cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.normalize import tokens
from ..util.storage import maybe_persist as _maybe_persist  # noqa: F401
# (re-exported under the old private name; every operator-internal
# persist is registered so util.storage.release_persisted() can free
# them in long-lived sessions)


def bucket_profile(stacked: DataFrame, bucket_cap: int) -> DataFrame:
    """One-row observability profile for a (.., bucket) LSH frame: how
    big buckets get and exactly how many O(n²) join rows the cap
    removes (mirror of ``ngram_shingle_metrics``)."""
    freq = stacked.groupBy("bucket").agg(F.count("*").alias("n"))
    pairs = F.col("n") * (F.col("n") - 1) / 2
    return freq.agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > bucket_cap, 1).otherwise(0)).alias(
            "n_hot_buckets"
        ),
        F.sum(F.when(F.col("n") > bucket_cap, F.col("n")).otherwise(0)).alias(
            "dropped_rows"
        ),
        F.sum(pairs).cast("long").alias("join_rows_uncapped"),
        F.sum(F.when(F.col("n") <= bucket_cap, pairs).otherwise(0))
        .cast("long")
        .alias("join_rows_capped"),
    )


def drop_hot(df: DataFrame, cols: str | list[str], cap: int) -> DataFrame:
    """``df`` minus the rows whose key ``cols`` (one or more columns)
    occurs more than ``cap`` times: the one hot-key cap every blocking
    join applies before its O(n²) equi-join or in-group pair expansion
    (an observable recall trade; the ``*_metrics`` profiles report the
    dropped mass).

    The count is ``count(1) over (partition by cols)``: WindowExec's
    per-key buffer is an UnsafeExternalSorter that SPILLS, so a
    10M-row boilerplate key costs disk, never an OOM; the input is
    evaluated once; and the window's hash partitioning on ``cols`` is
    what a following join or groupBy on the same key requires, so
    EnsureRequirements adds no second Exchange for it.  Null keys count
    as one key, so callers cap hashes or equi-join on the key next
    (which drops nulls anyway)."""
    n = F.count(F.lit(1)).over(Window.partitionBy(cols))
    return df.withColumn("_hot_n", n).filter(F.col("_hot_n") <= cap).drop("_hot_n")


def grouped_bucket_pairs(
    stacked: DataFrame,
    bucket_cap: int,
    payload_col: str | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Candidate pairs from an (id[, payload], bucket) LSH band frame in
    ONE shuffle: ``drop_hot`` cap -> groupBy(bucket) -> collect members
    -> in-group pair expansion.  The band frame is scanned exactly
    once, so callers do not persist it.

    Cap semantics: buckets with more than ``bucket_cap`` members
    contribute nothing.  ``drop_hot`` enforces the cap BEFORE the
    collect, so over-cap rows never reach the collect_list aggregation
    buffer (which cannot spill a single group's array), and its
    hash-partitioning on ``bucket`` is reused by the groupBy: still ONE
    shuffle end-to-end (plan pinned in tests/test_dedup_similarity.py).
    The expansion itself is two successive Generates — posexplode of
    the member array, then explode of its position-sliced tail — so
    pairs stream through the pipeline row-by-row (never one O(cap**2)
    array), each array referenced outside any lambda (the
    CollapseProject HOF re-inline trap).

    Returns (id_a, id_b) with id_a < id_b, plus ``<payload>_a`` /
    ``<payload>_b`` when ``payload_col`` is given (the payload rides
    the expansion, saving the per-side join-back for small payloads
    like a signature long).  Duplicate (id, bucket) input rows never
    produce self-pairs (id_a == id_b is filtered, matching the old
    ``id_a < id_b`` join predicate).  ``distinct=False`` skips the
    final pair dedup for callers that filter (e.g. Hamming-verify)
    first."""
    stacked = drop_hot(stacked, "bucket", bucket_cap)
    member = (
        F.struct(F.col("id"), F.col(payload_col)) if payload_col else F.col("id")
    )
    grouped = (
        stacked.groupBy("bucket")
        .agg(F.collect_list(member).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    e1 = grouped.select("ms", F.posexplode("ms").alias("i", "a"))
    e2 = e1.select(
        "a",
        F.explode(
            F.slice(F.col("ms"), F.col("i") + F.lit(2), F.size("ms"))
        ).alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    if payload_col:
        swap = a["id"] > b["id"]
        lo = F.when(swap, b).otherwise(a)
        hi = F.when(swap, a).otherwise(b)
        out = e2.filter(a["id"] != b["id"]).select(
            lo["id"].alias("id_a"),
            hi["id"].alias("id_b"),
            lo[payload_col].alias(f"{payload_col}_a"),
            hi[payload_col].alias(f"{payload_col}_b"),
        )
    else:
        out = e2.filter(a != b).select(
            F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b")
        )
    return out.distinct() if distinct else out


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5(text): (text_hash, rep_id, n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("rep_id"), F.count("*").alias("n_dups"))
    )


def shingle_df(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, sh).  Pure Catalyst:
    split -> sequence -> transform -> explode."""
    toks = tokens(F.col(text_col))
    # guard the window count: sequence(0, -1) is DESCENDING ([0, -1]),
    # so the old unguarded form emitted two junk shingles (one of them a
    # partial slice) for every doc with fewer than n tokens — and made
    # NULL-text docs pairwise identical.  Short/NULL docs carry no
    # n-gram evidence: emit no shingles (the DuckDB oracle's
    # generate_series(1, len-2) has exactly these semantics).
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(sh).alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
    df_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard >= num/den.
    Returns (id_a, id_b, inter, union) — integer counts, exact up to
    64-bit shingle-hash collisions (two distinct shingles colliding in
    xxhash64 could overcount ``inter``; at realistic per-doc shingle
    counts the probability is ~2^-64·n², negligible but not zero).

    Plan: shingles -> hot-shingle df cap -> self equi-join on shingle ->
    count intersections -> join per-doc shingle counts -> integer
    threshold filter.  The join key is the 64-bit shingle hash, not the
    string — ~3x less shuffle at identical results; hot shingles are the
    skew risk: AQE skew-join splits oversized partitions but cannot
    reduce join *row count*, so a corpus-common shingle (boilerplate
    like a license footer 3-gram) shared by df documents would emit
    O(df²) rows regardless.  ``df_cap`` therefore drops shingles whose
    document frequency exceeds the cap *before* the join (the same
    discipline as sig_cap in the ER blocking, operators/passjoin.py) —
    an observable recall trade (``ngram_shingle_metrics`` reports the
    dropped mass, never silent).  Capped semantics: a hot shingle still
    counts toward each doc's size but never toward the intersection
    (union = na + nb - capped_inter), i.e. the score is the conservative
    lower bound of true Jaccard — pairs held together exclusively by
    boilerplate fall below threshold, which is exactly the near-dup
    signal a web corpus wants to ignore."""
    sh = _maybe_persist(
        shingle_df(df, id_col, text_col, n).select(
            "id", F.xxhash64("sh").alias("shh")
        ),
        storage,
    )
    # union denominators from UNCAPPED sizes (true Jaccard for survivors)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    shc = drop_hot(sh, "shh", df_cap)
    a = shc.select(F.col("id").alias("id_a"), "shh")
    b = shc.select(F.col("id").alias("id_b"), "shh")
    inter = (
        a.join(b, "shh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("union"))
        .select("id_a", "id_b", "inter", "union")
    )
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    df_cap: int = 5000,
    min_shingles: int = 1,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram *containment*:
    ``|A∩B| / min(|A|, |B|) >= num/den`` (Broder's containment measure,
    "On the resemblance and containment of documents", SEQUENCES'97).

    Catches the dup family symmetric Jaccard structurally misses: a
    short document embedded verbatim inside a much longer one (quoted
    articles, paginated shards of one page, boilerplate-wrapped
    reposts).  For |A| << |B| Jaccard is at most |A|/|B| no matter how
    completely A is contained, so a 100-token quote inside a 10k-token
    page scores ~0.01 Jaccard but 1.0 containment.

    Same integer-exact, cap-disciplined pipeline as
    ``ngram_jaccard_pairs`` (shingles -> hot-shingle df cap -> hashed
    equi-join -> intersection counts -> size join -> integer threshold):
    the decision compares ``inter * den >= num * least(na, nb)`` in
    64-bit integers, so the candidate set is engine-independent and
    fully oracle-checkable.  ``df_cap`` drops corpus-common shingles
    before the O(df²) join — for containment the conservative direction
    is the same as for Jaccard (capped shingles still count toward both
    sizes but never the intersection, so the reported score only
    under-states true containment).  ``min_shingles`` floors the SMALL
    side: one-shingle docs are contained in everything that quotes
    their three words, which at web scale is pure noise — the floor is
    applied to ``least(na, nb)`` after the size join (no extra pass).

    Returns (id_a, id_b, inter, n_small) with id_a < id_b; the score is
    inter/n_small.  Scale: identical shuffle profile to
    ``ngram_jaccard_pairs`` — the only new work is the ``least`` in the
    final filter.
    """
    sh = _maybe_persist(
        shingle_df(df, id_col, text_col, n).select(
            "id", F.xxhash64("sh").alias("shh")
        ),
        storage,
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    shc = drop_hot(sh, "shh", df_cap)
    a = shc.select(F.col("id").alias("id_a"), "shh")
    b = shc.select(F.col("id").alias("id_b"), "shh")
    inter = (
        a.join(b, "shh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"),
            "id_b",
        )
        .withColumn("n_small", F.least(F.col("na"), F.col("nb")))
        .filter(F.col("n_small") >= min_shingles)
        .filter(
            F.col("inter") * threshold_den
            >= F.lit(threshold_num) * F.col("n_small")
        )
        .select("id_a", "id_b", "inter", "n_small")
    )
    return out


def ngram_shingle_metrics(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, df_cap: int = 5000
) -> DataFrame:
    """Observability for the ``df_cap`` recall trade in
    ``ngram_jaccard_pairs``: one row with the shingle-frequency profile
    and exactly how much mass the cap removes from the join
    (n_shingles, max_df, n_hot_shingles, dropped_rows, join_rows_upper_
    bound without vs with the cap — the O(df²) blow-up made visible)."""
    sh = shingle_df(df, id_col, text_col, n).select(
        "id", F.xxhash64("sh").alias("shh")
    )
    freq = sh.groupBy("shh").agg(F.count("*").alias("sh_df"))
    pairs = F.col("sh_df") * (F.col("sh_df") - 1) / 2
    return freq.agg(
        F.count("*").alias("n_shingles"),
        F.max("sh_df").alias("max_df"),
        F.sum(F.when(F.col("sh_df") > df_cap, 1).otherwise(0)).alias(
            "n_hot_shingles"
        ),
        F.sum(F.when(F.col("sh_df") > df_cap, F.col("sh_df")).otherwise(0)).alias(
            "dropped_rows"
        ),
        F.sum(pairs).cast("long").alias("join_rows_uncapped"),
        F.sum(F.when(F.col("sh_df") <= df_cap, pairs).otherwise(0))
        .cast("long")
        .alias("join_rows_capped"),
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — public algorithm): hash every character k-gram
    (rolling window over the raw text), then keep the MINIMUM hash of
    each window of ``w`` consecutive k-grams.  Any shared substring of
    length >= k + w - 1 between two documents is guaranteed to
    contribute a shared fingerprint — the local-match detector that
    token-shingle Jaccard (which normalizes positions away) can't give.

    Formulation: the per-doc gram-hash array is built in ONE pass (a
    single transform — O(n) md5 per doc), posexploded to (id, pos, h)
    rows, and the per-window minimum comes from a plain windowed
    ``min() OVER (PARTITION BY id ORDER BY pos ROWS 0..w-1)`` — one
    hash exchange on id, whole-stage-codegen window, linear work.  Do
    NOT express the window minimum as a nested higher-order function
    over the gram array: Catalyst's CollapseProject inlines the array
    into every window lambda and the k-gram hashing silently becomes
    O(n·w... up to n²) md5 calls per document (measured: 0.5 s -> 120 s
    on 500 short docs).

    Hashes are md5-derived 60-bit ints (first 15 hex chars), so an
    external SQL engine reproduces the exact fingerprint sets.  Returns
    distinct (id, fp) rows; docs shorter than k + w - 1 contribute no
    rows."""
    from pyspark.sql import Window

    t = F.col(text_col)
    n_grams = F.greatest(F.length(t) - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.conv(F.substring(F.md5(F.substring(t, i, k)), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    g = (
        df.filter(F.length(t) >= k + w - 1)
        .select(
            F.col(id_col).alias("id"),
            (n_grams - (w - 1)).alias("_nw"),
            F.posexplode(grams).alias("pos", "h"),
        )
    )
    wspec = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        g.withColumn("fp", F.min("h").over(wspec))
        .filter(F.col("pos") < F.col("_nw"))  # full windows only (pos 0-based)
        .select("id", "fp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int = 5000,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: explode the
    per-doc fingerprint sets, cap corpus-hot fingerprints (same
    discipline as every other blocking join here), equi-join, and keep
    pairs sharing >= ``min_shared`` selected hashes.  Returns
    (id_a, id_b, shared) — integer-exact."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    ok = drop_hot(fps, "fp", df_cap)
    a = ok.select(F.col("id").alias("id_a"), "fp")
    b = ok.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def _minhash_col(seed: int) -> Column:
    """One MinHash 'permutation': min over md5('{seed}|' || shingle).
    md5 hex strings are identical across Spark and DuckDB, making the
    signature engine-independent."""
    return F.min(F.md5(F.concat(F.lit(f"{seed}|"), F.col("sh")))).alias(f"mh{seed}")


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """(id, mh0..mh{n-1}) MinHash signature from a (id, sh) shingle set."""
    return sh.groupBy("id").agg(*[_minhash_col(s) for s in range(num_hashes)])


def _minhash_stacked(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, bucket) band rows from a (id, sh) shingle frame — the ONE
    definition of MinHash band bucketing, shared by the pair join and
    its metrics so the two can't drift."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(sh, num_hashes)
    band_cols = [
        F.concat_ws("#", *[F.col(f"mh{b * r + i}") for i in range(r)]).alias(f"band{b}")
        for b in range(bands)
    ]
    sig_b = sig.select("id", *band_cols)
    return sig_b.select(
        "id",
        F.explode(
            F.array(*[
                F.concat_ws("|", F.lit(str(b)), F.col(f"band{b}")) for b in range(bands)
            ])
        ).alias("bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold_num: int = 3,
    threshold_den: int = 10,
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified.

    shingles -> 8 md5-minhashes -> 4 bands of 2 -> band-bucket equi-join
    for candidates -> exact integer Jaccard verify.  Deterministic: same
    candidates in any engine computing the same md5 minhashes, so the
    final output equals the oracle's despite LSH being 'approximate'.

    Buckets hotter than ``bucket_cap`` contribute nothing (capped
    inside the single grouped pass — ``grouped_bucket_pairs``): a
    10M-copy boilerplate cluster shares ALL its bands, so without the
    cap a single bucket emits O(m²) join rows.  Run ``exact_dedup``
    first (identical copies never belong in an LSH join); the dropped
    mass is observable via ``minhash_band_metrics``."""
    sh = _maybe_persist(shingle_df(df, id_col, text_col, n), storage)
    # the band frame is scanned exactly once by the grouped pair
    # expansion (cap + pairs in one shuffle), so it is NOT persisted;
    # only the shingle frame is (re-scanned by the exact-Jaccard verify)
    cand = grouped_bucket_pairs(
        _minhash_stacked(sh, num_hashes, bands), bucket_cap
    )
    # exact verify on candidates only (hashed shingles: smaller shuffle)
    shh = sh.select("id", F.xxhash64("sh").alias("shh"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    sa = shh.select(F.col("id").alias("id_a"), "shh")
    sb = shh.select(F.col("id").alias("id_b"), "shh")
    inter = (
        cand.join(sa, "id_a").join(sb, ["id_b", "shh"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    )
    return (
        inter
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("union"))
        .select("id_a", "id_b", "inter", "union")
    )


def minhash_band_metrics(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    bucket_cap: int = 5000,
) -> DataFrame:
    """Band-bucket profile for ``minhash_lsh_pairs``'s ``bucket_cap``
    recall trade (same shape as ``ngram_shingle_metrics``)."""
    sh = shingle_df(df, id_col, text_col, n)
    return bucket_profile(_minhash_stacked(sh, num_hashes, bands), bucket_cap)


def minhash_lsh_join(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold_num: int = 3,
    threshold_den: int = 10,
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Cross-corpus MinHash+LSH near-dup join: for every document in
    ``new_df``, the ``base_df`` documents with shingle Jaccard >=
    threshold — the "dedup the incoming crawl batch against the
    existing corpus" operator (the cross-frame twin of
    ``minhash_lsh_pairs``; same md5 minhashes, same band layout, so a
    doc pairs with the corpus exactly when it would pair in the pooled
    self-join).

    Returns ``(new_id, base_id, inter, union)``.  Ids are NOT assumed
    globally unique across the two frames (different crawls may reuse
    ids), which is why this is a genuine two-frame join and not
    union-then-self-pairs.

    Scale design: each side's band frame is capped independently at
    ``bucket_cap`` with ``drop_hot`` BEFORE the bucket equi-join, so a boilerplate bucket hot on either side
    contributes at most cap x cap join rows and the aggregation buffers
    never hold an uncapped group.  At web scale the new batch is tiny
    next to the corpus; no broadcast hint on purpose — AQE broadcasts
    the small side when it truly is small (the recorded serial-build
    trade in er/blocking.py).  Exact integer Jaccard verify runs on
    candidates only, over xxhash64'd shingles (smaller shuffle, the
    recorded string-array trap)."""
    sh_new = _maybe_persist(shingle_df(new_df, id_col, text_col, n), storage)
    sh_base = _maybe_persist(shingle_df(base_df, id_col, text_col, n), storage)

    def _capped_bands(sh: DataFrame) -> DataFrame:
        stacked = _minhash_stacked(sh, num_hashes, bands)
        return drop_hot(stacked, "bucket", bucket_cap)

    cand = (
        _capped_bands(sh_new)
        .select(F.col("id").alias("new_id"), "bucket")
        .join(
            _capped_bands(sh_base).select(F.col("id").alias("base_id"), "bucket"),
            "bucket",
        )
        .select("new_id", "base_id")
        .distinct()
    )
    hn = sh_new.select(F.col("id").alias("new_id"), F.xxhash64("sh").alias("shh"))
    hb = sh_base.select(F.col("id").alias("base_id"), F.xxhash64("sh").alias("shh"))
    inter = (
        cand.join(hn, "new_id")
        .join(hb, ["base_id", "shh"])
        .groupBy("new_id", "base_id")
        .agg(F.count("*").alias("inter"))
    )
    szn = sh_new.groupBy("id").agg(F.count("*").alias("na"))
    szb = sh_base.groupBy("id").agg(F.count("*").alias("nb"))
    return (
        inter.join(szn.withColumnRenamed("id", "new_id"), "new_id")
        .join(szb.withColumnRenamed("id", "base_id"), "base_id")
        .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(
            F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("union")
        )
        .select("new_id", "base_id", "inter", "union")
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold_num: int = 3,
    threshold_den: int = 10,
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate removal: the full keep-one-per-cluster
    pipeline a training-data run actually executes, as one operator.

    Stages (each one already scale-proven on its own):
      1. exact collapse — byte-identical copies map to the min id of
         their md5(text) group BEFORE any LSH work (one hash shuffle;
         this is what keeps band buckets small — crawl boilerplate is
         mostly byte-identical),
      2. ``minhash_lsh_pairs`` over the exact representatives only
         (banded equi-join + integer-exact Jaccard verify, hot buckets
         capped),
      3. ``connected_components`` over the verified pairs (labelled
         on the driver within ``clustering._DRIVER_MAX_EDGES``, else
         O(log n) checkpointed star rounds; ``RuntimeError`` if those
         have not converged after ``clustering._MAX_ROUNDS``),
      4. every doc labeled with its cluster representative
         (lexicographic-min id through BOTH collapses).

    Returns one row per input doc: ``(id, rep_id, keep)`` with
    ``keep = 1`` iff the doc is its cluster's representative — filter
    ``keep = 1`` for the surviving corpus, or join ``rep_id`` back to
    re-attach cluster context.  Deterministic for a fixed input set.
    """
    from ..er.clustering import connected_components

    ids = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    # null-safe exact-collapse key: md5(NULL) is NULL, so the plain
    # equi-join below would silently DROP every NULL-text doc from the
    # output (violating one-row-per-input) and the groupBy would pool
    # all NULLs into one fake "duplicate" cluster.  A NULL text carries
    # no content to match on, so each such doc is its own singleton
    # group (the oracle mirrors the same coalesce).
    keyed = ids.withColumn(
        "h",
        F.coalesce(
            F.md5("text"), F.concat(F.lit("null:"), F.col("id").cast("string"))
        ),
    )
    ex = keyed.groupBy("h").agg(F.min("id").alias("ex_rep"))
    mapped = _maybe_persist(keyed.join(ex, "h").drop("h"), storage)
    reps = mapped.filter(F.col("id") == F.col("ex_rep")).select("id", "text")
    pairs = minhash_lsh_pairs(
        reps,
        "id",
        "text",
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        bucket_cap=bucket_cap,
        storage=storage,
    )
    comps = connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        checkpoint_dir=checkpoint_dir,
    )
    return (
        mapped.join(comps.withColumnRenamed("node", "ex_rep"), "ex_rep", "left")
        .select("id", F.coalesce("component", "ex_rep").alias("rep_id"))
        .withColumn("keep", (F.col("id") == F.col("rep_id")).cast("long"))
    )


def incremental_near_dedup(
    old_docs: DataFrame,
    old_assign: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold_num: int = 3,
    threshold_den: int = 10,
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fold a new crawl batch into an existing ``near_dedup`` clustering
    without re-deduping the old corpus — the document-side twin of
    ``er.incremental_resolve`` (the reference's incremental-build
    contract, fst.h:16-22, applied to the dedup family).

    ``old_docs``: the previously deduped corpus (id, text).
    ``old_assign``: ``near_dedup(old_docs)``'s output (id, rep_id[,
    keep]) — the transitive closure already paid for.  ``new_docs``:
    the batch.  Ids must be globally unique across both frames.

    Returns the updated full assignment ``(id, rep_id, keep)`` for
    old ∪ new docs, row-identical to ``near_dedup(old ∪ new)`` under
    the same parameters (pinned by test), including new docs BRIDGING
    two old clusters (both relabel to the merged min).  Equivalence
    assumes the caps don't bind differently across the two runs (same
    caveat as the pooled-vs-split property of ``minhash_lsh_join``):
    a band bucket pushed over ``bucket_cap`` only by the union would
    drop pairs in the full rerun that the old run already folded in.

    Why it's equivalent: the full rerun's verified-pair set over union
    exact-reps splits into old-old pairs (already inside ``old_assign``
    — old clusters collapse to their min-member id), new-new pairs
    (``minhash_lsh_pairs`` over the batch's unseen-md5 reps), new-old
    pairs (``minhash_lsh_join`` batch reps × old exact-reps, re-rooted
    at the old rep's CLUSTER id), and byte-identical new→old matches
    (md5 equi-join, one edge each — kept IN the CC graph so a new id
    smaller than the old cluster id still wins the min-label).  CC then
    runs on a (batch + touched clusters)-sized graph, never
    old-corpus-sized.

    Old-corpus cost: one map-side md5 + min-id aggregate (the exact-rep
    map), the LSH-join right side over exact-reps only, and the final
    relabel join (touched-cluster-sized — AQE broadcasts it).  No
    old-old pair generation, no old-only CC iterations.
    """
    from ..er.clustering import connected_components

    def _keyed(df: DataFrame) -> DataFrame:
        ids = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        return ids.withColumn(
            "h",
            F.coalesce(
                F.md5("text"),
                F.concat(F.lit("null:"), F.col("id").cast("string")),
            ),
        )

    assign = old_assign.select(
        F.col(id_col).alias("id"), F.col("rep_id")
    ).distinct()

    # old exact-rep map (h, ex_rep, cluster): ONE md5 aggregate over the
    # old corpus + a join to the prior assignment at the rep
    okeyed = _maybe_persist(_keyed(old_docs), storage)
    old_ex = (
        okeyed.groupBy("h")
        .agg(F.min("id").alias("ex_rep"))
        .join(
            assign.select(F.col("id").alias("ex_rep"), F.col("rep_id").alias("cluster")),
            "ex_rep",
        )
    )
    old_ex = _maybe_persist(old_ex, storage)

    nkeyed = _maybe_persist(_keyed(new_docs), storage)

    # byte-identical new->old matches: one edge (new id <-> old cluster)
    # each, so a new id smaller than the cluster id still wins the min
    matched = nkeyed.join(old_ex.select("h", "cluster"), "h")
    exact_edges = matched.select(
        F.col("id").alias("id_a"), F.col("cluster").alias("id_b")
    )

    # unseen-md5 batch docs: exact-collapse among themselves
    unk = nkeyed.join(old_ex.select("h"), "h", "left_anti")
    new_ex = unk.withColumn(
        "nrep", F.min("id").over(Window.partitionBy("h"))
    )
    new_ex = _maybe_persist(new_ex, storage)
    new_reps = new_ex.filter(F.col("id") == F.col("nrep")).select("id", "text")

    nn_pairs = minhash_lsh_pairs(
        new_reps, "id", "text", n=n, num_hashes=num_hashes, bands=bands,
        threshold_num=threshold_num, threshold_den=threshold_den,
        bucket_cap=bucket_cap, storage=storage,
    ).select("id_a", "id_b")
    no_pairs = (
        minhash_lsh_join(
            new_reps,
            old_ex.select(F.col("ex_rep").alias("id")).join(
                okeyed.select("id", "text"), "id"
            ),
            "id", "text", n=n, num_hashes=num_hashes, bands=bands,
            threshold_num=threshold_num, threshold_den=threshold_den,
            bucket_cap=bucket_cap, storage=storage,
        )
        .join(
            old_ex.select(F.col("ex_rep").alias("base_id"), "cluster"),
            "base_id",
        )
        .select(F.col("new_id").alias("id_a"), F.col("cluster").alias("id_b"))
    )

    # the edge union is cut (localCheckpoint) before CC: Catalyst's
    # Union constraint rewrite otherwise chokes on the three branches'
    # join-derived constraints ("key not found: src#N" inside CC's own
    # per-iteration checkpoint), and the graph is batch-sized by design
    # so the materialization is cheap
    edges = (
        nn_pairs.unionByName(no_pairs)
        .unionByName(exact_edges)
        .localCheckpoint(eager=True)
    )
    comp = connected_components(
        edges,
        src="id_a",
        dst="id_b",
        checkpoint_dir=checkpoint_dir,
    )

    # relabel touched old clusters; everything else is untouched
    relabel = comp.select(
        F.col("node").alias("rep_id"), F.col("component").alias("_new")
    )
    old_rows = assign.join(relabel, "rep_id", "left").select(
        "id", F.coalesce("_new", "rep_id").alias("rep_id")
    )
    matched_rows = (
        matched.join(relabel.withColumnRenamed("rep_id", "cluster"), "cluster", "left")
        .select("id", F.coalesce("_new", "cluster").alias("rep_id"))
    )
    unk_rows = (
        new_ex.join(
            comp.withColumnRenamed("node", "nrep"), "nrep", "left"
        )
        .select("id", F.coalesce("component", "nrep").alias("rep_id"))
    )
    return (
        old_rows.unionByName(matched_rows)
        .unionByName(unk_rows)
        .withColumn("keep", (F.col("id") == F.col("rep_id")).cast("long"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc, pure Catalyst: per-token md5 -> 64-bit int
    (first 15 hex chars, i.e. 60 usable bits, to stay in signed-long
    range) -> per-bit +/-1 vote -> sign bits packed into a long."""
    usable = min(bits, 60)
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok"))
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    toks = toks.select("id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(usable)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = None
    for b in range(usable):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long")
        sig = term if sig is None else (sig + term)
    return agg.select("id", sig.alias("simhash"))


def _band_layout(usable: int, bands: int) -> list[tuple[int, int]]:
    """(bit_offset, width) of ``bands`` disjoint bands covering
    ``usable`` bits; leading bands absorb the remainder (+1 bit)."""
    base, rem = divmod(usable, bands)
    out, off = [], 0
    for b in range(bands):
        w = base + (1 if b < rem else 0)
        out.append((off, w))
        off += w
    return out


def _simhash_bands(bands: int, max_hamming: int, usable: int = 60) -> int:
    if bands is None:
        bands = max_hamming + 1
    if not max_hamming < bands <= usable:
        raise ValueError(
            f"need max_hamming < bands <= {usable} for pigeonhole "
            f"completeness (got max_hamming={max_hamming}, bands={bands})"
        )
    return bands


def _simhash_stacked(sig: DataFrame, bands: int, usable: int = 60) -> DataFrame:
    """(id, simhash, bucket) band rows from a (id, simhash) frame — the
    ONE definition of SimHash band bucketing, shared by the pair join
    and its metrics."""
    return sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    F.shiftright(F.col("simhash"), off)
                    .bitwiseAND(F.lit((1 << w) - 1))
                    .cast("string"),
                )
                for b, (off, w) in enumerate(_band_layout(usable, bands))
            ])
        ).alias("bucket"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int | None = None,
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Band count is derived from the asked radius: ``max_hamming + 1``
    disjoint bands over the 60 usable signature bits (pigeonhole — at
    most ``max_hamming`` differing bits can touch at most ``max_hamming``
    bands, so some band is bit-identical and the band equi-join finds
    EVERY pair within the radius; exact ``bit_count(xor)`` then filters
    false candidates).  An explicit ``bands`` override must still honor
    ``bands > max_hamming`` — a smaller band count silently loses recall,
    so it raises instead.  Wider radii mean narrower bands and larger
    candidate buckets: the equi-join fan-out grows as 2^-width per band,
    which is the honest cost of a complete large-radius search (radius
    <= 3 keeps the classic 4x15-bit layout).

    Buckets hotter than ``bucket_cap`` contribute nothing (capped inside
    the single grouped pass — ``grouped_bucket_pairs``; identical docs
    share every band, so run ``exact_dedup`` first).  The cap bounds
    pair fan-out at the price of completeness for what it drops;
    ``simhash_band_metrics`` reports the dropped mass.

    ``storage`` is retained for API compatibility but is a no-op on
    this path since the grouped expansion scans the signature frame
    exactly once (mirrors cosine_lsh_pairs)."""
    usable = 60
    bands = _simhash_bands(bands, max_hamming, usable)
    sig = simhash(df, id_col, text_col)
    # the signature long rides the grouped pair expansion as a payload
    # (16 extra bytes/pair), so there is no per-side join-back; Hamming
    # verify BEFORE the distinct — bit_count(xor) is a codegen scalar on
    # the streamed expansion output, so filtering first shrinks the
    # dedup shuffle to the passing pairs only (measured sf0.1: 17.7M
    # candidate rows -> ~2.5M pre-distinct)
    cand = grouped_bucket_pairs(
        _simhash_stacked(sig, bands, usable),
        bucket_cap,
        payload_col="simhash",
        distinct=False,
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_band_metrics(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int | None = None,
    bucket_cap: int = 5000,
) -> DataFrame:
    """Band-bucket profile for ``simhash_pairs``'s ``bucket_cap`` recall
    trade (same shape as ``ngram_shingle_metrics``)."""
    bands = _simhash_bands(bands, max_hamming)
    sig = simhash(df, id_col, text_col)
    return bucket_profile(_simhash_stacked(sig, bands), bucket_cap)


def span_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
) -> DataFrame:
    """Non-overlapping token windows per document: (doc_id, span_id,
    span) where ``span`` is the space-joined text of tokens
    [span_id*w, span_id*w + w).  The exact-substring-dedup unit of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL'22), simplified to fixed tumbling windows.

    Built as posexplode -> (doc, span_id) aggregate rather than a
    ``transform(sequence(...), i -> slice(toks, ...))`` projection: the
    lambda form re-inlines the computed token array once per span
    (the CollapseProject HOF re-inline, measured 0.5 s -> 120 s on the
    winnowing operator), i.e. O(len^2/w) per document — fatal for
    book-length web documents.  The aggregate form is linear in total
    token count; the hash shuffle it costs is the same one the df count
    needs anyway."""
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    ex = base.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    return (
        ex.withColumn("span_id", (F.col("pos") / F.lit(span_tokens)).cast("long"))
        .groupBy("doc_id", "span_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("span")
        )
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    df_cap: int = 1,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Exact span-level dedup: drop every token window whose text occurs
    more than ``df_cap`` times across the corpus (counting repeats
    inside a single document), then reassemble each document from its
    surviving spans.  Output: (doc_id, n_spans, n_removed, clean_text)
    for EVERY input document (token-less documents keep an empty
    clean_text) — the boilerplate-removal stage of a web-scale training
    pipeline, where repeated navigation/footer spans are struck from
    otherwise-unique pages.

    Integer/string math only (md5 span hashes, BIGINT counts), so the
    operator is fully oracle-checkable.  Plan shape: the span frame is
    one explode + hash aggregate (see ``span_hashes``); the frequency
    count is a second aggregate keyed on the 32-char hash (8+32-byte
    shuffle rows, never the span text); the rebuild is a third per-doc
    aggregate.  A mega-cluster of identical spans only ever hits
    aggregates — there is no pair join anywhere, so no O(df^2) term.

    The hashed span frame feeds BOTH the frequency count and the
    keep/strike join, so it is persisted under ``storage`` (None =
    recompute; registered with util.storage.release_persisted like
    every other operator-internal persist) — otherwise the dominant
    explode+aggregate stage runs twice."""
    spans = span_hashes(df, id_col, text_col, span_tokens)
    h = _maybe_persist(spans.withColumn("h", F.md5(F.col("span"))), storage)
    freq = h.groupBy("h").agg(F.count("*").alias("span_df"))
    flagged = h.join(freq, "h").withColumn(
        "keep", F.col("span_df") <= F.lit(df_cap)
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("span_id", "span"))
                    )
                ),
                lambda x: x["span"],
            ),
            " ",
        ).alias("clean_text"),
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
    line_df_cap: int = 2,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/Common-Crawl paragraph
    dedup step, Wenzek et al. LREC'20, applied at line granularity):
    drop every line that occurs in more than ``line_df_cap`` DISTINCT
    documents of the same ``group_col`` group (pass the host/source
    column — navigation, footers and cookie banners repeat within a
    site; ``None`` = one corpus-wide group), then reassemble each
    document from its surviving lines in order.

    Output: (doc_id, n_lines, n_removed, clean_text) for EVERY input
    document.  Differences from ``span_dedup`` (its token-window twin):
    granularity is physical lines, frequency is per-group DISTINCT-doc
    df (a line repeated inside one page is not boilerplate), and the
    keep/strike decision applies to all copies of a line in a doc.

    Integer/string math only (md5 line hashes, BIGINT counts) — fully
    oracle-checkable.  Plan shape: posexplode lines → distinct (group,
    line-hash, doc) → hash aggregate for df (shuffle rows are 8+32-byte
    hashes, never line text) → equi-join back on (group, hash) → one
    per-doc aggregate to reassemble.  A footer shared by millions of
    pages only ever hits aggregates — no pair join, no O(df²) term.
    The line frame feeds both the df count and the join, so it is
    persisted under ``storage`` (registered for release_persisted)."""
    grp = F.col(group_col) if group_col else F.lit("")
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        grp.alias("grp"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    )
    h = _maybe_persist(lines.withColumn("h", F.md5("line")), storage)
    freq = (
        h.select("grp", "h", "doc_id")
        .distinct()
        .groupBy("grp", "h")
        .agg(F.count("*").alias("line_df"))
    )
    # null-SAFE group equality: groupBy collects NULL-group rows into
    # one group, but a plain equi-join would never match them back
    # (NULL = NULL is NULL) — silently emptying every NULL-group doc
    fr = freq.select(
        F.col("grp").alias("_fgrp"),
        F.col("h").alias("_fh"),
        "line_df",
    )
    flagged = h.join(
        fr,
        F.col("grp").eqNullSafe(F.col("_fgrp")) & (F.col("h") == F.col("_fh")),
    ).withColumn("keep", F.col("line_df") <= F.lit(line_df_cap))
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "line"))
                    )
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def keep_latest(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Crawl-snapshot compaction: one row per key — the row with the
    lexicographically greatest ``order_cols`` tuple (e.g. latest
    ``warc_ts`` per ``url``, the classic latest-page-per-URL cut over a
    Common-Crawl-style changelog).

    Returns ``key_cols + order_cols + payload_cols``.  Deterministic
    always: if ``order_cols`` is not unique within a key group the
    payload columns extend the comparison, so ties break on payload
    bytes rather than partition order.

    Scale notes (100 TB): implemented as ``max(struct(order..,
    payload..))`` in ONE aggregate (Spark plans SortAggregate — struct
    max has no mutable hash buffer — but keeps the map-side
    ``partial_max``), so each map partition ships ONE candidate row per
    local key, unlike the window formulation (``row_number() OVER
    (PARTITION BY key ORDER BY ts DESC)``), which shuffles EVERY
    version of every page and sorts per key.  No skew cliff: a hot key
    (a URL recrawled millions of times) reduces map-side first, so the
    reduce side sees at most one row per key per map partition."""
    s = F.struct(*[F.col(c) for c in order_cols + payload_cols])
    out = df.groupBy(*[F.col(c) for c in key_cols]).agg(F.max(s).alias("_latest"))
    return out.select(
        *key_cols,
        *[F.col(f"_latest.{c}").alias(c) for c in order_cols + payload_cols],
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot diff between two crawls keyed on ``key_cols``: one row
    per key present in either side with
    ``status ∈ {added, removed, changed, unchanged}`` — ``added`` =
    only in ``new``, ``removed`` = only in ``old``, ``changed`` = in
    both with any ``compare_cols`` value differing (null-safe), else
    ``unchanged``.  The incremental-crawl planning primitive: only
    ``added``/``changed`` keys need re-processing downstream.

    Each side must be unique per key (run :func:`keep_latest` first on
    a changelog).  Scale notes: ONE full-outer hash equi-join on the
    key — each side shuffles once on ``key_cols`` and the comparison is
    a codegen'd null-safe predicate; for a daily diff against a stable
    base crawl, persist the base bucketed on the key
    (sources/bucketed.py) and the base side's Exchange disappears."""
    if not key_cols or not compare_cols:
        raise ValueError("need key_cols and compare_cols")
    o = old.select(
        *key_cols,
        F.lit(1).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(1).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    same = None
    for c in compare_cols:
        eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        same = eq if same is None else (same & eq)
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, key_cols, "full_outer").select(
        *key_cols, status.alias("status")
    )
