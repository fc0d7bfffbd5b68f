"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k / threshold pairs with the dot product
as a Catalyst higher-order-function expression (zip_with + aggregate —
JVM, codegen, no Python).  Scale path: random-hyperplane LSH bucketing
(signed projections -> band equi-join) so candidate generation is linear,
with exact cosine re-verification on candidates only.

At 100 TB the brute-force variant exists for small query sets (broadcast
the queries, scan the corpus once); all-pairs work always goes through
the LSH path."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import StringType, StructField, StructType


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_threshold_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs with cosine >= threshold (brute-force; for bounded
    inputs / correctness oracles).  Returns (id_a, id_b, cos).

    BOUNDED-INPUT ORACLE TWIN — the O(n²) crossJoin is the point (it is
    the completeness oracle for the LSH/IVF scale paths), so the input
    is guarded: ``max_rows`` (default 100k ⇒ ≤5e9 candidate pairs)
    triggers one ``limit(max_rows + 1).count()`` probe (it stops after
    max_rows + 1 rows, never a full scan) and a loud ValueError over the
    bound.  Pass ``max_rows=None`` to disable (you are then on record
    choosing the quadratic path).  The shipped scale paths are ``cosine_lsh_pairs``
    / ``ivf_topk`` / ``semantic_dedup``."""
    if max_rows is not None:
        if emb.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"cosine_threshold_pairs is a brute-force O(n²) oracle: "
                f"input has more than {max_rows} rows (max_rows="
                f"{max_rows}). Use cosine_lsh_pairs/ivf_topk for scale, "
                f"or pass max_rows=None to override."
            )
    # norms precomputed ONCE per vector before the pair explosion —
    # the naive cosine() per pair folds both norms again, tripling the
    # dominant HOF-fold cost over n² pairs (62 s -> 21 s at 2k×64f)
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector: broadcast the
    (small) query side, one scan of the corpus, per-query window top-k.
    Deterministic tie-break on neighbor id."""
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def ivf_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 4096,
    algo: str = "hash",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """The ONE definition of the coarse quantizer's centroid set, shared
    by assignment and query probing — swapping the algorithm changes
    only this function, and both sides stay coherent by construction.

    algo='hash' (default): a FIXED-SIZE deterministic sample — the
    ``n_centroids`` ids smallest by md5(id) (tie-break id), a uniform
    hash-ordered draw any engine reproduces exactly (DuckDB:
    ``ORDER BY md5(id::VARCHAR), id LIMIT n``).  Spark executes the
    orderBy+limit as TakeOrderedAndProject (per-partition top-N, one
    merge), so deriving the sample is a single cheap pass.

    algo='kmeans': trained coarse quantizer — ``pyspark.ml`` KMeans
    (k-means||, seeded) over the vector column; centroid ids are the
    cluster indices 0..k-1 and ``cvec`` the trained centers.  Better
    cell balance than a uniform sample (fewer over-full cells to probe)
    at the cost of ``max_iter`` training passes; not reproducible by a
    plain-SQL engine, so oracle-checked pipelines use 'hash'.

    Either way ``n_centroids`` is a hard bound independent of corpus
    size (keep it ≲ 64k): the broadcast in ivf_assign/ivf_topk and the
    per-vector assignment cost are O(n_centroids), NOT O(corpus) — the
    property the earlier id-stride subsample (centroids = n/stride)
    lacked."""
    if algo == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = emb.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=max_iter, initMode="k-means||"
        ).fit(feat)
        centers = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        return emb.sparkSession.createDataFrame(
            centers, "cid long, cvec array<float>"
        )
    if algo != "hash":
        raise ValueError(f"unknown centroid algo {algo!r}")
    return (
        emb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("_h", F.md5(F.col("cid").cast("string")))
        .orderBy("_h", "cid")
        .limit(n_centroids)
        .drop("_h")
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 4096,
    centroid_algo: str = "hash",
    seed: int = 42,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: (id, vec, cell) where ``cell`` is the id
    of the nearest centroid.  Centroids come from ``ivf_centroids``
    (hash sample by default, trained k-means via
    ``centroid_algo='kmeans'``) unless an explicit ``cents`` frame
    (cid, cvec) is passed — callers that also probe (ivf_topk) pass the
    same frame to both stages so a trained quantizer is fit once.
    The assignment is a broadcast join against the bounded centroid set
    + a per-vector argmax as ONE ``max_by`` aggregate ordered by
    ``struct(round(ccos, 6), -cid)``: the rounding is the cross-engine
    determinism recipe (a near-tie between two centroids must resolve
    identically under Spark's fold order and a SQL oracle's sum order),
    the negated cid breaks exact ties toward the smaller centroid id,
    and the declarative aggregate gets map-side partial combine by
    construction — only one (id, best) row per vector per input
    partition ever shuffles, never the n x n_centroids scored frame
    (the previous row_number window relied on the WindowGroupLimit
    optimizer rule for the same bound)."""
    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if cents is None:
        cents = ivf_centroids(
            emb, id_col, vec_col, n_centroids, algo=centroid_algo, seed=seed
        )
    scored = src.join(F.broadcast(cents)).withColumn(
        "ccos", F.round(cosine(F.col("vec"), F.col("cvec")), 6)
    )
    best = scored.groupBy("id").agg(
        F.max_by(
            F.struct(F.col("cid"), F.col("vec")),
            F.struct(F.col("ccos"), (-F.col("cid")).alias("tb")),
        ).alias("best")
    )
    return best.select(
        "id", F.col("best.vec").alias("vec"), F.col("best.cid").alias("cell")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
    k: int = 5,
    n_centroids: int = 4096,
    n_probe: int = 2,
    centroid_algo: str = "hash",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in coarse cells
    (``ivf_assign``); each query probes its ``n_probe`` nearest cells
    and brute-forces only those cells' members.  The scale path when the
    query set is too large to broadcast against the whole corpus: the
    heavy join is an equi-join on ``cell``, touching ~n_probe/n_cells
    of the corpus per query instead of all of it.  Recall < 1 by
    construction (a true neighbor can live in an unprobed cell);
    deterministic given the centroid set, so the full pipeline is
    oracle-checkable with the default hash sample
    (``centroid_algo='kmeans'`` trains the quantizer once and shares it
    between assignment and probing)."""
    cents = ivf_centroids(
        emb, id_col, vec_col, n_centroids, algo=centroid_algo, seed=seed
    )
    cells = ivf_assign(emb, id_col, vec_col, n_centroids, cents=cents)
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv"))
    qs = q.join(F.broadcast(cents)).withColumn(
        "ccos", F.round(cosine(F.col("qv"), F.col("cvec")), 6)
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("ccos"), F.asc("cid"))
    probed = (
        qs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "qv", F.col("cid").alias("cell"))
    )
    scored = (
        probed.join(cells, "cell")
        .filter(F.col("q_id") != F.col("id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("id").alias("n_id"), "rank", "cos")
    )


def pq_codebook(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """Product-quantization codebook (Jégou et al., PAMI'11 — public
    literature): the vector space is split into ``m`` contiguous
    subspaces of ``dim/m`` components; each subspace gets ``ksub``
    sub-centroids.  Returns ``(sub, cid, cvec)`` with ``cvec`` already
    cast to double.

    Training set = the ``ksub`` ids smallest by md5(id) (tie-break id)
    — the same fixed-size hash-ordered sample as ``ivf_centroids``, so
    the codebook is corpus-size-independent (``m * ksub`` rows, a
    guaranteed-tiny broadcast) and any SQL engine reproduces it exactly
    (``ORDER BY md5(id), id LIMIT ksub`` + ``row_number() - 1`` as the
    centroid id).  The single-partition window over ``ksub`` rows is
    deliberate: it orders a constant-size frame, never the corpus.
    A k-means-trained codebook would slot in here exactly like
    ``ivf_centroids(algo='kmeans')`` — same output shape, not
    SQL-reproducible, so oracle-checked pipelines use the hash sample.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    sample = (
        emb.select(F.col(id_col).alias("tid"), F.col(vec_col).alias("tvec"))
        .withColumn("_h", F.md5(F.col("tid").cast("string")))
        .orderBy("_h", "tid")
        .limit(int(ksub))
        .withColumn(
            "cid",
            F.row_number().over(Window.orderBy("_h", "tid")) - 1,
        )
    )
    return sample.select(
        F.col("cid").cast("long").alias("cid"),
        F.explode(_subvectors(F.col("tvec"), dim, m)).alias("r"),
    ).select("r.sub", "cid", F.col("r.svec").alias("cvec"))


def _sub_l2(a, b) -> Column:
    """Squared L2 distance between two double arrays as a sequential
    left fold (deterministic summation order), rounded to 6 dp so
    cross-engine last-ulp noise cannot flip an argmin or a rank."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _subvectors(col, dim: int, m: int) -> Column:
    """Array of ``(sub, svec)`` structs — the ONE definition of the PQ
    subspace split (contiguous ``dim/m`` slices, elements cast to
    double), shared by codebook, encoding, and both query paths so the
    engines cannot diverge on some paths only."""
    d_sub = dim // m
    return F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("sub"),
                F.transform(
                    F.slice(col, j * d_sub + 1, d_sub),
                    lambda x: x.cast("double"),
                ).alias("svec"),
            )
            for j in range(m)
        ]
    )


def _adc_table(q: DataFrame, codebook: DataFrame, dim: int, m: int) -> DataFrame:
    """Per-query ADC lookup table ``(q_id, sub, code, d)``: exact
    subspace distance from each query subvector to every sub-centroid.
    |Q| * m * ksub rows — broadcast-sized by construction."""
    return (
        q.select("q_id", F.explode(_subvectors(F.col("qv"), dim, m)).alias("r"))
        .select("q_id", "r.sub", "r.svec")
        .join(F.broadcast(codebook), "sub")
        .withColumn("d", _sub_l2(F.col("svec"), F.col("cvec")))
        .select("q_id", "sub", F.col("cid").alias("code"), "d")
    )


def _adc_topk(scored: DataFrame, k: int) -> DataFrame:
    """Fold the m per-subspace distances of each ``(q_id, id)`` pair in
    ascending ``sub`` order (deterministic summation), round, and take
    the per-query top-k under the (adist, id) total order."""
    adist = (
        scored.groupBy("q_id", "id")
        .agg(F.sort_array(F.collect_list(F.struct("sub", "d"))).alias("ds"))
        .withColumn(
            "adist",
            F.round(
                F.aggregate(F.col("ds"), F.lit(0.0), lambda acc, s: acc + s["d"]),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("id"))
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("q_id", F.col("id").alias("n_id"), "rank", "adist")
    )


def pq_encode(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """PQ encoding: ``(id, sub, code)`` — each vector compressed to
    ``m`` centroid indices (``m * ceil(log2 ksub)`` bits ≈ ``m`` bytes
    instead of ``dim`` floats; at 10^12 vectors the codes table is what
    fits in cluster memory, the raw vectors do not).

    One Generate explodes each vector into its ``m`` subvectors (the
    exploded column is a concrete attribute, so the fold below never
    re-inlines a computed array — the recorded CollapseProject trap);
    the codebook joins in as an ``m * ksub``-row broadcast; the argmin
    is ``min(struct(dist, cid))`` per (id, sub) — one hash aggregate,
    corpus scanned exactly once, nothing shuffles but (id, sub, dist,
    cid) rows."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if codebook is None:
        codebook = pq_codebook(emb, id_col, vec_col, dim, m=m, ksub=ksub)
    exploded = emb.select(
        F.col(id_col).alias("id"),
        F.explode(_subvectors(F.col(vec_col), dim, m)).alias("r"),
    ).select("id", "r.sub", "r.svec")
    return (
        exploded.join(F.broadcast(codebook), "sub")
        .withColumn("dist", _sub_l2(F.col("svec"), F.col("cvec")))
        .groupBy("id", "sub")
        .agg(F.min(F.struct("dist", "cid")).alias("mn"))
        .select("id", "sub", F.col("mn.cid").alias("code"))
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    corpus vectors are m-byte PQ codes; each query precomputes an
    ``m × ksub`` table of exact subspace distances to every
    sub-centroid, and a candidate's approximate distance is the sum of
    ``m`` table lookups — no full-vector arithmetic per candidate.

    Plan shape: the distance table (|Q| * m * ksub rows) broadcasts;
    the heavy join is codes ⋈ table on ``(sub, cid)`` — a broadcast
    hash join over the codes frame, never a shuffle of the corpus —
    followed by one (q_id, id) hash aggregate that folds the ``m``
    per-subspace distances in ascending ``sub`` order (deterministic
    summation) and a per-query top-k window.  Returns
    ``(q_id, n_id, rank, adist)`` ranked by (rounded distance ASC,
    n_id) — recall < 1 by construction (quantization error), the
    documented trade for scanning bytes instead of floats."""
    codebook = pq_codebook(emb, id_col, vec_col, dim, m=m, ksub=ksub)
    codes = pq_encode(emb, id_col, vec_col, dim, m=m, ksub=ksub, codebook=codebook)
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv"))
    dtable = _adc_table(q, codebook, dim, m)
    scored = codes.join(F.broadcast(dtable), ["sub", "code"]).filter(
        F.col("q_id") != F.col("id")
    )
    return _adc_topk(scored, k)


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
    dim: int,
    k: int = 5,
    n_centroids: int = 4096,
    n_probe: int = 2,
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """IVF-PQ approximate top-k — the two scale paths composed the way
    production vector indexes do (FAISS's IVFPQ shape, Jégou PAMI'11):
    a coarse quantizer prunes the corpus to ``n_probe`` cells per query
    and PQ/ADC scores only those cells' members from their m-byte
    codes, so neither the full corpus nor any full vector is touched
    per query.

    Differences from the textbook: codes quantize the raw vector, not
    the residual (residual encoding needs per-cell codebooks — the seam
    is ``pq_codebook``), and cell probing ranks centroids by cosine
    (matching ``ivf_topk``) while ADC ranks by squared L2.

    Plan shape: centroids and the codebook are fixed-size broadcasts;
    cells ⋈ probed-cells is the only corpus-sized equi-join (on
    ``cell``, touching ~n_probe/n_centroids of the corpus); codes ride
    an m-row-per-candidate broadcast lookup.  Returns
    ``(q_id, n_id, rank, adist)``; recall < 1 from BOTH prunings (an
    unprobed true neighbor, quantization error) — the documented trade.
    """
    cents = ivf_centroids(emb, id_col, vec_col, n_centroids)
    cells = ivf_assign(emb, id_col, vec_col, n_centroids, cents=cents).select(
        "id", "cell"
    )
    codebook = pq_codebook(emb, id_col, vec_col, dim, m=m, ksub=ksub)
    codes = pq_encode(emb, id_col, vec_col, dim, m=m, ksub=ksub, codebook=codebook)

    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv"))
    qs = q.join(F.broadcast(cents)).withColumn(
        "ccos", F.round(cosine(F.col("qv"), F.col("cvec")), 6)
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("ccos"), F.asc("cid"))
    probed = (
        qs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", F.col("cid").alias("cell"))
    )

    dtable = _adc_table(q, codebook, dim, m)
    cand = (
        probed.join(cells, "cell")
        .filter(F.col("q_id") != F.col("id"))
        .select("q_id", "id")
    )
    scored = cand.join(codes, "id").join(
        F.broadcast(dtable), ["q_id", "sub", "code"]
    )
    return _adc_topk(scored, k)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """FAISS-standard ANN evaluation: per query, the fraction of the
    EXACT top-k neighbors the approximate result recovered.  Both
    inputs are (q_id, n_id, rank, ...) frames — the shape every top-k
    operator here returns — so callers compose it directly from two
    already-verified results: ``recall_at_k(ivf_topk(...),
    cosine_topk(...), k)``.  Queries the approximate index missed
    entirely still appear (n_hit = 0), so the mean over the output IS
    macro recall@k — the observability ``bucket_profile`` gives LSH,
    extended to the ANN family: callers SEE what n_probe / m / ksub
    cost them instead of trusting defaults.

    Measured at sf0.1 (500 queries over the 2,000-vector 64-d
    embeddings table, n_centroids=64, k=5; exact = cosine_topk):

    =============  =========
    index          recall@5
    =============  =========
    ivf_topk       0.207  (n_probe=2) / 0.290 (n_probe=4)
    pq_topk        0.079  (m=8, ksub=16, raw-vector codes)
    ivfpq_topk     0.078  (n_probe=2 pruning x PQ distortion)
    =============  =========

    These numbers are LOW and that is the point: the synthetic
    embeddings are near-isotropic random vectors — the regime where
    every ANN structure degrades toward chance and only this report
    makes that visible (on clustered real embeddings the same defaults
    score far higher).  Probing 4 cells instead of 2 buys +0.08
    recall at 2x the probed fraction — exactly the knob/cost trade the
    operator exists to expose.

    Join shape: two equi-joins on (q_id, n_id) between k-row-per-query
    frames — both sides are query-set-sized, never corpus-sized."""
    a = approx.filter(F.col("rank") <= k).select("q_id", "n_id")
    e = exact.filter(F.col("rank") <= k).select("q_id", "n_id")
    hits = (
        e.join(a, ["q_id", "n_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    per_q = (
        e.groupBy("q_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "q_id", "left")
        .fillna(0, subset=["n_hit"])
    )
    return per_q.select(
        "q_id",
        "n_hit",
        "n_exact",
        (F.col("n_hit") / F.col("n_exact")).alias("recall"),
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _md5_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Hyperplane coefficients derived from md5 — component (j, i) is
    int(md5('{seed}|{j}|{i}')[:8], 16) - 2^31, a symmetric integer-
    valued pseudo-random direction that ANY engine can recompute exactly
    (DuckDB: ('0x' || substr(md5(...), 1, 8))::BIGINT - 2147483648), so
    the LSH buckets themselves are oracle-checkable, not just the
    verified output."""
    import hashlib

    m = np.empty((n_planes, dim), dtype=np.float64)
    for j in range(n_planes):
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{j}|{i}".encode()).hexdigest()
            m[j, i] = float(int(h[:8], 16) - 2**31)
    return m


def _cosine_stacked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    plane_scheme: str,
) -> DataFrame:
    """(id, bucket) hyperplane-LSH band rows — the ONE definition of the
    cosine bucketing, shared by the pair join and its metrics."""
    assert n_planes % bands == 0
    r = n_planes // bands
    planes = (
        _md5_planes(dim, n_planes, seed)
        if plane_scheme == "md5"
        else _hyperplanes(dim, n_planes, seed)
    )

    id_type = emb.schema[id_col].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("bucket", StringType())]
    )

    def sig_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf["vec"].to_numpy())
            bits = (vecs @ planes.T) >= 0  # (n, n_planes)
            ids, buckets = [], []
            for row_id, brow in zip(pdf["id"].tolist(), bits):
                for b in range(bands):
                    band_bits = brow[b * r : (b + 1) * r]
                    code = "".join("1" if x else "0" for x in band_bits)
                    ids.append(row_id)
                    buckets.append(f"{b}|{code}")
            yield pd.DataFrame({"id": ids, "bucket": buckets})

    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return src.mapInPandas(sig_gen, schema=schema)


def cosine_lsh_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    plane_scheme: str = "md5",
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
) -> DataFrame:
    """Approximate near-neighbor pairs: random-hyperplane signatures
    (sign of projection) -> band equi-join -> exact cosine verify.
    Recall < 1 by construction (LSH); the exact verify keeps precision 1.

    plane_scheme='md5' (default) derives the hyperplanes from md5 of
    (seed, plane, component) so an external SQL engine reproduces the
    exact buckets; 'gaussian' uses a seeded N(0,1) matrix (statistically
    identical behavior, not SQL-reproducible).

    Buckets hotter than ``bucket_cap`` contribute nothing (capped inside
    the single grouped pass — operators/dedup.grouped_bucket_pairs; a
    duplicate-embedding cluster shares every band, so dedup exact
    copies first).  Dropped mass is observable via
    ``cosine_lsh_band_metrics``.  The band frame is scanned exactly
    once by the grouped expansion, so nothing is persisted on this
    path (``storage`` is kept for API compatibility); vectors are too
    wide to ride the O(m²) pair fan-out, so the exact-cosine verify
    joins them back per side on the DISTINCT candidate set."""
    from .dedup import grouped_bucket_pairs

    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cand = grouped_bucket_pairs(
        _cosine_stacked(
            emb, id_col, vec_col, dim, n_planes, bands, seed, plane_scheme
        ),
        bucket_cap,
    )
    va = src.select(F.col("id").alias("id_a"), F.col("vec").alias("va"))
    vb = src.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_lsh_band_metrics(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    plane_scheme: str = "md5",
    bucket_cap: int = 5000,
) -> DataFrame:
    """Band-bucket profile for ``cosine_lsh_pairs``'s ``bucket_cap``
    recall trade (same shape as dedup.ngram_shingle_metrics)."""
    from .dedup import bucket_profile

    return bucket_profile(
        _cosine_stacked(emb, id_col, vec_col, dim, n_planes, bands, seed, plane_scheme),
        bucket_cap,
    )


def _keep_one_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    pairs_fn,
    storage: str | None,
    checkpoint_dir: str | None,
) -> DataFrame:
    """Shared keep-one-per-cluster scaffold for the embedding dedups:
    NULL-vec split -> exact byte-identical collapse (min id per value
    group, ONE hash shuffle, before any candidate generation so
    mega-duplicate clusters never reach it) -> ``pairs_fn(reps)``
    produces the verified (id_a, id_b) near-dup pairs over the exact
    representatives -> connected components -> every
    input row labeled ``(id, rep_id, keep)`` with keep = 1 iff the row
    is its cluster's representative.  The candidate stage is the ONLY
    thing that differs between ``embedding_dedup`` (LSH bands) and
    ``semantic_dedup`` (IVF cells), so it is the pluggable argument.

    A NULL embedding carries no content to match on AND would be
    silently dropped by the non-null-safe vec equi-join (violating
    one-row-per-input), so NULL-vec rows come back as singleton keeps
    (oracles mirror)."""
    from ..er.clustering import connected_components
    from .dedup import _maybe_persist

    ids = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    nulls = ids.filter(F.col("vec").isNull()).select(
        "id", F.col("id").alias("rep_id"), F.lit(1).cast("long").alias("keep")
    )
    nn = ids.filter(F.col("vec").isNotNull())
    ex = nn.groupBy("vec").agg(F.min("id").alias("ex_rep"))
    # mapped keeps vec so the representative frame is a plain filter of
    # it (no second source scan / join to re-attach the vector)
    mapped = _maybe_persist(nn.join(ex, "vec"), storage)
    reps = mapped.filter(F.col("id") == F.col("ex_rep")).select("id", "vec")
    pairs = pairs_fn(reps)
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
        .unionByName(nulls)
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_centroids: int = 4096,
    centroid_algo: str = "hash",
    seed: int = 42,
    cell_cap: int = 2000,
    storage: str | None = "MEMORY_AND_DISK",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al.,
    arXiv:2303.09540): cluster embeddings with the IVF coarse
    quantizer, compare pairs ONLY within a cluster, and keep one
    representative per group of cosine-similar vectors.  The
    clustering twin of ``embedding_dedup`` — candidates come from the
    coarse cells (semantically coherent neighborhoods) instead of
    hyperplane band collisions, which is the published recipe for
    pruning semantically redundant (not just near-identical) training
    examples.

    Stages:
      1. exact collapse — byte-identical vectors map to their group's
         min id first (one hash shuffle), so mega-duplicate clusters
         never reach the cell stage,
      2. ``ivf_assign`` puts each representative in the cell of its
         nearest centroid (``ivf_centroids``: fixed-size md5 hash
         sample by default — fully oracle-reproducible — or
         ``centroid_algo='kmeans'`` for the trained quantizer),
      3. intra-cell pairs via ``grouped_bucket_pairs`` (ONE shuffle on
         the cell id, ``cell_cap`` bounds the per-cell pair blow-up
         with the engine's standard observable-cap discipline; the
         vector rides the expansion as the payload so there is no
         join-back),
      4. exact cosine verify at ``threshold``,
         ``connected_components`` (``RuntimeError`` if its star rounds
         have not converged after ``clustering._MAX_ROUNDS``), and every input
         row labeled ``(id, rep_id, keep)`` with keep=1 iff the row is
         its cluster's representative.

    Recall caveat (same as published SemDeDup): near-duplicates whose
    vectors land in different coarse cells are not compared — raise
    ``n_centroids`` quality by training the quantizer
    (``centroid_algo='kmeans'``) rather than by shrinking cells.  The
    memory bound of stage 3 is ``cell_cap * dim * 4`` bytes per
    aggregation buffer (the vector payload), so keep ``cell_cap`` in
    the low thousands for wide vectors.  Deterministic for a fixed
    input set under the default hash quantizer."""
    from .dedup import grouped_bucket_pairs

    def _pairs(reps: DataFrame) -> DataFrame:
        cents = ivf_centroids(
            reps, "id", "vec", n_centroids, algo=centroid_algo, seed=seed
        )
        cells = ivf_assign(reps, "id", "vec", cents=cents)
        stacked = cells.select("id", "vec", F.col("cell").alias("bucket"))
        cand = grouped_bucket_pairs(
            stacked, cell_cap, payload_col="vec", distinct=False
        )
        return cand.filter(
            cosine(F.col("vec_a"), F.col("vec_b")) >= F.lit(float(threshold))
        ).select("id_a", "id_b")

    return _keep_one_dedup(
        emb, id_col, vec_col, _pairs, storage, checkpoint_dir
    )


def embedding_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    plane_scheme: str = "md5",
    bucket_cap: int = 5000,
    storage: str | None = "MEMORY_AND_DISK",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end embedding near-duplicate removal — the vector-space
    twin of ``dedup.near_dedup``: keep one representative per cluster of
    cosine-similar embeddings.

    Stages:
      1. exact collapse — byte-identical vectors (re-encoded copies,
         boilerplate pages embedded twice) map to the min id of their
         value group with one hash shuffle on the vector itself, BEFORE
         any LSH work (this is what keeps band buckets small: a 10M-copy
         vector would otherwise share every band),
      2. ``cosine_lsh_pairs`` over the exact representatives only
         (hyperplane-signature band equi-join + exact cosine verify,
         hot buckets capped),
      3. connected components over the verified pairs,
      4. every input vector labeled with its cluster representative
         (lexicographic-min id through BOTH collapses).

    Returns one row per input vector: ``(id, rep_id, keep)`` with
    ``keep = 1`` iff the vector is its cluster's representative
    (NULL-vec rows are singleton keeps — see ``_keep_one_dedup``).
    Deterministic for a fixed input set (md5-derived planes by default,
    so even the LSH candidate set is engine-reproducible)."""

    def _pairs(reps: DataFrame) -> DataFrame:
        return cosine_lsh_pairs(
            reps,
            "id",
            "vec",
            threshold,
            dim,
            n_planes=n_planes,
            bands=bands,
            seed=seed,
            plane_scheme=plane_scheme,
            bucket_cap=bucket_cap,
            storage=storage,
        )

    return _keep_one_dedup(
        emb, id_col, vec_col, _pairs, storage, checkpoint_dir
    )
