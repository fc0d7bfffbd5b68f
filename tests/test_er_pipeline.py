"""End-to-end ER golden tests (FIXTURES.md F4): planted duplicate
clusters -> resolve -> pairwise F1 >= 0.99 vs truth, byte-identical
text pass-through, deterministic + resumable output."""

import pytest
from pyspark.sql import functions as F

from orchid_fst_spark.er import (
    connected_components,
    pairwise_f1,
    resolve,
)
from orchid_fst_spark.sources.fixtures import gen_pages

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

#: Spark jobs one ``resolve`` call may run on ``pages_and_truth``:
#: measured 16 in 8 of 8 calls at local[4], 8 shuffle partitions, plus
#: the one job by which repeated calls were seen to differ
RESOLVE_JOB_BUDGET = 17

#: Spark jobs ``connected_components`` plus a collect may run on the
#: shuffled 64-node path, finished on the driver (CC_JOB_BUDGET: the
#: round-0 cut's shuffle and checkpoint jobs, and the collect; 3 in 3 of
#: 3 calls) and in star rounds with the driver budget at 0
#: (CC_SPARK_JOB_BUDGET: 52 in 6 of 6), at local[4], 8 shuffle partitions
CC_JOB_BUDGET = 3
CC_SPARK_JOB_BUDGET = 52


@pytest.fixture
def cc_budgets(monkeypatch):
    """Iterate a connected-components check over both sides of the
    driver budget: the default (small graphs finish on the driver),
    then 0 (every graph takes the star rounds)."""
    from orchid_fst_spark.er import clustering

    def budgets():
        for budget in (clustering._DRIVER_MAX_EDGES, 0):
            monkeypatch.setattr(clustering, "_DRIVER_MAX_EDGES", budget)
            yield budget

    return budgets


@pytest.fixture(scope="module")
def pages_and_truth(spark):
    pages, truth = gen_pages(n_clusters=150, seed=42)
    pdf = spark.createDataFrame(pages, PAGES_SCHEMA).cache()
    tdf = spark.createDataFrame(truth, "url string, cluster_id long").cache()
    return pdf, tdf


def test_connected_components_chain_and_star(spark, cc_budgets):
    # chain a-b-c-d plus isolated pair x-y: CC must label by min node
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("d", "d")],
        "src string, dst string",
    )
    for budget in cc_budgets():
        got = {
            (r.node, r.component) for r in connected_components(edges).collect()
        }
        assert got == {
            ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("x", "x"), ("y", "x"),
        }, budget


def test_connected_components_long_chain(spark, cc_budgets):
    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    for budget in cc_budgets():
        comps = connected_components(edges).collect()
        assert {r.component for r in comps} == {"n000"}, budget
        assert len(comps) == n + 1, budget


def test_connected_components_bigint_ids(spark, cc_budgets):
    # dedup passes bigint ids: the node column keeps the input's type,
    # and numeric order (not string order: 9 < 10) picks the label
    edges = spark.createDataFrame(
        [(10, 9), (9, 100), (7, 7), (-3, 2**40), (2**40, 5)], "src bigint, dst bigint"
    )
    for budget in cc_budgets():
        out = connected_components(edges)
        assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"
        got = {(r.node, r.component) for r in out.collect()}
        assert got == {
            (9, 9), (10, 9), (100, 9), (-3, -3), (2**40, -3), (5, -3),
        }, budget


def test_connected_components_code_point_order(spark, cc_budgets):
    # U+FFFF sorts below U+1F600 by code point (Spark's UTF-8 byte
    # order) but above it in UTF-16 units; both paths pick U+FFFF
    hi, astral = "a\uffff", "a\U0001F600"
    edges = spark.createDataFrame(
        [(astral, hi), (astral, "b"), ("c", astral + "x")], "src string, dst string"
    )
    for budget in cc_budgets():
        got = {r.node: r.component for r in connected_components(edges).collect()}
        assert got == {v: hi for v in (hi, astral, "b")} | {
            "c": astral + "x", astral + "x": astral + "x"
        }, budget


def test_connected_components_long_shuffled_path(spark):
    # the driver finish on one shuffled 12,000-node path: pointer
    # jumping has to collapse a component whose ids are in random order
    # along it (the case plain min-label propagation needs O(length)
    # sweeps for)
    import random

    ids = [f"p{i:05d}" for i in range(12_000)]
    random.Random(11).shuffle(ids)
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), "src string, dst string")
    rows = connected_components(edges).collect()
    assert len(rows) == len(ids)
    assert {r.component for r in rows} == {"p00000"}


def _shuffled_path_edges(spark):
    import random

    ids = [f"n{i:03d}" for i in range(64)]
    random.Random(5).shuffle(ids)
    return spark.createDataFrame(list(zip(ids, ids[1:])), "src string, dst string")


def test_connected_components_unconverged_raises(spark, monkeypatch):
    # a shuffled 64-node path needs several star rounds; one round
    # leaves the edge set changing, and the labels read off it would
    # split the single component, so the call must fail instead (with
    # the driver budget at 0, or the path would finish on the driver)
    from orchid_fst_spark.er import clustering

    edges = _shuffled_path_edges(spark)
    monkeypatch.setattr(clustering, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(clustering, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        connected_components(edges)


def test_connected_components_job_budget(spark, cc_budgets):
    # one job group around the call and its collect.  Under the driver
    # budget: the round-0 cut and the edges' collect, and the labels
    # come back as a local relation.  With the budget at 0: each star
    # round is its cut's jobs only (convergence reads the rows and
    # digest the cut observed), and the labels need no closing aggregate
    edges = _shuffled_path_edges(spark).localCheckpoint(eager=True)
    sc = spark.sparkContext
    for budget, limit in zip(cc_budgets(), (CC_JOB_BUDGET, CC_SPARK_JOB_BUDGET)):
        group = f"test_cc_job_budget_{budget}"
        sc.setJobGroup(group, "connected_components")
        try:
            rows = connected_components(edges).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs <= limit, (budget, n_jobs)
        assert {r.component for r in rows} == {"n000"} and len(rows) == 64


def _random_graph(seed: int):
    """Edges of shuffled paths, hubs and disjoint pairs over random
    ids, plus duplicate and reversed edges and self loops on graph
    nodes; returns (edges, {node: lexicographic min of its component})
    from a pure-Python union-find."""
    import random

    rng = random.Random(seed)
    ids = [f"v{x:05d}" for x in rng.sample(range(100_000), 400)]
    it = iter(ids)
    edges = []
    for _ in range(4):  # shuffled paths
        path = [next(it) for _ in range(rng.randint(2, 40))]
        edges += list(zip(path, path[1:]))
    for _ in range(3):  # hubs
        hub = next(it)
        edges += [(hub, next(it)) for _ in range(rng.randint(1, 30))]
    for _ in range(20):  # disjoint pairs
        edges.append((next(it), next(it)))
    nodes = sorted({v for e in edges for v in e})
    edges += rng.sample(edges, 15)  # duplicates
    edges += [(b, a) for a, b in rng.sample(edges, 15)]  # reversed
    edges += [(v, v) for v in rng.sample(nodes, 10)]  # self loops
    rng.shuffle(edges)

    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return edges, {v: find(v) for v in nodes}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_matches_union_find(spark, tmp_path, seed, cc_budgets):
    # exactly one row per endpoint, labelled by its component's
    # lexicographic minimum, on both sides of the driver budget; the
    # second run of each takes the parquet cut path
    edges, expected = _random_graph(seed)
    df = spark.createDataFrame(edges, "src string, dst string")
    for budget in cc_budgets():
        for ck in (None, str(tmp_path / f"cc{budget}")):
            rows = connected_components(df, checkpoint_dir=ck).collect()
            assert len(rows) == len(expected), (budget, ck)
            assert {r.node: r.component for r in rows} == expected, (budget, ck)


def test_star_clusters_hand_graph(spark):
    # hub h with satellites s1..s3, a path a-b-c-d, and a lone edge x-y.
    # local-max centers: h (deg 3), b (deg 2, beats a and ties c broken
    # by id), x (deg 1, beats y by id).  d has no adjacent center ->
    # stays a singleton (the documented no-chaining trade).
    from orchid_fst_spark.er import star_clusters

    edges = spark.createDataFrame(
        [("h", "s1"), ("h", "s2"), ("h", "s3"),
         ("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string",
    )
    got = {(r.node, r.center) for r in star_clusters(edges).collect()}
    assert got == {
        ("h", "h"), ("s1", "h"), ("s2", "h"), ("s3", "h"),
        ("a", "b"), ("b", "b"), ("c", "b"), ("d", "d"),
        ("x", "x"), ("y", "x"),
    }


def test_star_clusters_no_chaining_vs_cc(spark):
    # one spurious bridge edge chains two hubs under CC; star clustering
    # keeps the two entities separate (the bridge endpoints each attach
    # to their own hub) — the reason the ER literature evaluates star
    # against transitive closure.
    edges = [("h1", f"a{i}") for i in range(4)] + [
        ("h2", f"b{i}") for i in range(4)
    ] + [("a0", "b0")]  # the bad edge
    df = spark.createDataFrame(edges, "src string, dst string")
    from orchid_fst_spark.er import star_clusters

    cc = connected_components(df)
    assert cc.select("component").distinct().count() == 1  # CC chains
    stars = {(r.node, r.center) for r in star_clusters(df).collect()}
    centers = {c for _, c in stars}
    assert centers == {"h1", "h2"}  # two entities survive
    assert ("a0", "h1") in stars and ("b0", "h2") in stars


def test_star_clusters_centers_never_adjacent(spark):
    # star property on a random-ish deterministic graph: no edge joins
    # two centers, and every assignment is center==self or an adjacent
    # center
    import itertools
    import zlib

    nodes = [f"n{i:02d}" for i in range(24)]
    edges = [
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if zlib.crc32((a + b).encode()) % 7 == 0
    ]
    from orchid_fst_spark.er import star_clusters

    df = spark.createDataFrame(edges, "src string, dst string")
    assign = {r.node: r.center for r in star_clusters(df).collect()}
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    deg = {v: len(us) for v, us in adj.items()}
    rank = lambda n: (-deg[n], n)  # noqa: E731
    centers = {v for v in adj if all(rank(v) < rank(u) for u in adj[v])}
    for a, b in edges:
        assert not (a in centers and b in centers), (a, b)  # star property
    expected = {
        v: (
            v
            if v in centers
            else min(
                (u for u in adj[v] if u in centers), key=rank, default=v
            )
        )
        for v in adj
    }
    assert assign == expected


def _pivot_replica(edges, rounds=8, seed="pivot"):
    """Pure-Python round-synchronous KwikCluster under the md5 order —
    the exact contract of er.clustering.pivot_clusters."""
    import hashlib

    pi = lambda v: hashlib.md5(f"{seed}|{v}".encode()).hexdigest()  # noqa: E731
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    out = {}
    cur = {v: set(us) for v, us in adj.items()}
    for _ in range(rounds):
        cur = {v: us for v, us in cur.items() if us}
        if not cur:
            break
        pivots = {v for v, us in cur.items() if pi(v) < min(pi(u) for u in us)}
        newly = {p: p for p in pivots}
        for v, us in cur.items():
            if v in pivots:
                continue
            adjacent = [p for p in us if p in pivots]
            if adjacent:
                newly[v] = min(adjacent, key=pi)
        out.update(newly)
        gone = set(newly)
        cur = {
            v: {u for u in us if u not in gone}
            for v, us in cur.items()
            if v not in gone
        }
    for v in adj:
        out.setdefault(v, v)
    return out, adj, pi


def _crc_graph(n=24, mod=7):
    import itertools
    import zlib

    nodes = [f"n{i:02d}" for i in range(n)]
    return [
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if zlib.crc32((a + b).encode()) % mod == 0
    ]


def test_pivot_clusters_matches_replica(spark):
    from orchid_fst_spark.er.clustering import pivot_clusters

    edges = _crc_graph()
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.node, r.cluster) for r in pivot_clusters(df).collect()}
    expected, _, _ = _pivot_replica(edges)
    assert got == set(expected.items())


def test_pivot_clusters_radius1_and_center_independence(spark):
    # every cluster is a pivot plus direct neighbors (radius 1), and no
    # edge joins two distinct cluster centers (pivots form an
    # independent set — the KwikCluster invariant star/CC lack)
    from orchid_fst_spark.er.clustering import pivot_clusters

    edges = _crc_graph(n=30, mod=5)
    df = spark.createDataFrame(edges, "src string, dst string")
    assign = {r.node: r.cluster for r in pivot_clusters(df).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert set(assign) == set(adj)
    for v, c in assign.items():
        assert c == v or c in adj[v], (v, c)  # radius 1
    centers = set(assign.values())
    for a, b in edges:
        assert not (a in centers and b in centers and a != b), (a, b)


def test_pivot_set_equals_sequential_greedy(spark):
    # the BFS'12 claim in the docstring: iterated local minima == the
    # lexicographically-first (under pi) sequential KwikCluster pivots
    from orchid_fst_spark.er.clustering import pivot_clusters

    edges = _crc_graph(n=40, mod=9)
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = pivot_clusters(df).collect()
    parallel_pivots = {r.cluster for r in rows}
    _, adj, pi = _pivot_replica(edges)
    sequential_pivots, clustered = set(), set()
    for v in sorted(adj, key=pi):
        if v in clustered:
            continue
        sequential_pivots.add(v)
        clustered.add(v)
        clustered |= adj[v]
    assert parallel_pivots == sequential_pivots


def test_resolve_f1(spark, pages_and_truth):
    pages, truth = pages_and_truth
    pred = resolve(pages, k=2, damerau=True)
    m = pairwise_f1(pred, truth)
    assert m["f1"] >= 0.99, m
    assert m["precision"] == 1.0, m  # separation guarantee -> no false merges


def test_text_byte_identical(spark, pages_and_truth):
    pages, _ = pages_and_truth
    pred = resolve(pages, k=2)
    joined = pages.alias("p").join(pred.alias("r"), "url")
    # text column is carried from the source only; verify pass-through by
    # re-joining and comparing to the original values
    n_bad = (
        joined.join(pages.select("url", F.col("text").alias("text0")), "url")
        .filter(F.col("text") != F.col("text0"))
        .count()
    )
    assert n_bad == 0
    assert pred.count() == pages.count()


def test_resolve_deterministic(spark, pages_and_truth):
    pages, _ = pages_and_truth
    a = sorted((r.url, r.cluster_id) for r in resolve(pages, k=2).collect())
    b = sorted((r.url, r.cluster_id) for r in resolve(pages, k=2).collect())
    assert a == b


def test_resolve_checkpoint_resume(spark, pages_and_truth, tmp_path):
    pages, truth = pages_and_truth
    ck = str(tmp_path / "ck")
    first = sorted(
        (r.url, r.cluster_id)
        for r in resolve(pages, k=2, checkpoint_dir=ck).collect()
    )
    # resumed run must reuse every stage and reproduce identical output
    resumed = sorted(
        (r.url, r.cluster_id)
        for r in resolve(pages, k=2, checkpoint_dir=ck, resume=True).collect()
    )
    assert first == resumed
    metrics = spark.read.parquet(f"{ck}/metrics")
    rows = {r.stage: r.resumed for r in metrics.collect()}
    assert rows["candidate_pairs"] is True
    assert rows["match_edges"] is True


def test_resolve_job_budget(spark, pages_and_truth):
    # without a checkpoint_dir, resolve runs no job beyond its stage
    # cuts and the component rounds: no per-stage row counts
    pages, _ = pages_and_truth
    pages.count()  # materialize the cached input outside the group
    sc = spark.sparkContext
    sc.setJobGroup("test_resolve_job_budget", "resolve")
    try:
        out = resolve(pages, k=2, damerau=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("test_resolve_job_budget"))
    assert n_jobs <= RESOLVE_JOB_BUDGET, n_jobs
    assert out.count() == pages.count()


def test_candidate_pairs_caps_with_window(spark, pages_and_truth):
    """The passjoin index drops hot signatures through ``drop_hot``'s
    count window, not a hot-set aggregate and anti-join."""
    from orchid_fst_spark.er.blocking import candidate_pairs, normalize_pages

    pages, _ = pages_and_truth
    plan = (
        candidate_pairs(normalize_pages(pages))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    assert "LeftAnti" not in plan


def test_sig_cap_observable_recall_loss(spark, pages_and_truth):
    pages, truth = pages_and_truth
    # deletes scheme: cap=1 drops every shared signature -> recall 0
    pred = resolve(pages, k=2, sig_cap=1, algo="deletes")
    m = pairwise_f1(pred, truth)
    assert m["recall"] == 0.0
    # passjoin: cap=1 drops every multi-key index group; only pairs with
    # a singleton index group (unequal lengths) can survive -> recall
    # strictly below the uncapped run, never silently complete
    pred_pj = resolve(pages, k=2, sig_cap=1, algo="passjoin")
    full = resolve(pages, k=2, algo="passjoin")
    m_pj = pairwise_f1(pred_pj, truth)
    m_full = pairwise_f1(full, truth)
    assert m_pj["recall"] < m_full["recall"]


# --- evaluation operators (er/evaluate.py) ---


def test_pair_metrics_hand_counts(spark):
    from orchid_fst_spark.er import pair_metrics

    # predicted: (a,b) (a,c) (b,d) + a duplicate + a reversed re-emit +
    # a self pair (all must be canonicalized away)
    pred = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("b", "a"), ("a", "c"), ("e", "e")],
        "key_a string, key_b string",
    )
    truth = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("c", "d")], "key_a string, key_b string"
    )
    m = pair_metrics(pred, truth).collect()[0]
    # tp = {(a,b),(b,d)}, fp = {(a,c)}, fn = {(c,d)}
    assert (m.tp, m.fp, m.fn) == (2, 1, 1)
    assert m.precision == round(2 / 3, 6)
    assert m.recall == round(2 / 3, 6)
    assert m.f1 == round(2 / 3, 6)


def test_pair_metrics_empty_sides(spark):
    from orchid_fst_spark.er import pair_metrics

    pairs = spark.createDataFrame(
        [("a", "b")], "key_a string, key_b string"
    )
    empty = pairs.filter(F.lit(False))
    m = pair_metrics(empty, pairs).collect()[0]
    assert (m.tp, m.fp, m.fn) == (0, 0, 1)
    assert (m.precision, m.recall, m.f1) == (1.0, 0.0, 0.0)
    m2 = pair_metrics(pairs, empty).collect()[0]
    assert (m2.precision, m2.recall, m2.f1) == (0.0, 1.0, 0.0)
    m3 = pair_metrics(empty, empty).collect()[0]
    assert (m3.precision, m3.recall) == (1.0, 1.0)


def test_clustering_pair_metrics_matches_pairwise_f1(spark):
    from orchid_fst_spark.er import clustering_pair_metrics

    # pred merges {1,2,3} and {4,5}; truth has {1,2} {3,4} {5}
    pred = spark.createDataFrame(
        [(str(i), c) for i, c in [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y")]],
        "url string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [(str(i), c) for i, c in [(1, "p"), (2, "p"), (3, "q"), (4, "q"), (5, "r")]],
        "url string, cluster_id string",
    )
    m = clustering_pair_metrics(pred, truth).collect()[0]
    d = pairwise_f1(pred, truth)
    assert m.tp == d["tp_pairs"]
    assert m.pred_pairs == d["pred_pairs"]
    assert m.true_pairs == d["true_pairs"]
    assert m.precision == round(d["precision"], 6)
    assert m.recall == round(d["recall"], 6)
    assert m.f1 == round(d["f1"], 6)
    # hand check: pred pairs 3+1=4, true pairs 1+1=2, tp = {(1,2)} = 1
    assert (m.tp, m.pred_pairs, m.true_pairs) == (1, 4, 2)


def test_blocking_quality_hand_counts(spark):
    from orchid_fst_spark.er import blocking_quality

    records = spark.createDataFrame(
        [("aa",), ("ab",), ("ba",), ("bb",)], "key string"
    )
    # block on first char: candidates (aa,ab) and (ba,bb)
    blocked = records.select("key", F.substring("key", 1, 1).alias("blk"))
    cands = (
        blocked.alias("a")
        .join(blocked.alias("b"), "blk")
        .filter(F.col("a.key") < F.col("b.key"))
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
    )
    truth = spark.createDataFrame(
        [("aa", "ab"), ("aa", "ba"), ("ab", "bb")],
        "key_a string, key_b string",
    )
    m = blocking_quality(cands, truth, records).collect()[0]
    assert (m.n_records, m.n_candidates, m.n_truth, m.tp) == (4, 2, 3, 1)
    assert m.pair_completeness == round(1 / 3, 6)
    # 4C2 = 6 total pairs, 2 candidates -> rr = 1 - 2/6
    assert m.reduction_ratio == round(1 - 2 / 6, 6)


# --- incremental resolution (er/incremental.py) ---


def test_incremental_equals_full_rerun(spark, pages_and_truth):
    from orchid_fst_spark.er import incremental_resolve, resolve

    pages, _ = pages_and_truth
    # deterministic batch split on the url hash
    is_old = F.substring(F.md5("url"), 1, 1) < "c"
    old_pages, new_pages = pages.filter(is_old), pages.filter(~is_old)
    assert new_pages.count() > 0 and old_pages.count() > 0
    base = resolve(old_pages, k=2)
    inc = incremental_resolve(base, new_pages, k=2)
    full = resolve(pages, k=2)
    got = {(r.url, r.norm_key, r.cluster_id) for r in inc.collect()}
    exp = {(r.url, r.norm_key, r.cluster_id) for r in full.collect()}
    assert got == exp


def test_incremental_bridges_old_clusters(spark):
    from orchid_fst_spark.er import incremental_components

    # old clustering: {aaaa}, {aaddd? } two singletons far apart that a
    # new key connects: "aaaa" and "aacc" are dist 2 from "aaac"/"aacc"?
    # use: old keys "aaaa" and "aabb" (dist 2 from each other is 2 —
    # keep them unlinked by choosing dist 4): "aaaa" and "bbbb".
    resolved = spark.createDataFrame(
        [("u1", "aaaa", "aaaa"), ("u2", "bbbb", "bbbb")],
        "url string, norm_key string, cluster_id string",
    )
    # "aabb" is dist 2 from both -> bridges the two old clusters
    new = spark.createDataFrame([("aabb",)], "norm_key string")
    out = {
        (r.norm_key, r.cluster_id)
        for r in incremental_components(resolved, new, k=2).collect()
    }
    assert out == {("aaaa", "aaaa"), ("bbbb", "aaaa"), ("aabb", "aaaa")}


def test_incremental_rerun_idempotent_on_duplicate_key(spark):
    from orchid_fst_spark.er import incremental_components

    resolved = spark.createDataFrame(
        [("u1", "spark", "spark")],
        "url string, norm_key string, cluster_id string",
    )
    new = spark.createDataFrame([("spark",), ("spork",)], "norm_key string")
    out = {
        (r.norm_key, r.cluster_id)
        for r in incremental_components(resolved, new, k=2).collect()
    }
    assert out == {("spark", "spark"), ("spork", "spark")}


def test_fs_match_weights_hand_computed(spark):
    import math

    from orchid_fst_spark.er.scoring import fs_match_weights, score_pairs

    # identical tokens -> all three features agree; far pair -> none
    pairs = spark.createDataFrame(
        [("spark", "spark", 0), ("spark", "zzzz-qq", 2)],
        "key_a string, key_b string, dist long",
    )
    got = {r.key_b: r for r in fs_match_weights(score_pairs(pairs)).collect()}
    all_agree = (
        math.log2(0.9 / 0.01) + math.log2(0.85 / 0.02) + math.log2(0.8 / 0.05)
    )
    none_agree = (
        math.log2(0.1 / 0.99) + math.log2(0.15 / 0.98) + math.log2(0.2 / 0.95)
    )
    assert got["spark"].fs_weight == round(all_agree, 6)
    assert got["spark"].agree_dist and got["spark"].agree_jw
    far = got["zzzz-qq"]
    assert far.fs_weight == round(none_agree, 6)
    assert not (far.agree_dist or far.agree_jw or far.agree_jaccard)


def test_fs_match_weights_rejects_bad_priors(spark):
    from orchid_fst_spark.er.scoring import fs_match_weights, score_pairs

    pairs = spark.createDataFrame(
        [("a", "a", 0)], "key_a string, key_b string, dist long"
    )
    scored = score_pairs(pairs)
    with pytest.raises(ValueError):
        fs_match_weights(scored, [("x", F.col("dist") <= 1, 0.5, 0.9)])


def test_fs_em_train_recovers_planted_populations(spark):
    from orchid_fst_spark.er.scoring import fs_em_train, score_pairs

    # 40 identical pairs (true matches: every feature agrees) + 160 far
    # pairs (non-matches: nothing agrees) — EM must find a high-m/low-u
    # split per feature, lam near 0.2, and a posterior that separates
    # the two patterns by construction
    rows = [("spark", "spark", 0)] * 40 + [("spark", "zzzz-qq", 2)] * 160
    pairs = spark.createDataFrame(
        rows, "key_a string, key_b string, dist long"
    )
    params, patterns = fs_em_train(score_pairs(pairs), iters=10)
    assert 0.15 <= params["lam"] <= 0.25
    for name in ("dist", "jw", "jaccard"):
        m, u = params[name]
        assert m > 0.9 and u < 0.1, f"{name}: m={m} u={u}"
    by_pat = {
        (r.agree_dist, r.agree_jw, r.agree_jaccard): r
        for r in patterns.collect()
    }
    assert by_pat[(True, True, True)].posterior > 0.99
    assert by_pat[(False, False, False)].posterior < 0.01
    assert by_pat[(True, True, True)].n_pairs == 40


def test_fs_em_train_partitioning_invariant(spark):
    from orchid_fst_spark.er.scoring import fs_em_train, score_pairs

    rows = (
        [("spark", "spark", 0)] * 7
        + [("spark", "spork", 1)] * 5
        + [("spark", "zzzz-qq", 2)] * 30
    )
    pairs = spark.createDataFrame(
        rows, "key_a string, key_b string, dist long"
    )
    p1, _ = fs_em_train(score_pairs(pairs), iters=10)
    p8, _ = fs_em_train(score_pairs(pairs).repartition(8), iters=10)
    assert p1 == p8  # exact: the sufficient statistic is integer counts


def test_fs_em_train_feeds_fs_match_weights(spark):
    from orchid_fst_spark.er.scoring import (
        default_fs_features,
        fs_em_train,
        fs_match_weights,
        score_pairs,
    )

    rows = [("spark", "spark", 0)] * 10 + [("spark", "zzzz-qq", 2)] * 40
    scored = score_pairs(
        spark.createDataFrame(rows, "key_a string, key_b string, dist long")
    )
    params, _ = fs_em_train(scored, iters=10)
    from orchid_fst_spark.er.scoring import trained_fs_features

    feats = trained_fs_features(params)
    assert [f[0] for f in feats] == [n for n, _ in default_fs_features()]
    w = {r.key_b: r.fs_weight for r in fs_match_weights(scored, feats).collect()}
    assert w["spark"] > 0 > w["zzzz-qq"]


def test_trained_fs_features_drops_uninformative(spark):
    from orchid_fst_spark.er.scoring import trained_fs_features

    # jaccard degenerated to the clamp floor on both sides (a corpus
    # where the feature never agrees) -> dropped, informative ones kept
    params = {
        "lam": 0.1,
        "dist": (0.9, 0.05),
        "jw": (0.8, 0.1),
        "jaccard": (1e-06, 1e-06),
    }
    feats = trained_fs_features(params)
    assert [f[0] for f in feats] == ["dist", "jw"]
    with pytest.raises(ValueError):
        trained_fs_features({"lam": 0.1, "dist": (1e-06, 1e-06)},
                            [("dist", F.col("dist") <= 1)])


def test_fs_em_train_rejects_empty(spark):
    from orchid_fst_spark.er.scoring import fs_em_train, score_pairs

    empty = spark.createDataFrame(
        [], "key_a string, key_b string, dist long"
    )
    with pytest.raises(ValueError):
        fs_em_train(score_pairs(empty))


def test_mutual_best_pairs_hand_built(spark):
    from orchid_fst_spark.er.scoring import mutual_best_pairs

    # a-b strongest reciprocal pair; c's best is b, but b's best is a,
    # so (b, c) is NOT mutual; d-e isolated reciprocal pair
    pairs = spark.createDataFrame(
        [
            ("a", "b", 0.95),
            ("b", "c", 0.90),
            ("a", "c", 0.10),
            ("d", "e", 0.80),
        ],
        "key_a string, key_b string, jw double",
    )
    got = {
        (r.key_a, r.key_b): r.score
        for r in mutual_best_pairs(pairs).collect()
    }
    assert got == {("a", "b"): 0.95, ("d", "e"): 0.8}


def test_mutual_best_pairs_tie_breaks_lexicographic(spark):
    from orchid_fst_spark.er.scoring import mutual_best_pairs

    # x ties between m and z: the lexicographically smaller partner (m)
    # wins deterministically, and m reciprocates
    pairs = spark.createDataFrame(
        [("x", "z", 0.9), ("m", "x", 0.9)],
        "key_a string, key_b string, jw double",
    )
    got = [(r.key_a, r.key_b) for r in mutual_best_pairs(pairs).collect()]
    assert got == [("m", "x")]


def test_weight_threshold_sweep_hand_counts(spark):
    from orchid_fst_spark.er.evaluate import weight_threshold_sweep

    weighted = spark.createDataFrame(
        [
            ("a", "b", 10.0),  # true
            ("c", "d", 10.0),  # false
            ("e", "f", 5.0),   # true
            ("g", "h", -3.0),  # false
        ],
        "key_a string, key_b string, fs_weight double",
    )
    truth = spark.createDataFrame(
        [("a", "b"), ("e", "f"), ("p", "q")],  # p-q never predicted -> FN
        "key_a string, key_b string",
    )
    rows = {
        r.threshold: r
        for r in weight_threshold_sweep(weighted, truth).collect()
    }
    assert set(rows) == {10.0, 5.0, -3.0}
    top = rows[10.0]
    assert (top.n_pred, top.tp) == (2, 1)
    assert top.precision == 0.5 and top.recall == round(1 / 3, 6)
    mid = rows[5.0]
    assert (mid.n_pred, mid.tp) == (3, 2)
    assert mid.recall == round(2 / 3, 6)
    bot = rows[-3.0]
    assert (bot.n_pred, bot.tp) == (4, 2)
    assert bot.precision == 0.5 and bot.recall == round(2 / 3, 6)


def test_fs_em_match_edges_planted(spark):
    from orchid_fst_spark.er.scoring import fs_em_match_edges, score_pairs

    # near-identical pairs form the match class; far pairs the other —
    # the Bayes rule at 0.5 must keep exactly the near pairs
    near = [(f"key{i:02d}a", f"key{i:02d}b", 1) for i in range(10)]
    far = [(f"key{i:02d}a", "zzz-qq", 2) for i in range(10, 50)]
    scored = score_pairs(
        spark.createDataFrame(
            near + far, "key_a string, key_b string, dist long"
        )
    )
    got = {
        (r.key_a, r.key_b) for r in fs_em_match_edges(scored).collect()
    }
    assert got == {(a, b) for a, b, _ in near}


def test_golden_records_hand_built(spark):
    from orchid_fst_spark.er.clustering import golden_records

    df = spark.createDataFrame(
        [
            ("c1", "short", 10),
            ("c1", "longest-text", 5),
            ("c1", "mid", 99),
            ("c2", "only", 1),
        ],
        "component string, text string, quality long",
    )
    # quality wins, tie broken by text length
    got = {
        r.component: (r.text, r.n_members)
        for r in golden_records(
            df, prefer=[F.col("quality"), F.length("text")]
        ).collect()
    }
    assert got == {"c1": ("mid", 3), "c2": ("only", 1)}


def test_golden_records_partitioning_invariant(spark):
    from orchid_fst_spark.er.clustering import golden_records

    rows = [("c", f"k{i:03d}", i % 7) for i in range(100)]
    df = spark.createDataFrame(rows, "component string, key string, q long")
    prefer = [F.col("q"), F.col("key")]
    a = golden_records(df, prefer=prefer).collect()
    b = golden_records(df.repartition(16), prefer=prefer).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # max q = 6, largest key among q==6 is k097
    assert a[0].key == "k097"


def test_golden_records_requires_prefer(spark):
    from orchid_fst_spark.er.clustering import golden_records

    df = spark.createDataFrame([("c", "x")], "component string, key string")
    with pytest.raises(ValueError):
        golden_records(df)


def test_fs_three_way_regions(spark):
    from orchid_fst_spark.er.scoring import fs_three_way

    df = spark.createDataFrame(
        [("a", 5.0), ("b", 1.0), ("c", 0.0), ("d", -1.0), ("e", -9.0)],
        "key string, fs_weight double",
    )
    got = {
        r.key: r.decision
        for r in fs_three_way(df, upper=1.0, lower=-1.0).collect()
    }
    # boundary semantics: >= upper links, < lower non-links, else review
    assert got == {
        "a": "link", "b": "link", "c": "review",
        "d": "review", "e": "nonlink",
    }
    binary = {
        r.key: r.decision for r in fs_three_way(df, upper=0.0).collect()
    }
    assert "review" not in set(binary.values())
    with pytest.raises(ValueError):
        fs_three_way(df, upper=0.0, lower=1.0)


def test_fs_em_null_features_train_and_decide_consistently(spark):
    # a nullable custom feature: NULL evidence must coerce to False in
    # BOTH training and the decision join (a plain equi-join would
    # silently drop every pair with a missing field)
    from orchid_fst_spark.er.scoring import fs_em_match_edges, fs_em_train

    rows = (
        [("a%d" % i, "b%d" % i, True) for i in range(20)]     # matches
        + [("c%d" % i, "d%d" % i, False) for i in range(60)]  # non
        + [("n%d" % i, "m%d" % i, None) for i in range(10)]   # missing
    )
    df = spark.createDataFrame(
        rows, "key_a string, key_b string, same_phone boolean"
    )
    feats = [("phone", F.col("same_phone"))]
    params, patterns = fs_em_train(df, feats)
    # NULL pairs fold into the all-False pattern: 60 + 10 = 70
    by_pat = {r.agree_phone: r.n_pairs for r in patterns.collect()}
    assert by_pat == {True: 20, False: 70}
    edges = fs_em_match_edges(df, feats)
    got = {r.key_a for r in edges.collect()}
    # the agreeing population links; NULL pairs decide as disagreement
    # (present in the frame, not dropped before the join)
    assert got == {f"a{i}" for i in range(20)}


def test_mutual_best_self_pair_does_not_shadow(spark):
    from orchid_fst_spark.er.scoring import mutual_best_pairs

    # bipartite input where 'x' matches itself exactly on the other
    # side: the (x, x) row must not steal x's best-partner slot — the
    # real reciprocal link (x, y) survives
    pairs = spark.createDataFrame(
        [("x", "x", 1.0), ("x", "y", 0.9)],
        "key_a string, key_b string, jw double",
    )
    got = [(r.key_a, r.key_b) for r in mutual_best_pairs(pairs).collect()]
    assert got == [("x", "y")]


def test_fs_em_report_is_local(spark):
    # the pattern report must not re-plan the training aggregate: its
    # plan is a local scan of the collected rows (no Exchange, no agg)
    from orchid_fst_spark.er.scoring import fs_em_train, score_pairs

    scored = score_pairs(
        spark.createDataFrame(
            [("spark", "spark", 0)] * 3 + [("spark", "zzzz-qq", 2)] * 9,
            "key_a string, key_b string, dist long",
        )
    )
    _, patterns = fs_em_train(scored)
    plan = patterns._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "HashAggregate" not in plan


def test_golden_records_rejects_colliding_names(spark):
    from orchid_fst_spark.er.clustering import golden_records

    df = spark.createDataFrame(
        [("c", "x", 1)], "component string, n_members string, q long"
    )
    with pytest.raises(ValueError):
        golden_records(df, prefer=[F.col("q")])


def test_exact_agreement_u_hand_counts(spark):
    # u = sum(n_v^2) / n^2 over the field distribution: [aa x3, bb x1]
    # -> (9 + 1) / 16
    from orchid_fst_spark.er.scoring import exact_agreement_u

    recs = spark.createDataFrame(
        [("aa",), ("aa",), ("aa",), ("bb",), (None,)], "key string"
    )
    u = exact_agreement_u(recs, lambda c: c)
    assert u == 10.0 / 16.0


def test_fs_tf_weights_hand_math(spark):
    # records: aa x8, bb x2 (n=10); m=0.8, u=0.2 (identity field)
    #  - agree on common aa: share .8 -> log2(.8/.8) = 0
    #  - agree on rare bb:   share .2 -> log2(.8/.2) = 2
    #  - agree on UNSEEN cc: fallback share = u -> 2
    #  - disagree (incl. a NULL side): log2(.2/.8) = -2
    import math

    from orchid_fst_spark.er.scoring import fs_tf_adjusted_weights

    recs = spark.createDataFrame(
        [("aa",)] * 8 + [("bb",)] * 2, "key string"
    )
    pairs = spark.createDataFrame(
        [
            ("aa", "aa"),
            ("bb", "bb"),
            ("cc", "cc"),
            ("aa", "bb"),
            (None, "aa"),
        ],
        "key_a string, key_b string",
    )
    out = fs_tf_adjusted_weights(
        pairs, recs, lambda c: c, m=0.8, u=0.2, name="v"
    )
    got = {
        (r.key_a, r.key_b): (r.agree_v, r.w_v, r.fs_weight_tf)
        for r in out.collect()
    }
    assert got[("aa", "aa")] == (True, 0.0, 0.0)
    assert got[("bb", "bb")] == (True, 2.0, 2.0)
    assert got[("cc", "cc")] == (True, 2.0, 2.0)
    assert got[("aa", "bb")] == (False, -2.0, -2.0)
    assert got[(None, "aa")] == (False, -2.0, -2.0)
    # min_share floors the rare-value boost (Splink's tf cap)
    capped = fs_tf_adjusted_weights(
        pairs, recs, lambda c: c, m=0.8, u=0.2, name="v", min_share=0.5
    )
    w_bb = {
        (r.key_a, r.key_b): r.w_v for r in capped.collect()
    }[("bb", "bb")]
    assert w_bb == round(math.log2(0.8 / 0.5), 6)


def test_fs_tf_composes_with_fs_weight(spark):
    # fs_weight already present -> fs_weight_tf = round(fs_weight + w, 6)
    from orchid_fst_spark.er.scoring import fs_tf_adjusted_weights

    recs = spark.createDataFrame([("aa",)] * 4, "key string")
    pairs = spark.createDataFrame(
        [("aa", "aa", 1.25)], "key_a string, key_b string, fs_weight double"
    )
    out = fs_tf_adjusted_weights(
        pairs, recs, lambda c: c, m=0.8, u=0.2, name="v"
    ).collect()[0]
    # share = 1.0 -> w = log2(0.8) = -0.321928
    assert out.w_v == -0.321928
    assert out.fs_weight_tf == round(1.25 + -0.321928, 6)


def test_bcubed_hand_math(spark):
    # truth: {a,b,c} {d}; predicted: {a,b} {c,d}
    # precision: a=1, b=1, c=1/2, d=1/2 -> mean 3/4
    # recall:    a=2/3, b=2/3, c=1/3, d=1 -> mean 8/12 = 2/3
    from orchid_fst_spark.er.evaluate import bcubed_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2)], "url string, cluster_id int"
    )
    truth = spark.createDataFrame(
        [("a", 9), ("b", 9), ("c", 9), ("d", 8)], "url string, cluster_id int"
    )
    row = bcubed_metrics(pred, truth).collect()[0]
    assert row.n_records == 4
    assert row.bcubed_precision == 0.75
    assert row.bcubed_recall == round(2.0 / 3.0, 6)
    p, r = 0.75, 2.0 / 3.0
    assert row.bcubed_f1 == round(2 * p * r / (p + r), 6)


def test_bcubed_perfect_and_degenerate(spark):
    from orchid_fst_spark.er.evaluate import bcubed_metrics

    same = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "url string, cluster_id int"
    )
    row = bcubed_metrics(same, same).collect()[0]
    assert (row.bcubed_precision, row.bcubed_recall, row.bcubed_f1) == (
        1.0,
        1.0,
        1.0,
    )
    # all-in-one prediction vs all-singleton truth: precision = mean of
    # 1/n = 1/3, recall = 1 (each truth cluster is fully inside C(r))
    lump = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "url string, cluster_id int"
    )
    split = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "url string, cluster_id int"
    )
    row = bcubed_metrics(lump, split).collect()[0]
    assert row.bcubed_precision == round(1.0 / 3.0, 6)
    assert row.bcubed_recall == 1.0


def _rswoosh_py(recs):
    """Sequential textbook R-Swoosh (Benjelloun et al. VLDBJ'09) under
    the union-merge / conjunctive-overlap instance.  recs: list of
    (id, set_a, set_b).  Returns the partition as a set of frozensets
    of member ids."""
    work = [(frozenset([rid]), set(a), set(b)) for rid, a, b in recs]
    out = []
    while work:
        members, ra, rb = work.pop(0)
        buddy = None
        for s in out:
            if (ra & s[1]) and (rb & s[2]):
                buddy = s
                break
        if buddy is not None:
            out.remove(buddy)
            work.append(
                (members | buddy[0], ra | buddy[1], rb | buddy[2])
            )
        else:
            out.append((members, ra, rb))
    return {m for m, _, _ in out}


def _swoosh_partition(asg_rows):
    from collections import defaultdict

    by_ent = defaultdict(set)
    for r in asg_rows:
        by_ent[r.entity_id].add(r.id)
    return set(map(frozenset, by_ent.values()))


def test_swoosh_novelty_gadget(spark):
    # r3 matches NEITHER r1 nor r2 pairwise (A-overlap only with r1,
    # B-overlap only with r2) but matches their merge — the matches
    # cluster-based ER cannot find from pairwise edges
    from orchid_fst_spark.er.swoosh import swoosh_resolve

    recs = spark.createDataFrame(
        [
            ("r1", ["a1", "a9"], ["b1"]),
            ("r2", ["a1"], ["b1", "b2"]),
            ("r3", ["a9"], ["b2"]),
            ("r4", ["a7"], ["b1"]),  # B overlaps, A never: singleton
        ],
        "id string, a_vals array<string>, b_vals array<string>",
    )
    asg = swoosh_resolve(recs).collect()
    assert _swoosh_partition(asg) == {
        frozenset({"r1", "r2", "r3"}),
        frozenset({"r4"}),
    }
    # entity label = min member id
    assert {r.entity_id for r in asg} == {"r1", "r4"}
    # one round is NOT enough (the pairwise-evidence round only finds
    # r1-r2); the paradigm gap is exactly the second round
    one = swoosh_resolve(recs, rounds=1).collect()
    assert _swoosh_partition(one) == {
        frozenset({"r1", "r2"}),
        frozenset({"r3"}),
        frozenset({"r4"}),
    }


def test_swoosh_three_hop_chain(spark):
    # r4's evidence spans values contributed by r1 and r3, and r3 only
    # joins the entity in round 2 — the match surfaces in round 3
    from orchid_fst_spark.er.swoosh import swoosh_resolve

    recs = spark.createDataFrame(
        [
            ("r1", ["a1", "a9"], ["b1"]),
            ("r2", ["a1"], ["b1", "b2"]),
            ("r3", ["a9", "a5"], ["b2"]),
            ("r4", ["a5"], ["b1"]),
        ],
        "id string, a_vals array<string>, b_vals array<string>",
    )
    full = _swoosh_partition(swoosh_resolve(recs).collect())
    assert full == {frozenset({"r1", "r2", "r3", "r4"})}
    two = _swoosh_partition(swoosh_resolve(recs, rounds=2).collect())
    assert two == {frozenset({"r1", "r2", "r3"}), frozenset({"r4"})}
    three = _swoosh_partition(swoosh_resolve(recs, rounds=3).collect())
    assert three == full
    # fixpoint reached EXACTLY at round max_rounds: the final
    # productive round never observes an empty edge set, so the
    # convergence certificate comes from the post-loop edge check —
    # this input needs 3 productive rounds, so max_rounds=3 converges
    bounded = _swoosh_partition(
        swoosh_resolve(recs, max_rounds=3).collect()
    )
    assert bounded == full
    # genuinely unconverged still raises loudly
    with pytest.raises(RuntimeError, match="did not converge"):
        swoosh_resolve(recs, max_rounds=2)


def test_swoosh_matches_sequential_rswoosh(spark):
    # ICAR ⇒ unique fixpoint independent of merge order: the round-
    # synchronous distributed engine must equal textbook sequential
    # R-Swoosh on random inputs
    import random

    from orchid_fst_spark.er.swoosh import swoosh_resolve

    for seed in (3, 7, 11, 19):
        rng = random.Random(seed)
        recs = []
        for i in range(14):
            a = sorted(
                {f"a{rng.randint(1, 6)}" for _ in range(rng.randint(1, 3))}
            )
            b = sorted(
                {f"b{rng.randint(1, 6)}" for _ in range(rng.randint(1, 3))}
            )
            recs.append((f"r{i:02d}", a, b))
        sdf = spark.createDataFrame(
            recs, "id string, a_vals array<string>, b_vals array<string>"
        )
        got = _swoosh_partition(swoosh_resolve(sdf).collect())
        exp = _rswoosh_py([(rid, set(a), set(b)) for rid, a, b in recs])
        assert got == exp, f"seed {seed}: {got} != {exp}"


def test_swoosh_entities_union(spark):
    from orchid_fst_spark.er.swoosh import swoosh_entities, swoosh_resolve

    recs = spark.createDataFrame(
        [
            ("r1", ["a1", "a9"], ["b1"]),
            ("r2", ["a1"], ["b1", "b2"]),
            ("r3", ["a9"], ["b2"]),
            ("r4", ["a7"], ["b9"]),
        ],
        "id string, a_vals array<string>, b_vals array<string>",
    )
    asg = swoosh_resolve(recs)
    ents = {r.entity_id: r for r in swoosh_entities(recs, asg).collect()}
    assert ents["r1"].n_members == 3
    assert ents["r1"].a_vals == ["a1", "a9"]
    assert ents["r1"].b_vals == ["b1", "b2"]
    assert ents["r4"].n_members == 1
    assert ents["r4"].a_vals == ["a7"]


def test_swoosh_value_cap(spark):
    # a value shared by more entities than the cap generates no pairs
    # that round — the hot-block discipline
    from orchid_fst_spark.er.swoosh import swoosh_resolve

    recs = spark.createDataFrame(
        [
            ("r1", ["hot"], ["b1"]),
            ("r2", ["hot"], ["b1"]),
            ("r3", ["hot"], ["b1"]),
        ],
        "id string, a_vals array<string>, b_vals array<string>",
    )
    capped = _swoosh_partition(
        swoosh_resolve(recs, value_cap=2).collect()
    )
    assert capped == {frozenset({"r1"}), frozenset({"r2"}), frozenset({"r3"})}
    uncapped = _swoosh_partition(swoosh_resolve(recs).collect())
    assert uncapped == {frozenset({"r1", "r2", "r3"})}


def test_nmi_hand_math(spark):
    # same planted clusterings as the bcubed hand test:
    # truth {a,b,c}{d}, pred {a,b}{c,d}; expected values computed with
    # plain floats here — the operator's 1e-9 fixpoint truncation is
    # invisible at 1e-5
    import math as m

    from orchid_fst_spark.er.evaluate import nmi_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2)], "url string, cluster_id int"
    )
    truth = spark.createDataFrame(
        [("a", 9), ("b", 9), ("c", 9), ("d", 8)], "url string, cluster_id int"
    )
    row = nmi_metrics(pred, truth).collect()[0]
    n = 4
    h_p = m.log(n) - (2 * m.log(2) + 2 * m.log(2)) / n
    h_t = m.log(n) - (3 * m.log(3) + 1 * m.log(1)) / n
    # MI = S_cells/n - S_p/n - S_t/n + ln n, with S/n = ln n - H
    mi = (2 * m.log(2)) / n + h_p + h_t - m.log(n)
    assert row.n_records == 4 and row.n_cells == 3
    assert abs(row.h_pred - h_p) < 1e-5
    assert abs(row.h_truth - h_t) < 1e-5
    assert abs(row.mi - mi) < 1e-5
    assert abs(row.homogeneity - mi / h_t) < 1e-5
    assert abs(row.completeness - mi / h_p) < 1e-5
    assert abs(row.nmi - mi / m.sqrt(h_p * h_t)) < 1e-5
    hh, cc = mi / h_t, mi / h_p
    assert abs(row.v_measure - 2 * hh * cc / (hh + cc)) < 1e-5


def test_nmi_identical_and_degenerate(spark):
    from orchid_fst_spark.er.evaluate import nmi_metrics

    same = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "url string, cluster_id int"
    )
    row = nmi_metrics(same, same).collect()[0]
    # identical clusterings: the fixpoint identities are EXACT
    # (s_cells == s_pred == s_truth so mi_fix == hp_fix == ht_fix)
    assert (row.nmi, row.homogeneity, row.completeness, row.v_measure) == (
        1.0, 1.0, 1.0, 1.0,
    )
    # both trivial (single cluster each side): entropies 0, convention 1s
    triv = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "url string, cluster_id int"
    )
    row = nmi_metrics(triv, triv).collect()[0]
    assert (row.h_pred, row.h_truth, row.mi) == (0.0, 0.0, 0.0)
    assert (row.nmi, row.v_measure) == (1.0, 1.0)
    # all-in-one prediction vs all-singleton truth: H(pred)=0 so
    # completeness=1 by convention; MI=0 so homogeneity=0, nmi=0
    split = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "url string, cluster_id int"
    )
    row = nmi_metrics(triv, split).collect()[0]
    assert row.h_pred == 0.0 and row.h_truth > 0
    assert (row.mi, row.homogeneity, row.completeness, row.nmi) == (
        0.0, 0.0, 1.0, 0.0,
    )
    assert row.v_measure == 0.0


def test_cluster_cohesion_chain_vs_clique(spark):
    from orchid_fst_spark.er.clustering import cluster_cohesion

    asg = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("x", 2), ("y", 2), ("z", 2),
         ("solo", 3)],
        "node string, cluster_id int",
    )
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"),                    # chain (tree)
            ("x", "y"), ("y", "z"), ("x", "z"),        # clique
            ("b", "a"),                                 # dup, reversed
            ("a", "x"),                                 # cross-cluster
            ("a", "a"),                                 # self loop
        ],
        "src string, dst string",
    )
    rows = {r.cluster_id: r for r in cluster_cohesion(asg, edges).collect()}
    assert set(rows) == {1, 2}  # singleton cluster 3 excluded
    assert (rows[1].n_edges, rows[1].possible, rows[1].is_tree) == (2, 3, True)
    assert rows[1].density == round(2 / 3, 6)
    assert (rows[2].n_edges, rows[2].density, rows[2].is_tree) == (
        3,
        1.0,
        False,
    )


def test_blocking_cost_hand_counts(spark):
    from pyspark.sql import functions as F

    from orchid_fst_spark.er.evaluate import blocking_cost

    recs = spark.createDataFrame(
        [("aa1",), ("aa2",), ("aa3",), ("ab1",), (None,)], "key string"
    )
    rows = {
        r.rule: r
        for r in blocking_cost(
            recs.filter(F.col("key").isNotNull()).unionByName(recs.filter(F.col("key").isNull())),
            [
                ("prefix2", F.substring("key", 1, 2)),
                ("all", F.lit("k")),
                ("nulls", F.lit(None).cast("string")),
            ],
        ).collect()
    }
    # prefix2: aa x3 (3 comparisons) + ab x1 (0); null key excluded
    assert (rows["prefix2"].n_keyed, rows["prefix2"].n_blocks) == (4, 2)
    assert (rows["prefix2"].max_block, rows["prefix2"].comparisons) == (3, 3)
    assert rows["prefix2"].top_share == 1.0
    # single hot block: 5C2 = 10
    assert (rows["all"].n_keyed, rows["all"].comparisons) == (5, 10)
    # an all-null rule vanishes from the report
    assert "nulls" not in rows


def test_blocking_cost_rejects_bad_rules(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from orchid_fst_spark.er.evaluate import blocking_cost

    recs = spark.createDataFrame([("a",)], "key string")
    with _pytest.raises(ValueError):
        blocking_cost(recs, [])
    with _pytest.raises(ValueError):
        blocking_cost(recs, [("x", F.col("key")), ("x", F.col("key"))])


def test_ari_hand_math(spark):
    # pred: {a,b} {c,d}; truth: {a,b,c} {d}
    # n11 = 1 ((a,b)); pred_pairs = 2; true_pairs = 3; total = 6
    # n10 = 1, n01 = 2, n00 = 6 - 2 - 3 + 1 = 2
    # num = 2*(1*2 - 1*2) = 0 -> ARI exactly 0 (chance-level agreement)
    from orchid_fst_spark.er.evaluate import ari_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2)], "url string, cluster_id int"
    )
    truth = spark.createDataFrame(
        [("a", 9), ("b", 9), ("c", 9), ("d", 8)], "url string, cluster_id int"
    )
    row = ari_metrics(pred, truth).collect()[0]
    assert (row.n, row.n11, row.n10, row.n01, row.n00) == (4, 1, 1, 2, 2)
    assert row.ari == 0.0
    assert row.rand_index == 0.5  # (1 + 2) / 6


def test_ari_perfect_and_degenerate(spark):
    from orchid_fst_spark.er.evaluate import ari_metrics

    same = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "url string, cluster_id int"
    )
    assert ari_metrics(same, same).collect()[0].ari == 1.0

    # all-singletons vs all-singletons: no pair is together anywhere,
    # denominator 0 -> 1.0 by convention (no disagreement expressible)
    single = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "url string, cluster_id int"
    )
    assert ari_metrics(single, single).collect()[0].ari == 1.0

    # one lump vs all singletons: orthogonal partitions -> ARI 0
    lump = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "url string, cluster_id int"
    )
    row = ari_metrics(lump, single).collect()[0]
    assert row.ari == 0.0
    assert row.n11 == 0 and row.n10 == 3 and row.n01 == 0 and row.n00 == 0


def test_ari_matches_reference_formula(spark):
    # differential vs the classic sum-over-contingency-cells form,
    # computed in pure Python on a 12-record 3-vs-4-cluster example
    import itertools

    from orchid_fst_spark.er.evaluate import ari_metrics

    ids = [f"r{i}" for i in range(12)]
    pred_lab = [i % 3 for i in range(12)]
    truth_lab = [i % 4 for i in range(12)]
    pred = spark.createDataFrame(
        list(zip(ids, pred_lab)), "url string, cluster_id int"
    )
    truth = spark.createDataFrame(
        list(zip(ids, truth_lab)), "url string, cluster_id int"
    )

    def c2(n):
        return n * (n - 1) // 2

    pairs = list(itertools.combinations(range(12), 2))
    n11 = sum(
        1
        for i, j in pairs
        if pred_lab[i] == pred_lab[j] and truth_lab[i] == truth_lab[j]
    )
    sp = sum(1 for i, j in pairs if pred_lab[i] == pred_lab[j])
    st = sum(1 for i, j in pairs if truth_lab[i] == truth_lab[j])
    tot = c2(12)
    n10, n01 = sp - n11, st - n11
    n00 = tot - sp - st + n11
    num = 2.0 * (n11 * n00 - n10 * n01)
    den = (n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00)
    expect = round(num / den, 6)

    row = ari_metrics(pred, truth).collect()[0]
    assert (row.n11, row.n10, row.n01, row.n00) == (n11, n10, n01, n00)
    assert row.ari == expect


def test_fs_em_leveled_recovers_planted_populations(spark):
    from orchid_fst_spark.er.scoring import fs_em_train_leveled, score_pairs

    # 40 exact pairs (top level everywhere), 30 close pairs (dist 1,
    # high-but-not-exact JW), 160 far pairs (bottom levels): EM must
    # put match mass on the high levels and non-match mass on level 0,
    # and the posteriors must separate the extreme patterns
    rows = (
        [("spark", "spark", 0)] * 40
        + [("spark", "sparkk", 1)] * 30
        + [("spark", "zzzz-qq", 2)] * 160
    )
    pairs = spark.createDataFrame(
        rows, "key_a string, key_b string, dist long"
    )
    params, patterns = fs_em_train_leveled(score_pairs(pairs), iters=10)
    m_jw, u_jw = params["jw"]
    assert m_jw[2] > 0.8, params  # matches live in the top JW band
    assert u_jw[0] > 0.8, params  # non-matches in the bottom band
    pats = {
        (r.lvl_dist, r.lvl_jw, r.lvl_jaccard): r for r in patterns.collect()
    }
    best = pats[(1, 2, 2)]
    worst = pats[(0, 0, 0)]
    assert best.posterior > 0.95 and best.n_pairs == 40
    assert worst.posterior < 0.05 and worst.n_pairs == 160


def test_fs_em_leveled_partitioning_invariant(spark):
    from orchid_fst_spark.er.scoring import fs_em_train_leveled, score_pairs

    rows = (
        [("spark", "spark", 0)] * 7
        + [("spark", "sparkk", 1)] * 5
        + [("spark", "zzzz-qq", 2)] * 30
    )
    pairs = spark.createDataFrame(
        rows, "key_a string, key_b string, dist long"
    )
    p1, _ = fs_em_train_leveled(score_pairs(pairs), iters=10)
    p8, _ = fs_em_train_leveled(score_pairs(pairs).repartition(8), iters=10)
    assert p1 == p8  # exact: integer sufficient statistic


def test_fs_leveled_weights_hand_math(spark):
    import math

    from orchid_fst_spark.er.scoring import fs_leveled_weights, score_pairs

    # hand parameters with a dead level (clamped both sides -> weight
    # exactly 0) and known ratios elsewhere
    params = {
        "lam": 0.2,
        "dist": ([0.05, 0.9], [0.8, 0.1]),
        "jw": ([0.02, 1e-06, 0.9], [0.7, 1e-06, 0.05]),
        "jaccard": ([0.1, 0.3, 0.6], [0.6, 0.3, 0.1]),
    }

    def w6(m, u):
        return math.floor(math.log2(m / u) * 10**6 + 0.5) / 10**6

    scored = score_pairs(
        spark.createDataFrame(
            [("spark", "spark", 0), ("spark", "zzzz-qq", 2)],
            "key_a string, key_b string, dist long",
        )
    )
    got = {
        r.key_b: r.fs_weight
        for r in fs_leveled_weights(scored, params).collect()
    }
    # exact pair: dist lvl1, jw lvl2, jaccard lvl2
    exp_match = w6(0.9, 0.1) + w6(0.9, 0.05) + w6(0.6, 0.1)
    # far pair: all level 0
    exp_far = w6(0.05, 0.8) + w6(0.02, 0.7) + w6(0.1, 0.6)
    assert got["spark"] == exp_match
    assert got["zzzz-qq"] == exp_far
    # the dead jw level carries weight exactly 0
    assert w6(1e-06, 1e-06) == 0.0


def test_fs_leveled_weight_order_matches_posterior_order(spark):
    # partial agreement: the close pair's trained weight must land
    # strictly between the exact pair's and the far pair's — the
    # graded-evidence property the binary model cannot express
    from orchid_fst_spark.er.scoring import (
        fs_em_train_leveled,
        fs_leveled_weights,
        score_pairs,
    )

    rows = (
        [("spark", "spark", 0)] * 40
        + [("spark", "sparkk", 1)] * 30
        + [("spark", "zzzz-qq", 2)] * 160
    )
    scored = score_pairs(
        spark.createDataFrame(rows, "key_a string, key_b string, dist long")
    )
    params, _ = fs_em_train_leveled(scored, iters=10)
    w = {
        r.key_b: r.fs_weight
        for r in fs_leveled_weights(scored, params).collect()
    }
    assert w["spark"] > w["sparkk"] > w["zzzz-qq"], w


def _scored_crc_edges(n=26, mod=4):
    # deterministic scored graph with plenty of score TIES (2dp grid)
    # to exercise the lexicographic tie-break
    import itertools
    import zlib

    nodes = [f"n{i:02d}" for i in range(n)]
    return [
        (a, b, (zlib.crc32((a + "|" + b).encode()) % 100) / 100.0)
        for a, b in itertools.combinations(nodes, 2)
        if zlib.crc32((b + a).encode()) % mod == 0
    ]


def test_greedy_one_to_one_equals_sequential_greedy(spark):
    from orchid_fst_spark.er.scoring import greedy_one_to_one

    edges = _scored_crc_edges()
    df = spark.createDataFrame(edges, "key_a string, key_b string, jw double")
    got = {
        (r.key_a, r.key_b, r.score)
        for r in greedy_one_to_one(df, score_col="jw").collect()
    }
    used, exp = set(), set()
    for a, b, s in sorted(edges, key=lambda e: (-round(e[2], 6), e[0], e[1])):
        if a not in used and b not in used:
            used |= {a, b}
            exp.add((a, b, round(s, 6)))
    assert got == exp


def test_greedy_one_to_one_is_a_maximal_matching(spark):
    from orchid_fst_spark.er.scoring import greedy_one_to_one

    edges = _scored_crc_edges(n=30, mod=3)
    df = spark.createDataFrame(edges, "key_a string, key_b string, jw double")
    rows = greedy_one_to_one(df, score_col="jw").collect()
    # matching: no node appears twice
    nodes = [n for r in rows for n in (r.key_a, r.key_b)]
    assert len(nodes) == len(set(nodes))
    # maximal: every unmatched edge has a matched endpoint
    matched = set(nodes)
    for a, b, _s in edges:
        if (
            a != b
            and not any(
                (r.key_a, r.key_b) == tuple(sorted((a, b))) for r in rows
            )
        ):
            assert a in matched or b in matched, (a, b)


def test_greedy_one_to_one_beats_single_round_coverage(spark):
    # one mutual-best round strands nodes whose best partner prefers a
    # third node; the iterated form must match strictly more nodes on a
    # preference chain a-b-c-d with descending scores
    from orchid_fst_spark.er.scoring import (
        greedy_one_to_one,
        mutual_best_pairs,
    )

    edges = [("a", "b", 0.9), ("b", "c", 0.8), ("c", "d", 0.7)]
    df = spark.createDataFrame(edges, "key_a string, key_b string, jw double")
    one = mutual_best_pairs(df, score_col="jw").collect()
    assert {(r.key_a, r.key_b) for r in one} == {("a", "b")}
    full = greedy_one_to_one(df, score_col="jw").collect()
    assert {(r.key_a, r.key_b) for r in full} == {("a", "b"), ("c", "d")}


def _canopy_replica(loose, tight, seed="canopy"):
    """Sequential McCallum canopy under the md5 order — the contract of
    er.clustering.canopy_clusters (centers + overlapping members)."""
    import hashlib

    pi = lambda v: hashlib.md5(f"{seed}|{v}".encode()).hexdigest()  # noqa: E731
    ladj, tadj = {}, {}
    nodes = set()
    for a, b in loose + tight:
        if a != b:
            ladj.setdefault(a, set()).add(b)
            ladj.setdefault(b, set()).add(a)
            nodes |= {a, b}
    for a, b in tight:
        if a != b:
            tadj.setdefault(a, set()).add(b)
            tadj.setdefault(b, set()).add(a)
    pool = set(nodes)
    centers = []
    for v in sorted(nodes, key=pi):
        if v not in pool:
            continue
        centers.append(v)
        pool.discard(v)
        pool -= tadj.get(v, set())
    out = {(c, c) for c in centers}
    for c in centers:
        for v in ladj.get(c, set()):
            out.add((v, c))
    return out, set(centers)


def test_canopy_clusters_matches_sequential_replica(spark):
    from orchid_fst_spark.er.clustering import canopy_clusters

    loose = _crc_graph(n=28, mod=4)
    tight = [e for e in loose if sum(map(ord, e[0] + e[1])) % 2 == 0]
    ldf = spark.createDataFrame(loose, "src string, dst string")
    tdf = spark.createDataFrame(tight, "src string, dst string")
    got = {(r.node, r.canopy) for r in canopy_clusters(ldf, tdf).collect()}
    exp, centers = _canopy_replica(loose, tight)
    assert got == exp
    # canopies genuinely overlap on this graph (the property exclusive
    # blocking cannot express) — if not, the fixture is too sparse
    from collections import Counter

    per_node = Counter(n for n, _c in got)
    assert max(per_node.values()) >= 2


def test_canopy_centers_form_tight_mis(spark):
    # centers are a maximal independent set of the TIGHT graph: no two
    # centers tight-adjacent, every non-center tight-adjacent to a
    # center (or tight-isolated, in which case it IS a center)
    from orchid_fst_spark.er.clustering import canopy_clusters

    loose = _crc_graph(n=32, mod=3)
    tight = [e for e in loose if sum(map(ord, e[0] + e[1])) % 3 == 0]
    ldf = spark.createDataFrame(loose, "src string, dst string")
    tdf = spark.createDataFrame(tight, "src string, dst string")
    rows = canopy_clusters(ldf, tdf).collect()
    centers = {r.canopy for r in rows} & {r.node for r in rows}
    # every emitted canopy id is a center or a stranded/self singleton;
    # recompute the true center set from the replica for the MIS check
    _exp, true_centers = _canopy_replica(loose, tight)
    tadj = {}
    for a, b in tight:
        tadj.setdefault(a, set()).add(b)
        tadj.setdefault(b, set()).add(a)
    for c in true_centers:
        assert not (tadj.get(c, set()) & true_centers), c  # independent
    nodes = {n for e in loose + tight for n in e}
    for v in nodes - true_centers:
        assert tadj.get(v) and (tadj[v] & true_centers), v  # maximal
    assert centers == true_centers


def test_group_linkage_hand_math(spark):
    from orchid_fst_spark.er.scoring import group_linkage

    # groups A={a1,a2,a3}, B={b1,b2}: a1-b1 strong (0.9), a2-b1 weaker
    # (0.8, loses b1 to a1 -> not mutual), a2-b2 (0.7) mutual.
    # matched = {a1-b1 (0.9), a2-b2 (0.7)} -> sim = 1.6 / (3+2-2)
    pairs = spark.createDataFrame(
        [("a1", "b1", 0.9), ("a2", "b1", 0.8), ("a2", "b2", 0.7)],
        "key_a string, key_b string, jw double",
    )
    groups = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("a3", "A"), ("b1", "B"), ("b2", "B")],
        "key string, grp string",
    )
    rows = group_linkage(pairs, groups).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.grp_a, r.grp_b, r.n_a, r.n_b, r.matched) == ("A", "B", 3, 2, 2)
    assert r.sim == round(1.6 / 3.0, 6)


def test_group_linkage_perfect_and_tie_break(spark):
    from orchid_fst_spark.er.scoring import group_linkage

    # perfect member-for-member match at sim 1.0 -> group sim exactly 1
    pairs = spark.createDataFrame(
        [("a1", "b1", 1.0), ("a2", "b2", 1.0)],
        "key_a string, key_b string, jw double",
    )
    groups = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B")],
        "key string, grp string",
    )
    r = group_linkage(pairs, groups).collect()[0]
    assert (r.matched, r.sim) == (2, 1.0)
    # score ties break on the lexicographically smallest partner: both
    # b-members tie for a1 at 0.8 -> a1's best is b1; b2 unmatched
    pairs2 = spark.createDataFrame(
        [("a1", "b1", 0.8), ("a1", "b2", 0.8)],
        "key_a string, key_b string, jw double",
    )
    groups2 = spark.createDataFrame(
        [("a1", "A"), ("b1", "B"), ("b2", "B")], "key string, grp string"
    )
    r2 = group_linkage(pairs2, groups2).collect()[0]
    assert (r2.matched, r2.n_a, r2.n_b) == (1, 1, 2)
    assert r2.sim == round(0.8 / 2.0, 6)


def test_group_linkage_equals_greedy_matching_per_group_pair(spark):
    import zlib
    from collections import defaultdict

    from orchid_fst_spark.er.scoring import group_linkage

    # deterministic members in 3 groups with crc-derived scored pairs
    members = {f"m{i:02d}": "GABC"[1 + i % 3] for i in range(18)}
    pairs = []
    for x in members:
        for y in members:
            if x < y and members[x] != members[y] and zlib.crc32((x + y).encode()) % 3 == 0:
                pairs.append((x, y, (zlib.crc32((y + x).encode()) % 50) / 50.0))
    pdf = spark.createDataFrame(pairs, "key_a string, key_b string, jw double")
    gdf = spark.createDataFrame(
        list(members.items()), "key string, grp string"
    )
    got = {
        (r.grp_a, r.grp_b): (r.matched, r.sim)
        for r in group_linkage(pdf, gdf).collect()
    }
    # replica: sequential greedy matching per group pair under
    # (-s6, l, r); sim = sum/(n1+n2-matched)
    per_gp = defaultdict(list)
    sizes = defaultdict(int)
    for _m, g in members.items():
        sizes[g] += 1
    for x, y, s in pairs:
        gx, gy = members[x], members[y]
        (ga, gb) = (gx, gy) if gx < gy else (gy, gx)
        (l, r) = (x, y) if gx < gy else (y, x)
        per_gp[(ga, gb)].append((l, r, int(round(s, 6) * 10**6 + 0.5)))
    exp = {}
    for gp, es in per_gp.items():
        used, msum, matched = set(), 0, 0
        for l, r, s6 in sorted(es, key=lambda e: (-e[2], e[0], e[1])):
            if l not in used and r not in used:
                used |= {l, r}
                msum += s6
                matched += 1
        n1, n2 = sizes[gp[0]], sizes[gp[1]]
        exp[gp] = (matched, round(msum / (10**6 * (n1 + n2 - matched)), 6))
    assert got == exp


def test_cluster_policies_refine_connected_components(spark):
    # structural consistency across the cluster-formation menu: every
    # star / pivot cluster and every canopy lives INSIDE one connected
    # component (policies only ever split CC's transitive closure,
    # never bridge it) — and group-linkage sim stays in [0, 1]
    from collections import defaultdict

    from orchid_fst_spark.er.clustering import (
        canopy_clusters,
        pivot_clusters,
        star_clusters,
    )

    edges = _crc_graph(n=30, mod=4)
    df = spark.createDataFrame(edges, "src string, dst string")
    comp = {
        r.node: r.component for r in connected_components(df).collect()
    }
    for name, rows in (
        ("star", [(r.node, r.center) for r in star_clusters(df).collect()]),
        ("pivot", [(r.node, r.cluster) for r in pivot_clusters(df).collect()]),
        (
            "canopy",
            [
                (r.node, r.canopy)
                for r in canopy_clusters(
                    df, df.limit(len(edges) // 2)
                ).collect()
            ],
        ),
    ):
        groups = defaultdict(set)
        for node, cl in rows:
            groups[cl].add(node)
        for cl, nodes in groups.items():
            comps = {comp[n] for n in nodes}
            assert len(comps) == 1, (name, cl, comps)


def test_fs_leveled_weights_rejects_out_of_range_level(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    from orchid_fst_spark.er.scoring import fs_leveled_weights

    scored = spark.createDataFrame([(5,)], "lv int")
    params = {"bad": ([0.5, 0.5, 0.5], [0.1, 0.1, 0.1])}
    df = fs_leveled_weights(
        scored, params, features=[("bad", F.col("lv"), 3)]
    )
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)):
        df.collect()


def test_group_linkage_ignores_self_pairs(spark):
    # a key listed in two groups with an identity pair must not match
    # itself (the mutual_best_pairs hazard, now guarded here too)
    from orchid_fst_spark.er.scoring import group_linkage

    pairs = spark.createDataFrame(
        [("x", "x", 1.0), ("x", "b1", 0.6)],
        "key_a string, key_b string, jw double",
    )
    groups = spark.createDataFrame(
        [("x", "A"), ("x", "B"), ("b1", "B")], "key string, grp string"
    )
    rows = group_linkage(pairs, groups).collect()
    # the only legitimate link is x(A)-b1(B); the (x, x) row is dropped
    assert {(r.grp_a, r.grp_b, r.matched) for r in rows} == {("A", "B", 1)}
    assert all(r.sim <= 1.0 for r in rows)


def test_merge_center_matches_replica_and_sits_between_pivot_and_cc(spark):
    from collections import defaultdict

    from orchid_fst_spark.er.clustering import (
        merge_center_clusters,
        pivot_clusters,
    )

    edges = _crc_graph(n=32, mod=4)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.node, r.cluster)
        for r in merge_center_clusters(df).collect()
    }
    # replica: pivot assignment -> merge clusters whose member touches
    # another cluster's center (singleton clusters centered on
    # themselves) -> union-find relabel by min cluster id
    assign, adj, _pi = _pivot_replica(edges)
    centers = {c for c, cl in assign.items() if c == cl}
    parent = {cl: cl for cl in set(assign.values())}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for v, nbrs in adj.items():
        for u in nbrs:
            if u in centers and assign[v] != u:
                ra, rb = find(assign[v]), find(u)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then relabel each root to the min member of
    # its merged set (find already tracks min via the max->min unions)
    exp = {(v, find(cl)) for v, cl in assign.items()}
    assert got == exp
    # structural position: merge-center COARSENS pivot (every pivot
    # cluster lives inside one MC cluster) and REFINES CC
    mc = dict(got)
    pv = {r.node: r.cluster for r in pivot_clusters(df).collect()}
    by_pivot = defaultdict(set)
    for v, cl in pv.items():
        by_pivot[cl].add(v)
    for members in by_pivot.values():
        assert len({mc[v] for v in members}) == 1
    comp = {
        r.node: r.component for r in connected_components(df).collect()
    }
    by_mc = defaultdict(set)
    for v, cl in mc.items():
        by_mc[cl].add(v)
    for members in by_mc.values():
        assert len({comp[v] for v in members}) == 1


def test_gmd_hand_example(spark):
    # pred {a,b,c},{d,e} vs truth {a,b},{c,d},{e}: split p1 -> {a,b}|{c},
    # split p2 -> {d}|{e}, merge {c}+{d}  =>  splits 2, merges 1, gmd 3
    from orchid_fst_spark.er.evaluate import gmd_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2)],
        "url string, cluster_id int",
    )
    truth = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 20), ("d", 20), ("e", 30)],
        "url string, cluster_id int",
    )
    r = gmd_metrics(pred, truth).collect()[0]
    assert (r.n_records, r.n_cells, r.n_pred, r.n_truth) == (5, 4, 2, 3)
    assert (r.splits, r.merges, r.gmd) == (2, 1, 3)
    # identical clusterings: gmd 0 both directions
    z = gmd_metrics(truth, truth).collect()[0]
    assert (z.splits, z.merges, z.gmd) == (0, 0, 0)


def test_fuse_attributes_majority_ties_nulls_weights(spark):
    from orchid_fst_spark.er.clustering import fuse_attributes

    df = spark.createDataFrame(
        [
            (1, "alice", "nyc", 2),
            (1, "alice", "sf", 1),
            (1, "alyce", None, 1),   # null city does not vote
            (2, "bob", "la", 1),
            (2, "rob", "la", 1),     # name tie -> 'bob' (value ASC)
        ],
        "component int, name string, city string, w int",
    )
    out = {
        (r.cluster, r.attr): r
        for r in fuse_attributes(df, attrs=["name", "city"]).collect()
    }
    assert out[(1, "name")].value == "alice"
    assert (out[(1, "name")].votes, out[(1, "name")].total_votes) == (2, 3)
    assert out[(1, "name")].support == round(2 / 3, 6)
    assert out[(1, "city")].value == "nyc"
    assert out[(1, "city")].total_votes == 2  # null excluded
    assert out[(2, "name")].value == "bob"   # deterministic tie-break
    # weighted: 'rob' outvotes 'bob' with weight 3 vs 1
    wdf = df.withColumn(
        "w", F.when(F.col("name") == "rob", 3).otherwise(F.col("w"))
    )
    wout = {
        (r.cluster, r.attr): r
        for r in fuse_attributes(
            wdf, attrs=["name"], weight_col="w"
        ).collect()
    }
    assert wout[(2, "name")].value == "rob"
    assert wout[(2, "name")].votes == 3


def test_swoosh_incremental_equals_full_rerun(spark):
    from orchid_fst_spark.er.swoosh import swoosh_resolve

    old = [
        ("r1", ["a1", "a9"], ["b1"]),
        ("r2", ["a1"], ["b1", "b2"]),
        ("r6", ["c1"], ["d1"]),
        ("r7", ["c1"], ["d1"]),
    ]
    # batch: r3 completes the novelty gadget; r0 (SMALLER id) bridges
    # the two old entities via evidence from both
    batch = [
        ("r3", ["a9"], ["b2"]),
        ("r0", ["a1", "c1"], ["b1", "d1"]),
    ]
    schema = "id string, a_vals array<string>, b_vals array<string>"
    old_df = spark.createDataFrame(old, schema)
    all_df = spark.createDataFrame(old + batch, schema)
    prior = swoosh_resolve(old_df)
    inc = swoosh_resolve(all_df, init_assignment=prior)
    full = swoosh_resolve(all_df)
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )
    # the bridge collapses everything into one entity labeled r0
    assert {r.entity_id for r in inc.collect()} == {"r0"}


def test_fusion_em_trust_overturns_tie(spark):
    from orchid_fst_spark.er.clustering import fusion_em

    rows = []
    # s1, s2 reliable on cells 1-3 ("x"); s3 always deviant ("y")
    for c in (1, 2, 3):
        rows += [(c, "s1", "x"), (c, "s2", "x"), (c, "s3", "y")]
    # cell 4: s2 vs s3 — plurality ties and value-ASC favors s3's "a",
    # but by iteration 2 s3 has lost trust and s2's "v" must win
    rows += [(4, "s2", "v"), (4, "s3", "a")]
    df = spark.createDataFrame(rows, "component int, source string, val string")
    em = {
        r.cluster: r
        for r in fusion_em(df, attrs=["val"], iters=3).collect()
    }
    assert em[1].value == "x" and em[4].value == "v"
    # iteration 1 IS plurality: the tie goes to "a" (value ASC)
    one = {
        r.cluster: r
        for r in fusion_em(df, attrs=["val"], iters=1).collect()
    }
    assert one[4].value == "a"
    # support: winner share of the cell's total confidence
    assert 0.5 < em[1].support <= 1.0
    assert em[4].support > 0.5


def test_fusion_em_unanimous(spark):
    from orchid_fst_spark.er.clustering import fusion_em

    df = spark.createDataFrame(
        [(1, "s1", "x"), (1, "s2", "x"), (2, "s1", "z")],
        "component int, source string, val string",
    )
    out = {r.cluster: r for r in fusion_em(df, attrs=["val"]).collect()}
    assert out[1].value == "x" and out[1].support == 1.0
    assert out[2].value == "z" and out[2].support == 1.0


def test_swoosh_coarsens_pairwise_cc(spark):
    # structural pin of the paradigm ordering: round-1 (pairwise
    # evidence) clusters always REFINE the merge-based fixpoint — every
    # extra merge comes from evidence assembled across members
    import random

    from orchid_fst_spark.er.swoosh import swoosh_resolve

    rng = random.Random(41)
    recs = []
    for i in range(16):
        a = sorted({f"a{rng.randint(1, 5)}" for _ in range(rng.randint(1, 3))})
        b = sorted({f"b{rng.randint(1, 5)}" for _ in range(rng.randint(1, 3))})
        recs.append((f"r{i:02d}", a, b))
    sdf = spark.createDataFrame(
        recs, "id string, a_vals array<string>, b_vals array<string>"
    )
    one = {r.id: r.entity_id for r in swoosh_resolve(sdf, rounds=1).collect()}
    full = {r.id: r.entity_id for r in swoosh_resolve(sdf).collect()}
    # refinement: same round-1 entity ⇒ same fixpoint entity
    for x, ex in one.items():
        for y, ey in one.items():
            if ex == ey:
                assert full[x] == full[y], (x, y)


def test_calibration_report_hand_math(spark):
    from orchid_fst_spark.er.evaluate import calibration_report

    scored = spark.createDataFrame(
        [
            ("a", "b", 0.95), ("a", "c", 0.9),   # bin 9: both true
            ("d", "e", 0.55), ("d", "f", 0.5),   # bin 5: one true
            ("g", "h", 0.04),                     # bin 0: false
            ("i", "j", 1.0),                      # p=1.0 clamps to bin 9
        ],
        "key_a string, key_b string, posterior double",
    )
    truth = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("d", "e"), ("i", "j")],
        "key_a string, key_b string",
    )
    rows = {r.bin: r for r in calibration_report(scored, truth).collect()}
    assert set(rows) == {0, 5, 9}
    assert (rows[9].n, rows[9].n_true) == (3, 3)
    assert rows[9].avg_pred == round((0.95 + 0.9 + 1.0) / 3, 6)
    assert rows[9].observed == 1.0
    assert (rows[5].n, rows[5].n_true) == (2, 1)
    assert rows[5].observed == 0.5
    assert rows[5].avg_pred == round((0.55 + 0.5) / 2, 6)
    assert rows[5].gap == round(abs(0.525 - 0.5), 6)
    assert (rows[0].n, rows[0].n_true, rows[0].observed) == (1, 0, 0.0)
    # duplicate/reversed emissions collapse to the max probability
    dup = scored.union(
        spark.createDataFrame(
            [("b", "a", 0.2)], "key_a string, key_b string, posterior double"
        )
    )
    rows2 = {r.bin: r for r in calibration_report(dup, truth).collect()}
    assert rows2[9].n == 3 and 2 not in rows2


def test_repair_clusters_chain_vs_clique(spark):
    from orchid_fst_spark.er.clustering import repair_clusters

    # cluster 'a': 4-node chain a-b-c-d (3 edges of 6 possible, density
    # 0.5); cluster 'x': triangle (density 1.0); singleton 's'
    asg = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
         ("x", "x"), ("y", "x"), ("z", "x"), ("s", "s")],
        "node string, cluster_id string",
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),
         ("x", "y"), ("y", "z"), ("x", "z")],
        "src string, dst string",
    )
    out = {r.node: r for r in repair_clusters(
        asg, edges, min_density_num=3, min_density_den=5
    ).collect()}
    assert len(out) == 8
    # clique + singleton untouched
    assert all(not out[n].repaired and out[n].cluster == "x"
               for n in ("x", "y", "z"))
    assert not out["s"].repaired and out["s"].cluster == "s"
    # chain re-formed by star: b is the (deg, id)-dominant center of
    # {a, b, c}; d's only neighbor c is not a center -> singleton
    assert all(out[n].repaired for n in ("a", "b", "c", "d"))
    assert out["a"].cluster == out["b"].cluster == out["c"].cluster == "b"
    assert out["d"].cluster == "d"
    # exact-threshold density is KEPT (strict <): 0.5 at min 1/2
    kept = {r.node: r for r in repair_clusters(
        asg, edges, min_density_num=1, min_density_den=2
    ).collect()}
    assert all(not kept[n].repaired for n in ("a", "b", "c", "d"))


def test_calibration_ece_matches_report(spark):
    from orchid_fst_spark.er.evaluate import calibration_ece, calibration_report

    scored = spark.createDataFrame(
        [("a", "b", 0.95), ("a", "c", 0.9), ("d", "e", 0.55),
         ("d", "f", 0.5), ("g", "h", 0.04), ("i", "j", 1.0)],
        "key_a string, key_b string, posterior double",
    )
    truth = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("d", "e"), ("i", "j")],
        "key_a string, key_b string",
    )
    rep = calibration_report(scored, truth).collect()
    row = calibration_ece(scored, truth).collect()[0]
    n = sum(r.n for r in rep)
    exp = sum(r.n * r.gap for r in rep) / n
    assert row.n_pairs == 6 and row.n_bins == len(rep)
    assert abs(row.ece - exp) < 2e-6  # report gaps are 6dp-rounded
    # perfectly calibrated degenerate: all-prob-1 and all-true -> 0
    perfect = spark.createDataFrame(
        [("a", "b", 1.0)], "key_a string, key_b string, posterior double"
    )
    ptruth = spark.createDataFrame([("a", "b")], "key_a string, key_b string")
    assert calibration_ece(perfect, ptruth).collect()[0].ece == 0.0
