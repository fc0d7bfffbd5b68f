"""Persistable build-once/query-many index (operators/index.py):
parity with the live dictionary operators on both sides of the
driver-walk threshold, shard pruning, the lookup job budget, and the
decoded-shard LRU."""

import os

import pytest
from pyspark.sql import functions as F

from orchid_fst_spark.operators import (
    build_dict,
    fuzzy_lookup,
    match_lookup,
    prefix_lookup,
    range_lookup,
)
from orchid_fst_spark.operators import index as index_mod
from orchid_fst_spark.operators.index import (
    _TRIE_CACHE,
    build_index,
    index_fuzzy_lookup_many,
    index_fuzzy_lookup,
    index_match_lookup,
    index_prefix_lookup,
    index_range_lookup,
    load_index,
)
from orchid_fst_spark.functions.distance import osa
from orchid_fst_spark.sources.fixtures import gen_dict_kv, gen_dict_words
from orchid_fst_spark.util.caches import LRUCache


@pytest.fixture(scope="module")
def kv_df(spark):
    df = spark.createDataFrame(gen_dict_kv(), "key string, value long")
    return build_dict(df, "key", "value", dedup="max").cache()


@pytest.fixture(scope="module")
def index_df(spark, kv_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "dict_index")
    build_index(kv_df, path, n_shards=8)
    return load_index(spark, path)


@pytest.fixture
def spark_path(monkeypatch):
    """Force the executor (mapInPandas) path: no pruned shard set fits a
    zero-byte driver LRU budget."""
    monkeypatch.setattr(_TRIE_CACHE, "budget", 0)


def _rows(df):
    return sorted((r.key, r.value) for r in df.collect())


def _both(lookup):
    """Rows of ``lookup()`` as tuples on the driver path, after asserting
    the forced executor path returns the same rows in the same order."""
    driver = lookup().collect()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_TRIE_CACHE, "budget", 0)
        executor = lookup().collect()
    assert driver == executor
    return [tuple(r) for r in driver]


def test_index_match_prefix_range_parity(spark, kv_df, index_df):
    keys = [r.key for r in kv_df.limit(5).collect()]
    for q in keys + ["definitely-not-a-key"]:
        assert _both(lambda: index_match_lookup(index_df, q)) == _rows(
            match_lookup(kv_df, q)
        ), q
    for p in ["a", "st", "zz", keys[0][:2]]:
        assert _both(lambda: index_prefix_lookup(index_df, p)) == _rows(
            prefix_lookup(kv_df, p)
        ), p
    for lo, hi, li, hi_ in [("c", "m", True, False), ("p", "t", False, True)]:
        assert _both(
            lambda: index_range_lookup(index_df, lo, hi, li, hi_)
        ) == _rows(range_lookup(kv_df, lo, hi, li, hi_))


def test_index_fuzzy_parity(spark, kv_df, index_df):
    for q, k in [("scan", 2), ("table", 1)]:
        live = _rows(fuzzy_lookup(kv_df, q, k, impl="builtin"))
        assert _both(lambda: index_fuzzy_lookup(index_df, q, k)) == live, (q, k)
    # pinned prefix narrows identically
    live = _rows(fuzzy_lookup(kv_df, "scan", 2, prefix_len=2, impl="builtin"))
    assert _both(lambda: index_fuzzy_lookup(index_df, "scan", 2, prefix_len=2)) == live


def test_index_fuzzy_osa_parity(spark, index_df, kv_df):
    got = _both(lambda: index_fuzzy_lookup(index_df, "scan", 2, damerau=True))
    keys = {r.key: r.value for r in kv_df.collect()}
    exp = sorted((k, v) for k, v in keys.items() if osa(k, "scan") <= 2)
    assert got == exp


def test_index_shard_pruning(spark, index_df, spark_path):
    # a point lookup must walk at most one shard: the lo_key/hi_key filter
    # is folded into the metadata's local relation at planning, so the
    # mapInPandas reads a relation of exactly the one surviving shard row
    plan = index_match_lookup(index_df, "scan")._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    assert leaves.size() == 1
    assert leaves.apply(0).getClass().getSimpleName() == "LocalRelation"
    assert leaves.apply(0).data().size() == 1


def test_index_words_roundtrip(spark, tmp_path):
    words = gen_dict_words(2000)
    df = build_dict(spark.createDataFrame([(w,) for w in words], "key string"), "key")
    path = str(tmp_path / "words_index")
    build_index(df, path, n_shards=8)
    idx = load_index(spark, path)
    assert idx.agg(F.sum("n_keys")).collect()[0][0] == len(set(words))
    got = [k for k, v in _both(lambda: index_fuzzy_lookup(idx, "hair", 2))]
    from orchid_fst_spark.functions.distance import levenshtein

    exp = sorted(w for w in set(words) if levenshtein(w, "hair") <= 2)
    assert got == exp


def test_index_fuzzy_many_parity(spark, kv_df, index_df):
    from orchid_fst_spark.operators.dictionary import fuzzy_lookup_many

    qs = ["scan", "table", "zzz"]
    exp = set()
    for q in qs:
        for r in fuzzy_lookup(kv_df, q, 2, impl="builtin").collect():
            exp.add((q, r.key, r.value))
    got_live = {
        (r.query, r.key, r.value)
        for r in fuzzy_lookup_many(kv_df, qs, k=2).collect()
    }
    got_idx = _both(lambda: index_fuzzy_lookup_many(index_df, qs, k=2))
    assert got_live == exp
    assert got_idx == sorted(exp)


def test_shard_cache_hits():
    # driver-side check of the decoded-shard LRU: same blob decodes once
    import hashlib

    from orchid_fst_spark.automata.trie import Trie, minimize
    from orchid_fst_spark.operators.index import _encode_blob, _shard_dag

    root, flat, _n = minimize(Trie.from_sorted(["cache", "hits"]))
    blob = _encode_blob(root, flat, False)
    md5 = hashlib.md5(blob).hexdigest()
    reads = []

    def read_blob():
        reads.append(1)
        return blob

    h0, m0 = _TRIE_CACHE.hits, _TRIE_CACHE.misses
    a = _shard_dag(0, md5, read_blob)
    b = _shard_dag(0, md5, read_blob)
    assert a is b  # second call served from cache, no re-decode
    assert len(reads) == 1  # nor a second blob read
    assert _TRIE_CACHE.hits == h0 + 1 and _TRIE_CACHE.misses == m0 + 1
    assert a[0] == root and not a[2]


def test_shard_cache_charges_decoded_bytes(index_df, monkeypatch):
    """The LRU charges each decoded shard its arrays' nbytes (not its
    blob's length), so its budget bounds what it holds."""
    from orchid_fst_spark.automata.trie import FlatDag
    from orchid_fst_spark.operators.index import _read_shard_blob, _shard_dag

    cache = LRUCache(_TRIE_CACHE.budget)
    monkeypatch.setattr(index_mod, "_TRIE_CACHE", cache)
    flats = [
        _shard_dag(r.shard, r.blob_md5, lambda r=r: _read_shard_blob(r.index_path, r.shard))[1]
        for r in index_df.collect()
    ]
    assert len(cache) == len(flats) == 8
    nbytes = sum(getattr(f, a).nbytes for f in flats for a in FlatDag.__slots__)
    assert cache.size_bytes == nbytes


def test_decode_blob_rejects_unknown_format():
    """Only the 'flat1' shard format decodes; anything else (e.g. the
    retired pickled list-of-dicts node table) names the shard and asks
    for a rebuild instead of silently decoding."""
    import pickle
    import zlib

    from orchid_fst_spark.operators.index import _decode_blob

    legacy = zlib.compress(pickle.dumps((0, [{"": None}], False)))
    with pytest.raises(ValueError, match=r"shard 7.*rebuild the index"):
        _decode_blob(legacy, 7)


def test_prefix_lookup_no_synthetic_upper_bound(spark, tmp_path):
    """A stored key of the form prefix + U+10FFFF + more sorts strictly
    above the old synthetic hi bound (prefix + U+10FFFF) — it must still
    be returned by prefix queries, at both the walk and the shard-filter
    level (ADVICE r02: completeness gap vs the reference's prefix
    iterator)."""
    weird = "pre" + "\U0010ffff" + "zz"
    keys = ["pre", "prefab", weird, "qqq", "aaa"]
    df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)],
                               "key string, value long")
    path = str(tmp_path / "weird_idx")
    build_index(df, path, n_shards=2)
    idx = load_index(spark, path)
    got = [k for k, v in _both(lambda: index_prefix_lookup(idx, "pre"))]
    assert got == sorted(["pre", "prefab", weird])
    # pinned fuzzy with the same prefix must see it too
    got_f = [
        k for k, v in _both(lambda: index_fuzzy_lookup(idx, weird, 0, prefix_len=3))
    ]
    assert got_f == [weird]


def _jobs(spark, name, lookup):
    """(rows of ``lookup().collect()``, Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test_index_jobs_{name}"
    sc.setJobGroup(group, name)
    try:
        rows = [tuple(r) for r in lookup().collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_index_lookup_job_budget(spark, kv_df, index_df):
    """Under the LRU budget every lookup — an empty result included — is
    a local relation: the lookup and its collect run no Spark job."""
    key = kv_df.limit(1).collect()[0].key
    lookups = {
        "match": lambda: index_match_lookup(index_df, key),
        "match_empty": lambda: index_match_lookup(index_df, "definitely-not-a-key"),
        "prefix": lambda: index_prefix_lookup(index_df, key[:1]),
        "range": lambda: index_range_lookup(index_df, key, key),
        "fuzzy": lambda: index_fuzzy_lookup(index_df, key, 2),
        "fuzzy_pinned": lambda: index_fuzzy_lookup(index_df, key, 2, prefix_len=1),
        "fuzzy_many": lambda: index_fuzzy_lookup_many(index_df, [key, "zzz"], 2),
    }
    for name, lookup in lookups.items():
        rows, jobs = _jobs(spark, name, lookup)
        assert jobs == 0, name
        assert (len(rows) == 0) == (name == "match_empty"), name


def test_driver_caps_send_lookups_to_executors(spark, kv_df, index_df, monkeypatch):
    """Past a cap the lookup runs on the executors, with the same rows in
    the same order as the driver walk: a prefix/range whose pruned shards
    hold over _DRIVER_MAX_ROWS keys (checked before walking), any other
    walk yielding over _DRIVER_MAX_ROWS rows, and a batch of over
    _DRIVER_MAX_QUERIES queries."""
    prefix = lambda: index_prefix_lookup(index_df, "s")
    fuzzy = lambda: index_fuzzy_lookup(index_df, "scan", 2)
    batch = lambda: index_fuzzy_lookup_many(index_df, ["scan", "table"], 2)
    expected = {}
    for name, lookup in (("prefix", prefix), ("fuzzy", fuzzy), ("batch", batch)):
        expected[name], jobs = _jobs(spark, name, lookup)
        assert jobs == 0 and len(expected[name]) > 1, name
    pruned_keys = (
        index_df.filter(index_mod._prefix_shard_filter("s"))
        .agg(F.sum("n_keys"))
        .collect()[0][0]
    )
    for name, lookup, cap, driver in (
        ("prefix", prefix, pruned_keys - 1, False),
        ("prefix", prefix, pruned_keys, True),
        ("fuzzy", fuzzy, len(expected["fuzzy"]) - 1, False),
        ("fuzzy", fuzzy, len(expected["fuzzy"]), True),
    ):
        monkeypatch.setattr(index_mod, "_DRIVER_MAX_ROWS", cap)
        rows, jobs = _jobs(spark, f"{name}_cap_{cap}", lookup)
        assert rows == expected[name] and (jobs == 0) == driver, (name, cap)
    monkeypatch.undo()
    monkeypatch.setattr(index_mod, "_DRIVER_MAX_QUERIES", 1)
    rows, jobs = _jobs(spark, "batch_query_cap", batch)
    assert rows == expected["batch"] and jobs > 0


def test_driver_point_lookup_reads_one_shard(kv_df, index_df, monkeypatch):
    """On a cold driver cache a point lookup reads exactly the one shard
    its key range selects."""
    key = kv_df.limit(1).collect()[0].key
    reads = []
    read = index_mod._read_shard_blob
    monkeypatch.setattr(index_mod, "_TRIE_CACHE", LRUCache(_TRIE_CACHE.budget))
    monkeypatch.setattr(
        index_mod, "_read_shard_blob", lambda p, s: reads.append(s) or read(p, s)
    )
    assert [r.key for r in index_match_lookup(index_df, key).collect()] == [key]
    assert len(reads) == 1


def test_stale_index_handle_raises(spark, tmp_path, monkeypatch):
    """A handle loaded before an in-place rebuild must not serve the new
    blobs under the old metadata: a cold read refuses the changed md5."""
    path = str(tmp_path / "stale_idx")
    schema = "key string, value long"
    build_index(spark.createDataFrame([("aa", 1), ("bb", 2)], schema), path, n_shards=1)
    old = load_index(spark, path)
    build_index(spark.createDataFrame([("cc", 3), ("dd", 4)], schema), path, n_shards=1)
    monkeypatch.setattr(index_mod, "_TRIE_CACHE", LRUCache(_TRIE_CACHE.budget))
    with pytest.raises(RuntimeError, match=r"shard 0.*call load_index again"):
        index_match_lookup(old, "aa")
    fresh = load_index(spark, path)
    assert [tuple(r) for r in index_match_lookup(fresh, "cc").collect()] == [("cc", 3)]


def test_build_index_values_exact_and_nulls_rejected(spark, tmp_path):
    """Map-mode values round-trip exactly above 2**53; a null value is
    refused by name instead of crashing on a NaN cast."""
    schema = "key string, value long"
    big = 2**53 + 1
    path = str(tmp_path / "big_idx")
    build_index(spark.createDataFrame([("aa", big), ("ac", 7)], schema), path, n_shards=1)
    idx = load_index(spark, path)
    assert _both(lambda: index_match_lookup(idx, "aa")) == [("aa", big)]
    assert _both(lambda: index_prefix_lookup(idx, "a")) == [("aa", big), ("ac", 7)]
    nulls = spark.createDataFrame([("aa", big), ("ab", None), ("ac", 7)], schema)
    with pytest.raises(Exception, match=r"ValueError: build_index: the 'value' column"):
        build_index(nulls, str(tmp_path / "null_idx"), n_shards=1)


def test_index_rejects_uri_paths(spark, kv_df):
    """Shard blobs are read with pyarrow: build and load both refuse a
    Spark-only URI up front."""
    with pytest.raises(ValueError, match="absolute local/NFS"):
        load_index(spark, "hdfs://namenode/some/index")
    with pytest.raises(ValueError, match="absolute local/NFS"):
        build_index(kv_df, "hdfs://namenode/some/index")
