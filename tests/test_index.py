"""Persistable build-once/query-many index (operators/index.py):
parity with the live dictionary operators, shard pruning, and the
executor-side decoded-shard LRU."""

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
from orchid_fst_spark.operators.index import (
    _TRIE_CACHE,
    build_index,
    index_fuzzy_lookup,
    index_match_lookup,
    index_prefix_lookup,
    index_range_lookup,
    load_index,
)
from orchid_fst_spark.functions.distance import osa
from orchid_fst_spark.sources.fixtures import gen_dict_kv, gen_dict_words


@pytest.fixture(scope="module")
def kv_df(spark):
    df = spark.createDataFrame(gen_dict_kv(), "key string, value long")
    return build_dict(df, "key", "value", dedup="max").cache()


@pytest.fixture(scope="module")
def index_df(spark, kv_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "dict_index")
    build_index(kv_df, path, n_shards=8)
    return load_index(spark, path)


def _rows(df):
    return sorted((r.key, r.value) for r in df.collect())


def test_index_match_prefix_range_parity(spark, kv_df, index_df):
    keys = [r.key for r in kv_df.limit(5).collect()]
    for q in keys + ["definitely-not-a-key"]:
        assert _rows(index_match_lookup(index_df, q)) == _rows(
            match_lookup(kv_df, q)
        ), q
    for p in ["a", "st", "zz", keys[0][:2]]:
        assert _rows(index_prefix_lookup(index_df, p)) == _rows(
            prefix_lookup(kv_df, p)
        ), p
    for lo, hi, li, hi_ in [("c", "m", True, False), ("p", "t", False, True)]:
        assert _rows(index_range_lookup(index_df, lo, hi, li, hi_)) == _rows(
            range_lookup(kv_df, lo, hi, li, hi_)
        )


def test_index_fuzzy_parity(spark, kv_df, index_df):
    for q, k in [("scan", 2), ("table", 1)]:
        live = _rows(fuzzy_lookup(kv_df, q, k, impl="builtin"))
        assert _rows(index_fuzzy_lookup(index_df, q, k)) == live, (q, k)
    # pinned prefix narrows identically
    live = _rows(fuzzy_lookup(kv_df, "scan", 2, prefix_len=2, impl="builtin"))
    assert _rows(index_fuzzy_lookup(index_df, "scan", 2, prefix_len=2)) == live


def test_index_fuzzy_osa_parity(spark, index_df, kv_df):
    got = _rows(index_fuzzy_lookup(index_df, "scan", 2, damerau=True))
    keys = {r.key: r.value for r in kv_df.collect()}
    exp = sorted((k, v) for k, v in keys.items() if osa(k, "scan") <= 2)
    assert got == exp


def test_index_shard_pruning(spark, index_df):
    # a point lookup must scan at most one shard: the key-range filter is
    # a plain parquet predicate on lo_key/hi_key
    plan = index_match_lookup(index_df, "scan")._jdf.queryExecution().toString()
    assert "lo_key" in plan and "hi_key" in plan


def test_index_words_roundtrip(spark, tmp_path):
    words = gen_dict_words(2000)
    df = build_dict(spark.createDataFrame([(w,) for w in words], "key string"), "key")
    path = str(tmp_path / "words_index")
    build_index(df, path, n_shards=8)
    idx = load_index(spark, path)
    assert idx.agg(F.sum("n_keys")).collect()[0][0] == len(set(words))
    got = [r.key for r in index_fuzzy_lookup(idx, "hair", 2).collect()]
    from orchid_fst_spark.functions.distance import levenshtein

    exp = sorted(w for w in set(words) if levenshtein(w, "hair") <= 2)
    assert got == exp


def test_index_fuzzy_many_parity(spark, kv_df, index_df):
    from orchid_fst_spark.operators.dictionary import fuzzy_lookup_many
    from orchid_fst_spark.operators.index import index_fuzzy_lookup_many

    qs = ["scan", "table", "zzz"]
    exp = set()
    for q in qs:
        for r in fuzzy_lookup(kv_df, q, 2, impl="builtin").collect():
            exp.add((q, r.key, r.value))
    got_live = {
        (r.query, r.key, r.value)
        for r in fuzzy_lookup_many(kv_df, qs, k=2).collect()
    }
    got_idx = {
        (r.query, r.key, r.value)
        for r in index_fuzzy_lookup_many(index_df, qs, k=2).collect()
    }
    assert got_live == exp
    assert got_idx == exp


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
    got = [r.key for r in index_prefix_lookup(idx, "pre").collect()]
    assert got == sorted(["pre", "prefab", weird])
    # pinned fuzzy with the same prefix must see it too
    got_f = [r.key for r in index_fuzzy_lookup(idx, weird, 0, prefix_len=3).collect()]
    assert got_f == [weird]
