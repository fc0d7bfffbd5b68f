"""Dictionary query API golden tests — reproduces the reference's fuzzy
golden pattern (fst_unittest.cpp:25-173: sorted dict -> fuzzy('hair',2)
-> exact ordered hit set) at fixture scale, plus match/prefix/range with
the 4 bound flavors and UTF-8 keys."""

import pytest
from pyspark.sql import functions as F

from orchid_fst_spark.operators import (
    build_dict,
    fuzzy_join,
    fuzzy_lookup,
    fuzzy_self_pairs,
    match_lookup,
    prefix_lookup,
    range_lookup,
)
from orchid_fst_spark.operators.index import build_index, index_fuzzy_lookup, load_index
from orchid_fst_spark.functions.distance import osa, levenshtein
from orchid_fst_spark.sources.fixtures import fuzzy_golden, gen_dict_kv, gen_dict_words


@pytest.fixture(scope="module")
def words():
    return gen_dict_words(5000)


@pytest.fixture(scope="module")
def dict_df(spark, words):
    df = spark.createDataFrame([(w,) for w in words], "key string")
    return build_dict(df, "key").cache()


@pytest.fixture(scope="module")
def kv_df(spark):
    df = spark.createDataFrame(gen_dict_kv(), "key string, value long")
    return build_dict(df, "key", "value", dedup="max").cache()


def test_fuzzy_golden_levenshtein(spark, dict_df, words):
    golden = fuzzy_golden(words, "hair", 2, damerau=False)
    for impl in ("builtin", "dfa"):
        got = [r.key for r in fuzzy_lookup(dict_df, "hair", 2, impl=impl).collect()]
        assert got == golden, impl
    assert len(golden) > 10  # non-trivial neighborhood, like the 214-hit golden


def test_fuzzy_golden_damerau(spark, dict_df, words):
    golden = fuzzy_golden(words, "hair", 2, damerau=True)
    got = [r.key for r in fuzzy_lookup(dict_df, "hair", 2, damerau=True).collect()]
    assert got == golden
    # Damerau is a superset of Levenshtein at the same k (220 >= 214 pattern)
    assert set(fuzzy_golden(words, "hair", 2, False)) <= set(golden)


def test_fuzzy_trie_enumeration_parity(spark, dict_df, words, tmp_path):
    # the structural twin of the reference read path: DFA ∩ minimized DAG
    golden = fuzzy_golden(words, "hair", 2, damerau=True)
    build_index(dict_df, str(tmp_path / "idx"), n_shards=4)
    idx = load_index(spark, str(tmp_path / "idx"))
    got = [r.key for r in index_fuzzy_lookup(idx, "hair", 2, damerau=True).collect()]
    assert got == golden


def test_fuzzy_prefix_pinned(spark, dict_df, words):
    # samePrefixLen semantics (fst.cpp:530-553): first p chars pinned exactly
    p = 2
    golden = [
        w for w in fuzzy_golden(words, "hair", 2, False) if w.startswith("hair"[:p])
    ]
    got = [r.key for r in fuzzy_lookup(dict_df, "hair", 2, prefix_len=p).collect()]
    assert got == golden


def test_match_and_miss(spark, kv_df):
    rows = match_lookup(kv_df, "中国").collect()
    assert len(rows) == 1
    assert rows[0].value == 9  # duplicate key resolved by max (last-wins analog)
    assert match_lookup(kv_df, "never-a-key").count() == 0


def test_prefix_utf8(spark, kv_df):
    got = [(r.key, r.value) for r in prefix_lookup(kv_df, "中国").collect()]
    assert got == [("中国", 9), ("中国人", 2)]


def test_range_bound_flavors(spark, dict_df, words):
    lo, hi = words[100], words[200]
    inner = words[101:200]
    cases = [
        (True, True, [lo] + inner + [hi]),
        (True, False, [lo] + inner),
        (False, True, inner + [hi]),
        (False, False, inner),
    ]
    for lo_inc, hi_inc, expected in cases:
        got = [
            r.key
            for r in range_lookup(dict_df, lo, hi, lo_inc, hi_inc).collect()
        ]
        assert got == expected, (lo_inc, hi_inc)


def test_blank_keys_dropped(spark):
    df = spark.createDataFrame([("a",), ("",), ("  ",), ("b",)], "key string")
    assert {r.key for r in build_dict(df, "key").collect()} == {"a", "b"}


def test_fuzzy_join_complete_and_exact(spark, words):
    qs = ["hair", "loli", "stch", "中国"]
    left = spark.createDataFrame([(q,) for q in qs], "q string")
    right = spark.createDataFrame([(w,) for w in words], "key string")
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_join(left, right, "q", "key", k=2).collect()
    }
    exp = {
        (q, w, levenshtein(q, w))
        for q in qs
        for w in words
        if levenshtein(q, w) <= 2
    }
    assert got == exp


def test_fuzzy_self_pairs_exact(spark):
    vocab = gen_dict_words(600)
    df = spark.createDataFrame([(w,) for w in vocab], "key string")
    got = {
        (r.key_a, r.key_b): r.dist
        for r in fuzzy_self_pairs(df, "key", k=2, damerau=True).collect()
    }
    exp = {
        (a, b): osa(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if osa(a, b) <= 2 and a < b
    }
    assert got == exp


def test_fuzzy_self_pairs_window_scheme_complete(spark):
    # windowed deletes (prefix+suffix window) must find EXACTLY the same
    # pairs as full-key deletes — complete for k<=2 by the LCS argument in
    # variant_sigs' docstring; small window stresses boundary shifts
    vocab = gen_dict_words(400)
    df = spark.createDataFrame([(w,) for w in vocab], "key string")
    exp = {
        (a, b): osa(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if osa(a, b) <= 2 and a < b
    }
    for window in (4, 6, 16):
        got = {
            (r.key_a, r.key_b): r.dist
            for r in fuzzy_self_pairs(
                df, "key", k=2, damerau=True, scheme="window", window=window
            ).collect()
        }
        assert got == exp, window


@pytest.mark.parametrize("algo", ["passjoin", "deletes"])
def test_candidate_pairs_passjoin_complete(spark, algo):
    # both blocking families find exactly the DP ground truth, including
    # mixed/short key lengths and the short band; an empty norm_key
    # (within 2 edits of every 1-2 char key) never enters a pair
    from orchid_fst_spark.er.blocking import candidate_pairs

    vocab = sorted(gen_dict_words(400) + ["a", "ab", "abc", "abcd", "b", "xy"])
    df = spark.createDataFrame(
        [(w,) for w in vocab + [""]], "norm_key string"
    ).withColumn("url", F.col("norm_key"))
    exp = {
        (a, b): osa(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if osa(a, b) <= 2
    }
    got = {
        (r.key_a, r.key_b): r.dist
        for r in candidate_pairs(df, k=2, damerau=True, algo=algo).collect()
    }
    assert got == exp


@pytest.mark.xfail(
    strict=True,
    reason="passjoin's 3-segment pigeonhole counts Levenshtein edits: two "
    "transpositions (OSA 2) that straddle segment boundaries edit every "
    "segment, so the pair is never a candidate",
)
def test_passjoin_damerau_straddling_transpositions(spark):
    # abc|def|ghi vs abd|ceg|fhi: c<->d and f<->g each cross a boundary
    df = spark.createDataFrame([("abcdefghi",), ("abdcegfhi",)], "key string")
    want = {("abcdefghi", "abdcegfhi", 2)}

    def pairs(algo):
        return {
            (r.key_a, r.key_b, r.dist)
            for r in fuzzy_self_pairs(df, "key", k=2, damerau=True, algo=algo).collect()
        }

    assert pairs("deletes") == want
    assert pairs("passjoin") == want


@pytest.mark.xfail(
    strict=True,
    reason="passjoin segments keys truncated to max_len: a 2-char prefix "
    "insertion shifts the truncated tail, so (base, 'xy' + base) at "
    "distance 2 is missed for 120-char keys at max_len 64 and 96",
)
def test_passjoin_keys_longer_than_max_len(spark):
    base = "".join("abcdefghijklmnopqrstuvwxyz"[(7 * i) % 26] for i in range(120))
    df = spark.createDataFrame([(base,), ("xy" + base,)], "key string")
    for max_len in (200, 96, 64):
        got = fuzzy_self_pairs(
            df, "key", k=2, damerau=True, max_len=max_len, algo="passjoin"
        ).collect()
        assert len(got) == 1, max_len


@pytest.mark.parametrize("op", ["fuzzy_self_pairs", "fuzzy_join"])
def test_unknown_algo_rejected(spark, op):
    df = spark.createDataFrame([("hair",), ("hare",)], "key string")
    with pytest.raises(ValueError, match="unknown blocking algo"):
        if op == "fuzzy_self_pairs":
            fuzzy_self_pairs(df, "key", k=2, algo="typo")
        else:
            fuzzy_join(df, df, "key", "key", k=2, algo="typo")


def test_fuzzy_self_pairs_passjoin_k3_parity(spark):
    # k=3 segment blocking (4-segment pigeonhole) finds exactly the DP
    # ground truth, mixed/short lengths included
    vocab = sorted(set(gen_dict_words(250) + ["a", "ab", "abc", "abcd", "ba", "xyz"]))
    df = spark.createDataFrame([(w,) for w in vocab], "key string")
    exp = {
        (a, b): levenshtein(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if levenshtein(a, b) <= 3
    }
    got = {
        (r.key_a, r.key_b): r.dist
        for r in fuzzy_self_pairs(
            df, "key", k=3, damerau=False, algo="passjoin"
        ).collect()
    }
    assert got == exp


def test_fuzzy_join_passjoin_k3_parity(spark, words):
    qs = ["hair", "loli", "stch", "ab"]
    sample = words[::25]
    left = spark.createDataFrame([(q,) for q in qs], "q string")
    right = spark.createDataFrame([(w,) for w in sample], "key string")
    exp = {
        (q, w, levenshtein(q, w))
        for q in qs
        for w in sample
        if levenshtein(q, w) <= 3
    }
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_join(left, right, "q", "key", k=3, algo="passjoin").collect()
    }
    assert got == exp


def test_fuzzy_join_passjoin_parity(spark, words):
    # two-table segment blocking finds exactly what the deletes path finds
    qs = ["hair", "loli", "stch", "中国", "ab"]
    left = spark.createDataFrame([(q,) for q in qs], "q string")
    right = spark.createDataFrame([(w,) for w in words], "key string")
    exp = {
        (q, w, levenshtein(q, w))
        for q in qs
        for w in words
        if levenshtein(q, w) <= 2
    }
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_join(left, right, "q", "key", k=2, algo="passjoin").collect()
    }
    assert got == exp


def test_fuzzy_self_pairs_passjoin_parity(spark):
    vocab = sorted(gen_dict_words(400))
    df = spark.createDataFrame([(w,) for w in vocab], "key string")
    exp = {
        (a, b): osa(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if osa(a, b) <= 2
    }
    got = {
        (r.key_a, r.key_b): r.dist
        for r in fuzzy_self_pairs(
            df, "key", k=2, damerau=True, algo="passjoin"
        ).collect()
    }
    assert got == exp


def test_fuzzy_self_pairs_passjoin_k4_parity(spark, words):
    # generalized n=k+1 pigeonhole (MAX_K raised to 8): k=4 candidates
    # complete vs the brute-force DP oracle; vocab reaches 16-char words
    # so real (non-short-band) segments are exercised
    base = words[::40]
    longs = [base[i] + base[(i * 7 + 3) % len(base)] for i in range(len(base))]
    vocab = sorted(
        set(longs)
        | {w[:-2] for w in longs[:40]}          # distance 2
        | {w[2:] + "xy" for w in longs[40:80]}  # distance <= 4
    )
    assert max(len(w) for w in vocab) >= 12
    df = spark.createDataFrame([(w,) for w in vocab], "key string")
    exp = {
        (a, b): levenshtein(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if levenshtein(a, b) <= 4
    }
    got = {
        (r.key_a, r.key_b): r.dist
        for r in fuzzy_self_pairs(
            df, "key", k=4, damerau=False, algo="passjoin"
        ).collect()
    }
    assert got == exp


def test_fuzzy_self_pairs_large_k_banded_fallback(spark):
    # k beyond the passjoin ceiling warns and routes through the
    # length-banded brute-force block — complete for any k (reference
    # CLI accepts -d up to 100, fst_cmd.cpp:103-111)
    vocab = sorted(gen_dict_words(80))
    df = spark.createDataFrame([(w,) for w in vocab], "key string")
    exp = {
        (a, b): levenshtein(a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if levenshtein(a, b) <= 9
    }
    with pytest.warns(UserWarning, match="length-banded"):
        res = fuzzy_self_pairs(df, "key", k=9, damerau=False, algo="deletes")
    got = {(r.key_a, r.key_b): r.dist for r in res.collect()}
    assert got == exp


def test_fuzzy_join_large_k_banded_fallback(spark, words):
    qs = ["hair", "intercontinental"]
    sample = words[::100]
    left = spark.createDataFrame([(q,) for q in qs], "q string")
    right = spark.createDataFrame([(w,) for w in sample], "key string")
    exp = {
        (q, w, levenshtein(q, w))
        for q in qs
        for w in sample
        if levenshtein(q, w) <= 10
    }
    with pytest.warns(UserWarning, match="length-banded"):
        res = fuzzy_join(left, right, "q", "key", k=10, algo="passjoin")
    got = {(r.key_a, r.key_b, r.dist) for r in res.collect()}
    assert got == exp
