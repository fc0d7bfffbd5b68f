"""BPE tokenizer training (operators/bpe.py): differential tests vs the
pure-Python reference implementation (the cache-unittest randomized
differential pattern, cache_unittest.cpp:41-96), plus code-point
granularity and plan checks."""

import random

import pytest

from orchid_fst_spark.operators.bpe import (
    EOW,
    bpe_pair_counts,
    bpe_train,
    reference_bpe,
)


def _word_freqs(texts):
    from collections import Counter

    return Counter(w for t in texts for w in t.split() if w)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    stems = ["low", "new", "wide", "deep", "fast", "slow", "bright"]
    sufs = ["", "er", "est", "ly", "ish"]
    texts = [
        " ".join(
            rng.choice(stems) + rng.choice(sufs) for _ in range(rng.randint(3, 12))
        )
        for _ in range(60)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    return docs, texts


def test_train_matches_reference(spark, corpus):
    docs, texts = corpus
    wf = dict(_word_freqs(texts))
    expected = reference_bpe(wf, num_merges=15)
    got = [
        (r.rank, r.sym_a, r.sym_b, r.n)
        for r in bpe_train(docs, num_merges=15).orderBy("rank").collect()
    ]
    assert got == expected
    assert len(got) == 15  # corpus is rich enough to not stop early


def test_pair_counts_match_reference(spark, corpus):
    docs, texts = corpus
    from collections import Counter

    wf = _word_freqs(texts)
    exp = Counter()
    for w, f in wf.items():
        syms = list(w) + [EOW]
        for i in range(len(syms) - 1):
            exp[(syms[i], syms[i + 1])] += f
    got = {
        (r.sym_a, r.sym_b): r.n for r in bpe_pair_counts(docs).collect()
    }
    assert got == dict(exp)


def test_pair_counts_top_n_total_order(spark, corpus):
    docs, texts = corpus
    full = bpe_pair_counts(docs).collect()
    ordered = sorted(full, key=lambda r: (-r.n, r.sym_a, r.sym_b))
    top = bpe_pair_counts(docs, top_n=5).collect()
    assert sorted(
        (r.sym_a, r.sym_b, r.n) for r in top
    ) == sorted((r.sym_a, r.sym_b, r.n) for r in ordered[:5])


def test_no_eow_and_min_freq_stop(spark):
    docs = spark.createDataFrame(
        [(0, "ab ab ab xy")], "doc_id long, text string"
    )
    wf = {"ab": 3, "xy": 1}
    expected = reference_bpe(wf, num_merges=10, eow=None, min_freq=2)
    got = [
        (r.rank, r.sym_a, r.sym_b, r.n)
        for r in bpe_train(docs, num_merges=10, eow=None, min_freq=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected == [(0, "a", "b", 3)]  # (x,y) is hapax -> stop


def test_overlap_resolution_left_to_right(spark):
    # "aaa" under ("a","a"): left-to-right non-overlap -> ["aa","a"],
    # so the ("a","a") count for "aaa" is 2 (not 3 merge sites)
    docs = spark.createDataFrame(
        [(0, "aaa aaa")], "doc_id long, text string"
    )
    merges = bpe_train(docs, num_merges=2, eow=None)
    rows = [(r.rank, r.sym_a, r.sym_b, r.n) for r in merges.orderBy("rank").collect()]
    assert rows == reference_bpe({"aaa": 2}, 2, eow=None)
    assert rows[0] == (0, "a", "a", 4)  # 2 adjacent pairs x 2 occurrences
    assert rows[1] == (1, "aa", "a", 2)


def test_code_point_granularity(spark):
    # astral-plane chars must stay whole symbols (Java regex split(''))
    # — the reference's UTF-8 character semantics (utf8_util.cpp:78-90)
    w = "a\U0001F389b"  # a 🎉 b
    docs = spark.createDataFrame([(0, f"{w} {w}")], "doc_id long, text string")
    got = {(r.sym_a, r.sym_b): r.n for r in bpe_pair_counts(docs).collect()}
    assert got == {
        ("a", "\U0001F389"): 2,
        ("\U0001F389", "b"): 2,
        ("b", EOW): 2,
    }


def test_pair_counts_plan_jvm_only(spark, corpus):
    docs, _ = corpus
    plan = bpe_pair_counts(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan
