"""DFA compiler + DAG intersection vs DP oracles (pure Python, no Spark)."""

import itertools
import random

from orchid_fst_spark.automata import Trie, compile_dfa, deletion_variants
from orchid_fst_spark.automata.trie import dag_dfa, minimize
from orchid_fst_spark.functions.distance import levenshtein, osa
from orchid_fst_spark.sources.fixtures import fuzzy_golden, gen_dict_words


def test_dfa_exhaustive_small():
    for qlen in range(0, 4):
        for q in map("".join, itertools.product("ab", repeat=qlen)):
            for k in (0, 1, 2):
                dl = compile_dfa(q, k, False)
                dd = compile_dfa(q, k, True)
                for clen in range(0, 5):
                    for c in map("".join, itertools.product("abc", repeat=clen)):
                        assert dl.accepts(c) == (levenshtein(q, c) <= k)
                        assert dd.accepts(c) == (osa(q, c) <= k)


def test_dfa_random():
    rng = random.Random(5)
    for _ in range(1500):
        q = "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 10)))
        c = "".join(rng.choice("abcdefg") for _ in range(rng.randint(0, 12)))
        k = rng.randint(0, 2)
        assert compile_dfa(q, k, False).accepts(c) == (levenshtein(q, c) <= k)
        assert compile_dfa(q, k, True).accepts(c) == (osa(q, c) <= k)


def test_dfa_unicode():
    d = compile_dfa("中国", 1, False)
    assert d.accepts("中国人")
    assert d.accepts("美国")
    assert not d.accepts("日本人")


def test_trie_dfa_enumeration_lexicographic():
    words = gen_dict_words(2000)
    root, flat, _n = minimize(Trie.from_sorted(words))
    for q, k, dam in [("hair", 2, False), ("hair", 2, True), ("lo", 1, False)]:
        got = dag_dfa(root, flat, compile_dfa(q, k, dam))
        assert [key for key, _ in got] == fuzzy_golden(words, q, k, dam)
        assert all(v is None for _, v in got)  # set mode: no values
        assert got == sorted(got)


def test_trie_map_values():
    rows = [("ha", 1), ("hair", 7), ("hare", 3)]
    root, flat, _n = minimize(Trie.from_sorted(*zip(*rows)))
    keys = [key for key, _ in rows]
    got = dag_dfa(root, flat, compile_dfa("hair", 1, False))
    assert got == [("hair", 7)]
    assert [key for key, _ in got] == fuzzy_golden(keys, "hair", 1, False)
    got2 = dag_dfa(root, flat, compile_dfa("hair", 2, False))
    assert got2 == rows
    assert [key for key, _ in got2] == fuzzy_golden(keys, "hair", 2, False)


def test_deletion_neighborhood_complete_k2():
    rng = random.Random(11)
    checked = 0
    for _ in range(4000):
        a = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8)))
        b = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8)))
        if osa(a, b) <= 2:
            checked += 1
            assert set(deletion_variants(a, 2)) & set(deletion_variants(b, 2))
    assert checked > 100
