"""Randomized differential tests for the byte-budgeted LRU/LFU caches
(mirrors the reference's cache_unittest.cpp:41-152 pattern: one op
stream driven into the cache and a trusted model, stats/contents
compared) and for trie suffix-sharing minimization under a bounded
node map (fst.cpp:96-115, fst.h:197-206)."""

import random

from orchid_fst_spark.automata.trie import Trie, dag_dfa, dag_enum, minimize
from orchid_fst_spark.util.caches import LFUCache, LRUCache


class ModelLRU:
    """Trusted O(n) list-based LRU model."""

    def __init__(self, budget):
        self.budget = budget
        self.items = []  # (key, value, cost), oldest first

    @staticmethod
    def _cost(k, v):
        return len(k) + len(v)

    def get(self, key):
        for i, (k, v, c) in enumerate(self.items):
            if k == key:
                self.items.append(self.items.pop(i))
                return v
        return None

    def put(self, key, value):
        for i, (k, _v, _c) in enumerate(self.items):
            if k == key:
                self.items.pop(i)
                break
        self.items.append((key, value, self._cost(key, value)))
        while sum(c for _, _, c in self.items) > self.budget and len(self.items) > 1:
            self.items.pop(0)

    def keys(self):
        return {k for k, _, _ in self.items}


def test_lru_differential_randomized():
    rng = random.Random(42)
    cache, model = LRUCache(200), ModelLRU(200)
    hits = misses = 0
    for _ in range(20000):
        key = f"k{rng.randrange(60)}"
        if rng.random() < 0.5:
            val = "v" * rng.randrange(1, 12)
            cache.put(key, val)
            model.put(key, val)
        else:
            got = cache.get(key)
            want = model.get(key)
            assert got == want, key
            if want is None:
                misses += 1
            else:
                hits += 1
    assert set(cache.data) == model.keys()
    assert cache.hits == hits and cache.misses == misses
    assert 0.0 < cache.hit_ratio() < 1.0
    assert cache.size_bytes <= 200 + 20  # at most one oversize resident entry


class ModelLFU:
    """Trusted O(n)-per-eviction LFU model: victim = min (freq, last
    access tick)."""

    def __init__(self, budget):
        self.budget = budget
        self.items = {}  # key -> [value, cost, freq, tick]
        self.t = 0

    def get(self, key):
        self.t += 1
        if key in self.items:
            it = self.items[key]
            it[2] += 1
            it[3] = self.t
            return it[0]
        return None

    def put(self, key, value):
        self.t += 1
        c = len(key) + len(value)
        if key in self.items:
            it = self.items[key]
            it[0], it[1] = value, c
            it[2] += 1
            it[3] = self.t
        else:
            self.items[key] = [value, c, 1, self.t]
        while (
            sum(i[1] for i in self.items.values()) > self.budget
            and len(self.items) > 1
        ):
            victim = min(
                self.items, key=lambda k: (self.items[k][2], self.items[k][3])
            )
            del self.items[victim]


def test_lfu_differential_randomized():
    rng = random.Random(123)
    cache, model = LFUCache(200), ModelLFU(200)
    for _ in range(20000):
        key = f"k{rng.randrange(60)}"
        if rng.random() < 0.5:
            val = "v" * rng.randrange(1, 12)
            cache.put(key, val)
            model.put(key, val)
        else:
            assert cache.get(key) == model.get(key), key
    assert set(cache.data) == set(model.items)
    # frequency-list eviction is amortized O(1): the only non-constant
    # step (re-deriving the min bucket) can fire at most once per
    # eviction, and under heavy churn it stays a small fraction
    assert cache.evictions > 1000
    assert cache._min_rescans <= cache.evictions


def test_lfu_policy_and_budget():
    c = LFUCache(40)
    c.put("hot", "xxxx")
    for _ in range(10):
        assert c.get("hot") == "xxxx"
    # fill past budget with cold entries: "hot" must survive, cold evict
    for i in range(10):
        c.put(f"cold{i:02d}", "yyyyyy")
    assert c.get("hot") == "xxxx"
    assert c.size_bytes <= 40 + 14
    # ties broken by recency: oldest least-frequent goes first
    c2 = LFUCache(30)
    c2.put("a", "11111")
    c2.put("b", "22222")
    c2.put("c", "33333")  # a,b,c freq=1 each, 18 bytes
    c2.get("a")
    c2.put("d", "4" * 20)  # forces eviction of b then c (freq 1, oldest first)
    assert "b" not in c2.data and "c" not in c2.data
    assert "a" in c2.data and "d" in c2.data


def _keys(root, flat):
    return [k for k, _ in dag_enum(root, flat, None, None, True, True)]


def test_minimize_preserves_keys_and_shares_suffixes():
    words = sorted(
        {"tap", "taps", "top", "tops", "stop", "stops", "strap", "straps"}
    )
    t = Trie.from_sorted(words)
    root, flat, n = minimize(t)
    assert _keys(root, flat) == words
    # trie has one node per distinct prefix; minimization must share the
    # common "s"-plural suffix structure
    n_trie_nodes = len({w[:i] for w in words for i in range(len(w) + 1)})
    assert n < n_trie_nodes


def test_minimize_bounded_cache_still_correct():
    rng = random.Random(7)
    words = sorted({
        "".join(rng.choice("abcd") for _ in range(rng.randrange(3, 9)))
        for _ in range(300)
    })
    t = Trie.from_sorted(words)
    _, _, n_min = minimize(t)
    for budget in (64, 512, 4096):
        root, flat, n_b = minimize(Trie.from_sorted(words), budget)
        assert _keys(root, flat) == words, budget  # semantics never depend on budget
        assert n_b >= n_min  # smaller map => same-or-less sharing
    # generous budget converges to minimal
    _, _, n_big = minimize(Trie.from_sorted(words), 10**7)
    assert n_big == n_min


def test_deep_keys_no_recursion_limit():
    """4000-char keys (deep trie/DAG) must build, minimize, match and
    enumerate without hitting the Python recursion limit — all DFS walks
    are iterative."""
    from orchid_fst_spark.automata.lev_dfa import compile_dfa
    from orchid_fst_spark.sources.fixtures import fuzzy_golden

    deep = ["a" * 4000 + "x", "a" * 4000 + "y", "b" * 3500]
    root, flat, n = minimize(Trie.from_sorted(sorted(deep)))
    assert _keys(root, flat) == sorted(deep)
    q = "a" * 4000 + "x"
    hits = [k for k, _ in dag_dfa(root, flat, compile_dfa(q, 1, False))]
    assert hits == fuzzy_golden(deep, q, 1, False)
    assert hits == ["a" * 4000 + "x", "a" * 4000 + "y"]


def test_to_dot_own_golden():
    """Byte-exact structural golden for the dot renderer (the reference's
    testFst golden fixtures are absent from its snapshot —
    .MISSING_LARGE_BLOBS — so this pins our own canonical rendering:
    'tap/taps/top' minimizes to 6 nodes with the shared 'p'->terminal
    suffix structure)."""
    t = Trie.from_sorted(["tap", "taps", "top"])
    root, flat, n = minimize(t)
    assert n == 6
    from orchid_fst_spark.automata.trie import to_dot

    assert to_dot(root, flat) == (
        "digraph fst {\n"
        "  rankdir=LR;\n"
        "  node [shape=circle];\n"
        '  n0 [shape=doublecircle, label="0"];\n'
        '  n1 [shape=doublecircle, label="1"];\n'
        '  n1 -> n0 [label="s"];\n'
        '  n2 -> n1 [label="p"];\n'
        '  n3 -> n0 [label="p"];\n'
        '  n4 -> n2 [label="a"];\n'
        '  n4 -> n3 [label="o"];\n'
        '  n5 -> n4 [label="t"];\n'
        "  start [shape=point]; start -> n5;\n"
        "}"
    )


def test_to_dot_renders_minimized_dag():
    from orchid_fst_spark.automata.trie import to_dot

    words = ["tap", "taps", "top", "tops"]
    root, flat, _ = minimize(Trie.from_sorted(words))
    dot = to_dot(root, flat)
    assert dot.startswith("digraph fst {") and dot.endswith("}")
    # 4 terminal words but shared suffix structure -> fewer doublecircles
    # than words is allowed; every edge label is a single char
    import re

    labels = re.findall(r'-> n\d+ \[label="(.)"\]', dot)
    assert labels and set(labels) <= set("tapso")
    assert f"start -> n{root}" in dot
