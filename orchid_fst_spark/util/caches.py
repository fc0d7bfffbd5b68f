"""Byte-budgeted LRU / LFU caches (reference C1/C2, SURVEY.md §2.5).

The reference bounds FST-build memory with a byte-budgeted LRU node map
(lru_cache.h:109-358) and ships an LFU twin (lfu_cache.h:25-503); the
cache budget trades memory for FST minimality (README.md:53-55).  In the
Spark engine the same role appears *inside executors*: bounding per-
partition memoization state in Arrow UDFs (e.g. the suffix-dedup map of
``automata.trie.minimize`` — build-side node sharing) so a hot partition
can never OOM a worker.  Pure Python, no Spark dependency; the
randomized differential test mirrors the reference's cache_unittest
(cache_unittest.cpp:41-152: identical op streams driven into LRU, LFU
and an unbounded map, stats compared).

API (reference lru_cache.h naming): ``get``/``put``/``hit_ratio``;
``size_bytes`` approximates entry cost as len(key)+len(value) the way
the reference charges string bytes.
"""

from __future__ import annotations

from collections import OrderedDict


def _cost(key, value) -> int:
    out = 0
    for v in (key, value):
        if isinstance(v, (str, bytes)):
            out += len(v)
        else:
            out += 8
    return out


class _StatsMixin:
    def hit_ratio(self) -> float:
        total = self.hits + self.misses
        return self.hits / total if total else 0.0


class LRUCache(_StatsMixin):
    """Least-recently-used, evicting until under the byte budget."""

    def __init__(self, budget_bytes: int) -> None:
        self.budget = budget_bytes
        self.data: OrderedDict = OrderedDict()
        self.size_bytes = 0
        self.hits = 0
        self.misses = 0

    def __len__(self) -> int:
        return len(self.data)

    def get(self, key, default=None):
        if key in self.data:
            self.hits += 1
            self.data.move_to_end(key)
            return self.data[key][0]
        self.misses += 1
        return default

    def put(self, key, value, cost: int | None = None) -> None:
        """``cost`` overrides the default byte estimate — callers caching
        decoded objects charge what they hold (e.g. operators.index
        charges a decoded shard its arrays' ``nbytes``)."""
        if key in self.data:
            old_cost = self.data[key][1]
            self.size_bytes -= old_cost
            del self.data[key]
        c = cost if cost is not None else _cost(key, value)
        self.data[key] = (value, c)
        self.size_bytes += c
        while self.size_bytes > self.budget and len(self.data) > 1:
            _, (_, evicted) = self.data.popitem(last=False)
            self.size_bytes -= evicted


class LFUCache(_StatsMixin):
    """Least-frequently-used with LRU tie-break — the frequency-list
    scheme of the reference's lfu_cache.h (each frequency owns an
    access-ordered bucket of keys; a node moves to bucket f+1 on access;
    ``_min_freq`` tracks the lowest non-empty bucket): every operation,
    eviction included, is O(1).

    The tie-break is identical to a global-recency scan: a key enters
    bucket f exactly when it is accessed for the f-th time, so within a
    bucket the insertion order IS last-access order, and the bucket head
    is the least-recently-used among the minimum-frequency keys."""

    def __init__(self, budget_bytes: int) -> None:
        self.budget = budget_bytes
        self.data: dict = {}  # key -> (value, cost)
        self.freq: dict = {}  # key -> frequency
        self.buckets: dict[int, OrderedDict] = {}  # freq -> keys in access order
        self._min_freq = 0
        self._min_rescans = 0  # observability for the amortized-O(1) claim
        self.evictions = 0
        self.size_bytes = 0
        self.hits = 0
        self.misses = 0

    def __len__(self) -> int:
        return len(self.data)

    def _touch(self, key) -> None:
        """Move ``key`` from bucket f to bucket f+1 (O(1))."""
        f = self.freq[key]
        b = self.buckets[f]
        del b[key]
        if not b:
            del self.buckets[f]
            if self._min_freq == f:
                self._min_freq = f + 1
        self.freq[key] = f + 1
        self.buckets.setdefault(f + 1, OrderedDict())[key] = None

    def get(self, key, default=None):
        if key in self.data:
            self.hits += 1
            self._touch(key)
            return self.data[key][0]
        self.misses += 1
        return default

    def put(self, key, value) -> None:
        c = _cost(key, value)
        if key in self.data:
            self.size_bytes -= self.data[key][1]
            self.data[key] = (value, c)
            self.size_bytes += c
            self._touch(key)
        else:
            self.data[key] = (value, c)
            self.size_bytes += c
            self.freq[key] = 1
            self.buckets.setdefault(1, OrderedDict())[key] = None
            self._min_freq = 1
        while self.size_bytes > self.budget and len(self.data) > 1:
            # O(1) victim: head (least recent) of the lowest non-empty
            # frequency bucket.  Re-deriving _min_freq only happens when
            # the bucket it pointed at drained — amortized constant.
            if self._min_freq not in self.buckets:
                self._min_rescans += 1
                self._min_freq = min(self.buckets)
            b = self.buckets[self._min_freq]
            victim = next(iter(b))
            del b[victim]
            if not b:
                del self.buckets[self._min_freq]
            self.size_bytes -= self.data[victim][1]
            del self.data[victim]
            del self.freq[victim]
            self.evictions += 1
