"""Output checks: reference computations the program's results are
compared against.  They share no code with the program under test."""

from __future__ import annotations

from collections import Counter

import numpy as np


def _pairs(counts) -> int:
    return sum(n * (n - 1) // 2 for n in counts)


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a clustering ``pred`` (item -> label) against
    ``truth`` (item -> label), over the items of ``truth``; an item
    missing from ``pred`` counts as a singleton.  Pair counts come from
    cluster-size histograms, so no pair list is built."""
    missing = object()
    labels = [(pred.get(item, (missing, item)), t) for item, t in truth.items()]
    tp = _pairs(Counter(labels).values())
    pred_pairs = _pairs(Counter(p for p, _ in labels).values())
    true_pairs = _pairs(Counter(t for _, t in labels).values())
    precision = tp / pred_pairs if pred_pairs else 1.0
    recall = tp / true_pairs if true_pairs else 1.0
    if precision + recall == 0:
        return 0.0
    return 2 * precision * recall / (precision + recall)


def set_f1(found: set, expected: set) -> float:
    """F1 of a found set against an expected set (1.0 when both empty)."""
    if not found and not expected:
        return 1.0
    tp = len(found & expected)
    if tp == 0:
        return 0.0
    precision, recall = tp / len(found), tp / len(expected)
    return 2 * precision * recall / (precision + recall)


class LevOracle:
    """Brute-force Levenshtein DP of one query against every key at once:
    the DP runs cell by cell over (query char, key position) with numpy
    vectorising across keys, so it shares nothing with the program's
    automaton or its banded kernels."""

    def __init__(self, keys: list[str]):
        self.keys = np.array(keys, dtype=object)
        self.lens = np.array([len(k) for k in keys])
        width = int(self.lens.max())
        self.codes = np.zeros((len(keys), width), dtype=np.int32)
        for i, k in enumerate(keys):
            self.codes[i, : len(k)] = [ord(c) for c in k]

    def within(self, query: str, k: int) -> set[str]:
        sel = np.nonzero(np.abs(self.lens - len(query)) <= k)[0]
        codes, lens = self.codes[sel], self.lens[sel]
        width = codes.shape[1]
        n = len(sel)
        # prev[:, j] = distance(query[:i], key[:j])
        prev = np.tile(np.arange(width + 1), (n, 1))
        for i, qc in enumerate(query, start=1):
            cur = np.empty_like(prev)
            cur[:, 0] = i
            for j in range(1, width + 1):
                sub = prev[:, j - 1] + (codes[:, j - 1] != ord(qc))
                cur[:, j] = np.minimum(np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1), sub)
            prev = cur
        dist = prev[np.arange(n), lens]
        return set(self.keys[sel[dist <= k]].tolist())
