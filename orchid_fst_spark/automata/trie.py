"""Sorted-key trie, its minimized flat DAG, the DAG walks, and the
deletion-neighborhood signature generator.

The DAG is the executor-side stand-in for the reference's mmap'd FST
(/root/reference/.../fst.h:275-324): ``minimize`` freezes a ``Trie``
built over sorted keys into a suffix-shared DAG stored as flat CSR
arrays (``FlatDag``), the one node format every reader walks —
``dag_enum`` (bound-aware enumeration) and ``dag_dfa`` (the reference's
automaton ∩ FST DFS, fst.cpp:471-524, against a compiled edit-distance
DFA).  Edges are sorted by code point, so enumeration is lexicographic,
matching the reference's emission order.

``deletion_variants`` powers the shuffle-native candidate generator
(SymSpell-style): two strings within (Damerau-)Levenshtein distance k
share at least one variant obtained by deleting <= k chars from each —
so a join on variants is a complete candidate filter, verified exactly
afterwards.  This is the path that scales: it is pure explode + equi-join
+ dedup, no per-query DFA compile.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np


class Trie:
    """Plain dict-based trie over code points; values optional (map mode
    carries the reference's uint64 value, fst.h:131)."""

    __slots__ = ("root", "n_keys")

    def __init__(self) -> None:
        self.root: dict = {}
        self.n_keys = 0

    def insert(self, key: str, value=None) -> None:
        node = self.root
        for ch in key:
            node = node.setdefault(ch, {})
        # terminal marker: empty-string slot (cannot collide with a char);
        # duplicate key overwrites -> last-wins upsert (fst.cpp:180-189)
        node[""] = value
        self.n_keys += 1

    @classmethod
    def from_sorted(cls, keys, values=None) -> "Trie":
        t = cls()
        if values is None:
            for k in keys:
                t.insert(k)
        else:
            for k, v in zip(keys, values):
                t.insert(k, v)
        return t


class FlatDag:
    """Minimized DAG as numpy arrays with CSR edges: node ``i``'s edges
    are ``ptr[i]:ptr[i+1]`` into ``chars`` (code points, sorted — the
    lexicographic DFS order, binary-searchable for pinned descent) and
    ``dst`` (child ids); ``final[i]`` marks terminal nodes, whose value
    is ``vals[i]`` unless ``vnone[i]`` (set mode).

    Numpy arrays unpickle at memcpy speed (~10 ms per 100k-node shard;
    a pickled table of Python dicts took ~1.6 s), so a cold executor
    decode of a persisted index shard is never a cliff."""

    __slots__ = ("ptr", "chars", "dst", "final", "vals", "vnone")

    def __init__(self, ptr, chars, dst, final, vals, vnone):
        self.ptr = ptr
        self.chars = chars
        self.dst = dst
        self.final = final
        self.vals = vals
        self.vnone = vnone


def minimize(trie: Trie, cache_budget_bytes: int | None = None):
    """Suffix-sharing minimization of a built trie into a DAG (the
    reference's FreezeNode dedup, fst.cpp:96-115: identical frozen nodes
    are reused via a node-signature map).  With an unbounded map the
    result is the minimal acyclic automaton; with a byte-budgeted LRU map
    (``cache_budget_bytes``, the analog of FstBuildNodeMapType's LRU,
    fst.h:197-206) memory stays bounded and the result is *approximately*
    minimal — smaller budget => fewer shared suffixes (README.md:53-55).

    Returns (root_id, FlatDag, n_unique).  Nodes are frozen in post-order
    and each new node's sorted edges are appended at freeze time, so
    ids and CSR edge runs are assigned together; terminal info is
    carried in the signature so equivalence is exact.
    """
    from ..util.caches import LRUCache

    sig_map = LRUCache(cache_budget_bytes) if cache_budget_bytes else {}
    is_dict = isinstance(sig_map, dict)
    ptr = [0]
    edge_chars: list = []
    edge_dst: list = []
    final: list = []
    vals: list = []
    vnone: list = []

    def _freeze_done(node: dict, chars: list, child_ids: list) -> int:
        term = "" in node
        val = node.get("")
        sig = (term, val, tuple(zip(chars, child_ids)))
        key = repr(sig)
        hit = sig_map.get(key)
        if hit is not None:
            return hit
        nid = len(final)
        edge_chars.extend(map(ord, chars))
        edge_dst.extend(child_ids)
        ptr.append(len(edge_dst))
        final.append(term)
        vnone.append(term and val is None)
        vals.append(0 if val is None else val)
        if is_dict:
            sig_map[key] = nid
        else:
            sig_map.put(key, nid)
        return nid

    # iterative post-order (explicit stack — key length never hits the
    # Python recursion limit): frames are
    # [node, sorted child chars, next child idx, collected child ids]
    root_node = trie.root
    stack = [[root_node, sorted(k for k in root_node if k), 0, []]]
    root = None
    while stack:
        frame = stack[-1]
        node, chars, idx, child_ids = frame
        if idx < len(chars):
            frame[2] += 1
            child = node[chars[idx]]
            stack.append([child, sorted(k for k in child if k), 0, []])
            continue
        nid = _freeze_done(node, chars, child_ids)
        stack.pop()
        if stack:
            stack[-1][3].append(nid)
        else:
            root = nid
    flat = FlatDag(
        np.array(ptr, dtype=np.int64),
        np.array(edge_chars, dtype=np.uint32),
        np.array(edge_dst, dtype=np.int64),
        np.array(final, dtype=np.bool_),
        np.array(vals, dtype=np.int64),
        np.array(vnone, dtype=np.bool_),
    )
    return root, flat, len(final)


def dag_enum(
    root: int,
    flat: FlatDag,
    lo,
    hi,
    lo_inc: bool,
    hi_inc: bool,
    require_prefix: str | None = None,
):
    """Bound-aware lexicographic DFS over a FlatDag; returns the
    (key, value) pairs within the range.  Subtrees are pruned as soon as
    their prefix provably falls outside [lo, hi] (the FST iterator's
    bound seek).  ``require_prefix`` restricts results (and the walk)
    to keys carrying that prefix WITHOUT a synthetic upper bound — a
    ``prefix + U+10FFFF`` hi would wrongly exclude a stored key of the
    form ``prefix + U+10FFFF + more``."""
    ptr, chars, dst = flat.ptr, flat.chars, flat.dst
    final, vals, vnone = flat.final, flat.vals, flat.vnone
    out: list = []
    p = require_prefix

    def in_range(key: str) -> bool:
        if lo is not None and (key < lo or (key == lo and not lo_inc)):
            return False
        if hi is not None and (key > hi or (key == hi and not hi_inc)):
            return False
        if p is not None and not key.startswith(p):
            return False
        return True

    # iterative DFS (explicit stack: key depth never hits the recursion
    # limit); frames: [node_id, prefix, next edge offset]
    stack = [[root, "", 0]]
    while stack:
        frame = stack[-1]
        nid, prefix, idx = frame
        if idx == 0 and final[nid] and in_range(prefix):
            out.append((prefix, None if vnone[nid] else int(vals[nid])))
        e = int(ptr[nid]) + idx
        if e >= int(ptr[nid + 1]):
            stack.pop()
            continue
        frame[2] += 1
        q = prefix + chr(int(chars[e]))
        if hi is not None and q > hi:
            continue  # every extension of q sorts after hi
        if lo is not None and q < lo[: len(q)]:
            continue  # every extension of q sorts before lo
        if p is not None:
            d = len(q)
            if (q != p[:d]) if d <= len(p) else (not q.startswith(p)):
                continue  # subtree shares no key with the prefix
        stack.append([int(dst[e]), q, 0])
    return out


def dag_dfa(root: int, flat: FlatDag, dfa, pin: str = ""):
    """DFS of the DAG ∩ compiled edit-distance DFA (reference automaton ∩
    FST, fst.cpp:471-524: prune on CanMatch-dead transitions, emit on
    final ∧ IsMatch); returns (key, value) pairs in lexicographic order.
    ``pin`` descends the exact prefix path FIRST (stepping the DFA along
    it, binary search per edge list) and only then starts the product
    DFS — the samePrefixLen narrowing happens in the walk itself, not as
    a post-filter, so a pinned query touches just the pinned subtree."""
    ptr, chars, dst = flat.ptr, flat.chars, flat.dst
    final, vals, vnone = flat.final, flat.vals, flat.vnone
    out: list = []
    is_match = dfa.is_match
    state: int | None = dfa.start
    nid = root
    for ch in pin:
        lo_e, hi_e = int(ptr[nid]), int(ptr[nid + 1])
        j = lo_e + int(np.searchsorted(chars[lo_e:hi_e], ord(ch)))
        if j >= hi_e or int(chars[j]) != ord(ch):
            return out  # no key in this DAG starts with the pin
        state = dfa.step(state, ch)
        if state is None:
            return out  # no pinned key can be within distance k
        nid = int(dst[j])
    # iterative DFS (explicit stack: key depth never hits the recursion
    # limit); frames: [node_id, dfa_state, prefix, next edge offset]
    stack = [[nid, state, pin, 0]]
    while stack:
        frame = stack[-1]
        nid, state, prefix, idx = frame
        if idx == 0 and final[nid] and is_match[state]:
            out.append((prefix, None if vnone[nid] else int(vals[nid])))
        e = int(ptr[nid]) + idx
        if e >= int(ptr[nid + 1]):
            stack.pop()
            continue
        frame[3] += 1
        ch = chr(int(chars[e]))
        nxt = dfa.step(state, ch)
        if nxt is None:
            continue
        stack.append([int(dst[e]), nxt, prefix + ch, 0])
    return out


def deletion_variants(s: str, k: int, max_len: int = 64) -> list[str]:
    """All distinct strings obtained by deleting up to ``k`` code points
    from ``s`` (including ``s`` itself).  Long keys are truncated to
    ``max_len`` first — both sides of a join must use the same cap, and
    candidates are always verified with an exact DP afterwards, so the
    cap only (slightly) loosens the filter for near-identical long keys.
    """
    s = s[:max_len]
    n = len(s)
    out = {s}
    if k >= 1:
        for i in range(n):
            out.add(s[:i] + s[i + 1 :])
    if k >= 2 and n >= 2:
        for i, j in combinations(range(n), 2):
            out.add(s[:i] + s[i + 1 : j] + s[j + 1 :])
    return list(out)


def to_dot(root_id: int, flat: FlatDag) -> str:
    """Graphviz rendering of a minimized DAG — the debug sink the
    reference ships as FstReader::DotDraw (fst.cpp:336-411).  Terminal
    nodes are doublecircle (labeled with the value in map mode); edges
    are labeled with their character."""
    lines = ["digraph fst {", "  rankdir=LR;", '  node [shape=circle];']
    n = len(flat.final)
    for nid in range(n):
        if flat.final[nid]:
            label = f"{nid}" if flat.vnone[nid] else f"{nid}/{int(flat.vals[nid])}"
            lines.append(f'  n{nid} [shape=doublecircle, label="{label}"];')
    for nid in range(n):
        for e in range(int(flat.ptr[nid]), int(flat.ptr[nid + 1])):
            ch = chr(int(flat.chars[e]))
            lines.append(f'  n{nid} -> n{int(flat.dst[e])} [label="{ch}"];')
    lines.append(f'  start [shape=point]; start -> n{root_id};')
    lines.append("}")
    return "\n".join(lines)
