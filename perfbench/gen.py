"""Seeded input generators for the three benchmark workloads.

Everything here is plain Python/numpy: the program under test only ever
sees the DataFrames built from these records, never the seed.  The same
seed gives byte-identical records.
"""

from __future__ import annotations

import random

# The 30-word vocabulary of the engine's synthetic documents table: titles
# built from it share boilerplate, which is what makes segment blocking
# emit far more candidate pairs than it verifies.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_SOURCES = 20

# fuzzy_index keys are built from these syllables, so most keys have
# neighbours within two edits (random hex keys have almost none).
_ONSETS = "b d f g k l m n p r s t v z br kr st tr".split()
_VOWELS = "a e i o u ai".split()
_CODAS = ["", "", "", "n", "r", "s", "l"]


def _doc_texts(rng: random.Random, n_docs: int) -> list[tuple[str, str]]:
    """(source, text) per doc; no two docs of one source share the
    24-char title prefix, so every truth cluster has its own key."""
    seen: set[tuple[str, str]] = set()
    out = []
    while len(out) < n_docs:
        source = f"src{len(out) % N_SOURCES}"
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 40)))
        if (source, text[:24]) in seen:
            continue
        seen.add((source, text[:24]))
        out.append((source, text))
    return out


def pages(seed: int, n_docs: int) -> list[tuple[str, int]]:
    """(url, truth_cluster) rows: each doc yields its title plus a
    one-char-deletion variant and an adjacent-transposition variant of
    it, the same way the repo's bench ``_pages`` builds its x1 pages
    from the documents table (copy tag 0 -> ``0003``/``3000``)."""
    rng = random.Random(seed)
    rows = []
    for doc_id, (source, text) in enumerate(_doc_texts(rng, n_docs)):
        title = "0003-" + text[:24].replace(" ", "-") + "-3000"
        t_del = title[:9] + title[10:50]
        t_swap = title[:6] + title[7] + title[6] + title[8:48]
        for tag, t in (("0", title), ("1", t_del), ("2", t_swap)):
            rows.append(
                (f"https://{source}.example.com/{t}?id={doc_id}&v={tag}", doc_id)
            )
    return rows


def _node_ids(rng: random.Random, n: int) -> list[str]:
    """n distinct string ids in shuffled order: the lexicographic order of
    ids along a path is random, which is what forces many star rounds."""
    ids = [f"n{i:07d}" for i in range(n)]
    rng.shuffle(ids)
    return ids


def graph(
    seed: int, n_paths: int, path_len: int, n_hubs: int, hub_leaves: int
) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """(edges, truth) where truth maps every node to the lexicographic
    minimum id of its component.  Paths of ``path_len`` nodes need many
    rounds; hubs with ``hub_leaves`` leaves each are hot keys in the
    large-star groupBy."""
    rng = random.Random(seed)
    ids = iter(_node_ids(rng, n_paths * path_len + n_hubs * (hub_leaves + 1)))
    edges: list[tuple[str, str]] = []
    truth: dict[str, str] = {}
    for _ in range(n_paths):
        comp = [next(ids) for _ in range(path_len)]
        edges.extend(zip(comp, comp[1:]))
        lo = min(comp)
        truth.update((v, lo) for v in comp)
    for _ in range(n_hubs):
        hub = next(ids)
        leaves = [next(ids) for _ in range(hub_leaves)]
        edges.extend((hub, leaf) if rng.random() < 0.5 else (leaf, hub) for leaf in leaves)
        lo = min(hub, *leaves)
        truth[hub] = lo
        truth.update((v, lo) for v in leaves)
    rng.shuffle(edges)
    return edges, truth


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
        for _ in range(rng.randint(1, 3))
    )


def dictionary(seed: int, n_keys: int) -> list[str]:
    """n_keys distinct syllable words, sorted."""
    rng = random.Random(seed)
    keys: set[str] = set()
    while len(keys) < n_keys:
        keys.add(_word(rng))
    return sorted(keys)


def _edit(rng: random.Random, s: str) -> str:
    alphabet = "abdefgiklmnoprstuvz"
    i = rng.randrange(len(s) + 1)
    op = rng.choice("sid") if len(s) > 1 else "i"
    if op == "s" and i < len(s):
        return s[:i] + rng.choice(alphabet) + s[i + 1 :]
    if op == "d" and i < len(s):
        return s[:i] + s[i + 1 :]
    return s[:i] + rng.choice(alphabet) + s[i:]


def queries(seed: int, keys: list[str], n: int) -> list[tuple[str, str]]:
    """(query, source_key) pairs: a random key with 0-2 random
    single-character edits applied, so each query is within Levenshtein
    distance 2 of its source key."""
    rng = random.Random(seed + 7919)
    out = []
    for _ in range(n):
        src = rng.choice(keys)
        q = src
        for _ in range(rng.randint(0, 2)):
            q = _edit(rng, q)
        out.append((q, src))
    return out
