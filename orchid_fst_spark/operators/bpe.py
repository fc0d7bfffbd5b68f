"""Byte-pair-encoding tokenizer training over a corpus.

The tokenizer-training statistic family (Sennrich, Haddow & Birch,
ACL'16 "Neural Machine Translation of Rare Words with Subword Units"):
count adjacent symbol pairs weighted by word frequency and repeatedly
merge the most frequent pair.
Complements `ranking.vocab_topk` (word/bigram counts) with the subword
level the reference's byte-transition FST alphabet hints at (fst.h:59:
transitions are single input units; BPE decides what the units are).

Scale design — everything past the first aggregate is VOCAB-sized, not
corpus-sized:

- the corpus is touched exactly once (word-frequency hash aggregate with
  map-side combine);
- each training iteration runs one pair-count aggregate + one argmax +
  one symbol-array rewrite over the distinct-word frame (~1e6-1e8 rows
  at web scale, never the 10^12-document corpus);
- per-iteration frames are lineage-truncated (``localCheckpoint``) —
  the word frame is consumed twice per iteration (pair counts + merge
  rewrite) and an untruncated double reference doubles the analyzed
  plan tree per iteration (the pagerank/hits lesson, measured 105 s ->
  6.6 s at 3 iterations).

Symbol arrays stay inside Catalyst: chars via ``split(w, '')`` (Java
regex keeps supplementary characters whole, so granularity is code
points — same as the Python reference implementation and the
reference engine's UTF-8 character semantics, utf8_util.cpp:78-90),
pairs via the CollapseProject-safe ``zip_with(slice, slice, ...)``
idiom, merges via a sequential ``F.aggregate`` fold whose lambda
references only its own arguments.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

#: end-of-word marker appended as its own symbol (Sennrich'16 "</w>")
EOW = "</w>"


def reference_bpe(
    wf: dict[str, int],
    num_merges: int,
    eow: str | None = EOW,
    min_freq: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Trusted pure-Python BPE twin of ``bpe_train`` (the Sennrich'16
    algorithm verbatim) over a word-frequency dict.  Used by the
    differential tests and by ``scripts/gen_fixtures.py`` to precompute
    the DuckDB oracle fixture — the same DP-truth pattern as
    ``functions.distance.osa``.  Returns ``[(rank, sym_a, sym_b, n)]``
    with the same (n DESC, sym_a ASC, sym_b ASC) tie-break."""
    words = {w: tuple(w) + ((eow,) if eow else ()) for w in wf}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        pc: Counter = Counter()
        for w, syms in words.items():
            f = wf[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_freq:
            break
        merges.append((rank, a, b, n))

        def _merge(syms: tuple) -> tuple:
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            return tuple(out)

        words = {w: _merge(s) for w, s in words.items()}
    return merges


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the corpus's only scan."""
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _symbols(w: F.Column, eow: str | None) -> F.Column:
    syms = F.split(w, "")
    if eow:
        syms = F.concat(syms, F.array(F.lit(eow)))
    return syms


def _adjacent_pairs(syms_col: str) -> F.Column:
    """array<struct<a,b>> of adjacent symbol pairs; zip_with over two
    slices so the symbol array never appears inside a lambda body."""
    syms = F.col(syms_col)
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(sym_a, sym_b, n) from a (syms, freq) word frame."""
    return (
        words.select(F.explode(_adjacent_pairs("syms")).alias("p"), "freq")
        .groupBy(
            F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b")
        )
        .agg(F.sum("freq").cast("long").alias("n"))
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    eow: str | None = EOW,
    top_n: int | None = None,
) -> DataFrame:
    """Iteration-0 BPE statistics: adjacent character-pair counts
    weighted by word frequency, ``(sym_a, sym_b, n)``.

    ``top_n`` cuts under the total order (n DESC, sym_a ASC, sym_b ASC)
    — plans as TakeOrderedAndProject, never a full sort.  This is the
    frame the first merge argmaxes over; exposing it directly gives the
    same observability as `bucket_profile` for the dedup caps.
    """
    words = word_freqs(docs, text_col).select(
        _symbols(F.col("w"), eow).alias("syms"), "freq"
    )
    out = _pair_counts(words)
    if top_n is not None:
        out = out.orderBy(
            F.desc("n"), F.asc("sym_a"), F.asc("sym_b")
        ).limit(top_n)
    return out


def _merge_symbols(syms: F.Column, a: str, b: str) -> F.Column:
    """Replace each left-to-right non-overlapping adjacent (a, b) with
    the merged symbol a+b — a sequential fold, so both engines (and the
    pure-Python reference) agree on overlap resolution ("aaa" under
    ("a","a") -> ["aa","a"])."""
    merged = F.lit(a + b)

    def step(acc: F.Column, x: F.Column) -> F.Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    eow: str | None = EOW,
    min_freq: int = 2,
) -> DataFrame:
    """Learn a BPE merge table: ``(rank, sym_a, sym_b, n)``, rank 0 =
    first (most frequent) merge.

    Ties break deterministically on (n DESC, sym_a ASC, sym_b ASC) —
    partitioning-independent, so the learned table is reproducible.
    Training state is the distinct-word frame only; each iteration is
    one pair-count aggregate, one 1-row TakeOrdered argmax (a driver
    scalar, like the pagerank normalizers), and one fold rewrite, with
    the word frame lineage-truncated per iteration.  Stops early when
    no pair reaches ``min_freq`` (merging hapax pairs memorizes words).
    """
    spark = docs.sparkSession
    words = word_freqs(docs, text_col).select(
        _symbols(F.col("w"), eow).alias("syms"), "freq"
    )
    words = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("n"), F.asc("sym_a"), F.asc("sym_b"))
            .limit(1)
            .collect()
        )
        if not best or best[0].n < min_freq:
            break
        a, b, n = best[0].sym_a, best[0].sym_b, int(best[0].n)
        merges.append((rank, a, b, n))
        words = words.select(
            _merge_symbols(F.col("syms"), a, b).alias("syms"), "freq"
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "rank long, sym_a string, sym_b string, n long"
    )
