"""Privacy-preserving record linkage: CLK Bloom-filter encodings.

Schnell, Bachteler & Reiher ("Privacy-preserving record linkage using
Bloom filters", BMC Med Inform Decis Mak 2009): each record's
quasi-identifier is encoded into a fixed-size Bloom filter of its
character q-grams — the "cryptographic long-term key" (CLK) — and the
linkage unit compares only the bitsets via the Dice coefficient, never
the cleartext.  This is the standard PPRL construction (Vatsalan,
Christen & Verykios' 2013 taxonomy) and the privacy-preserving twin of
this engine's fuzzy-key matching: the same record-linkage decision the
reference's edit-distance automata make on cleartext keys
(automaton.cpp IsMatch semantics), made on irreversible encodings.

Everything is integer-exact and engine-portable by construction: bit
positions are md5-derived (identical hex in Spark and DuckDB), bitsets
are BIGINT words combined with ``bit_or``, intersections are
``bit_count`` sums, and the only float — the Dice ratio — is one
division of exact longs rounded 6dp (the cross-engine float recipe).

Scale story (the 100 TB shape):

- ``clk_encode`` is a corpus-sized map + ONE hash aggregation to
  (id, word) — no UDFs, no shuffle beyond the groupBy.
- ``clk_hlsh_pairs`` is the shipped candidate generator: Hamming-LSH
  over the encodings (Durham 2012's multibit-sampling idea) — each
  band samples ``band_bits`` fixed bit positions, records joining on
  equal band keys.  Bands are equi-joins on (band, key) buckets with
  the same over-cap purge discipline as every other blocking operator
  here; the corpus is never brute-forced.
- ``clk_dice_pairs`` (all pairs sharing any word — effectively all
  pairs) is the documented bounded-input oracle twin, same convention
  as ``cosine_threshold_pairs`` next to the LSH/IVF scale paths.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import drop_hot

__all__ = [
    "clk_encode",
    "clk_cardinalities",
    "clk_dice_pairs",
    "hlsh_band_positions",
    "clk_hlsh_pairs",
]


def clk_encode(
    records: DataFrame,
    key_col: str = "key",
    id_col: str | None = None,
    m_bits: int = 256,
    k_hashes: int = 2,
    q: int = 2,
    salt: str = "clk",
    pad: bool = True,
) -> DataFrame:
    """Bloom-encode ``key_col`` into an ``m_bits``-bit CLK per record.

    Each padded character q-gram sets ``k_hashes`` positions
    ``md5('{salt}|{i}|' + gram) % m_bits`` (double-hashing in the
    original paper; independent salted hashes here — md5 hex strings
    are identical in Spark and DuckDB, making the encoding
    engine-portable).  ``pad=True`` wraps the key in ``_`` sentinels so
    boundary grams carry first/last-character evidence (Schnell's
    padded-bigram recommendation).

    Returns the packed long-format bitset ``(id, word, bits)`` —
    ``word = position div 32``, ``bits`` the BIGINT holding those 32
    bits (at most ``m_bits/32`` rows per record).  32-bit packing in a
    64-bit column keeps every mask positive — ``1 << 63`` signedness
    differs between DuckDB (overflow error) and the JVM — the same
    convention as ``operators.sketch``'s Bloom filter.  Long format
    keeps every downstream comparison a JVM ``bit_count``/``&`` on
    longs and lets intersections join on ``word`` instead of shipping
    whole arrays.

    Plan: explode grams -> k position expressions -> ONE groupBy
    (id, word) with ``bit_or`` (map-side partial combine); no Python,
    no window, one Exchange.
    """
    if m_bits % 32 != 0:
        raise ValueError(f"m_bits must be a multiple of 32, got {m_bits}")
    if k_hashes < 1:
        raise ValueError("k_hashes must be >= 1")
    rid = F.col(id_col) if id_col else F.col(key_col)
    key = F.col(key_col)
    padded = F.concat(F.lit("_"), key, F.lit("_")) if pad else key

    grams = records.select(
        rid.alias("id"),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(padded) - (q - 1), F.lit(1))
                ),
                lambda i: F.substring(padded, i, q),
            )
        ).alias("g"),
    ).filter(F.length("g") == q)

    pos_exprs = [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}|{i}|"), F.col("g"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(m_bits),
        )
        for i in range(k_hashes)
    ]
    pos = grams.select("id", F.explode(F.array(*pos_exprs)).alias("pos"))
    word = F.call_function("div", F.col("pos"), F.lit(32))
    bit = F.pmod(F.col("pos"), F.lit(32)).cast("int")
    return (
        pos.select(
            "id",
            word.alias("word"),
            F.call_function("shiftleft", F.lit(1).cast("long"), bit).alias(
                "b"
            ),
        )
        .groupBy("id", "word")
        .agg(F.bit_or("b").alias("bits"))
    )


def clk_cardinalities(enc: DataFrame) -> DataFrame:
    """Set-bit count per encoding: ``(id, card)`` — the Dice
    denominator, one map-side-combined aggregate."""
    return enc.groupBy("id").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("card")
    )


def clk_dice_pairs(
    enc: DataFrame, threshold: float = 0.6, max_ids: int | None = 100_000
) -> DataFrame:
    """All encoding pairs with Dice >= threshold — the BRUTE verify.

    Dice(a, b) = 2*|a AND b| / (|a| + |b|), intersections summed over
    shared packed words (``bit_count(a & b)``), cardinalities exact
    longs, the ratio rounded 6dp before the threshold (cross-engine
    float recipe).  Output: ``(id_a, id_b, inter_bits, card_a, card_b,
    dice)``.

    BOUNDED-INPUT ORACLE TWIN: the word equi-join pairs every two
    records sharing any word — on dense encodings that is the full
    cross product, exactly like ``cosine_threshold_pairs`` next to the
    LSH path.  The shipped scale path is ``clk_hlsh_pairs``.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (0 would imply all pairs)")
    if max_ids is not None:
        if enc.select("id").distinct().limit(max_ids + 1).count() > max_ids:
            raise ValueError(
                f"clk_dice_pairs is a brute-force oracle (dense encodings "
                f"make the word join the full cross product): input has "
                f"more than {max_ids} ids (max_ids={max_ids}). Use "
                f"clk_hlsh_pairs for scale, or pass max_ids=None to override."
            )
    a = enc.select(
        F.col("id").alias("id_a"), "word", F.col("bits").alias("ba")
    )
    b = enc.select(
        F.col("id").alias("id_b"), "word", F.col("bits").alias("bb")
    )
    inter = (
        a.join(b, "word")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("long")
            .alias("inter_bits")
        )
    )
    return _dice_verify(inter, enc, threshold)


def _dice_verify(
    inter: DataFrame, enc: DataFrame, threshold: float
) -> DataFrame:
    """Attach cardinalities + 6dp Dice to (id_a, id_b, inter_bits) and
    threshold-filter.  Shared by the brute and HLSH paths so both
    compute the identical decision."""
    cards = clk_cardinalities(enc)
    dice = F.round(
        (F.lit(2.0) * F.col("inter_bits"))
        / (F.col("card_a") + F.col("card_b")),
        6,
    )
    return (
        inter.join(
            cards.select(F.col("id").alias("id_a"), F.col("card").alias("card_a")),
            "id_a",
        )
        .join(
            cards.select(F.col("id").alias("id_b"), F.col("card").alias("card_b")),
            "id_b",
        )
        .withColumn("dice", dice)
        .filter(F.col("dice") >= threshold)
        .select("id_a", "id_b", "inter_bits", "card_a", "card_b", "dice")
    )


def hlsh_band_positions(
    n_bands: int = 8,
    band_bits: int = 4,
    m_bits: int = 256,
    salt: str = "hlsh",
) -> list[list[int]]:
    """The Hamming-LSH sampled bit positions — md5-derived DRIVER-SIDE
    constants (``md5('{salt}|{band}|{j}') % m_bits``), so any engine
    (and the DuckDB oracle) regenerates the identical sampling with no
    runtime randomness.  Duplicate positions within a band are kept:
    they only make that band's key shorter-entropy, never wrong."""
    return [
        [
            int(
                hashlib.md5(f"{salt}|{b}|{j}".encode()).hexdigest()[:15], 16
            )
            % m_bits
            for j in range(band_bits)
        ]
        for b in range(n_bands)
    ]


def clk_hlsh_pairs(
    enc: DataFrame,
    n_bands: int = 8,
    band_bits: int = 4,
    m_bits: int = 256,
    threshold: float = 0.6,
    salt: str = "hlsh",
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Hamming-LSH blocked CLK matching — the PPRL scale path.

    Each of ``n_bands`` bands samples ``band_bits`` fixed bit positions
    (``hlsh_band_positions``); a record's band key is the concatenated
    0/1 values of its CLK at those positions, and records sharing any
    band key become candidates (Durham's multibit-tree/LSH blocking for
    Bloom-encoded PPRL, 2012).  Similar encodings (small Hamming
    distance) agree on all sampled bits of some band with high
    probability; recall is tunable via (n_bands, band_bits) exactly
    like MinHash banding.

    Candidates then get the EXACT Dice verify of ``clk_dice_pairs`` —
    same rounding, same threshold semantics — so HLSH output is always
    a subset of the brute output (probabilistic recall, perfect
    precision; the standard LSH trade, pinned by test).

    Plan: one m_bits/64-row-per-id aggregate builds the packed word
    map; band keys are pure JVM bit arithmetic on map lookups; each
    band is an equi-join on (band, key) with over-``bucket_cap``
    buckets purged by ``drop_hot``'s spillable window count (a
    degenerate band key — e.g. all-zero positions over a skewed corpus
    — is capped, observable, and never quadratic); the verify joins
    candidate pairs back to the long-format words on (id, word).
    """
    bands = hlsh_band_positions(n_bands, band_bits, m_bits, salt)

    wm = enc.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word"), F.col("bits")))
        ).alias("wm")
    )

    def _bitflag(p: int) -> F.Column:
        w = F.coalesce(
            F.element_at(F.col("wm"), F.lit(p // 32)), F.lit(0).cast("long")
        )
        return (
            F.call_function("shiftright", w, F.lit(p % 32).cast("int"))
            .bitwiseAND(F.lit(1).cast("long"))
            .cast("string")
        )

    keyed = wm.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat(*[_bitflag(p) for p in ps]).alias("bkey"),
                    )
                    for bi, ps in enumerate(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))

    capped = drop_hot(keyed, ["band", "bkey"], bucket_cap)
    left = capped.select("band", "bkey", F.col("id").alias("id_a"))
    right = capped.select("band", "bkey", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    a = enc.select(
        F.col("id").alias("id_a"), "word", F.col("bits").alias("ba")
    )
    b = enc.select(
        F.col("id").alias("id_b"), "word", F.col("bits").alias("bb")
    )
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "word"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("long")
            .alias("inter_bits")
        )
    )
    return _dice_verify(inter, enc, threshold)
