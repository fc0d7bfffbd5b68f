"""CLK privacy-preserving linkage (er/privacy.py): pure-Python
differential for the Bloom encoding + Dice, HLSH subset/recall
properties, cap semantics, and the no-Python plan pin."""

import hashlib

import pytest
from pyspark.sql import functions as F

from orchid_fst_spark.er.privacy import (
    clk_cardinalities,
    clk_dice_pairs,
    clk_encode,
    clk_hlsh_pairs,
    hlsh_band_positions,
)

WORDS = [
    "table", "tible", "tbale", "chair", "chairs", "lamp", "lamps",
    "zebra", "spark", "spork", "sparks", "engine", "enginee", "engnie",
]


def _py_clk(key: str, m_bits: int = 256, k: int = 2, q: int = 2,
            salt: str = "clk") -> set:
    p = f"_{key}_"
    grams = [p[i:i + q] for i in range(len(p) - q + 1)]
    out = set()
    for g in grams:
        for i in range(k):
            h = int(
                hashlib.md5(f"{salt}|{i}|{g}".encode()).hexdigest()[:15], 16
            )
            out.add(h % m_bits)
    return out


def _py_dice(a: set, b: set) -> float:
    return round(2.0 * len(a & b) / (len(a) + len(b)), 6)


def _df(spark, words=WORDS):
    return spark.createDataFrame([(w,) for w in words], "key string")


def test_clk_encode_matches_python_reference(spark):
    enc = clk_encode(_df(spark), "key")
    got = {}
    for r in enc.collect():
        s = got.setdefault(r.id, set())
        for b in range(32):
            if r.bits & (1 << b):
                s.add(r.word * 32 + b)
    for w in WORDS:
        assert got[w] == _py_clk(w), w
    cards = {r.id: r.card for r in clk_cardinalities(enc).collect()}
    assert cards == {w: len(_py_clk(w)) for w in WORDS}


def test_clk_dice_matches_python_reference(spark):
    enc = clk_encode(_df(spark), "key")
    got = {
        (r.id_a, r.id_b): (r.inter_bits, r.dice)
        for r in clk_dice_pairs(enc, threshold=0.5).collect()
    }
    sets = {w: _py_clk(w) for w in WORDS}
    expect = {}
    for i, a in enumerate(sorted(WORDS)):
        for b in sorted(WORDS)[i + 1:]:
            d = _py_dice(sets[a], sets[b])
            if d >= 0.5:
                expect[(a, b)] = (len(sets[a] & sets[b]), d)
    assert got == expect
    # the planted near-duplicates must actually link
    assert ("chair", "chairs") in got and ("spark", "spork") in got


def test_clk_hlsh_subset_and_recall(spark):
    enc = clk_encode(_df(spark), "key")
    brute = {
        (r.id_a, r.id_b): r.dice
        for r in clk_dice_pairs(enc, threshold=0.5).collect()
    }
    hlsh = {
        (r.id_a, r.id_b): r.dice
        for r in clk_hlsh_pairs(
            enc, n_bands=12, band_bits=3, threshold=0.5
        ).collect()
    }
    # perfect precision: HLSH emits only brute pairs, identical dice
    assert set(hlsh) <= set(brute)
    for k, v in hlsh.items():
        assert brute[k] == v
    # at 12x3-bit bands the similar encodings all collide somewhere
    assert set(hlsh) == set(brute)


def test_clk_hlsh_partitioning_invariant(spark):
    df = _df(spark)
    a = sorted(
        tuple(r)
        for r in clk_hlsh_pairs(
            clk_encode(df, "key"), n_bands=8, band_bits=4, threshold=0.5
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in clk_hlsh_pairs(
            clk_encode(df.repartition(7), "key"),
            n_bands=8,
            band_bits=4,
            threshold=0.5,
        ).collect()
    )
    assert a == b


def test_clk_band_positions_are_constants():
    p1 = hlsh_band_positions(4, 3, 256)
    p2 = hlsh_band_positions(4, 3, 256)
    assert p1 == p2
    assert all(0 <= p < 256 for ps in p1 for p in ps)
    assert hlsh_band_positions(4, 3, 256, salt="other") != p1


def test_clk_bucket_cap_purges_degenerate_band(spark):
    # cap 1 purges every bucket (no bucket can hold <= 1 member and
    # still produce a pair), so HLSH yields nothing — the observable
    # degenerate-band behavior, never a quadratic explosion
    enc = clk_encode(_df(spark), "key")
    got = clk_hlsh_pairs(
        enc, n_bands=4, band_bits=2, threshold=0.5, bucket_cap=1
    ).collect()
    assert got == []


def test_clk_validation_errors(spark):
    df = _df(spark)
    with pytest.raises(ValueError):
        clk_encode(df, "key", m_bits=100)
    with pytest.raises(ValueError):
        clk_encode(df, "key", k_hashes=0)
    with pytest.raises(ValueError):
        clk_dice_pairs(clk_encode(df, "key"), threshold=0.0)
    # brute-force oracle refuses unbounded inputs loudly; override is
    # explicit (mirrors cosine_threshold_pairs' max_rows guard)
    with pytest.raises(ValueError, match="brute-force.*more than 1 ids"):
        clk_dice_pairs(clk_encode(df, "key"), threshold=0.5, max_ids=1)
    n_pairs = clk_dice_pairs(
        clk_encode(df, "key"), threshold=0.5, max_ids=None
    ).count()
    assert n_pairs >= 0
    # an input of exactly the bound is within it
    n_ids = clk_encode(df, "key").select("id").distinct().count()
    assert (
        clk_dice_pairs(clk_encode(df, "key"), threshold=0.5, max_ids=n_ids).count()
        == n_pairs
    )


def test_clk_plan_is_jvm_only(spark):
    # the whole PPRL path must stay inside Catalyst: no Python eval
    # nodes anywhere (the encoding is explode+hash, the verify is
    # bit arithmetic)
    enc = clk_encode(_df(spark), "key")
    pairs = clk_hlsh_pairs(enc, n_bands=4, band_bits=4, threshold=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "mapInPandas" not in plan


def test_clk_id_col_and_unpadded(spark):
    df = spark.createDataFrame(
        [(1, "table"), (2, "tible")], "rid int, key string"
    )
    enc = clk_encode(df, "key", id_col="rid", pad=False)
    ids = {r.id for r in enc.collect()}
    assert ids == {1, 2}
    # unpadded "table" has 4 bigrams -> at most 8 positions
    card = {r.id: r.card for r in clk_cardinalities(enc).collect()}
    assert card[1] <= 8
