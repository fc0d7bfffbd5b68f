"""Operator-level tests for chunking / sequence packing / interval
join / prefix-filter set-similarity / weighted sampling / cube stats:
the edge cases the sf-data oracle parity can't reach (boundary
half-openness, partitioning invariance, lossless-filter completeness,
empty docs)."""

import math
import os
import sys
from datetime import datetime, timedelta
from hashlib import md5

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orchid_fst_spark.operators.chunking import (  # noqa: E402
    chunk_documents,
    pack_sequences,
)
from orchid_fst_spark.operators.interval import interval_join  # noqa: E402
from orchid_fst_spark.operators.setsim import jaccard_prefix_pairs  # noqa: E402
from orchid_fst_spark.operators.sampling import weighted_sample  # noqa: E402
from orchid_fst_spark.operators.stats import cube_stats  # noqa: E402


# ---------------------------------------------------------------- chunking

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_documents_sliding_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))
    out = sorted(
        (r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(
            _docs(spark, [(1, text)]), chunk_tokens=4, stride=2
        ).collect()
    )
    # offsets 0,2,4,6,8 -> sizes 4,4,4,4,2; every token covered
    assert [c[0] for c in out] == [0, 1, 2, 3, 4]
    assert [c[1] for c in out] == [4, 4, 4, 4, 2]
    assert out[0][2] == "t0 t1 t2 t3"
    assert out[4][2] == "t8 t9"


def test_chunk_documents_default_stride_and_empty(spark):
    rows = [(1, "a b c d e"), (2, ""), (3, None), (4, "   ")]
    out = chunk_documents(_docs(spark, rows), chunk_tokens=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append((r["chunk_id"], r["chunk_text"]))
    # non-overlapping cover of doc 1; empty/NULL/blank docs emit nothing
    assert sorted(by_id) == [1]
    assert sorted(by_id[1]) == [(0, "a b"), (1, "c d"), (2, "e")]
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, rows), chunk_tokens=0)


def test_pack_sequences_layout_and_partition_invariance(spark):
    # token counts 3,5,7,...: the layout must match a serial cumsum in
    # id order regardless of how many range partitions compute it
    rows = [(i, " ".join(["w"] * (3 + 2 * i))) for i in range(20)]
    expected, acc = {}, 0
    for i in range(20):
        n = 3 + 2 * i
        expected[i] = (n, acc // 16, acc % 16)
        acc += n
    for nparts in (1, 3, 7):
        got = {
            r["id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
            for r in pack_sequences(
                _docs(spark, rows), seq_tokens=16, num_partitions=nparts
            ).collect()
        }
        assert got == expected


def test_pack_sequences_empty_docs_take_no_space(spark):
    rows = [(1, "a b c"), (2, ""), (3, "d e")]
    got = {
        r["id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in pack_sequences(_docs(spark, rows), seq_tokens=4).collect()
    }
    assert got == {1: (3, 0, 0), 2: (0, 0, 3), 3: (2, 0, 3)}


# ------------------------------------------------------------ interval join

def _ts_df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_interval_join_matches_bruteforce_exactly_once(spark):
    base = datetime(2024, 1, 1)
    lrows = [
        (i, "a" if i % 3 else "b", base + timedelta(minutes=17 * i))
        for i in range(40)
    ]
    rrows = [
        (
            100 + j,
            "a" if j % 2 else "b",
            base + timedelta(minutes=50 * j),
            base + timedelta(minutes=50 * j + 40 * (j % 5)),  # j%5==0: empty
        )
        for j in range(12)
    ]
    left = _ts_df(spark, lrows, "eid long, k string, ts timestamp")
    right = _ts_df(
        spark, rrows, "iid long, k string, start_ts timestamp, end_ts timestamp"
    )
    got = sorted(
        (r["eid"], r["iid"])
        for r in interval_join(
            left, right, ["k"], "ts", "start_ts", "end_ts", bucket_seconds=600
        ).collect()
    )
    want = sorted(
        (e, i)
        for (e, ek, ets) in lrows
        for (i, ik, s, t) in rrows
        if ek == ik and s <= ets < t
    )
    assert got == want and len(got) == len(set(got)) and len(got) > 0


def test_interval_join_half_open_boundaries(spark):
    base = datetime(2024, 1, 1)
    left = _ts_df(
        spark,
        [(1, "k", base), (2, "k", base + timedelta(hours=2))],
        "eid long, k string, ts timestamp",
    )
    right = _ts_df(
        spark,
        [(9, "k", base, base + timedelta(hours=2))],
        "iid long, k string, s timestamp, e timestamp",
    )
    got = [
        r["eid"]
        for r in interval_join(
            left, right, ["k"], "ts", "s", "e", bucket_seconds=3600
        ).collect()
    ]
    assert got == [1]  # ts == start in, ts == end out


def test_interval_join_span_guard_raises(spark):
    base = datetime(2024, 1, 1)
    left = _ts_df(spark, [(1, "k", base)], "eid long, k string, ts timestamp")
    right = _ts_df(
        spark,
        [(9, "k", base, base + timedelta(days=10))],
        "iid long, k string, s timestamp, e timestamp",
    )
    with pytest.raises(Exception, match="spans more than"):
        interval_join(
            left, right, ["k"], "ts", "s", "e",
            bucket_seconds=60, max_span_buckets=100,
        ).collect()


# --------------------------------------------------- prefix-filter setsim

def _shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_jaccard_prefix_pairs_lossless_vs_bruteforce(spark):
    # near-duplicate cluster (0,1,2), a hot shared shingle everywhere,
    # and unrelated docs — the prefix filter must lose NO pair
    common = "lorem ipsum dolor"
    rows = [
        (0, f"{common} alpha beta gamma delta"),
        (1, f"{common} alpha beta gamma epsilon"),
        (2, f"{common} alpha beta gamma delta"),
        (3, f"{common} zeta eta theta iota kappa"),
        (4, "totally different words here now " + common),
        (5, "xx yy"),  # < n tokens: no shingles
    ]
    num, den = 1, 2
    got = sorted(
        (r["id_a"], r["id_b"], r["inter"], r["union"])
        for r in jaccard_prefix_pairs(
            _docs(spark, rows), "doc_id", "text", n=3,
            threshold_num=num, threshold_den=den,
        ).collect()
    )
    want = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = _shingles(rows[i][1]), _shingles(rows[j][1])
            inter, union = len(a & b), len(a | b)
            if union and inter * den >= num * union:
                want.append((rows[i][0], rows[j][0], inter, union))
    assert got == sorted(want) and len(got) >= 3


def test_jaccard_prefix_pairs_threshold_edge(spark):
    # two docs engineered to sit exactly AT the threshold: 4 shared of
    # 8 union -> J = 1/2 exactly; >= must include it
    rows = [
        (0, "a b c d e f g h"),      # shingles: 6
        (1, "a b c d e f x y z"),    # shares "a b c".."d e f" = 4
    ]
    out = jaccard_prefix_pairs(
        _docs(spark, rows), "doc_id", "text", n=3,
        threshold_num=4, threshold_den=9,
    ).collect()
    a, b = _shingles(rows[0][1]), _shingles(rows[1][1])
    inter, union = len(a & b), len(a | b)
    assert inter * 9 >= 4 * union
    assert [(r["inter"], r["union"]) for r in out] == [(inter, union)]
    with pytest.raises(ValueError):
        jaccard_prefix_pairs(_docs(spark, rows), "doc_id", "text",
                             threshold_num=3, threshold_den=2)


# ------------------------------------------------------- weighted sampling

def test_weighted_sample_matches_local_recompute(spark):
    rows = [(i, float(1 + (i * 7) % 13)) for i in range(30)]
    rows += [(100, 0.0), (101, -2.0)]  # non-positive weights excluded
    df = spark.createDataFrame(rows, "k long, w double").repartition(5)
    got = [(r["k"], r["es_key"]) for r in weighted_sample(df, "k", "w", 10).collect()]

    def pri(k, w):
        h = int(md5(f"w1|{k}".encode()).hexdigest()[:8], 16)
        return round(math.log((h + 0.5) / 2**32) / w, 6)

    want = sorted(
        ((k, pri(k, w)) for k, w in rows if w > 0),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert [k for k, _ in got] == [k for k, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-6
    # k > n returns every positive-weight row
    assert weighted_sample(df, "k", "w", 1000).count() == 30


# -------------------------------------------------------------- cube stats

def test_cube_stats_grouping_sets_and_null_dim(spark):
    rows = [("en", "web", 1), ("en", "book", 2), (None, "web", 4)]
    df = spark.createDataFrame(rows, "lang string, src string, v int")
    out = {
        (r["lang"], r["src"]): r["n_rows"]
        for r in cube_stats(df, ["lang", "src"]).collect()
    }
    # all 2^2 grouping sets present; genuine NULL lang stays NULL
    assert out[("<all>", "<all>")] == 3
    assert out[("en", "<all>")] == 2
    assert out[(None, "<all>")] == 1
    assert out[("<all>", "web")] == 2
    assert out[("en", "web")] == 1
    assert out[(None, "web")] == 1


def test_interval_overlap_join_bruteforce_exactly_once(spark):
    from orchid_fst_spark.operators.interval import interval_overlap_join

    base = datetime(2024, 1, 1)
    lrows = [
        (
            i,
            "a" if i % 3 else "b",
            base + timedelta(minutes=23 * i),
            base + timedelta(minutes=23 * i + 13 * (i % 7)),  # i%7==0: empty
        )
        for i in range(30)
    ]
    rrows = [
        (
            100 + j,
            "a" if j % 2 else "b",
            base + timedelta(minutes=40 * j),
            base + timedelta(minutes=40 * j + 95 * (j % 4)),  # j%4==0: empty
        )
        for j in range(15)
    ]
    left = _ts_df(spark, lrows, "lid long, k string, ls timestamp, le timestamp")
    right = _ts_df(spark, rrows, "rid long, k string, rs timestamp, re timestamp")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, ["k"], "ls", "le", "rs", "re", bucket_seconds=600
        ).collect()
    )
    want = sorted(
        (li, rj)
        for (li, lk, s1, e1) in lrows
        for (rj, rk, s2, e2) in rrows
        if lk == rk and s1 < e2 and s2 < e1 and e1 > s1 and e2 > s2
    )
    assert got == want and len(got) == len(set(got)) and len(got) > 0
    # touching-but-not-overlapping intervals (e1 == s2) are excluded by
    # the half-open semantics: verify at least one such pair exists in
    # the truth construction and is absent from the result
    touch = [
        (li, rj)
        for (li, lk, s1, e1) in lrows
        for (rj, rk, s2, e2) in rrows
        if lk == rk and e1 > s1 and e2 > s2 and (e1 == s2 or e2 == s1)
    ]
    assert all(p not in got for p in touch)


def test_interval_join_exact_buckets_beyond_double_precision(spark):
    """Regression: bucket ids are computed in exact long arithmetic.
    At year-5000 timestamps unix_micros exceeds 2^53, where the old
    double-division floor can mis-bucket a point relative to its
    interval and silently drop the pair."""
    from orchid_fst_spark.operators.interval import interval_join

    rows = [
        # points exactly ON and just before far-future bucket boundaries
        (1, "k", datetime(5000, 1, 1, 0, 0, 0)),
        (2, "k", datetime(5000, 1, 1, 0, 59, 59)),
        (3, "k", datetime(7777, 6, 15, 12, 0, 0)),
    ]
    left = _ts_df(spark, rows, "pid long, k string, ts timestamp")
    iv = [
        (10, "k", datetime(5000, 1, 1, 0, 0, 0), datetime(5000, 1, 1, 1, 0, 0)),
        (11, "k", datetime(7777, 6, 15, 11, 30, 0), datetime(7777, 6, 15, 12, 30, 0)),
    ]
    right = _ts_df(spark, iv, "iid long, k string, s timestamp, e timestamp")
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(
            left, right, ["k"], "ts", "s", "e", bucket_seconds=3600
        ).collect()
    )
    assert got == [(1, 10), (2, 10), (3, 11)]
