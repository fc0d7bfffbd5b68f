"""Operator-level tests for decontam / stats / sampling: edge cases the
sf-data oracle parity can't reach (empty and sub-n docs, genuine NULL
dim values vs rollup subtotals, partitioning-independence of the hash
sample)."""

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orchid_fst_spark.operators.decontam import contamination_stats  # noqa: E402
from orchid_fst_spark.operators.sampling import (  # noqa: E402
    deterministic_sample,
    stratified_sample,
    train_eval_split,
)
from orchid_fst_spark.operators.stats import (  # noqa: E402
    numeric_profile,
    repetition_stats,
    rollup_stats,
    value_histogram,
)


def _docs(spark):
    rows = [
        (0, "a b c d e f g"),          # clean
        (1, "a b c d e x y"),          # shares the 5-gram "a b c d e"
        (2, "zz zz zz zz zz zz"),      # pure repetition, no bench overlap
        (3, "tiny"),                   # < n tokens: no gram evidence
        (4, ""),                       # empty
        (5, None),                     # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_stats_flags_and_short_docs(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame(
        [("a b c d e q r s",)], "text string"
    )
    out = {
        r["id"]: r
        for r in contamination_stats(docs, bench, n=5).collect()
    }
    assert len(out) == 6  # every doc exactly once
    assert out[0]["contaminated"] and out[1]["contaminated"]
    assert out[0]["n_hits"] == 1  # only "a b c d e" collides
    assert not out[2]["contaminated"]
    for i in (3, 4, 5):  # no gram evidence -> clean, zeroed stats
        assert (out[i]["n_grams"], out[i]["n_hits"]) == (0, 0)
        assert out[i]["overlap_frac"] == 0.0
        assert not out[i]["contaminated"]


def test_contamination_threshold_and_filter(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame([("a b c d e q r s",)], "text string")
    # doc 0 has 3 grams, 1 hit (1/3); doc 1 has 3 grams, 1 hit
    strict = contamination_stats(docs, bench, n=5, threshold=0.5)
    assert not any(r["contaminated"] for r in strict.collect())


def test_repetition_stats_edges(spark):
    out = {r["id"]: r for r in repetition_stats(_docs(spark)).collect()}
    assert len(out) == 6
    r2 = out[2]  # "zz" x 6
    assert (r2["n_tokens"], r2["n_distinct"]) == (6, 1)
    assert r2["dup_token_frac"] == round(5 / 6, 6)
    assert r2["top_token_frac"] == 1.0
    assert r2["top_bigram_frac"] == 1.0
    r0 = out[0]  # all distinct
    assert r0["dup_token_frac"] == 0.0
    assert r0["top_token_frac"] == round(1 / 7, 6)
    r3 = out[3]  # single token: no bigrams
    assert (r3["n_tokens"], r3["top_bigram_frac"]) == (1, 0.0)
    for i in (4, 5):  # empty / NULL text
        assert (out[i]["n_tokens"], out[i]["n_distinct"]) == (0, 0)
        assert out[i]["dup_token_frac"] == 0.0


def test_rollup_null_dim_vs_subtotal(spark):
    # a genuine NULL dim value must stay distinct from the <all> subtotal
    df = spark.createDataFrame(
        [("en", "s1"), ("en", None), (None, "s1")],
        "lang string, source string",
    )
    rows = rollup_stats(df, ["lang", "source"]).collect()
    by_key = {(r["lang"], r["source"]): r["n_rows"] for r in rows}
    assert by_key[("<all>", "<all>")] == 3          # grand total
    assert by_key[("en", "<all>")] == 2             # lang subtotal
    assert by_key[("en", None)] == 1                # real NULL source
    assert by_key[(None, "s1")] == 1                # real NULL lang
    assert ("<all>", "s1") not in by_key            # ROLLUP, not CUBE


def test_hash_sample_partitioning_independent(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = sorted(
        r["k"] for r in deterministic_sample(df, "k", 0.3).collect()
    )
    b = sorted(
        r["k"]
        for r in deterministic_sample(df.repartition(17), "k", 0.3).collect()
    )
    assert a == b and 0 < len(a) < 2000
    # monotone in rate: the 0.3 sample contains the 0.1 sample
    c = set(r["k"] for r in deterministic_sample(df, "k", 0.1).collect())
    assert c <= set(a)


def test_stratified_sample_rates_and_default(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "xx") for i in range(2000)],
        "doc_id long, lang string",
    )
    out = stratified_sample(
        df, "lang", {"en": 1.0}, "doc_id", default_rate=0.0
    ).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(0, 2000, 2))
    assert all(r["lang"] == "en" for r in out)


def test_train_eval_split_stable_and_exhaustive(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    s1 = {r["k"]: r["split"] for r in train_eval_split(df, "k", 0.2).collect()}
    s2 = {
        r["k"]: r["split"]
        for r in train_eval_split(df.repartition(7), "k", 0.2).collect()
    }
    assert s1 == s2 and len(s1) == 1000
    n_eval = sum(1 for v in s1.values() if v == "eval")
    assert 100 < n_eval < 300  # ~20%
    # growing the corpus never reassigns an existing key
    s3 = {
        r["k"]: r["split"]
        for r in train_eval_split(
            spark.range(0, 2000).withColumnRenamed("id", "k"), "k", 0.2
        ).collect()
    }
    assert all(s3[k] == v for k, v in s1.items())


def test_numeric_profile_exact_and_approx(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)] + [("a", None), ("b", 5.0)],
        "k string, v double",
    )
    out = {r["k"]: r for r in numeric_profile(df, ["k"], "v").collect()}
    a = out["a"]
    assert a["n"] == 100 and a["mean"] == 50.5  # NULL excluded from n
    assert a["p5"] == 50.5 and a["p95"] == round(95.05, 6)
    b = out["b"]  # single-value group: sd is NULL, quantiles degenerate
    assert (b["n"], b["p25"], b["p95"]) == (1, 5.0, 5.0)
    assert b["sd"] is None
    # approx path: same schema, sane values (no oracle claim)
    ap = {
        r["k"]: r
        for r in numeric_profile(df, ["k"], "v", exact=False).collect()
    }
    assert ap["a"].asDict().keys() == a.asDict().keys()
    assert abs(ap["a"]["p5"] - 50.5) <= 1.0


def test_value_histogram_bounds_and_nulls(spark):
    df = spark.createDataFrame(
        [(-1.0,), (0.0,), (9.99,), (10.0,), (99.9,), (100.0,), (250.0,),
         (None,)],
        "v double",
    )
    rows = {r["bucket"]: r for r in value_histogram(df, "v", 0.0, 100.0, 10).collect()}
    assert rows[0]["n"] == 1                       # underflow (-1.0)
    assert rows[1]["n"] == 2 and rows[1]["bucket_lo"] == 0.0   # [0,10)
    assert rows[2]["n"] == 1                       # 10.0 lands in [10,20)
    assert rows[10]["n"] == 1                      # 99.9 in [90,100)
    assert rows[11]["n"] == 2                      # overflow: 100.0, 250.0
    assert sum(r["n"] for r in rows.values()) == 7  # NULL dropped


def test_contamination_broadcast_plan(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame([("a b c d e q r s",)], "text string")
    plan = contamination_stats(docs, bench, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the bench gram set is broadcast


def test_rolling_stats_trailing_window(spark):
    """Hand-computed trailing 10-second window, inclusive both ends,
    seconds-truncated event time."""
    from orchid_fst_spark.operators.stats import rolling_stats

    rows = [
        (1, "u", "2024-01-01 00:00:00.9", 1.0),   # truncates to t=0
        (2, "u", "2024-01-01 00:00:05.0", 2.0),   # t=5
        (3, "u", "2024-01-01 00:00:10.0", 4.0),   # t=10: window [0,10] all three
        (4, "u", "2024-01-01 00:00:21.0", 8.0),   # t=21: window [11,21] only itself
        (5, "v", "2024-01-01 00:00:06.0", 16.0),  # other key
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        r.event_id: (r.n_w, r.sum_w, r.avg_w)
        for r in rolling_stats(df, ["user_id"], "ts", "value", 10).collect()
    }
    assert got[1] == (1, 1.0, 1.0)
    assert got[2] == (2, 3.0, 1.5)
    assert got[3] == (3, 7.0, round(7.0 / 3, 6))
    assert got[4] == (1, 8.0, 8.0)
    assert got[5] == (1, 16.0, 16.0)


def test_equi_depth_histogram_balanced(spark):
    """Over a uniform 0..799 column with 8 buckets every bucket holds
    exactly 100 rows, boundaries at the interpolated octiles."""
    from orchid_fst_spark.operators.stats import equi_depth_histogram

    df = spark.range(800).select(F.col("id").cast("double").alias("v"))
    rows = {r.bucket: r for r in equi_depth_histogram(df, "v", 8).collect()}
    assert set(rows) == set(range(8))
    assert all(r.n == 100 for r in rows.values())
    assert rows[0].lo is None and rows[7].hi is None
    # interior boundaries are shared between neighbors
    for b in range(7):
        assert rows[b].hi == rows[b + 1].lo


def test_equi_depth_histogram_boundary_goes_up(spark):
    """A value exactly equal to a boundary lands in the HIGHER bucket
    (v >= b), pinned with a heavily tied column where boundaries fall
    exactly on data values."""
    from orchid_fst_spark.operators.stats import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [1, 1, 1, 1, 2, 2, 2, 2]], "v double"
    )
    rows = {r.bucket: r.n for r in equi_depth_histogram(df, "v", 2).collect()}
    # boundary = median = 1.5; 1s below, 2s at-or-above
    assert rows == {0: 4, 1: 4}
    df2 = spark.createDataFrame([(1.0,), (1.0,), (1.0,), (2.0,)], "v double")
    rows2 = {r.bucket: r.n for r in equi_depth_histogram(df2, "v", 2).collect()}
    # median = 1.0 exactly (tied data): every 1.0 satisfies v >= 1.0
    assert rows2 == {1: 4}


def test_equi_depth_histogram_validation(spark):
    from orchid_fst_spark.operators.stats import equi_depth_histogram

    df = spark.range(4).select(F.col("id").cast("double").alias("v"))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        equi_depth_histogram(df, "v", 1)


def test_cap_per_group_quota(spark):
    """Per-group quota sampling: at most k rows per group, selection is
    the k smallest md5 priorities (reproduced in python), and a group's
    picks are unaffected by OTHER groups' membership."""
    import hashlib

    from orchid_fst_spark.operators.sampling import cap_per_group

    rows = [(f"dom{i % 3}", i) for i in range(60)]  # 3 domains x 20
    df = spark.createDataFrame(rows, "domain string, doc_id long")
    got = cap_per_group(df, ["domain"], "doc_id", k=4).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.domain, set()).add(r.doc_id)
    assert all(len(v) == 4 for v in by_dom.values()) and len(by_dom) == 3
    assert set(got[0].asDict()) == {"domain", "doc_id"}  # helpers dropped

    def unit(key):
        h = hashlib.md5(f"q1|{key}".encode()).hexdigest()
        return int(h[:8], 16) / 2**32

    for dom, ids in by_dom.items():
        members = [i for i in range(60) if f"dom{i % 3}" == dom]
        want = set(sorted(members, key=lambda i: (unit(i), i))[:4])
        assert ids == want, dom

    # dropping another group entirely leaves this group's picks alone
    sub = cap_per_group(
        df.filter("domain <> 'dom2'"), ["domain"], "doc_id", k=4
    ).collect()
    sub_dom0 = {r.doc_id for r in sub if r.domain == "dom0"}
    assert sub_dom0 == by_dom["dom0"]


# --- temperature mixing (operators/sampling.py) ---


def test_temperature_rates_math(spark):
    import math

    from orchid_fst_spark.operators.sampling import temperature_rates

    df = spark.createDataFrame(
        [("en",)] * 90 + [("fr",)] * 9 + [("de",)] * 1, "lang string"
    )
    got = {r.group: r for r in temperature_rates(df, "lang", alpha=0.5).collect()}
    w = {"en": math.sqrt(90), "fr": math.sqrt(9), "de": math.sqrt(1)}
    wsum = sum(w.values())
    for g, n in (("en", 90), ("fr", 9), ("de", 1)):
        share = round(w[g] / wsum, 6)
        assert got[g].n == n
        assert got[g].target_share == share
        assert got[g].rate == round(min(1.0, 100.0 * share / n), 6)
    # alpha=0.5 upweights small groups: de keep-rate saturates at 1
    assert got["de"].rate == 1.0 and got["en"].rate < 1.0


def test_temperature_rates_alpha_one_is_natural(spark):
    from orchid_fst_spark.operators.sampling import temperature_rates

    df = spark.createDataFrame(
        [("en",)] * 80 + [("fr",)] * 20, "lang string"
    )
    got = {r.group: r for r in temperature_rates(df, "lang", alpha=1.0).collect()}
    assert got["en"].target_share == 0.8 and got["fr"].target_share == 0.2
    assert got["en"].rate == 1.0 and got["fr"].rate == 1.0


def test_temperature_sample_partitioning_independent(spark):
    from orchid_fst_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 10 else "de") for i in range(500)],
        "doc_id long, lang string",
    )
    a = {r.doc_id for r in temperature_sample(df, "lang", "doc_id").collect()}
    b = {
        r.doc_id
        for r in temperature_sample(
            df.repartition(13, "doc_id"), "lang", "doc_id"
        ).collect()
    }
    assert a == b and 0 < len(a) < 500
    # every kept row's group was sampled at its own rate: kept counts
    # per group respect the target shares direction (de upweighted)
    from collections import Counter

    kept = Counter("de" if i % 10 == 0 else "en" for i in a)
    assert kept["de"] / 50 > kept["en"] / 450


def test_mixture_oracle_margin_guard(spark, sf_dir):
    """The mixture_sample_counts oracle compares md5 units against a
    6dp-rounded rate: assert no unit of the driver testdata sits within
    1e-7 of its group's rate, so a last-ulp pow/sum divergence between
    engines can never flip a row."""
    from orchid_fst_spark.operators.sampling import hash_unit, temperature_rates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = temperature_rates(docs, "lang", alpha=0.5).select(
        F.col("group").alias("lang"), "rate"
    )
    margins = (
        docs.join(rates, "lang")
        .select(
            F.abs(hash_unit(F.col("doc_id"), "t1") - F.col("rate")).alias("m"),
            "rate",
        )
        .filter(F.col("rate") < 1.0)
        .agg(F.min("m").alias("mn"))
        .collect()[0]
    )
    assert margins.mn is None or margins.mn > 1e-7, margins


# --- skew observability (operators/stats.py) ---


def test_skew_profile_and_summary_planted_hot_key(spark):
    from orchid_fst_spark.operators.stats import skew_profile, skew_summary

    rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "k string")
    prof = skew_profile(df, "k", top_n=3).collect()
    assert prof[0].key == "hot" and prof[0].n == 90
    assert prof[0].share == 0.9
    # deterministic tie-break on key ASC among the singleton keys
    assert [r.key for r in prof[1:]] == ["k0", "k1"]
    s = skew_summary(df, "k").collect()[0]
    assert (s.n_rows, s.n_keys, s.max_n) == (100, 11, 90)
    assert s.top_share == 0.9
    assert s.p50_n == 1.0
    # plan: the hot-key cut is a TakeOrdered, never a global sort
    plan = skew_profile(df, "k", top_n=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_dsir_weights_match_python_model(spark):
    # differential vs a direct Python implementation of the hashed
    # bag-of-ngram importance weights (unigrams+bigrams, md5 buckets,
    # add-alpha smoothing, avg log-ratio rounded 6dp)
    import hashlib
    import math

    from orchid_fst_spark.operators.sampling import dsir_weights

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps under the warm sun"),
        (3, "stock market prices fell sharply in early trading"),
        (4, "quarterly earnings beat analyst expectations again today"),
        (5, "the lazy dog naps beside the quick brown fox"),
        (6, ""),
        (7, None),
    ]
    target_ids = {1, 2, 5}  # the fox-prose distribution
    B, A = 256, 1.0

    def grams(text):
        toks = [t for t in (text or "").lower().split() if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(f"dsir|{g}".encode()).hexdigest()[:8], 16) % B

    tc, sc = {}, {}
    for i, t in docs:
        for g in grams(t):
            b = bucket(g)
            sc[b] = sc.get(b, 0) + 1
            if i in target_ids:
                tc[b] = tc.get(b, 0) + 1
    nt, ns = sum(tc.values()), sum(sc.values())
    exp = {}
    for i, t in docs:
        gs = grams(t)
        if not gs:
            exp[i] = (0, 0.0)
            continue
        s = sum(
            math.log(tc.get(bucket(g), 0) + A)
            - math.log(sc.get(bucket(g), 0) + A)
            + math.log(ns + A * B)
            - math.log(nt + A * B)
            for g in gs
        )
        exp[i] = (len(gs), round(s / len(gs), 6))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    tgt = df.filter(F.col("doc_id").isin(*target_ids))
    got = {
        r.id: (r.n_grams, r.avg_logratio)
        for r in dsir_weights(
            df, tgt, n_buckets=B, alpha=A, storage=None
        ).collect()
    }
    assert got == exp
    # fox-prose docs must outscore the finance docs
    assert min(got[i][1] for i in target_ids) > max(got[3][1], got[4][1])
