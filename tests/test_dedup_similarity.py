"""Dedup family + similarity search + sort policy + multimodal plumbing
tests, with trusted pure-Python oracles computed on the driver."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from orchid_fst_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    near_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from orchid_fst_spark.operators.multimodal import decode_images, sample_frames
from orchid_fst_spark.operators.similarity import (
    cosine_lsh_pairs,
    cosine_threshold_pairs,
    cosine_topk,
    embedding_dedup,
)
from orchid_fst_spark.operators.sort import sort_metrics, sorted_lines
from orchid_fst_spark.sources.fixtures import gen_sort_lines

DOCS = [
    (0, "the cat sat on the mat by the door"),
    (1, "the cat sat on the mat by the floor"),
    (2, "the cat sat on the mat by the door"),  # exact dup of 0
    (3, "completely different words entirely here now"),
    (4, "the dog sat on the mat by the door"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def _shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(spark, docs_df):
    rows = {r.rep_id: r.n_dups for r in exact_dedup(docs_df, "doc_id", "text").collect()}
    assert rows[0] == 2  # docs 0 and 2
    assert rows[1] == 1 and rows[3] == 1 and rows[4] == 1


def test_ngram_jaccard_exact(spark, docs_df):
    got = {
        (r.id_a, r.id_b): (r.inter, r["union"])
        for r in ngram_jaccard_pairs(
            docs_df, "doc_id", "text", n=3, threshold_num=1, threshold_den=100
        ).collect()
    }
    for i, (ia, ta) in enumerate(DOCS):
        for ib, tb in DOCS[i + 1 :]:
            sa, sb = _shingles(ta), _shingles(tb)
            inter = len(sa & sb)
            union = len(sa | sb)
            if inter * 100 >= union:
                assert got[(ia, ib)] == (inter, union), (ia, ib)
            else:
                assert (ia, ib) not in got


def test_containment_short_in_long(spark):
    """Containment finds a short doc embedded verbatim in a long one,
    which symmetric Jaccard structurally cannot (J <= |A|/|B|); exact
    brute-force parity on every pair at threshold 0.8."""
    from orchid_fst_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"tok{i} word{i} item{i}" for i in range(40))
    docs = [
        (0, quote),                              # short doc
        (1, filler + " " + quote),               # long doc quoting it
        (2, "totally unrelated content stream of other words here"),
        (3, quote + " with a small tail added"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = {i: _shingles(t) for i, t in docs}

    got = {
        (r.id_a, r.id_b): (r.inter, r.n_small)
        for r in containment_pairs(
            df, "doc_id", "text", n=3, threshold_num=8, threshold_den=10
        ).collect()
    }
    expect = {}
    ids = sorted(sh)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            inter = len(sh[a] & sh[b])
            small = min(len(sh[a]), len(sh[b]))
            if inter * 10 >= 8 * small:
                expect[(a, b)] = (inter, small)
    assert got == expect
    assert (0, 1) in got  # the embedded quote is found...

    # ...and symmetric Jaccard at the same 0.8 bar misses it
    jac = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold_num=8, threshold_den=10
        ).collect()
    }
    assert (0, 1) not in jac

    # min_shingles floors the small side: raising it above |quote|'s
    # shingle count removes every pair anchored on doc 0
    floored = {
        (r.id_a, r.id_b)
        for r in containment_pairs(
            df,
            "doc_id",
            "text",
            n=3,
            threshold_num=8,
            threshold_den=10,
            min_shingles=len(sh[0]) + 1,
        ).collect()
    }
    assert all(0 not in p for p in floored)


def test_strip_boilerplate(spark):
    """Per-group line-df boilerplate removal: a footer shared by 3 docs
    of site A is struck (cap 2), the same footer on only 2 docs of
    site B survives; within-doc repeats count once toward df but all
    copies are struck together; reassembly preserves line order."""
    from orchid_fst_spark.operators.dedup import strip_boilerplate

    footer = "all rights reserved"
    docs = [
        (0, "a", "unique zero\n" + footer),
        (1, "a", footer + "\nunique one\n" + footer),  # in-doc repeat
        (2, "a", "unique two\n" + footer + "\nmore two"),
        (3, "b", "unique three\n" + footer),
        (4, "b", footer + "\nunique four"),
        (5, "b", ""),  # single empty line, df 1 in group b
    ]
    df = spark.createDataFrame(docs, "doc_id long, src string, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.clean_text)
        for r in strip_boilerplate(
            df, "doc_id", "text", group_col="src", line_df_cap=2
        ).collect()
    }
    assert got[0] == (2, 1, "unique zero")
    assert got[1] == (3, 2, "unique one")  # both footer copies struck
    assert got[2] == (3, 1, "unique two\nmore two")  # order preserved
    # group b: footer df is 2 <= cap, kept
    assert got[3] == (2, 0, "unique three\n" + footer)
    assert got[4] == (2, 0, footer + "\nunique four")
    assert got[5] == (1, 0, "")

    # corpus-wide grouping (group_col=None): footer df is 5 > 2
    allg = {
        r.doc_id: r.n_removed
        for r in strip_boilerplate(
            df, "doc_id", "text", group_col=None, line_df_cap=2
        ).collect()
    }
    assert allg == {0: 1, 1: 2, 2: 1, 3: 1, 4: 1, 5: 0}

    # NULL group values form their own group and their docs keep their
    # text (a plain equi-join would silently empty every NULL-group doc)
    nulls = spark.createDataFrame(
        [(10, None, "keep me\n" + footer), (11, None, "also kept\n" + footer),
         (12, "a", "grouped\n" + footer)],
        "doc_id long, src string, text string",
    )
    gotn = {
        r.doc_id: (r.n_removed, r.clean_text)
        for r in strip_boilerplate(
            nulls, "doc_id", "text", group_col="src", line_df_cap=1
        ).collect()
    }
    # footer df is 2 within the NULL group (> cap 1) -> struck there;
    # unique lines survive; the 'a' group's footer has df 1 -> kept
    assert gotn[10] == (1, "keep me")
    assert gotn[11] == (1, "also kept")
    assert gotn[12] == (0, "grouped\n" + footer)


def test_ngram_hot_shingle_cap(spark):
    """A corpus-common boilerplate shingle must be droppable (df_cap)
    before the O(df²) self-join, with the drop observable in metrics and
    union denominators kept from the uncapped sizes."""
    from orchid_fst_spark.operators.dedup import ngram_shingle_metrics

    boiler = "all rights reserved"
    docs = [(i, f"unique token {i} alpha beta x{i} " + boiler) for i in range(12)]
    docs += [
        (100, "the quick brown fox jumps over dogs " + boiler),
        (101, "the quick brown fox jumps over cats " + boiler),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sh = {i: _shingles(t) for i, t in docs}
    freq = {}
    for s in sh.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    hot = {g for g, c in freq.items() if c > 5}
    assert hot == {boiler}

    def truth(cap_hot):
        out = {}
        ids = sorted(sh)
        for x, a in enumerate(ids):
            for b in ids[x + 1 :]:
                sa, sb = sh[a], sh[b]
                # capped semantics: a hot shingle counts toward sizes but
                # never toward the intersection (conservative Jaccard)
                inter_set = (sa & sb) - (hot if cap_hot else set())
                inter = len(inter_set)
                union = len(sa) + len(sb) - inter
                if inter * 100 >= union:
                    out[(a, b)] = (inter, union)
        return out

    capped = {
        (r.id_a, r.id_b): (r.inter, r["union"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold_num=1, threshold_den=100, df_cap=5
        ).collect()
    }
    assert capped == truth(True)
    assert list(capped) == [(100, 101)]  # boilerplate-only pairs gone

    uncapped = {
        (r.id_a, r.id_b): (r.inter, r["union"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold_num=1, threshold_den=100, df_cap=10**6
        ).collect()
    }
    assert uncapped == truth(False)
    assert len(uncapped) == 12 * 11 // 2 + 12 * 2 + 1  # every pair shares boiler

    m = ngram_shingle_metrics(df, "doc_id", "text", n=3, df_cap=5).collect()[0]
    assert m.n_hot_shingles == 1
    assert m.dropped_rows == 14
    assert m.join_rows_uncapped - m.join_rows_capped == 14 * 13 // 2


def _winnow_truth(text, k=8, w=4):
    if len(text) < k + w - 1:
        return set()
    hs = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(text) - k + 1)
    ]
    return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}


def test_winnow_fingerprints_truth_and_guarantee(spark):
    """Winnowing fingerprints equal the driver-side truth per doc, and
    the scheme's guarantee holds: two docs sharing a substring of length
    >= k + w - 1 share at least one selected fingerprint."""
    from orchid_fst_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    shared = "a very distinctive shared passage"
    docs = [
        (0, "first document body " + shared + " trailing text one"),
        (1, "second and different opening " + shared + " other tail"),
        (2, "completely unrelated content with nothing in common xyz"),
        (3, "short"),  # below k + w - 1: no fingerprints
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r.id, set()).add(r.fp)
    for did, text in docs:
        assert got.get(did, set()) == _winnow_truth(text), did
    assert got[0] & got[1]  # guarantee: shared passage -> shared print
    pairs = {
        (r.id_a, r.id_b): r.shared
        for r in winnow_pairs(df, "doc_id", "text", min_shared=1, df_cap=100).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == len(got[0] & got[1])


def test_minhash_candidates_subset_of_exact(spark, docs_df):
    exact = {
        (r.id_a, r.id_b): (r.inter, r["union"])
        for r in ngram_jaccard_pairs(
            docs_df, "doc_id", "text", n=3, threshold_num=1, threshold_den=100
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): (r.inter, r["union"])
        for r in minhash_lsh_pairs(
            docs_df, "doc_id", "text", n=3, threshold_num=1, threshold_den=100
        ).collect()
    }
    # LSH output must be a subset of exact with identical values, and must
    # find the exact-duplicate pair (identical signatures collide surely)
    for k, v in lsh.items():
        assert exact[k] == v
    assert (0, 2) in lsh


def test_simhash_deterministic_and_pairs(spark, docs_df):
    sig = {r.id: r.simhash for r in simhash(docs_df, "doc_id", "text").collect()}
    assert sig[0] == sig[2]  # identical docs -> identical simhash
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs_df, "doc_id", "text", max_hamming=20).collect()
    }
    assert pairs.get((0, 2)) == 0
    # hamming values consistent with signatures
    for (a, b), h in pairs.items():
        assert bin(sig[a] ^ sig[b]).count("1") == h


def test_simhash_pairs_brute_force_parity(spark):
    """Banding derived from the radius must be COMPLETE: for every asked
    max_hamming, the banded join's output equals the all-pairs truth
    computed from the signatures (pattern of the blocking parity tests in
    test_dictionary.py)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    sig = {r.id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    ids = sorted(sig)
    for h in (3, 10, 17):
        exp = {
            (a, b): bin(sig[a] ^ sig[b]).count("1")
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sig[a] ^ sig[b]).count("1") <= h
        }
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(docs, "doc_id", "text", max_hamming=h).collect()
        }
        assert got == exp, f"max_hamming={h}"


def test_simhash_pairs_rejects_lossy_banding(spark, docs_df):
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs_df, "doc_id", "text", max_hamming=10, bands=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs_df, "doc_id", "text", max_hamming=60)


EMB = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)], 0) for i in range(30)]


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.createDataFrame(
        EMB, "vec_id long, embedding array<float>, label int"
    ).cache()


def _np_cos():
    V = np.array([e[1] for e in EMB], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    return Vn @ Vn.T


def test_cosine_threshold_pairs(spark, emb_df):
    S = _np_cos()
    got = {(r.id_a, r.id_b) for r in cosine_threshold_pairs(emb_df, "vec_id", "embedding", 0.8).collect()}
    exp = {
        (i, j)
        for i in range(len(EMB))
        for j in range(i + 1, len(EMB))
        if S[i, j] >= 0.8
    }
    assert got == exp


def test_cosine_threshold_pairs_row_guard(spark, emb_df):
    # brute-force oracle refuses unbounded inputs loudly...
    with pytest.raises(ValueError, match="brute-force.*more than 3 rows"):
        cosine_threshold_pairs(
            emb_df, "vec_id", "embedding", 0.8, max_rows=3
        )
    # ...and the override is explicit
    n_pairs = cosine_threshold_pairs(
        emb_df, "vec_id", "embedding", 0.8, max_rows=None
    ).count()
    assert n_pairs > 0
    # an input of exactly the bound is within it
    assert (
        cosine_threshold_pairs(
            emb_df, "vec_id", "embedding", 0.8, max_rows=len(EMB)
        ).count()
        == n_pairs
    )


def test_cosine_topk(spark, emb_df):
    S = _np_cos()
    qdf = emb_df.filter(F.col("vec_id") < 3)
    got = {}
    for r in cosine_topk(emb_df, qdf, "vec_id", "embedding", "vec_id", "embedding", k=2).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for q in range(3):
        order = sorted(
            (j for j in range(len(EMB)) if j != q),
            key=lambda j: (-S[q, j], j),
        )[:2]
        assert [n for _, n in sorted(got[q])] == order


def test_ivf_topk_semantics(spark, emb_df):
    """IVF results are exactly the brute-force top-k RESTRICTED to the
    probed cells (the defined approximation), and recall vs the
    unrestricted exact top-k is sane."""
    from orchid_fst_spark.operators.similarity import ivf_assign, ivf_topk

    import hashlib

    S = _np_cos()
    n_c, n_probe, k = 5, 2, 3
    cells = {
        r.id: r.cell
        for r in ivf_assign(emb_df, "vec_id", "embedding", n_c).collect()
    }
    # fixed-size hash-ordered centroid sample: n_c smallest by md5(id)
    cents = sorted(
        (i for i, _, _ in EMB),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:n_c]
    # driver-side truth for assignment: nearest centroid, tie-break id.
    # EMB is periodic mod 11 so some centroids are IDENTICAL vectors
    # (e.g. 6 and 28): their cosines tie exactly in real arithmetic, but
    # numpy's BLAS matmul can split the tie by ~1e-17 reduction noise
    # while Spark's deterministic fold gives exact equality — so treat
    # near-equal similarities as tied and break by centroid id, the
    # operator's documented tie-break.
    for i in range(len(EMB)):
        top = max(S[i, c] for c in cents)
        best = min(c for c in cents if S[i, c] >= top - 1e-9)
        assert cells[i] == best, i
    qdf = emb_df.filter(F.col("vec_id") < 4)
    got = {}
    for r in ivf_topk(
        emb_df, qdf, "vec_id", "embedding", "vec_id", "embedding",
        k=k, n_centroids=n_c, n_probe=n_probe,
    ).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for q in range(4):
        # same tie-tolerant ordering as the assignment truth above
        probed = sorted(
            cents, key=lambda c: (-round(S[q, c], 9), c)
        )[:n_probe]
        members = [
            j for j in range(len(EMB)) if j != q and cells[j] in probed
        ]
        exp = sorted(members, key=lambda j: (-S[q, j], j))[:k]
        got_ids = [n for _, n in sorted(got.get(q, []))]
        # EMB's periodic vectors create exact cosine ties; accept any
        # result whose per-rank similarity equals the truth's (the two
        # engines may order equal-cos neighbors differently at the
        # float-noise level)
        assert len(got_ids) == len(exp), q
        for ge, ee in zip(got_ids, exp):
            assert abs(S[q, ge] - S[q, ee]) < 1e-9, (q, ge, ee)


def test_ivf_kmeans_quantizer(spark, emb_df):
    """centroid_algo='kmeans' trains a fixed-size quantizer: exactly
    n_centroids centers with the corpus dim, every vector assigned to
    its max-cosine center (driver-checked), and ivf_topk results are
    the brute-force top-k restricted to probed cells — same contract as
    the hash sample, different centroid frame."""
    from orchid_fst_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    n_c = 4
    cents = ivf_centroids(
        emb_df, "vec_id", "embedding", n_c, algo="kmeans", seed=7
    ).collect()
    assert len(cents) == n_c
    assert sorted(r.cid for r in cents) == list(range(n_c))
    C = np.array([r.cvec for r in cents], dtype=np.float64)
    assert C.shape == (n_c, 8)
    V = np.array([e[1] for e in EMB], dtype=np.float64)
    cos = (V / np.linalg.norm(V, axis=1, keepdims=True)) @ (
        C / np.linalg.norm(C, axis=1, keepdims=True)
    ).T
    cells = {
        r.id: r.cell
        for r in ivf_assign(
            emb_df, "vec_id", "embedding", n_c, centroid_algo="kmeans", seed=7
        ).collect()
    }
    for i in range(len(EMB)):
        best = min(range(n_c), key=lambda c: (-cos[i, c], c))
        assert abs(cos[i, cells[i]] - cos[i, best]) < 1e-9, i
    out = ivf_topk(
        emb_df, emb_df.filter(F.col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", "embedding",
        k=3, n_centroids=n_c, n_probe=2, centroid_algo="kmeans", seed=7,
    ).collect()
    S = _np_cos()
    got = {}
    for r in out:
        got.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for q in range(3):
        probed = sorted(range(n_c), key=lambda c: (-cos[q, c], c))[:2]
        members = [j for j in range(len(EMB)) if j != q and cells[j] in probed]
        exp = sorted(members, key=lambda j: (-S[q, j], j))[:3]
        got_ids = [n for _, n in sorted(got.get(q, []))]
        assert len(got_ids) == len(exp), q
        for ge, ee in zip(got_ids, exp):
            assert abs(S[q, ge] - S[q, ee]) < 1e-9, (q, ge, ee)


def test_embedding_dedup_exact_only(spark, emb_df):
    """EMB repeats with period 11 (vec(i) == vec(i+11)); at an impossible
    threshold the near stage is empty, so embedding_dedup degrades to
    exact vector dedup: rep = i % 11, keep marks the first copy."""
    out = embedding_dedup(
        emb_df, "vec_id", "embedding", threshold=1.01, dim=8, storage=None
    )
    rows = {r.id: (r.rep_id, r.keep) for r in out.collect()}
    assert set(rows) == set(range(30))
    for i in range(30):
        assert rows[i] == (i % 11, 1 if i < 11 else 0)


def test_embedding_dedup_clusters_contain_verified_pairs(spark, emb_df):
    """Every pair cosine_lsh_pairs verifies at the same params must land
    in the same cluster, clusters are transitively closed over those
    pairs, and reps are cluster minima."""
    kw = dict(threshold=0.9, dim=8, n_planes=8, bands=4)
    pairs = {
        (r.id_a, r.id_b)
        for r in cosine_lsh_pairs(emb_df, "vec_id", "embedding", **kw).collect()
    }
    reps = {
        r.id: r.rep_id
        for r in embedding_dedup(
            emb_df, "vec_id", "embedding", storage=None, **kw
        ).collect()
    }
    assert pairs  # the threshold is low enough that candidates exist
    for a, b in pairs:
        assert reps[a] == reps[b]
    # representative is the min member of its cluster
    from collections import defaultdict

    members = defaultdict(list)
    for i, rep in reps.items():
        members[rep].append(i)
    for rep, mem in members.items():
        assert rep == min(mem)


def test_cosine_lsh_recall_and_precision(spark, emb_df):
    S = _np_cos()
    got = {(r.id_a, r.id_b) for r in cosine_lsh_pairs(emb_df, "vec_id", "embedding", 0.8, dim=8).collect()}
    exp = {
        (i, j)
        for i in range(len(EMB))
        for j in range(i + 1, len(EMB))
        if S[i, j] >= 0.8
    }
    assert got <= exp  # exact verify -> precision 1
    if exp:
        assert len(got) / len(exp) >= 0.5  # LSH recall sanity


def test_sorted_lines_policies(spark):
    lines = gen_sort_lines(n=243)
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    kept = [r.line for r in sorted_lines(df, keep_blank=True).collect()]
    dropped = [r.line for r in sorted_lines(df, keep_blank=False).collect()]
    exp_kept = sorted(lines, key=lambda l: (l.strip(), l))
    exp_dropped = sorted((l for l in lines if l.strip()), key=lambda l: (l.strip(), l))
    assert kept == exp_kept
    assert dropped == exp_dropped
    m = sort_metrics(df).collect()[0]
    n_blank = sum(1 for l in lines if not l.strip())
    assert m.input_lines == 243
    assert m.blank_lines == n_blank
    assert m.output_lines == 243 - n_blank


def test_ranked_lines_two_pass(spark):
    """Distributed rank matches a driver-side sort exactly (including
    duplicate lines getting distinct consecutive ranks) and the plan has
    no single-partition global-window exchange."""
    from orchid_fst_spark.operators.sort import ranked_lines

    lines = gen_sort_lines(n=243) + ["  dup line", "  dup line", "zz"]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    got = sorted((r.line, r.rank) for r in ranked_lines(df).collect())
    exp_lines = sorted(lines, key=lambda l: (l.strip(), l))
    exp = sorted((l, i + 1) for i, l in enumerate(exp_lines))
    assert got == exp
    plan = ranked_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_decode_images_codec_roundtrip(spark, docs_df):
    """Generated BMP/PPM bytes, decoded by actually parsing the binary,
    must recover the generator's ground truth (dims, format, pixel sum,
    content-derived feature)."""
    from orchid_fst_spark.operators.multimodal import (
        _image_pixels,
        gen_image_payloads,
    )
    import numpy as np

    rows = decode_images(
        gen_image_payloads(docs_df, "doc_id"), "id", "payload"
    ).collect()
    assert len(rows) == len(DOCS)
    for r in rows:
        d = r.id
        w, h = 4 + d % 13, 4 + (d * 7) % 11
        assert (r.width, r.height) == (w, h)
        assert r.format == ("bmp" if d % 2 == 0 else "ppm")
        assert r.pix_sum == int(_image_pixels(d, w, h).astype(np.int64).sum())
        assert len(r.feature) == 8
        assert abs(sum(x * x for x in r.feature) - 1.0) < 1e-5


def test_decode_images_fake_path_and_real_gate(spark, docs_df):
    src = docs_df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    rows = decode_images(src, "doc_id", "payload", decoder="fake").collect()
    by_id = {r.id: r for r in rows}
    for did, text in DOCS:
        d = hashlib.sha256(text.encode()).digest()
        assert by_id[did].width == 16 + d[0] % 240
        assert by_id[did].height == 16 + d[1] % 240
    # non-media bytes fail loudly through BOTH real parsers, never
    # silently (decoder='real' now actually decodes PNG/JPEG — see
    # test_decode_images_real_png_jpeg)
    with pytest.raises(Exception, match="(?i)image format"):
        decode_images(src, "doc_id", "payload", decoder="real").collect()
    with pytest.raises(Exception, match="(?i)image format"):
        decode_images(src, "doc_id", "payload", decoder="codec").collect()


def test_sample_frames_codec_fanout(spark, docs_df):
    from orchid_fst_spark.operators.multimodal import (
        _image_pixels,
        gen_video_payloads,
    )
    import numpy as np

    rows = sample_frames(
        gen_video_payloads(docs_df, "doc_id"), "id", "payload", every_n=5
    ).collect()
    assert len(rows) >= len(DOCS)  # one-to-many fan-out
    for r in rows:
        assert r.frame_idx % 5 == 0
        assert (r.width, r.height) == (8, 6)
        truth = _image_pixels(r.id, 8, 6, salt=r.frame_idx)
        assert r.pix_sum == int(truth.astype(np.int64).sum())
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r.frame_idx)
    for did, _ in DOCS:
        n_frames = 1 + did % 17
        assert sorted(by_id[did]) == list(range(0, n_frames, 5))


def test_audio_and_resize_codec(spark):
    from orchid_fst_spark.operators.multimodal import (
        AUDIO_RATES,
        extract_audio_features,
        gen_audio_payloads,
        gen_image_payloads,
        parse_ppm,
        resize_images,
    )
    import numpy as np

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    au = extract_audio_features(
        gen_audio_payloads(docs, "doc_id"), "id", "payload"
    ).collect()
    assert len(au) == 50
    for r in au:
        d = r.id
        assert r.sample_rate == AUDIO_RATES[d % 4]
        assert r.n_samples == 100 + d % 401
        assert r.duration_ms == r.n_samples * 1000 // r.sample_rate
        i = np.arange(r.n_samples, dtype=np.int64)
        assert r.amp_sum == int(np.abs((d * 31 + i * 17) % 65536 - 32768).sum())
        assert len(r.mfcc) == 8

    rs = resize_images(
        gen_image_payloads(docs, "doc_id"), "id", "payload", 16, 12
    ).collect()
    assert len(rs) == 50
    for r in rs:
        assert (r.width, r.height) == (16, 12)
        pix = parse_ppm(bytes(r.payload))  # re-encoded output is valid PPM
        assert pix.shape == (12, 16, 3)
        assert r.pix_sum == int(pix.astype(np.int64).sum())


def test_decode_images_real_png_jpeg(spark):
    # decoder='real' actually decodes compressed formats now: PNG
    # losslessly (exact pix_sum) and baseline JPEG within PSNR
    import numpy as np

    from orchid_fst_spark.operators.imagecodecs import encode_jpeg, encode_png
    from orchid_fst_spark.operators.multimodal import _image_pixels

    rows = []
    truth = {}
    for did in range(6):
        pix = _image_pixels(did, 24 + did, 16 + did)
        truth[did * 2] = ("png", pix)
        truth[did * 2 + 1] = ("jpeg", pix)
        rows.append((did * 2, bytearray(encode_png(pix))))
        rows.append((did * 2 + 1, bytearray(encode_jpeg(pix, quality=90))))
    src = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.id: r
        for r in decode_images(
            src, "doc_id", "payload", decoder="real"
        ).collect()
    }
    assert len(got) == 12
    for rid, (fmt, pix) in truth.items():
        r = got[rid]
        assert (r.format, r.width, r.height) == (fmt, pix.shape[1], pix.shape[0])
        if fmt == "png":
            assert r.pix_sum == int(pix.astype(np.int64).sum())
        else:  # lossy: per-pixel mean error small
            n = pix.shape[0] * pix.shape[1] * 3
            assert abs(r.pix_sum - int(pix.astype(np.int64).sum())) < 12 * n


def test_resize_and_audio_and_frames_real(spark):
    import numpy as np

    from orchid_fst_spark.operators.imagecodecs import encode_png, parse_png
    from orchid_fst_spark.operators.multimodal import (
        _image_pixels,
        extract_audio_features,
        gen_audio_payloads,
        gen_video_payloads,
        resize_images,
        sample_frames,
    )

    pix = _image_pixels(3, 40, 30)
    src = spark.createDataFrame(
        [(1, bytearray(encode_png(pix)))], "doc_id long, payload binary"
    )
    r = resize_images(src, "doc_id", "payload", 16, 12, decoder="real").collect()[0]
    out = parse_png(bytes(r.payload))  # real path re-encodes lossless PNG
    sx = (np.arange(16) * 40) // 16
    sy = (np.arange(12) * 30) // 12
    assert (out == pix[sy][:, sx]).all()
    assert r.pix_sum == int(out.astype(np.int64).sum())

    # WAV through decoder='real' == the codec path (the RIFF parser IS
    # the real decoder); compressed audio raises naming soundfile
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(10)
    wav = gen_audio_payloads(docs, "doc_id")
    a = extract_audio_features(wav, "id", "payload", decoder="real").collect()
    b = extract_audio_features(wav, "id", "payload", decoder="codec").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    mp3ish = spark.createDataFrame(
        [(1, bytearray(b"ID3\x03\x00garbage"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="soundfile|NotImplemented"):
        extract_audio_features(
            mp3ish, "doc_id", "payload", decoder="real"
        ).collect()

    # PVID through decoder='real' == codec; MP4 raises naming PyAV
    vid = gen_video_payloads(docs, "doc_id")
    fa = sample_frames(vid, "id", "payload", every_n=2, decoder="real").collect()
    fb = sample_frames(vid, "id", "payload", every_n=2, decoder="codec").collect()
    assert sorted(map(tuple, fa)) == sorted(map(tuple, fb))
    mp4ish = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x18ftypmp42"))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="PyAV|NotImplemented"):
        sample_frames(mp4ish, "doc_id", "payload", decoder="real").collect()


def test_lsh_planted_hot_bucket_caps(spark):
    """A planted cluster of identical docs shares every LSH band — the
    bucket_cap must drop those buckets before the self-join (no O(m²)
    join rows), the drop must be observable via the metrics profile,
    and pairs outside the hot cluster must be unaffected."""
    from orchid_fst_spark.operators.dedup import (
        minhash_band_metrics,
        minhash_lsh_pairs,
        simhash_band_metrics,
        simhash_pairs,
    )

    m = 200  # planted identical-copy cluster (same text => same bands)
    rows = [(i, "spam boilerplate footer license text repeated") for i in range(m)]
    rows += [
        (m + 0, "the cat sat on the mat by the door"),
        (m + 1, "the cat sat on the mat by the floor"),
        (m + 2, "an unrelated document about gardening tools"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 50

    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold_num=1, threshold_den=100,
            bucket_cap=cap, storage=None,
        ).collect()
    }
    # hot cluster dropped entirely; near-dup pair outside it survives
    assert all(a >= m or b >= m for a, b in got)
    assert (m + 0, m + 1) in got
    prof = minhash_band_metrics(df, "doc_id", "text", bucket_cap=cap).collect()[0]
    assert prof.n_hot_buckets >= 1
    assert prof.dropped_rows >= m
    assert prof.join_rows_uncapped >= m * (m - 1) // 2
    assert prof.join_rows_capped < prof.join_rows_uncapped

    got_sh = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            df, "doc_id", "text", max_hamming=3, bucket_cap=cap, storage=None
        ).collect()
    }
    assert all(a >= m or b >= m for a, b in got_sh)
    prof_sh = simhash_band_metrics(df, "doc_id", "text", bucket_cap=cap).collect()[0]
    assert prof_sh.n_hot_buckets >= 1 and prof_sh.dropped_rows >= m


def test_recall_at_k(spark, emb_df):
    """Hand-checkable recall arithmetic (missed query => 0 row kept)
    plus the self-consistency identity recall(exact, exact) == 1 on the
    real operator output."""
    from orchid_fst_spark.operators.similarity import cosine_topk, recall_at_k

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "q_id long, n_id long, rank long",
    )
    approx = spark.createDataFrame(
        # q1 recovers 2 of 3 (rank-4 row must be ignored); q2 none
        [(1, 10, 1), (1, 99, 2), (1, 11, 3), (1, 12, 4), (2, 98, 1)],
        "q_id long, n_id long, rank long",
    )
    got = {r.q_id: (r.n_hit, r.n_exact, r.recall) for r in recall_at_k(approx, exact, 3).collect()}
    assert got == {1: (2, 3, 2 / 3), 2: (0, 3, 0.0)}

    topk = cosine_topk(emb_df, emb_df.limit(5), "vec_id", "embedding", "vec_id", "embedding", k=3)
    perfect = recall_at_k(topk, topk, 3).collect()
    assert len(perfect) == 5 and all(r.recall == 1.0 for r in perfect)


def test_ivf_assign_partial_argmax_plan(spark, emb_df):
    """ivf_assign's per-vector argmax must never shuffle the
    n x n_centroids scored frame: the max_by aggregate shows a
    partial_max_by BELOW the single Exchange (map-side combine reduces
    to one row per vector per partition), and the ordering struct
    rounds ccos to 6dp (the cross-engine determinism recipe)."""
    import re

    from orchid_fst_spark.operators.similarity import ivf_assign

    plan = (
        ivf_assign(emb_df, "vec_id", "embedding", 16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_max_by" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "round(" in plan


def test_drop_hot_keeps_keys_at_cap(spark):
    """A key with exactly ``cap`` rows is kept and one with ``cap + 1``
    is dropped, for a one- and a two-column key; the columns are the
    input's."""
    from orchid_fst_spark.operators.dedup import drop_hot

    cap = 3
    rows = [("a", 1, i) for i in range(cap)]
    rows += [("b", 1, i) for i in range(cap + 1)]
    rows += [("b", 2, i) for i in range(cap)]
    df = spark.createDataFrame(rows, "k1 string, k2 long, v long")

    one = drop_hot(df, "k1", cap)
    assert one.columns == df.columns
    assert sorted(tuple(r) for r in one.collect()) == rows[:cap]
    two = {tuple(r) for r in drop_hot(df, ["k1", "k2"], cap).collect()}
    assert two == set(rows[:cap] + rows[2 * cap + 1 :])


def test_grouped_bucket_pairs_caps_hot_bucket_in_one_shuffle(spark):
    """A planted 200-member hot bucket (over the cap) contributes no
    pair, the small buckets give all their pairs with their payloads,
    and the pipeline stays ONE shuffle: the ``drop_hot`` window's
    hash-partitioning on bucket is reused by the groupBy, so
    EnsureRequirements elides the second Exchange."""
    import re

    from orchid_fst_spark.operators.dedup import grouped_bucket_pairs

    m, cap = 200, 50
    # one hot bucket with m members (over cap) + several small buckets
    rows = [(i, 0, i * 3) for i in range(m)]
    rows += [(1000 + i, 1 + i % 7, i) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, bucket long, sig long")

    small = {}
    for i in range(30):
        small.setdefault(1 + i % 7, []).append(1000 + i)
    want = {
        (a, b, a - 1000, b - 1000)
        for ids in small.values()
        for a in ids
        for b in ids
        if a < b
    }
    got = {
        tuple(r)
        for r in grouped_bucket_pairs(df, cap, payload_col="sig").collect()
    }
    assert got == want

    plan = (
        grouped_bucket_pairs(df, cap, payload_col="sig", distinct=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Window" in plan


def test_cosine_lsh_planted_hot_bucket_cap(spark):
    from orchid_fst_spark.operators.similarity import (
        cosine_lsh_band_metrics,
        cosine_lsh_pairs,
    )

    m = 120
    base = [1.0, 0.5, -0.25, 0.8, 0.0, -1.0, 0.3, 0.7]
    rows = [(i, base) for i in range(m)]  # identical embeddings
    rows += [(m, [0.9, -0.8, 0.1, 0.2, -0.5, 0.4, -0.3, 0.6])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cap = 40
    got = {
        (r.id_a, r.id_b)
        for r in cosine_lsh_pairs(
            df, "vec_id", "embedding", 0.9, dim=8, bucket_cap=cap
        ).collect()
    }
    assert all(a == m or b == m for a, b in got)  # cluster pairs capped away
    prof = cosine_lsh_band_metrics(
        df, "vec_id", "embedding", dim=8, bucket_cap=cap
    ).collect()[0]
    assert prof.n_hot_buckets >= 1 and prof.dropped_rows >= m


def test_near_dedup_end_to_end(spark, docs_df):
    """Keep-one-per-cluster: exact dups AND verified near-dups collapse
    to one representative (the lexicographic-min id through both
    stages), every input doc gets a row, and keep marks exactly the
    representatives."""
    out = near_dedup(
        docs_df,
        "doc_id",
        "text",
        threshold_num=1,
        threshold_den=100,
        storage=None,
    )
    rows = {r.id: (r.rep_id, r.keep) for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    # docs 0/2 (exact) and 1/4 (1-token variants sharing shingles) all
    # reach doc 0 transitively at a permissive threshold
    assert rows[0] == (0, 1)
    assert rows[2] == (0, 0)
    assert rows[1][0] == rows[4][0] == rows[0][0]
    # the loner keeps itself
    assert rows[3] == (3, 1)
    # exactly one keep per cluster
    kept = [i for i, (_, k) in rows.items() if k == 1]
    assert sorted(kept) == sorted({rep for rep, _ in rows.values()})


def test_near_dedup_null_text_rows_are_singleton_keeps(spark):
    """A NULL text has no content to match on: each such doc must come
    back as its own singleton keep — never silently dropped (the
    non-null-safe equi-join failure) and never pooled into one fake
    'all-NULLs-are-duplicates' cluster (the bare groupBy failure)."""
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, None),
         (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    out = near_dedup(df, "doc_id", "text", threshold_num=1,
                     threshold_den=100, storage=None)
    rows = {r.id: (r.rep_id, r.keep) for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3}  # one row per input, NULLs included
    assert rows[1] == (1, 1)
    assert rows[2] == (2, 1)
    assert rows[0] == (0, 1) and rows[3] == (0, 0)


def test_embedding_dedup_null_vec_rows_are_singleton_keeps(spark):
    """Twin of the NULL-text contract for vectors: NULL embeddings come
    back as singleton keeps, one row per input."""
    v = [1.0, 0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(0, v), (1, None), (2, v), (3, None)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_dedup(df, "vec_id", "embedding", threshold=1.01,
                          dim=4, storage=None)
    rows = {r.id: (r.rep_id, r.keep) for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[1] == (1, 1) and rows[3] == (3, 1)
    assert rows[0] == (0, 1) and rows[2] == (0, 0)


def test_near_dedup_strict_threshold_exact_only(spark, docs_df):
    """At an impossible threshold (> 100%) no near pairs survive, so
    near_dedup degrades to exact dedup: 0/2 collapse, others keep."""
    out = near_dedup(
        docs_df,
        "doc_id",
        "text",
        threshold_num=101,
        threshold_den=100,
        storage=None,
    )
    rows = {r.id: (r.rep_id, r.keep) for r in out.collect()}
    assert rows[2] == (0, 0)
    assert sum(k for _, k in rows.values()) == 4


def test_dedup_storage_param_leaves_cache_empty(spark):
    """storage=None must leave the session CacheManager untouched — the
    long-session hygiene contract (operators with the default storage
    persist intermediates; passing None trades recompute for zero
    retained storage)."""
    spark.catalog.clearCache()
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    minhash_lsh_pairs(
        df, "doc_id", "text", threshold_num=1, threshold_den=100, storage=None
    ).collect()
    simhash_pairs(df, "doc_id", "text", storage=None).collect()
    ngram_jaccard_pairs(
        df, "doc_id", "text", threshold_num=1, threshold_den=100, storage=None
    ).collect()
    jvm_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert jvm_empty


def test_release_persisted_frees_default_storage(spark):
    """The default storage DOES persist intermediates that are scanned
    more than once (the shingle frame feeding the exact-Jaccard verify);
    release_persisted() must free every library-internal entry so a
    long-lived session can reclaim storage between pipelines without
    touching user caches."""
    from orchid_fst_spark.util.storage import release_persisted

    spark.catalog.clearCache()
    release_persisted()  # drain anything earlier tests registered
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    user_cached = df.persist()
    user_cached.collect()
    minhash_lsh_pairs(
        df, "doc_id", "text", threshold_num=1, threshold_den=100
    ).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()
    # band rows are no longer persisted (single-scan grouped expansion);
    # only the shingle frame remains registered
    assert release_persisted() >= 1
    # library entries gone, the user's own cache untouched
    assert not cm.isEmpty()
    user_cached.unpersist()
    assert cm.isEmpty()


# --- keep_latest (crawl-snapshot compaction) ---


def test_keep_latest_picks_max_order_tuple(spark):
    from orchid_fst_spark.operators.dedup import keep_latest

    rows = [
        ("u/a", 10, 1, "v1"),
        ("u/a", 20, 2, "v2"),   # latest ts wins
        ("u/b", 30, 3, "v3"),
        ("u/b", 30, 4, "v4"),   # ts tie -> larger version id wins
        ("u/c", 5, 5, "v5"),    # singleton passes through
    ]
    df = spark.createDataFrame(rows, "url string, ts long, ver long, body string")
    got = {
        r.url: (r.ts, r.ver, r.body)
        for r in keep_latest(df, ["url"], ["ts", "ver"], ["body"]).collect()
    }
    assert got == {"u/a": (20, 2, "v2"), "u/b": (30, 4, "v4"), "u/c": (5, 5, "v5")}


def test_keep_latest_payload_breaks_residual_ties(spark):
    from orchid_fst_spark.operators.dedup import keep_latest

    # order_cols identical -> the payload column itself decides,
    # deterministically (never partition order)
    rows = [("k", 1, "a"), ("k", 1, "b")]
    df = spark.createDataFrame(rows, "url string, ts long, body string")
    out = keep_latest(df, ["url"], ["ts"], ["body"]).collect()
    assert [(r.url, r.ts, r.body) for r in out] == [("k", 1, "b")]


def test_keep_latest_is_single_hash_aggregate(spark):
    from orchid_fst_spark.operators.dedup import keep_latest

    df = spark.createDataFrame(
        [("k", 1, "a")], "url string, ts long, body string"
    )
    plan = (
        keep_latest(df, ["url"], ["ts"], ["body"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial (map-side) + final aggregate around ONE exchange, and no
    # Window operator (struct-max has no mutable hash buffer, so Spark
    # picks SortAggregate — the partial combine is what matters: the
    # shuffle carries one row per key per map partition, not every
    # version of every key like the window formulation would)
    assert "Window" not in plan
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1


# --- PII pattern functions ---


def test_pii_pattern_counts_and_scrub(spark):
    from orchid_fst_spark.functions.text import (
        EMAIL_RE,
        IPV4_RE,
        URL_RE,
        pattern_count,
        scrub_pii,
    )

    rows = [
        (0, "write a@b.com or c.d-e@f.org, see https://x.io/p?q=1 from 10.0.0.1"),
        (1, "no pii here"),
        (2, "http://plain.example and 255.255.255.255 and user@host.co"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: (r.ne, r.nu, r.ni, r.clean)
        for r in df.select(
            "id",
            pattern_count(F.col("t"), EMAIL_RE).alias("ne"),
            pattern_count(F.col("t"), URL_RE).alias("nu"),
            pattern_count(F.col("t"), IPV4_RE).alias("ni"),
            scrub_pii(F.col("t")).alias("clean"),
        ).collect()
    }
    assert got[0][:3] == (2, 1, 1)
    assert got[1] == (0, 0, 0, "no pii here")
    assert got[2][:3] == (1, 1, 1)
    assert "<redacted>" in got[0][3]
    assert "@" not in got[0][3] and "https://" not in got[0][3]


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def _pq_truth(m=4, ksub=4):
    """Driver-side PQ truth over EMB: hash-sampled codebook, per-sub
    argmin codes, ADC distances — the same rounded-fold arithmetic as
    the operator."""
    import hashlib

    d = len(EMB[0][1])
    d_sub = d // m
    train = sorted(
        (i for i, _, _ in EMB),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:ksub]
    book = {}  # (sub, cid) -> subvec
    for cid, tid in enumerate(train):
        v = EMB[tid][1]
        for s in range(m):
            book[(s, cid)] = v[s * d_sub : (s + 1) * d_sub]

    def sub_l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return round(acc, 6)

    codes = {}
    dists = {}
    for i, v, _ in EMB:
        for s in range(m):
            sv = v[s * d_sub : (s + 1) * d_sub]
            ds = [(sub_l2(sv, book[(s, c)]), c) for c in range(ksub)]
            dists[(i, s)] = ds
            codes[(i, s)] = min(ds)[1]
    return codes, dists


def test_pq_encode_matches_truth(spark, emb_df):
    from orchid_fst_spark.operators.similarity import pq_encode

    codes, _ = _pq_truth()
    got = {
        (r.id, r.sub): r.code
        for r in pq_encode(emb_df, "vec_id", "embedding", dim=8, m=4, ksub=4).collect()
    }
    assert len(got) == len(EMB) * 4
    assert got == codes


def test_pq_topk_matches_adc_truth(spark, emb_df):
    from orchid_fst_spark.operators.similarity import pq_topk

    codes, dists = _pq_truth()
    qids = [0, 1, 2]
    got = {}
    res = pq_topk(
        emb_df,
        emb_df.filter(F.col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", "embedding",
        dim=8, m=4, ksub=4, k=3,
    ).collect()
    for r in res:
        got.setdefault(r.q_id, []).append((r.rank, r.n_id, r.adist))
    for q in qids:
        exp = []
        for i, _, _ in EMB:
            if i == q:
                continue
            a = round(
                sum(
                    dict(
                        (c, dd) for dd, c in dists[(q, s)]
                    )[codes[(i, s)]]
                    for s in range(4)
                ),
                6,
            )
            exp.append((a, i))
        exp = [(rk + 1, i, a) for rk, (a, i) in enumerate(sorted(exp)[:3])]
        assert sorted(got[q]) == exp, q


def test_pq_recall_vs_bruteforce(spark, emb_df):
    """PQ with a generous codebook must recover most exact-L2 top-3
    neighbors on this tiny set — a sanity bound, not a precision
    claim."""
    from orchid_fst_spark.operators.similarity import pq_topk

    V = np.array([e[1] for e in EMB], dtype=np.float64)
    res = pq_topk(
        emb_df,
        emb_df.filter(F.col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", "embedding",
        dim=8, m=4, ksub=16, k=3,
    ).collect()
    got = {}
    for r in res:
        got.setdefault(r.q_id, set()).add(r.n_id)
    hits = total = 0
    for q in range(5):
        d2 = ((V - V[q]) ** 2).sum(axis=1)
        exact = sorted(
            (j for j in range(len(EMB)) if j != q), key=lambda j: (d2[j], j)
        )[:3]
        hits += len(got[q] & set(exact))
        total += 3
    assert hits / total >= 0.5


def test_pq_dim_validation(spark, emb_df):
    from orchid_fst_spark.operators.similarity import pq_codebook

    with pytest.raises(ValueError, match="not divisible"):
        pq_codebook(emb_df, "vec_id", "embedding", dim=8, m=3)


def test_crawl_diff_statuses(spark):
    from orchid_fst_spark.operators.dedup import crawl_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, t string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, "e")], "k long, t string"
    )
    got = {r.k: r.status for r in crawl_diff(old, new, ["k"], ["t"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",  # NULL == NULL under the null-safe compare
        4: "removed",
        5: "added",
    }


def test_crawl_diff_validation(spark):
    from orchid_fst_spark.operators.dedup import crawl_diff

    df = spark.createDataFrame([(1, "a")], "k long, t string")
    with pytest.raises(ValueError):
        crawl_diff(df, df, [], ["t"])


def test_ivfpq_is_pq_restricted_to_probed_cells(spark, emb_df):
    """IVF-PQ results == PQ/ADC ranking RESTRICTED to the probed cells'
    members — the defined two-stage approximation."""
    from orchid_fst_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
        pq_topk,
    )

    # n_probe=4 with queries {0, 1}: for THESE vectors no probe cutoff
    # falls inside an exact cosine tie (EMB is periodic mod 11, so some
    # centroids are identical vectors; a cutoff inside a tie would make
    # the numpy-derived probe set BLAS-order-dependent — the same noise
    # the IVF test above guards against)
    n_c, n_probe, k = 5, 4, 3
    got = {}
    for r in ivfpq_topk(
        emb_df, emb_df.filter(F.col("vec_id") < 2),
        "vec_id", "embedding", "vec_id", "embedding",
        dim=8, k=k, n_centroids=n_c, n_probe=n_probe, m=4, ksub=4,
    ).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.n_id, r.adist))

    cells = {
        r.id: r.cell
        for r in ivf_assign(emb_df, "vec_id", "embedding", n_c).collect()
    }
    # full-PQ distances for every (q, candidate)
    full = {}
    for r in pq_topk(
        emb_df, emb_df.filter(F.col("vec_id") < 2),
        "vec_id", "embedding", "vec_id", "embedding",
        dim=8, m=4, ksub=4, k=len(EMB),
    ).collect():
        full[(r.q_id, r.n_id)] = r.adist
    # probed cells per query: top n_probe centroids by cosine (tie id)
    from orchid_fst_spark.operators.similarity import ivf_centroids

    cents = [r.cid for r in ivf_centroids(emb_df, "vec_id", "embedding", n_c).collect()]
    S = _np_cos()
    for q in range(2):
        # round to 9dp so BLAS reduction noise cannot reorder exact
        # ties (the tie groups are fully inside or outside the cutoff
        # for these queries — asserted by construction above)
        ranked_cells = sorted(cents, key=lambda c: (-round(S[q, c], 9), c))
        probed = set(ranked_cells[:n_probe])
        members = [i for i, c in cells.items() if c in probed and i != q]
        exp = sorted(((full[(q, i)], i) for i in members))[:k]
        exp = [(rk + 1, i, a) for rk, (a, i) in enumerate(exp)]
        assert sorted(got[q]) == exp, q


def test_semantic_dedup_clusters_and_keeps(spark):
    from orchid_fst_spark.operators.similarity import semantic_dedup

    # three well-separated direction groups; with a single coarse cell
    # every representative pair is compared, so the verify + CC stages
    # must merge exactly the cosine-similar groups
    base = {
        "x": [1.0, 0.05, 0.0, 0.0],
        "y": [0.0, 1.0, 0.05, 0.0],
        "z": [0.0, 0.0, 1.0, 0.05],
    }

    def _jig(v, eps):
        return [a + eps * (i + 1) / 100 for i, a in enumerate(v)]

    rows = [
        (0, base["x"]),
        (1, base["x"]),          # exact dup of 0
        (2, _jig(base["x"], 0.02)),  # near dup of 0
        (3, base["y"]),
        (4, _jig(base["y"], 0.02)),  # near dup of 3
        (5, base["z"]),          # singleton
        (6, None),               # null vec: singleton keep
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.id: (r.rep_id, r.keep)
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99,
            n_centroids=1, storage=None,
        ).collect()
    }
    assert len(out) == len(rows)  # one row per input
    assert out[0] == (0, 1) and out[1] == (0, 0) and out[2] == (0, 0)
    assert out[3] == (3, 1) and out[4] == (3, 0)
    assert out[5] == (5, 1)
    assert out[6] == (6, 1)
    # keep flags are consistent with rep ids everywhere
    assert all((rep == i) == bool(keep) for i, (rep, keep) in out.items())

    # the documented SemDeDup recall trade: with more cells two near
    # dups MAY split into different cells and both survive — but exact
    # dups collapse BEFORE the cell stage, so they always merge
    out3 = {
        r.id: (r.rep_id, r.keep)
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99,
            n_centroids=3, storage=None,
        ).collect()
    }
    assert len(out3) == len(rows)
    assert out3[1] == (0, 0)  # exact dup of 0 merges regardless of cells
    assert all((rep == i) == bool(keep) for i, (rep, keep) in out3.items())


def test_semantic_dedup_cell_cap_drops_hot_cells(spark):
    from orchid_fst_spark.operators.similarity import semantic_dedup

    # 30 near-identical vectors land in one cell; with cell_cap below
    # the cell size the pair stage contributes nothing, so every
    # NON-exact-dup row survives as its own keep (the cap is the
    # engine's observable recall trade, never an error)
    rows = [
        (i, [1.0, 0.001 * i, 0.0]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.id: (r.rep_id, r.keep)
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9,
            n_centroids=2, cell_cap=5, storage=None,
        ).collect()
    }
    assert all(out[i] == (i, 1) for i in range(30))


def test_minhash_lsh_join_matches_pooled_self_pairs(spark, docs_df):
    # cross-frame join == pooled self-join restricted to cross pairs,
    # when ids are disjoint (the two constructions share every hash)
    from orchid_fst_spark.operators.dedup import minhash_lsh_join

    new = docs_df.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    got = {
        (r.new_id, r.base_id): (r.inter, r["union"])
        for r in minhash_lsh_join(
            new, docs_df, "doc_id", "text",
            threshold_num=1, threshold_den=100, storage=None,
        ).collect()
    }
    pooled = minhash_lsh_pairs(
        docs_df.unionByName(new), "doc_id", "text",
        threshold_num=1, threshold_den=100, storage=None,
    )
    exp = {
        (r.id_b, r.id_a): (r.inter, r["union"])
        for r in pooled.collect()
        if r.id_b >= 100 and r.id_a < 100  # cross pairs only (id_a < id_b)
    }
    assert got == exp
    # every doc's own +100 variant must be found (near-identical text)
    assert all((i + 100, i) in got or (i + 100, j) in got
               for i, j in [(0, 0)])


def test_minhash_lsh_join_handles_colliding_ids(spark, docs_df):
    # same ids on both sides: the join must still pair new id 0 with
    # base id 0 (ids are per-frame, never pooled)
    from orchid_fst_spark.operators.dedup import minhash_lsh_join

    got = {
        (r.new_id, r.base_id)
        for r in minhash_lsh_join(
            docs_df, docs_df, "doc_id", "text",
            threshold_num=1, threshold_den=100, storage=None,
        ).collect()
    }
    assert (0, 0) in got and (3, 3) in got  # self-matches survive
    assert (0, 2) in got and (2, 0) in got  # exact dups pair both ways


def test_minhash_lsh_join_cap_drops_hot_buckets_per_side(spark):
    # a 6-copy boilerplate cluster on the base side exceeds cap=5: all
    # its band buckets are dropped, so the new-side probe finds nothing
    from orchid_fst_spark.operators.dedup import minhash_lsh_join

    boiler = "the same boilerplate words repeated on every page here"
    base = spark.createDataFrame(
        [(i, boiler) for i in range(6)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(99, boiler)], "doc_id long, text string")
    got = minhash_lsh_join(
        new, base, "doc_id", "text",
        threshold_num=1, threshold_den=100, bucket_cap=5, storage=None,
    ).count()
    assert got == 0
    # under the cap the same probe pairs with every copy
    got2 = minhash_lsh_join(
        new, base, "doc_id", "text",
        threshold_num=1, threshold_den=100, bucket_cap=6, storage=None,
    ).count()
    assert got2 == 6


def test_incremental_near_dedup_equals_full_rerun(spark):
    # the general equivalence: exact re-crawls (incl. of a NON-rep old
    # doc and one with a SMALLER id than the old cluster label),
    # near-dup edits, brand-new pages, null texts
    from orchid_fst_spark.operators.dedup import (
        incremental_near_dedup,
        near_dedup,
    )

    old = [
        (10, "the cat sat on the mat by the door"),
        (11, "the cat sat on the mat by the floor"),
        (12, "the cat sat on the mat by the door"),
        (20, "completely different words entirely here now"),
        (21, "completely different words entirely here today"),
        (30, "a third separate island of text lives over here"),
        (31, None),
    ]
    new = [
        (40, "the cat sat on the mat by the floor"),   # exact dup of non-rep 11
        (41, "the cat sat on the mat by the window"),  # near cluster 10
        (42, "a third separate island of text lives over there"),  # near 30
        (5, "completely different words entirely here now"),  # exact dup of 20, SMALLER id
        (43, "brand new unrelated page content goes right here ok"),
        (44, "brand new unrelated page content goes right here ok"),  # exact new-new dup
        (45, None),
    ]
    kw = dict(threshold_num=1, threshold_den=100, storage=None)
    od = spark.createDataFrame(old, "doc_id long, text string")
    nd = spark.createDataFrame(new, "doc_id long, text string")
    full = {
        r[0]: (r.rep_id, r.keep)
        for r in near_dedup(od.unionByName(nd), "doc_id", "text", **kw).collect()
    }
    prev = near_dedup(od, "doc_id", "text", **kw)
    inc = {
        r.id: (r.rep_id, r.keep)
        for r in incremental_near_dedup(
            od, prev.withColumnRenamed("id", "doc_id"), nd, **kw
        ).collect()
    }
    assert inc == full
    # the smaller new id takes over the old cluster's label
    assert inc[20] == (5, 0) and inc[5] == (5, 1)


def test_incremental_near_dedup_bridges_two_old_clusters(spark):
    # a single batch doc LSH-pairs with BOTH old clusters (verified
    # band collisions under 8 bands of 1 md5 minhash — found by direct
    # computation, deterministic) and merges them; incremental == full
    from orchid_fst_spark.operators.dedup import (
        incremental_near_dedup,
        near_dedup,
    )

    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    B = "one two three four five six seven eight nine ten"
    bridge = " ".join(A.split()[:6] + B.split()[:6])
    old = [(100, A), (101, B)]
    new = [(200, bridge)]
    kw = dict(
        num_hashes=8, bands=8, threshold_num=1, threshold_den=100,
        storage=None,
    )
    od = spark.createDataFrame(old, "doc_id long, text string")
    nd = spark.createDataFrame(new, "doc_id long, text string")
    prev = near_dedup(od, "doc_id", "text", **kw)
    # precondition: the two old docs are separate clusters
    assert {r.rep_id for r in prev.collect()} == {100, 101}
    inc = {
        r.id: r.rep_id
        for r in incremental_near_dedup(
            od, prev.withColumnRenamed("id", "doc_id"), nd, **kw
        ).collect()
    }
    assert inc == {100: 100, 101: 100, 200: 100}, inc
    full = {
        r[0]: r.rep_id
        for r in near_dedup(od.unionByName(nd), "doc_id", "text", **kw).collect()
    }
    assert inc == full
