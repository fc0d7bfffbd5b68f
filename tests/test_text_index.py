"""Persisted positional inverted index: artifact round-trip equals the
batch search operators, and the plan proves bucket partition pruning +
term pushdown (the artifact's entire reason to exist)."""

import shutil
import tempfile

import pytest

from orchid_fst_spark.operators.search import phrase_search
from orchid_fst_spark.operators.text_index import (
    build_text_index,
    indexed_phrase_search,
    indexed_postings,
    load_text_index,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def idx(spark, docs):
    d = tempfile.mkdtemp(prefix="txtidx_")
    shutil.rmtree(d)  # build wants a fresh path (mode=error)
    build_text_index(docs, "doc_id", "text", d, n_buckets=16)
    yield load_text_index(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_indexed_phrase_equals_batch(spark, docs, idx):
    for phrase in (["fast", "merge"], ["the"], ["a", "a"]):
        got = {
            r.doc_id: r.n_matches
            for r in indexed_phrase_search(spark, idx, phrase).collect()
        }
        want = {
            r.doc_id: r.n_matches
            for r in phrase_search(
                docs, "doc_id", "text", phrase, storage=None
            ).collect()
        }
        assert got == want, phrase
        assert got  # non-trivial on the test corpus


def test_partition_pruning_and_pushdown(spark, idx):
    """The scan must prune to the query terms' bucket directories at
    planning time and push the term IN-list into parquet."""
    df = indexed_postings(spark, idx, ["fast", "merge"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "term" in plan
    # directory pruning is visible as a small partition count (<= one
    # dir per distinct query-term bucket)
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan


def test_indexed_bm25_equals_batch(spark, docs):
    """BM25 served off a lowercase-built artifact must score every doc
    identically (6-dp rounded both paths) to ranking.bm25_scores, with
    zero corpus scans at query time (stats come from the sidecar)."""
    import shutil as sh
    import tempfile

    from orchid_fst_spark.operators.ranking import bm25_scores
    from orchid_fst_spark.operators.text_index import (
        build_text_index,
        indexed_bm25,
        load_text_index,
    )

    d = tempfile.mkdtemp(prefix="txtidx_lc_")
    sh.rmtree(d)
    build_text_index(docs, "doc_id", "text", d, n_buckets=8, lowercase=True)
    lidx = load_text_index(spark, d)
    assert lidx.lowercase and lidx.n_docs == docs.count()
    try:
        for terms in (["spark", "join"], ["TABLE"], ["missing_term", "fast"]):
            got = {
                r.doc_id: r.score
                for r in indexed_bm25(spark, lidx, terms).collect()
            }
            want = {
                r.doc_id: r.score
                for r in bm25_scores(docs, "doc_id", "text", terms).collect()
            }
            assert got == want, terms
        # topk path ranks identically too
        got = [
            (r.doc_id, r.score)
            for r in indexed_bm25(spark, lidx, ["spark", "join"], topk=5).collect()
        ]
        want = [
            (r.doc_id, r.score)
            for r in bm25_scores(docs, "doc_id", "text", ["spark", "join"], topk=5).collect()
        ]
        assert got == want
        # a case-sensitive index refuses bm25 (silent mismatch otherwise)
        import pytest as pt

        d2 = tempfile.mkdtemp(prefix="txtidx_cs_")
        sh.rmtree(d2)
        build_text_index(docs, "doc_id", "text", d2, n_buckets=8)
        try:
            with pt.raises(ValueError):
                indexed_bm25(spark, load_text_index(spark, d2), ["spark"])
        finally:
            sh.rmtree(d2, ignore_errors=True)
    finally:
        sh.rmtree(d, ignore_errors=True)


def test_append_equals_full_build(spark, docs):
    """Incremental maintenance: build on half the corpus, append the
    other half — phrase and BM25 answers must equal a fresh
    full build (postings, buckets, and sidecar stats all advance)."""
    import shutil as sh
    import tempfile

    from orchid_fst_spark.operators.text_index import (
        append_text_index,
        build_text_index,
        indexed_bm25,
        indexed_phrase_search,
        load_text_index,
    )

    half_a = docs.filter("doc_id % 2 = 0")
    half_b = docs.filter("doc_id % 2 = 1")
    d_inc = tempfile.mkdtemp(prefix="txtidx_inc_")
    d_full = tempfile.mkdtemp(prefix="txtidx_full_")
    sh.rmtree(d_inc), sh.rmtree(d_full)
    try:
        build_text_index(half_a, "doc_id", "text", d_inc, n_buckets=8, lowercase=True)
        idx = append_text_index(half_b, "doc_id", "text", load_text_index(spark, d_inc))
        build_text_index(docs, "doc_id", "text", d_full, n_buckets=8, lowercase=True)
        full = load_text_index(spark, d_full)
        assert (idx.n_docs, idx.sum_dl) == (full.n_docs, full.sum_dl)
        # the handle returned by append matches a fresh load
        assert load_text_index(spark, d_inc) == idx

        gp = {r.doc_id: r.n_matches for r in indexed_phrase_search(spark, idx, ["fast", "merge"]).collect()}
        wp = {r.doc_id: r.n_matches for r in indexed_phrase_search(spark, full, ["fast", "merge"]).collect()}
        assert gp == wp and gp
        gs = {r.doc_id: r.score for r in indexed_bm25(spark, idx, ["spark", "join"]).collect()}
        ws = {r.doc_id: r.score for r in indexed_bm25(spark, full, ["spark", "join"]).collect()}
        assert gs == ws and gs
    finally:
        sh.rmtree(d_inc, ignore_errors=True)
        sh.rmtree(d_full, ignore_errors=True)


def test_load_rejects_unpublished(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        load_text_index(spark, str(tmp_path / "nope"))


def test_uri_paths_rejected(spark, docs):
    with pytest.raises(ValueError):
        build_text_index(docs, "doc_id", "text", "hdfs://nn/x", 8)


def test_indexed_fuzzy_terms_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from orchid_fst_spark.operators.search import fuzzy_term_docs
    from orchid_fst_spark.operators.text_index import (
        build_text_index,
        indexed_fuzzy_terms,
        load_text_index,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    path = str(tmp_path / "fidx")
    build_text_index(docs, "doc_id", "text", path, n_buckets=8, lowercase=True)
    idx = load_text_index(spark, path)
    for q, k in (("fast", 1), ("merge", 2), ("zzz-none", 0)):
        batch = sorted(
            map(tuple, fuzzy_term_docs(docs, "doc_id", "text", q, k).collect())
        )
        served = sorted(
            map(tuple, indexed_fuzzy_terms(spark, idx, q, k).collect())
        )
        assert served == batch, (q, k)
    # the artifact reads are column-pruned: neither scan reads the
    # positional/doc-length columns (vocab scan reads term only)
    import re

    plan = (
        indexed_fuzzy_terms(spark, idx, "fast", 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(
        "pos" not in s and "dl" not in s for s in schemas
    ), schemas
