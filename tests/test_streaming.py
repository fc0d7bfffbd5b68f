"""Streaming ingest: watermark dedup + incremental ER equivalence.

The invariant that matters: feeding pages in as two streamed micro-
batches yields the SAME clustering as one batch resolve() over the full
input — incremental blocking loses no edges across the batch boundary.
"""

import os

import pytest
from pyspark.sql import functions as F

from orchid_fst_spark.er import resolve
from orchid_fst_spark.streaming import incremental_er, read_pages_stream
from orchid_fst_spark.streaming.ingest import clusters_from_state


def _mk_pages(spark, rows):
    return spark.createDataFrame(
        [
            (
                url,
                __import__("datetime").datetime(2024, 1, 1, 0, 0, sec),
                text.encode(),
                text,
                "en",
            )
            for sec, (url, text) in enumerate(rows)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


ROWS = [
    # cluster 1: three variants of one title (1 del / 1 swap)
    ("https://a.example.com/green-plastic-table?id=1", "green plastic table"),
    ("https://a.example.com/gren-plastic-table?id=2", "green plastic table"),
    ("https://a.example.com/rgeen-plastic-table?id=3", "green plastic table"),
    # cluster 2: two variants
    ("https://b.example.com/shiny-steel-widget?id=4", "shiny steel widget"),
    ("https://b.example.com/shiny-stel-widget?id=5", "shiny steel widget"),
    # singletons
    ("https://c.example.com/totally-unrelated-doc?id=6", "totally unrelated doc"),
    ("https://d.example.com/another-lonely-page?id=7", "another lonely page"),
]


def test_incremental_er_matches_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(src)

    all_pages = _mk_pages(spark, ROWS)

    # batch ground truth
    batch = {
        (r.url, r.cluster_id)
        for r in resolve(all_pages, k=2, damerau=True).collect()
    }

    # stream the same rows in two drops; split crosses both clusters so
    # cross-batch edges are exercised
    _mk_pages(spark, ROWS[:3]).write.mode("overwrite").parquet(
        os.path.join(src, "drop1")
    )
    stream = read_pages_stream(spark, src + "/*")
    assert stream.isStreaming
    q = incremental_er(stream, state, k=2, damerau=True)
    q.awaitTermination(120)

    _mk_pages(spark, ROWS[3:]).write.mode("overwrite").parquet(
        os.path.join(src, "drop2")
    )
    q2 = incremental_er(read_pages_stream(spark, src + "/*"), state, k=2, damerau=True)
    q2.awaitTermination(120)

    got = {
        (r.url, r.cluster_id)
        for r in clusters_from_state(spark, state).collect()
    }
    assert got == batch


def test_incremental_er_cross_batch_join_uses_sig_cap(spark, tmp_path):
    """The cross-batch join caps hot signatures at the caller's
    ``sig_cap``: a batch's stored edges are exactly its self pairs plus
    its join against the stored keys, both at that cap.  The 4-char keys
    all share passjoin's short-band signature, which 3 keys per side
    make hot at cap 2 (and not at the default 1000)."""
    from orchid_fst_spark.operators.dictionary import fuzzy_join, fuzzy_self_pairs

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(src)
    cap, opts = 2, dict(k=2, damerau=True, max_len=96, algo="passjoin")
    old_rows = [(f"http://ab/{c}", c) for c in "abc"]
    old_rows.append(("http://ab/green-plastic-table", "green plastic table"))
    new_rows = [(f"http://ab/{c}", c) for c in "def"]
    new_rows.append(("http://ab/gren-plastic-table", "green plastic table"))
    for name, rows in (("drop1", old_rows), ("drop2", new_rows)):
        _mk_pages(spark, rows).write.mode("overwrite").parquet(
            os.path.join(src, name)
        )
        q = incremental_er(
            read_pages_stream(spark, src + "/*"), state, sig_cap=cap
        )
        q.awaitTermination(120)

    keys = spark.read.parquet(os.path.join(state, "keys"))
    last = keys.agg(F.max("batch_id")).collect()[0][0]
    new = keys.filter(F.col("batch_id") == last).select("norm_key")
    old = keys.filter(F.col("batch_id") < last).select("norm_key")

    def pairs(df):
        return {
            (min(r.key_a, r.key_b), max(r.key_a, r.key_b))
            for r in df.collect()
            if r.key_a != r.key_b
        }

    def cross(sig_cap):
        return pairs(
            fuzzy_join(new, old, "norm_key", "norm_key", sig_cap=sig_cap, **opts)
        )

    within = pairs(fuzzy_self_pairs(new, "norm_key", sig_cap=cap, **opts))
    assert cross(cap) != cross(1000)  # the cap drops the short-band pairs
    assert ("ab/green-plastic-table", "ab/gren-plastic-table") in cross(cap)
    edges = spark.read.parquet(os.path.join(state, "edges"))
    got = pairs(edges.filter(F.col("batch_id") == last))
    assert got == within | cross(cap)


def test_stream_dedup_urls(spark, tmp_path):
    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(src)
    rows = ROWS[:2] + ROWS[:1]  # duplicate url within one drop
    _mk_pages(spark, rows).write.mode("overwrite").parquet(os.path.join(src, "d1"))
    q = incremental_er(read_pages_stream(spark, src + "/*"), state)
    q.awaitTermination(120)
    keys = spark.read.parquet(os.path.join(state, "keys"))
    # the duplicated url survives exactly once
    assert keys.groupBy("url").count().agg(F.max("count")).collect()[0][0] == 1


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    """The same windowed_event_counts function over readStream
    (availableNow + watermark) produces the batch per-window event
    counts (n_users is approximate under streaming state, so only the
    exact columns are compared)."""
    import os

    from orchid_fst_spark.streaming import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = {
        (r.window_start, r.event_type, r.n_events)
        for r in windowed_event_counts(events, "1 hour").collect()
    }

    src = str(tmp_path / "ev")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    assert stream.isStreaming
    q = (
        windowed_event_counts(stream, "1 hour", watermark="2 hours")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(180)
    # append mode emits only watermark-closed windows; with availableNow
    # over a finite source the final window may be withheld — every
    # emitted row must match batch, and coverage must be near-complete
    got = {
        (r.window_start, r.event_type, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert got <= batch
    assert len(got) >= len(batch) - 5


def test_sessionize_stream_matches_batch_semantics(spark):
    """Native session_window sessionization groups events into the SAME
    sessions as the batch lag+running-sum formulation: per user, the
    multiset of (n_events, first_event_id, last_event_id) triples is
    identical (labels differ: window bounds vs ordinal)."""
    from orchid_fst_spark.streaming.windows import sessionize, sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = sorted(
        (r.user_id, r.n_events, r.first_event_id, r.last_event_id)
        for r in sessionize(events, 30).collect()
    )
    native = sorted(
        (r.user_id, r.n_events, r.first_event_id, r.last_event_id)
        for r in sessionize_stream(events, 30).collect()
    )
    assert native == batch


def test_sessionize_stream_runs_as_stream(spark, tmp_path):
    """sessionize_stream is genuinely streaming-capable: stateful
    session_window agg under a watermark with availableNow; every
    emitted (closed) session matches the batch result."""
    from orchid_fst_spark.streaming.windows import sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = {
        (r.user_id, r.n_events, r.first_event_id, r.last_event_id)
        for r in sessionize_stream(events, 30).collect()
    }
    src = str(tmp_path / "ev")
    out = str(tmp_path / "sess_out")
    ck = str(tmp_path / "sess_ck")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    assert stream.isStreaming
    q = (
        sessionize_stream(stream, 30, watermark="2 hours")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.n_events, r.first_event_id, r.last_event_id)
        for r in spark.read.parquet(out).collect()
    }
    # append mode emits watermark-closed sessions only; all emitted rows
    # must be real sessions, and coverage must be near-complete
    assert got <= batch
    assert len(got) >= len(batch) * 0.8


def test_streaming_fuzzy_match_stateful(spark, tmp_path):
    """applyInPandasWithState incremental fuzzy matching: two file drops
    processed as separate micro-batches must together emit exactly the
    batch fuzzy_self_pairs ground truth — including pairs whose members
    arrive in DIFFERENT batches (engine-managed keyed state carries the
    first member across)."""
    from orchid_fst_spark.operators.dictionary import fuzzy_self_pairs
    from orchid_fst_spark.sources.fixtures import gen_dict_words
    from orchid_fst_spark.streaming.stateful import streaming_fuzzy_match

    words = sorted(set(gen_dict_words(300)))
    half = len(words) // 2
    drops = [words[:half], words[half:]]

    src = str(tmp_path / "keys")
    out = str(tmp_path / "matches")
    ck = str(tmp_path / "ck")
    import os

    for i, chunk in enumerate(drops):
        spark.createDataFrame([(w,) for w in chunk], "key string").coalesce(
            1
        ).write.parquet(os.path.join(src, f"drop{i}"))

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", "1")  # force one micro-batch per drop
        .parquet(src + "/*")
    )
    q = (
        streaming_fuzzy_match(stream, "key", k=2)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(240)

    got_df = spark.read.parquet(out)
    assert got_df.filter("capped").count() == 0  # no group hit state_cap
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in got_df.filter("NOT capped").distinct().collect()
    }
    df = spark.createDataFrame([(w,) for w in words], "key string")
    exp = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_self_pairs(df, "key", k=2, scheme="window", window=8).collect()
    }
    assert got == exp
    # state really crossed batches: some pair spans the two drops
    d1, d2 = set(drops[0]), set(drops[1])
    assert any((a in d1) != (b in d1) for a, b, _ in exp), "fixture too easy"
    assert any((a in d1) != (b in d1) for a, b, _ in got)


def test_streaming_fuzzy_match_with_ttl(spark, tmp_path):
    """TTL variant exercises the ProcessingTimeTimeout path: within one
    short availableNow run the TTL never fires, so results must equal
    the no-TTL semantics (state expiry is a recency policy, not a
    correctness change for fresh data)."""
    import os

    from orchid_fst_spark.operators.dictionary import fuzzy_self_pairs
    from orchid_fst_spark.sources.fixtures import gen_dict_words
    from orchid_fst_spark.streaming.stateful import streaming_fuzzy_match

    words = sorted(set(gen_dict_words(120)))
    src = str(tmp_path / "keys")
    out = str(tmp_path / "matches")
    ck = str(tmp_path / "ck")
    spark.createDataFrame([(w,) for w in words], "key string").coalesce(
        1
    ).write.parquet(os.path.join(src, "drop0"))
    stream = spark.readStream.schema("key string").parquet(src + "/*")
    q = (
        streaming_fuzzy_match(stream, "key", k=2, state_ttl_minutes=30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in spark.read.parquet(out).filter("NOT capped").distinct().collect()
    }
    df = spark.createDataFrame([(w,) for w in words], "key string")
    exp = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_self_pairs(df, "key", k=2, scheme="window", window=8).collect()
    }
    assert got == exp


def _near_docs():
    """Small doc corpus with planted near-dups: 12 base texts, each with
    a one-token-substituted variant (shares most shingles) and one exact
    length-2 short doc that must produce NO signature."""
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    docs = []
    did = 0
    for b in range(12):
        base = [words[(b + j) % 12] for j in range(8)]
        docs.append((did, " ".join(base))); did += 1
        variant = list(base)
        variant[3] = "xx" + str(b)
        docs.append((did, " ".join(variant))); did += 1
    docs.append((did, "too short")); did += 1
    return docs


def test_session_window_gap_boundary_semantics(spark):
    """Pin the session_window boundary behavior the native sessionizer
    relies on: events exactly `gap` seconds apart MERGE (split happens
    only at diff > gap) — the same strictness as the batch lag
    formulation's `gap > threshold` test.  Synthetic events because the
    driver testdata contains no exact-gap pair."""
    import datetime as dt

    from orchid_fst_spark.streaming.windows import sessionize, sessionize_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = 30 * 60
    rows = [
        (1, 1, base),
        (1, 2, base + dt.timedelta(seconds=gap)),        # == gap: merges
        (1, 3, base + dt.timedelta(seconds=2 * gap + 1)),  # > gap: splits
        (2, 4, base),
        (2, 5, base + dt.timedelta(seconds=gap + 1)),      # > gap: splits
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz"
    )
    native = sorted(
        (r.user_id, r.n_events, r.first_event_id, r.last_event_id)
        for r in sessionize_stream(ev, 30).collect()
    )
    assert native == [(1, 1, 3, 3), (1, 2, 1, 2), (2, 1, 4, 4), (2, 1, 5, 5)]
    batch = sorted(
        (r.user_id, r.n_events, r.first_event_id, r.last_event_id)
        for r in sessionize(ev, 30).collect()
    )
    assert batch == native


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream range join emits EXACTLY the batch
    interval_join pairs when every interval span is <= max_span (inner
    stream-stream joins emit eagerly — no withheld rows)."""
    from pyspark.sql import functions as F

    from orchid_fst_spark.operators.interval import interval_join
    from orchid_fst_spark.streaming import stream_interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    points = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    intervals = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").cast("timestamp").alias("win_start"))
        .agg(F.max("event_id").alias("err_id"))
        .withColumn(
            "win_end", F.col("win_start") + F.expr("INTERVAL 2 HOURS")
        )
    )
    batch = {
        (r.event_id, r.user_id, r.win_start, r.err_id)
        for r in interval_join(
            points, intervals, ["user_id"], "ts", "win_start", "win_end"
        ).collect()
    }
    assert batch  # the fixture produces matches

    psrc, isrc = str(tmp_path / "p"), str(tmp_path / "i")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    points.write.mode("overwrite").parquet(psrc)
    intervals.write.mode("overwrite").parquet(isrc)
    ps = spark.readStream.schema(points.schema).parquet(psrc)
    ivs = spark.readStream.schema(intervals.schema).parquet(isrc)
    joined = stream_interval_join(
        ps, ivs, ["user_id"], "ts", "win_start", "win_end",
        max_span="2 hours", watermark="4 hours",
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    assert q.awaitTermination(180)  # False = timed out, output partial
    got = {
        (r.event_id, r.user_id, r.win_start, r.err_id)
        for r in spark.read.parquet(out).collect()
    }
    assert got == batch


def test_stream_interval_join_batch_inputs_and_max_span_cut(spark):
    """Batch inputs skip the watermark; an interval longer than
    max_span matches only its first max_span of points (the documented
    state-boundedness trade)."""
    from datetime import datetime

    from orchid_fst_spark.streaming import stream_interval_join

    base = datetime(2024, 1, 1)

    def _t(minutes):
        return base.replace(minute=0) if minutes == 0 else base.replace(
            hour=minutes // 60, minute=minutes % 60
        )

    pts = spark.createDataFrame(
        [(1, "k", _t(10)), (2, "k", _t(150))],
        "pid long, k string, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(9, "k", _t(0), _t(300))],
        "iid long, k string, s timestamp, e timestamp",
    )
    got = sorted(
        r.pid
        for r in stream_interval_join(
            pts, iv, ["k"], "ts", "s", "e", max_span="2 hours"
        ).collect()
    )
    # point at t+150min is inside [0, 300) but beyond max_span=120min
    assert got == [1]


def test_stream_text_index_equals_batch_build(spark, tmp_path):
    """Streaming maintenance of the inverted-index artifact: ingesting
    the corpus in micro-batches must serve EXACTLY what one batch full
    build over the same documents serves (phrase + BM25), and the
    sidecar corpus stats must advance to the full-corpus integers."""
    from pyspark.sql import functions as F

    from orchid_fst_spark.operators.text_index import (
        build_text_index,
        indexed_bm25,
        indexed_phrase_search,
        load_text_index,
    )
    from orchid_fst_spark.streaming import stream_text_index

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )

    # batch reference artifact
    bdir = str(tmp_path / "batch_idx")
    build_text_index(docs, "doc_id", "text", bdir, n_buckets=8, lowercase=True)
    bidx = load_text_index(spark, bdir)

    # stream the same docs in several micro-batches (file source,
    # maxFilesPerTrigger=1 over a multi-file write)
    src = str(tmp_path / "src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sdir = str(tmp_path / "stream_idx")
    q = stream_text_index(
        stream, "doc_id", "text", sdir, n_buckets=8, lowercase=True,
        checkpoint_dir=str(tmp_path / "ck"), available_now=True,
    )
    assert q.awaitTermination(180)  # False = timed out, index partial
    sidx = load_text_index(spark, sdir)

    # sidecar integers advanced to the full corpus
    assert (sidx.n_docs, sidx.sum_dl) == (bidx.n_docs, bidx.sum_dl)

    # served results identical to the batch artifact
    terms = ["fast", "merge"]
    b_phrase = sorted(
        map(tuple, indexed_phrase_search(spark, bidx, terms).collect())
    )
    s_phrase = sorted(
        map(tuple, indexed_phrase_search(spark, sidx, terms).collect())
    )
    assert s_phrase == b_phrase
    b_bm = sorted(map(tuple, indexed_bm25(spark, bidx, terms).collect()))
    s_bm = sorted(map(tuple, indexed_bm25(spark, sidx, terms).collect()))
    assert s_bm == b_bm and len(s_bm) > 0

    # marker files make re-delivered batch ids no-ops
    import os

    markers = [f for f in os.listdir(sdir) if f.startswith("_batch_")]
    assert len(markers) >= 2  # really ingested in multiple batches

    # EXERCISE the idempotency path: a fresh checkpoint re-delivers
    # every file as batch ids 0..n again — all already marked, so the
    # second run must leave the artifact byte-identical (no double
    # appends)
    import pyspark.sql.functions as _F

    before_fp = (
        spark.read.parquet(sdir)
        .agg(
            _F.count("*").alias("n"),
            _F.bit_xor(_F.xxhash64("term", "doc_id", "pos")).alias("h"),
        )
        .collect()[0]
    )
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = stream_text_index(
        stream2, "doc_id", "text", sdir, n_buckets=8, lowercase=True,
        checkpoint_dir=str(tmp_path / "ck2"), available_now=True,
    )
    assert q2.awaitTermination(180)
    after = load_text_index(spark, sdir)
    assert (after.n_docs, after.sum_dl) == (sidx.n_docs, sidx.sum_dl)
    after_fp = (
        spark.read.parquet(sdir)
        .agg(
            _F.count("*").alias("n"),
            _F.bit_xor(_F.xxhash64("term", "doc_id", "pos")).alias("h"),
        )
        .collect()[0]
    )
    assert (after_fp.n, after_fp.h) == (before_fp.n, before_fp.h)


def test_stream_text_index_guards(spark, tmp_path):
    """Safety rails (ADVICE r3): (1) the first-batch crash-recovery
    rmtree refuses a directory that does not look like a partial index
    build; (2) a batch-id collision carrying DIFFERENT documents (fresh
    checkpoint against an existing index) raises instead of silently
    no-op'ing the new data."""
    import os

    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from orchid_fst_spark.streaming import stream_text_index

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )

    # (1) foreign directory without _meta: must raise, not rmtree
    foreign = tmp_path / "precious"
    foreign.mkdir()
    (foreign / "user_data.txt").write_text("do not delete")
    src1 = str(tmp_path / "src1")
    docs.limit(10).coalesce(1).write.mode("overwrite").parquet(src1)
    s1 = spark.readStream.schema(docs.schema).parquet(src1)
    q1 = stream_text_index(
        s1, "doc_id", "text", str(foreign), n_buckets=4, lowercase=True,
        checkpoint_dir=str(tmp_path / "ckg1"), available_now=True,
    )
    with pytest.raises(StreamingQueryException) as ei:
        q1.awaitTermination(120)
    assert "non-index entries" in str(ei.value)
    assert (foreign / "user_data.txt").read_text() == "do not delete"

    # (2) same batch ids, different documents: must raise, not drop
    sdir = str(tmp_path / "col_idx")
    q2 = stream_text_index(
        spark.readStream.schema(docs.schema).parquet(src1),
        "doc_id", "text", sdir, n_buckets=4, lowercase=True,
        checkpoint_dir=str(tmp_path / "ckg2"), available_now=True,
    )
    assert q2.awaitTermination(120)
    src2 = str(tmp_path / "src2")
    docs.filter("doc_id >= 10").limit(10).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src2)
    q3 = stream_text_index(
        spark.readStream.schema(docs.schema).parquet(src2),
        "doc_id", "text", sdir, n_buckets=4, lowercase=True,
        checkpoint_dir=str(tmp_path / "ckg3"), available_now=True,
    )
    with pytest.raises(StreamingQueryException) as ei:
        q3.awaitTermination(120)
    assert "DIFFERENT documents" in str(ei.value)


def test_stream_near_dedup_equals_batch(spark, tmp_path):
    # two drops; the second contains a near-dup of a drop-1 doc (cross-
    # batch LSH edge), an exact re-crawl of a drop-1 id (dropped — first
    # batch wins), an exact dup of a drop-1 text under a NEW id, and a
    # brand-new page: the maintained assignment must equal the batch
    # near_dedup over every unique doc ingested
    from orchid_fst_spark.operators.dedup import near_dedup
    from orchid_fst_spark.streaming import dedup_from_state, stream_near_dedup

    d1 = [
        (1, "the cat sat on the mat by the door"),
        (2, "the cat sat on the mat by the floor"),
        (3, "completely different words entirely here now"),
    ]
    d2 = [
        (4, "the cat sat on the mat by the window"),  # near cluster 1
        (1, "the cat sat on the mat by the door"),    # re-delivered id 1
        (5, "completely different words entirely here now"),  # exact of 3
        (6, "a brand new unrelated page appears in drop two"),
    ]
    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(src)
    schema = "doc_id long, text string"
    kw = dict(threshold_num=1, threshold_den=100)

    spark.createDataFrame(d1, schema).write.mode("overwrite").parquet(
        os.path.join(src, "drop1")
    )
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = stream_near_dedup(stream, state, **kw)
    q.awaitTermination(120)

    spark.createDataFrame(d2, schema).write.mode("overwrite").parquet(
        os.path.join(src, "drop2")
    )
    q2 = stream_near_dedup(
        spark.readStream.schema(schema).parquet(src + "/*"), state, **kw
    )
    q2.awaitTermination(120)

    got = {
        (r.doc_id, r.rep_id, r.keep)
        for r in dedup_from_state(spark, state).collect()
    }
    all_docs = spark.createDataFrame(d1 + d2, schema).dropDuplicates(["doc_id"])
    exp = {
        (r[0], r.rep_id, r.keep)
        for r in near_dedup(all_docs, "doc_id", "text", **kw).collect()
    }
    assert got == exp
    # the cross-batch near-dup landed in cluster 1, the exact dup in 3's
    assert (4, 1, 0) in got and (5, 3, 0) in got and (6, 6, 1) in got


def test_stream_fs_em_equals_batch(spark, tmp_path):
    # pattern counts are the EM's sufficient statistic and additive, so
    # training from streamed state must EXACTLY equal batch fs_em_train
    # over all pairs ingested — params and pattern report both
    from orchid_fst_spark.er.scoring import fs_em_train, score_pairs
    from orchid_fst_spark.streaming import (
        fs_em_from_state,
        stream_fs_pattern_counts,
    )

    d1 = [("spark", "spark", 0)] * 5 + [("spark", "zzzz-qq", 2)] * 20
    d2 = [("table", "table", 0)] * 3 + [("table", "qq-zzzz", 2)] * 12
    schema = "key_a string, key_b string, dist long"
    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(src)

    spark.createDataFrame(d1, schema).write.mode("overwrite").parquet(
        os.path.join(src, "drop1")
    )
    stream = score_pairs(spark.readStream.schema(schema).parquet(src + "/*"))
    q = stream_fs_pattern_counts(stream, state)
    try:
        q.processAllAvailable()
        spark.createDataFrame(d2, schema).write.mode("overwrite").parquet(
            os.path.join(src, "drop2")
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got_params, got_pat = fs_em_from_state(spark, state)
    exp_params, exp_pat = fs_em_train(
        score_pairs(spark.createDataFrame(d1 + d2, schema))
    )
    assert got_params == exp_params
    cols = sorted(exp_pat.columns)
    assert sorted(map(tuple, got_pat.select(cols).collect())) == sorted(
        map(tuple, exp_pat.select(cols).collect())
    )


def test_fs_em_from_state_requires_counts(spark, tmp_path):
    from orchid_fst_spark.streaming import fs_em_from_state

    with pytest.raises(FileNotFoundError):
        fs_em_from_state(spark, str(tmp_path / "nowhere"))


def test_stream_swoosh_equals_batch(spark, tmp_path):
    # drop 2 completes the novelty gadget across batches: r3 matches no
    # single record pairwise but matches the drop-1 merged entity; it
    # also re-delivers r1 (dropped, first batch wins) and brings a
    # bridge record r0 with a SMALLER id that must relabel the entity
    from orchid_fst_spark.er.swoosh import swoosh_resolve
    from orchid_fst_spark.streaming.ingest import (
        stream_swoosh,
        swoosh_from_state,
    )

    schema = (
        "id string, a_vals array<string>, b_vals array<string>"
    )
    d1 = [
        ("r1", ["a1", "a9"], ["b1"]),
        ("r2", ["a1"], ["b1", "b2"]),
        ("r6", ["c1"], ["d1"]),
        ("r7", ["c1"], ["d1"]),
    ]
    d2 = [
        ("r3", ["a9"], ["b2"]),                    # 2-hop novelty
        ("r1", ["a1", "a9"], ["b1"]),              # re-delivered id
        ("r0", ["a1", "c1"], ["b1", "d1"]),        # bridges both entities
    ]
    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(src)

    spark.createDataFrame(d1, schema).write.mode("overwrite").parquet(
        os.path.join(src, "drop1")
    )
    q = stream_swoosh(
        spark.readStream.schema(schema).parquet(src + "/*"), state
    )
    q.awaitTermination(120)

    spark.createDataFrame(d2, schema).write.mode("overwrite").parquet(
        os.path.join(src, "drop2")
    )
    q2 = stream_swoosh(
        spark.readStream.schema(schema).parquet(src + "/*"), state
    )
    q2.awaitTermination(120)

    got = {
        (r.id, r.entity_id)
        for r in swoosh_from_state(spark, state).collect()
    }
    all_recs = spark.createDataFrame(d1 + d2, schema).dropDuplicates(["id"])
    exp = {
        (r.id, r.entity_id) for r in swoosh_resolve(all_recs).collect()
    }
    assert got == exp
    # the bridge collapses everything to one entity labeled r0
    assert {e for _, e in got} == {"r0"}
