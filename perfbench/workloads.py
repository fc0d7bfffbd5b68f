"""The benchmark's three workloads.

Each workload builds its inputs from the seed (``setup``), then runs
passes of public calls into the program (``run_pass``).  A pass returns
its timings and the result of its output checks; a call that raises or
returns a wrong result counts as a failed operation and the run goes
on.  With a live tracer the same pass records one span per public call,
and ``layers`` turns the spans, the Spark counters behind them and a few
waste counters into the per-layer metrics.

Why these three (all closed loop, one client; BENCHMARK.json lists the
first and the last, see its ``why`` lines; cluster_graph is run by hand
with ``--workload cluster_graph``):
- resolve_pages: the full pipeline on web-page titles that share
  boilerplate, so segment blocking emits ~75x more candidate pairs than
  it verifies.  Blocking is the largest layer here; a blocking filter
  shows on this workload and on no other.
- cluster_graph: connected components alone, on long paths with shuffled
  ids (many star rounds) plus hubs (hot keys in the large-star groupBy).
  No blocking or scoring runs.
- fuzzy_index: the build-once / query-many index: build over syllable
  words with dense 2-edit neighbourhoods, then point and batch fuzzy
  lookups.  No blocking or clustering runs, so a build-side change that
  costs lookups shows here.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from statistics import median

import checks
import gen
import proc
from spans import duration
from stats import nearest_rank, ratio, tail_percentile

# ``warmup`` is the number of untimed passes first
SIZES = {
    "full": {
        "resolve_pages": {"n_docs": 1000, "warmup": 1},
        "cluster_graph": {
            "n_paths": 400, "path_len": 50, "n_hubs": 8, "hub_leaves": 3000, "warmup": 1,
        },
        "fuzzy_index": {
            "warmup": 1,
            "n_keys": 60_000,
            "point_per_pass": 3,
            "batch": 60,
            "traced_lookups": 17,
            "oracle_sample": 3,
        },
    },
    # a few seconds per pass, for the benchmark's own tests
    "tiny": {
        "resolve_pages": {"n_docs": 40, "warmup": 1},
        "cluster_graph": {"n_paths": 6, "path_len": 9, "n_hubs": 2, "hub_leaves": 15, "warmup": 1},
        "fuzzy_index": {
            "warmup": 1,
            "n_keys": 3000,
            "point_per_pass": 2,
            "batch": 8,
            "traced_lookups": 3,
            "oracle_sample": 2,
        },
    },
}

#: every per-layer metric, with its unit; a layer a workload does not run
#: reports 0 (it did no work there)
LAYER_UNITS = {
    "blocking.wall_s": "s",
    "blocking.jobs": "count",
    "blocking.executor_cpu_s": "s",
    "blocking.shuffle_write_mb": "MB",
    "blocking.spill_mb": "MB",
    "blocking.task_skew": "ratio",
    "blocking.keys_in": "count",
    "blocking.preverify_pairs": "count",
    "blocking.pairs_out": "count",
    "blocking.verify_yield": "ratio",
    "scoring.wall_s": "s",
    "scoring.jobs": "count",
    "scoring.edges_out": "count",
    "clustering.wall_s": "s",
    "clustering.jobs": "count",
    "clustering.executor_cpu_s": "s",
    "clustering.shuffle_write_mb": "MB",
    "clustering.shuffle_read_mb": "MB",
    "clustering.spill_mb": "MB",
    "clustering.task_skew": "ratio",
    "clustering.nodes_out": "count",
    "pipeline.wall_s": "s",
    "pipeline.self_s": "s",
    "index.build_s": "s",
    "index.lookup_p50_ms": "ms",
    "index.lookup_samples": "count",
    "index.batch_lookup_s": "s",
    "index.build_shuffle_write_mb": "MB",
    "index.artifact_bytes_per_key_byte": "ratio",
    "index.lookup_jobs": "count",
    "index.lookup_executor_cpu_s": "s",
    "index.hits_per_query": "count",
    "lev_dfa.compile_ms": "ms",
    "lev_dfa.compile_share": "ratio",
    "spark.jobs_total": "count",
    "spark.jobs_untraced": "count",
    # varied by up to a third between runs (heap growth and GC timing), so
    # it is a per-layer figure, not a bounded end-to-end one
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


class Ops:
    """Counts operations attempted and failed over a run, and the CPU
    seconds the benchmark's process tree spent inside the calls.  With
    ``count_jobs`` set to a SparkContext it also counts the Spark jobs the
    calls themselves start (not those of their output checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.cpu_s = 0.0
        self.count_jobs = None
        self.jobs = 0

    def call(self, tr, span: str, fn, check):
        """Time ``fn()`` inside a span named ``span``; run
        ``check(result)`` after the span closes, outside the timed region.
        Returns (seconds, result), or (None, None) when the call raised or
        its output check failed."""
        self.attempted += 1
        try:
            mark = job_watermark(self.count_jobs) if self.count_jobs else 0
            cpu0 = proc.tree_cpu_s(os.getpid())
            with tr.span(span):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            cpu = proc.tree_cpu_s(os.getpid()) - cpu0
            if self.count_jobs:
                self.jobs += job_watermark(self.count_jobs) - mark
            ok = check(out)
        except Exception:  # a failing call is counted, the run goes on
            self.failed += 1
            print(f"[perfbench] {span} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None, None
        if not ok:
            self.failed += 1
            print(f"[perfbench] {span}: output check failed", file=sys.stderr)
            return None, None
        self.cpu_s += cpu
        return dt, out


def _frame(spark, columns: dict):
    """A materialised string-column DataFrame (sent over Arrow), so that
    passes time the program and not the harness's input conversion."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(columns)).localCheckpoint(eager=True)


def layer_metrics(tr, layer: str) -> dict:
    """Wall time of a layer's spans and the Spark counters of their jobs
    (a caller keeps the names it reports for that layer)."""
    sp = tr.named(layer)
    c = tr.counters(sp)
    m = {f"{layer}.wall_s": sum(duration(s) for s in sp), f"{layer}.jobs": c["jobs"]}
    for key in ("executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_skew"):
        m[f"{layer}.{key}"] = c[key]
    return m


def job_watermark(sc) -> int:
    """Highest id among jobs run outside any job group (ids are
    sequential), once the listener bus has caught up; reading it starts
    no job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


class ResolvePages:
    name = "resolve_pages"

    def __init__(self, spark, seed: int, size: dict, workdir: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.fingerprint = None

    def setup(self) -> None:
        rows = gen.pages(self.seed, self.size["n_docs"])
        self.truth = {url: doc for url, doc in rows}
        self.pages = _frame(self.spark, {"url": [u for u, _ in rows]})

    def _check(self, out, result: dict) -> bool:
        pdf = out.select("url", "cluster_id").toPandas()
        pred = dict(zip(pdf["url"], pdf["cluster_id"]))
        result["f1"] = checks.pairwise_f1(pred, self.truth)
        n_truth = len(set(self.truth.values()))
        n_pred = len(set(pred.values()))
        fp = hash(tuple(sorted(pred.items())))
        if self.fingerprint is None:
            self.fingerprint = fp
        ok = (
            len(pdf) == len(self.truth)
            and set(pred) == set(self.truth)
            and result["f1"] >= 0.99
            and abs(n_pred - n_truth) <= 0.01 * n_truth
            and fp == self.fingerprint  # every pass gives the same clustering
        )
        if not ok:
            print(
                f"[perfbench] resolve: rows={len(pdf)}/{len(self.truth)} "
                f"clusters={n_pred}/{n_truth} f1={result['f1']:.4f}",
                file=sys.stderr,
            )
        return ok

    def run_pass(self, tr, ops: Ops) -> dict:
        from orchid_fst_spark.er import resolve

        def call():
            with layer_spans(tr) if tr.enabled else nullcontext():
                return resolve(self.pages, k=2, damerau=True)

        result = {"records": len(self.truth)}
        cpu0 = ops.cpu_s
        wall, _ = ops.call(tr, "pipeline.resolve", call, lambda df: self._check(df, result))
        result["wall_s"] = result["read_s"] = wall
        result["read_cpu_s"] = ops.cpu_s - cpu0
        return result

    def layers(self, tr, traced: dict, ops: Ops) -> dict:
        from pyspark.sql import functions as F

        from orchid_fst_spark.er import normalize_pages
        from orchid_fst_spark.operators.passjoin import passjoin_self_candidates

        m = {**layer_metrics(tr, "blocking"), **layer_metrics(tr, "scoring")}
        m.update(layer_metrics(tr, "clustering"))
        (root,) = tr.named("pipeline.resolve")
        m["pipeline.wall_s"] = duration(root)
        m["pipeline.self_s"] = tr.self_s(root)
        # waste counters: the pre-verify candidate stream on the same
        # xxhash64 keymap candidate_pairs builds, and the layers' outputs
        with tr.span("harness.counters"):
            keys = (
                normalize_pages(self.pages)
                .select(F.col("norm_key").alias("key"))
                .filter(F.length("key") > 0)
                .distinct()
            )
            keymap = keys.select("key", F.xxhash64("key").alias("kid"))
            m["blocking.keys_in"] = keys.count()
            m["blocking.preverify_pairs"] = passjoin_self_candidates(
                keymap, k=2, max_len=96, sig_cap=1000
            ).count()
            m["blocking.pairs_out"] = tr.outputs["blocking.candidate_pairs"].count()
            m["scoring.edges_out"] = tr.outputs["scoring.match_edges"].count()
            m["clustering.nodes_out"] = tr.outputs["clustering.connected_components"].count()
        m["blocking.verify_yield"] = ratio(m["blocking.pairs_out"], m["blocking.preverify_pairs"])
        return m


# pipeline-module function -> (layer, materialise its output inside the span)
_PIPELINE_CALLS = {
    "normalize_pages": ("blocking", False),
    "candidate_pairs": ("blocking", True),
    "score_pairs": ("scoring", False),
    "match_edges": ("scoring", True),
    "connected_components": ("clustering", True),
}


@contextmanager
def layer_spans(tr):
    """Record a span around each layer call ``resolve`` makes, by
    wrapping the public functions the pipeline module calls.  A layer
    call returns a lazy DataFrame that the pipeline materialises later,
    so the wrapper materialises it inside the span (localCheckpoint, as
    the pipeline itself does); the pipeline's own checkpoint of the
    already-materialised frame is then one job, counted in
    ``tr.added_jobs`` and left out of ``spark.jobs_total``."""
    from orchid_fst_spark.er import pipeline

    saved = {name: getattr(pipeline, name) for name in _PIPELINE_CALLS}

    def wrap(name, fn, layer, materialize):
        def call(*args, **kwargs):
            with tr.span(f"{layer}.{name}"):
                out = fn(*args, **kwargs)
                if materialize:
                    out = out.localCheckpoint(eager=True)
                    tr.added_jobs += 1
                    tr.outputs[f"{layer}.{name}"] = out
                return out

        return call

    for name, (layer, materialize) in _PIPELINE_CALLS.items():
        setattr(pipeline, name, wrap(name, saved[name], layer, materialize))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)


class ClusterGraph:
    name = "cluster_graph"

    def __init__(self, spark, seed: int, size: dict, workdir: str):
        self.spark, self.seed, self.size = spark, seed, size

    def setup(self) -> None:
        sz = self.size
        edges, self.truth = gen.graph(
            self.seed, sz["n_paths"], sz["path_len"], sz["n_hubs"], sz["hub_leaves"]
        )
        self.n_edges = len(edges)
        self.edges = _frame(
            self.spark, {"src": [a for a, _ in edges], "dst": [b for _, b in edges]}
        )

    def _check(self, out, result: dict) -> bool:
        pdf = out.toPandas()
        pred = dict(zip(pdf["node"], pdf["component"]))
        result["f1"] = checks.pairwise_f1(pred, self.truth)
        ok = (
            len(pdf) == len(self.truth)
            and pred == self.truth  # min-member label of every node
            and len(set(pred.values())) == len(set(self.truth.values()))
        )
        if not ok:
            wrong = sum(pred.get(v) != c for v, c in self.truth.items())
            print(f"[perfbench] components: {wrong} nodes mislabelled", file=sys.stderr)
        return ok

    def run_pass(self, tr, ops: Ops) -> dict:
        from orchid_fst_spark.er import connected_components

        result = {"records": self.n_edges}
        cpu0 = ops.cpu_s
        wall, _ = ops.call(
            tr,
            "clustering.connected_components",
            lambda: connected_components(self.edges).localCheckpoint(eager=True),
            lambda df: self._check(df, result),
        )
        result["wall_s"] = result["read_s"] = wall
        result["read_cpu_s"] = ops.cpu_s - cpu0
        result["nodes_out"] = len(self.truth) if wall is not None else 0
        return result

    def layers(self, tr, traced: dict, ops: Ops) -> dict:
        return {**layer_metrics(tr, "clustering"), "clustering.nodes_out": traced["nodes_out"]}


# passes rotate through this many groups of point queries
_POINT_GROUPS = 4


class FuzzyIndex:
    name = "fuzzy_index"

    def __init__(self, spark, seed: int, size: dict, workdir: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.path = os.path.join(workdir, "index")
        self.pass_no = 0
        self._oracle = None

    def setup(self) -> None:
        s = self.size
        self.keys = gen.dictionary(self.seed, s["n_keys"])
        pool = gen.queries(self.seed, self.keys, s["batch"] + _POINT_GROUPS * s["point_per_pass"])
        self.batch, self.point = pool[: s["batch"]], pool[s["batch"] :]
        self.keys_df = _frame(self.spark, {"key": self.keys})

    @property
    def oracle(self) -> checks.LevOracle:
        # built on first use, so its cost is in neither set-up nor a pass
        if self._oracle is None:
            self._oracle = checks.LevOracle(self.keys)
        return self._oracle

    def _check_hits(self, hits: dict, pairs: list, sample: int, result: dict) -> bool:
        """Every query finds its source key; a sample matches the DP oracle."""
        ok = all(src in hits.get(q, set()) for q, src in pairs)
        for q, _src in pairs[:sample]:
            f1 = checks.set_f1(hits.get(q, set()), self.oracle.within(q, 2))
            result.setdefault("f1s", []).append(f1)
            ok = ok and f1 == 1.0
        return ok

    def _point(self, idx, q: str, src: str, tr, ops: Ops, result: dict):
        from orchid_fst_spark.operators.index import index_fuzzy_lookup

        def check(rows):
            hits = {q: {r.key for r in rows}}
            result["hits"].append(len(rows))
            return self._check_hits(hits, [(q, src)], self.size["oracle_sample"], result)

        dt, _ = ops.call(
            tr, "index.fuzzy_lookup", lambda: index_fuzzy_lookup(idx, q, 2).collect(), check
        )
        return dt

    def run_pass(self, tr, ops: Ops) -> dict:
        from orchid_fst_spark.operators.index import (
            build_index,
            index_fuzzy_lookup_many,
            load_index,
        )

        n = self.size["point_per_pass"]
        start = (self.pass_no % _POINT_GROUPS) * n
        self.pass_no += 1
        result = {"hits": [], "lookup_s": [], "wall_s": None}
        build_s, _ = ops.call(
            tr, "index.build_index", lambda: build_index(self.keys_df, self.path), lambda _: True
        )
        load_s, idx = ops.call(
            tr, "index.load_index", lambda: load_index(self.spark, self.path), lambda _: True
        )
        if idx is None:
            return result
        cpu0 = ops.cpu_s
        for q, src in self.point[start : start + n]:
            result["lookup_s"].append(self._point(idx, q, src, tr, ops, result))

        def check_batch(rows):
            hits: dict = {}
            for r in rows:
                hits.setdefault(r.query, set()).add(r.key)
            return self._check_hits(hits, self.batch, self.size["oracle_sample"], result)

        batch_s, _ = ops.call(
            tr,
            "index.fuzzy_lookup_many",
            lambda: index_fuzzy_lookup_many(idx, [q for q, _ in self.batch], 2).collect(),
            check_batch,
        )
        result["read_cpu_s"] = ops.cpu_s - cpu0
        times = [build_s, load_s, batch_s, *result["lookup_s"]]
        if any(t is None for t in times):
            return result
        result["build_s"], result["batch_s"] = build_s, batch_s
        result["wall_s"] = sum(times)
        result["read_s"] = sum(result["lookup_s"]) + batch_s
        result["records"] = n + len(self.batch)
        result["f1"] = median(result["f1s"])
        return result

    def details(self, passes: list[dict]) -> dict:
        """The fuzzy-only figures of the untraced run (printed, not bounded)."""
        lat = [t * 1e3 for p in passes for t in p["lookup_s"]]
        return {
            "build_s": median([p["build_s"] for p in passes]),
            "lookup_p50_ms": median(lat),
            "lookup_tail_pct_ms": tail_percentile(lat),
            "lookup_samples": len(lat),
            "batch_lookup_s": median([p["batch_s"] for p in passes]),
        }

    def layers(self, tr, traced: dict, ops: Ops) -> dict:
        """Per-layer figures, after a series of ``traced_lookups`` more
        point lookups: with the pass's own that is 20 samples, the fewest
        that leave 10 beyond the median."""
        from orchid_fst_spark.automata.lev_dfa import compile_dfa
        from orchid_fst_spark.operators.index import load_index

        idx = load_index(self.spark, self.path)
        series = gen.queries(self.seed + 1, self.keys, self.size["traced_lookups"])
        for q, src in series:
            traced["lookup_s"].append(self._point(idx, q, src, tr, ops, traced))
        lat = [t * 1e3 for t in traced["lookup_s"] if t is not None]
        build = tr.named("index.build_index")
        lookups = tr.named("index.fuzzy_lookup")
        lc = tr.counters(lookups)
        compile_ms = []
        for q, _ in self.batch:
            t0 = time.perf_counter()
            compile_dfa(q, 2)
            compile_ms.append((time.perf_counter() - t0) * 1e3)
        key_bytes = sum(len(k.encode()) for k in self.keys)
        m = {
            "index.build_s": sum(duration(s) for s in build),
            "index.lookup_p50_ms": nearest_rank(lat, 50),
            "index.lookup_samples": len(lat),
            "index.batch_lookup_s": traced["batch_s"],
            "index.build_shuffle_write_mb": tr.counters(build)["shuffle_write_mb"],
            "index.artifact_bytes_per_key_byte": ratio(_tree_bytes(self.path), key_bytes),
            "index.lookup_jobs": ratio(lc["jobs"], len(lookups)),
            "index.lookup_executor_cpu_s": ratio(lc["executor_cpu_s"], len(lookups)),
            "index.hits_per_query": ratio(sum(traced["hits"]), len(traced["hits"])),
            "lev_dfa.compile_ms": median(compile_ms),
            "lev_dfa.compile_share": ratio(sum(compile_ms) / 1e3, traced["batch_s"]),
        }
        return m


def _tree_bytes(path: str) -> int:
    """Bytes of the parquet files under an artifact directory."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (ResolvePages, ClusterGraph, FuzzyIndex)}
