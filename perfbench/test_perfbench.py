"""Tests of the benchmark's own logic, and a tiny-size run of every
workload with tracing off and on.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time

import pytest

import checks
import gen
import spans
from stats import nearest_rank, ratio, tail_percentile


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(99)))[0] == 50.0
    assert tail_percentile(list(range(100))) == (90.0, 89)
    assert tail_percentile(list(range(999)))[0] == 90.0
    assert tail_percentile(list(range(1000))) == (99.0, 989)


def test_nearest_rank():
    assert nearest_rank([5, 1, 3], 50) == 3
    assert nearest_rank([1, 2, 3, 4], 50) == 2
    assert nearest_rank([1, 2, 3, 4], 100) == 4
    assert nearest_rank([7], 90) == 7


def _span(start, end, parent=None, sid=0):
    return {"id": sid, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_interval_once():
    parent = _span(0.0, 10.0)
    children = [_span(1, 3), _span(2, 5), _span(8, 12), _span(11, 13)]
    # covered inside the parent: [1, 5] and [8, 10]
    assert spans.self_time(parent, children) == pytest.approx(4.0)
    assert spans.self_time(parent, []) == pytest.approx(10.0)
    assert spans.self_time(parent, [_span(-2, 20)]) == pytest.approx(0.0)


def test_tracer_self_time_and_nesting_without_spark():
    class FakeSC:
        def __init__(self):
            self.props = {}

        def setJobGroup(self, gid, desc):
            self.props["spark.jobGroup.id"] = gid

        def setLocalProperty(self, key, value):
            self.props[key] = value

    sc = FakeSC()
    tr = spans.Tracer(sc, "r", enabled=True)
    with tr.span("pipeline.resolve"):
        with tr.span("blocking.candidate_pairs"):
            assert sc.props["spark.jobGroup.id"] == "r-1"
        assert sc.props["spark.jobGroup.id"] == "r-0"
    assert sc.props["spark.jobGroup.id"] is None
    root, child = tr.spans
    assert child["parent"] == root["id"] and child["run_id"] == root["run_id"] == "r"
    total = spans.duration(child) + tr.self_s(root)
    assert total == pytest.approx(spans.duration(root))
    assert [s["name"] for s in tr.named("blocking")] == ["blocking.candidate_pairs"]

    off = spans.Tracer(None, "off", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_ratio_bases():
    assert ratio(16, 5_000) == pytest.approx(0.0032)
    assert ratio(3, 0) == 0.0  # a layer that did no work has no yield
    assert spans.task_skew([4.0, 2.0], [1.0, 1.0]) == pytest.approx(3.0)
    assert spans.task_skew([], []) == 0.0


def test_pairwise_f1():
    truth = {"a": 1, "b": 1, "c": 2, "d": 2}
    assert checks.pairwise_f1(dict(truth), truth) == 1.0
    assert checks.pairwise_f1({"a": 9, "b": 9, "c": 8, "d": 8}, truth) == 1.0
    merged = {k: 0 for k in truth}  # 6 predicted pairs, 2 true
    assert checks.pairwise_f1(merged, truth) == pytest.approx(2 * (2 / 6) / (2 / 6 + 1))
    # a missing item is a singleton: recall drops to 1/2
    assert checks.pairwise_f1({"a": 1, "c": 2, "d": 2}, truth) == pytest.approx(2 / 3)
    assert checks.set_f1(set(), set()) == 1.0
    assert checks.set_f1({"x"}, {"x", "y"}) == pytest.approx(2 / 3)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_lev_oracle_matches_scalar_dp():
    keys = gen.dictionary(5, 400)
    oracle = checks.LevOracle(keys)
    for q, src in gen.queries(5, keys, 25):
        want = {k for k in keys if _lev(q, k) <= 2}
        assert oracle.within(q, 2) == want
        assert src in want


def test_generators_are_seeded():
    assert gen.pages(3, 30) == gen.pages(3, 30)
    assert gen.pages(3, 30) != gen.pages(4, 30)
    rows = gen.pages(3, 30)
    assert len(rows) == 90 and len({d for _, d in rows}) == 30
    edges, truth = gen.graph(3, 4, 5, 2, 6)
    assert (edges, truth) == gen.graph(3, 4, 5, 2, 6)
    assert len(truth) == 4 * 5 + 2 * 7
    comps: dict = {}
    for v, c in truth.items():
        comps.setdefault(c, []).append(v)
    assert all(c == min(vs) for c, vs in comps.items())
    assert len(comps) == 6
    keys = gen.dictionary(3, 500)
    assert keys == sorted(set(keys)) and len(keys) == 500
    rng = random.Random(0)
    for q, src in gen.queries(rng.randrange(100), keys, 50):
        assert _lev(q, src) <= 2


HERE = os.path.dirname(os.path.abspath(__file__))


def test_tree_cpu_counts_live_and_reaped_children():
    import proc

    before = proc.tree_cpu_s(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\ninput()"],
        stdin=subprocess.PIPE,
    )
    try:
        while proc.tree_cpu_s(child.pid) < 0.3:  # still busy
            assert child.poll() is None
            time.sleep(0.05)
        assert child.pid in proc.descendants(os.getpid())
        assert proc.tree_cpu_s(os.getpid()) - before >= 0.3  # live child
    finally:
        child.communicate(b"\n")
    # reaped: its time moves into this process's children's time
    assert proc.tree_cpu_s(os.getpid()) - before >= 0.3
    assert child.pid not in proc.descendants(os.getpid())


def test_benchmark_json_matches_the_metrics_printed():
    import run
    from workloads import LAYER_UNITS, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "resolve_pages",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    import run

    workdir = str(tmp_path_factory.mktemp("perfbench") / "work")
    session = run.start_spark(workdir)
    yield session, workdir
    run.stop_spark(session)


@pytest.mark.parametrize("name", ["resolve_pages", "cluster_graph", "fuzzy_index"])
def test_tiny_run(spark, name):
    import run
    from workloads import LAYER_UNITS

    session, workdir = spark
    plain = run.run_workload(session, name, 11, 0, False, workdir, size="tiny")
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 2
    m = plain["metrics"]
    assert set(m) == set(run.END_TO_END_UNITS)
    assert all(v["value"] > 0 for v in m.values()), m
    assert m["pairwise_f1"]["value"] == 1.0 and m["ok_rate"]["value"] == 1.0

    traced = run.run_workload(session, name, 11, 0, True, workdir, size="tiny")
    assert traced["correct"]
    t = {k: v["value"] for k, v in traced["metrics"].items()}
    assert set(t) == set(LAYER_UNITS)
    # the harness's counters add no Spark job to the calls they time
    assert t["spark.jobs_total"] == t["spark.jobs_untraced"] > 0
    if name == "resolve_pages":
        parts = t["blocking.wall_s"] + t["scoring.wall_s"] + t["clustering.wall_s"]
        assert parts + t["pipeline.self_s"] == pytest.approx(t["pipeline.wall_s"])
        assert 0 < t["blocking.pairs_out"] <= t["blocking.preverify_pairs"]
        assert t["blocking.verify_yield"] == pytest.approx(
            t["blocking.pairs_out"] / t["blocking.preverify_pairs"]
        )
        assert t["index.build_s"] == 0.0
    elif name == "cluster_graph":
        assert t["clustering.jobs"] > 0 and t["blocking.wall_s"] == 0.0
    else:
        assert t["index.lookup_samples"] > 0 and t["lev_dfa.compile_ms"] > 0
        assert t["clustering.wall_s"] == 0.0
