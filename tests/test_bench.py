"""bench.py scaling arithmetic: a child that timed nothing must not
crash the parent's N->4N summary."""

import json
import subprocess

import bench


def test_er_suite_scaling_survives_none_throughput(monkeypatch):
    def child(rows_per_sec):
        op = {"sec": 2.0, "rows_per_sec": rows_per_sec, "workload_rows": 100}
        return {"scale": 1, "pages": 30, "scored_pairs": 10,
                "swoosh_resolve": op, "group_linkage": {**op, "rows_per_sec": 50.0}}

    outputs = iter([child(200.0), child(None)])  # local[N], then local[4N]

    def fake_run(*args, **kwargs):
        return subprocess.CompletedProcess(
            args, 0, stdout=json.dumps(next(outputs)) + "\n", stderr=""
        )

    written = []
    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "_append_er_suite_md", written.append)
    monkeypatch.setattr(bench, "SCALING_CORES", ("2", "8"))
    suite = bench.run_er_suite_scaling("unused")
    swoosh = suite["ops"]["swoosh_resolve"]
    assert swoosh["speedup_n_to_4n"] is None
    assert swoosh["scaling_efficiency"] is None
    # a complete pair of throughputs still yields both figures
    gl = suite["ops"]["group_linkage"]
    assert (gl["speedup_n_to_4n"], gl["scaling_efficiency"]) == (1.0, 0.25)
    assert written == [suite]
