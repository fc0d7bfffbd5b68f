"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload resolve_pages --seed 1 --seconds 24 --trace 0

Run from the root of a checkout.  The program runs on ``local[nproc]``
in this one process (closed loop, one client).  The run sets up the
workload's inputs and makes one untimed warm-up pass (class loading, JIT,
code generation and Python workers), sets the inputs up five more times
(``setup_s`` is the median), then:

- ``--trace 0``: at least three passes back to back, more while they
  fit in ``--seconds``; prints the end-to-end metrics (medians over the
  passes);
- ``--trace 1``: one untraced pass (the overhead and job-count base),
  one traced pass with a span per public call, then the waste counters;
  prints the per-layer metrics.

Timings of the end-to-end metrics are CPU seconds (user + system) of the
whole process tree -- this process, the JVM and its Python workers --
spent inside the timed calls.  On a virtual machine that shares its host,
wall time also holds the time the hypervisor runs other machines
(steal), which changes from minute to minute by more than any useful
bound; CPU time leaves it out.  Wall-clock figures (``wall_s``,
``records_per_s``) are printed on the line before the result and, per
layer, by the traced run.  The JVM runs with C1 only and without
flushing compiled code, so that one warm-up pass settles it: with C2 the
cost of a pass keeps falling over a run's first dozen passes, and the
code-cache sweeper makes one pass in a few recompile what it flushed.

The last line of standard output is the result object.  Spark's
scratch files go under ``.perfbench_work/`` in the checkout and are
removed at exit; a traced run leaves its spans there as
``spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
import uuid
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402
import spans  # noqa: E402
from workloads import LAYER_UNITS, SIZES, WORKLOADS, Ops  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "records_per_cpu_s": "1/s",
    "pairwise_f1": "ratio",
    "ok_rate": "ratio",
}
SETUPS = 5
MIN_PASSES = 3
# sized for a 4-core, 15 GB machine shared with other work
DRIVER_MEMORY = "3g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(workdir: str):
    """SparkSession via the program's own factory, with every scratch
    path inside ``workdir``."""
    from orchid_fst_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # overrides spark.local.dir when set
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return get_spark(
        app_name="perfbench",
        cores=_cores(),
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # C1 only, and no flushing of compiled code, in a code cache
            # that does not fill within a run (see the module doc)
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 "
            "-XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=512m "
            "-Dio.netty.tryReflectionSetAccessible=true "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={workdir}",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every process this run
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = proc.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = gateway.proc
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except Exception:
                jvm.kill()
                jvm.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = {p for p in started if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def peak_rss_mb(spark) -> float:
    """The JVM's peak resident set (VmHWM), read from /proc, outside it."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 workdir: str, size: str = "full") -> dict:
    wl = WORKLOADS[name](spark, seed, SIZES[size][name], workdir)
    sc = spark.sparkContext
    ops = Ops()
    off = spans.Tracer(sc, "off", enabled=False)
    # warm up on a first set-up, then measure SETUPS more on the warm JVM
    t0 = time.perf_counter()
    wl.setup()
    for _ in range(wl.size["warmup"]):
        wl.run_pass(off, ops)
    phases = {"warmup_s": time.perf_counter() - t0}
    setups = []
    for _ in range(SETUPS):
        cpu0 = proc.tree_cpu_s(os.getpid())
        wl.setup()
        setups.append(proc.tree_cpu_s(os.getpid()) - cpu0)
    phases["setups_cpu_s"] = setups
    t0 = time.perf_counter()

    if not trace:
        # MIN_PASSES passes, then more while one more pass as long as the
        # last would still end within the measuring time
        passes = []
        while True:
            t_pass, cpu0 = time.perf_counter(), ops.cpu_s
            passes.append(wl.run_pass(off, ops))
            passes[-1]["cpu_s"] = ops.cpu_s - cpu0
            now = time.perf_counter()
            if len(passes) >= MIN_PASSES and (now - t0) + (now - t_pass) > seconds:
                break
        ok = [p for p in passes if p["wall_s"] is not None] or passes
        metrics = {
            "setup_s": median(setups),
            "cpu_s": median([p["cpu_s"] for p in ok]),
            "records_per_cpu_s": median(
                [p["records"] / p["read_cpu_s"] for p in ok if p.get("read_cpu_s")] or [0.0]
            ),
            "pairwise_f1": median([p.get("f1", 0.0) for p in ok]),
            "ok_rate": 1.0 - ops.failed / ops.attempted,
        }
        units = END_TO_END_UNITS
        # wall-clock figures: printed, not bounded (see the module doc)
        details = {
            "passes": len(passes),
            "wall_s": median([p["wall_s"] or 0.0 for p in ok]),
            "records_per_s": median(
                [p["records"] / p["read_s"] for p in ok if p.get("read_s")] or [0.0]
            ),
            "walls_s": [p["wall_s"] for p in passes],
            "cpus_s": [p["cpu_s"] for p in passes],
        }
        if hasattr(wl, "details") and ok[0]["wall_s"] is not None:
            details.update(wl.details(ok))
    else:
        ops.count_jobs = sc
        base = wl.run_pass(off, ops)
        ops.count_jobs = None
        tr = spans.Tracer(sc, f"run-{uuid.uuid4().hex[:8]}", enabled=True)
        traced = wl.run_pass(tr, ops)
        pass_spans = list(tr.spans)
        metrics = dict.fromkeys(LAYER_UNITS, 0.0)
        try:
            metrics.update(wl.layers(tr, traced, ops))
        except Exception:  # e.g. the traced pass failed: report, keep going
            ops.failed += 1
            traceback.print_exc(file=sys.stderr)
        jobs = tr.counters(pass_spans)["jobs"] - tr.added_jobs
        traced_wall = sum(spans.duration(s) for s in pass_spans if s["parent"] is None)
        metrics["spark.jobs_total"] = jobs
        metrics["spark.jobs_untraced"] = ops.jobs
        metrics["jvm.peak_rss_mb"] = peak_rss_mb(spark)
        metrics["trace.overhead_pct"] = (
            100.0 * (traced_wall - base["wall_s"]) / base["wall_s"]
            if base["wall_s"] and traced["wall_s"] is not None
            else 0.0
        )
        units = LAYER_UNITS
        details = {"spans": len(tr.spans)}
        _write_spans(tr, os.path.join(os.path.dirname(workdir), f"spans-{name}-{seed}.jsonl"))

    phases["measure_s"] = time.perf_counter() - t0
    details.update(phases)
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        "details": details,
    }


def _write_spans(tr, path: str) -> None:
    with open(path, "w") as f:
        for s in tr.spans:
            f.write(json.dumps(s) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "orchid_fst_spark")):
        print("perfbench: orchid_fst_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    spark = None
    t0 = time.perf_counter()
    try:
        spark = start_spark(workdir)
        start_s = time.perf_counter() - t0
        result = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), workdir
        )
    finally:
        t1 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    details = result.pop("details")
    details.update(spark_start_s=start_s, spark_stop_s=time.perf_counter() - t1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
