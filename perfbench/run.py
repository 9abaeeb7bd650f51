"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_queries,mutations} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  One process is one single-client
closed loop at ``local[min(4, nproc)]``: set-up, whole passes until ``S``
seconds are measured, output checks, then one JSON line on stdout with
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it list every named metric with its unit and the
environment.  Exits 1 when an output check fails, 2 when the package
is not there to measure.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_wrangling_osm_xml_with_python_into_mongodb_spark"
DRIVER_MEM = "2g"

# Spark task threads: nproc, at most this many, so that every run of a
# workload launches the same tasks and Python workers.
MAX_THREADS = 4

END_TO_END = {"setup_s": "s", "cpu_s_per_pass": "s", "peak_rss_mb": "MB", "ops_ok_frac": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _code_revision() -> str:
    """The git commit when there is one, else a hash of the package's
    and the benchmark's sources (a checkout need not be a repository)."""
    try:
        rev = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True).stdout.strip()
    except OSError:
        rev = ""
    if rev:
        return rev
    h = hashlib.sha256()
    for d in (PACKAGE, "perfbench"):
        for root, dirs, files in sorted(os.walk(os.path.join(ROOT, d))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return "tree-" + h.hexdigest()[:12]


def _environment(spark, seed: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "code_revision": _code_revision(),
    }


def _stop_jvm(gateway) -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_queries", "mutations"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # This directory's module names (trace, stats, ...) must not shadow
    # the standard library's; the modules load as the ``perfbench`` package.
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    threads = min(MAX_THREADS, len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(threads),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # forget a cached directory so TMPDIR applies

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.session import get_spark

    from perfbench import stats
    from perfbench.workloads import WORKLOADS
    from perfbench.common import Ctx
    from perfbench.trace import NullTracer, Tracer

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{a.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run in the status store, traced or not
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # Touch the whole heap at start-up (prepended to the package's
            # own driver options).  Freed guest memory can be handed back
            # to the hypervisor, and faulting it in again costs a varying
            # share of CPU time; pre-touching keeps that out of the passes.
            "spark.driver.defaultJavaOptions": "-XX:+AlwaysPreTouch",
        },
    )
    try:
        spark.sparkContext.defaultParallelism  # force the context up
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, f"{a.workload}-{a.seed}") if a.trace else NullTracer()
        ctx = Ctx(spark, tracer, a.seed, a.seconds, work, jvm_pid, session_s)
        res = WORKLOADS[a.workload](ctx)
        env = _environment(spark, a.seed)
        peak = stats.peak_rss_mb(jvm_pid)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        _stop_jvm(gateway)

    op = stats.timing(res["op_samples"])
    e2e = {
        "setup_s": res["setup_s"],
        "cpu_s_per_pass": res["cpu_s_per_pass"],
        "peak_rss_mb": peak,
        "ops_ok_frac": 1.0 - ctx.failed / max(ctx.attempted, 1),
    }
    named = {
        "pass_s": (res["pass_s"], "s"),
        "op_p50_s": (op["p50"], "s"),
        "session.start_s": (session_s, "s"),
        "passes": (res["passes"], "count"),
        "jobs_per_pass": (res["jobs_per_pass"], "count"),
        "op_tail_s": (op["tail"], "s"),
        "op_tail_pct": (op["tail_pct"], "%"),
        "op_samples": (op["n"], "count"),
        "ops_failed_frac": (ctx.failed / max(ctx.attempted, 1), "ratio"),
        **res["named"],
    }
    print("# environment " + json.dumps(env))
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g} {END_TO_END[k]}")
    for k, (v, unit) in named.items():
        print(f"# {k} = {v:.6g} {unit}")
    for p in ctx.problems:
        print(f"# check failed: {p}")

    if a.trace:
        layers = dict(res.get("layers", {}))
        layers["session.start_s"] = session_s
        spans = tracer.spans
        top = [s for s in spans if s["name"] == "pass"]
        from perfbench.trace import self_times

        st = self_times(spans)
        wall = sum(s["end"] - s["start"] for s in top)
        layers["trace.pass_s"] = res["pass_s"]
        layers["trace.cpu_s_per_pass"] = res["cpu_s_per_pass"]
        layers["trace.jobs_per_pass"] = res["jobs_per_pass"]
        layers["trace.pass_self_frac"] = sum(st[s["id"]] for s in top) / wall if wall else 0.0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer_units().items()}
        for n, m in metrics.items():
            print(f"# layer {n} = {m['value']:.6g} {m['unit']}")
        tracer.dump(os.path.join(base, f"spans-{a.workload}-{a.seed}.jsonl"))
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}

    shutil.rmtree(work, ignore_errors=True)
    ok = ctx.failed == 0
    print(json.dumps({"correct": ok, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
