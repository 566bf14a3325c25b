#!/usr/bin/env python3
"""Extraction benchmark: one run of one workload.

    python3 perfbench/run.py --workload bulk-stock --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It starts Spark as ``local[<cpus>]``
with ``plans.session.get_spark``'s defaults, writes the workload's
seeded page corpus, warms up, then drives the engine from one thread in
a closed loop (as many calls as take about ``--seconds`` on a 4-vCPU
host), checks the outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
of a traced run (``--trace 1``, spans written under
``.perfbench/spans/``). The line before it stamps the run: cpus, load
average, seed, source revision, Python and pyspark versions, and the
share of CPU time the hypervisor stole during the timed loop. The
latencies are over the calls the hypervisor left alone
(``workloads.steady``).

Everything the run writes (corpus, outputs, Spark scratch, temp files)
lives under ``.perfbench/`` in the checkout and is removed at exit,
except the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "credit_ocr_backend_spark"
GOLDENS = ("tests/goldens/expected_extraction_docs.parquet",
           "tests/goldens/expected_extraction_results.parquet")


def _source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(REPO, PACKAGE))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let the
    Spark Python workers import the engine and this benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait
    for each to end."""
    from pyspark import SparkContext

    from perfbench.layers import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the Python workers outlive the JVM for a while: end them now
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = [pid for pid in children if os.path.exists(f"/proc/{pid}")]
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
            while any(os.path.exists(f"/proc/{pid}") for pid in alive) \
                    and time.monotonic() < deadline:
                time.sleep(0.05)


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    missing = [p for p in (PACKAGE,) + GOLDENS if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "loadavg_before": os.getloadavg(),
        "git_sha": _git_sha(), "source_sha256": _source_digest(),
        "python": platform.python_version(),
    }
    work = os.path.join(REPO, ".perfbench", f"work-{os.getpid()}")
    _isolate(work)
    try:
        import pyspark

        from credit_ocr_backend_spark.plans.session import get_spark
        from perfbench import layers, workloads as W

        stamp["pyspark"] = pyspark.__version__
        tracer = layers.Tracer(enabled=bool(args.trace))
        t0 = time.perf_counter()
        with tracer.span("setup.session"):
            spark = get_spark("perfbench", parallelism=cpus)
        session_s = time.perf_counter() - t0
        try:
            from pyspark import SparkContext

            rss = layers.WorkerRss(SparkContext._gateway.proc.pid)
            run = W.Run(spark=spark, tracer=tracer, repo=REPO, work=work,
                        seed=args.seed, cpus=cpus, rss=rss)
            run.setup["setup.session_s"] = session_s
            if args.trace:
                run.jobs = layers.JobCounter(spark.sparkContext)
                layers.instrument(tracer)
            info = W.WORKLOADS[args.workload](run, args.seconds)
            stamp["cpu_steal_frac"] = run.steal_frac
            worker_rss_mb = rss.close()
            print("perfbench: " + json.dumps({
                "setup": run.setup, "calls_s": run.call_s, "resume_s": run.resume_s,
                "status_s": run.status_s, "worker_rss_mb": worker_rss_mb,
                "corpus_worker_hwm_mb": rss.excluded_kb / 1024.0}), file=sys.stderr)
            if args.trace:
                # the traced split runs before the gate, whose driver-side
                # extraction would warm the core probe's caches
                metrics = W.per_layer(run, info)
                W.check(run, info)
            else:
                # the gate's checks and mismatches count in calls_ok_frac
                W.check(run, info)
                metrics = W.end_to_end(run, worker_rss_mb)
        finally:
            _stop_spark(spark)
        if args.trace:
            tracer.write(os.path.join(REPO, ".perfbench", "spans",
                                      f"{args.workload}-seed{args.seed}.json"), stamp)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    print("stamp " + json.dumps(stamp))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    raise SystemExit(main())
