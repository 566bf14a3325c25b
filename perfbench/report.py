#!/usr/bin/env python3
"""Run every workload untraced and traced, and print the end-to-end
metrics, the per-layer table and the tracing overhead.

    python3 perfbench/report.py [--seed 1]

Every workload in BENCHMARK.json runs for its ``run_seconds``. Each
run is a separate ``perfbench/run.py`` process, one after the other.
The tracing overhead is the traced run's median
``run_pipeline`` wall over the untraced run's (``window_s_p50``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}")
    stamp = next((json.loads(ln[6:]) for ln in lines if ln.startswith("stamp ")), {})
    return {"stamp": stamp, **json.loads(lines[-1])}


def main() -> int:
    sys.path.insert(0, REPO)
    from perfbench.layers import LAYERS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    for workload in names:
        plain = _run(workload, args.seed, bench["run_seconds"], 0)
        traced = _run(workload, args.seed, bench["run_seconds"], 1)
        print(f"== {workload}  seed {args.seed}  correct={plain['correct'] and traced['correct']}"
              f"  attempted {plain['attempted']}  failed {plain['failed']}")
        print("   stamp " + json.dumps(plain["stamp"]))
        for spec in bench["end_to_end"]:
            m = plain["metrics"][spec["name"]]
            print(f"   {spec['name']:<34} {m['value']:>14.4f} {m['unit']:<9} "
                  f"({spec['better']} is better, bound {spec['bound']:.0%})")
        print("   -- per layer (traced run) --")
        for spec in bench["per_layer"]:
            m = traced["metrics"][spec["name"]]
            moves, on = LAYERS[spec["name"]]
            where = "" if workload in on else "  (not expected to move here)"
            print(f"   {spec['name']:<38} {m['value']:>14.4f} {m['unit']:<8} -> {moves}{where}")
        run_s = traced["metrics"]["pipeline.run_s"]["value"]
        rest = traced["metrics"]["pipeline.unattributed_s"]["value"]
        base = plain["metrics"]["window_s_p50"]["value"]
        print(f"   pipeline.unattributed_s is {rest / run_s:.1%} of the run_pipeline wall"
              f" ({rest:.3f} of {run_s:.3f} s)")
        print(f"   tracing overhead: {run_s / base - 1:+.1%}"
              f" (traced {run_s:.3f} s vs untraced {base:.3f} s median run_pipeline wall)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
