#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one benchmark workload.

    python3 BENCH/ab.py --parent ../parent --change . \\
        --workload incremental-windows --seeds 11-20 [--trace 0]

For each seed it runs ``perfbench/run.py`` once in each checkout, one
after the other, alternating which side runs first (the parent on even
pair numbers, the change on odd ones), so a drift in the host's speed
lands on both sides alike. Both sides run for ``run_seconds`` from the
parent's BENCHMARK.json.

It prints, per metric, each side's median and quartiles, how many pairs
the change won and lost (ties count for neither), and whether a gain
may be claimed: the change wins at least 9 in 10 of all pairs run (a
pair where either side reported no value is not a win) and the medians
differ by more than the distance between the parent's quartiles. Then
the per-pair values. Exits 1 if any run failed or reported incorrect
output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from typing import Dict, List, Optional


def parse_seeds(spec: str) -> List[int]:
    """'11-14,20' -> [11, 12, 13, 14, 20]."""
    seeds: List[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` process in ``checkout``: its exit code,
    stamp and result (``metrics`` empty when it printed none)."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    out = {"returncode": proc.returncode, "stamp": {}, "correct": False, "metrics": {}}
    for line in lines:
        if line.startswith("stamp "):
            out["stamp"] = json.loads(line[len("stamp "):])
    try:
        out.update(json.loads(lines[-1]))
    except (IndexError, ValueError):
        sys.stderr.write(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}\n")
    return out


def quartiles(vals: List[float]) -> List[float]:
    """[q1, median, q3]."""
    if len(vals) == 1:
        return vals * 3
    return statistics.quantiles(vals, n=4, method="inclusive")


def summarize(name: str, better: str, parent: List[Optional[float]],
              change: List[Optional[float]]) -> str:
    pairs = [(p, c) for p, c in zip(parent, change) if p is not None and c is not None]
    if not pairs:
        return f"{name:<34} no complete pairs"
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    n_run = len(parent)
    losses = sum(sign * (c - p) < 0 for p, c in pairs)
    pq = quartiles([p for p, _ in pairs])
    cq = quartiles([c for _, c in pairs])
    gain = sign * (cq[1] - pq[1])
    claim = wins >= 0.9 * n_run and gain > pq[2] - pq[0]
    rel = f"{(cq[1] / pq[1] - 1):+.1%}" if pq[1] else "n/a"
    return (f"{name:<34} parent {pq[1]:>11.4f} [{pq[0]:.4f}-{pq[2]:.4f}]  "
            f"change {cq[1]:>11.4f} [{cq[0]:.4f}-{cq[2]:.4f}]  {rel:>7}  "
            f"won {wins}/{n_run} lost {losses}  ({better} is better)"
            f"{'  GAIN' if claim else ''}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    specs = bench["per_layer" if args.trace else "end_to_end"]

    runs: Dict[str, List[dict]] = {"parent": [], "change": []}
    seeds = parse_seeds(args.seeds)
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], args.workload, seed, seconds, args.trace)
            r.update(seed=seed, first=order[0])
            runs[side].append(r)
            print(f"pair {i} seed {seed} {side:<6} exit {r['returncode']} "
                  f"correct {r['correct']}", file=sys.stderr, flush=True)

    def values(side: str, name: str) -> List[Optional[float]]:
        return [r["metrics"].get(name, {}).get("value") for r in runs[side]]

    print(f"== {args.workload}  {len(seeds)} pairs  seeds {args.seeds}  "
          f"{seconds:g} s runs  trace {args.trace}")
    for side in sides:
        shas = sorted({str(r["stamp"].get("git_sha")) for r in runs[side]})
        ok = sum(r["correct"] and r["returncode"] == 0 for r in runs[side])
        print(f"   {side:<6} {sides[side]}  sha {','.join(shas)}  correct {ok}/{len(seeds)}")
    for spec in specs:
        print("   " + summarize(spec["name"], spec["better"], values("parent", spec["name"]),
                                values("change", spec["name"])))

    def cell(v: Optional[float], first: bool) -> str:
        return ("-" if v is None else f"{v:.4g}") + ("*" if first else "")

    print("-- per pair, seed: parent / change (* ran first) --")
    for spec in specs:
        p, c = values("parent", spec["name"]), values("change", spec["name"])
        cells = [f"{s}: {cell(pv, r['first'] == 'parent')} / {cell(cv, r['first'] == 'change')}"
                 for s, r, pv, cv in zip(seeds, runs["parent"], p, c)]
        print(f"   {spec['name']}: " + "; ".join(cells))

    all_ok = all(r["correct"] and r["returncode"] == 0 for side in runs.values() for r in side)
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
