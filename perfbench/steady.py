"""Steadiness check: run workloads repeatedly, one seed per run, and
print the median and quartiles of every end-to-end metric, the spread
(quartile distance over median) against a third of its bound, and the
wall time per run.

    python3 perfbench/steady.py --runs 10                      # every workload
    python3 perfbench/steady.py --workload lsp_serve --runs 5 --first-seed 100

Bounds and run length come from BENCHMARK.json at the repository root.
Runs are sequential; each is a fresh process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "min": min(values), "max": max(values)}


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args(argv)

    metrics = spec["end_to_end"]
    bounds = {m["name"]: m["bound"] for m in metrics}
    report = {}
    ok = True
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        samples: dict[str, list[float]] = {m["name"]: [] for m in metrics}
        walls, failed = [], 0
        for i in range(args.runs):
            seed = args.first_seed + i
            out, wall = run_once(workload, seed, args.seconds)
            walls.append(wall)
            failed += out["failed"] + (not out["correct"])
            for name in samples:
                samples[name].append(out["metrics"][name]["value"])
            print(f"{workload} seed {seed}: {wall:.1f} s wall, "
                  f"{out['attempted']} ops, {out['failed']} failed", file=sys.stderr)
        rows = {name: summarize(v) for name, v in samples.items()}
        print(f"\n{workload}: {args.runs} runs, wall {summarize(walls)['median']:.1f} s "
              f"median, {max(walls):.1f} s max, {failed} failures")
        print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound/3':>8}")
        for name, r in rows.items():
            b = bounds[name]
            flag = ""
            if r["spread"] >= b / 3:
                flag, ok = "  WIDE", False
            print(f"  {name:28} {r['median']:12.4f} {r['q1']:12.4f} {r['q3']:12.4f} "
                  f"{r['spread']:8.3f} {b / 3:8.3f}{flag}")
        report[workload] = {"metrics": rows, "wall_s": summarize(walls), "failed": failed,
                            "values": samples}
        ok = ok and failed == 0
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
