"""Steadiness check: run workloads repeatedly and print each metric's spread.

    python3 perfbench/steady.py --runs 10 [--workloads cohort_serve,media_decode]
                                [--first-seed 1] [--seconds 10]

Run from the repository root. Each run is ``perfbench/run.py`` with a
new seed and tracing off. For every metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median; the benchmark's bounds
are set from these spreads. It also prints the share of failed
operations and the wall time of each run, set-up and exit included.
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
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def one_run(workload: str, seed: int, seconds: float) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["env"], wall


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(workloads.WORKLOADS))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    report = {}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        attempted = failed = 0
        walls = []
        for i in range(args.runs):
            out, env, wall = one_run(wl, args.first_seed + i, args.seconds)
            walls.append(wall)
            attempted += out["attempted"]
            failed += out["failed"]
            for k, m in out["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{wl} seed {args.first_seed + i}: wall {wall:.1f} s "
                  f"steal {env['steal_ticks'] / max(env['total_ticks'], 1):.3f} "
                  f"failed {out['failed']}/{out['attempted']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()),
                  flush=True)
        report[wl] = {
            "failed_share": failed / attempted,
            "wall_s": summarize(walls) if len(walls) > 1 else walls,
            "metrics": {k: summarize(v) if len(v) > 1 else v for k, v in values.items()},
        }
        for k, s in report[wl]["metrics"].items():
            if isinstance(s, dict):
                print(f"  {wl} {k:34s} median {s['median']:.5g}  "
                      f"q1 {s['q1']:.5g}  q3 {s['q3']:.5g}  spread {s['spread']:.3f}")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
