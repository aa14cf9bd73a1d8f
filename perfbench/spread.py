#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 --seconds 14

For every metric it prints the median over the runs and the distance
between the first and third quartile (``statistics.quantiles(values,
n=4)``) as a share of the median -- the run-to-run spread a metric's
bound in BENCHMARK.json has to cover. ``--out`` also writes the runs and
the summary, with the host fingerprint, as JSON (perfbench/BASELINE.json
is such a file).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"), "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or a range such as 1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs, host = [], None
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        host = next((json.loads(l[6:]) for l in lines if l.startswith("host: ")), host)
        res = json.loads(lines[-1])
        runs.append({"seed": seed, **res})
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()), flush=True)
    names = runs[0]["metrics"]
    report = {
        k: {"unit": names[k]["unit"], **summary([r["metrics"][k]["value"] for r in runs])}
        for k in names
    }
    for k, s in report.items():
        print(f"{k}: median {s['median']:.6g} {s['unit']}, quartile spread {s['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "host": host, "all_correct": all(r["correct"] for r in runs),
                       "metrics": report, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
