"""Run every workload on several seeds and report, per end-to-end
metric, the median, the quartiles and the spread (the distance between
the quartiles as a share of the median), next to the metric's bound.

    python3 lakebench/steadiness.py --seeds 1-10 --out steadiness.json

Runs are sequential (concurrent runs would share the CPUs they time).
Each run also records its wall time and the share of CPU time the host
took from this machine while it ran ("steal", from /proc/stat), which
shows when a spread comes from the host rather than the benchmark.
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
ROOT = os.path.dirname(HERE)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10", help="a range such as 1-10")
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    out = {}
    for w in names:
        runs = []
        for seed in range(lo, hi + 1):
            (steal0, total0), t0 = cpu_ticks(), time.monotonic()
            p = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.monotonic() - t0
            steal1, total1 = cpu_ticks()
            steal = (steal1 - steal0) / max(total1 - total0, 1)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            log = [line for line in p.stderr.splitlines() if line.startswith("lakebench:")]
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall, "steal": steal,
                         **res, "log": log})
            print(w, seed, p.returncode, f"wall {wall:.0f}s steal {steal:.1%}",
                  json.dumps({k: round(v["value"], 3) for k, v in res["metrics"].items()}),
                  file=sys.stderr, flush=True)
        summary = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m["name"]] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med, "bound": m["bound"],
            }
        out[w] = {
            "summary": summary,
            "failed_share": sorted({r["failed"] / r["attempted"] for r in runs}),
            "all_correct": all(r["correct"] and r["exit"] == 0 for r in runs),
            "steal": [round(r["steal"], 3) for r in runs],
            "runs": runs,
        }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    for w, d in out.items():
        print(w, "correct" if d["all_correct"] else "NOT CORRECT", "failed share", d["failed_share"],
              "steal per run", d["steal"])
        for k, s in d["summary"].items():
            print(f"  {k:24s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
                  f"spread {s['spread']:.3f} / bound {s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
