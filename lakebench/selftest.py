"""Self-test of the benchmark, at the tiny input size:

- every workload runs to its end, passes its checks and prints every
  end-to-end metric that BENCHMARK.json names; traced, every per-layer
  metric;
- a deliberately wrong expected value makes the check fail (exit 1);
- an unknown workload, an unknown operation or an empty operation list
  exits non-zero with a message, before Spark starts.

    python3 lakebench/selftest.py

Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            failures.append(what)

    base = ["--seed", "7", "--seconds", "1", "--size", "tiny"]
    for w in (w["name"] for w in bench["workloads"]):
        for trace, names in (("0", e2e), ("1", layer)):
            code, res, err = run("--workload", w, "--trace", trace, *base)
            expect(code == 0 and res is not None and res["correct"], f"{w} trace={trace} runs and checks")
            if res:
                expect(set(res["metrics"]) == names, f"{w} trace={trace} prints exactly the named metrics")
                expect(res["attempted"] >= 1 and 0 <= res["failed"] < res["attempted"],
                       f"{w} trace={trace} counts operations")
            if code != 0:
                print(err[-3000:], file=sys.stderr)

    for w in (w["name"] for w in bench["workloads"]):
        code, res, _ = run("--workload", w, "--wrong-expected", *base)
        expect(code == 1 and res is not None and not res["correct"],
               f"{w}: a wrong expected value fails the check")

    for args, what in (
        (["--workload", "no_such_workload"], "an unknown workload"),
        (["--workload", w, "--ops", ""], "an empty operation list"),
        (["--workload", w, "--ops", "no_such_op"], "an unknown operation"),
    ):
        code, res, err = run(*args, *base)
        expect(code != 0 and res is None and err.strip() != "", f"{what} exits non-zero with a message")

    print(f"{'FAILED' if failures else 'passed'}: {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
