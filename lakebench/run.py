"""Benchmark of the lake engine: one workload per run, from a seed.

    python3 lakebench/run.py --workload lake_ingest_reads --seed 1 --seconds 5 --trace 0

Each run is a fresh process: one client in a closed loop, Spark on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may use) with
the heap fixed by $SPARK_DRIVER_MEMORY (default 2g), and the lake, raw
inputs and Spark local dirs in a fresh directory under ``.lakebench/``
in the checkout, removed at exit. The run generates its inputs, sets
up and warms up (``setup_s``), runs whole rounds of a fixed seeded
sequence of operations until ``--seconds`` have been measured, then
checks the outputs against computations made apart from the program.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` one untraced
and one traced round run, and the metrics are the per-layer counters
(see lakebench/spans.py), also written with every span to
``.lakebench/trace-<workload>-<seed>.json``. A failed check exits 1;
bad arguments exit 2.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import datalake_etlscripts_spark  # noqa: E402,F401  (no program, no run)

import spans as lbtrace  # noqa: E402
import workloads  # noqa: E402


class RssSampler(threading.Thread):
    """Peak resident set of this process, the JVM and the Python
    processes below them (PySpark workers), sampled every 20 ms.

    Other descendants are left out: a process the JVM forks shares the
    JVM's pages until it execs, and its resident set would count the
    heap twice. Forked Python workers share pages with their parent,
    which their sum counts once per worker."""

    def __init__(self, pids: list[int]):
        super().__init__(daemon=True)
        self.pids = pids
        self.peak_kb = 0
        self._halt = threading.Event()

    def _tree(self) -> set[int]:
        out, seen, todo = set(self.pids), set(), list(self.pids)
        while todo:
            p = todo.pop()
            if p in seen:
                continue
            seen.add(p)
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().startswith("python"):
                        out.add(p)
                # a child is listed under the thread that started it, and
                # the JVM starts processes from threads other than its main one
                threads = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for t in threads:
                try:
                    with open(f"/proc/{p}/task/{t}/children") as fh:
                        todo += [int(c) for c in fh.read().split()]
                except OSError:
                    pass
        return out

    def run(self) -> None:
        tick = 0
        pids = self._tree()
        while not self._halt.is_set():
            if tick % 25 == 0:
                pids = self._tree()
            tick += 1
            kb = 0
            for p in pids:
                try:
                    with open(f"/proc/{p}/status") as fh:
                        for line in fh:
                            if line.startswith("VmRSS:"):
                                kb += int(line.split()[1])
                                break
                except OSError:
                    pass
            self.peak_kb = max(self.peak_kb, kb)
            self._halt.wait(0.02)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


def start_spark(tmp: str):
    from datalake_etlscripts_spark.session import get_spark

    # every temporary file of Python, the launcher JVM and the driver
    # JVM stays in the run's directory (-XX:-UsePerfData: no hsperfdata
    # file in the system temp directory)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # the heap starts at its fixed size, so resident memory does not
    # follow the collector's resizing decisions
    jvm_opts += f" -Xms{os.environ['SPARK_DRIVER_MEMORY']}"
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
        # the status store keeps every job and stage of the run
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="lakebench", extra_conf=conf)
    return spark, (time.perf_counter() - t0) * 1000


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        # also when a signal broke the gateway's connection mid-call
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def max_job_id(spark) -> int:
    jobs, _ = lbtrace.spark_jobs(spark.sparkContext)
    return max([j["id"] for j in jobs], default=-1)


def run_rounds(wl, cycles, seconds: float, min_rounds: int, max_rounds: int | None = None):
    """Whole rounds until ``seconds`` of operation time and
    ``min_rounds`` rounds are reached (or exactly ``max_rounds``). A
    round runs each cycle of operations in turn, each after
    ``wl.begin_cycle()``. Returns [(op name, ms, ok)], timing only the
    operations."""
    samples = []
    spent = 0.0
    rounds = 0
    while True:
        for cycle in cycles:
            wl.begin_cycle()
            for op in cycle:
                t0 = time.perf_counter()
                ok = wl.run_op(op)
                dt = time.perf_counter() - t0
                spent += dt
                samples.append((op.name, dt * 1000, ok))
        rounds += 1
        if max_rounds is not None:
            if rounds >= max_rounds:
                return samples
        elif spent >= seconds and rounds >= min_rounds:
            return samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--ops", default=None,
                    help="comma-separated subset of the workload's operations")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="self-test hook: perturb one expected value, so the check must fail")
    args = ap.parse_args(argv)

    cls = workloads.WORKLOADS[args.workload]
    op_names = cls.OP_NAMES
    if args.ops is not None:
        chosen = [o for o in args.ops.split(",") if o]
        unknown = [o for o in chosen if o not in op_names]
        if unknown or not chosen:
            print(
                f"lakebench: {'unknown operations ' + str(unknown) if unknown else 'empty operation list'}"
                f"; {args.workload} has {list(op_names)}",
                file=sys.stderr,
            )
            return 2
        op_names = tuple(chosen)

    os.makedirs(os.path.join(ROOT, ".lakebench"), exist_ok=True)
    tmp = os.path.join(ROOT, ".lakebench", f"run-{os.getpid()}-{random.getrandbits(32):08x}")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = None
    try:
        t_setup = time.perf_counter()
        spark, start_ms = start_spark(tmp)
        wl = cls(spark, tmp, args.seed, args.size, ROOT)
        cycles = [c for c in ([op for op in c if op.name in op_names] for c in wl.cycles()) if c]
        wl.setup(list({op.name: op for c in cycles for op in c}.values()))
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.1f}s (session {start_ms / 1000:.1f}s)")

        pids = [os.getpid(), lbtrace.jvm_pid(spark)]
        first_job = max_job_id(spark) + 1
        if args.trace == 0:
            rss = RssSampler(pids)
            rss.start()
            samples = run_rounds(wl, cycles, args.seconds, wl.MIN_ROUNDS)
            peak = rss.stop()
            metrics = wl.end_to_end(samples, setup_s, peak, first_job)
        else:
            metrics = traced(spark, wl, cycles, start_ms, args)
            samples = wl.trace_samples
        log(f"timed {len(samples)} operations in {sum(s[1] for s in samples) / 1000:.1f}s; median ms: "
            + ", ".join(f"{n} {statistics.median(ms for m, ms, _ in samples if m == n):.0f}"
                        for n in dict.fromkeys(m for m, _, _ in samples)))
        problems = wl.check(samples, args.wrong_expected)
        log("checked")
        for p in problems:
            print(f"lakebench: CHECK FAILED: {p}", file=sys.stderr)
        attempted = len(samples)
        failed = sum(1 for _, _, ok in samples if not ok)
        units = workloads.UNITS
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": units.get(k) or units.get(k.rsplit(".", 1)[-1], "count")}
                for k, v in metrics.items()
            },
        }
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
                log("spark stopped")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def log(msg: str) -> None:
    print(f"lakebench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def traced(spark, wl, cycles, start_ms: float, args) -> dict[str, float]:
    """One untraced round, then the same round traced; per-layer
    counters from the traced one, overhead from the two rates."""
    untraced = run_rounds(wl, cycles, 0, 0, max_rounds=1)
    tracer = lbtrace.Tracer(spark)
    tracer.install()
    wl.tracer = tracer
    first_job = max_job_id(spark) + 1
    jpid = lbtrace.jvm_pid(spark)
    gc0, jcpu0, pcpu0 = lbtrace.gc_ms(spark), lbtrace.proc_cpu_ms(jpid), time.process_time()
    tracer.enabled = True
    try:
        samples = run_rounds(wl, cycles, 0, 0, max_rounds=1)
    finally:
        tracer.enabled = False
        tracer.uninstall()
    gc1, jcpu1, pcpu1 = lbtrace.gc_ms(spark), lbtrace.proc_cpu_ms(jpid), time.process_time()
    wl.trace_samples = samples
    totals = tracer.layer_totals(first_job)
    metrics: dict[str, float] = {}
    for layer in lbtrace.LAYERS:
        for c in lbtrace.COUNTERS:
            metrics[f"{layer}.{c}"] = totals[layer][c]
    metrics.update({f"io.txstore.{k}": v for k, v in wl.txstore_counters().items()})
    rate_u = workloads.latency(untraced)["ops_per_s"]
    rate_t = workloads.latency(samples)["ops_per_s"]
    metrics.update({
        "session.start_ms": start_ms,
        "jvm.gc_ms": gc1 - gc0,
        "jvm.cpu_ms": jcpu1 - jcpu0,
        "python.cpu_ms": (pcpu1 - pcpu0) * 1000,
        "trace.overhead_pct": (rate_u / rate_t - 1) * 100,
    })
    out = os.path.join(ROOT, ".lakebench", f"trace-{args.workload}-{args.seed}.json")
    with open(out, "w") as fh:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "untraced_ops_per_s": rate_u,
            "traced_ops_per_s": rate_t,
            "layers": totals,
            "metrics": metrics,
            "spans": [
                {"id": s.sid, "layer": s.layer, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end}
                for s in tracer.spans
            ],
        }, fh, indent=1)
    return metrics


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
