"""Traced mode: spans around calls into the program's layers, Spark
counters per layer from the in-JVM status store.

Spans are recorded from here, by wrapping each layer's public
functions (no change to the program). A span opened while a span of
the same layer is active is not recorded again, so ``calls`` counts
entries into a layer, and ``ms`` is self time: the span's duration
minus the time its child spans (other layers) cover.

Each span sets ``spark.jobGroup.id`` to its own id, so every Spark job
is attributed to the innermost open span. After the traced round the
status store (``sc._jsc.sc().statusStore()``; it works with the UI
off) gives each job's stages, and each stage's tasks, run time, CPU
time, input, shuffle and spill bytes. ``gap_ms`` is self time during
which no Spark job ran: planning, codegen, py4j, Python and commit I/O.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import time
from dataclasses import dataclass, field

COUNTERS = (
    "calls", "ms", "gap_ms", "jobs", "tasks", "task_ms", "task_cpu_ms",
    "shuffle_bytes", "input_bytes", "spill_bytes",
)
LAYERS = (
    "io.readers", "normalize", "versioning", "io.txstore", "summary",
    "storesync", "crawl", "operators.graph", "operators.dedup", "operators.text",
)
PKG = "datalake_etlscripts_spark"
# layer -> module whose public functions are wrapped (operator layers
# are entered through their plans.* queries: the registry workload opens
# their spans around each query)
WRAPPED = {
    "io.readers": f"{PKG}.io.readers",
    "normalize": f"{PKG}.normalize",
    "versioning": f"{PKG}.versioning",
    "io.txstore": f"{PKG}.io.txstore",
    "summary": f"{PKG}.summary",
    "storesync": f"{PKG}.storesync",
    "crawl": f"{PKG}.crawl",
}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Collects spans while ``enabled``; wrappers are inert otherwise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        if not self.enabled or (self.stack and self.stack[-1].layer == layer):
            yield
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), layer, name or layer, parent.sid if parent else None, time.time())
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.sid)
        self.stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", f"lb{sp.sid}")
        try:
            yield
        finally:
            sp.end = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"lb{parent.sid}" if parent else None
            )

    def _wrap(self, layer: str, qualname: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(layer, qualname):
                return fn(*a, **kw)

        return wrapper

    def install(self) -> None:
        """Wrap every public function (and public method of public
        classes) of the layer modules, in the module and wherever the
        program imported it by name."""
        import importlib

        importlib.import_module(f"{PKG}.plans")
        replace: dict[int, object] = {}
        for layer, modname in WRAPPED.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    w = self._wrap(layer, f"{layer}.{name}", obj)
                    replace[id(obj)] = w
                    self._set(mod, name, w)
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if m.startswith("_"):
                            continue
                        if isinstance(fn, classmethod):
                            w = classmethod(self._wrap(layer, f"{layer}.{name}.{m}", fn.__func__))
                        elif inspect.isfunction(fn):
                            w = self._wrap(layer, f"{layer}.{name}.{m}", fn)
                        else:
                            continue
                        self._set(obj, m, w)
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
            for name, obj in list(vars(mod).items()):
                if id(obj) in replace and inspect.isfunction(obj):
                    self._set(mod, name, replace[id(obj)])

    def _set(self, owner, name, value) -> None:
        self._originals.append((owner, name, vars(owner)[name]))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._originals):
            setattr(owner, name, value)
        self._originals.clear()

    # -- Spark status store ---------------------------------------------

    def layer_totals(self, first_job: int) -> dict[str, dict[str, float]]:
        """Per-layer counters over the spans recorded and the jobs with
        id >= ``first_job``."""
        jobs, stages = spark_jobs(self.sc)
        jobs = [j for j in jobs if j["id"] >= first_job]
        out = {layer: dict.fromkeys(COUNTERS, 0) for layer in LAYERS}
        by_sid = {sp.sid: sp for sp in self.spans}
        busy = [(j["start"], j["end"]) for j in jobs]
        for sp in self.spans:
            t = out.setdefault(sp.layer, dict.fromkeys(COUNTERS, 0))
            t["calls"] += 1
            self_iv = _subtract([(sp.start, sp.end)], [
                (by_sid[c].start, by_sid[c].end) for c in sp.children
            ])
            t["ms"] += 1000 * sum(e - s for s, e in self_iv)
            t["gap_ms"] += 1000 * sum(e - s for s, e in _subtract(self_iv, busy))
        seen: set[int] = set()
        for j in jobs:
            sid = int(j["group"][2:]) if j["group"] and j["group"].startswith("lb") else None
            layer = by_sid[sid].layer if sid in by_sid else "untraced"
            t = out.setdefault(layer, dict.fromkeys(COUNTERS, 0))
            t["jobs"] += 1
            for st in j["stages"]:
                if st in stages and st not in seen:
                    seen.add(st)
                    for k, v in stages[st].items():
                        t[k] += v
        return out


def spark_jobs(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the status store, after the listener
    bus has delivered every event."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = jsc.statusStore()
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        g = j.jobGroup()
        jobs.append({
            "id": j.jobId(),
            "group": g.get() if g.isDefined() else None,
            "stages": list(conv.asJava(j.stageIds())),
            "start": j.submissionTime().get().getTime() / 1000,
            "end": j.completionTime().get().getTime() / 1000
            if j.completionTime().isDefined() else time.time(),
        })
    stages = {}
    arr = sc._gateway.new_array(jvm.double, 0)
    for s in conv.asJava(
        store.stageList(jvm.java.util.ArrayList(), False, False, arr, jvm.java.util.ArrayList())
    ):
        if str(s.status()) != "COMPLETE" or s.stageId() in stages:
            continue
        stages[s.stageId()] = {
            "tasks": s.numCompleteTasks(),
            "task_ms": s.executorRunTime(),
            "task_cpu_ms": s.executorCpuTime() / 1e6,
            "input_bytes": s.inputBytes(),
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
        }
    return sorted(jobs, key=lambda j: j["id"]), stages



def _subtract(intervals, holes):
    """Parts of ``intervals`` not covered by any of ``holes``."""
    out = list(intervals)
    for hs, he in holes:
        nxt = []
        for s, e in out:
            if he <= s or hs >= e:
                nxt.append((s, e))
                continue
            if hs > s:
                nxt.append((s, hs))
            if he < e:
                nxt.append((he, e))
        out = nxt
    return out


# ---------------------------------------------------------------------------
# process meters
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def proc_cpu_ms(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        parts = fh.read().rsplit(")", 1)[1].split()
    return (int(parts[11]) + int(parts[12])) * 1000 / os.sysconf("SC_CLK_TCK")


def gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
