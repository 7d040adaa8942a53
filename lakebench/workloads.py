"""The two workloads. Each builds its inputs from the seed, sets up
through the program, exposes one round of named operations, reports
its end-to-end metrics and checks the outputs afterwards.

Every end-to-end metric is reported on every workload; README.md says
what each one means on each workload.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
from collections import Counter
from dataclasses import dataclass
from typing import Callable
from urllib.parse import unquote_plus, urlsplit

import checks
import gen
from pyspark.sql import functions as F

from datalake_etlscripts_spark import crawl, normalize, storesync, summary, versioning
from datalake_etlscripts_spark.io import readers, txstore

UNITS = {
    "setup_s": "s", "notices_per_s": "1/s", "write_amp": "B/B",
    "live_bytes_per_notice": "B", "ops_per_s": "1/s", "op_ms_p50": "ms",
    "peak_rss_mb": "MB",
    "calls": "count", "ms": "ms", "gap_ms": "ms", "jobs": "count", "tasks": "count",
    "task_ms": "ms", "task_cpu_ms": "ms", "shuffle_bytes": "B", "input_bytes": "B",
    "spill_bytes": "B", "bytes_written": "B", "files_rewritten": "count",
    "files_live": "count", "rows_written": "count", "useful_rows_ratio": "ratio",
    "start_ms": "ms", "gc_ms": "ms", "cpu_ms": "ms", "overhead_pct": "%",
}
URI = "Datos_Generales_del_Expediente/Pliego_de_Clausulas_Administrativas/URI"
SUMMARY_FIELDS = [
    "Datos_Generales_del_Expediente/Tipo_Contrato",
    "Entidad_Adjudicadora/ID",
    "Adjudicatario/Identificador",
    "Clasificacion_CPV",
]


@dataclass
class Op:
    name: str
    layer: str  # the layer whose span encloses the operation
    fn: Callable[[], object]
    # the full result, computed once in the warm-up for the checks
    full: Callable[[], object] | None = None


def force(df) -> tuple[int, int]:
    """Evaluate every column of ``df`` (as bench.py ``_force`` does):
    row count and a sum of 64-bit hashes over all output columns."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.try_sum(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]
    return row["n"], row["h"]


def timed_io(spark, first_job: int) -> tuple[int, int]:
    """Shuffle bytes written and input bytes read by the jobs since
    ``first_job`` (the timed phase)."""
    import spans

    jobs, stages = spans.spark_jobs(spark.sparkContext)
    ids = {s for j in jobs if j["id"] >= first_job for s in j["stages"]}
    shuffle = sum(stages[s]["shuffle_bytes"] for s in ids if s in stages)
    read = sum(stages[s]["input_bytes"] for s in ids if s in stages)
    return shuffle, read


def best_ms(samples) -> dict[str, float]:
    """Each completed operation's fastest run in the timed phase. Runs
    of one operation repeat the same work, so the fastest is the one
    least disturbed by the host (as bench.py keeps the best of three)."""
    best: dict[str, float] = {}
    for name, ms, ok in samples:
        if ok:
            best[name] = min(ms, best.get(name, ms))
    return best


def latency(samples) -> dict[str, float]:
    """Operations per second and median latency over each operation's
    fastest run."""
    best = best_ms(samples)
    return {
        "ops_per_s": len(best) * 1000 / sum(best.values()),
        "op_ms_p50": statistics.median(best.values()),
    }


class Workload:
    OP_NAMES: tuple[str, ...] = ()
    # timed rounds at least, whatever ``--seconds`` says
    MIN_ROUNDS = 1

    def __init__(self, spark, tmp: str, seed: int, size: str, root: str):
        self.spark, self.tmp, self.seed, self.size, self.root = spark, tmp, seed, size, root
        self.mapping = checks.read_mapping(root)
        self.fields = sorted({d for _, d in self.mapping} - {"id", "updated"})
        self.tracer = None
        self.recording = True
        self.unexpected: list[str] = []
        self.results: dict[str, list] = {}
        self.first: dict[str, object] = {}
        self.trace_samples: list = []

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def span(self, layer: str):
        return self.tracer.span(layer) if self.tracing else contextlib.nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def cycles(self) -> list[list[Op]]:
        """One round of operations, as cycles run in turn."""
        raise NotImplementedError

    def begin_cycle(self) -> None:
        pass

    def expected_failure(self, op: Op, exc: Exception) -> bool:
        return False

    def run_op(self, op: Op) -> bool:
        try:
            with self.span(op.layer):
                result = op.fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            if not self.expected_failure(op, exc):
                self.unexpected.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:400]}")
            return False
        if self.recording:
            self.results.setdefault(op.name, []).append(result)
        return True

    def normalized(self, path: str):
        """read_parquet -> apply_mapping -> normalize_updated. Traced,
        the two lazy layers are forced on their own, in their spans."""
        raw = readers.read_parquet(self.spark, path)
        if self.tracing:
            with self.span("io.readers"):
                force(raw)
        df = normalize.normalize_updated(normalize.apply_mapping(raw, self.mapping))
        if self.tracing:
            with self.span("normalize"):
                force(df)
        return df

    def stable_results(self) -> list[str]:
        """Every run of an operation must give the same result."""
        return [
            f"{name}: results differ between runs"
            for name, rs in self.results.items()
            if any(r != rs[0] for r in rs[1:])
        ]

    def txstore_counters(self) -> dict[str, float]:
        return {"bytes_written": 0, "files_rewritten": 0, "files_live": 0,
                "rows_written": 0, "useful_rows_ratio": 0}


# ---------------------------------------------------------------------------
# lake_ingest_reads
# ---------------------------------------------------------------------------


class LakeIngestReads(Workload):
    """Versioned ingest of raw PLACE batches, then reads over the store
    they produced.

    Setup creates the base store through the program: a base load plus
    legacy duplicate actives (a second active row for some recent
    keys, as a dump loaded twice leaves them). A round is four cycles,
    each on a fresh copy of that base, so every cycle does the same
    work:
    - each cycle, two data batches go read_parquet ->
      apply_mapping/normalize_updated -> ingest_versioned (copy-on-write
      merges that also demote the legacy duplicates they touch to
      obsolete stubs);
    - the first cycle then runs a third batch that carries both headers
      mapped to Entidad_Adjudicadora/ID; it fails analysis in
      merge_batch, so it is counted failed and commits nothing;
    - the second cycle then runs the reads over the versions just
      committed.
    Setup runs each data batch and each read once before timing.
    Every operation here is bound by planning and job scheduling in
    the JVM, and while the JVM compiles its hot paths the same batch
    ran 7.0, 4.1, 3.7, then 3.3-3.5 s in one process: an operation
    timed that early measures how far the compiler had got. A round times each data
    batch four times, 7-13 s apart, and the metrics keep each batch's
    fastest run: the batches, at 3-4 s the longest operations, are the
    ones a burst of host load most often slows.
    """

    INGEST = ("batch1", "batch2", "collision")
    READS = (
        "summary", "current", "audit_unique", "audit_pointers", "follow",
        "time_travel", "cdc", "sync", "crawl",
    )
    OP_NAMES = INGEST + READS
    # base notices, rows per data batch, legacy duplicates, collision
    # rows; batch to store is 1:20, as a 5k-notice batch into a
    # 100k-notice store
    SIZES = {"full": (6000, 300, 300, 100), "tiny": (400, 20, 20, 10)}

    def __init__(self, *a):
        super().__init__(*a)
        self.n_base, self.batch_rows, self.n_legacy, self.n_collide = self.SIZES[self.size]
        self.cycle = 0
        self.store = None
        self.committed: list[str] = []

    # -- operations -------------------------------------------------------

    def cycles(self) -> list[list[Op]]:
        ingest = {name: Op(name, "io.txstore", self._ingest_op(name)) for name in self.INGEST}
        # operation -> (layer, the DataFrame it evaluates, forced or collected)
        frames = {
            "summary": ("summary", lambda: summary.summary_counts(
                versioning.current_versions(self.snap()), SUMMARY_FIELDS), False),
            "current": ("versioning", lambda: versioning.current_versions(self.snap()), True),
            "audit_unique": ("versioning", lambda: versioning.check_unique_active(self.snap()), False),
            "audit_pointers": ("versioning", lambda: versioning.check_pointers_resolve(self.snap()), False),
            "follow": ("versioning", lambda: versioning.follow_version(self.snap()), True),
            "time_travel": ("io.txstore", lambda: self.snap(self.previous()), True),
            "cdc": ("summary", self.cdc_summary, False),
            "sync": ("storesync", self.sync_plan, False),
            "crawl": ("crawl", self.urls, True),
        }

        def collect(frame):
            """Rows as tuples over the columns sorted by name."""
            df = frame()
            return sorted((_plain(r) for r in df.select(*sorted(df.columns)).collect()), key=repr)

        reads = [
            Op(n, layer, (lambda f=frame: force(f())) if forced else (lambda f=frame: collect(f)),
               lambda f=frame: collect(f))
            for n, (layer, frame, forced) in frames.items()
        ]
        self.data = [ingest["batch1"], ingest["batch2"]]
        return [self.data + [ingest["collision"]], self.data + reads, self.data, self.data]

    def _ingest_op(self, name: str):
        def op():
            v = txstore.ingest_versioned(self.store, self.normalized(self.raw_path(name)), self.fields)
            self.committed.append(name)
            return v

        return op

    def raw_path(self, name: str) -> str:
        return self.path("raw", f"{name}.parquet")

    def snap(self, version=None):
        return self.store.snapshot(version=version)

    def previous(self) -> int:
        return self.store.latest_version() - 1

    def cdc_summary(self):
        v = self.store.latest_version()
        diff = txstore.snapshot_diff(self.store, v - 1, v, key="_id")
        removed, added = summary.cdc_images(diff)
        old = readers.read_parquet(self.spark, self.path("summary_prev"))
        return summary.incremental_summary(old, removed, added, SUMMARY_FIELDS)

    def sync_plan(self):
        return storesync.plan_sync(
            readers.read_parquet(self.spark, self.path("src.parquet")),
            readers.read_parquet(self.spark, self.path("dst.parquet")),
            content_cols=("size",),
        )

    def urls(self):
        urls = crawl.extract_urls(versioning.current_versions(self.snap()), scalar_cols=("link", URI))
        return crawl.prune_urls(
            urls,
            skip_servers=self.spark.createDataFrame([("sede.example.es",)], "host string"),
            already_fetched=readers.read_parquet(self.spark, self.path("fetched.parquet")),
        )

    # -- setup --------------------------------------------------------------

    def setup(self, ops: list[Op]) -> None:
        import pandas as pd

        os.makedirs(self.path("raw"))
        stream = gen.NoticeStream(self.seed, self.n_base, self.batch_rows)
        base = stream.base
        legacy = [
            {**base[i], "updated": gen.raw_ts(gen.T0.replace(year=2023), stream.rng),
             "title": "legacy copy"}
            for i in sorted(stream.rng.sample(range(self.n_base // 2, self.n_base), self.n_legacy))
        ]
        self.raw = {"base": base, "legacy": legacy}
        for name in self.INGEST[:-1]:
            self.raw[name] = stream.next_batch()
        self.raw["collision"] = gen.collision_batch(self.n_collide)
        self.raw_bytes = {n: gen.write_rows(rows, self.raw_path(n)) for n, rows in self.raw.items()}
        empty = versioning.empty_state(self.spark, self.fields)
        state = versioning.merge_batch(
            empty, self.normalized(self.raw_path("base")), self.fields, start_order=0
        ).unionByName(versioning.merge_batch(
            empty, self.normalized(self.raw_path("legacy")), self.fields, start_order=self.n_base,
        ))
        txstore.TransactionalStore.create(
            self.spark, self.path("base"), state, key="id",
            metadata={"max_order": self.n_base + self.n_legacy},
        )
        # warm-up: the data batches, the read inputs derived from the
        # versions every cycle produces, and the full results the checks
        # compare; the collision batch needs none, no metric times it
        self.recording = False
        self.begin_cycle()
        for op in self.data:
            self.run_op(op)
        summary.summary_counts(self.snap(self.previous()), SUMMARY_FIELDS).write.parquet(
            self.path("summary_prev")
        )
        active = sorted(r["_id"] for r in checks.read_rows(self.store.path) if not r["obsolete_version"])
        src, dst = gen.listings(self.seed, active, max(1, len(active) // 50))
        src.to_parquet(self.path("src.parquet"))
        dst.to_parquet(self.path("dst.parquet"))
        self.listings = (src, dst)
        fetched = pd.DataFrame({"ntp_id": active[::3], "field": URI})
        fetched.to_parquet(self.path("fetched.parquet"))
        self.fetched = set(zip(fetched["ntp_id"], fetched["field"]))
        for op in ops:
            if op.name in self.READS:
                self.first[op.name] = op.full()
        self.recording = True

    def begin_cycle(self) -> None:
        if self.store is not None:
            shutil.rmtree(self.store.path)
        self.cycle += 1
        self.store = txstore.TransactionalStore(
            self.spark, shutil.copytree(self.path("base"), self.path(f"store-{self.cycle}"))
        )
        self.committed = []

    def expected_failure(self, op: Op, exc: Exception) -> bool:
        # the header collision merges into ARRAY<STRING>, which
        # merge_batch's string-only field merge cannot analyse
        return op.name == "collision" and "DATATYPE_MISMATCH" in str(exc)

    # -- metrics ------------------------------------------------------------

    def _write(self) -> dict[str, int]:
        return checks.write_counters(self.store.path, list(range(1, len(self.committed) + 1)))

    def end_to_end(self, samples, setup_s, peak_mb, first_job) -> dict[str, float]:
        best = best_ms([s for s in samples if s[0] in self.INGEST])
        notices = sum(len(self.raw[name]) for name in best)
        incoming = sum(self.raw_bytes[name] for name in self.committed)
        live = sum(os.path.getsize(f) for f in checks.store_files(self.store.path))
        active = sum(1 for r in checks.read_rows(self.store.path) if not r["obsolete_version"])
        return {
            "setup_s": setup_s,
            "notices_per_s": notices * 1000 / sum(best.values()),
            "write_amp": self._write()["bytes_written"] / incoming,
            "live_bytes_per_notice": live / active,
            "peak_rss_mb": peak_mb,
            **latency([s for s in samples if s[0] in self.READS]),
        }

    def txstore_counters(self) -> dict[str, float]:
        w = self._write()
        n = len(self.committed)
        changed = sum(checks.changed_rows(self.store.path, v - 1, v) for v in range(1, n + 1))
        return {
            "bytes_written": w["bytes_written"],
            "files_rewritten": w["files_rewritten"],
            "files_live": len(checks.store_files(self.store.path)),
            "rows_written": w["rows_written"],
            "useful_rows_ratio": changed / max(w["rows_written"], 1),
        }

    # -- checks -------------------------------------------------------------

    def check(self, samples, wrong: bool) -> list[str]:
        problems = list(self.unexpected) + self.stable_results()
        problems += self._check_ingest(wrong)
        if self.store.latest_version() >= 1:
            problems += self._check_reads(wrong)
        return problems

    def _check_ingest(self, wrong: bool) -> list[str]:
        """Replay base, legacy and the batches that committed in the
        last cycle; compare every row and the id counter."""
        problems = []
        model = checks.Replay(self.mapping, self.fields)
        model.ingest(self.raw["base"])
        legacy = checks.Replay(self.mapping, self.fields)
        legacy.max_order = model.max_order
        legacy.ingest(self.raw["legacy"])
        model.rows.update(legacy.rows)
        model.max_order = legacy.max_order
        for name in self.committed:
            model.ingest(self.raw[name])
        if wrong:
            next(iter(model.rows.values()))["title"] = "not what was ingested"
        problems += model.diff(checks.read_rows(self.store.path))
        meta = checks.manifest(self.store.path)["metadata"]
        if meta.get("max_order") != model.max_order:
            problems.append(f"max_order {meta.get('max_order')}, replay minted {model.max_order} ids")
        return problems

    def _check_reads(self, wrong: bool) -> list[str]:
        """The warm-up's full results against DuckDB over the versions'
        live files and Python set differences; every timed result
        against the warm-up's."""
        problems = []
        full = self.first
        for name, rs in self.results.items():
            if name in self.INGEST:
                continue
            n = rs[0][0] if isinstance(rs[0], tuple) else len(rs[0])
            if n != len(full[name]) or (not isinstance(rs[0], tuple) and rs[0] != full[name]):
                problems.append(f"{name}: timed result differs from the checked one")
        v = self.store.latest_version()
        con = checks.duckdb_over({
            "prev": checks.store_files(self.store.path, v - 1),
            "cur": checks.store_files(self.store.path, v),
        })
        act = "NOT coalesce(obsolete_version, false)"

        def q(sql):
            """Rows as tuples over the result columns sorted by name."""
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            order = sorted(range(len(names)), key=names.__getitem__)
            return Counter(tuple(_plain(r[i]) for i in order) for r in cur.fetchall())

        def rows(names, tuples):
            order = sorted(range(len(names)), key=names.__getitem__)
            return Counter(tuple(t[i] for i in order) for t in tuples)

        def summary_of(view, where):
            out = Counter()
            for f in SUMMARY_FIELDS:
                out += q(f'''SELECT '{f}' AS field, "{f}" AS value, count(*) AS cnt
                          FROM {view} WHERE {where} GROUP BY 2''')
            return out + q(f"SELECT '__total__' AS field, NULL AS value, count(*) AS cnt "
                           f"FROM {view} WHERE {where}")

        pointers = con.execute("SELECT _id, obsolete_version, updated_to FROM cur").fetchall()
        ptr = {i: (t if o else i) for i, o, t in pointers}
        follow = []
        for i in ptr:
            j = i
            for _ in range(5):
                j = ptr.get(j, j)
            follow.append((i, j))
        src, dst = ({n: s for n, s in zip(d["file_name"], d["size"])} for d in self.listings)
        urls = con.execute(f'SELECT _id, link, "{URI}" FROM cur WHERE {act}').fetchall()
        expect = {
            "summary": summary_of("cur", act),
            "cdc": summary_of("cur", "true"),
            "current": q(f"SELECT * FROM cur WHERE {act}"),
            "audit_unique": q(f"SELECT id, count(*) AS n_active FROM cur WHERE {act} "
                              "GROUP BY id HAVING count(*) > 1"),
            "audit_pointers": q(f"""SELECT o.updated_to, o._id, o.id FROM cur o
                WHERE coalesce(o.obsolete_version, false)
                AND o.updated_to NOT IN (SELECT _id FROM cur WHERE {act})"""),
            "follow": rows(["_id", "resolved_id"], follow),
            "time_travel": q("SELECT * FROM prev"),
            "sync": rows(["op", "file_name"], (
                [("ADD", n) for n in src.keys() - dst.keys()]
                + [("DEL", n) for n in dst.keys() - src.keys()]
                + [("UPD", n) for n in src.keys() & dst.keys() if src[n] != dst[n]]
            )),
            "crawl": rows(["ntp_id", "field", "idx", "url", "host"], self._expected_urls(urls)),
        }
        if wrong:
            expect["summary"][("__total__", None, -1)] += 1
        for name, result in full.items():
            got, exp = Counter(result), expect[name]
            if got != exp:
                problems.append(
                    f"{name}: {sum((got - exp).values())} rows not expected, "
                    f"{sum((exp - got).values())} expected rows missing"
                )
        return problems

    def _expected_urls(self, rows) -> list[tuple]:
        """extract_urls + prune_urls, in Python: http(s) values of the
        URL fields, percent-decoded and re-escaped, minus the skipped
        server and the already-fetched (ntp_id, field) pairs."""
        out = []
        for _id, *vals in rows:
            for field, url in zip(("link", URI), vals):
                if not (url or "").startswith("http"):
                    continue
                clean = unquote_plus(url).replace(" ", "%20").replace("+", "")
                host = urlsplit(clean).hostname
                if host != "sede.example.es" and (_id, field) not in self.fetched:
                    out.append((_id, field, None, clean, host))
        return out


def _plain(v):
    """Spark and DuckDB values in one comparable form: sequences and
    rows as tuples."""
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


# ---------------------------------------------------------------------------
# registry_analytics
# ---------------------------------------------------------------------------

QUERIES = {
    "graph_kcore": "operators.graph",
    "graph_ktruss": "operators.graph",
    "dedup_substrings_winnow": "operators.dedup",
    "bm25_topk": "operators.text",
}


class RegistryAnalytics(Workload):
    """Registry queries over seeded ``lineitem``/``documents`` tables,
    each forced full-width; checked against the DuckDB oracles."""

    OP_NAMES = tuple(QUERIES)
    SF = {"full": 0.002, "tiny": 0.0005}
    # the metrics keep each query's fastest run of three
    MIN_ROUNDS = 3

    def cycles(self) -> list[list[Op]]:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "_lakebench_entry", os.path.join(self.root, "__spark_entry__.py")
        )
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        return [[
            Op(n, layer, (lambda n=n: force(self.queries[n](self.spark, self.sf_dir))))
            for n, layer in QUERIES.items()
        ]]

    def setup(self, ops: list[Op]) -> None:
        self.sf_dir = self.path("tables")
        os.makedirs(self.sf_dir)
        self.rows = gen.registry_tables(self.seed, self.SF[self.size], self.sf_dir)
        # warm-up: the first run of a query compiles its plan; keep its
        # full result for the oracle check
        self.first = {op.name: self.queries[op.name](self.spark, self.sf_dir).toPandas() for op in ops}

    def _table(self, op_name: str) -> str:
        return "lineitem" if op_name.startswith("graph") else "documents"

    def end_to_end(self, samples, setup_s, peak_mb, first_job) -> dict[str, float]:
        best = best_ms(samples)
        graph = {n: ms for n, ms in best.items() if QUERIES[n] == "operators.graph"}
        shuffle, read = timed_io(self.spark, first_job)
        queried = sum(self.rows[self._table(n)] for n, _, ok in samples if ok)
        return {
            "setup_s": setup_s,
            # the graph kernels' own rate, which ops_per_s dilutes with
            # the dedup and text queries
            "notices_per_s": len(graph) * self.rows["lineitem"] * 1000 / sum(graph.values()),
            "write_amp": shuffle / max(read, 1),
            # read amplification: how often the queries read each row
            "live_bytes_per_notice": read / queried,
            "peak_rss_mb": peak_mb,
            **latency(samples),
        }

    def check(self, samples, wrong: bool) -> list[str]:
        problems = list(self.unexpected) + self.stable_results()
        con = checks.duckdb_over({
            t: [os.path.join(self.sf_dir, f"{t}.parquet")] for t in ("lineitem", "documents")
        })
        for name, pdf in self.first.items():
            expected = con.execute(self.oracles[name]).df()
            if wrong:
                expected = expected.iloc[1:]
            why = checks.same_rows(pdf, expected)
            if why:
                problems.append(f"{name}: {why}")
            timed = self.results.get(name)
            if timed and timed[0][0] != len(pdf):
                problems.append(f"{name}: timed runs gave {timed[0][0]} rows, first run {len(pdf)}")
        return problems


WORKLOADS = {
    "lake_ingest_reads": LakeIngestReads,
    "registry_analytics": RegistryAnalytics,
}

