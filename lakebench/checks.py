"""Computations made apart from the program, to check its outputs.

- ``Replay``: a plain-Python replay of the documented versioned-merge
  semantics (datalake_etlscripts_spark/versioning.py docstring) over
  raw PLACE rows, for the ingest side of lake_ingest_reads.
- ``store_files``/``duckdb_over``: the live parquet files of a store
  version, read by DuckDB or pyarrow, for its reads.
- ``canon``/``same_rows``: order-insensitive result comparison for the
  registry queries against their DuckDB oracles.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter

from gen import canon_ts

META = ("_id", "id", "updated", "obsolete_version", "updated_to")


def read_mapping(root: str) -> list[tuple[str, str]]:
    with open(os.path.join(root, "fixtures", "column_mapping.tsv"), encoding="utf-8") as fh:
        lines = fh.read().splitlines()[1:]
    return [tuple(line.split("\t")[:2]) for line in lines if line.strip()]


class Replay:
    """Engine-free model of a versioned store: rows keyed by ``_id``."""

    def __init__(self, mapping: list[tuple[str, str]], fields: list[str]):
        self.plan: dict[str, list[str]] = {}
        for original, dbfield in mapping:
            self.plan.setdefault(dbfield, []).append(original)
        self.fields = fields
        self.rows: dict[str, dict] = {}
        self.max_order = 0

    def normalize(self, raw_rows: list[dict]) -> list[dict]:
        """Rename by the mapping; a header collision keeps every source
        value (as a list); NULL -> ''; ``updated`` -> canonical set."""
        cols = set(raw_rows[0]) if raw_rows else set()
        out = []
        for raw in raw_rows:
            row = {}
            for dbfield, originals in self.plan.items():
                present = [o for o in originals if o in cols]
                if len(present) == 1:
                    v = raw[present[0]]
                    row[dbfield] = "" if v is None else v
                elif present:
                    row[dbfield] = [raw[o] for o in present]
            row["updated"] = [canon_ts(row["updated"])] if row["updated"] else []
            out.append(row)
        return out

    def ingest(self, raw_rows: list[dict]) -> None:
        batch: dict[str, list[dict]] = {}
        for r in self.normalize(raw_rows):
            if r["id"]:
                batch.setdefault(r["id"], []).append(r)
        by_key: dict[str, list[str]] = {}
        for _id, row in self.rows.items():
            by_key.setdefault(row["id"], []).append(_id)
        new_keys = []
        for key in sorted(batch):
            rs = batch[key]
            updated = sorted({t for r in rs for t in r["updated"]})
            # latest row wins for business fields
            latest = max(rs, key=lambda r: (max(r["updated"]), sorted(r["updated"])))
            actives = [i for i in by_key.get(key, []) if not self.rows[i]["obsolete_version"]]
            if not actives:
                new_keys.append((key, updated, latest))
                continue
            # overlap-preferred, else the highest _id
            target = max(actives, key=lambda i: (bool(set(self.rows[i]["updated"]) & set(updated)), i))
            old = self.rows[target]
            merged = {f: latest[f] if latest[f] not in ("", None) else old[f] for f in self.fields}
            all_updated = {t for i in actives for t in self.rows[i]["updated"]} | set(updated)
            self._demote(by_key[key], target)
            self.rows[target] = self._row(target, key, sorted(all_updated), merged)
        for n, (key, updated, latest) in enumerate(new_keys, start=self.max_order + 1):
            _id = f"ntp{n:08d}"
            self.rows[_id] = self._row(_id, key, updated, {f: latest[f] for f in self.fields})
        self.max_order += len(new_keys)

    def _demote(self, ids: list[str], target: str) -> None:
        for i in ids:
            if i != target:
                r = self.rows[i]
                self.rows[i] = {
                    **dict.fromkeys(self.fields), "_id": i, "id": r["id"], "updated": r["updated"],
                    "obsolete_version": True, "updated_to": target,
                }

    @staticmethod
    def _row(_id, key, updated, fields) -> dict:
        return {"_id": _id, "id": key, "updated": updated, "obsolete_version": False,
                "updated_to": None, **fields}

    def diff(self, actual: list[dict]) -> list[str]:
        """Differences between the model and the store's rows (at most
        five listed). A field that merged a header collision passes when
        every expected source value is contained in the stored one."""
        problems = []
        got = {r["_id"]: r for r in actual}
        if len(got) != len(actual):
            problems.append(f"duplicate _id in store: {len(actual) - len(got)}")
        missing = sorted(set(self.rows) - set(got))
        extra = sorted(set(got) - set(self.rows))
        if missing or extra:
            problems.append(f"_id sets differ: missing {missing[:3]} extra {extra[:3]}")
        for _id in sorted(set(self.rows) & set(got)):
            exp, act = self.rows[_id], got[_id]
            for c in (*META, *self.fields):
                e, a = exp.get(c), act.get(c)
                if c == "updated":
                    a = sorted(a or [])
                if c == "obsolete_version":
                    a = bool(a)
                if isinstance(e, list) and c != "updated":
                    ok = all(v is None or v in (a if isinstance(a, (list, tuple)) else str(a)) for v in e)
                else:
                    ok = e == a
                if not ok:
                    problems.append(f"{_id}.{c}: expected {e!r}, store has {a!r}")
            if len(problems) >= 5:
                break
        return problems


# ---------------------------------------------------------------------------
# store files
# ---------------------------------------------------------------------------


def manifest(store_dir: str, version: int | None = None) -> dict:
    log = os.path.join(store_dir, "_txlog")
    if version is None:
        version = max(int(f[:-5]) for f in os.listdir(log) if f.endswith(".json"))
    with open(os.path.join(log, f"{version:020d}.json")) as fh:
        return json.load(fh)


def store_files(store_dir: str, version: int | None = None) -> list[str]:
    return [os.path.join(store_dir, f["path"]) for f in manifest(store_dir, version)["files"]]


def read_rows(store_dir: str, version: int | None = None) -> list[dict]:
    import pyarrow.parquet as pq

    rows = []
    for path in store_files(store_dir, version):
        rows += pq.read_table(path).to_pylist()
    return rows


def write_counters(store_dir: str, versions: list[int]) -> dict[str, int]:
    """Bytes, files and rows the given commits wrote, and the files
    they replaced (copy-on-write rewrites)."""
    out = {"bytes_written": 0, "files_rewritten": 0, "rows_written": 0}
    for v in versions:
        m = manifest(store_dir, v)
        rows = {f["path"]: f["rows"] for f in m["files"]}
        for p in m["add"]:
            out["bytes_written"] += os.path.getsize(os.path.join(store_dir, p))
            out["rows_written"] += rows[p]
        out["files_rewritten"] += len(m["remove"])
    return out


def changed_rows(store_dir: str, v_old: int, v_new: int) -> int:
    """Rows inserted or changed between two versions (by ``_id``)."""
    def key(r):
        return json.dumps(r, sort_keys=True, default=str)

    old = {r["_id"]: key(r) for r in read_rows(store_dir, v_old)}
    return sum(1 for r in read_rows(store_dir, v_new) if old.get(r["_id"]) != key(r))


def duckdb_over(views: dict[str, list[str]]):
    import duckdb

    con = duckdb.connect()
    for name, files in views.items():
        lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}], union_by_name=true)")
    return con


# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------


def _canon_value(v):
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(pdf) -> Counter:
    """A pandas frame as a multiset of canonical rows over sorted
    column names (order-insensitive, float bit-exact)."""
    cols = sorted(pdf.columns)
    return Counter(
        tuple(_canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def same_rows(got, expected) -> str | None:
    """None when two pandas frames hold the same rows, else a reason."""
    if sorted(got.columns) != sorted(expected.columns):
        return f"columns {sorted(got.columns)} != {sorted(expected.columns)}"
    if len(got) != len(expected):
        return f"{len(got)} rows, oracle {len(expected)}"
    a, b = canon(got), canon(expected)
    if a != b:
        only = list((a - b).elements())[:2]
        return f"{sum((a - b).values())} rows differ from the oracle, e.g. {only}"
    return None
