"""Transactional table store — Delta-style ACID on plain parquet.

The reference's store is MongoDB: upserts are atomic per document and
"transactions" are whole-collection drop/rebuild cycles
(read_parquet.py:75-78, checking/clean_place.py:65-77). The lake-native
engine needs the same guarantees over parquet files without any
external format jar (no delta-core in this environment), so this
module implements the lakehouse commit protocol directly:

  layout    <path>/data/c{version}-*/part-*.parquet   immutable files
            <path>/_txlog/{version:020}.json          commit manifests
  commit    a manifest is the FULL live-file list (a self-contained
            checkpoint, like Delta's checkpoint parquet), the table
            schema, the add/remove delta for history display and
            arbitrary metadata (e.g. the versioned-ingest id counter).
  atomicity manifests are created with O_EXCL (put-if-absent): two
            writers racing to version N+1 — one wins, the loser gets
            ConcurrentCommitError and retries on the new snapshot.
            Readers only see files referenced by a committed manifest,
            so a crashed half-written commit is invisible (its orphan
            data files are garbage-collected by vacuum).
  snapshot  snapshot(version=…) / snapshot(as_of=…) reads one manifest
            — O(1) time travel, no log replay — and reads its files
            with the schema it records: no footer-inference job, and
            each version keeps its own schema.
  MERGE     copy-on-write with file-level key-stat pruning: each data
            file records min/max of the table key; a merge only
            rewrites files whose [min,max] interval can contain a
            source key. At 100 TB this is the difference between
            rewriting ~0.1% and 100% of the table for an incremental
            batch. Pruning uses an interval join against the (tiny)
            stats table, never a full scan.

Where the log's contents come from (as Delta keeps schema and per-file
stats in its log, written with the files, so readers and MERGE never
re-derive them):
- schema: the schema of the frame a commit writes; an evolving commit
  records the widened schema. A DELETE writes no new columns and
  carries the previous version's schema forward. Every manifest has
  one: there is no footer-inference fallback.
- per-file rows and key min/max: each new file's parquet footer, read
  on the driver right after the write (pyarrow), so no Spark job reads
  the files back. 0-row files are not recorded; a file whose footer has
  no min/max for the key (all-null key, over-long values, a key that is
  neither integer nor string) records None and every merge touches it.

Scale notes:
- the manifest is file-level metadata (path, rows, key min/max): ~100
  bytes/file. A 100 TB table at 1 GB/file is ~10^5 entries — a few MB
  of JSON, fine to read on the driver. (Past ~10^7 files the full-list
  checkpoint would itself become a parquet table, as Delta does.)
- stats-based pruning only pays when writers cluster the key within
  files. Nothing here repartitions by key: a file holds whatever rows
  its write task got, so its [min, max] interval usually spans most of
  the key space and a merge rewrites most files.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reload and retry."""


class VersionNotFoundError(ValueError):
    """Requested version does not exist (never created or vacuumed away)."""


class SchemaMismatchError(ValueError):
    """Writer schema differs from the table schema and evolution was
    not requested — schema ENFORCEMENT is the default (a mis-schema'd
    batch must fail loudly, not silently fork the table's schema)."""


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    key_min: object
    key_max: object


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


def _schema(manifest: dict) -> StructType:
    """The table schema a manifest records."""
    return StructType.fromJson(manifest["schema"])


def _key_range(md, key: str | None) -> tuple[object, object]:
    """Min/max of the top-level column ``key`` over a parquet file's row
    groups, from its footer metadata ``md``. (None, None) when any row
    group lacks them or they are neither int nor str (only those compare
    the way Spark's ``min``/``max`` do in ``_prune_touched``)."""
    if key is None or md.num_row_groups == 0:
        return None, None
    rg = md.row_group(0)
    col = next((j for j in range(rg.num_columns) if rg.column(j).path_in_schema == key), None)
    if col is None:
        return None, None
    lo = hi = None
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(col).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if not all(isinstance(x, (int, str)) and not isinstance(x, bool) for x in (lo, hi)):
        return None, None
    return lo, hi


class TransactionalStore:
    """A versioned parquet table with ACID commits and time travel."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------------
    # log access
    # ------------------------------------------------------------------

    def versions(self) -> list[int]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise VersionNotFoundError(f"no committed version at {self.path}")
        return vs[-1]

    def _read_manifest(self, version: int) -> dict:
        p = _manifest_path(self.path, version)
        if not os.path.exists(p):
            raise VersionNotFoundError(
                f"version {version} not found at {self.path} (vacuumed or never written)"
            )
        with open(p) as fh:
            return json.load(fh)

    def _resolve_version(self, version: int | None, as_of: float | None) -> int:
        if version is not None:
            return version
        if as_of is None:
            return self.latest_version()
        eligible = [v for v in self.versions() if self._read_manifest(v)["timestamp"] <= as_of]
        if not eligible:
            raise VersionNotFoundError(f"no version at or before timestamp {as_of}")
        return eligible[-1]

    # ------------------------------------------------------------------
    # commit protocol
    # ------------------------------------------------------------------

    def _write_data(self, df: DataFrame, version: int, key: str | None) -> list[FileEntry]:
        """Write one commit's data files; each file's row count and key
        min/max come from its parquet footer, read on the driver, so no
        Spark job reads the files back. 0-row files are left out."""
        import pyarrow.parquet as pq

        sub = f"c{version}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, "data", sub)
        df.write.parquet(out)
        entries = []
        for name in sorted(os.listdir(out)):
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(out, name))
            if md.num_rows:
                entries.append(
                    FileEntry(os.path.join("data", sub, name), md.num_rows, *_key_range(md, key))
                )
        return entries

    def _commit(
        self,
        version: int,
        files: list[FileEntry],
        operation: str,
        added: list[str],
        removed: list[str],
        metadata: dict,
        schema: StructType | None = None,
    ) -> None:
        """Publish ``version``. ``schema`` defaults to the previous
        version's: only writes that can change the columns pass one."""
        if schema is None:
            schema = _schema(self._read_manifest(version - 1))
        os.makedirs(_log_dir(self.path), exist_ok=True)
        manifest = {
            "version": version,
            "timestamp": time.time(),
            "operation": operation,
            "metadata": metadata,
            "schema": schema.jsonValue(),
            "files": [
                {"path": e.path, "rows": e.rows, "key_min": e.key_min, "key_max": e.key_max}
                for e in files
            ],
            "add": added,
            "remove": removed,
        }
        target = _manifest_path(self.path, version)
        try:
            # O_EXCL create = put-if-absent: the loser of a commit race
            # sees EEXIST, not a silently clobbered manifest
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} was committed concurrently at {self.path}"
            ) from None
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh)

    def _live(self, version: int) -> tuple[list[FileEntry], dict]:
        m = self._read_manifest(version)
        return (
            [FileEntry(f["path"], f["rows"], f["key_min"], f["key_max"]) for f in m["files"]],
            m,
        )

    def _read(self, files: list[FileEntry], schema: StructType) -> DataFrame:
        """The given files under the recorded table schema: files written
        before an ADD COLUMNS evolution read the new columns as null."""
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, e.path) for e in files]
        )

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, df: DataFrame, key: str | None = None,
        metadata: dict | None = None,
    ) -> "TransactionalStore":
        store = cls(spark, path)
        if store.versions():
            raise FileExistsError(f"table already exists at {path}")
        meta = {"key": key, **(metadata or {})}
        entries = store._write_data(df, 0, key)
        store._commit(0, entries, "CREATE", [e.path for e in entries], [], meta, df.schema)
        return store

    def key(self, version: int | None = None) -> str | None:
        return self._read_manifest(self._resolve_version(version, None))["metadata"].get("key")

    def snapshot(self, version: int | None = None, as_of: float | None = None) -> DataFrame:
        """The table as of a committed version (default: latest).
        ``as_of`` picks the last version committed at or before that
        unix timestamp."""
        v = self._resolve_version(version, as_of)
        files, m = self._live(v)
        if not files:
            raise VersionNotFoundError(f"version {v} has no data files")
        return self._read(files, _schema(m))

    # ------------------------------------------------------------------
    # schema enforcement / evolution
    # ------------------------------------------------------------------

    def _align_schema(
        self, df: DataFrame, evolve: bool, label: str, manifest: dict
    ) -> DataFrame:
        """Enforce writer-schema == table-schema by default; with
        ``evolve`` align instead (Delta mergeSchema semantics): new
        writer columns are ADDED to the table, columns the writer omits
        are null-filled. Same-name/different-type is ALWAYS an error —
        silent casts corrupt data at scale. ``manifest`` is the latest
        version's, whose schema is the table's."""
        current = {f.name: f.dataType for f in _schema(manifest).fields}
        incoming = {f.name: f.dataType for f in df.schema.fields}
        conflicts = [
            n for n in incoming
            if n in current and incoming[n].simpleString() != current[n].simpleString()
        ]
        if conflicts:
            raise SchemaMismatchError(
                f"{label}: column type conflicts {conflicts} "
                f"(stored vs incoming types differ)"
            )
        extra = [n for n in incoming if n not in current]
        missing = [n for n in current if n not in incoming]
        if not evolve and (extra or missing):
            raise SchemaMismatchError(
                f"{label}: schema differs from table (extra={extra}, "
                f"missing={missing}); pass evolve_schema=True to evolve"
            )
        for n in missing:
            df = df.withColumn(n, F.lit(None).cast(current[n]))
        # stable order: table columns first, evolved additions after
        return df.select(*[n for n in current], *extra)

    def history(self) -> DataFrame:
        rows = []
        for v in self.versions():
            m = self._read_manifest(v)
            rows.append(
                (
                    m["version"],
                    float(m["timestamp"]),
                    m["operation"],
                    len(m["files"]),
                    sum(f["rows"] for f in m["files"]),
                    len(m["add"]),
                    len(m["remove"]),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp double, operation string, n_files long, "
            "n_rows long, n_added long, n_removed long",
        )

    def append(
        self, df: DataFrame, operation: str = "APPEND", evolve_schema: bool = False
    ) -> int:
        v = self.latest_version()
        files, m = self._live(v)
        df = self._align_schema(df, evolve_schema, operation, m)
        new = self._write_data(df, v + 1, m["metadata"].get("key"))
        self._commit(
            v + 1, files + new, operation, [e.path for e in new], [], m["metadata"], df.schema
        )
        return v + 1

    def overwrite(self, df: DataFrame, metadata_update: dict | None = None) -> int:
        v = self.latest_version()
        files, m = self._live(v)
        meta = {**m["metadata"], **(metadata_update or {})}
        new = self._write_data(df, v + 1, meta.get("key"))
        self._commit(
            v + 1, new, "OVERWRITE", [e.path for e in new],
            [e.path for e in files], meta, df.schema,
        )
        return v + 1

    # -- copy-on-write operations --------------------------------------

    def _prune_touched(self, files: list[FileEntry], source_keys: DataFrame) -> list[FileEntry]:
        """Files whose [key_min, key_max] interval can contain a source
        key. Interval join source_keys × stats — the stats side is tiny
        and broadcast; files with no stats are conservatively touched."""
        with_stats = [e for e in files if e.key_min is not None]
        no_stats = [e for e in files if e.key_min is None]
        if not with_stats:
            return list(files)
        # stats typed to the key's real type: lexical compare on numeric
        # keys would mis-prune ("10" < "9"), so never stringify here
        ktype = "bigint" if isinstance(with_stats[0].key_min, int) else "string"
        stats = self.spark.createDataFrame(
            [(e.path, e.key_min, e.key_max) for e in with_stats],
            f"path string, kmin {ktype}, kmax {ktype}",
        )
        k = source_keys.columns[0]
        hit = {
            r["path"]
            for r in source_keys.distinct()
            .join(
                F.broadcast(stats),
                (F.col(k).cast(ktype) >= F.col("kmin"))
                & (F.col(k).cast(ktype) <= F.col("kmax")),
                "inner",
            )
            .select("path")
            .distinct()
            .collect()
        }
        return no_stats + [e for e in with_stats if e.path in hit]

    def merge(
        self,
        source: DataFrame,
        merge_fn,
        source_key: str | None = None,
        operation: str = "MERGE",
        metadata_update: dict | None = None,
        evolve_schema: bool = False,
    ) -> int:
        """Copy-on-write MERGE: rewrite only the files whose key range
        overlaps the source's keys; ``merge_fn(touched_subset, source)
        -> DataFrame`` computes the replacement rows (it sees every
        stored row that could match a source key, plus the full
        source — Delta's MERGE INTO contract). With ``evolve_schema``
        new source columns join the table schema and both frames are
        aligned before ``merge_fn`` sees them."""
        v = self.latest_version()
        files, m = self._live(v)
        key = m["metadata"].get("key")
        if key is None:
            raise ValueError("merge requires a table key (create(..., key=...))")
        sk = source_key or key
        touched = self._prune_touched(files, source.select(sk))
        untouched = [e for e in files if e not in touched]
        subset = self._read(touched or files, _schema(m))
        if not touched:
            subset = subset.limit(0)
        if evolve_schema:
            # align both frames to their union schema so merge_fn can
            # unionByName without caring which side carried a column
            src_types = dict(source.dtypes)
            sub_types = dict(subset.dtypes)
            conflict = [
                n for n in src_types if n in sub_types and src_types[n] != sub_types[n]
            ]
            if conflict:
                raise SchemaMismatchError(f"{operation}: column type conflicts {conflict}")
            for n in [c for c in subset.columns if c not in source.columns]:
                source = source.withColumn(n, F.lit(None).cast(sub_types[n]))
            for n in [c for c in src_types if c not in subset.columns]:
                subset = subset.withColumn(n, F.lit(None).cast(src_types[n]))
            subset = subset.select(*source.columns)
        replacement = merge_fn(subset, source)
        # schema enforcement happens on what gets WRITTEN: a MERGE
        # source may be any relation, but the replacement rows must
        # match the table unless evolution was requested
        replacement = self._align_schema(replacement, evolve_schema, operation, m)
        new = self._write_data(replacement, v + 1, key)
        # metadata_update may be a callable, called after the write so
        # it can read what the write computed (e.g. an Observation of
        # how many fresh ids merge_fn assigned)
        upd = metadata_update() if callable(metadata_update) else (metadata_update or {})
        self._commit(
            v + 1, untouched + new, operation, [e.path for e in new],
            [e.path for e in touched], {**m["metadata"], **upd}, replacement.schema,
        )
        return v + 1

    def delete_where(self, condition) -> int:
        """COW DELETE: locate files with matching rows via one scan
        (file name is a virtual column — only hit files rewrite)."""
        v = self.latest_version()
        files, m = self._live(v)
        snap = self.snapshot(v)
        hit_abs = {
            r["f"]
            for r in snap.filter(condition)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        touched = [e for e in files if any(e.path in h for h in hit_abs)]
        if not touched:
            self._commit(v + 1, files, "DELETE", [], [], m["metadata"])
            return v + 1
        keep = self._read(touched, _schema(m)).filter(~condition)
        new = self._write_data(keep, v + 1, m["metadata"].get("key"))
        untouched = [e for e in files if e not in touched]
        self._commit(
            v + 1, untouched + new, "DELETE", [e.path for e in new],
            [e.path for e in touched], m["metadata"],
        )
        return v + 1

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Remove data files unreferenced by the ``keep_last`` newest
        versions, and the manifests older than those. Time travel
        before the horizon stops working (as in Delta VACUUM)."""
        vs = self.versions()
        keep_vs = vs[-max(1, keep_last):]
        referenced: set[str] = set()
        for v in keep_vs:
            files, _ = self._live(v)
            referenced.update(e.path for e in files)
        removed = []
        data_root = os.path.join(self.path, "data")
        for sub in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            subdir = os.path.join(data_root, sub)
            for f in sorted(os.listdir(subdir)):
                rel = os.path.join("data", sub, f)
                if f.endswith(".parquet") and rel not in referenced:
                    os.remove(os.path.join(subdir, f))
                    removed.append(rel)
            if not os.listdir(subdir):
                os.rmdir(subdir)
        for v in vs:
            if v not in keep_vs:
                os.remove(_manifest_path(self.path, v))
        return removed


# ---------------------------------------------------------------------------
# Versioned ingest through the transactional store
# ---------------------------------------------------------------------------


def ingest_versioned(
    store: TransactionalStore,
    incoming: DataFrame,
    fields: list[str],
    group: str = "contracts",
) -> int:
    """The flagship ingest (read_parquet.py:85-122) as one transactional
    COW MERGE: only files whose natural-key range overlaps the batch are
    rewritten, and the 'ntp%08d' id counter (ntp_utils.py:51-69) rides
    in commit metadata — no full-table max() scan per batch, which is
    what makes incremental ingest O(batch) instead of O(store) at
    100 TB. The ids the batch mints are counted by an Observation on
    the written rows, so the count costs no job of its own."""
    from datalake_etlscripts_spark.functions.scalar import order_range, parse_ntp_id
    from datalake_etlscripts_spark.versioning import max_order, merge_batch

    v = store.latest_version()
    meta = store._read_manifest(v)["metadata"]
    start = meta.get("max_order")
    if start is None:  # legacy table: derive once, then track
        start = max_order(store.snapshot(v), group)
    minted = Observation("ingest_versioned")
    order, hi = parse_ntp_id(F.col("_id")), order_range(group)[1]

    def _merge(subset: DataFrame, source: DataFrame) -> DataFrame:
        return merge_batch(subset, source, fields, group=group, start_order=start).observe(
            minted, F.count_if((order > start) & (order <= hi)).alias("n_new")
        )

    return store.merge(
        incoming,
        _merge,
        source_key="id",
        operation="INGEST",
        metadata_update=lambda: {"max_order": start + minted.get["n_new"]},
    )


def snapshot_diff(
    store: "TransactionalStore",
    v_old: int,
    v_new: int,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-feed between two store versions (Delta CDF shape):
    one row per changed key with change_type ∈ insert/update/delete.
    Unchanged keys are dropped. One full-outer join on the key — both
    snapshots scan their own manifests' files, so the diff never
    rewrites or re-reads more than the two versions' data."""
    return dataframe_diff(
        store.snapshot(version=v_old), store.snapshot(version=v_new), key, compare_cols
    )


def dataframe_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """The snapshot-independent core of snapshot_diff: CDC rows
    (key, change_type, _old, _new) between any two DataFrames keyed by
    ``key``. Round-trip law (property-tested):
    apply_changeset(old, dataframe_diff(old, new, key), key) ≡ new."""
    cols = compare_cols or [c for c in new.columns if c != key]
    o = old.select(
        F.col(key), F.struct(*[F.col(c) for c in cols]).alias("_old")
    )
    n = new.select(
        F.col(key), F.struct(*[F.col(c) for c in cols]).alias("_new")
    )
    joined = o.join(n, key, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type", "_old", "_new")
    )


def apply_changeset(base: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Apply a snapshot_diff-shaped changeset to a snapshot: the CDC
    CONSUMER half of the change-data-feed pair (snapshot_diff emits
    deltas; this replays them downstream — mirror tables, derived
    marts — without ever re-reading the producer's full history).

    ``changes`` carries one row per changed key with
    change_type ∈ insert/update/delete and the replacement payload in
    a ``_new`` struct (NULL for deletes) — exactly what snapshot_diff
    returns. One left-anti join evicts every changed key from the
    base, then inserts/updates append their payloads: linear in
    |base| + |changes|, one shuffle on the key, AQE broadcasts the
    (delta-sized) change set against a large base.

    Idempotent by construction: applying the same changeset twice
    yields the same snapshot.
    """
    upserts = changes.filter(F.col("change_type").isin("insert", "update"))
    kept = base.join(changes.select(key), key, "left_anti")
    new_rows = upserts.select(F.col(key), F.col("_new.*"))
    return kept.unionByName(new_rows.select(*base.columns))
