"""Transactional store: ACID commits, time travel, COW merge pruning,
optimistic concurrency, vacuum, and versioned ingest through the store
(reference parity: read_parquet.py ingest over an atomic table instead
of MongoDB upserts)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from datalake_etlscripts_spark.io.txstore import (
    ConcurrentCommitError,
    TransactionalStore,
    VersionNotFoundError,
    ingest_versioned,
)
from datalake_etlscripts_spark.versioning import (
    check_pointers_resolve,
    check_unique_active,
    merge_batch,
)


def _jobs_started(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts, counted in the status store
    once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"txstore-probe-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _mk(spark, tmp_path, rows, name="t", key="id"):
    df = spark.createDataFrame(rows, "id string, val long")
    return TransactionalStore.create(spark, os.path.join(str(tmp_path), name), df, key=key)


def test_create_append_time_travel(spark, tmp_path):
    st = _mk(spark, tmp_path, [("a", 1), ("b", 2)])
    assert st.latest_version() == 0
    st.append(spark.createDataFrame([("c", 3)], "id string, val long"))
    assert st.latest_version() == 1
    assert st.snapshot(version=0).count() == 2
    assert st.snapshot().count() == 3
    hist = st.history().collect()
    assert [r["operation"] for r in hist] == ["CREATE", "APPEND"]
    assert hist[-1]["n_rows"] == 3


def test_snapshot_as_of_timestamp(spark, tmp_path):
    st = _mk(spark, tmp_path, [("a", 1)])
    t0 = st._read_manifest(0)["timestamp"]
    st.append(spark.createDataFrame([("b", 2)], "id string, val long"))
    assert st.snapshot(as_of=t0).count() == 1
    assert st.snapshot(as_of=t0 + 10**6).count() == 2
    with pytest.raises(VersionNotFoundError):
        st.snapshot(as_of=t0 - 10)


def test_concurrent_commit_conflict(spark, tmp_path):
    st = _mk(spark, tmp_path, [("a", 1)])
    extra = spark.createDataFrame([("b", 2)], "id string, val long")
    st.append(extra)
    # a second writer that had read v0 tries to commit v1 again
    stale = TransactionalStore(spark, st.path)
    files, m = stale._live(0)
    new = stale._write_data(extra, 1, "id")
    with pytest.raises(ConcurrentCommitError):
        stale._commit(1, files + new, "APPEND", [e.path for e in new], [], m["metadata"])
    # the winning commit is intact
    assert st.snapshot(version=1).count() == 2


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    # two disjoint key ranges written as separate commits → separate files
    lo = spark.createDataFrame([(f"a{i:02d}", i) for i in range(10)], "id string, val long")
    hi = spark.createDataFrame([(f"z{i:02d}", i) for i in range(10)], "id string, val long")
    st = TransactionalStore.create(
        spark, os.path.join(str(tmp_path), "cow"), lo.repartition(1), key="id"
    )
    st.append(hi.repartition(1))
    before = {e.path for e in st._live(st.latest_version())[0]}

    src = spark.createDataFrame([("a05", 500)], "id string, val long")

    def upsert(subset, source):
        keep = subset.join(source.select("id"), "id", "left_anti")
        return keep.unionByName(source)

    st.merge(src, upsert)
    after = {e.path for e in st._live(st.latest_version())[0]}
    # the z-range file survived untouched; the a-range file was replaced
    z_files = {p for p in before if p in after}
    assert z_files, "untouched file should be carried over"
    snap = {(r["id"], r["val"]) for r in st.snapshot().collect()}
    assert ("a05", 500) in snap and ("z09", 9) in snap and len(snap) == 20


def test_delete_where_and_vacuum(spark, tmp_path):
    st = _mk(spark, tmp_path, [("a", 1), ("b", 2), ("c", 3)])
    st.delete_where(F.col("id") == "b")
    assert {r["id"] for r in st.snapshot().collect()} == {"a", "c"}
    # pre-delete version still readable before vacuum
    assert st.snapshot(version=0).count() == 3
    removed = st.vacuum(keep_last=1)
    assert removed, "vacuum should drop the superseded files"
    with pytest.raises(VersionNotFoundError):
        st.snapshot(version=0)
    assert {r["id"] for r in st.snapshot().collect()} == {"a", "c"}


def _vrows(spark, rows):
    return spark.createDataFrame(
        rows, "id string, updated array<string>, title string, price string"
    )


def _vstate(spark, rows):
    return spark.createDataFrame(
        rows,
        "_id string, id string, updated array<string>, obsolete_version boolean, "
        "updated_to string, patch_data string, title string, price string",
    )


def _all_rows(df):
    """Every row over the columns sorted by name, arrays as tuples."""
    cols = sorted(df.columns)
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.select(*cols).collect()),
        key=repr,
    )


def test_ingest_versioned_rows_and_counter(spark, tmp_path):
    """COW ingest through the store ≡ merge_batch over the whole state,
    for a batch with one merge and one new key and for the same batch
    again; the id counter the commit observes advances by exactly the
    one new key, then by 0 (idempotent re-ingest)."""
    fields = ["title", "price"]
    state = _vstate(
        spark,
        [
            ("ntp00000001", "k1", ["2024-01-01 00:00:00"], False, None, None, "t1", "1"),
            ("ntp00000002", "k2", ["2024-02-01 00:00:00"], False, None, None, "t2", "2"),
            ("ntp00000003", "k3", ["2024-03-01 00:00:00"], False, None, None, "t3", "3"),
        ],
    )
    st = TransactionalStore.create(
        spark, os.path.join(str(tmp_path), "ingest"), state.repartition(3, "id"),
        key="id", metadata={"max_order": 3},
    )
    batch = _vrows(
        spark,
        [
            ("k2", ["2024-02-15 00:00:00"], "t2b", ""),  # merges onto ntp00000002
            ("k9", ["2024-09-01 00:00:00"], "t9", "9"),  # mints ntp00000004
        ],
    )
    expect = _all_rows(merge_batch(state, batch, fields, start_order=3))
    for _ in range(2):
        ingest_versioned(st, batch, fields)
        got = st.snapshot()
        assert _all_rows(got) == expect
        assert check_unique_active(got).isEmpty()
        assert check_pointers_resolve(got).isEmpty()
        assert st._read_manifest(st.latest_version())["metadata"]["max_order"] == 4


def test_ingest_versioned_idempotent_counter(spark, tmp_path):
    """A batch whose key lies outside every file's [key_min, key_max]
    touches no file (the merge runs over an empty subset); its rows
    still equal merge_batch over the whole state, the counter advances
    by the one new key, and re-ingesting it changes neither."""
    fields = ["title", "price"]
    state = _vstate(
        spark, [("ntp00000001", "k1", ["2024-01-01 00:00:00"], False, None, None, "t1", "1")]
    )
    st = TransactionalStore.create(
        spark, os.path.join(str(tmp_path), "idem"), state, key="id", metadata={"max_order": 1}
    )
    batch = _vrows(spark, [("k5", ["2024-05-01 00:00:00"], "t5", "5")])
    expect = _all_rows(merge_batch(state, batch, fields, start_order=1))
    for _ in range(2):
        ingest_versioned(st, batch, fields)
        assert _all_rows(st.snapshot()) == expect
        assert st._read_manifest(st.latest_version())["metadata"]["max_order"] == 2
    assert st._read_manifest(1)["remove"] == []  # the first ingest touched no file


def test_log_records_file_stats_and_schema(spark, tmp_path):
    """The manifest's per-file rows and key min/max equal Spark's over
    each file; snapshot() reads with the schema the log records, which
    equals the live files' footer union after a create, an evolving
    append and a merge, and starts no Spark job."""
    st = _mk(spark, tmp_path, [(f"k{i:02d}", i) for i in range(12)])
    st.append(
        spark.createDataFrame([("m1", 1, "x"), ("z9", 2, None)], "id string, val long, note string"),
        evolve_schema=True,
    )
    st.merge(
        spark.createDataFrame([("k03", 30, "y"), ("n1", 4, "w")], "id string, val long, note string"),
        lambda sub, s: sub.join(s.select("id"), "id", "left_anti").unionByName(s),
    )
    for v in st.versions():
        files, _ = st._live(v)
        paths = [os.path.join(st.path, e.path) for e in files]
        for e, p in zip(files, paths):
            r = spark.read.parquet(p).agg(F.count(F.lit(1)), F.min("id"), F.max("id")).first()
            assert (e.rows, e.key_min, e.key_max) == tuple(r), e.path
        inferred = spark.read.option("mergeSchema", "true").parquet(*paths).schema
        assert st.snapshot(version=v).schema == inferred, v
    assert st.snapshot(version=0).columns == ["id", "val"]
    assert _jobs_started(spark, lambda: st.snapshot().schema) == 0
    assert _jobs_started(spark, lambda: st.snapshot(version=0).columns) == 0


def test_snapshot_diff_cdc_all_change_types(spark, tmp_path):
    """snapshot_diff reports insert/update/delete between any two
    versions — including across a COW delete."""
    from datalake_etlscripts_spark.io.txstore import TransactionalStore, snapshot_diff

    v0 = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, v int"
    )
    st = TransactionalStore.create(spark, str(tmp_path / "t"), v0, key="id")
    src = spark.createDataFrame([("b", 20), ("d", 4)], "id string, v int")
    st.merge(src, lambda sub, s: sub.join(s.select("id"), "id", "left_anti").unionByName(s))
    st.delete_where(F.col("id") == "a")
    diff = {
        r["id"]: r["change_type"]
        for r in snapshot_diff(st, 0, st.latest_version(), key="id").collect()
    }
    assert diff == {"a": "delete", "b": "update", "d": "insert"}  # c unchanged → absent


def test_incremental_summary_matches_recompute(spark, tmp_path):
    """IVM: folding the CDC delta into the old summary must equal a
    full recompute over the new snapshot — across insert, update, AND
    delete (the oracle-checked summary_incremental query only sees
    inserts/updates; the delete path is covered here)."""
    from datalake_etlscripts_spark.io.txstore import TransactionalStore, snapshot_diff
    from datalake_etlscripts_spark.summary import (
        cdc_images,
        incremental_summary,
        summary_counts,
    )

    v0 = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "y"), ("d", "z")], "id string, tag string"
    )
    st = TransactionalStore.create(spark, str(tmp_path / "t"), v0, key="id")
    # update b: x→y, insert e: y, then delete every z (d) and c
    src = spark.createDataFrame([("b", "y"), ("e", "y")], "id string, tag string")
    st.merge(src, lambda sub, s: sub.join(s.select("id"), "id", "left_anti").unionByName(s))
    st.delete_where(F.col("id").isin("c", "d"))

    old_sum = summary_counts(st.snapshot(version=0), ["tag"])
    removed, added = cdc_images(snapshot_diff(st, 0, st.latest_version(), key="id"))
    got = incremental_summary(old_sum, removed, added, ["tag"])
    want = summary_counts(st.snapshot(), ["tag"])

    as_map = lambda df: {(r["field"], r["value"]): r["cnt"] for r in df.collect()}  # noqa: E731
    assert as_map(got) == as_map(want)
    # the vanished 'z' group is dropped, not kept at zero
    assert ("tag", "z") not in as_map(got)


def test_schema_enforcement_rejects_drift(spark, tmp_path):
    """Default = enforcement: a batch whose schema differs (extra or
    missing columns, or a type conflict) must fail loudly."""
    from datalake_etlscripts_spark.io.txstore import SchemaMismatchError

    st = _mk(spark, tmp_path, [("a", 1)])
    with pytest.raises(SchemaMismatchError):
        st.append(spark.createDataFrame([("b", 2, "x")], "id string, val long, note string"))
    with pytest.raises(SchemaMismatchError):
        st.append(spark.createDataFrame([("b",)], "id string"))
    with pytest.raises(SchemaMismatchError):  # same name, different type
        st.append(
            spark.createDataFrame([("b", "2")], "id string, val string"),
            evolve_schema=True,
        )
    assert st.latest_version() == 0  # nothing committed


def test_schema_evolution_append_and_merge(spark, tmp_path):
    """Opt-in evolution: new columns join the table (old rows read as
    NULL), omitted columns null-fill, and time travel still returns
    the ORIGINAL schema for pre-evolution versions."""
    st = _mk(spark, tmp_path, [("a", 1), ("b", 2)])
    st.append(
        spark.createDataFrame([("c", 3, "hello")], "id string, val long, note string"),
        evolve_schema=True,
    )
    snap = st.snapshot()
    assert set(snap.columns) == {"id", "val", "note"}
    rows = {r["id"]: r for r in snap.collect()}
    assert rows["a"]["note"] is None and rows["c"]["note"] == "hello"
    assert st.snapshot(version=0).columns == ["id", "val"]  # time travel: old schema

    # COW merge with a source that omits 'note' and adds 'flag'
    src = spark.createDataFrame([("a", 10, True)], "id string, val long, flag boolean")
    st.merge(
        src,
        lambda sub, s: sub.join(s.select("id"), "id", "left_anti").unionByName(s),
        evolve_schema=True,
    )
    out = {r["id"]: r for r in st.snapshot().collect()}
    assert set(st.snapshot().columns) == {"id", "val", "note", "flag"}
    assert out["a"]["val"] == 10 and out["a"]["flag"] is True and out["a"]["note"] is None
    assert out["c"]["note"] == "hello" and out["c"]["flag"] is None
