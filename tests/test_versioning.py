"""Golden + invariant tests for the versioned-ingest merge
(SURVEY.md §5.3/§5.4; reference semantics read_parquet.py:85-122)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datalake_etlscripts_spark.versioning import (
    check_pointers_resolve,
    check_unique_active,
    current_versions,
    empty_state,
    follow_version,
    merge_batch,
)

FIELDS = ["title", "cpv"]

BATCH_SCHEMA = "id string, updated array<string>, title string, cpv string"
STATE_SCHEMA = (
    "_id string, id string, updated array<string>, obsolete_version boolean, "
    "updated_to string, title string, cpv string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def _merge(existing, batch, **kw):
    # production materializes state per batch (parquet/Delta write);
    # localCheckpoint is the in-memory equivalent for tests — without it
    # chained merges re-execute the whole history per action.
    return merge_batch(existing, batch, FIELDS, **kw).localCheckpoint()


def _state_map(state):
    return {r["_id"]: r.asDict() for r in state.collect()}


def test_new_ids_assigned_in_key_order(spark):
    state = _merge(
        empty_state(spark, FIELDS),
        _batch(
            spark,
            [
                ("url/b", ["2024-01-01 00:00:00"], "B", "1"),
                ("url/a", ["2024-01-02 00:00:00"], "A", "2"),
            ],
        ),
    )
    m = {r["id"]: r["_id"] for r in state.collect()}
    # reference counter starts at MIN_ORDER+1 (read_parquet.py:75-80,108)
    assert m == {"url/a": "ntp00000001", "url/b": "ntp00000002"}


def test_minors_group_offset(spark):
    state = _merge(
        empty_state(spark, FIELDS),
        _batch(spark, [("url/m", ["2024-01-01 00:00:00"], "M", "9")]),
        group="minors",
    )
    assert state.first()["_id"] == "ntp10000001"


def test_idempotent_reingest_is_noop(spark):
    b = _batch(spark, [("url/a", ["2024-01-01 00:00:00"], "A", "1")])
    s1 = _merge(empty_state(spark, FIELDS), b)
    s2 = _merge(s1, b)
    assert _state_map(s1) == _state_map(s2)


def test_overlap_merges_onto_same_id(spark):
    s1 = _merge(
        empty_state(spark, FIELDS),
        _batch(spark, [("url/a", ["2024-01-01 00:00:00"], "A", "1")]),
    )
    # overlapping timestamp + a new one + a changed field + an empty field
    s2 = _merge(
        s1,
        _batch(
            spark,
            [("url/a", ["2024-01-01 00:00:00", "2024-02-01 00:00:00"], "A2", "")],
        ),
    )
    rows = s2.collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["_id"] == "ntp00000001"
    assert r["updated"] == ["2024-01-01 00:00:00", "2024-02-01 00:00:00"]
    assert r["title"] == "A2"
    assert r["cpv"] == "1"  # empty incoming value does not clobber


def test_disjoint_timestamps_still_merge_reference_mode(spark):
    # reference: no-overlap still matches the max-_id active
    # (ntp_utils.py:159-161) → in-place merge, updated sets unioned
    s1 = _merge(
        empty_state(spark, FIELDS),
        _batch(spark, [("url/a", ["2024-01-01 00:00:00"], "A", "1")]),
    )
    s2 = _merge(s1, _batch(spark, [("url/a", ["2024-03-01 00:00:00"], "A3", "3")]))
    rows = s2.collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["_id"] == "ntp00000001"
    assert r["updated"] == ["2024-01-01 00:00:00", "2024-03-01 00:00:00"]
    assert r["title"] == "A3"


def test_scd2_mode_creates_new_version_and_demotes(spark):
    s1 = _merge(
        empty_state(spark, FIELDS),
        _batch(spark, [("url/a", ["2024-01-01 00:00:00"], "A", "1")]),
    )
    s2 = _merge(
        s1,
        _batch(spark, [("url/a", ["2024-03-01 00:00:00"], "A3", "3")]),
        version_on_disjoint=True,
    )
    m = _state_map(s2)
    assert len(m) == 2
    old, new = m["ntp00000001"], m["ntp00000002"]
    assert old["obsolete_version"] is True and old["updated_to"] == "ntp00000002"
    assert old["title"] is None  # stub drops business fields
    assert new["obsolete_version"] is False and new["title"] == "A3"
    assert check_pointers_resolve(s2).count() == 0


@pytest.mark.slow
def test_scd2_chain_repoints_one_hop(spark):
    s = empty_state(spark, FIELDS)
    for i, ts in enumerate(["2024-01-01", "2024-02-01", "2024-03-01"]):
        s = _merge(
            s,
            _batch(spark, [("url/a", [f"{ts} 00:00:00"], f"T{i}", "1")]),
            version_on_disjoint=True,
        )
    m = _state_map(s)
    assert len(m) == 3
    stubs = [r for r in m.values() if r["obsolete_version"]]
    assert len(stubs) == 2
    assert all(r["updated_to"] == "ntp00000003" for r in stubs)
    assert check_pointers_resolve(s).count() == 0
    assert check_unique_active(s).count() == 0
    resolved = {r["_id"]: r["resolved_id"] for r in follow_version(s).collect()}
    assert resolved == {f"ntp0000000{i}": "ntp00000003" for i in (1, 2, 3)}


def test_multi_active_anomaly_demoted_to_single(spark):
    # legacy/anomalous store: two ACTIVE rows share one natural key;
    # ingest selects overlap-match first (ntp_utils.py:151-165) and
    # demotes the other (read_parquet.py:112-118). The merged updated
    # takes the union of ALL actives (read_parquet.py:95-98).
    seed = spark.createDataFrame(
        [
            ("ntp00000001", "url/a", ["2024-01-01 00:00:00"], False, None, "A1", "1"),
            ("ntp00000002", "url/a", ["2024-02-01 00:00:00"], False, None, "A2", "2"),
        ],
        STATE_SCHEMA,
    )
    s = _merge(
        seed, _batch(spark, [("url/a", ["2024-01-01 00:00:00"], "NEW", "")])
    )
    m = _state_map(s)
    assert len(m) == 2
    kept, demoted = m["ntp00000001"], m["ntp00000002"]
    assert kept["obsolete_version"] is False
    assert kept["updated"] == ["2024-01-01 00:00:00", "2024-02-01 00:00:00"]
    assert kept["title"] == "NEW" and kept["cpv"] == "1"
    assert demoted["obsolete_version"] is True
    assert demoted["updated_to"] == "ntp00000001"
    assert check_unique_active(s).count() == 0
    assert check_pointers_resolve(s).count() == 0


def test_same_id_twice_in_one_batch_collapses(spark):
    s = _merge(
        empty_state(spark, FIELDS),
        _batch(
            spark,
            [
                ("url/a", ["2024-01-01 00:00:00"], "old", "1"),
                ("url/a", ["2024-02-01 00:00:00"], "newer", "2"),
            ],
        ),
    )
    rows = s.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["updated"] == ["2024-01-01 00:00:00", "2024-02-01 00:00:00"]
    assert r["title"] == "newer"  # latest-timestamp-wins within batch


@pytest.mark.slow
def test_randomized_batches_keep_invariants(spark):
    import random

    rng = random.Random(42)
    ids = [f"url/{i}" for i in range(20)]
    s = empty_state(spark, FIELDS)
    for b in range(4):
        rows = []
        for id_ in rng.sample(ids, 12):
            n_ts = rng.randint(1, 3)
            ts = sorted(
                f"2024-0{rng.randint(1, 9)}-0{rng.randint(1, 9)} 00:00:0{rng.randint(0, 9)}"
                for _ in range(n_ts)
            )
            rows.append((id_, ts, f"t{b}", str(b)))
        s = _merge(s, _batch(spark, rows), version_on_disjoint=(b % 2 == 1))
    assert check_unique_active(s).count() == 0
    assert check_pointers_resolve(s).count() == 0
    # every id ever ingested has exactly one active version
    assert current_versions(s).select("id").distinct().count() == s.select(
        "id"
    ).distinct().count()
    n_active = current_versions(s).count()
    assert n_active == s.select("id").distinct().count()


# field names that need quoting in SQL text: path and space characters,
# a backtick, both string-literal escapes and format-string braces
ODD_FIELDS = ["doc/title", "cpv code", "tick`name", "it's", "back\\slash", "{incoming}"]
ODD_STATE = (
    "_id string, id string, updated array<string>, obsolete_version boolean, "
    "updated_to string, patch_data string, "
    + ", ".join("`" + f.replace("`", "``") + "` string" for f in ODD_FIELDS)
)
ODD_BATCH = "id string, updated array<string>, " + ", ".join(
    "`" + f.replace("`", "``") + "` string" for f in ODD_FIELDS
)


def test_merge_batch_quotes_field_names(spark):
    """Changed fields, an empty and a null incoming value, a new key and
    an untouched row, all over field names that need quoting; every row
    and the patch_data keys are checked against hand-written values."""
    import json

    state = spark.createDataFrame(
        [
            ("ntp00000001", "k1", ["2024-01-01 00:00:00"], False, None, None,
             "t1", "c1", "same", "q1", "b1", "i1"),
            ("ntp00000002", "k2", ["2024-01-02 00:00:00"], False, None, '{"cpv code":"c2"}',
             "t2", "c2", "x2", "q2", "b2", "i2"),
        ],
        ODD_STATE,
    )
    batch = spark.createDataFrame(
        [
            ("k1", ["2024-02-01 00:00:00"], "t1b", "", "same", "q'1", "b\\1", None),
            ("k3", ["2024-03-01 00:00:00"], "t3", "", "x3", None, "b3", "{i3}"),
        ],
        ODD_BATCH,
    )
    out = {r["_id"]: r for r in merge_batch(state, batch, ODD_FIELDS, start_order=2).collect()}
    assert sorted(out) == ["ntp00000001", "ntp00000002", "ntp00000003"]

    def row(_id):
        r = out[_id]
        return [r["id"], r["updated"], r["obsolete_version"], r["updated_to"]] + [
            r[f] for f in ODD_FIELDS
        ]

    assert row("ntp00000001") == [
        "k1", ["2024-01-01 00:00:00", "2024-02-01 00:00:00"], False, None,
        "t1b", "c1", "same", "q'1", "b\\1", "i1",
    ]
    assert row("ntp00000002") == [
        "k2", ["2024-01-02 00:00:00"], False, None, "t2", "c2", "x2", "q2", "b2", "i2",
    ]
    assert row("ntp00000003") == [
        "k3", ["2024-03-01 00:00:00"], False, None, "t3", "", "x3", None, "b3", "{i3}",
    ]
    patch = json.loads(out["ntp00000001"]["patch_data"])
    assert list(patch) == ["doc/title", "it's", "back\\slash"]
    assert patch == {"doc/title": "t1b", "it's": "q'1", "back\\slash": "b\\1"}
    assert out["ntp00000002"]["patch_data"] == '{"cpv code":"c2"}'
    assert out["ntp00000003"]["patch_data"] is None


def test_merge_batch_py4j_budget(spark, monkeypatch):
    """merge_batch states the merge as SQL text: building its result
    over 10 fields costs a few dozen py4j round trips, not one per
    Column call (about 2,000 when built with the Column API)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    fields = [f"f{i}" for i in range(10)]
    typed = ", ".join(f"{f} string" for f in fields)
    state = spark.createDataFrame(
        [("ntp00000001", "k1", ["t1"], False, None, None) + tuple("v" for _ in fields)],
        "_id string, id string, updated array<string>, obsolete_version boolean, "
        "updated_to string, patch_data string, " + typed,
    )
    batch = spark.createDataFrame(
        [("k1", ["t2"]) + tuple("w" for _ in fields), ("k2", ["t2"]) + tuple("n" for _ in fields)],
        "id string, updated array<string>, " + typed,
    )
    send = ClientServerConnection.send_command
    calls = []

    caller = threading.get_ident()

    def counted(self, command, *a, **kw):
        # py4j's finalizer thread sends the releases of collected proxies
        # (earlier work's garbage) on its own connection: not counted
        if threading.get_ident() == caller:
            calls.append(command)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    result = merge_batch(state, batch, fields, start_order=1)
    monkeypatch.undo()
    assert len(calls) <= 60, len(calls)
    assert {r["_id"]: r["f9"] for r in result.collect()} == {
        "ntp00000001": "w", "ntp00000002": "n",
    }
