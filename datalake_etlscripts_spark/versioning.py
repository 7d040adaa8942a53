"""Versioned ingest — the flagship operator.

Set-oriented re-expression of the reference's row-at-a-time versioned
upsert (read_parquet.py:85-122 + nextplib/ntp_utils.py:114-165,229-265
+ nextplib/ntp_entry.py:30-68). One ingest batch resolves against the
current store in a handful of joins + one window, not ≥3 round-trips
per row.

Reference semantics (read_parquet.py:92-118, ntp_utils.py:151-165):
  matched   ANY active version of the natural key ``id`` exists →
            merge onto the selected one: prefer an active whose
            ``updated`` timestamp set overlaps the incoming set
            (idempotent re-ingest), else the active with max ``_id``.
            The merged ``updated`` is the union of the incoming set
            and ALL active versions' sets (read_parquet.py:95-98);
            non-empty incoming fields overwrite (ntp_entry.py:30-46).
  new       no active version → fresh id ``ntp%08d(max_order + n)``.
  demote    every OTHER stored row of that id (extra actives and old
            obsoletes) is rewritten as an obsolete stub pointing at
            the selected/created doc (read_parquet.py:112-118,
            ntp_entry.py:60-68) — keeps the 1-hop pointer invariant
            that checking/check_versions_completness.py repairs.

Reference bugs we do NOT replicate (SURVEY.md §7 Phase 2): the
'ntp00000000' sentinel that would shadow a real active with that id
(ntp_utils.py:152,162-164), and the demotion target being the empty
``new_doc`` in the matched branch (read_parquet.py:116 — intended
target is the selected doc).

An OPTIONAL stricter mode ``version_on_disjoint=True`` (not in the
reference) creates a NEW version id when an active exists but shares
no timestamp — full SCD2 history instead of in-place merge.

Scale notes (the 100 TB story):
- store read once, batch read once; resolution is one shuffle on
  ``id`` (both sides hash-partitioned); AQE splits skewed ids.
- new-id assignment needs a global dense order (reference 'ntp%08d'
  counter, ntp_constants.py:23-27). Only the *new rows of the batch*
  — orders of magnitude smaller than the store — cross a
  single-partition row_number; the store never does.
- the output unions disjoint row sets (untouched/merged/new/demoted);
  on Delta this is exactly one MERGE. Materialize per batch (parquet
  write / localCheckpoint) — chaining lazy merges compounds lineage.

Why the merge is SQL text: ``merge_batch`` is two ``spark.sql``
statements, RESOLVE (pre-aggregate the batch, resolve it against the
actives, mint ids; checkpointed) and APPLY (untouched/demoted rows
UNION ALL upserts), with the DataFrames passed as formatter arguments
and the id counter as the named parameter ``:start_order``. The plans
are the ones the Column API built, but building them is one parse per
statement on the JVM side instead of one py4j round trip per Column
call: about 20 round trips for a 10-field merge instead of about
2,000, at 0.3-2 ms each, and that time outside Spark jobs was most
of a small batch's wall time. Field names are quoted identifiers (backticks
doubled) or escaped string literals, with braces doubled for the
formatter; inside the statements field i is ``_f{i}`` (incoming) and
``_o{i}`` (stored).

Documented deviation: when one batch carries the same ``id`` several
times, the reference merges rows sequentially in file order; we merge
latest-timestamp-wins per field (order-independent → deterministic
under parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import get_lit_sql_str

from datalake_etlscripts_spark.functions.scalar import NTP_ID_FMT, order_range, parse_ntp_id
from datalake_etlscripts_spark.operators.checkpointing import cut_lineage

STATE_META = ["_id", "id", "updated", "obsolete_version", "updated_to", "patch_data"]


def empty_state(spark, fields: list[str]) -> DataFrame:
    schema = (
        "_id string, id string, updated array<string>, "
        "obsolete_version boolean, updated_to string, patch_data string, "
        + ", ".join(f"`{f}` string" for f in fields)
    )
    return spark.createDataFrame([], schema)


def max_order(existing: DataFrame, group: str = "contracts") -> int:
    """A1: last assigned id order for the group (ntp_utils.py:51-69);
    MIN_ORDER[group] when the store has none (read_parquet.py:75-80).
    An aggregate over the key column only — column-pruned scan."""
    lo, hi = order_range(group)
    row = (
        existing.select(parse_ntp_id(F.col("_id")).alias("o"))
        .filter(F.col("o").between(lo, hi))
        .agg(F.max("o"))
        .first()
    )
    return row[0] if row and row[0] is not None else lo


def _sql(fragment: str) -> str:
    """Field-derived SQL text made safe for the ``spark.sql`` formatter,
    which runs ``str.format`` over the whole statement."""
    return fragment.replace("{", "{{").replace("}", "}}")


def merge_batch(
    existing: DataFrame,
    incoming: DataFrame,
    fields: list[str],
    group: str = "contracts",
    start_order: int | None = None,
    version_on_disjoint: bool = False,
) -> DataFrame:
    """Resolve one normalized batch against the store; return the new
    store state. ``incoming``: (id, updated ARRAY<STRING>, *fields).
    ``existing``: STATE_META + fields (``patch_data`` optional).
    ``start_order``: the id counter; None derives it from ``existing``.
    Both frames must belong to one session: the statements read them
    as temp views of ``incoming``'s session.
    """
    spark = incoming.sparkSession
    # Inside the statements field i is _f{i} (incoming value) and _o{i}
    # (its selected active's value); only the ends name the real field,
    # as a quoted identifier or, for patch_data keys, a string literal.
    idents = [_sql("`" + f.replace("`", "``") + "`") for f in fields]

    def cols(fmt: str) -> str:
        """``, fmt`` per field, with {i} its index and {q} its identifier."""
        return "".join(", " + fmt.format(i=i, q=q) for i, q in enumerate(idents))

    has_patch = "patch_data" in existing.columns

    def stored_patch(alias: str) -> str:
        return f"{alias}.patch_data" if has_patch else "CAST(NULL AS STRING)"

    # RESOLVE. J2/J3: pre-aggregate the batch (timestamp sets unioned,
    # latest row wins per field; rows without a natural key cannot be
    # versioned and are dropped rather than minted ids), then resolve
    # each key against its active version(s): overlap match preferred,
    # else max _id (ntp_utils.py:151-165), in one max_by over
    # (overlap, _id) — a single aggregate, no WindowExec. ALL actives'
    # updated sets union into the merge (read_parquet.py:95-98).
    # W1: fresh ids for unmatched keys. Only these (batch-sized, not
    # store-sized) rows cross the single-partition row_number. Without
    # a given start_order the A1 counter (max over the store) rides the
    # plan as a broadcast 1-row aggregate instead of a separate collect.
    if start_order is None:
        lo, hi = order_range(group)
        frames = {
            "counter": existing.select(parse_ntp_id(F.col("_id")).alias("_o"))
            .filter(F.col("_o").between(lo, hi))
            .agg(F.coalesce(F.max("_o"), F.lit(lo)).alias("_start_order"))
        }
        args, hint, start = None, "/*+ BROADCAST(c) */", "c._start_order"
        counter = "CROSS JOIN {counter} c"
    else:
        frames, args = {}, {"start_order": start_order}
        hint, start, counter = "", ":start_order", ""
    matched = "_best._old_id IS NOT NULL" + (" AND _has_overlap" if version_on_disjoint else "")
    resolve = f"""
        WITH batch AS (
          SELECT id, updated{cols("_fields._f{i}")}
          FROM (
            SELECT id,
                   array_sort(array_distinct(flatten(collect_list(updated)))) AS updated,
                   max_by(struct({cols("{q} AS _f{i}")[2:]}),
                          struct(array_max(updated), updated)) AS _fields
            FROM {{incoming}}
            WHERE id IS NOT NULL AND id <> ''
            GROUP BY id)),
        joined AS (
          SELECT b.*, a._id AS _old_id, a.updated AS _old_updated,
                 {stored_patch('a')} AS _old_patch_data{cols("a.{q} AS _o{i}")},
                 coalesce(arrays_overlap(b.updated, a.updated), false) AS _overlap
          FROM batch b LEFT JOIN (
            SELECT * FROM {{existing}} WHERE NOT coalesce(obsolete_version, false)
          ) a ON b.id = a.id),
        resolved AS (
          SELECT id, updated{cols("_f{i}")}, _best.*, _has_overlap, _all_active_updated,
                 CASE WHEN {matched} THEN 'merge' ELSE 'new' END AS _action
          FROM (
            SELECT id, first(updated) AS updated{cols("first(_f{i}) AS _f{i}")},
                   max_by(struct(_old_id, _old_updated, _old_patch_data{cols("_o{i}")}),
                          struct(_overlap, _old_id)) AS _best,
                   max(_overlap) AS _has_overlap,
                   flatten(collect_list(_old_updated)) AS _all_active_updated
            FROM joined GROUP BY id))
        SELECT *, _old_id AS _target_id FROM resolved WHERE _action = 'merge'
        UNION ALL
        SELECT {hint} r.*,
               format_string('{NTP_ID_FMT}', CAST(row_number() OVER (ORDER BY r.id) + {start} AS BIGINT))
        FROM resolved r {counter} WHERE r._action <> 'merge'
    """
    # The resolution result feeds three consumers (upserts, demotion
    # targets, untouched rows) and its two action branches union here:
    # without a barrier the whole batch-aggregation pipeline re-executes
    # once per reference. It is batch-sized (keys only), so materialize
    # it once; in production this is the staged MERGE source table.
    resolved = spark.sql(resolve, args, incoming=incoming, existing=existing, **frames)
    resolved = resolved.localCheckpoint()

    # APPLY. Untouched + demotions in ONE left join: a store row whose
    # id missed the batch passes through unchanged; every OTHER stored
    # row of a touched id becomes an obsolete stub pointing at the
    # target (read_parquet.py:112-118 — re-pointing old obsoletes keeps
    # the 1-hop invariant); the target row itself drops (its
    # replacement is an upsert). The targets are batch-sized and
    # checkpointed, so AQE sees real stats and broadcasts them when the
    # batch is small: the store side then never shuffles at all.
    # Upserts: non-empty incoming fields overwrite (ntp_entry.py:30-46);
    # merged updated = union(incoming, all actives). patch_data records
    # the fields whose non-empty incoming value differs from the stored
    # one; a no-op re-ingest keeps the previous patch (idempotency).
    patch = ", ".join(
        f"CASE WHEN _f{i} <> '' AND (_o{i} IS NULL OR _o{i} <> _f{i}) "
        f"THEN struct({_sql(get_lit_sql_str(f))} AS k, _f{i} AS v) END"
        for i, f in enumerate(fields)
    )
    apply = f"""
        WITH r AS (SELECT * FROM {{resolved}})
        SELECT e._id, e.id, e.updated,
               t._target_id IS NOT NULL OR e.obsolete_version AS obsolete_version,
               coalesce(t._target_id, e.updated_to) AS updated_to,
               CASE WHEN t._target_id IS NULL THEN {stored_patch('e')} END AS patch_data
               {cols("CASE WHEN t._target_id IS NULL THEN e.{q} END AS {q}")}
        FROM {{existing}} e LEFT JOIN (SELECT id, _target_id FROM r) t ON e.id = t.id
        WHERE t._target_id IS NULL OR e._id <> t._target_id
        UNION ALL
        SELECT _target_id, id,
               CASE WHEN _action = 'merge'
                    THEN array_sort(array_distinct(concat(_all_active_updated, updated)))
                    ELSE updated END,
               false, CAST(NULL AS STRING),
               CASE WHEN _action = 'merge'
                    THEN CASE WHEN size(_patch) > 0 THEN to_json(_patch) ELSE _old_patch_data END
               END
               {cols("CASE WHEN _action = 'merge' THEN coalesce(nullif(_f{i}, ''), _o{i}) ELSE _f{i} END")}
        FROM (SELECT *, map_from_entries(filter(array({patch}), x -> x IS NOT NULL)) AS _patch
              FROM r)
    """
    return spark.sql(apply, resolved=resolved, existing=existing)


# ---------------------------------------------------------------------------
# Views + invariants (checking/* parity)
# ---------------------------------------------------------------------------


def current_versions(state: DataFrame) -> DataFrame:
    """clean_place-style current view (checking/clean_place.py:90-188):
    active rows only; unique per id once ingested through merge_batch."""
    return state.filter(~F.coalesce(F.col("obsolete_version"), F.lit(False)))


def check_unique_active(state: DataFrame) -> DataFrame:
    """Invariant (checking/check_unique_place_id.py:48-61): one active
    row per natural key. Returns violations (empty = healthy)."""
    return (
        current_versions(state)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .filter(F.col("n_active") > 1)
    )


def check_pointers_resolve(state: DataFrame) -> DataFrame:
    """Invariant (checking/check_versions_completness.py:71-117): every
    obsolete row's updated_to resolves to an ACTIVE row in ONE hop.
    Returns violations."""
    obsolete = state.filter(F.coalesce(F.col("obsolete_version"), F.lit(False))).select(
        "_id", "id", "updated_to"
    )
    active_ids = current_versions(state).select(F.col("_id").alias("updated_to"))
    return obsolete.join(active_ids, "updated_to", "left_anti")


def follow_version(
    state: DataFrame,
    max_hops: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """J8: resolve every row to its CURRENT active _id by chasing
    ``updated_to`` pointers to a fixpoint (ntp_entry.py:95-109,
    checking/check_versions_completness.py:86-94). merge_batch keeps
    chains 1-hop, so the loop exits after one iteration on healthy
    stores; legacy states converge in ≤ max_hops iterative self-joins.
    Returns (_id, resolved_id)."""
    cur = state.select(
        "_id",
        F.when(
            F.coalesce(F.col("obsolete_version"), F.lit(False)), F.col("updated_to")
        )
        .otherwise(F.col("_id"))
        .alias("resolved_id"),
    )
    pointer = state.select(
        F.col("_id").alias("resolved_id"),
        F.when(
            F.coalesce(F.col("obsolete_version"), F.lit(False)), F.col("updated_to")
        )
        .otherwise(F.col("_id"))
        .alias("_next"),
    )
    for it in range(max_hops):
        nxt = (
            cur.join(pointer, "resolved_id", "left")
            .select("_id", F.coalesce("_next", "resolved_id").alias("resolved_id"))
        )
        if nxt.exceptAll(cur).isEmpty():
            return nxt
        cur = cut_lineage(nxt, it, checkpoint_dir, checkpoint_every, eager=True)
    return cur
