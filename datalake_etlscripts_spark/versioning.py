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

Documented deviation: when one batch carries the same ``id`` several
times, the reference merges rows sequentially in file order; we merge
latest-timestamp-wins per field (order-independent → deterministic
under parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from datalake_etlscripts_spark.functions.scalar import format_ntp_id, order_range, parse_ntp_id
from datalake_etlscripts_spark.operators.checkpointing import cut_lineage

STATE_META = ["_id", "id", "updated", "obsolete_version", "updated_to", "patch_data"]


def empty_state(spark, fields: list[str]) -> DataFrame:
    schema = (
        "_id string, id string, updated array<string>, "
        "obsolete_version boolean, updated_to string, patch_data string, "
        + ", ".join(f"`{f}` string" for f in fields)
    )
    return spark.createDataFrame([], schema)


def preaggregate_batch(incoming: DataFrame, fields: list[str]) -> DataFrame:
    """Collapse duplicate natural keys within one batch: union the
    timestamp sets, latest-row-wins for business fields."""
    latest = F.max_by(
        F.struct(*[F.col(f) for f in fields]),
        F.struct(F.array_max("updated"), F.col("updated")),
    ).alias("_fields")
    # rows without a natural key cannot be versioned — reject them here
    # rather than minting ids for corrupt/misschema'd input
    incoming = incoming.filter(F.col("id").isNotNull() & (F.col("id") != ""))
    agg = incoming.groupBy("id").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("updated")))).alias("updated"),
        latest,
    )
    return agg.select("id", "updated", *[F.col(f"_fields.{f}").alias(f) for f in fields])


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
    ``existing``: STATE_META + fields.
    """
    batch = preaggregate_batch(incoming, fields)

    if "patch_data" not in existing.columns:
        existing = existing.withColumn("patch_data", F.lit(None).cast("string"))

    actives = existing.filter(~F.coalesce(F.col("obsolete_version"), F.lit(False)))

    # J2/J3: resolve each batch key against its active version(s):
    # overlap match preferred, else max _id (ntp_utils.py:151-165).
    # ALL actives' updated sets union into the merge (read_parquet.py:95-98).
    a = actives.select(
        F.col("_id").alias("_old_id"),
        "id",
        F.col("updated").alias("_old_updated"),
        F.col("patch_data").alias("_old_patch_data"),
        *[F.col(f).alias(f"_old_{f}") for f in fields],
    )
    j = batch.join(a, "id", "left")
    overlap = F.coalesce(
        F.arrays_overlap(F.col("updated"), F.col("_old_updated")), F.lit(False)
    )
    # single-aggregate resolution (no WindowExec): per key, pick the
    # overlap-preferred / max-_id active via max_by over (overlap, _id),
    # and union all actives' timestamp sets in the same shuffle
    old_cols = ["_old_id", "_old_updated", "_old_patch_data"] + [
        f"_old_{f}" for f in fields
    ]
    resolved = j.groupBy("id").agg(
        F.first("updated").alias("updated"),
        *[F.first(f).alias(f) for f in fields],
        F.max_by(
            F.struct(*[F.col(c) for c in old_cols]),
            F.struct(overlap.alias("o"), F.col("_old_id").alias("i")),
        ).alias("_best"),
        F.max(overlap).alias("_has_overlap"),
        F.flatten(F.collect_list("_old_updated")).alias("_all_active_updated"),
    )
    resolved = resolved.select(
        "id",
        "updated",
        *fields,
        *[F.col(f"_best.{c}").alias(c) for c in old_cols],
        "_has_overlap",
        "_all_active_updated",
    )

    matched = F.col("_old_id").isNotNull() & (
        F.lit(not version_on_disjoint) | F.col("_has_overlap")
    )
    resolved = resolved.withColumn(
        "_action", F.when(matched, F.lit("merge")).otherwise(F.lit("new"))
    )

    # W1: fresh ids for unmatched keys. Only these (batch-sized, not
    # store-sized) rows cross the single-partition window. The id
    # counter (A1 max over the store) rides the plan as a broadcast
    # 1-row aggregate instead of a separate driver round-trip — one
    # fewer blocking job per merge.
    needs_id = resolved.filter(F.col("_action") != "merge")
    if start_order is None:
        lo, hi = order_range(group)
        mo = (
            existing.select(parse_ntp_id(F.col("_id")).alias("_o"))
            .filter(F.col("_o").between(lo, hi))
            .agg(F.coalesce(F.max("_o"), F.lit(lo)).alias("_start_order"))
        )
        needs_id = needs_id.crossJoin(F.broadcast(mo))
        start_col = F.col("_start_order")
    else:
        start_col = F.lit(start_order)
    with_new_id = needs_id.withColumn(
        "_target_id",
        format_ntp_id(F.row_number().over(W.orderBy("id")) + start_col),
    ).drop("_start_order")
    merged_target = resolved.filter(F.col("_action") == "merge").withColumn(
        "_target_id", F.col("_old_id")
    )
    # The resolution result feeds three consumers (upserts, demotion
    # targets, untouched anti-join) and its two action branches union
    # here — without a barrier the whole batch-aggregation pipeline
    # re-executes once per reference (6× observed). It is batch-sized
    # (keys only), so materialize it once; in production this is the
    # staged MERGE source table.
    resolved = merged_target.unionByName(with_new_id).localCheckpoint()

    # upserted rows. Field merge rule: non-empty incoming overwrites
    # (ntp_entry.py:30-46); merged updated = union(incoming, all actives).
    def merged_field(f: str):
        return F.when(
            F.col("_action") == "merge",
            F.coalesce(F.nullif(F.col(f), F.lit("")), F.col(f"_old_{f}")),
        ).otherwise(F.col(f))

    from datalake_etlscripts_spark.operators.diffpatch import patch_map

    patch = patch_map(fields)
    upserts = resolved.select(
        F.col("_target_id").alias("_id"),
        "id",
        F.when(
            F.col("_action") == "merge",
            F.array_sort(
                F.array_distinct(F.concat(F.col("_all_active_updated"), F.col("updated")))
            ),
        )
        .otherwise(F.col("updated"))
        .alias("updated"),
        F.lit(False).alias("obsolete_version"),
        F.lit(None).cast("string").alias("updated_to"),
        # per-merge change record (ntp_entry.py:30-46 patch_data);
        # a no-op re-ingest keeps the previous patch (idempotency)
        F.when(
            F.col("_action") == "merge",
            F.when(F.size(patch) > 0, F.to_json(patch)).otherwise(F.col("_old_patch_data")),
        ).alias("patch_data"),
        *[merged_field(f).alias(f) for f in fields],
    )

    # untouched + demotions in ONE left join (was an anti-join plus an
    # inner join — two shuffles/scans of the store side): a store row
    # whose id missed the batch passes through unchanged; every OTHER
    # stored row of a touched id becomes an obsolete stub pointing at
    # the target (read_parquet.py:112-118 — re-pointing old obsoletes
    # keeps the 1-hop invariant); the target row itself drops (its
    # replacement is in ``upserts``). ``targets`` is batch-sized and
    # checkpointed, so AQE sees real stats and broadcasts it when the
    # batch is small — the common production case: the store side then
    # never shuffles at all.
    targets = resolved.select("id", "_target_id")
    missed = F.col("_target_id").isNull()
    keep_or_demote = (
        existing.join(targets, "id", "left")
        .filter(missed | (F.col("_id") != F.col("_target_id")))
        .select(
            "_id",
            "id",
            "updated",
            F.when(missed, F.col("obsolete_version"))
            .otherwise(F.lit(True))
            .alias("obsolete_version"),
            F.when(missed, F.col("updated_to"))
            .otherwise(F.col("_target_id"))
            .alias("updated_to"),
            F.when(missed, F.col("patch_data")).alias("patch_data"),
            *[F.when(missed, F.col(f)).alias(f) for f in fields],
        )
    )

    return keep_or_demote.select(*STATE_META, *fields).unionByName(
        upserts.select(*STATE_META, *fields)
    )


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
