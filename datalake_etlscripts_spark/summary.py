"""Group-by count summaries (reference calc_summary.py:53-81 semantics).

The reference loops six configured fields, each a separate Mongo
aggregation ($group count) plus an estimated total, and upserts one
summary document. Here a single pass computes all field summaries via
grouping sets so the 100 TB table is scanned once, not once per field.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def summary_counts(df: DataFrame, fields: list[str]) -> DataFrame:
    """A2 generalized: one scan → (field, value, cnt) for every
    configured field, using GROUPING SETS instead of N scans.

    Output: field STRING, value STRING, cnt BIGINT — plus a
    ('__total__', NULL, count(*)) row standing in for the reference's
    estimated_document_count() (calc_summary.py:76-78).
    """
    # grouping sets over the N single-field sets + the grand total
    gs = df.groupingSets(
        [[F.col(f)] for f in fields] + [[]],
        *[F.col(f) for f in fields],
    ).agg(F.count(F.lit(1)).alias("cnt"), *[F.grouping(f).alias(f"_g_{f}") for f in fields])

    # decode which grouping set each row belongs to
    field_col = F.lit("__total__")
    value_col = F.lit(None).cast("string")
    for f in fields:
        is_this = (F.col(f"_g_{f}") == 0)
        for g in fields:
            if g != f:
                is_this = is_this & (F.col(f"_g_{g}") == 1)
        field_col = F.when(is_this, F.lit(f)).otherwise(field_col)
        value_col = F.when(is_this, F.col(f).cast("string")).otherwise(value_col)
    return gs.select(
        field_col.alias("field"), value_col.alias("value"), F.col("cnt")
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance for the summary (A2 at 100 TB)
# ---------------------------------------------------------------------------


def cdc_images(diff: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``snapshot_diff`` result (io/txstore.snapshot_diff:
    change_type + ``_old``/``_new`` row structs) into its before/after
    row images: ``removed`` = rows leaving the table (delete + update
    pre-image), ``added`` = rows entering (insert + update post-image).
    """
    removed = diff.filter(F.col("change_type").isin("update", "delete")).select("_old.*")
    added = diff.filter(F.col("change_type").isin("insert", "update")).select("_new.*")
    return removed, added


def incremental_summary(
    old_summary: DataFrame,
    removed: DataFrame,
    added: DataFrame,
    fields: list[str],
) -> DataFrame:
    """Maintain a ``summary_counts`` view from a CDC delta WITHOUT
    rescanning the base table (the reference recomputes calc_summary.py
    over the full collection every run; at 100 TB the recompute scans
    everything to refresh counts a batch barely moved).

    Count sketches are self-maintainable: the new summary is

        old  ∪  (+1 per added row)  ∪  (−1 per removed row)
        → groupBy (field, value) → sum → drop zeros

    so the only inputs are the (small) summary table and the
    (batch-sized) delta images — one shuffle over summary-sized data,
    never the base. Delta counts reuse the same grouping-sets plan as
    the full recompute, so ``__total__`` maintains itself too.
    """
    plus = summary_counts(added, fields)
    minus = summary_counts(removed, fields).withColumn("cnt", -F.col("cnt"))
    return (
        old_summary.unionByName(plus)
        .unionByName(minus)
        .groupBy("field", "value")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def incremental_join_view(
    old_view: DataFrame,
    delta: DataFrame,
    dim: DataFrame,
    join_key: str,
    view_keys: list[str],
    measure: str,
    sign_col: str = "_sign",
) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate view (the counting
    algorithm of classical IVM, e.g. DBToaster/Materialize): the view

        V = fact ⋈ dim GROUP BY view_keys → (n, total)

    is refreshed from a SIGNED fact delta (+1 inserts, −1 deletes)
    alone:

        ΔV = Δfact ⋈ dim GROUP BY view_keys → (Σs, Σs·measure)
        V' = merge(V, ΔV) dropping groups whose count reaches 0

    The dim side broadcasts (it must be the small side for this to be
    delta-sized work); the base fact table is NEVER rescanned — the
    whole refresh shuffles view-sized + batch-sized data. Deletes are
    first-class: a group vanishes exactly when its maintained count
    hits zero, which is why the count column must ride along even when
    only the sum is wanted. Measures stay DECIMAL end to end so
    increments commute exactly."""
    dv = (
        delta.join(F.broadcast(dim), join_key)
        .groupBy(*view_keys)
        .agg(
            F.sum(sign_col).cast("long").alias("n"),
            F.sum(F.col(sign_col) * F.col(measure))
            .cast("decimal(26,2)")
            .alias("_tot"),
        )
    )
    old = old_view.select(
        *view_keys, F.col("n").cast("long"), F.col("_tot").cast("decimal(26,2)")
    )
    return (
        old.unionByName(dv)
        .groupBy(*view_keys)
        .agg(F.sum("n").cast("long").alias("n"), F.sum("_tot").alias("_tot"))
        .filter(F.col("n") > 0)
    )


def incremental_minmax_view(
    old_view: DataFrame,
    delta: DataFrame,
    current_base: DataFrame,
    group_col: str,
    value_col: str,
    sign_col: str = "_sign",
) -> DataFrame:
    """Incremental maintenance of a MIN-aggregate view — the case the
    counting algorithm canNOT self-maintain: deleting the group's
    current minimum forces a look at the base table. The classical
    answer (Gupta-Mumick self-maintenance) is implemented exactly:

      * view state carries (n, min_v, n_min) — the min's MULTIPLICITY
        is the extra state that absorbs most deletes for free;
      * inserts below the old min, or inserts into a new group, settle
        from the delta alone;
      * deletes at the min only dirty the group when they exhaust
        n_min — ONLY those groups re-read the base, via a semi-join
        that prunes the rescan to the dirty keys (partition/file
        pruning at scale), never a full recompute.

    ``current_base`` is the post-delta fact table (it exists anyway in
    a lake after the batch applies); groups whose count reaches zero
    vanish. Returns (group, n, min_v, n_min, rescanned) — the
    rescanned flag is the maintenance-cost audit signal."""
    g, v = group_col, value_col
    d1 = delta.groupBy(g).agg(
        F.sum(sign_col).cast("long").alias("_dn"),
        F.min(F.when(F.col(sign_col) > 0, F.col(v))).alias("_ins_min"),
    )
    old = old_view.select(
        g,
        F.col("n").alias("_n_old"),
        F.col("min_v").alias("_old_min"),
        F.col("n_min").alias("_n_min_old"),
    )
    d2 = (
        delta.join(old.select(g, "_old_min"), g, "left")
        .join(d1.select(g, "_ins_min"), g)
        .groupBy(g)
        .agg(
            F.sum(
                F.when(
                    (F.col(sign_col) > 0) & (F.col(v) == F.col("_ins_min")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("_n_at_ins_min"),
            F.sum(
                F.when(F.col(v) == F.col("_old_min"), F.col(sign_col)).otherwise(0)
            )
            .cast("long")
            .alias("_d_at_old_min"),
        )
    )
    m = (
        old.join(d1, g, "full_outer")
        .join(d2, g, "left")
        .withColumn(
            "n",
            (F.coalesce("_n_old", F.lit(0)) + F.coalesce("_dn", F.lit(0))).cast(
                "long"
            ),
        )
        .filter(F.col("n") > 0)
    )
    new_min_ins = F.col("_ins_min").isNotNull() & (
        F.col("_old_min").isNull() | (F.col("_ins_min") < F.col("_old_min"))
    )
    still_old = (
        F.col("_old_min").isNotNull()
        & (
            F.col("_n_min_old") + F.coalesce("_d_at_old_min", F.lit(0)) > 0
        )
        & ~(
            F.col("_ins_min").isNotNull()
            & (F.col("_ins_min") < F.col("_old_min"))
        )
    )
    m = m.withColumn(
        "_case",
        F.when(new_min_ins, F.lit(1)).when(still_old, F.lit(2)).otherwise(F.lit(3)),
    ).localCheckpoint(eager=False)
    clean = m.filter(F.col("_case") != 3).select(
        g,
        "n",
        F.when(F.col("_case") == 1, F.col("_ins_min"))
        .otherwise(F.col("_old_min"))
        .alias("min_v"),
        F.when(F.col("_case") == 1, F.col("_n_at_ins_min"))
        .otherwise(
            F.col("_n_min_old") + F.coalesce("_d_at_old_min", F.lit(0))
        )
        .cast("long")
        .alias("n_min"),
        F.lit(False).alias("rescanned"),
    )
    dirty = m.filter(F.col("_case") == 3).select(g, "n")
    rescan_rows = current_base.join(F.broadcast(dirty.select(g)), g, "left_semi")
    r1 = rescan_rows.groupBy(g).agg(F.min(v).alias("min_v"))
    r2 = (
        rescan_rows.join(F.broadcast(r1), g)
        .filter(F.col(v) == F.col("min_v"))
        .groupBy(g, "min_v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_min"))
    )
    rescanned = dirty.join(r2, g).select(
        g, "n", "min_v", "n_min", F.lit(True).alias("rescanned")
    )
    return clean.unionByName(rescanned)


def incremental_topk_view(
    old_buffer: DataFrame,
    delta: DataFrame,
    current_base: DataFrame,
    group_col: str,
    k: int = 10,
    buffer_cap: int | None = None,
    sign_col: str = "_sign",
) -> DataFrame:
    """Incremental maintenance of a TOP-K-by-count view — the third
    IVM shape beside the counting algorithm (incremental_join_view)
    and min-multiplicity state (incremental_minmax_view). Full group
    counts are exactly what a top-k view must NOT maintain (the whole
    point is state ≪ group count), so the classical k-buffer answer:

      * state = the top-``2k`` groups with their counts, plus the
        buffer floor τ (the 2k-th count at build — every key OUTSIDE
        the buffer is known to have count ≤ τ);
      * buffer keys update in place from the signed delta;
      * a NON-buffer delta key can only reach the top-k if its upper
        bound τ + Δ clears the updated buffer's k-th count — only
        those keys rescan the base, via a semi-join pruned to the
        dirty keys (partition/file pruning at scale);
      * if deletes sink the updated k-th count BELOW τ, the floor no
        longer protects the untouched keys and the buffer REFILLS
        from the base (the 2k margin exists to absorb k deletions
        before this triggers) — a view-state control-flow decision
        taken on two driver-side scalars, like any maintenance job.

    ``current_base`` is the post-delta fact table. Returns the top-k
    rows (rank, group, n, rescanned); ``rescanned`` audits the
    maintenance cost exactly like the minmax view's flag."""
    g = group_col
    cap = buffer_cap or 2 * k
    d = delta.groupBy(g).agg(F.sum(sign_col).cast("long").alias("_dn"))
    upd = (
        old_buffer.select(g, F.col("n").cast("long").alias("_n0"))
        .join(d, g, "left")
        .select(
            g,
            (F.col("_n0") + F.coalesce("_dn", F.lit(0))).cast("long").alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    upd = upd.localCheckpoint(eager=False)
    stats0 = old_buffer.agg(
        F.count(F.lit(1)).alias("_bn"), F.min("n").alias("_bmin")
    ).collect()[0]
    tau = int(stats0["_bmin"] or 0) if int(stats0["_bn"]) >= cap else 0
    kth_rows = (
        upd.orderBy(F.desc("n"), F.asc(g)).limit(k).orderBy(F.asc("n")).limit(1)
    ).collect()
    kth = int(kth_rows[0]["n"]) if upd.count() >= k and kth_rows else None
    if kth is None or kth < tau:
        # refill: the floor no longer bounds untouched keys
        refreshed = (
            current_base.groupBy(g)
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc(g))
            .limit(k)  # distributed TakeOrdered — no global window
        )
        return refreshed.select(
            F.row_number()
            .over(W.orderBy(F.desc("n"), F.asc(g)))
            .cast("int")
            .alias("rank"),
            F.col(g),
            F.col("n"),
            F.lit(True).alias("rescanned"),
        )
    cand = d.join(old_buffer.select(g), g, "left_anti").filter(
        F.lit(tau) + F.col("_dn") >= F.lit(kth)
    )
    rescan = (
        current_base.join(F.broadcast(cand.select(g)), g, "left_semi")
        .groupBy(g)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    u = (
        upd.withColumn("rescanned", F.lit(False))
        .unionByName(rescan.withColumn("rescanned", F.lit(True)))
        .orderBy(F.desc("n"), F.asc(g))
        .limit(k)  # distributed TakeOrdered — rescan side can be
        # delta-sized at scale, never rank it in one task
    )
    return u.select(
        F.row_number()
        .over(W.orderBy(F.desc("n"), F.asc(g)))
        .cast("int")
        .alias("rank"),
        F.col(g),
        F.col("n"),
        "rescanned",
    )
