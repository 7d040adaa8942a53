"""Structured Streaming entry points (SURVEY.md §2.9).

The reference is batch re-run periodically over incremental dumps with
idempotent merge semantics standing in for streaming state
(read_parquet.py:85-122; scripts/process_parquets.sh). The engine
exposes the SAME merge as a ``foreachBatch`` sink, so an incremental
parquet drop-directory becomes a streaming ingest with exactly-once
semantics per micro-batch — no logic fork between batch and stream.

Also provided: the watermarked tumbling-window aggregation (the
streaming twin of plans/events.q_tumbling_window), demonstrating
event-time handling for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_etlscripts_spark.versioning import STATE_META, empty_state, merge_batch


def _recover_swap(path: str) -> None:
    """Crash recovery for ``_stage_swap``'s two-rename window: a crash
    between ``os.rename(path, old)`` and ``os.rename(tmp, path)``
    leaves NO directory at ``path`` but a complete ``__old_*`` sibling.
    Without this, every loader would treat the missing path as empty
    first-batch state — a silent state reset. Local paths only (the
    URI branch of _stage_swap never renames)."""
    import glob
    import os

    if "://" in path or os.path.exists(path):
        return
    leftovers = sorted(glob.glob(f"{path}__old_*"))
    if not leftovers:
        return
    if len(leftovers) > 1:
        raise RuntimeError(
            f"multiple interrupted-swap leftovers for {path}: {leftovers}; "
            "restore the correct __old_ directory manually"
        )
    os.rename(leftovers[0], path)


def _fs_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — correct for
    hdfs://, s3a://, file:// and bare local paths alike (os.path.exists
    is local-only and would silently report a remote store as absent,
    resetting streaming state). Restores an interrupted _stage_swap
    first, so a crashed swap reads as the pre-swap state rather than
    as absent."""
    _recover_swap(path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def _stage_swap(spark: SparkSession, df: DataFrame, path: str, tag: str) -> None:
    """Write ``df`` to a staging dir, then swap it into ``path`` —
    parquet has no in-place MERGE; Delta replaces this with a
    transactional write. One definition for every streaming
    state/view/mirror writer.

    ``df`` may lazily READ ``path`` itself (merge-into-state), so the
    staged copy is always materialized first. On a local filesystem
    the swap is then two directory renames: a crash leaves either the
    old state, the new one, or — in the window between the two
    renames — a complete ``__old_*`` sibling that ``_recover_swap``
    renames back on the next load, so no crash point resets state.
    URI paths (hdfs://, s3a://) can't use os.rename — there the swap
    falls back to rewrite-with-overwrite, which is NOT atomic (Spark
    deletes the target before writing); a production deployment on an
    object store replaces this seam with a Delta/Iceberg commit."""
    import os
    import shutil

    _recover_swap(path)
    tmp = f"{path}__{tag}"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    if "://" in path:
        spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
        return  # staging cleanup is FS-specific on remote stores
    old = f"{path}__old_{tag}"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def streaming_merge_batch(
    spark: SparkSession,
    state_path: str,
    fields: list[str],
    group: str = "contracts",
):
    """Build a foreachBatch callback that merges each micro-batch into
    the versioned store at ``state_path`` (parquet; a Delta MERGE in a
    Delta deployment — same shape, one writer per table as Delta's
    optimistic concurrency requires)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # missing path = FIRST batch; an unreadable store must RAISE —
        # a blanket except would silently restart from empty state and
        # lose the whole history on a transient read failure.
        # The state is read in the micro-batch's own session: merge_batch
        # is SQL over temp views, which both frames must share.
        session = batch_df.sparkSession
        if _fs_path_exists(spark, state_path):
            existing = session.read.parquet(state_path)
        else:
            existing = empty_state(session, fields)
        merged = merge_batch(existing, batch_df, fields, group=group)
        _stage_swap(spark, merged, state_path, f"epoch{epoch_id}")

    return apply


def run_streaming_ingest(
    spark: SparkSession,
    incoming_dir: str,
    state_path: str,
    fields: list[str],
    schema: str,
    group: str = "contracts",
):
    """File-source streaming ingest: watch ``incoming_dir`` for new
    parquet drops, merge each micro-batch into the versioned store.
    availableNow processes the backlog then stops (test/backfill mode);
    drop the trigger for a long-running ingest."""
    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(
            streaming_merge_batch(spark, state_path, fields, group)
        )
        .option("checkpointLocation", f"{state_path}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def fold_batch_views(
    spark: SparkSession,
    views_dir: str,
    batch_df: DataFrame,
    summary_fields: list[str],
    sketch_keys: list[str] | None = None,
    sketch_value: str | None = None,
) -> None:
    """Fold one micro-batch into continuously-maintained view tables
    under ``views_dir``: running value counts (summary.incremental_
    summary over an append-only log — no removals) and, optionally,
    per-group HLL distinct sketches (operators/sketches union-merge).
    Each view is summary/batch-sized — the ingest history is never
    re-scanned. This is the streaming face of the same IVM operators
    the batch path uses."""
    import os

    from datalake_etlscripts_spark.operators import sketches
    from datalake_etlscripts_spark.summary import incremental_summary, summary_counts

    def _load(path: str) -> DataFrame | None:
        # missing = view not created yet; unreadable must raise (the
        # incremental fold would otherwise silently restart from zero)
        if not _fs_path_exists(spark, path):
            return None
        return spark.read.parquet(path)

    def _swap(df: DataFrame, path: str) -> None:
        _stage_swap(spark, df, path, "staging")

    sum_path = os.path.join(views_dir, "summary")
    old = _load(sum_path)
    empty = batch_df.filter(F.lit(False))
    if old is None:
        new_sum = summary_counts(batch_df, summary_fields)
    else:
        new_sum = incremental_summary(old, empty, batch_df, summary_fields)
    _swap(new_sum, sum_path)

    if sketch_keys is not None and sketch_value is not None:
        sk_path = os.path.join(views_dir, "distinct_sketch")
        batch_state = sketches.distinct_sketch_table(batch_df, sketch_keys, sketch_value)
        old_state = _load(sk_path)
        state = (
            batch_state
            if old_state is None
            else sketches.merge_sketch_tables(old_state, batch_state)
        )
        _swap(state, sk_path)


def run_streaming_ingest_with_views(
    spark: SparkSession,
    incoming_dir: str,
    state_path: str,
    fields: list[str],
    schema: str,
    views_dir: str,
    summary_fields: list[str],
    sketch_keys: list[str] | None = None,
    sketch_value: str | None = None,
    group: str = "contracts",
):
    """Streaming ingest + continuous materialized views in ONE
    foreachBatch: each micro-batch merges into the versioned store AND
    folds into the running summary/sketch views, so dashboards read
    summary-sized tables instead of aggregating the store."""
    merge = streaming_merge_batch(spark, state_path, fields, group)

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        merge(batch_df, epoch_id)
        fold_batch_views(
            spark, views_dir, batch_df, summary_fields, sketch_keys, sketch_value
        )

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_path}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream —
    late rows beyond the watermark are dropped, state is bounded.
    Works on both streaming and batch DataFrames (same plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


__all__ = ["streaming_merge_batch", "run_streaming_ingest", "windowed_event_counts", "STATE_META"]


def running_user_totals(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running event count + value total maintained in state
    across micro-batches — the shape for reference-style incremental
    counters (A9) under Structured Streaming. Emits one row per user
    per batch with the cumulative totals."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    output_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "append", timeout
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Spark-4 successor lane for the same per-user running totals:
    ``transformWithStateInPandas`` with a ValueState-backed
    StatefulProcessor (typed state handles, timers, RocksDB provider —
    the API applyInPandasWithState is deprecated in favor of).

    ENV BOUNDARY: the transformWithState state-server protocol speaks
    protobuf between the JVM and a Python driver worker, and this
    container's ``google.protobuf`` is not importable — the query
    would crash at initialization (verified: STREAMING_PYTHON_RUNNER_
    INITIALIZATION_FAILURE, ImportError: cannot import name
    'descriptor'). On a cluster image, ``pip install protobuf`` and
    set spark.sql.streaming.stateStore.providerClass to the
    RocksDBStateStoreProvider. The processor below is the real
    implementation, gated on the import so the failure is immediate
    and actionable rather than a mid-query crash."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "transformWithStateInPandas needs a working google.protobuf "
            "(the JVM<->Python state-server protocol); install "
            "`protobuf` on the cluster image. The applyInPandasWithState "
            "twin (running_user_totals) runs everywhere."
        ) from ex
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotal(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n bigint, total double"
            )

        def handleInputRows(self, key, rows, timer_values):
            n, total = (
                self._state.get() if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _RunningTotal(),
        "user_id bigint, n_events bigint, total_value double",
        "Update",
        "processingTime",
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each
    key, with state bounded by the event-time watermark
    (dropDuplicatesWithinWatermark — duplicates arriving within the
    watermark horizon are suppressed; state for keys older than the
    horizon is evicted, so unbounded streams run in bounded memory).
    The batch twin is dropDuplicates on the same keys. At 100 TB/day
    the state store shards by key hash across executors — the same
    partitioning the groupBy would use."""
    keys = key_cols or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation via the native session_window —
    the streaming twin of operators.events.sessionize (same gap
    semantics, merge-on-overlap state under the watermark). Works on
    batch DataFrames too (same plan, no state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with
    right events of the same key that occur within [0, max_delay]
    AFTER it (e.g. click → purchase attribution). Both sides carry a
    watermark and the time-range predicate bounds the join state, so
    an unbounded pair of streams runs in bounded memory — the
    textbook Structured Streaming interval join. Works identically on
    batch frames (plain range join, no state)."""
    l_ = left.withWatermark("ts", watermark).select(
        F.col(key), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    r_ = right.withWatermark("ts", watermark).select(
        F.col(key).alias(f"_r_{key}"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    cond = (
        (F.col(key) == F.col(f"_r_{key}"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l_.join(r_, cond, "inner").select(key, "l_id", "l_ts", "r_id", "r_ts")


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a (possibly unbounded) event
    stream against a static/slowly-changing dimension table. The
    static side is re-planned per micro-batch — a dimension UPDATE
    becomes visible at the next batch boundary without restarting the
    query — and broadcast (dimension tables are small relative to the
    stream), so the stream side never shuffles and the join holds no
    streaming state. Works identically on batch frames."""
    return events.join(F.broadcast(dim), on, how)


def run_streaming_lsh_dedup(
    spark: SparkSession,
    incoming_dir: str,
    state_dir: str,
    schema: str = "doc_id bigint, text string",
    threshold: float = 0.5,
    scheme: str = "xxhash64",
):
    """Streaming near-duplicate detection: each micro-batch of
    documents probes the PERSISTED LSH bucket index — ingested
    documents are never re-signatured (operators/dedup.
    incremental_minhash_dedup), so per-batch cost is linear in the
    batch regardless of corpus size. State under ``state_dir``:

      index/  (band, bucket, _did) rows of everything ingested
      docs/   epoch=N/(doc_id, text) verification corpus
      pairs/  epoch=N/(id_a, id_b, jaccard) verified pairs

    Epoch-keyed overwrites make the at-least-once foreachBatch replay
    idempotent; the index swaps by directory rename (crash leaves old
    or new state, never partial), and only a MISSING state path reads
    as empty — corruption raises.

    Union of all emitted pairs equals a full batch recompute (banding
    is deterministic per doc — asserted in tests). availableNow
    processes the backlog then stops; drop the trigger for a
    long-running dedup service."""
    import os

    from datalake_etlscripts_spark.operators.dedup import incremental_minhash_dedup


    index_path = os.path.join(state_dir, "index")
    docs_path = os.path.join(state_dir, "docs")
    pairs_path = os.path.join(state_dir, "pairs")

    def _load(path: str, empty_schema: str) -> DataFrame:
        # ONLY a missing path means "first batch". A corrupted/partial
        # state directory must raise, not silently become an empty
        # index (which would stop all cross-batch dup detection)
        if not os.path.exists(path):
            return spark.createDataFrame([], empty_schema)
        return spark.read.parquet(path)

    def _swap(df: DataFrame, path: str, epoch_id: int) -> None:
        # epoch-keyed staging + directory-rename swap — one shared
        # definition (_stage_swap) for every streaming state writer
        _stage_swap(spark, df, path, f"epoch{epoch_id}")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: every write is keyed by
        # epoch_id with mode=overwrite, so a replayed batch rewrites
        # its own epoch partition instead of appending duplicates
        index = _load(index_path, "band int, bucket bigint, _did bigint")
        docs = _load(docs_path, schema)
        pairs, new_index = incremental_minhash_dedup(
            index, docs, batch_df, threshold=threshold, scheme=scheme
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"epoch={epoch_id}")
        )
        batch_df.write.mode("overwrite").parquet(
            os.path.join(docs_path, f"epoch={epoch_id}")
        )
        _swap(new_index, index_path, epoch_id)

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_cdc_mirror(
    spark: SparkSession,
    changes_dir: str,
    mirror_path: str,
    schema: str,
    key: str,
    seq_col: str | None = None,
):
    """Maintain a MIRROR table from a stream of CDC changesets: each
    micro-batch of snapshot_diff-shaped rows (key, change_type, _new)
    is replayed onto the mirror with apply_changeset — the streaming
    consumer half of the change-data-feed pair (the producer side is
    txstore.snapshot_diff / Delta CDF). The mirror is only ever
    touched delta-sized per batch; its history is never re-read.

    Multi-changeset batches: a backlog drain can coalesce SEVERAL
    changeset files into one micro-batch, which may carry several
    changes for one key — applying them unordered would corrupt the
    mirror (duplicate keys, resurrected deletes). Two safe modes:

    - ``seq_col`` given: changesets carry a monotone sequence number;
      the batch is reduced to each key's highest-sequence change
      before applying (last-wins, deterministic).
    - ``seq_col`` None: files carry no ordering, so the stream reads
      ONE changeset file per micro-batch (maxFilesPerTrigger=1,
      processed in file-modification order) AND the batch fails
      loudly if a single file still violates one-change-per-key.
      Caveat: modification-time TIES break by file path, so two files
      written within the FS's mtime granularity can replay inverted —
      producers that cannot space their drops must use seq_col (the
      robust mode).

    Replay-safe: apply_changeset is idempotent, so a micro-batch
    re-delivered after a checkpoint recovery converges to the same
    mirror. A missing mirror file means FIRST batch (empty mirror);
    an unreadable one raises — a half-written mirror from a crashed
    epoch must be repaired, not silently replaced by delta-only data.
    ``schema`` describes the changeset files (must contain ``key``,
    ``change_type`` and a ``_new`` struct of the mirror's payload
    columns). availableNow drains the backlog then stops.
    """
    from datalake_etlscripts_spark.io.txstore import apply_changeset

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        payload_cols = [
            f"_new.{f}" for f in batch_df.schema["_new"].dataType.fieldNames()
        ]
        if _fs_path_exists(spark, mirror_path):
            mirror = spark.read.parquet(mirror_path)  # unreadable → raise
        else:
            mirror = batch_df.filter(F.lit(False)).select(key, *payload_cols)
        if seq_col is not None:
            w = Window.partitionBy(key).orderBy(
                F.desc(seq_col), F.desc("change_type")
            )
            batch_df = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", seq_col)
            )
        else:
            dup = (
                batch_df.groupBy(key)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"changeset batch {epoch_id} carries multiple changes for "
                    f"key {dup[0][0]!r}; produce one change per key per file "
                    f"or pass seq_col for last-wins ordering"
                )
        updated = apply_changeset(mirror, batch_df, key)
        _stage_swap(spark, updated, mirror_path, f"epoch{epoch_id}")

    stream = spark.readStream.schema(schema)
    if seq_col is None:
        stream = stream.option("maxFilesPerTrigger", 1)
    stream = stream.parquet(changes_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{mirror_path}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def trending_topk_from_counts(counts: DataFrame, k: int = 5) -> DataFrame:
    """Per-window top-k tokens from a (window_start, token, n) count
    table — rank by (n desc, token asc), fully deterministic. Shared
    by the streaming fold and its batch twin so stream ≡ batch is an
    equality of plans, not a reimplementation."""
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "token", "n", "rank")
    )


def windowed_token_counts(docs: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window token counts over a timestamped text stream —
    works identically on streaming and batch inputs."""
    from datalake_etlscripts_spark.operators.text import tokens

    toks = docs.select(
        F.col("ts"), F.explode(tokens(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy(F.window("ts", window).alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "token", "n")
    )


def run_streaming_trending_terms(
    spark: SparkSession,
    docs_dir: str,
    state_path: str,
    schema: str,
    window: str = "1 hour",
    k: int = 5,
):
    """Streaming trending-terms service: each micro-batch of
    timestamped documents folds its windowed token counts into a
    persistent (window_start, token, n) state table (sum-merge — the
    counts monoid), then the per-window top-k view is re-derived from
    the updated state into ``{state_path}__topk``.

    The state table is (windows × vocabulary)-sized — summary-sized,
    never the corpus; the ingest history is never re-scanned. Top-k
    ranking is NOT stream-incremental (a rank can change when any
    count moves), so it is recomputed from the state table per batch —
    that table is exactly the right size for it. Streamed result ≡
    one-shot batch recompute over the union of all drops (tested).

    Delivery: the count fold is a sum — not naturally idempotent — so
    the state table carries a constant ``folded_through`` epoch column
    written atomically WITH the counts (one directory-rename swap).
    Spark's foreachBatch contract replays a crashed micro-batch under
    the SAME epoch_id, so a replay whose ``epoch_id <=
    folded_through`` skips the fold (the counts already include it)
    and only re-derives the idempotent top-k view — exactly-once
    counts on a plain parquet state table, same pattern as
    run_streaming_embedding_dedup's epoch-keyed overwrites.
    """

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        if _fs_path_exists(spark, state_path):
            state = spark.read.parquet(state_path)
            folded_through = state.agg(
                F.max("folded_through").alias("m")
            ).collect()[0]["m"]
            if folded_through is not None and epoch_id <= folded_through:
                # replayed micro-batch: counts already folded —
                # re-derive only the idempotent top-k view.
                topk = trending_topk_from_counts(
                    state.drop("folded_through"), k
                )
                _stage_swap(
                    spark, topk, f"{state_path}__topk", f"epoch{epoch_id}"
                )
                return
            merged = (
                state.drop("folded_through")
                .unionByName(windowed_token_counts(batch_df, window))
                .groupBy("window_start", "token")
                .agg(F.sum("n").alias("n"))
            )
        else:
            merged = windowed_token_counts(batch_df, window)
        merged = merged.withColumn(
            "folded_through", F.lit(epoch_id).cast("bigint")
        )
        _stage_swap(spark, merged, state_path, f"epoch{epoch_id}")
        topk = trending_topk_from_counts(
            spark.read.parquet(state_path).drop("folded_through"), k
        )
        _stage_swap(spark, topk, f"{state_path}__topk", f"epoch{epoch_id}")

    stream = spark.readStream.schema(schema).parquet(docs_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_path}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_embedding_dedup(
    spark: SparkSession,
    incoming_dir: str,
    state_dir: str,
    schema: str = "vec_id bigint, embedding array<double>",
    threshold: float = 0.92,
):
    """Streaming embedding near-duplicate detection — the vector twin
    of run_streaming_lsh_dedup: each micro-batch of vectors is
    signatured ONCE and probes the persisted (vec_id, band, bucket)
    index (operators/dedup.incremental_embedding_lsh); the ingested
    corpus is never re-signatured. State under ``state_dir``:

      index/  (vec_id, band, bucket) of everything ingested
      vecs/   epoch=N/(vec_id, embedding) verification corpus
      pairs/  epoch=N/(id_a, id_b, cos_sim) verified pairs

    Same idempotence/crash contract as the text twin: epoch-keyed
    overwrites for replays, directory-rename index swap, only a
    MISSING state path reads as empty. Union of emitted pairs equals
    a full batch recompute (property-tested)."""
    import os

    from datalake_etlscripts_spark.operators.dedup import incremental_embedding_lsh

    index_path = os.path.join(state_dir, "index")
    vecs_path = os.path.join(state_dir, "vecs")
    pairs_path = os.path.join(state_dir, "pairs")

    def _load(path: str, empty_schema: str) -> DataFrame:
        if not os.path.exists(path):
            return spark.createDataFrame([], empty_schema)
        return spark.read.parquet(path)

    def _swap(df: DataFrame, path: str, epoch_id: int) -> None:
        _stage_swap(spark, df, path, f"epoch{epoch_id}")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        index = _load(index_path, "vec_id bigint, band int, bucket bigint")
        vecs = _load(vecs_path, schema)
        pairs, batch_rows = incremental_embedding_lsh(
            index, vecs, batch_df, threshold=threshold
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"epoch={epoch_id}")
        )
        batch_df.write.mode("overwrite").parquet(
            os.path.join(vecs_path, f"epoch={epoch_id}")
        )
        _swap(index.unionByName(batch_rows), index_path, epoch_id)

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_funnel(
    spark: SparkSession,
    incoming_dir: str,
    state_dir: str,
    steps: list[str],
    schema: str = "event_id bigint, ts timestamp, user_id bigint, event_type string",
):
    """Streaming ordered-step funnel: each micro-batch advances the
    persisted per-user step counters (operators/events.funnel_advance)
    — history is never re-folded; per-batch cost is linear in the
    batch plus the state join. State under ``state_dir``:

      state/  (user_id, max_step) counters
      curve/  epoch=N/(step, n_users) conversion curve after the batch

    Ordered-replay contract (same as the CDC mirror): per-user event
    time is monotone across batches. Epoch-keyed idempotent writes,
    directory-rename state swap, missing path = first batch."""
    import os

    from datalake_etlscripts_spark.operators.events import funnel_advance

    state_path = os.path.join(state_dir, "state")
    curve_path = os.path.join(state_dir, "curve")

    def _load(path: str, empty_schema: str) -> DataFrame:
        if not os.path.exists(path):
            return spark.createDataFrame([], empty_schema)
        return spark.read.parquet(path)

    def _swap(df: DataFrame, path: str, epoch_id: int) -> None:
        _stage_swap(spark, df, path, f"epoch{epoch_id}")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        state = _load(state_path, "user_id bigint, max_step int")
        new_state = funnel_advance(batch_df, steps, state=state)
        curve = (
            new_state.filter(F.col("max_step") >= 1)
            .select(
                F.explode(F.sequence(F.lit(1), F.col("max_step"))).alias("step")
            )
            .groupBy("step")
            .agg(F.count(F.lit(1)).alias("n_users"))
        )
        curve.write.mode("overwrite").parquet(
            os.path.join(curve_path, f"epoch={epoch_id}")
        )
        _swap(new_state, state_path, epoch_id)

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def binned_value_counts(
    events: DataFrame, bin_width: float = 10.0
) -> DataFrame:
    """(event_type, bin, n) value-histogram grain — the mergeable count
    monoid shared by the drift monitor's reference snapshot, its
    streaming fold, and the batch twin (stream ≡ batch is then an
    equality over the same plan, not a reimplementation)."""
    return (
        events.select(
            "event_type",
            F.floor(F.col("value") / F.lit(bin_width)).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drift_report_from_counts(
    ref_counts: DataFrame, obs_counts: DataFrame
) -> DataFrame:
    """Per-type drift between a reference histogram and the observed
    one: Σ_bins (p_ref − p_obs)²/(p_ref + p_obs), folded IN BIN ORDER
    (sorted collect — the engine's deterministic-double-sum policy).
    Same statistic as operators/events.distribution_drift and for the
    same reason: PSI's per-bin ln() is not bit-portable across
    engines, and this form separates identical-vs-disjoint (0 → 2)
    with only +,−,×,÷. Returns (event_type, n_ref, n_obs, drift)."""
    c = (
        ref_counts.select(
            "event_type", "bin", F.col("n").alias("_na"), F.lit(0).alias("_nb")
        )
        .unionByName(
            obs_counts.select(
                "event_type", "bin", F.lit(0).alias("_na"), F.col("n").alias("_nb")
            )
        )
        .groupBy("event_type", "bin")
        .agg(F.sum("_na").alias("_na"), F.sum("_nb").alias("_nb"))
    )
    t = c.groupBy("event_type").agg(
        F.sum("_na").alias("n_ref"),
        F.sum("_nb").alias("n_obs"),
        F.array_sort(F.collect_list(F.struct("bin", "_na", "_nb"))).alias("_arr"),
    )

    def term(s):
        pa = s["_na"].cast("double") / F.col("n_ref")
        pb = s["_nb"].cast("double") / F.col("n_obs")
        return F.when(
            (s["_na"] > 0) | (s["_nb"] > 0),
            (pa - pb) * (pa - pb) / (pa + pb),
        ).otherwise(F.lit(0.0))

    return t.select(
        "event_type",
        "n_ref",
        "n_obs",
        F.aggregate(F.col("_arr"), F.lit(0.0), lambda acc, s: acc + term(s)).alias(
            "drift"
        ),
    )


def run_streaming_drift_monitor(
    spark: SparkSession,
    incoming_dir: str,
    state_dir: str,
    ref_counts_path: str,
    schema: str = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    ),
    bin_width: float = 10.0,
):
    """Streaming distribution-drift monitor (the PSI-dashboard shape):
    a frozen reference histogram (``binned_value_counts`` over the
    training snapshot, persisted once at ``ref_counts_path``) is
    compared against the live event stream. Each micro-batch folds its
    binned counts into a persistent (event_type, bin, n) state table —
    the counts monoid, (types × bins)-sized, never the event history —
    then the per-type drift report is re-derived from the updated
    state into ``{state_dir}/report``.

    Exactly-once: the count fold is a sum, so the state table carries
    the ``folded_through`` epoch written atomically with the counts
    (directory-rename swap); a replayed micro-batch (same epoch_id —
    Spark's foreachBatch contract) skips the fold and only re-derives
    the idempotent report. Same pattern as
    run_streaming_trending_terms. Streamed report ≡ batch
    drift_report_from_counts over the union of all drops (tested)."""
    import os

    counts_path = os.path.join(state_dir, "counts")
    report_path = os.path.join(state_dir, "report")
    ref_counts = spark.read.parquet(ref_counts_path)

    def _emit_report(state_counts: DataFrame, epoch_id: int) -> None:
        report = drift_report_from_counts(
            ref_counts, state_counts.drop("folded_through")
        )
        _stage_swap(spark, report, report_path, f"epoch{epoch_id}")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        if _fs_path_exists(spark, counts_path):
            state = spark.read.parquet(counts_path)
            folded_through = state.agg(F.max("folded_through").alias("m")).collect()[
                0
            ]["m"]
            if folded_through is not None and epoch_id <= folded_through:
                _emit_report(state, epoch_id)
                return
            merged = (
                state.drop("folded_through")
                .unionByName(binned_value_counts(batch_df, bin_width))
                .groupBy("event_type", "bin")
                .agg(F.sum("n").alias("n"))
            )
        else:
            merged = binned_value_counts(batch_df, bin_width)
        merged = merged.withColumn("folded_through", F.lit(epoch_id).cast("bigint"))
        _stage_swap(spark, merged, counts_path, f"epoch{epoch_id}")
        _emit_report(spark.read.parquet(counts_path), epoch_id)

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_compacted_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Reader view over a run_streaming_compaction table: compacted
    base + not-yet-folded fragment epochs."""
    import glob
    import os

    parts = []
    base = os.path.join(table_dir, "base")
    if os.path.exists(base):
        parts.append(spark.read.parquet(base).drop("compacted_through"))
    frags = sorted(glob.glob(os.path.join(table_dir, "frag", "epoch=*")))
    if frags:
        parts.append(spark.read.parquet(*frags))
    if not parts:
        raise FileNotFoundError(f"no base or fragments under {table_dir}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_streaming_compaction(
    spark: SparkSession,
    incoming_dir: str,
    table_dir: str,
    schema: str,
    max_fragments: int = 4,
):
    """Streaming ingest with an in-loop compaction service — the
    maintenance half every streaming table needs: each micro-batch
    lands as a fragment (``frag/epoch=N``, idempotent overwrite);
    once more than ``max_fragments`` fragments accumulate, base +
    fragments are folded into a new compacted base with one
    directory-rename swap, and the folded fragments are removed. Reads
    (``read_compacted_table``) stay bounded at base + ≤max_fragments
    fragment dirs — at 100 TB the alternative is a table whose file
    count grows by one-per-task every epoch until reads are
    footer-bound, not data-bound (io/writers.compact_files is the
    one-shot form; Delta's OPTIMIZE the managed one).

    Exactly-once under replay: the base carries ``compacted_through``
    (max epoch folded in, written atomically with the data); a
    replayed epoch ≤ compacted_through is skipped entirely — its rows
    are already in the base — and stale fragment dirs from a crash
    between swap and cleanup are deleted, never re-folded."""
    import os
    import shutil

    base_path = os.path.join(table_dir, "base")
    frag_root = os.path.join(table_dir, "frag")

    def _frag_epochs() -> list[int]:
        if not os.path.exists(frag_root):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(frag_root)
            if d.startswith("epoch=")
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        compacted_through = -1
        if _fs_path_exists(spark, base_path):
            compacted_through = spark.read.parquet(base_path).agg(
                F.max("compacted_through").alias("m")
            ).collect()[0]["m"]
        # crash-leftover fragments already folded into the base: remove
        for e in _frag_epochs():
            if e <= compacted_through:
                shutil.rmtree(os.path.join(frag_root, f"epoch={e}"), ignore_errors=True)
        if epoch_id <= compacted_through:
            return  # replayed micro-batch: rows already in the base
        batch_df.write.mode("overwrite").parquet(
            os.path.join(frag_root, f"epoch={epoch_id}")
        )
        epochs = _frag_epochs()
        if len(epochs) <= max_fragments:
            return
        folded = spark.read.parquet(
            *[os.path.join(frag_root, f"epoch={e}") for e in epochs]
        )
        if compacted_through >= 0:
            folded = spark.read.parquet(base_path).drop("compacted_through").unionByName(folded)
        folded = folded.coalesce(max(1, folded.rdd.getNumPartitions() // 8)).withColumn(
            "compacted_through", F.lit(max(epochs)).cast("bigint")
        )
        _stage_swap(spark, folded, base_path, f"epoch{epoch_id}")
        for e in epochs:
            shutil.rmtree(os.path.join(frag_root, f"epoch={e}"), ignore_errors=True)

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{table_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def zone_stats_for_batch(batch_df: DataFrame, stat_cols: list[str]) -> DataFrame:
    """One micro-batch's manifest rows — (col, min_v, max_v, n_rows)
    per stat column — computed fully distributively (one aggregate,
    no driver collect). Shared by run_streaming_zone_stats'
    foreachBatch callback and the registered batch twin
    (plans/streamtwins.q_zone_stats_fold), so stream ≡ batch is an
    equality over the same plan."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for c in stat_cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
        ]
    one = batch_df.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"_min_{c}").alias("min_v"),
                        F.col(f"_max_{c}").alias("max_v"),
                        F.col("_n").alias("n_rows"),
                    )
                    for c in stat_cols
                ]
            )
        ).alias("s")
    ).select("s.col", "s.min_v", "s.max_v", "s.n_rows")


def run_streaming_zone_stats(
    spark: SparkSession,
    incoming_dir: str,
    table_dir: str,
    schema: str,
    stat_cols: list[str],
):
    """Streaming ingest that maintains a MANIFEST beside the data —
    per-epoch min/max/count zone stats for ``stat_cols`` (the
    Delta add-file-stats / Iceberg manifest idea): at 100 TB, range
    pruning by listing parquet footers is itself a metadata scan over
    10⁶ files; a stats TABLE answers "which files can match" in one
    small read. Layout:

      data/epoch=N    the micro-batch rows (idempotent overwrite)
      stats/epoch=N   one row per stat col: (col, min_v, max_v, n_rows)

    Stats are written AFTER their data epoch from the same batch
    DataFrame, both keyed by the foreachBatch epoch. Replay contract
    (the compacted_through rule): epochs strictly increase under a
    live checkpoint, so an epoch BELOW the max on disk can only be a
    restarted-from-scratch replay of already-ingested drops — skipped
    entirely; an epoch EQUAL to the max re-overwrites both data and
    stats idempotently (covers a crash between the two writes).
    Readers use ``read_zone_pruned`` to touch only intersecting
    epochs; stats are per-col doubles, generic over the schema.
    """
    import glob
    import os
    import re

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        existing = [
            int(re.search(r"epoch=(\d+)$", d).group(1))
            for d in glob.glob(os.path.join(table_dir, "data", "epoch=*"))
        ]
        if existing and epoch_id < max(existing):
            # Wiped-checkpoint replay: under availableNow the whole
            # backlog re-arrives as one low-numbered batch, which can
            # only be skipped if every row in it was already ingested.
            # If the checkpoint was wiped while NEW un-ingested drops
            # waited, the replay batch holds MORE rows than the table
            # ever ingested — silently skipping would lose them, so
            # audit against the manifest's cumulative count and refuse
            # to guess. (A replay split across several micro-batches —
            # maxFilesPerTrigger — can't be audited this way; this
            # ingest runs availableNow with the default single-batch
            # backlog, which is the contract the skip relies on.)
            n_batch = batch_df.count()
            n_total = 0
            for sd in glob.glob(os.path.join(table_dir, "stats", "epoch=*")):
                r = spark.read.parquet(sd).limit(1).collect()
                if r:
                    n_total += r[0]["n_rows"]
            if n_batch > n_total:
                raise ValueError(
                    f"epoch {epoch_id} replays below on-disk max "
                    f"{max(existing)} but holds {n_batch} rows vs "
                    f"{n_total} ever ingested: the backlog contains "
                    "drops this table never ingested. Re-ingest from a "
                    "fresh table_dir (or restore the checkpoint) "
                    "instead of silently dropping them."
                )
            return
        batch_df.write.mode("overwrite").parquet(
            os.path.join(table_dir, "data", f"epoch={epoch_id}")
        )
        zone_stats_for_batch(batch_df, stat_cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(table_dir, "stats", f"epoch={epoch_id}"))

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{table_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_zone_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo: float,
    hi: float,
):
    """Manifest-pruned read: consult the stats table for the epochs
    whose [min, max] on ``col`` intersects [lo, hi], read ONLY those
    data epochs, and re-apply the exact predicate (zone stats are
    advisory — they may admit a file, never wrongly exclude one).
    Returns (df, epochs_read, epochs_total)."""
    import glob
    import os
    import re

    stat_dirs = sorted(glob.glob(os.path.join(table_dir, "stats", "epoch=*")))
    if not stat_dirs:
        raise FileNotFoundError(f"no stats manifest under {table_dir}")
    keep: list[int] = []
    seen: list[int] = []
    for d in stat_dirs:
        epoch = int(re.search(r"epoch=(\d+)$", d).group(1))
        seen.append(epoch)
        row = (
            spark.read.parquet(d)
            .filter(F.col("col") == col)
            .collect()
        )
        if not row:
            keep.append(epoch)  # no stats for this col: must scan
            continue
        r = row[0]
        if r["min_v"] is None or (r["max_v"] >= lo and r["min_v"] <= hi):
            keep.append(epoch)
    total = len(seen)
    if not keep:
        # schema-only read from a REAL listed epoch — epoch numbering
        # may have gaps (skipped replays), so the dir count is not an
        # epoch id
        empty = spark.read.parquet(
            os.path.join(table_dir, "data", f"epoch={seen[-1]}")
        ).limit(0)
        return empty, 0, total
    df = spark.read.parquet(
        *[os.path.join(table_dir, "data", f"epoch={e}") for e in keep]
    ).filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return df, len(keep), total


def run_streaming_late_quarantine(
    spark: SparkSession,
    incoming_dir: str,
    state_dir: str,
    schema: str = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    ),
    allowed_lateness_minutes: int = 30,
):
    """Watermark-governed late-data quarantine (the dead-letter half
    of every windowed streaming aggregate): each micro-batch splits
    against the CURRENT watermark — rows with ts older than it would
    silently mutate already-closed windows downstream, so they are
    quarantined to ``{state_dir}/late/epoch=N`` (with the epoch and
    the watermark that rejected them) instead of folding; on-time rows
    fold into the hourly per-type count state. The watermark then
    advances to max(previous, batch max ts − allowed_lateness) — the
    Structured Streaming watermark recurrence, made explicit so the
    quarantined set is an auditable TABLE, not a metric.

    Exactly-once: agg and watermark state each carry
    ``folded_through`` and swap via directory rename; the replay guard
    checks BOTH (agg swaps first, wm second — a retry that lands
    between the two skips the fold, which agg already holds, and only
    finishes the wm write). A fully committed epoch (≤ wm's
    folded_through) is a no-op — its late partition is already on disk
    and is NOT reclassified under the (later) current watermark, which
    is what keeps replay byte-stable. State is (types × hours) + one watermark row; the
    event history is never re-read."""
    import datetime
    import os

    agg_path = os.path.join(state_dir, "agg")
    wm_path = os.path.join(state_dir, "wm")
    late_dir = os.path.join(state_dir, "late")
    lateness = datetime.timedelta(minutes=allowed_lateness_minutes)

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # Replay guard over BOTH state artifacts. The success path
        # swaps agg first, wm second; a crash/retry between the two
        # must not re-fold the batch into agg (double-counting), so
        # the fold is skipped when EITHER artifact already records the
        # epoch — and when only agg does (interrupted between swaps),
        # the wm row is still (re)derived and written to finish the
        # epoch. Fully committed epochs (wm current) are a no-op.
        wm_prev = None
        if _fs_path_exists(spark, wm_path):
            rows = spark.read.parquet(wm_path).collect()
            if rows:
                wm_prev = rows[0]["watermark"]
                if epoch_id <= rows[0]["folded_through"]:
                    return
        agg_folded = -1
        if _fs_path_exists(spark, agg_path):
            r = (
                spark.read.parquet(agg_path)
                .agg(F.max("folded_through").alias("m"))
                .collect()[0]["m"]
            )
            agg_folded = -1 if r is None else r
        already_folded = epoch_id <= agg_folded
        batch_df = batch_df.localCheckpoint()
        mx = batch_df.agg(F.max("ts").alias("m")).collect()[0]["m"]
        if not already_folded:
            if wm_prev is not None:
                late = batch_df.filter(F.col("ts") < F.lit(wm_prev))
                ontime = batch_df.filter(F.col("ts") >= F.lit(wm_prev))
            else:
                late = batch_df.limit(0)
                ontime = batch_df
            n_late = late.count()
            if n_late:
                late.withColumn(
                    "epoch", F.lit(epoch_id).cast("bigint")
                ).withColumn(
                    "rejected_by_watermark", F.lit(wm_prev)
                ).write.mode("overwrite").parquet(
                    os.path.join(late_dir, f"epoch={epoch_id}")
                )
            counts = ontime.groupBy(
                "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
            ).agg(F.count(F.lit(1)).alias("n"))
            if _fs_path_exists(spark, agg_path):
                counts = (
                    spark.read.parquet(agg_path)
                    .drop("folded_through")
                    .unionByName(counts)
                    .groupBy("event_type", "hour")
                    .agg(F.sum("n").alias("n"))
                )
            counts = counts.withColumn(
                "folded_through", F.lit(epoch_id).cast("bigint")
            )
            _stage_swap(spark, counts, agg_path, f"epoch{epoch_id}")
        wm_new = wm_prev
        if mx is not None:
            cand = mx - lateness
            wm_new = cand if wm_prev is None else max(wm_prev, cand)
        wm_df = spark.createDataFrame(
            [(wm_new, epoch_id)], "watermark timestamp, folded_through bigint"
        )
        _stage_swap(spark, wm_df, wm_path, f"epoch{epoch_id}")

    stream = spark.readStream.schema(schema).parquet(incoming_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{state_dir}__checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_quarantined_late(spark: SparkSession, state_dir: str) -> DataFrame:
    """All quarantined rows across epochs (empty-safe schema read)."""
    import glob
    import os

    dirs = sorted(glob.glob(os.path.join(state_dir, "late", "epoch=*")))
    if not dirs:
        raise FileNotFoundError(f"no quarantined epochs under {state_dir}")
    return spark.read.parquet(*dirs)


def run_streaming_feature_store(
    spark: SparkSession,
    events_dir: str,
    root: str,
    schema: str = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING",
):
    """Streaming point-in-time feature store: each micro-batch of
    events (a) emits training rows for its purchase labels with
    features as of STRICTLY before the label — per-user running view
    count and last error timestamp — and (b) folds the batch into the
    per-user feature state for future batches.

    A label's features = carried-in state (everything from prior
    batches) + the in-batch strictly-earlier events, computed by the
    same union+carry window as the batch twin
    (operators/features.pit_feature_rows), so for TIME-ORDERED drops
    the streamed training table is row-identical to the batch
    pit_training_join over the union of all drops (tested). Ordered
    ingest is the contract, exactly like the CDC mirror's sequence
    assumption: a feature event arriving after a later-timestamped
    label was already emitted cannot retroactively patch that row.

    State: ``{root}/state`` (user_id, n_views, last_err,
    folded_through) — user-grain, never event history. Training rows:
    ``{root}/training/epoch=N`` — the epoch-keyed directory makes a
    replayed micro-batch overwrite ITS OWN output (idempotent), and
    the folded_through watermark skips the state re-fold, the same
    exactly-once discipline as run_streaming_trending_terms."""
    from datalake_etlscripts_spark.operators.features import pit_feature_rows

    state_path = f"{root}/state"

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        have_state = _fs_path_exists(spark, state_path)
        if have_state:
            state = spark.read.parquet(state_path)
            folded = state.agg(F.max("folded_through").alias("m")).collect()[
                0
            ]["m"]
            if folded is not None and epoch_id <= folded:
                return  # replay: training epoch dir + state already final
        else:
            state = None

        inb = pit_feature_rows(batch_df)
        if state is not None:
            st = state.select(
                F.col("user_id"),
                F.col("n_views").alias("_sn"),
                F.col("last_err").alias("_se"),
            )
            rows = (
                inb.join(st, "user_id", "left")
                .select(
                    "event_id",
                    "user_id",
                    "ts",
                    (
                        F.col("n_views_before")
                        + F.coalesce("_sn", F.lit(0))
                    ).cast("long").alias("n_views_before"),
                    F.greatest("last_err", "_se").alias("last_err"),
                )
            )
        else:
            rows = inb
        training = rows.select(
            "event_id",
            "user_id",
            "n_views_before",
            F.expr("(unix_micros(ts) - unix_micros(last_err)) div 1000000")
            .cast("long")
            .alias("err_age_s"),
        )
        # epoch-keyed overwrite = replay-idempotent append
        training.write.mode("overwrite").parquet(
            f"{root}/training/epoch={epoch_id}"
        )

        binc = batch_df.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("_dv"),
            F.max(
                F.when(F.col("event_type") == "error", F.col("ts"))
            ).alias("_de"),
        )
        if state is not None:
            new_state = (
                state.select("user_id", "n_views", "last_err")
                .join(binc, "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce("n_views", F.lit(0))
                        + F.coalesce("_dv", F.lit(0))
                    ).cast("long").alias("n_views"),
                    F.greatest("last_err", "_de").alias("last_err"),
                )
            )
        else:
            new_state = binc.select(
                "user_id",
                F.col("_dv").cast("long").alias("n_views"),
                F.col("_de").alias("last_err"),
            )
        new_state = new_state.withColumn(
            "folded_through", F.lit(epoch_id).cast("bigint")
        )
        _stage_swap(spark, new_state, state_path, f"epoch{epoch_id}")

    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_scd2(
    spark: SparkSession,
    events_dir: str,
    root: str,
    schema: str = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING",
):
    """Streaming SCD type-2 dimension maintenance: each micro-batch's
    per-user status runs fold into the versioned dimension at
    ``{root}/dim`` — an open (is_current) row EXTENDS when the batch
    continues its status, CLOSES (effective_to = first new run's
    start) when the status changes, and new runs append with version
    numbers continuing the user's history. The fold is the same
    run-collapse as the batch twin (plans/lakeops.scd2_from_events)
    applied to (open row ∪ batch runs) per user, so for TIME-ORDERED
    drops the maintained dimension is row-identical to rebuilding from
    the union of all drops (tested). Ordered ingest is the contract,
    like the CDC mirror's sequence assumption: an event arriving
    behind an already-folded later timestamp cannot retroactively
    split a closed interval.

    Replay-idempotent: every dim row carries ``folded_through``; a
    replayed micro-batch (epoch ≤ folded_through) is skipped, and the
    dim swap is staged — the same exactly-once discipline as
    run_streaming_feature_store."""
    dim_path = f"{root}/dim"

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        dim = None
        if _fs_path_exists(spark, dim_path):
            dim = spark.read.parquet(dim_path)
            folded = dim.agg(F.max("folded_through").alias("m")).collect()[
                0
            ]["m"]
            if folded is not None and epoch_id <= folded:
                return  # replay: dim already reflects this batch
        new_dim = scd2_dim_fold(batch_df, dim).withColumn(
            "folded_through", F.lit(epoch_id).cast("bigint")
        )
        _stage_swap(spark, new_dim, dim_path, f"epoch{epoch_id}")

    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def scd2_dim_fold(batch_df: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """One SCD2 micro-batch fold, shared by run_streaming_scd2's
    foreachBatch callback and the registered batch twin
    (plans/streamtwins.q_scd2_stream_fold): collapse the batch's
    per-user status runs and merge them into the versioned dimension
    ``dim`` (None = first epoch). Open rows extend or close, new runs
    version past the user's closed-row count; rows for untouched users
    carry through. Returns the new dimension WITHOUT the
    ``folded_through`` bookkeeping column — the stream adds it."""
    from pyspark.sql import Window as W

    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    bruns = (
        batch_df.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.when(
                ~F.lag("event_type")
                .over(wseq)
                .eqNullSafe(F.col("event_type")),
                1,
            )
            .otherwise(0)
            .alias("chg"),
        )
        .withColumn("bord", F.sum("chg").over(wseq))
        .groupBy("user_id", "bord")
        .agg(
            F.min("event_type").alias("status"),
            F.min("ts").alias("eff_from"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    busers = bruns.select("user_id").distinct()
    if dim is not None:
        closed = dim.filter(F.col("is_current") == 0).select(
            "user_id",
            "version",
            "status",
            "effective_from",
            "effective_to",
            "n_events",
            "is_current",
        )
        open_all = dim.filter(F.col("is_current") == 1)
        open_batch = open_all.join(busers, "user_id").select(
            "user_id",
            F.lit(0).cast("long").alias("bord"),
            "status",
            F.col("effective_from").alias("eff_from"),
            "n_events",
        )
        open_keep = open_all.join(busers, "user_id", "left_anti").select(
            "user_id",
            "version",
            "status",
            "effective_from",
            "effective_to",
            "n_events",
            "is_current",
        )
        base_ver = (
            closed.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
        )
        combined = open_batch.unionByName(bruns)
    else:
        closed = open_keep = None
        base_ver = None
        combined = bruns

    wc = W.partitionBy("user_id").orderBy("bord")
    groups = (
        combined.withColumn(
            "chg",
            F.when(
                ~F.lag("status").over(wc).eqNullSafe(F.col("status")), 1
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("chg").over(wc))
        .groupBy("user_id", "grp")
        .agg(
            F.min("status").alias("status"),
            F.min("eff_from").alias("effective_from"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )
    if base_ver is not None:
        groups = groups.join(base_ver, "user_id", "left").withColumn(
            "version",
            (F.coalesce("n_closed", F.lit(0)) + F.col("grp")).cast(
                "long"
            ),
        )
    else:
        groups = groups.withColumn("version", F.col("grp").cast("long"))
    wv = W.partitionBy("user_id").orderBy("grp")
    eff_to = F.lead("effective_from").over(wv)
    fresh = groups.select(
        "user_id",
        "version",
        "status",
        "effective_from",
        eff_to.alias("effective_to"),
        "n_events",
        F.when(eff_to.isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_current"),
    )
    new_dim = fresh
    if closed is not None:
        new_dim = closed.unionByName(open_keep).unionByName(fresh)
    return new_dim


def sensor_stats_fold(
    batch_df: DataFrame, state: DataFrame | None = None
) -> DataFrame:
    """One sensor-stats micro-batch fold, shared by
    run_streaming_sensor_alerts's foreachBatch callback and the
    registered batch twin (plans/streamtwins.q_sensor_alerts_fold):
    the batch's per-sensor (count, reading total, alert count ≥ 900)
    increments sum-merge into ``state`` (None = first epoch) via one
    full-outer join on the sensor key — the counts monoid, so any
    epoch split folds to the same table. Returns the new state
    WITHOUT the ``folded_through`` bookkeeping column."""
    binc = batch_df.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("_dn"),
        F.sum("reading").cast("long").alias("_dt"),
        F.sum(F.when(F.col("reading") >= 900, 1).otherwise(0))
        .cast("long")
        .alias("_da"),
    )
    if state is None:
        return binc.select(
            "sensor_id",
            F.col("_dn").alias("n"),
            F.col("_dt").alias("total"),
            F.col("_da").alias("n_alerts"),
        )
    return (
        state.select("sensor_id", "n", "total", "n_alerts")
        .join(binc, "sensor_id", "full_outer")
        .select(
            "sensor_id",
            (
                F.coalesce("n", F.lit(0)) + F.coalesce("_dn", F.lit(0))
            ).cast("long").alias("n"),
            (
                F.coalesce("total", F.lit(0)) + F.coalesce("_dt", F.lit(0))
            ).cast("long").alias("total"),
            (
                F.coalesce("n_alerts", F.lit(0)) + F.coalesce("_da", F.lit(0))
            ).cast("long").alias("n_alerts"),
        )
    )


def run_streaming_sensor_alerts(spark: SparkSession, root: str):
    """End-to-end composition of the Spark-4 Python streaming
    DataSource with a stateful foreachBatch fold: the synthetic
    sensor stream (io/pysource.py) feeds per-sensor running stats at
    ``{root}/state`` (n, total, n_alerts, folded_through) and the
    alert rows (reading ≥ 900) land in epoch-keyed directories under
    ``{root}/alerts`` — replays overwrite their own output and skip
    the state fold, the house exactly-once discipline. Because the
    source is deterministic, the whole pipeline is stream ≡ batch
    verifiable: the maintained state equals a batch aggregate over
    the generated tick range (tested)."""
    from datalake_etlscripts_spark.io import pysource

    pysource.register_stream(spark)
    state_path = f"{root}/state"

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        state = None
        if _fs_path_exists(spark, state_path):
            state = spark.read.parquet(state_path)
            folded = state.agg(F.max("folded_through").alias("m")).collect()[
                0
            ]["m"]
            if folded is not None and epoch_id <= folded:
                return
        alerts = batch_df.filter(F.col("reading") >= 900)
        alerts.write.mode("overwrite").parquet(
            f"{root}/alerts/epoch={epoch_id}"
        )
        new_state = sensor_stats_fold(batch_df, state).withColumn(
            "folded_through", F.lit(epoch_id).cast("bigint")
        )
        _stage_swap(spark, new_state, state_path, f"epoch{epoch_id}")

    stream = spark.readStream.format("synthetic_sensor_stream").load()
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def kmeans_state_centroids(spark: SparkSession, state: DataFrame) -> DataFrame:
    """Integer centroids derived from a mini-batch k-means state table
    (cell, dim, s, n): per-dim quotient s div n (Python floor
    division). Bounded — k·dim rows to the driver, broadcast back."""
    rows = state.collect()
    by_cell: dict[int, dict[int, int]] = {}
    ns: dict[int, int] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], {})[r["dim"]] = r["s"]
        ns[r["cell"]] = r["n"]
    data = []
    for cell, dims in by_cell.items():
        vec = [dims[d] // ns[cell] for d in sorted(dims)]
        data.append((cell, vec))
    return spark.createDataFrame(data, "cell INT, cq ARRAY<BIGINT>")


def minibatch_kmeans_fold_step(
    spark: SparkSession,
    batch_df: DataFrame,
    state: DataFrame | None,
    k: int = 4,
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """ONE mini-batch k-means fold in exact integer arithmetic — the
    shared core of run_streaming_minibatch_kmeans and its registered
    batch twin (plans/streamtwins.minibatch_kmeans_fold), so stream ≡
    batch is an equality of code paths, not a reimplementation.

    Quantize (floor(x·scale + 0.5)), assign to the CURRENT integer
    centroids (exact squared-L2 argmin, ties to the lower cell;
    ``state=None`` seeds from the batch's k lowest ids), and fold
    per-(cell, dim) sums + per-cell counts into the state. Returns
    ``(new_state(cell, dim, s, n), stats(cell, n_assigned, sse))``."""
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
            "long"
        ),
    )
    pts = batch_df.select(F.col("vec_id").alias("pid"), xq.alias("xq"))
    if state is None:
        cents = pts.orderBy("pid").limit(k).select(
            F.col("pid").cast("int").alias("cell"),
            F.col("xq").alias("cq"),
        )
    else:
        cents = kmeans_state_centroids(spark, state)
    d = pts.crossJoin(F.broadcast(cents)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with(
                F.col("xq"), F.col("cq"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    a = (
        d.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("pid").orderBy("dist", "cell")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("pid", "cell", "dist", "xq")
        .localCheckpoint()
    )
    stats = a.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("dist").cast("long").alias("sse"),
    )
    binc = (
        a.select("cell", F.posexplode("xq").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.sum("x").cast("long").alias("ds"))
    )
    bn = a.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("dn"))
    binc = binc.join(bn, "cell")
    if state is not None:
        new_state = (
            state.select("cell", "dim", "s", "n")
            .join(binc, ["cell", "dim"], "full_outer")
            .select(
                "cell",
                "dim",
                (
                    F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))
                ).cast("long").alias("s"),
                (
                    F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))
                ).cast("long").alias("n"),
            )
        )
    else:
        new_state = binc.select(
            F.col("cell").cast("int").alias("cell"),
            F.col("dim").cast("int").alias("dim"),
            F.col("ds").alias("s"),
            F.col("dn").alias("n"),
        )
    return new_state, stats


def run_streaming_minibatch_kmeans(
    spark: SparkSession,
    vec_dir: str,
    root: str,
    k: int = 4,
    scale: int = 1000,
    schema: str = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
):
    """Streaming mini-batch k-means in EXACT integer arithmetic: each
    micro-batch of vectors quantizes (floor(x·scale + 0.5)), assigns
    to the CURRENT integer centroids (exact squared-L2 argmin, ties to
    the lower cell), and folds per-(cell, dim) sums + per-cell counts
    into ``{root}/state`` — centroids are ALWAYS the derived integer
    quotients s div n, so the whole trajectory is replayable
    bit-for-bit by a sequential fold (tested against a pure-Python
    replay). The first batch's k lowest-id vectors seed the centroids,
    exactly like the batch kmeans_round_exact seeding. Per-epoch
    assignment stats land epoch-keyed under ``{root}/assign``;
    replays skip on folded_through with staged state swaps."""
    state_path = f"{root}/state"

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        state = None
        if _fs_path_exists(spark, state_path):
            state = spark.read.parquet(state_path)
            folded = state.agg(F.max("folded_through").alias("m")).collect()[
                0
            ]["m"]
            if folded is not None and epoch_id <= folded:
                return

        new_state, stats = minibatch_kmeans_fold_step(
            spark, batch_df, state, k=k, scale=scale
        )
        stats.write.mode("overwrite").parquet(
            f"{root}/assign/epoch={epoch_id}"
        )
        new_state = new_state.withColumn(
            "folded_through", F.lit(epoch_id).cast("bigint")
        )
        _stage_swap(spark, new_state, state_path, f"epoch{epoch_id}")

    stream = spark.readStream.schema(schema).parquet(vec_dir)
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
