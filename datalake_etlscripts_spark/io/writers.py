"""Sinks (SURVEY.md §2.1 K1–K7), lake-native.

The reference's sinks are MongoDB upserts (single + bulk-buffered),
targeted field updates, and collection drops. On a data lake these
become set-oriented writes:

  K1/K2  versioned upsert       → versioning.merge_batch + write_store
                                  (one MERGE on Delta; write-and-swap
                                  on plain parquet)
  K5     field update           → full-column rewrite (normalize.
                                  rename_fields / normalize_to_list)
  K6     array-append           → array_union inside the merge
  K7     drop/truncate          → overwrite-mode write

Partitioning policy for the 100 TB store: ``group`` (contracts/minors
— the reference's id-prefix split, ntp_constants.py:23-27) × year of
first update. Both are low-cardinality, stable, and line up with the
dominant predicates (group filters, date ranges), so partition pruning
does the reference's `$regex`-prefix and range scans for free.
Bucketing by natural key co-locates the merge join without a shuffle
when the store is re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_etlscripts_spark.functions.scalar import ntp_group


def with_partition_cols(state: DataFrame) -> DataFrame:
    """Derive the physical partition columns (group, first-update year)."""
    return state.withColumn("group", ntp_group(F.col("_id"))).withColumn(
        "upd_year",
        F.coalesce(F.substring(F.element_at("updated", 1), 1, 4), F.lit("unknown")),
    )


def write_store(state: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the versioned store partitioned by (group, upd_year).
    Readers filtering either column get partition pruning."""
    with_partition_cols(state).write.mode(mode).partitionBy(
        "group", "upd_year"
    ).parquet(path)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed_store(
    state: DataFrame, table: str, buckets: int = 64, mode: str = "overwrite"
) -> None:
    """Bucketed variant (saveAsTable): co-locates future merge joins on
    the natural key — the store side of the ingest join then needs no
    shuffle. Requires a metastore-backed table (works in local warehouse
    too)."""
    state.write.mode(mode).bucketBy(buckets, "id").sortBy("id").saveAsTable(table)


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_cols: tuple[str, ...] = (),
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files (optionally range-ordered for
    data-skipping locality). THE recurring data-lake ops problem:
    every incremental merge/stream epoch leaves per-task files, and a
    100 TB table read through 10⁶ tiny files is footer-bound, not
    data-bound. Returns the new file count.

    repartitionByRange (when order_cols given) gives min/max-tight
    files — the parquet row-group stats then prune range predicates;
    plain repartition otherwise. Write-new-then-swap like the store
    writers (Delta replaces this with OPTIMIZE)."""
    import math
    import shutil

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    total = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    out = (
        df.repartitionByRange(n_files, *[F.col(c) for c in order_cols])
        if order_cols
        else df.repartition(n_files)
    )
    tmp = path.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    shutil.rmtree(tmp, ignore_errors=True)
    written = spark.read.parquet(path)
    return written.rdd.getNumPartitions()


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    rows_per_shard: int = 100_000,
    shard_key: str | None = None,
    fmt: str = "json",
) -> int:
    """Terminal training-pipeline sink: write the corpus as
    deterministic shards (shard=N/ dirs of JSONL or parquet).

    Shard membership is md5-hash-assigned from ``shard_key`` (default:
    first column), NOT round-robin — the same corpus yields the same
    shard contents regardless of input partitioning or cluster size,
    so reruns/backfills are reproducible and any shard can be re-built
    alone. Shard count = ceil(rows / rows_per_shard); per-shard counts
    vary ~Poisson around the target (the standard trade for
    deterministic membership). One shuffle on the shard id; one file
    per shard. Returns the shard count."""
    import math

    from datalake_etlscripts_spark.functions.scalar import md5_hash32

    key = shard_key or df.columns[0]
    n = df.count()
    n_shards = max(1, math.ceil(n / rows_per_shard))
    # NULL keys hash a sentinel, NOT NULL — md5(NULL) would route rows
    # to shard=__HIVE_DEFAULT_PARTITION__, invisible to any loader
    # iterating the declared shard=0..N-1 layout (silent data loss)
    keyed = df.withColumn(
        "shard",
        (
            md5_hash32(F.coalesce(F.col(key).cast("string"), F.lit("\x00NULL")))
            % n_shards
        ).cast("int"),
    )
    out = keyed.repartition(n_shards, "shard")
    writer = out.write.partitionBy("shard").mode("overwrite")
    if fmt == "json":
        writer.json(out_dir)
    elif fmt == "parquet":
        writer.parquet(out_dir)
    else:
        raise ValueError(f"unknown shard format {fmt!r}")
    return n_shards
