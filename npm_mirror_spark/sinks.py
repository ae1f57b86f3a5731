"""Batch sinks: the reference's artifact-store layout as table layout.

The reference buckets artifacts into 3-char-prefix directories "for quicker
access from the file system" (changes_consumer.py:95-125, README.md:27).
The Spark-native equivalent is ``partitionBy(bucket)`` on write: the same
prefix scheme becomes parquet partition directories, and every read that
filters on the bucket gets partition-pruned by Catalyst — the 100 TB
version of 'quicker access'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from npm_mirror_spark.operators.projections import prefix_bucket


def write_bucketed_by_prefix(
    df: DataFrame,
    path: str,
    name_col: str,
    width: int = 3,
    mode: str = "overwrite",
) -> None:
    """Write with the prefix-hash directory layout (P7/P11/K5).

    Scale notes: partition count is bounded by the prefix alphabet
    (36^width); each partition dir holds many row groups, so this layout
    never fragments into small-file hell the way per-package dirs would.
    """
    out = df.withColumn("bucket", prefix_bucket(name_col, width))
    out.write.partitionBy("bucket").mode(mode).parquet(path)


def path_exists(spark, path: str) -> bool:
    """Existence probe for a sink's first-batch case. Only genuine absence
    returns False; a present-but-unreadable table is left for the read to
    fail on, so a transient error fails the batch (Spark retries it from
    the checkpoint) instead of silently disabling dedup."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def upsert_latest(
    spark,
    batch: DataFrame,
    path: str,
    key: str,
    order_cols: list[str],
    bucket_source_col: str | None = None,
    width: int = 3,
) -> None:
    """CouchDB-style upsert: the latest row per key WINS, replacing any
    previously-stored row (the reference's ``db.save`` overwrites by
    ``_id``, changes_consumer.py:325 — this is the true K3 semantics,
    where ``drop_committed`` is the append-log upgrade).

    100 TB shape: rewriting the whole table per batch is a non-starter, so
    rows live under the prefix-bucket partition layout and the merge uses
    DYNAMIC partition overwrite — only the buckets the batch touches are
    read (partition-pruned via an IN filter on the bucket values), merged
    (argmax per key over ``order_cols``), and atomically replaced. Cost
    per batch is O(touched buckets), not O(table).
    """
    from pyspark.sql import Window

    src = bucket_source_col or key
    b = batch.withColumn("bucket", prefix_bucket(src, width))
    touched = [r["bucket"] for r in b.select("bucket").distinct().collect()]
    merged = b
    if path_exists(spark, path):
        existing = spark.read.parquet(path).filter(F.col("bucket").isin(touched))
        merged = b.unionByName(existing)
    order = [F.desc(c) for c in order_cols]
    w = Window.partitionBy(key).orderBy(*order)
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    (
        latest.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def drop_committed(
    rows: DataFrame, committed: DataFrame | None, key: str, min_key
) -> DataFrame:
    """The rows whose ``key`` a sink has not yet committed: the
    effectively-once half of the K3 upgrade over the reference's
    duplicate-happy db.save (changes_consumer.py:325). ``rows`` are
    already deduplicated within the batch; ``committed`` holds every key
    the sink ever accepted, or is None for a sink not written yet.

    ``min_key`` is the batch's smallest key. A redelivered row keeps its
    original key, so committed keys below it can never match, and the
    bound is exact. It pushes into the committed-keys scan, so the
    anti-join input tracks the redelivery window, not the sink's whole
    history. No broadcast hint: AQE broadcasts small committed sets
    itself, and a large one must be allowed to shuffle instead of
    exhausting the driver."""
    if committed is None or min_key is None:
        return rows
    bounded = committed.select(key).filter(F.col(key) >= F.lit(min_key))
    return rows.join(bounded, key, "left_anti")


def write_bucketed_table(
    spark,
    df: DataFrame,
    name: str,
    path: str,
    key: str,
    n_buckets: int = 32,
    sorted_by_key: bool = True,
) -> DataFrame:
    """Persistent HASH bucketing (``bucketBy`` + ``saveAsTable``): the
    co-located-join layout for 100 TB fact tables.

    ``partitionBy`` (above) prunes directories by VALUE; ``bucketBy``
    pre-shuffles rows into a fixed number of hash buckets ON WRITE and
    records that layout in the catalog, so every later join or aggregate
    keyed on ``key`` between tables bucketed the same way runs with ZERO
    exchanges — the shuffle is paid once at ingest instead of per query
    (pinned by tests/test_bucketing.py). ``sortBy`` additionally lets
    sort-merge joins skip their per-task sort.

    Registered as an EXTERNAL table at ``path`` (data outlives the
    catalog entry); returns the catalog-backed DataFrame, which carries
    the bucket spec — reading the bare path does not.
    """
    writer = df.write.mode("overwrite").format("parquet")
    writer = writer.bucketBy(n_buckets, key)
    if sorted_by_key:
        writer = writer.sortBy(key)
    writer.option("path", path).saveAsTable(name)
    return spark.table(name)


def compact_partitions(spark, path: str, partition_col: str) -> None:
    """Small-file compaction for an append-heavy partitioned store: every
    micro-batch append leaves another file per partition dir, and a
    year of 1-minute batches is half a million tiny files — scan-planning
    death at 100 TB. This rewrites each partition's files into one
    (`repartition(partition_col)` co-locates every partition value in a
    single task, so each dir is written by exactly one writer) using
    DYNAMIC partition overwrite: only partitions present in the data are
    replaced, each swap is atomic per partition, and values are untouched
    (tests/test_compaction.py asserts file count collapses while the
    rowset is identical).

    At cluster scale you'd run this per cold partition on a schedule;
    hot partitions keep appending meanwhile — dynamic overwrite means
    compacting old partitions never races the writer appending new ones.
    """
    (
        spark.read.parquet(path)
        .repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
