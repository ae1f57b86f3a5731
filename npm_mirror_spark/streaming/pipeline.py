"""The mirror pipeline: parse -> route -> project -> multi-sink fan-out.

Re-expresses the reference consumer's per-message imperative loop
(changes_consumer.py:332-408) as ONE declarative plan applied per
micro-batch:

  reference                              here
  ---------                              ----
  poll + json.loads (L376,391)           file/Kafka source + from_json
                                         (only the fields read below)
  catch-all -> skipped_changes (L393)    PERMISSIVE corrupt routing (stage col)
  doc-missing / size / status filters    route_changes() predicates (F1,F2,F5)
  13-field projection + db.save (L283)   mirror_record() -> parquet append
  5 log topics (L53-59,332-370)          per-stage dirs under out_dir/stages/
  commit after process (L408)            checkpointLocation (at-least-once)
  duplicate rows on redelivery (L325)    in-batch dropDuplicates + per-sink
                                         sinks.drop_committed (upgrade)
  zip store in prefix dirs (L95-125)     ArtifactStore.append (with_artifacts)
  keep 5 versions, GC (L209-280, L25)    ArtifactStore.gc after the drain
  deleted-zips db (L209-216)             deletion log, keyed by version_seq
  Prometheus counters (L38-42)           df.observe() + StreamingQueryListener

Delivery semantics: the file/parquet sinks below are exactly-once per
Spark's checkpoint contract; the explicit in-batch + cross-batch dedup on
``seq`` upgrades the reference's at-least-once duplicate-happy CouchDB sink
(SURVEY.md §2.7). A sink's committed set is every seq it ever accepted:
the mirror's rows, and the artifact store's kept rows plus its deletion
log, so a change redelivered after GC evicted its artifact is not stored
again. At scale the same code runs against Kafka in/out — the seams are
the source reader and foreachBatch writer only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.operators.projections import mirror_record
from npm_mirror_spark.schema import MIRROR_SCHEMA, PIPELINE_CHANGE_SCHEMA
from npm_mirror_spark.sinks import drop_committed, path_exists
from npm_mirror_spark.sources.changes import (
    MAX_SIZE,
    read_changes_batch,
    read_changes_stream,
)

STAGES = (
    "downloaded_in_local",
    "moved_to_remote",
    "added_to_db",
    "skipped_changes",
    "run_logs",
)


def route_changes(parsed: DataFrame, max_size: int = MAX_SIZE) -> DataFrame:
    """Tag each change with its terminal stage (K2 fan-out).

    skip reasons mirror the reference: malformed JSON (F9), missing doc
    (F1), failed fetch (F5: any ``fetch_status`` but an integer 200,
    including a missing or non-integer one, which parses to NULL),
    oversize artifact (F2/F4 — doc+tarball drop as one row). Everything
    else lands in the mirror table (added_to_db).
    """
    return parsed.withColumn(
        "skip_reason",
        F.when(F.col("seq").isNull(), F.lit("malformed"))
        .when(F.col("doc").isNull(), F.lit("missing_doc"))
        .when(~F.col("fetch_status").eqNullSafe(200), F.lit("fetch_failed"))
        .when(F.col("artifact_size") > max_size, F.lit("oversize"))
        .otherwise(F.lit(None)),
    ).withColumn(
        "stage",
        F.when(F.col("skip_reason").isNotNull(), F.lit("skipped_changes")).otherwise(
            F.lit("added_to_db")
        ),
    )


class MirrorPipeline:
    """Streaming shell with injectable output root, drivable by tests via
    availableNow and by production via continuous triggers."""

    def __init__(self, spark: SparkSession, out_dir: str, with_artifacts: bool = False):
        self.spark = spark
        self.out_dir = out_dir
        self.mirror_path = os.path.join(out_dir, "mirror")
        self.stages_path = os.path.join(out_dir, "stages")
        self.checkpoint = os.path.join(out_dir, "_checkpoint")
        self.artifact_store = None
        if with_artifacts:
            from npm_mirror_spark.artifact_store import ArtifactStore

            self.artifact_store = ArtifactStore(spark, os.path.join(out_dir, "store"))

    # -- batch-visible state --------------------------------------------

    def mirror_table(self) -> DataFrame:
        # the declared schema is what mirror_record writes, so the read
        # needs no footer job to infer it
        return self.spark.read.schema(MIRROR_SCHEMA).parquet(self.mirror_path)

    def stage_log(self, stage: str) -> DataFrame:
        # partition-pruned read of one stage "topic"
        return (
            self.spark.read.parquet(self.stages_path)
            .filter(F.col("stage") == stage)
            .drop("stage")
        )

    # -- the foreachBatch writer -----------------------------------------

    def _write_batch(self, routed: DataFrame, batch_id: int) -> None:
        """One micro-batch: dedup + fan-out. Runs as ordinary batch code —
        every operator above is stream/batch pure, so this is the ONLY
        stream-specific code in the pipeline."""
        # what the sinks read, projected before the cache: the stage-log
        # columns and the 13-field mirror record (K3) of every row, not
        # the parsed doc. Persisted so every action below reads the batch
        # once: the stream's observe("mirror_metrics") then counts each
        # row once.
        batch = mirror_record(
            routed, keep=("seq", "id", "skip_reason", "stage")
        ).persist()
        cached = None
        try:
            # a sink's committed set, probed before any write: None for a
            # sink not written yet, which needs no cross-batch dedup
            store = self.artifact_store
            mirror_seqs = (
                self.mirror_table()
                if path_exists(self.spark, self.mirror_path)
                else None
            )
            store_seqs = store.committed_seqs() if store is not None else None

            # stage logs (the 5 Kafka topics, K2): ONE partitioned write —
            # each stage becomes a partition dir, no per-stage job, no
            # driver-side stage enumeration (was: collect + N filtered
            # writes = N extra passes over the batch). When a committed
            # set exists, the same pass observes the batch's min mirror
            # seq, the lower bound of sinks.drop_committed, so the bound
            # costs no job of its own.
            logged = batch
            min_obs = None
            if mirror_seqs is not None or store_seqs is not None:
                min_obs = Observation("batch_min_seq")
                logged = batch.observe(
                    min_obs,
                    F.min(
                        F.when(F.col("stage") == "added_to_db", F.col("seq"))
                    ).alias("min_seq"),
                )
            (
                logged.select(
                    "seq", "id", "skip_reason", F.lit(batch_id).alias("batch_id"), "stage"
                )
                .write.mode("append")
                .partitionBy("stage")
                .parquet(self.stages_path)
            )
            min_seq = min_obs.get["min_seq"] if min_obs is not None else None

            # effectively-once rows: in-batch dedup on seq (redelivery
            # inside a batch), then each sink drops the seqs it already
            # committed (redelivery across restarts; sinks.drop_committed,
            # bounded below by the batch's min seq). Both sinks derive from
            # the same in-batch-deduped ``fresh`` rows, NOT the artifacts
            # from the mirror-anti-joined ones: a crash after the mirror
            # write but before the artifact append leaves the rows
            # committed to the mirror, so the retried batch would anti-join
            # them away and their artifacts would never be written.
            fresh = (
                batch.filter(F.col("stage") == "added_to_db")
                .select(*MIRROR_SCHEMA.fieldNames())
                .dropDuplicates(["change_seq_id"])
            )
            if store is not None:
                # the artifact projection reads ``fresh`` a second time;
                # with the mirror as its only reader it stays uncached, so
                # AQE can coalesce the dedup shuffle into the mirror write
                fresh = cached = fresh.persist()
            records = drop_committed(fresh, mirror_seqs, "change_seq_id", min_seq)
            records.write.mode("append").parquet(self.mirror_path)

            # K5: artifact rows ride into the bucketed store (content here
            # is the change's own digest surrogate — the enrichment seam
            # supplies real bytes in production).
            if store is not None:
                artifacts = fresh.select(
                    F.col("package_name").alias("package"),
                    F.col("change_seq_id").alias("version_seq"),
                    F.col("change_save_path").alias("save_path"),
                    F.sha2(F.col("change_save_path"), 256).cast("binary").alias("content"),
                    F.coalesce(
                        F.col("package_latest_change_time"), F.current_timestamp()
                    ).alias("created_ts"),
                )
                store.append(drop_committed(artifacts, store_seqs, "version_seq", min_seq))
        finally:
            if cached is not None:
                cached.unpersist()
            batch.unpersist()

    # -- drive ------------------------------------------------------------

    def run_available_now(self, source_path: str) -> None:
        """Drain-and-stop (the reference stream is unbounded; availableNow
        is the test/backfill trigger, SURVEY.md §2.7)."""
        parsed = read_changes_stream(
            self.spark, source_path, schema=PIPELINE_CHANGE_SCHEMA
        )
        routed = route_changes(parsed)
        observed = routed.observe(
            "mirror_metrics",
            F.count(F.lit(1)).alias("n_changes"),  # npmUpdateCounter analog
            F.max("seq").alias("max_seq"),  # lastSeq gauge analog
            F.sum(
                F.when(F.col("stage") == "skipped_changes", 1).otherwise(0)
            ).alias("n_skipped"),
        )
        q = (
            observed.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # retention maintenance after the drain (the reference GCs inline
        # per change; batched GC after the micro-batch run is the
        # amortized equivalent — same invariant, one compaction)
        if self.artifact_store is not None:
            self.artifact_store.gc()

    def run_batch(self, source_path: str) -> None:
        """The same plan under spark.read — stream/batch parity by
        construction (one codebase, two triggers; SURVEY.md §3.3)."""
        parsed = read_changes_batch(
            self.spark, source_path, schema=PIPELINE_CHANGE_SCHEMA
        )
        self._write_batch(route_changes(parsed), batch_id=-1)


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    key_col: str = "seq",
):
    """K1 parity: keyed, compressed Kafka producer
    (producer.ts:172-199 — key=seq, gzip). Not exercisable in this
    container — no broker listens, and the spark-sql-kafka connector jar
    is not in pyspark's jars/ (re-checked r5), so even a fake broker
    could not load the sink. The serialization plan is the production
    path; the key/value projection it wraps is exercised by the file
    sinks. Returns the started StreamingQuery."""
    out = df.selectExpr(
        f"CAST({key_col} AS STRING) AS key", "to_json(struct(*)) AS value"
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("kafka.compression.type", "gzip")
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


class MetricsListener:
    """StreamingQueryListener surfacing the reference's four Prometheus
    metrics (changes_consumer.py:38-42, producer.ts:111-115): processed
    counter, skipped counter, last seq, plus the batch count and summed
    batch duration (a summary's two series, so no per-batch state) — the
    monitoring-is-the-test-suite stance of the reference (SURVEY.md §5),
    exportable to any metrics backend from the driver."""

    def __init__(self) -> None:
        self.n_changes = 0
        self.n_skipped = 0
        self.last_seq: int | None = None
        self.n_batches = 0
        self.batch_ms_sum = 0

    def attach(self, spark: SparkSession) -> "MetricsListener":
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                row = (p.observedMetrics or {}).get("mirror_metrics")
                if row is not None:
                    outer.n_changes += row["n_changes"] or 0
                    outer.n_skipped += row["n_skipped"] or 0
                    if row["max_seq"] is not None:
                        outer.last_seq = max(outer.last_seq or 0, row["max_seq"])
                if p.durationMs and "triggerExecution" in p.durationMs:
                    outer.n_batches += 1
                    outer.batch_ms_sum += p.durationMs["triggerExecution"]

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)

    def lag(self, newest_seq: int) -> int | None:
        """producer.ts:206-243 lag rule: newest remote seq - last seen."""
        return None if self.last_seq is None else newest_seq - self.last_seq
