"""Incremental corpus ingestion with near-dup rejection: a document
stream probed against a persistent MinHash/LSH band index that GROWS with
every accepted document.

This is the streaming face of the batch dedup stack (operators/dedup.py):
the reference ingests mirror changes with only a per-row existence probe
(mirror.ts:114-126); a training-corpus ingest needs the fuzzy version —
"have we already accepted something near-identical?" — without rescanning
the corpus per batch.

100 TB design:
- The corpus never re-participates: only its (band, band_hash) index does,
  and the probe is an equi join on the band key — at scale the index lives
  bucketed by (band, band_hash) so the probe co-locates, and the batch
  side is micro-batch-sized. The index rows are 3 longs per (doc, band):
  ~32 bytes x bands per document, independent of document size.
- Batch-internal dups are resolved FIRST (candidate pairs within the
  micro-batch, keep lowest id), then survivors probe the index; both
  stages reuse the batch's one band computation.
- Appends (accepted docs + their index rows) happen inside foreachBatch;
  Spark's checkpoint makes the whole batch replay-idempotent ONLY if
  downstream tolerates re-appends — so accepted ids also anti-join the
  accepted table (same bounded pattern as pipeline.py's seq dedup).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.operators.dedup import minhash_bands
from npm_mirror_spark.sinks import path_exists


class IncrementalDeduper:
    """foreachBatch driver for LSH-indexed incremental dedup.

    Paths: ``accepted`` (parquet, the growing clean corpus) and ``index``
    (parquet, its (doc_id, band, band_hash) LSH index).
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
    ) -> None:
        self.spark = spark
        self.accepted_path = os.path.join(out_dir, "accepted")
        self.index_path = os.path.join(out_dir, "index")
        self.checkpoint = os.path.join(out_dir, "_checkpoint")
        self.text_col = text_col
        self.id_col = id_col
        self.lsh_args = dict(
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        )

    def accepted(self) -> DataFrame:
        return self.spark.read.parquet(self.accepted_path)

    def index(self) -> DataFrame:
        return self.spark.read.parquet(self.index_path)

    def bootstrap(self, corpus: DataFrame) -> None:
        """Seed the accepted store + LSH index from an EXISTING corpus in
        one batch pass (the migration path: bulk-index history once, then
        stream increments against it). Overwrites any prior state."""
        corpus.write.mode("overwrite").parquet(self.accepted_path)
        (
            minhash_bands(corpus, self.text_col, self.id_col, **self.lsh_args)
            .write.mode("overwrite")
            .parquet(self.index_path)
        )

    # -- one micro-batch --------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        id_col, text_col = self.id_col, self.text_col
        bands = minhash_bands(batch, text_col, id_col, **self.lsh_args).persist()
        try:
            # 1. batch-internal near-dups: colliding pairs, keep lowest id
            a = bands.select(
                F.col(id_col).alias("__ida"), "band", "band_hash"
            )
            b = bands.select(
                F.col(id_col).alias("__idb"), "band", "band_hash"
            )
            intra_losers = (
                a.join(b, ["band", "band_hash"])
                .where(F.col("__ida") < F.col("__idb"))
                .select(F.col("__idb").alias(id_col))
                .distinct()
            )
            survivors = batch.join(intra_losers, id_col, "left_anti")

            # 2. probe the persistent index (stream-static equi join on the
            #    band key); any collision = near-dup of an accepted doc
            if path_exists(self.spark, self.index_path):
                idx = self.index().select("band", "band_hash").distinct()
                cross_losers = (
                    bands.join(idx, ["band", "band_hash"])
                    .select(id_col)
                    .distinct()
                )
                survivors = survivors.join(cross_losers, id_col, "left_anti")

            # 3. replay guard: a checkpoint-recovered batch must not
            #    re-append docs already accepted (bounded: ids only)
            if path_exists(self.spark, self.accepted_path):
                survivors = survivors.join(
                    self.accepted().select(id_col), id_col, "left_anti"
                )

            # TRUNCATE LINEAGE before writing: the survivor plan reads the
            # accepted table it is about to append to — a lazy re-eval
            # during the index write would see the batch's own appends and
            # anti-join the survivors away. (persist() is not enough: a
            # cache miss silently recomputes through the stale-read plan.)
            survivors = survivors.localCheckpoint(eager=True)
            survivors.write.mode("append").parquet(self.accepted_path)

            # Index append is INDEPENDENTLY idempotent: index whatever is
            # accepted-but-not-yet-indexed among this batch's ids, not just
            # this run's survivors. A crash between the two appends leaves
            # accepted docs invisible to future probes forever if the retry
            # derives from survivors (the replay guard above empties them);
            # deriving from the accepted/index difference self-heals that
            # gap on replay. Bounded: the diff is batch-id-sized.
            # The diff key is (doc_id, band), NOT doc_id alone: a parquet
            # append has no job-level rollback, so a crashed append can
            # commit SOME of a doc's band rows — an id-only diff would see
            # the survivor row and skip the doc forever, leaving it
            # partially probe-visible. Per-band the heal is exact (each
            # (doc_id, band) is one row, re-derived deterministically).
            batch_ids = bands.select(id_col).distinct()
            accepted_bands = bands.join(
                self.accepted().join(batch_ids, id_col, "left_semi").select(id_col),
                id_col,
                "left_semi",
            )
            to_index = accepted_bands
            if path_exists(self.spark, self.index_path):
                to_index = to_index.join(
                    self.index().select(id_col, "band").distinct(),
                    [id_col, "band"],
                    "left_anti",
                )
            index_rows = to_index.localCheckpoint(eager=True)
            index_rows.write.mode("append").parquet(self.index_path)
        finally:
            bands.unpersist()

    def start(self, stream: DataFrame, availableNow: bool = True):
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint)
        )
        trigger = {"availableNow": True} if availableNow else {"processingTime": "10 seconds"}
        return writer.trigger(**trigger).start()
