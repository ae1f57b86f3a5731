"""Artifact store: the reference's zip-per-version NAS (K5) as a bucketed
binary-column table, with retention GC (A2) and a deletion log (K4).

The reference stores one zip per package version in 3-char-prefix dirs and
GCs the oldest zips beyond 5 per package, logging deletions to a
``deleted-zips`` db (changes_consumer.py:209-280). File-per-artifact
does not survive 100 TB (small-file death); the Spark-native store is a
parquet table with a ``binary`` content column:

- partitioned by the same prefix bucket -> partition-pruned point lookups;
- content column pruned away for metadata queries: the seq scans behind
  the pipeline's dedup read no blob (tested in
  test_backfill_store.py::test_committed_seqs_scan_prunes_content);
- GC is a declarative top-N-per-group + a compacting rewrite, with the
  evicted rows appended to the deletion log FIRST (log-then-delete, the
  same ordering the reference uses at changes_consumer.py:209-216). The
  log keeps each evicted ``version_seq``, so the store's committed set is
  the kept rows plus the log (:meth:`ArtifactStore.committed_seqs`).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from npm_mirror_spark.operators.aggregates import retention_gc, retention_topn
from npm_mirror_spark.operators.projections import prefix_bucket
from npm_mirror_spark.sinks import path_exists

VERSION_RETENTION_LIMIT = 5  # changes_consumer.py:25


class ArtifactStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.store_path = os.path.join(root, "artifacts")
        self.deletion_log_path = os.path.join(root, "deleted")
        self.old_path = self.store_path + "__old"

    def _recover(self) -> None:
        """Finish a :meth:`gc` swap that crashed between or after its
        renames, before anything reads or writes the store. A store
        renamed aside with nothing in its place IS the store: rename it
        back. An aside copy next to a live store is left over from a
        finished swap: delete it."""
        if not os.path.exists(self.old_path):
            return
        if os.path.exists(self.store_path):
            shutil.rmtree(self.old_path)
        else:
            os.rename(self.old_path, self.store_path)

    def append(self, artifacts: DataFrame) -> None:
        """artifacts: (package, version_seq, save_path, content, created_ts).
        Bucketed by package prefix like the reference's dir scheme."""
        self._recover()
        out = artifacts.withColumn("bucket", prefix_bucket("package"))
        out.write.mode("append").partitionBy("bucket").parquet(self.store_path)

    def committed_seqs(self) -> DataFrame | None:
        """Every version_seq the store ever accepted: the kept rows plus
        the ones GC evicted to the deletion log. An evicted seq stays
        committed, so a redelivery of its change is not stored (and
        evicted and logged) a second time. None before the first append.
        Bound it with ``sinks.drop_committed``: the seq filter pushes
        through the union into both scans."""
        self._recover()
        if not path_exists(self.spark, self.store_path):
            return None
        seqs = self.read().select("version_seq")
        if path_exists(self.spark, self.deletion_log_path):
            seqs = seqs.unionByName(self.deletion_log().select("version_seq"))
        return seqs

    def read(self) -> DataFrame:
        self._recover()
        return self.spark.read.parquet(self.store_path)

    def deletion_log(self) -> DataFrame:
        return self.spark.read.parquet(self.deletion_log_path)

    def gc(self, limit: int = VERSION_RETENTION_LIMIT) -> tuple[int, int]:
        """Retention pass: keep the newest ``limit`` versions per package,
        append evicted save_paths to the deletion log, rewrite the store
        compacted. Returns (kept, evicted) counts.

        Crash-safe swap: the rewrite lands in a temp dir, the live store is
        renamed ASIDE (never deleted first), the temp renamed into place,
        and only then is the old copy dropped — every crash point leaves a
        full recoverable copy on disk, which :meth:`_recover` puts back in
        place before the store's next use. A real deployment swaps this for
        a table format's atomic commit. No-op on an absent store.
        """
        self._recover()
        if not os.path.exists(self.store_path):
            return 0, 0  # nothing stored yet
        current = self.read().cache()
        try:
            order = [F.desc("created_ts"), F.desc("version_seq")]
            kept = retention_topn(current, ["package"], order, n=limit)
            evicted = retention_gc(current, ["package"], order, n=limit)

            n_evicted = evicted.count()
            if n_evicted:
                (
                    evicted.select(
                        "version_seq",
                        F.col("save_path").alias("deleted_zip_path"),
                        F.current_timestamp().alias("deleted_at"),
                    )
                    .write.mode("append")
                    .parquet(self.deletion_log_path)
                )
            tmp = self.store_path + "__compact"
            kept.drop("bucket").withColumn(
                "bucket", prefix_bucket("package")
            ).write.mode("overwrite").partitionBy("bucket").parquet(tmp)
            n_kept = kept.count()
        finally:
            current.unpersist()

        os.rename(self.store_path, self.old_path)
        os.rename(tmp, self.store_path)
        shutil.rmtree(self.old_path)
        return n_kept, n_evicted
