"""Probes of the layers the two workloads do not reach, run in a traced run
after the workload's own measurement: ``faces`` in ``mirror_drains``'s,
``artifact_retention`` in ``mirror_backfill``'s (one traced run holding
both took ~155 s of the 180 s a run may take). The metrics of the probe a
run does not make read 0.

- ``artifact_retention``: a fixed sequence of small ``run_available_now``
  drains with ``with_artifacts=True``, each appending to the
  prefix-bucketed ``ArtifactStore`` and followed by its retention GC. The
  feed is 50 changes replicated with seq offsets, four copies per drain,
  so packages pass the 5-version limit in the second drain and GC evicts
  rows from then on.
  ``ArtifactStore.append`` and ``gc`` are timed by wrapping them on the
  pipeline's store instance.
- ``faces``: analytics faces from ``queries.QUERIES`` over a star schema
  generated from the run's seed (``perfbench/stardata.py``). Each face is
  first collected and compared with its DuckDB oracle by the repository's
  own comparison (``tests/oracle_harness.py``), or, without an oracle,
  checked for row count and column types; that pass is also its warm-up.
  Then it runs once more, timed, forced with the ``noop`` sink so every
  output column is computed, under its own job group; cached data is
  released between faces.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import stardata
from perfbench.feed import chunked, replicate
from perfbench.workloads import REDELIVERY, _fresh, base_changes, routed_ok

ART_PACKAGES = 50  # base changes the artifact feed replicates
ART_COPIES = 12
ART_DRAIN = 200  # new changes per artifact drain: 3 drains

STAR_SCALE = 1
SCAN_FACES = (
    "q_mirror_record",
    "q_json_decode",
    "q_gopher_rules",
    "q_redact_pii",
    "q_retention_topn",
    "q_dedup_exact",
    "q_minhash_pairs",
)
ITERATIVE_FACES = (
    "q_triangle_est",
    "q_dedup_keepset",
    "q_quality_classifier",
    "q_kmeans",
    "q_kcore",
    "q_pagerank",
)
# faces without an oracle: their rows must equal this table's rows
ROWS_ONLY = {"q_quality_classifier": "documents"}
FACE_FIELDS = ("wall_s", "jobs", "driver_only_s", "executor_cpu_s", "shuffle_write_mb", "cached_rdds_after")
FACE_UNITS = dict(zip(FACE_FIELDS, ("s", "count", "s", "s", "MB", "count")))


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(partition dirs, parquet files, parquet bytes) under a store path."""
    dirs = files = size = 0
    for dirpath, _, filenames in os.walk(path):
        if os.path.basename(dirpath).startswith("bucket="):
            dirs += 1
        for name in filenames:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return dirs, files, size


def _timed(calls: list, fn):
    """``fn`` wrapped to append (wall seconds, return value) to ``calls``."""

    def wrapper(*args, **kwargs):
        t = time.time()
        out = fn(*args, **kwargs)
        calls.append((time.time() - t, out))
        return out

    return wrapper


def artifact_retention(spark, work: str, seed: int, spans) -> tuple[dict, list]:
    """Per-layer metrics of the artifact store, and its invariant checks."""
    from pyspark.sql import functions as F

    from npm_mirror_spark.sources.changes import MAX_SIZE
    from npm_mirror_spark.streaming.pipeline import MirrorPipeline

    base = base_changes(seed + 3)[:ART_PACKAGES]
    changes, lines = replicate(base, ART_COPIES)
    feed = chunked(changes, ART_DRAIN, REDELIVERY, seed, lines)
    root = _fresh(os.path.join(work, "artifacts"))
    src = _fresh(os.path.join(root, "src"))
    pipe = MirrorPipeline(spark, os.path.join(root, "out"), with_artifacts=True)
    store = pipe.artifact_store
    appends: list = []
    gcs: list = []
    store.append = _timed(appends, store.append)
    store.gc = _timed(gcs, store.gc)

    append_s, drain_s, rewritten = [], [], 0
    for i, chunk in enumerate(feed.chunks):
        tmp = os.path.join(root, f"a{i:03d}.tmp")
        with open(tmp, "wb") as f:
            f.write(chunk.data)
        os.rename(tmp, os.path.join(src, f"a{i:03d}.jsonl"))
        n_appends = len(appends)
        t0 = time.time()
        pipe.run_available_now(src)
        t1 = time.time()
        drain_s.append(t1 - t0)
        spans.add("artifact_retention.drain", t0, t1, "artifact_retention")
        append_s.append(sum(w for w, _ in appends[n_appends:]))
        rewritten += _dir_stats(store.store_path)[2]
    dirs, files, _ = _dir_stats(store.store_path)
    gc_s = [w for w, _ in gcs]
    kept = sum(out[0] for _, out in gcs)
    evicted = sum(out[1] for _, out in gcs)
    metrics = {
        "artifact_store.drains": len(drain_s),
        "artifact_store.changes_per_s": feed.n_lines / sum(drain_s),
        "artifact_store.append_s": statistics.median(append_s),
        "artifact_store.gc_s": statistics.median(gc_s),
        "artifact_store.gc_growth": gc_s[-1] / gc_s[0],
        "artifact_store.partition_dirs": dirs,
        "artifact_store.files": files,
        "artifact_store.bytes_rewritten": rewritten,
        "artifact_store.evicted_per_rewritten": evicted / kept if kept else 0.0,
    }

    expected = {c["seq"] for c in feed.delivered() if routed_ok(c, MAX_SIZE)}
    stored = store.read()
    n_stored = stored.count()
    n_distinct = stored.select("version_seq").distinct().count()
    deleted = store.deletion_log() if evicted else None
    n_deleted = deleted.count() if evicted else 0
    n_deleted_paths = deleted.select("deleted_zip_path").distinct().count() if evicted else 0
    most = stored.groupBy("package").count().agg(F.max("count")).first()[0]
    checks = [
        (
            "artifact_versions_per_package",
            most is not None and most <= 5,
            f"at most {most} versions of one package kept",
        ),
        (
            "artifact_kept_plus_evicted",
            n_stored == n_distinct and n_stored + n_deleted == len(expected),
            f"kept={n_stored} (distinct {n_distinct}) evicted={n_deleted} "
            f"({n_deleted_paths} distinct paths) distinct artifact seqs={len(expected)}",
        ),
    ]
    return metrics, checks


def rows_only_problem(df, expected_rows: int) -> str:
    from pyspark.sql.types import ArrayType, DecimalType, MapType

    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, (ArrayType, MapType, DecimalType))]
    if bad:
        return f"array/map/decimal output columns {bad}"
    n = len(df.collect())
    return "" if n == expected_rows else f"{n} rows != {expected_rows}"


def faces(spark, work: str, seed: int, spans) -> tuple[dict, list, list]:
    """Per-face metrics, checks, and each face's (job group, job ids, wall
    window) for ``face_accounting`` once the event log is complete."""
    import duckdb

    from npm_mirror_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare

    data = os.path.join(work, "star")
    stardata.write(data, seed, STAR_SCALE)
    con = duckdb.connect()
    for t in stardata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    sc = spark.sparkContext
    metrics: dict[str, float] = {}
    checks: list = []
    windows: list = []
    for name in SCAN_FACES + ITERATIVE_FACES:
        if name in ORACLES:
            problem = "; ".join(compare(QUERIES[name](spark, data), con, ORACLES[name]))
        else:
            n = con.execute(f"SELECT count(*) FROM {ROWS_ONLY[name]}").fetchone()[0]
            problem = rows_only_problem(QUERIES[name](spark, data), n)
        checks.append((f"face.{name}", not problem, problem or "matches"))
        spark.catalog.clearCache()

        group = f"face.{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spans.add(group, t0, t1, "faces")
        metrics[f"{group}.wall_s"] = t1 - t0
        metrics[f"{group}.cached_rdds_after"] = sc._jsc.sc().getPersistentRDDs().size()
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
        metrics[f"{group}.jobs"] = len(ids)
        windows.append((group, ids, t0, t1))
        spark.catalog.clearCache()
    metrics["faces.scan_s"] = sum(metrics[f"face.{n}.wall_s"] for n in SCAN_FACES)
    metrics["faces.iterative_s"] = sum(metrics[f"face.{n}.wall_s"] for n in ITERATIVE_FACES)
    con.close()
    return metrics, checks, windows


def face_accounting(log, windows) -> dict[str, float]:
    """Event-log figures of each face's job group."""
    out = {}
    for group, ids, t0, t1 in windows:
        w = log.window_of_jobs(ids, t0 * 1000.0, t1 * 1000.0)
        out[f"{group}.driver_only_s"] = w["driver_only_s"]
        out[f"{group}.executor_cpu_s"] = w["executor_cpu_s"]
        out[f"{group}.shuffle_write_mb"] = w["shuffle_write_mb"]
    return out


def units() -> dict[str, str]:
    """Every per-layer metric these probes report, with its unit."""
    out = {
        "artifact_store.drains": "count",
        "artifact_store.changes_per_s": "1/s",
        "artifact_store.append_s": "s",
        "artifact_store.gc_s": "s",
        "artifact_store.gc_growth": "ratio",
        "artifact_store.partition_dirs": "count",
        "artifact_store.files": "count",
        "artifact_store.bytes_rewritten": "bytes",
        "artifact_store.evicted_per_rewritten": "ratio",
        "faces.scan_s": "s",
        "faces.iterative_s": "s",
    }
    for name in SCAN_FACES + ITERATIVE_FACES:
        for field in FACE_FIELDS:
            out[f"face.{name}.{field}"] = FACE_UNITS[field]
    return out
