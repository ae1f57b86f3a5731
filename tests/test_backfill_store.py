"""Backfill source (S4) + artifact store GC (K4/K5) tests, plus
hypothesis property tests for the retention/dedup invariants."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from npm_mirror_spark.artifact_store import ArtifactStore
from npm_mirror_spark.sources.backfill import (
    backfill_records,
    write_fake_artifact_tree,
)


def test_backfill_latest_per_package(spark, tmp_path):
    root = str(tmp_path / "nas")
    expected = write_fake_artifact_tree(root, n_packages=15, files_per_pkg=4)
    recs = backfill_records(spark, root)
    rows = {r["package"]: r for r in recs.collect()}
    assert set(rows) == set(expected)
    for pkg, latest_name in expected.items():
        assert rows[pkg]["tgz_file_path"].endswith(latest_name), pkg
        assert rows[pkg]["_id"] == pkg  # parsed from the winning JSON
        assert rows[pkg]["name"] == pkg


def _fake_artifacts(spark, n_pkgs=6, versions=9):
    rows = []
    for p in range(n_pkgs):
        for v in range(versions):
            rows.append(
                (
                    f"package{p}",
                    v,
                    f"package{p}_{v}.zip",
                    bytearray(f"blob{p}-{v}".encode()),
                    f"2024-01-{v + 1:02d} 00:00:00",
                )
            )
    df = spark.createDataFrame(
        rows, "package string, version_seq long, save_path string, content binary, created_ts string"
    )
    return df.withColumn("created_ts", F.to_timestamp("created_ts"))


def test_artifact_store_gc_and_deletion_log(spark, tmp_path):
    store = ArtifactStore(spark, str(tmp_path / "store"))
    store.append(_fake_artifacts(spark))
    kept, evicted = store.gc(limit=5)
    assert kept == 6 * 5 and evicted == 6 * 4
    # invariant: no package exceeds the limit after GC
    maxv = store.read().groupBy("package").count().agg(F.max("count")).collect()[0][0]
    assert maxv <= 5
    # deletion log recorded every evicted path exactly once
    log = store.deletion_log()
    assert log.count() == evicted
    assert log.select("deleted_zip_path").distinct().count() == evicted
    # idempotence: a second GC evicts nothing
    kept2, evicted2 = store.gc(limit=5)
    assert (kept2, evicted2) == (kept, 0)


def test_gc_noop_on_absent_store(spark, tmp_path):
    store = ArtifactStore(spark, str(tmp_path / "never_written"))
    assert store.gc() == (0, 0)


def test_gc_recovers_from_crash_between_renames(spark, tmp_path):
    """Crash window: the live dir was renamed aside but the compacted tmp
    never made it into place. The next gc() must restore the aside copy
    and complete the pass — no data loss at any crash point."""
    import os

    store = ArtifactStore(spark, str(tmp_path / "store"))
    store.append(_fake_artifacts(spark))
    # simulate the mid-swap crash state
    os.rename(store.store_path, store.store_path + "__old")
    kept, evicted = store.gc(limit=5)
    assert kept == 6 * 5 and evicted == 6 * 4
    assert not os.path.exists(store.store_path + "__old")
    maxv = store.read().groupBy("package").count().agg(F.max("count")).collect()[0][0]
    assert maxv <= 5


def test_drain_after_crash_between_renames_keeps_stored_rows(spark, tmp_path):
    """Crash between gc's renames, then a drain before the next gc: the
    aside copy is still the store, so dedup sees every committed seq, the
    new rows land next to the kept ones, and the next gc loses none."""
    import os

    store = ArtifactStore(spark, str(tmp_path / "store"))
    store.append(_fake_artifacts(spark))
    store.gc(limit=5)
    os.rename(store.store_path, store.store_path + "__old")
    committed = store.committed_seqs()
    assert committed is not None and committed.count() == 6 * 9
    new = _fake_artifacts(spark, n_pkgs=1, versions=1).withColumns(
        {"package": F.lit("newpkg"), "version_seq": F.lit(100).cast("long")}
    )
    store.append(new)
    store.gc(limit=5)
    counts = {r["package"]: r["count"] for r in store.read().groupBy("package").count().collect()}
    assert counts == {**{f"package{p}": 5 for p in range(6)}, "newpkg": 1}
    assert not os.path.exists(store.store_path + "__old")


def test_committed_seqs_scan_prunes_content(spark, tmp_path):
    """The pipeline's dedup against the store reads seqs, never blobs:
    after an append and a gc, ``drop_committed`` over ``committed_seqs()``
    scans only ``version_seq`` from the kept rows and from the deletion
    log, and the executed plan carries no ``content`` column."""
    from npm_mirror_spark import plans
    from npm_mirror_spark.sinks import drop_committed

    store = ArtifactStore(spark, str(tmp_path / "store"))
    store.append(_fake_artifacts(spark))
    store.gc(limit=5)
    rows = spark.range(12).select(F.col("id").alias("version_seq"))
    fresh = drop_committed(rows, store.committed_seqs(), "version_seq", 0)
    assert sorted(r["version_seq"] for r in fresh.collect()) == [9, 10, 11]
    assert plans.read_schema_columns(fresh) == [["version_seq"], ["version_seq"]]
    assert "content" not in fresh._jdf.queryExecution().executedPlan().toString()


# -- hypothesis property tests ------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # group
            st.integers(min_value=0, max_value=1000),  # seq
        ),
        min_size=1,
        max_size=80,
    ),
    n=st.integers(min_value=1, max_value=6),
)
def test_retention_partition_property(spark, rows, n):
    """retention_topn + retention_gc partition the input exactly, and no
    kept group exceeds n — for arbitrary group/seq shapes incl. ties."""
    from npm_mirror_spark.operators.aggregates import retention_gc, retention_topn

    df = spark.createDataFrame(
        [(g, s, i) for i, (g, s) in enumerate(rows)], "g int, s int, uid int"
    )
    order = [F.desc("s"), F.desc("uid")]
    kept = retention_topn(df, ["g"], order, n=n)
    dropped = retention_gc(df, ["g"], order, n=n)
    assert kept.count() + dropped.count() == df.count()
    worst = kept.groupBy("g").count().agg(F.max("count")).collect()[0][0]
    assert worst <= n
    # kept ∩ dropped = ∅ on the unique id
    overlap = kept.select("uid").intersect(dropped.select("uid")).count()
    assert overlap == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seqs=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=60)
)
def test_dedup_idempotent_under_replay(spark, seqs):
    """dropDuplicates(seq) applied to any replay multiset equals the
    distinct seq set — the pipeline's effectively-once core."""
    from npm_mirror_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame([(s,) for s in seqs], "seq int")
    replayed = df.unionByName(df)  # worst-case full redelivery
    out = dedup_exact(replayed, ["seq"])
    assert out.count() == len(set(seqs))
