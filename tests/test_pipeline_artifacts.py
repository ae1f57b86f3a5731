"""Full consumer-equivalent ETL: stream -> mirror + bucketed artifact
store + retention GC + deletion log, one pipeline."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from npm_mirror_spark.sources import changes as ch
from npm_mirror_spark.streaming.pipeline import MirrorPipeline


def test_pipeline_with_artifact_store(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    # one package with MANY versions (forces GC) + normal traffic
    evs = ch.generate_changes(n=120, seed=5)
    hot = []
    for i in range(9):
        hot.append(
            {
                "seq": 100_000 + i,
                "id": "hotpackage",
                "deleted": False,
                "doc": {
                    "_id": "hotpackage",
                    "_rev": f"{i}-r",
                    "name": "hotpackage",
                    "dist_tags": {"latest": f"1.{i}.0"},
                    "versions": {f"1.{i}.0": {"author": "a", "maintainers": None,
                                              "dependencies": None, "dist": None}},
                    "time": {"created": "2024-01-01T00:00:00",
                             "modified": "2024-01-01T00:30:00",
                             f"1.{i}.0": f"2024-01-0{i % 9 + 1}T12:00:00"},
                },
                "artifact_size": 1000,
                "fetch_status": 200,
            }
        )
    with open(feed / "all.jsonl", "w") as f:
        for c in evs + hot:
            f.write(json.dumps(c) + "\n")

    p = MirrorPipeline(spark, str(tmp_path / "out"), with_artifacts=True)
    p.run_available_now(str(feed))

    store = p.artifact_store.read()
    # retention invariant holds across the whole store
    worst = store.groupBy("package").count().agg(F.max("count")).collect()[0][0]
    assert worst <= 5
    # the hot package was GC'd: 9 versions in, 5 kept, 4 logged as deleted
    hot_kept = store.filter(F.col("package") == "hotpackage").count()
    assert hot_kept == 5
    log = p.artifact_store.deletion_log()
    assert log.filter(F.col("deleted_zip_path").contains("hotpackage")).count() == 4
    # store layout is bucketed (partition dirs by prefix)
    import os

    assert any(
        d.startswith("bucket=") for d in os.listdir(p.artifact_store.store_path)
    )
    # mirror and store agree on the surviving hot versions
    mirror_hot = p.mirror_table().filter(F.col("package_name") == "hotpackage")
    assert mirror_hot.count() == 9  # mirror keeps full history; store is GC'd


def _hot_change(i):
    v = f"1.{i}.0"
    return {
        "seq": 100_000 + i,
        "id": "hotpackage",
        "deleted": False,
        "doc": {
            "_id": "hotpackage",
            "_rev": f"{i}-r",
            "name": "hotpackage",
            "dist_tags": {"latest": v},
            "versions": {v: {"author": "a", "maintainers": None,
                             "dependencies": None, "dist": None}},
            "time": {"created": "2024-01-01T00:00:00",
                     "modified": "2024-01-01T00:30:00",
                     v: f"2024-01-0{i % 9 + 1}T12:00:00"},
        },
        "artifact_size": 1000,
        "fetch_status": 200,
    }


def test_redelivery_after_gc_is_not_stored_again(spark, tmp_path):
    """A change re-delivered after GC evicted its artifact is already
    committed to the store: it must not be stored, evicted and logged a
    second time. The store's committed set is its kept rows plus its
    deletion log, not just what it still holds."""
    from npm_mirror_spark.streaming.pipeline import route_changes

    feed = tmp_path / "feed"
    feed.mkdir()
    hot = [_hot_change(i) for i in range(9)]
    with open(feed / "d0.jsonl", "w") as f:
        for c in ch.generate_changes(n=40, seed=5) + hot:
            f.write(json.dumps(c) + "\n")
    p = MirrorPipeline(spark, str(tmp_path / "out"), with_artifacts=True)
    p.run_available_now(str(feed))

    store = p.artifact_store
    kept = {r[0] for r in store.read().filter(F.col("package") == "hotpackage")
            .select("version_seq").collect()}
    evicted = [c for c in hot if c["seq"] not in kept]
    assert len(evicted) == 4
    with open(feed / "d1.jsonl", "w") as f:  # second drain: a redelivery
        f.write(json.dumps(evicted[0]) + "\n")
    p.run_available_now(str(feed))

    assert store.read().filter(F.col("package") == "hotpackage").count() == 5
    hot_log = store.deletion_log().filter(
        F.col("deleted_zip_path").contains("hotpackage")
    )
    assert hot_log.count() == 4
    assert hot_log.select("version_seq").distinct().count() == 4
    routed_ok = (
        route_changes(ch.read_changes_batch(spark, str(feed)))
        .filter(F.col("stage") == "added_to_db")
        .select("seq")
        .distinct()
        .count()
    )
    assert store.read().count() + store.deletion_log().count() == routed_ok
