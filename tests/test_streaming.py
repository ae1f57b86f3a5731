"""Streaming-semantics tests (SURVEY.md §5.2): stream/batch parity,
dedup-on-redelivery, malformed routing, retention invariant, metrics."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from npm_mirror_spark.sources import changes as ch
from npm_mirror_spark.streaming.pipeline import (
    MetricsListener,
    MirrorPipeline,
    route_changes,
)


@pytest.fixture(scope="module")
def fixture_jsonl(tmp_path_factory):
    # a DIRECTORY of jsonl files: the streaming file source requires a dir
    d = tmp_path_factory.mktemp("changes")
    events = ch.generate_changes(n=300, seed=7, redelivery_rate=0.05)
    # inject malformed lines (F9)
    path = d / "changes.jsonl"
    with open(path, "w") as f:
        for i, c in enumerate(events):
            f.write(json.dumps(c) + "\n")
            if i % 97 == 0:
                f.write("{this is not json\n")
    return str(d)


def _deliveries(fixture_jsonl, root):
    """The fixture's lines as two deliveries, the second re-delivering the
    first one's last 20 lines, so the second drains into an existing
    mirror with real cross-batch dedup work."""
    with open(os.path.join(fixture_jsonl, "changes.jsonl")) as f:
        lines = f.readlines()
    half = len(lines) // 2
    dirs = []
    for name, part in (("first", lines[:half]), ("second", lines[half - 20 :])):
        d = root / name
        d.mkdir()
        (d / "changes.jsonl").write_text("".join(part))
        dirs.append(str(d))
    return dirs


def test_generator_determinism():
    a = ch.generate_changes(n=50, seed=1)
    b = ch.generate_changes(n=50, seed=1)
    assert a == b
    assert any(c["doc"] is None for c in ch.generate_changes(n=500, seed=2))


def test_parse_and_route_batch(spark, fixture_jsonl):
    routed = route_changes(ch.read_changes_batch(spark, fixture_jsonl))
    stages = {r["stage"] for r in routed.select("stage").distinct().collect()}
    assert stages == {"added_to_db", "skipped_changes"}
    reasons = {
        r["skip_reason"]
        for r in routed.filter(F.col("skip_reason").isNotNull())
        .select("skip_reason")
        .distinct()
        .collect()
    }
    # every skip path of the reference consumer is exercised
    assert {"malformed", "missing_doc", "fetch_failed", "oversize"} <= reasons


def test_fetch_status_other_than_integer_200_is_fetch_failed(spark):
    """F5: only an integer 200 is mirrored. A status that is missing or
    not an integer parses to NULL, and NULL != 200 is NULL, so it must
    not fall through to added_to_db."""
    from npm_mirror_spark.schema import CHANGE_SCHEMA, PIPELINE_CHANGE_SCHEMA

    statuses = {1: "500", 2: "404", 3: None, 4: "200", 5: 200}
    lines = []
    for seq, status in statuses.items():
        change = {
            "seq": seq,
            "id": f"pkg{seq}",
            "doc": {"_id": f"pkg{seq}", "versions": {}},
            "artifact_size": 10,
        }
        if status is not None:
            change["fetch_status"] = status
        lines.append((json.dumps(change),))
    raw = spark.createDataFrame(lines, "value string")
    for schema in (CHANGE_SCHEMA, PIPELINE_CHANGE_SCHEMA):
        routed = route_changes(ch.parse_changes(raw, schema=schema))
        got = {
            r["seq"]: (r["stage"], r["skip_reason"])
            for r in routed.select("seq", "stage", "skip_reason").collect()
        }
        failed = ("skipped_changes", "fetch_failed")
        assert got == {1: failed, 2: failed, 3: failed, 4: failed, 5: ("added_to_db", None)}


def test_stream_batch_parity_and_dedup(spark, fixture_jsonl, tmp_path):
    stream_out = str(tmp_path / "stream_out")
    batch_out = str(tmp_path / "batch_out")

    listener = MetricsListener().attach(spark)
    try:
        sp = MirrorPipeline(spark, stream_out)
        sp.run_available_now(fixture_jsonl)
        bp = MirrorPipeline(spark, batch_out)
        bp.run_batch(fixture_jsonl)

        def canon(df):
            return sorted(
                json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
                for r in df.collect()
            )

        assert canon(sp.mirror_table()) == canon(bp.mirror_table()), (
            "stream and batch runs must agree"
        )

        # dedup-on-redelivery: seqs unique despite duplicated input lines
        seqs = [r["change_seq_id"] for r in sp.mirror_table().collect()]
        assert len(seqs) == len(set(seqs))

        # re-running the SAME stream over the same checkpoint is a no-op
        before = sp.mirror_table().count()
        sp.run_available_now(fixture_jsonl)
        assert sp.mirror_table().count() == before

        # observe() counts each delivered line once, redelivered and
        # malformed ones included, however many actions the batch runs;
        # listener events arrive on an async bus, so wait for them
        with open(os.path.join(fixture_jsonl, "changes.jsonl")) as f:
            delivered = len(f.readlines())
        deadline = time.time() + 30
        while listener.n_changes < delivered and time.time() < deadline:
            time.sleep(0.1)
    finally:
        listener.detach(spark)

    assert listener.n_changes == delivered
    assert listener.n_skipped == sp.stage_log("skipped_changes").count() > 0
    assert listener.last_seq is not None
    assert listener.lag(listener.last_seq + 200) == 200


def test_redelivered_lines_via_new_file_dedup(spark, fixture_jsonl, tmp_path):
    """Cross-restart redelivery: same seqs arriving in a NEW file are
    anti-joined away against the committed mirror table."""
    out = str(tmp_path / "out")
    p = MirrorPipeline(spark, out)
    p.run_available_now(fixture_jsonl)
    n1 = p.mirror_table().count()

    dup_dir = tmp_path / "changes_dup"
    dup_dir.mkdir()
    with open(fixture_jsonl + "/changes.jsonl") as src, open(
        dup_dir / "changes.jsonl", "w"
    ) as dst:
        dst.write(src.read())
    p2 = MirrorPipeline(spark, out)  # same sink, fresh checkpoint
    p2.checkpoint = out + "/_checkpoint2"
    p2.run_available_now(str(dup_dir))
    assert p2.mirror_table().count() == n1


def test_normalize_metadata_on_change_feed(spark, fixture_jsonl):
    """P12 on the real CHANGE_SCHEMA shape: _id==name==lowercase after
    normalization, dist-tags gain a 'latest' default when versions exist,
    and null docs pass through untouched."""
    from npm_mirror_spark.operators.projections import normalize_metadata

    parsed = ch.read_changes_batch(spark, fixture_jsonl)
    norm = normalize_metadata(parsed)
    rows = norm.filter(F.col("doc").isNotNull()).select(
        F.col("doc._id").alias("i"),
        F.col("doc.name").alias("n"),
        F.element_at(F.col("doc.dist_tags"), F.lit("latest")).alias("latest"),
        F.size(F.col("doc.versions")).alias("nv"),
    ).collect()
    assert rows
    for r in rows:
        assert r["i"] == r["n"]
        if r["n"] is not None:
            assert r["n"] == r["n"].lower()
        if (r["nv"] or 0) > 0:
            assert r["latest"] is not None
    assert (
        norm.filter(F.col("doc").isNull()).count()
        == parsed.filter(F.col("doc").isNull()).count()
    )


def test_dedup_antijoin_is_seq_bounded(spark, fixture_jsonl, tmp_path):
    """The committed side of the cross-restart dedup must be bounded below
    by the batch's min seq — pushed into the parquet scan, so the anti-join
    input tracks the redelivery window, not the sink's whole history — and
    the bound must be exact (a full re-drain still adds zero rows). The
    artifact store's committed side is its kept rows plus its deletion
    log: the bound must reach both scans."""
    from npm_mirror_spark import plans
    from npm_mirror_spark.sinks import drop_committed

    out = str(tmp_path / "out")
    p = MirrorPipeline(spark, out, with_artifacts=True)
    p.run_batch(fixture_jsonl)
    store = p.artifact_store
    assert store.gc(limit=1)[1] > 0  # evictions: the deletion log exists

    mirror = p.mirror_table()
    pushed = " ".join(
        plans.pushed_filters(drop_committed(mirror, mirror, "change_seq_id", 12345))
    )
    assert "GreaterThanOrEqual(change_seq_id,12345" in pushed
    stored = store.read()
    pushed = plans.pushed_filters(
        drop_committed(stored, store.committed_seqs(), "version_seq", 12345)
    )
    assert sum("GreaterThanOrEqual(version_seq,12345" in f for f in pushed) == 2

    before = p.mirror_table().count()
    stored_before = store.read().count()
    p.run_batch(fixture_jsonl)  # 100% redelivery: min-seq bound keeps all
    assert p.mirror_table().count() == before
    assert store.read().count() == stored_before  # evicted seqs stay out


def test_mirror_read_failure_fails_batch_not_dedup(spark, fixture_jsonl, tmp_path):
    """A present-but-unreadable mirror table must FAIL the micro-batch (the
    checkpoint retries it) — never silently disable dedup and commit
    duplicates, which is what a catch-all around the read used to do."""
    out = tmp_path / "out"
    (out / "mirror").mkdir(parents=True)
    (out / "mirror" / "part-00000.parquet").write_bytes(b"garbage not parquet")
    p = MirrorPipeline(spark, str(out))
    with pytest.raises(Exception):
        p.run_batch(fixture_jsonl)


@pytest.mark.parametrize("with_artifacts, max_jobs", [(False, 4), (True, 9)])
def test_batch_into_existing_mirror_job_count(
    spark, fixture_jsonl, tmp_path, with_artifacts, max_jobs
):
    """The dedup bound is observed during the stage-log write and the
    mirror is read with its declared schema, so a batch into an existing
    mirror runs no min-agg and no schema-inference job (8 jobs, and 12
    with the artifact store, before either)."""
    first, second = _deliveries(fixture_jsonl, tmp_path)
    p = MirrorPipeline(spark, str(tmp_path / "out"), with_artifacts=with_artifacts)
    p.run_batch(first)
    before = p.mirror_table().count()

    sc = spark.sparkContext
    group = f"existing_mirror_batch.{with_artifacts}"
    sc.setJobGroup(group, group)
    try:
        p.run_batch(second)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs

    # the second delivery's redelivered lines are not stored again
    seqs = [r["change_seq_id"] for r in p.mirror_table().collect()]
    assert len(seqs) == len(set(seqs)) > before


@pytest.mark.parametrize("content", ["", "{this is not json\n[1, 2\n"])
def test_batch_without_mirror_rows_into_existing_mirror(
    spark, fixture_jsonl, tmp_path, content
):
    """A batch with no mirror rows (an empty delivery, or one that holds
    only malformed lines) observes a NULL min seq: it must return and
    leave both sinks unchanged."""
    p = MirrorPipeline(spark, str(tmp_path / "out"), with_artifacts=True)
    p.run_batch(fixture_jsonl)
    before = p.mirror_table().count()
    stored = p.artifact_store.read().count()
    logged = p.stage_log("skipped_changes").count()

    src = tmp_path / "nothing_new"
    src.mkdir()
    (src / "changes.jsonl").write_text(content)
    p.run_batch(str(src))
    assert p.mirror_table().count() == before
    assert p.artifact_store.read().count() == stored
    assert p.stage_log("skipped_changes").count() == logged + content.count("\n")


def test_skipped_stage_log_contents(spark, fixture_jsonl, tmp_path):
    out = str(tmp_path / "out")
    p = MirrorPipeline(spark, out)
    p.run_available_now(fixture_jsonl)
    skipped = p.stage_log("skipped_changes")
    assert skipped.filter(F.col("skip_reason") == "malformed").count() > 0
    added = p.stage_log("added_to_db")
    assert added.count() == p.mirror_table().count() + (
        # added_to_db log keeps redelivered rows; mirror table dedups them
        added.count() - added.select("seq").distinct().count()
    )


def test_streaming_drop_duplicates_operator(spark, fixture_jsonl, tmp_path):
    """Spark-native stateful stream dedup: dropDuplicates on the stream
    itself (state store holds seen seqs) — the declarative alternative to
    the pipeline's anti-join, same answer."""
    parsed = ch.read_changes_stream(spark, fixture_jsonl)
    deduped = parsed.filter(F.col("seq").isNotNull()).dropDuplicates(["seq"])
    out = []
    q = (
        deduped.select("seq")
        .writeStream.foreachBatch(lambda df, bid: out.extend(r["seq"] for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(out) == len(set(out)) > 0


def test_crash_recovery_resumes_from_checkpoint(spark, fixture_jsonl, tmp_path):
    """Kill the sink mid-run; restarting over the SAME checkpoint must
    deliver exactly the rows a clean run delivers — no loss, no dupes
    (the reference's crash story is 'duplicates on redelivery';
    checkpoint + idempotent sink upgrades it)."""
    out = str(tmp_path / "out")
    crashed = {"yes": False}

    p = MirrorPipeline(spark, out)
    original = p._write_batch

    def flaky(df, batch_id):
        if not crashed["yes"]:
            crashed["yes"] = True
            raise RuntimeError("injected sink crash")
        original(df, batch_id)

    p._write_batch = flaky
    with pytest.raises(Exception, match="injected sink crash"):
        p.run_available_now(fixture_jsonl)
    assert crashed["yes"]

    # restart: same checkpoint, healthy sink
    p2 = MirrorPipeline(spark, out)
    p2.run_available_now(fixture_jsonl)

    clean = MirrorPipeline(spark, str(tmp_path / "clean"))
    clean.run_available_now(fixture_jsonl)
    got = sorted(r["change_seq_id"] for r in p2.mirror_table().collect())
    want = sorted(r["change_seq_id"] for r in clean.mirror_table().collect())
    assert got == want


def test_stream_static_broadcast_join(spark, fixture_jsonl, tmp_path):
    """Stream-static join: the streaming changes enriched against a static
    dimension (the J2 shape under a streaming source) — the static side is
    re-broadcast per micro-batch, no stream state."""
    dim = spark.createDataFrame(
        [(s, f"registry-{s % 3}") for s in range(0, 2000)], "seq long, shard string"
    )
    parsed = ch.read_changes_stream(spark, fixture_jsonl).filter(
        F.col("seq").isNotNull()
    )
    joined = parsed.join(F.broadcast(dim), "seq", "left").select(
        "seq", "id", "shard"
    )
    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert rows and all(r["shard"] is not None for r in rows if r["seq"] < 2000)
    # batch form of the same plan agrees
    batch = (
        ch.read_changes_batch(spark, fixture_jsonl)
        .filter(F.col("seq").isNotNull())
        .join(F.broadcast(dim), "seq", "left")
        .count()
    )
    assert batch == len(rows)


def test_mirror_schema_matches_contract(spark, fixture_jsonl, tmp_path):
    from npm_mirror_spark.schema import MIRROR_SCHEMA

    p = MirrorPipeline(spark, str(tmp_path / "out"))
    p.run_batch(fixture_jsonl)
    # mirror_table() reads with MIRROR_SCHEMA instead of inferring it, so
    # the written types must be the declared ones, field by field
    rec = spark.read.parquet(p.mirror_path)
    assert [(f.name, f.dataType) for f in rec.schema.fields] == [
        (f.name, f.dataType) for f in MIRROR_SCHEMA.fields
    ]
    # value-keyed map lookup: missing dist_tags.latest -> NULL, not error (P2/P4)
    assert rec.filter(F.col("package_latest_version").isNull()).count() >= 0
    rows = rec.limit(5).collect()
    assert all(r["change_save_path"].endswith(".zip") for r in rows)


def test_retention_invariant(spark, sf_dir):
    """Property: after retention_topn(n=5), no group exceeds 5 rows and the
    kept rows are exactly the most recent ones (SURVEY.md §5.3)."""
    from npm_mirror_spark.operators.aggregates import retention_gc, retention_topn

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    order = [F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")]
    kept = retention_topn(li, ["l_partkey"], order, n=5)
    sizes = kept.groupBy("l_partkey").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 5
    dropped = retention_gc(li, ["l_partkey"], order, n=5)
    assert kept.count() + dropped.count() == li.count()
    # dropped rows are never newer than the oldest kept row of their group
    oldest_kept = kept.groupBy("l_partkey").agg(F.min("l_shipdate").alias("min_kept"))
    viol = (
        dropped.join(oldest_kept, "l_partkey")
        .filter(F.col("l_shipdate") > F.col("min_kept"))
        .count()
    )
    assert viol == 0


def test_producer_start_seq_resumes_from_sink_max(spark, fixture_jsonl, tmp_path):
    """kcat -o -1 parity (reference run_scripts.sh:10-21): before every
    producer (re)start the reference reads the LAST Kafka message and
    resumes from its seq.  The engine's equivalent is max_seq over the
    sink: after draining a batch, the reconciled start seq must equal
    the true max committed seq — and a stale checkpoint floor must lose
    to the sink (greatest), while a floor AHEAD of the sink must win
    (the reference trusts whichever source is furthest)."""
    from npm_mirror_spark.operators.aggregates import max_seq

    out = str(tmp_path / "out")
    p = MirrorPipeline(spark, out)
    p.run_batch(fixture_jsonl)

    sink = p.mirror_table()
    true_max = sink.agg(F.max("change_seq_id")).collect()[0][0]

    resumed = max_seq(sink, "change_seq_id").collect()[0]["start_seq"]
    assert resumed == true_max

    stale_floor = max_seq(sink, "change_seq_id", floor=1).collect()[0]
    assert stale_floor["start_seq"] == true_max
    ahead = max_seq(
        sink, "change_seq_id", floor=true_max + 1000
    ).collect()[0]
    assert ahead["start_seq"] == true_max + 1000
