"""Contract-gated streaming ingest (streaming/validated_append.py):
good batches reach main, bad batches quarantine with a durable audit of
WHICH rule failed, and checkpoint replay never double-commits."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from npm_mirror_spark.streaming.validated_append import ValidatedAppend

CONSTRAINTS = [
    ("id_present", "completeness", "doc_id", 1.0),
    ("text_present", "completeness", "text", 0.9),
    ("lang_known", "in_set", "lang", 1.0, ["en", "es", "fr", "de"]),
]


def _feed(tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    good1 = [
        {"doc_id": i, "text": f"doc {i}", "lang": "en"} for i in range(5)
    ]
    bad = [
        {"doc_id": 10 + i, "text": None if i < 3 else "x", "lang": "en"}
        for i in range(5)  # 3/5 null texts -> completeness 0.4 < 0.9
    ]
    good2 = [
        {"doc_id": 20 + i, "text": f"doc {20 + i}", "lang": "es"}
        for i in range(4)
    ]
    for name, rows in [("b1", good1), ("b2", bad), ("b3", good2)]:
        (feed / f"{name}.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
    return feed


def _stream(spark, feed):
    return (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
    )


def test_gate_routes_batches_and_audits_failures(spark, tmp_path):
    feed = _feed(tmp_path)
    va = ValidatedAppend(spark, str(tmp_path / "store"), CONSTRAINTS)
    va.attach(
        _stream(spark, feed), str(tmp_path / "cp")
    ).awaitTermination()

    main_ids = {r["doc_id"] for r in va.main.read().collect()}
    quar_ids = {r["doc_id"] for r in va.quarantine.read().collect()}
    assert main_ids == set(range(5)) | {20, 21, 22, 23}
    assert quar_ids == {10, 11, 12, 13, 14}

    audit = va.audit.read().collect()
    # one report row per constraint per batch
    assert len(audit) == 3 * len(CONSTRAINTS)
    failed = [r for r in audit if not r["ok"]]
    assert {r["name"] for r in failed} == {"text_present"}
    assert all(not r["batch_ok"] for r in failed)
    # metric is the exact ratio the batch actually had
    assert abs(failed[0]["metric"] - 0.4) < 1e-12


def test_replay_after_restart_is_exactly_once(spark, tmp_path):
    feed = _feed(tmp_path)
    va = ValidatedAppend(spark, str(tmp_path / "store"), CONSTRAINTS)
    va.attach(_stream(spark, feed), str(tmp_path / "cp")).awaitTermination()
    v_main = va.main.latest_version()
    v_q = va.quarantine.latest_version()
    n_main = va.main.read().count()

    # second drain over the SAME checkpoint: no new files -> no commits;
    # and a fresh drain of one more file commits exactly once
    va.attach(_stream(spark, feed), str(tmp_path / "cp")).awaitTermination()
    assert va.main.latest_version() == v_main
    assert va.quarantine.latest_version() == v_q
    assert va.main.read().count() == n_main

    (feed / "b4.jsonl").write_text(
        json.dumps({"doc_id": 30, "text": "late", "lang": "fr"})
    )
    va.attach(_stream(spark, feed), str(tmp_path / "cp")).awaitTermination()
    assert 30 in {r["doc_id"] for r in va.main.read().collect()}
    assert va.main.read().count() == n_main + 1


def test_empty_batch_commits_nothing(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "empty.jsonl").write_text("")
    va = ValidatedAppend(spark, str(tmp_path / "store"), CONSTRAINTS)
    va.attach(_stream(spark, feed), str(tmp_path / "cp")).awaitTermination()
    assert va.main.latest_version() == 0
    assert va.audit.latest_version() == 0


def test_grouped_report_agrees_with_gate_decisions(spark, tmp_path, sf_dir):
    """Coherence between the two faces of the contract gate: for the
    q_validated_batch corruption scheme, ValidatedAppend.process_batch
    must route each batch exactly as grouped_constraint_report's
    relational verdict says."""
    from npm_mirror_spark.operators.dedup import md5_key64
    from npm_mirror_spark.queries import QUERIES
    from npm_mirror_spark.tables import load_table as _t

    verdicts = {
        r["batch_id"]: r["route"]
        for r in QUERIES["q_validated_batch"](spark, sf_dir).collect()
    }
    spec = [
        ("status_complete", "completeness", "o_orderstatus", 1.0),
        ("status_domain", "in_set", "o_orderstatus", 1.0, ["O", "F", "P"]),
        ("price_positive", "min_value", "o_totalprice", 0.0),
    ]
    va = ValidatedAppend(spark, str(tmp_path / "gate"), spec)
    o = _t(spark, sf_dir, "orders")
    hit = F.pmod(md5_key64(F.col("o_orderkey"), 1), F.lit(13)) == 0
    batched = o.select(
        F.pmod(F.col("o_orderkey"), F.lit(4)).cast("int").alias("batch_id"),
        F.when(
            (F.pmod(F.col("o_orderkey"), F.lit(4)) == 2) & hit,
            -F.col("o_totalprice"),
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(
            (F.pmod(F.col("o_orderkey"), F.lit(4)) == 3) & hit,
            F.lit(None).cast("string"),
        ).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
    )
    for bid in sorted(verdicts):
        batch = batched.where(F.col("batch_id") == bid).drop("batch_id")
        passed = va.process_batch(batch, bid)
        assert passed == (verdicts[bid] == "main"), bid
