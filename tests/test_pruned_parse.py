"""The mirror pipeline parses with PIPELINE_CHANGE_SCHEMA and caches only
the columns its sinks read. ``from_json`` builds every field of its
schema and Catalyst does not prune it, so the narrower schema is what
keeps unread doc fields out of the parse and the batch cache. These tests
pin that, and prove the narrower parse routes and projects every line as
the full CHANGE_SCHEMA does, edge-case lines included."""

from __future__ import annotations

import copy
import json

import pytest

from npm_mirror_spark.operators.projections import mirror_record
from npm_mirror_spark.schema import CHANGE_SCHEMA, PIPELINE_CHANGE_SCHEMA
from npm_mirror_spark.sources import changes as ch
from npm_mirror_spark.streaming.pipeline import MirrorPipeline, route_changes

_BASE = {
    "seq": 1,
    "id": "edge",
    "deleted": False,
    "doc": {
        "_id": "edge",
        "_rev": "1-abc",
        "name": "edge",
        "dist_tags": {"latest": "1.0.0"},
        "versions": {
            "1.0.0": {
                "author": "a",
                "maintainers": ["m0"],
                "dependencies": {"dep": "^1.0.0"},
                "dist": {"tarball": "t.tgz", "shasum": "00", "unpackedSize": 1000},
            }
        },
        "time": {"created": "2024-01-01T00:00:00", "1.0.0": "2024-01-01T00:01:00"},
    },
    "artifact_size": 1000,
    "fetch_status": 200,
}


def _edge(seq: int, edit) -> str:
    change = copy.deepcopy(_BASE)
    change["seq"] = seq
    edit(change, change["doc"], change["doc"]["versions"]["1.0.0"])
    return json.dumps(change)


# one line per way a pruned field (or a field next to it) can go wrong
EDGE_LINES = [
    _edge(1, lambda c, d, v: None),
    _edge(2, lambda c, d, v: v["dist"].update(unpackedSize="big")),
    _edge(3, lambda c, d, v: v.update(dist="not-an-object")),
    _edge(4, lambda c, d, v: d.update(name={"first": "edge"})),
    _edge(5, lambda c, d, v: d["time"].update({"1.0.0": "not a time"})),
    _edge(6, lambda c, d, v: v.update(author={"name": "a", "email": "e"})),
    _edge(7, lambda c, d, v: c.update(fetch_status="200")),
    _edge(8, lambda c, d, v: c.update(doc={"_id": "edge"})),
    '{"seq": 9, "id": "edge", "doc": {"_id": ',
]


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    """The synthetic feed with redeliveries and malformed lines, then the
    hand-built edge lines."""
    d = tmp_path_factory.mktemp("pruned_parse")
    with open(d / "changes.jsonl", "w") as f:
        for i, c in enumerate(ch.generate_changes(n=200, seed=5, redelivery_rate=0.05)):
            f.write(json.dumps(c) + "\n")
            if i % 67 == 0:
                f.write("{this is not json\n")
        for line in EDGE_LINES:
            f.write(line + "\n")
    return str(d)


def _routed_records(spark, feed, schema):
    parsed = ch.read_changes_batch(spark, feed, schema=schema)
    return mirror_record(
        route_changes(parsed), keep=("seq", "stage", "skip_reason")
    ).collect()


def test_pipeline_schema_routes_and_projects_like_change_schema(spark, feed):
    """Line by line (one file, read in order), the pipeline schema gives
    the same (seq, stage, skip_reason) and the same 13 mirror fields as
    CHANGE_SCHEMA."""
    pruned = _routed_records(spark, feed, PIPELINE_CHANGE_SCHEMA)
    full = _routed_records(spark, feed, CHANGE_SCHEMA)
    assert len(pruned) == len(full) > len(EDGE_LINES)
    for i, (a, b) in enumerate(zip(pruned, full)):
        assert a == b, f"line {i}: {a} != {b}"
    # the edge lines reach the mirror and the skip paths, not just one
    edges = pruned[-len(EDGE_LINES) :]
    assert {r["stage"] for r in edges} == {"added_to_db", "skipped_changes"}
    assert edges[-1]["stage"] == "skipped_changes"


@pytest.mark.parametrize("drive", ["run_batch", "run_available_now"])
def test_pipeline_parses_and_caches_only_what_sinks_read(
    spark, feed, tmp_path, monkeypatch, drive
):
    """The batch reaching ``_write_batch`` was parsed without doc._id,
    doc.name or any version's dist, and the one frame it persists holds
    the 4 stage-log columns plus the 13 mirror fields: no doc, no raw
    line."""
    p = MirrorPipeline(spark, str(tmp_path / "out"))
    received, plans, persisted = [], [], []
    write_batch = p._write_batch

    def spy(df, batch_id):
        received.append(df.schema)
        plans.append(df._jdf.queryExecution().analyzed().toString())
        write_batch(df, batch_id)

    frame_type = type(spark.range(1))  # the session's concrete DataFrame
    persist = frame_type.persist

    def recording_persist(df, *args, **kwargs):
        persisted.append(df.columns)
        return persist(df, *args, **kwargs)

    p._write_batch = spy
    monkeypatch.setattr(frame_type, "persist", recording_persist)
    getattr(p, drive)(feed)

    assert received and all(s == received[0] for s in received)
    doc = received[0]["doc"].dataType
    assert doc == PIPELINE_CHANGE_SCHEMA["doc"].dataType
    assert {"_id", "name"}.isdisjoint(doc.fieldNames())
    assert "dist" not in doc["versions"].dataType.valueType.fieldNames()
    if drive == "run_batch":
        # a micro-batch reaches foreachBatch as a LogicalRDD, without its
        # parse; a batch still carries the from_json and its schema
        (plan,) = plans
        assert "from_json(" in plan
        for field in ("dist", "_id", "name"):
            assert f"StructField({field}," not in plan

    assert len(persisted) == len(received)
    for columns in persisted:
        assert len(columns) == 17
        assert {"doc", "_raw"}.isdisjoint(columns)
