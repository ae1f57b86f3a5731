"""Tests for the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, stats
from perfbench.feed import chunked, replicate
from perfbench.workloads import committed_files, split_lines

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_v2_local-fixture")


# -- percentile and the ">= 10 beyond" rule ---------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 95) == 95
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([7.0], 95) == 7.0


def test_tail_percentile_needs_ten_samples_beyond():
    # 200 distinct samples: exactly 10 lie above p95, only 2 above p99
    assert stats.tail_percentile([float(i) for i in range(200)]) == 95.0
    # 199 samples leave only 9 above p95, so p90 is the highest supported
    assert stats.tail_percentile([float(i) for i in range(199)]) == 90.0
    assert stats.tail_percentile([float(i) for i in range(10_000)]) == 99.0
    assert stats.tail_percentile([float(i) for i in range(20)]) == 50.0


def test_tail_percentile_counts_strictly_greater_samples():
    # ties at the percentile value are not "beyond" it
    assert stats.tail_percentile([1.0] * 500) is None
    assert stats.supported([1.0] * 190 + [2.0] * 10, 95)
    assert not stats.supported([1.0] * 191 + [2.0] * 9, 95)
    # here p95 is itself 2.0, and nothing lies strictly above it
    assert not stats.supported([1.0] * 180 + [2.0] * 20, 95)


# -- event-log parser against a recorded log --------------------------------


def test_eventlog_parses_recorded_jobs_and_stages():
    log = eventlog.parse(eventlog.find_log(os.path.dirname(FIXTURE)))
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[2].stage_ids == [2, 3]
    # stages 2 and 4 were skipped (their output was reused): no completion
    assert sorted(log.stages) == [0, 1, 3, 5]
    assert log.stages[1].shuffle_write_bytes == 3912


def test_eventlog_window_accounting():
    log = eventlog.parse(FIXTURE)
    w = log.window(1792195982798, 1792195988487)
    assert w["jobs"] == 4
    # union of the four job spans: 2497 + 746 + 921 + 651 ms
    assert w["busy_s"] == pytest.approx(4.815)
    assert w["driver_only_s"] == pytest.approx(5.689 - 4.815)
    assert w["executor_cpu_s"] == pytest.approx(
        (1631671917 + 405681679 + 756989887 + 377768318) / 1e9
    )
    assert w["executor_run_s"] == pytest.approx((1804 + 518 + 2484 + 1024) / 1000)
    assert w["shuffle_write_mb"] == pytest.approx(3912 / 1e6)


def test_eventlog_window_selects_jobs_by_submission_time():
    log = eventlog.parse(FIXTURE)
    w = log.window(1792195986800, 1792195988500)
    assert w["jobs"] == 2
    assert w["busy_s"] == pytest.approx((921 + 651) / 1000)
    assert w["driver_only_s"] == pytest.approx((1700 - 921 - 651) / 1000)
    assert log.window(0, 1)["jobs"] == 0


def test_eventlog_overlapping_jobs_are_not_double_counted():
    log = eventlog.EventLog()
    for jid, (s, e) in enumerate([(0, 1000), (500, 1500), (3000, 3500)]):
        log.add({"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": s, "Stage IDs": []})
        log.add({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": e})
    w = log.window(0, 4000)
    assert w["busy_s"] == pytest.approx(2.0)
    assert w["driver_only_s"] == pytest.approx(2.0)


# -- seq-offset feed replication ---------------------------------------------


def _base(n: int = 50) -> list[dict]:
    from npm_mirror_spark.sources.changes import generate_changes

    return generate_changes(n, seed=7)


def test_replication_has_no_seq_collisions():
    base = _base()
    feed, lines = replicate(base, 5)
    seqs = [c["seq"] for c in feed]
    assert len(seqs) == 5 * len(base)
    assert len(set(seqs)) == len(seqs)
    assert seqs == sorted(seqs)
    # copies keep package names, so packages accumulate versions
    assert feed[len(base)]["id"] == base[0]["id"]
    # ... but carry their own document revision
    docs = [c for c in feed if c["doc"] is not None]
    assert len({c["doc"]["_rev"] for c in docs}) == len({(c["id"], c["seq"]) for c in docs})


def test_replicated_lines_equal_json_dumps_of_the_copies():
    feed, lines = replicate(_base(), 3)
    assert lines == [json.dumps(c) for c in feed]


def test_replication_leaves_the_base_feed_untouched():
    base = _base()
    before = json.dumps(base, sort_keys=True)
    replicate(base, 3)
    assert json.dumps(base, sort_keys=True) == before


def test_chunked_feed_is_deterministic_per_seed():
    changes, lines = replicate(_base(), 4)
    a = chunked(changes, 20, 0.05, seed=3, lines=lines)
    b = chunked(changes, 20, 0.05, seed=3)
    c = chunked(changes, 20, 0.05, seed=4, lines=lines)
    assert a.fingerprint() == b.fingerprint()
    assert a.fingerprint() != c.fingerprint()
    assert len(a.chunks) == len(changes) // 20


def test_chunk_redelivers_only_the_previous_chunk():
    changes, lines = replicate(_base(), 4)
    feed = chunked(changes, 20, 0.05, seed=3)
    assert len(feed.chunks[0].changes) == 20
    for prev, cur in zip(feed.chunks, feed.chunks[1:]):
        new_prev = {c["seq"] for c in prev.changes[: prev.n_new]}
        again = cur.changes[cur.n_new :]
        assert len(again) == 1
        assert {c["seq"] for c in again} <= new_prev
        assert cur.data.count(b"\n") == len(cur.changes)


# -- which files a drain committed ------------------------------------------


def test_committed_files_reads_batch_and_compact_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = lambda name, b: json.dumps({"path": f"file:///x/src/{name}", "timestamp": 1, "batchId": b})
    (log / "9.compact").write_text("v1\n" + entry("chunk_000000.jsonl", 0) + "\n" + entry("chunk_000001.jsonl", 9) + "\n")
    (log / "10").write_text("v1\n" + entry("chunk_000002.jsonl", 10) + "\n")
    (log / ".10.crc").write_text("ignored")
    assert committed_files(str(tmp_path)) == {
        "chunk_000000.jsonl",
        "chunk_000001.jsonl",
        "chunk_000002.jsonl",
    }
    assert committed_files(str(tmp_path / "missing")) == set()


def test_split_lines_keeps_every_line_once():
    lines = [f'{{"seq": {i}}}' for i in range(525)]
    files = split_lines(lines, 20)
    assert len(files) == 20
    assert b"".join(files).decode().splitlines() == lines
    assert all(f.endswith(b"\n") for f in files)


# -- the metric tables agree with BENCHMARK.json ------------------------------


def test_metric_names_and_units_match_benchmark_json():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


# -- job-group accounting -----------------------------------------------------


def test_eventlog_accounts_named_jobs_only():
    log = eventlog.EventLog()
    for jid, (s, e) in enumerate([(0, 1000), (200, 600), (1500, 2500)]):
        log.add({"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": s, "Stage IDs": [jid]})
        log.add({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": e})
        log.add(
            {
                "Event": "SparkListenerStageCompleted",
                "Stage Info": {
                    "Stage ID": jid,
                    "Accumulables": [{"Name": "internal.metrics.executorCpuTime", "Value": 10**9}],
                },
            }
        )
    # job 1 ran inside the window but belongs to another group
    w = log.window_of_jobs([0, 2, 7], 0, 3000)
    assert w["jobs"] == 2
    assert w["busy_s"] == pytest.approx(2.0)
    assert w["driver_only_s"] == pytest.approx(1.0)
    assert w["executor_cpu_s"] == pytest.approx(2.0)


# -- the generated star schema -----------------------------------------------


def test_star_schema_is_deterministic_per_seed(tmp_path):
    from perfbench import stardata

    a, b, c = (stardata.tables(s) for s in (5, 5, 6))
    assert sorted(a) == sorted(stardata.TABLES)
    assert all(a[t].equals(b[t]) for t in stardata.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert stardata.write(str(tmp_path / "x"), 5) == stardata.write(str(tmp_path / "y"), 5)
    assert (tmp_path / "x" / "orders.parquet").read_bytes() == (tmp_path / "y" / "orders.parquet").read_bytes()


def test_star_schema_keys_and_types():
    import pyarrow as pa

    from perfbench import stardata

    t = stardata.tables(3, scale=2)
    assert t["orders"].num_rows == 3000 and t["customer"].num_rows == 300
    orders = set(t["orders"]["o_orderkey"].to_pylist())
    assert set(t["lineitem"]["l_orderkey"].to_pylist()) <= orders
    assert set(t["orders"]["o_custkey"].to_pylist()) <= set(range(300))
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert {len(v) for v in t["embeddings"]["embedding"].to_pylist()} == {stardata.DIM}
    assert t["events"]["ts"].to_pylist() == sorted(t["events"]["ts"].to_pylist())


# -- set-up accounting ---------------------------------------------------------


def test_setup_cpu_is_median_launch_plus_first_use_of_the_last():
    from perfbench.run import setup_cpu_s

    setups = [(14.0, 0.0, 6.0, 0.0), (20.0, 0.0, 6.0, 0.0), (13.0, 12.5, 6.0, 6.0)]
    assert setup_cpu_s(setups) == pytest.approx(14.0 + 12.5)
