"""K8 parity: the Prometheus /metrics endpoint serves the reference's
four series (producer.ts:111-125, changes_consumer.py:38-42) with values
sourced from a real availableNow drain."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from npm_mirror_spark.sources import changes as ch
from npm_mirror_spark.streaming.metrics_http import CONTENT_TYPE, MetricsServer
from npm_mirror_spark.streaming.pipeline import MetricsListener, MirrorPipeline


@pytest.fixture(scope="module")
def drain(spark, tmp_path_factory):
    """One drain of redelivered and malformed lines: (listener, pipeline,
    delivered line count)."""
    d = tmp_path_factory.mktemp("changes_metrics")
    lines = 0
    with open(d / "changes.jsonl", "w") as f:
        for i, c in enumerate(ch.generate_changes(n=120, seed=11, redelivery_rate=0.05)):
            f.write(json.dumps(c) + "\n")
            lines += 1
            if i % 40 == 0:
                f.write("{not json\n")
                lines += 1
    listener = MetricsListener().attach(spark)
    try:
        p = MirrorPipeline(spark, str(tmp_path_factory.mktemp("out_metrics")))
        p.run_available_now(str(d))
        # listener events arrive on an async bus: wait for the non-empty
        # batch's progress row before letting tests read the counters
        deadline = time.time() + 30
        while listener.last_seq is None and time.time() < deadline:
            time.sleep(0.1)
        assert listener.last_seq is not None, "progress event never delivered"
        yield listener, p, lines
    finally:
        listener.detach(spark)


@pytest.fixture(scope="module")
def drained_listener(drain):
    return drain[0]


def _scrape(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return resp.headers.get("Content-Type"), resp.read().decode()


def _value(body: str, name: str) -> float:
    for line in body.splitlines():
        if line.startswith(name + " "):
            return float(line.split()[1])
    raise AssertionError(f"{name} not served:\n{body}")


def test_scrape_after_drain(drained_listener):
    with MetricsServer(drained_listener) as srv:
        srv.set_newest_seq((drained_listener.last_seq or 0) + 7)
        ctype, body = _scrape(srv.url)
        assert ctype == CONTENT_TYPE
        # the four reference series, with drain-sourced values
        assert _value(body, "npmmirror_npm_update_counter") == float(
            drained_listener.n_changes
        )
        assert _value(body, "npmmirror_last_seq_processed") == float(
            drained_listener.last_seq
        )
        assert _value(body, "npmmirror_newest_seq") == float(
            drained_listener.last_seq + 7
        )
        assert _value(body, "npmmirror_download_queue_length") == 0.0
        # summary analog carries the batch count and summed durations
        assert _value(body, "request_processing_seconds_count") == float(
            drained_listener.n_batches
        )
        assert drained_listener.n_batches > 0
        assert _value(body, "request_processing_seconds_sum") == (
            drained_listener.batch_ms_sum / 1000.0
        )


def test_counters_count_each_delivered_line_once(drain):
    """observe() sits upstream of a batch that runs several actions; the
    counters must still count each delivered line once."""
    listener, p, lines = drain
    assert listener.n_changes == lines
    assert listener.n_skipped == p.stage_log("skipped_changes").count() > 0


def test_unknown_path_404_and_help_lines(drained_listener):
    with MetricsServer(drained_listener) as srv:
        _, body = _scrape(srv.url)
        assert "# TYPE npmmirror_npm_update_counter counter" in body
        assert "# HELP npmmirror_last_seq_processed" in body
        with pytest.raises(urllib.error.HTTPError):
            _scrape(srv.url.replace("/metrics", "/nope"))
