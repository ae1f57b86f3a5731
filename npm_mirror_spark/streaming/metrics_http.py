"""Prometheus ``/metrics`` HTTP endpoint (K8 operational parity).

The reference serves four metrics on :8084 via express + prom-client
(node_app/producer.ts:111-125) and the same series from the Python
consumer via prometheus_client (app/changes_consumer.py:38-42):

    npmmirror_npm_update_counter      counter  changes processed
    npmmirror_download_queue_length   gauge    pending-work depth
    npmmirror_last_seq_processed      gauge    last seq committed
    npmmirror_newest_seq              gauge    newest seq on the server
    request_processing_seconds        summary  per-request duration

Here the series come from :class:`~npm_mirror_spark.streaming.pipeline.
MetricsListener` (driver-side StreamingQueryListener state). The container
has no ``prometheus_client``, and the text exposition format (version
0.0.4) is a small, stable, public spec — so it's rendered directly;
swapping in ``prometheus_client`` means replacing :meth:`render` only.

Scale note: metrics are DRIVER state — one tiny HTTP server per streaming
driver, zero executor involvement; scrape cost is independent of data
volume.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"


class MetricsServer:
    """Serve a MetricsListener as a Prometheus scrape target.

    ``port=0`` binds an ephemeral port (tests); production passes 8084 for
    reference parity. ``newest_seq`` mirrors the producer's remote-head
    poll (producer.ts:206-243) and is pushed by whoever watches the
    upstream feed; ``download_queue_length`` is the pending-work gauge —
    between completed micro-batches the Spark scheduler's queue is empty,
    so it reads 0 unless a source backlog reporter sets it.
    """

    def __init__(self, listener, port: int = 0, host: str = "127.0.0.1"):
        self.listener = listener
        self.newest_seq: int | None = None
        self.download_queue_length: int = 0
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (http.server API)
                if self.path.rstrip("/") not in ("", "/metrics", "/metric"):
                    self.send_error(404)
                    return
                body = outer.render().encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", CONTENT_TYPE)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # silence per-scrape stderr spam
                pass

        self._server = ThreadingHTTPServer((host, port), _Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="metrics-http", daemon=True
        )
        self._thread.start()

    # -- exposition ------------------------------------------------------

    def render(self) -> str:
        l = self.listener
        out: list[str] = []

        def metric(name: str, mtype: str, help_: str, value) -> None:
            if value is None:
                return
            out.append(f"# HELP {name} {help_}")
            out.append(f"# TYPE {name} {mtype}")
            out.append(f"{name} {value}")

        metric(
            "npmmirror_npm_update_counter",
            "counter",
            "number of npm updates processed",
            l.n_changes,
        )
        metric(
            "npmmirror_download_queue_length",
            "gauge",
            "length of the download queue",
            self.download_queue_length,
        )
        metric(
            "npmmirror_last_seq_processed",
            "gauge",
            "value of the last seq processed",
            l.last_seq if l.last_seq is not None else 0,
        )
        metric(
            "npmmirror_newest_seq",
            "gauge",
            "value of the newest seq on the server",
            self.newest_seq,
        )
        # repo extension: the skipped-changes topic as a counter
        metric(
            "npmmirror_skipped_changes_counter",
            "counter",
            "number of changes routed to skipped_changes",
            l.n_skipped,
        )
        # REQUEST_TIME Summary analog (changes_consumer.py:38): batch
        # durations as a summary (sum in seconds + count), the same two
        # series prometheus_client's Summary exports
        out.append(
            "# HELP request_processing_seconds Time spent processing request"
        )
        out.append("# TYPE request_processing_seconds summary")
        out.append(f"request_processing_seconds_count {l.n_batches}")
        out.append(f"request_processing_seconds_sum {l.batch_ms_sum / 1000.0}")
        return "\n".join(out) + "\n"

    # -- lifecycle -------------------------------------------------------

    def set_newest_seq(self, seq: int) -> None:
        self.newest_seq = seq

    def set_download_queue_length(self, n: int) -> None:
        self.download_queue_length = n

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/metrics"

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)

    def __enter__(self) -> "MetricsServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
