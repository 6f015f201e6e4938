"""Amplitude-style HTTP batch sink with chunking + bounded retry.

Reference semantics (utils.js:92-103, synchronous-pull.js:74-86):

* POST ``{api_key, events}`` as JSON to the /batch endpoint, 5 s timeout.
* ≤ MAX_EVENTS_PER_BATCH events per request (synchronous-pull.js:33 — the
  pull size doubles as the POST size; here partitions are chunked).
* bounded retry, MAX_RETRIES (default 3); the reference retries EVERY
  failure including 4xx (it never calls bail). Engine default retries only
  408/429/5xx/network errors — documented divergence (SURVEY.md §2A),
  restorable with ``retry_all_errors=True``.
* on exhaustion the error propagates: in streaming the micro-batch fails and
  Structured Streaming replays from the checkpoint — the same at-least-once
  contract as the reference's break-and-redeliver (synchronous-pull.js:83-85).

Executor discipline: the partition function is fully self-contained (stdlib
only, config captured as plain primitives) so cloudpickle ships it by value —
executors never import this package.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from ..config import PipelineConfig

#: HTTP statuses worth retrying when retry_all_errors is False.
RETRYABLE_STATUSES = frozenset({408, 429, 500, 502, 503, 504})


def _make_send_events_http():
    """Factory returning ``send_events_http`` as a closure-local function, so
    the partition function capturing it is serialized BY VALUE by cloudpickle
    — executors never import this package (same discipline as
    functions/hashing.py:_make_js_string_coerce)."""

    def send_events_http(
        events: list[dict],
        endpoint: str,
        api_key: str,
        timeout_seconds: float = 5.0,
        max_retries: int = 3,
        retry_all_errors: bool = False,
        backoff_seconds: float = 0.2,
        conn_box: list | None = None,
    ) -> int:
        """POST one chunk with bounded retry; returns the attempt count.

        Raises the final error after ``max_retries`` retries are exhausted
        (i.e. at most max_retries + 1 attempts, matching async-retry's contract).
        Pure stdlib (http.client) — usable verbatim inside executors.

        ``conn_box`` is a caller-owned one-slot list holding a persistent
        ``http.client.HTTP(S)Connection``. Passing the same box across calls
        reuses one TCP(+TLS) connection for every chunk of a partition — the
        engine's analogue of the reference's per-request DNS caching
        (utils.js:13,95), but stronger: the whole connection is kept, not just
        the resolved address. A connection that errors is closed and re-opened
        on the next attempt (http.client also auto-reconnects when the server
        closes between requests, so HTTP/1.0 peers still work — just without
        reuse). Without a box, a fresh connection is used for this call only.
        """
        import http.client
        import json
        import time
        import urllib.error
        import urllib.parse

        u = urllib.parse.urlsplit(endpoint)
        path = (u.path or "/") + (f"?{u.query}" if u.query else "")
        body = json.dumps({"api_key": api_key, "events": events}).encode("utf-8")
        headers = {"Content-Type": "application/json"}
        box = conn_box if conn_box is not None else [None]

        attempts = 0
        while True:
            attempts += 1
            if box[0] is None:
                conn_cls = (
                    http.client.HTTPSConnection
                    if u.scheme == "https"
                    else http.client.HTTPConnection
                )
                box[0] = conn_cls(u.hostname, u.port, timeout=timeout_seconds)
            conn = box[0]
            try:
                conn.request("POST", path, body=body, headers=headers)
                resp = conn.getresponse()
                resp.read()  # drain the body so the connection is reusable
                status, reason = resp.status, resp.reason
                resp_headers = dict(resp.getheaders())
            except (http.client.HTTPException, TimeoutError, OSError):
                conn.close()
                box[0] = None
                if attempts > max_retries:
                    raise
                time.sleep(backoff_seconds * attempts)
                continue
            if 200 <= status < 300:
                if conn_box is None:
                    conn.close()
                return attempts
            retryable = retry_all_errors or status in RETRYABLE_STATUSES
            if not retryable or attempts > max_retries:
                if conn_box is None:
                    conn.close()
                raise urllib.error.HTTPError(endpoint, status, reason, resp_headers, None)
            time.sleep(backoff_seconds * attempts)

    return send_events_http


send_events_http = _make_send_events_http()


def http_batch_sink(df: DataFrame, config: PipelineConfig) -> None:
    """Send every row of ``df`` to the HTTP endpoint, chunked per partition.

    Each executor partition: rows → dicts (null-stripped, like JSON.stringify
    dropping undefined) → chunks of ``max_events_per_batch`` → POST with
    retry. One ``http.client`` connection is opened per partition and reused
    for every chunk (keep-alive), so a partition with thousands of chunks
    pays one TCP+TLS handshake, not thousands; parallelism = partition count.
    """
    cfg = {
        "endpoint": config.endpoint,
        "api_key": config.amplitude_api_key,
        "chunk": config.max_events_per_batch,
        "timeout": config.timeout_seconds,
        "retries": config.max_retries,
        "retry_all": config.retry_all_errors,
    }
    send = send_events_http  # closure-local def → pickled by value

    def send_partition(rows: Iterator) -> None:
        conn_box: list = [None]  # one persistent connection per partition
        try:
            chunk: list[dict] = []
            for row in rows:
                event = {
                    k: v for k, v in row.asDict(recursive=True).items() if v is not None
                }
                chunk.append(event)
                if len(chunk) >= cfg["chunk"]:
                    send(
                        chunk,
                        cfg["endpoint"],
                        cfg["api_key"],
                        cfg["timeout"],
                        cfg["retries"],
                        cfg["retry_all"],
                        conn_box=conn_box,
                    )
                    chunk = []
            if chunk:
                send(
                    chunk,
                    cfg["endpoint"],
                    cfg["api_key"],
                    cfg["timeout"],
                    cfg["retries"],
                    cfg["retry_all"],
                    conn_box=conn_box,
                )
        finally:
            if conn_box[0] is not None:
                conn_box[0].close()

    df.foreachPartition(send_partition)
