"""Streaming pipeline + HTTP sink tests (SURVEY.md §5.2 item 5):
batch-vs-stream equivalence, retry policy, chunking, stateful dedup."""

from __future__ import annotations

import io
import json
import logging
import pickle
import re
import threading
import urllib.error
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from fxa_amplitude_send_spark.config import PipelineConfig
from fxa_amplitude_send_spark.operators.event_pipeline import event_pipeline
from fxa_amplitude_send_spark.sinks.http_batch import http_batch_sink, send_events_http
from fxa_amplitude_send_spark.streaming import pipeline as pipeline_mod
from fxa_amplitude_send_spark.streaming.pipeline import (
    dedup_within_watermark,
    read_payload_stream,
    run_pipeline,
    write_payload_files,
)

KEY = "test-key"


class KeepAliveCountingServer:
    """HTTP/1.1 keep-alive server that counts distinct TCP connections and
    records request bodies — proves the sink reuses one connection per
    partition instead of handshaking per chunk."""

    def __init__(self):
        self.bodies: list[dict] = []
        self.connections = 0
        self.lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # keep-alive by default

            def setup(self):  # one setup() per TCP connection
                with outer.lock:
                    outer.connections += 1
                super().setup()

            def do_POST(self):  # noqa: N802
                length = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(length)
                with outer.lock:
                    outer.bodies.append(json.loads(raw))
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"{}")

            def log_message(self, *args):
                pass

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.server.server_port}/batch"

    def close(self):
        self.server.shutdown()


class RecordingServer:
    """In-process HTTP server: records request bodies, replays a scripted
    status sequence (then 200s forever)."""

    def __init__(self, statuses=()):
        self.bodies: list[dict] = []
        self.statuses = list(statuses)
        self.lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802
                length = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(length)
                with outer.lock:
                    status = outer.statuses.pop(0) if outer.statuses else 200
                    if status == 200:
                        outer.bodies.append(json.loads(raw))
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(b"{}")

            def log_message(self, *args):
                pass

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.server.server_port}/batch"

    def close(self):
        self.server.shutdown()


def observed_counts(query) -> list[tuple[int, int]]:
    """(inputCount, outputCount) of every micro-batch the query ran, read
    from the named streaming observations in its progress."""
    return [
        (p.observedMetrics["events_in"]["n"], p.observedMetrics["events_out"]["n"])
        for p in query.recentProgress
        if p.numInputRows > 0
    ]


def payloads_for(n: int, dup_of: int | None = None) -> list[dict]:
    out = []
    for i in range(n):
        j = dup_of if dup_of is not None else i
        out.append(
            {
                "device_id": f"d-{j}",
                "user_id": f"u-{j}",
                "event_type": "login",
                "time": 1704067200000 + j,
                "session_id": 1704067100000,
                "user_properties": {"flow_id": f"f-{j}"},
            }
        )
    return out


class TestHttpSink:
    def test_chunking_and_payload_shape(self, spark):
        srv = RecordingServer()
        try:
            cfg = PipelineConfig(
                amplitude_api_key="api-k",
                hmac_key=KEY,
                max_events_per_batch=10,
                endpoint=srv.endpoint,
            )
            df = spark.createDataFrame(
                [(f"u-{i}", "login", float(i)) for i in range(25)],
                "user_id string, event_type string, time double",
            ).coalesce(1)
            http_batch_sink(df, cfg)
            assert len(srv.bodies) == 3  # 10 + 10 + 5
            total = sum(len(b["events"]) for b in srv.bodies)
            assert total == 25
            assert all(b["api_key"] == "api-k" for b in srv.bodies)
        finally:
            srv.close()

    def test_one_connection_per_partition(self, spark):
        srv = KeepAliveCountingServer()
        try:
            cfg = PipelineConfig(
                amplitude_api_key="api-k",
                hmac_key=KEY,
                max_events_per_batch=10,
                endpoint=srv.endpoint,
            )
            df = spark.createDataFrame(
                [(f"u-{i}", "login", float(i)) for i in range(50)],
                "user_id string, event_type string, time double",
            ).repartition(2)
            http_batch_sink(df, cfg)
            assert sum(len(b["events"]) for b in srv.bodies) == 50
            assert len(srv.bodies) >= 4  # >=2 chunks per partition
            # exactly one TCP connection per partition, reused across chunks
            assert srv.connections <= 2
        finally:
            srv.close()

    def test_partition_fn_pickles_by_value(self):
        """Executors must not need this package importable: the partition
        function cloudpickle ships references no fxa_amplitude_send_spark
        module, and still posts after loading."""
        from pyspark.cloudpickle import dumps
        from pyspark.sql import Row

        class CapturingFrame:
            def foreachPartition(self, fn):  # noqa: N802
                self.fn = fn

        class NoPackageUnpickler(pickle.Unpickler):
            def find_class(self, module, name):
                assert not module.startswith("fxa_amplitude_send_spark"), (module, name)
                return super().find_class(module, name)

        srv = RecordingServer()
        try:
            cfg = PipelineConfig(
                amplitude_api_key="api-k",
                hmac_key=KEY,
                max_events_per_batch=10,
                endpoint=srv.endpoint,
            )
            frame = CapturingFrame()
            http_batch_sink(frame, cfg)
            fn = NoPackageUnpickler(io.BytesIO(dumps(frame.fn))).load()
            fn(iter([Row(user_id="h", event_type="login", time=1.0)]))
            event = {"user_id": "h", "event_type": "login", "time": 1.0}
            assert srv.bodies == [{"api_key": "api-k", "events": [event]}]
        finally:
            srv.close()

    def test_conn_box_reuses_connection_across_calls(self):
        srv = KeepAliveCountingServer()
        try:
            box: list = [None]
            for _ in range(5):
                send_events_http([{"a": 1}], srv.endpoint, "k", conn_box=box)
            assert len(srv.bodies) == 5
            assert srv.connections == 1
            box[0].close()
        finally:
            srv.close()

    def test_retry_on_5xx_then_success(self):
        srv = RecordingServer(statuses=[500, 503])
        try:
            attempts = send_events_http(
                [{"a": 1}], srv.endpoint, "k", max_retries=3, backoff_seconds=0.01
            )
            assert attempts == 3
            assert len(srv.bodies) == 1
        finally:
            srv.close()

    def test_4xx_not_retried_by_default(self):
        srv = RecordingServer(statuses=[400])
        try:
            with pytest.raises(urllib.error.HTTPError):
                send_events_http(
                    [{"a": 1}], srv.endpoint, "k", max_retries=3, backoff_seconds=0.01
                )
            assert srv.statuses == []  # exactly one request consumed
        finally:
            srv.close()

    def test_4xx_retried_in_reference_mode(self):
        # reference never bails (synchronous-pull.js:74-86) — retry_all_errors
        srv = RecordingServer(statuses=[400, 404])
        try:
            attempts = send_events_http(
                [{"a": 1}],
                srv.endpoint,
                "k",
                max_retries=3,
                retry_all_errors=True,
                backoff_seconds=0.01,
            )
            assert attempts == 3
        finally:
            srv.close()

    def test_exhaustion_raises(self):
        srv = RecordingServer(statuses=[500] * 10)
        try:
            with pytest.raises(urllib.error.HTTPError):
                send_events_http(
                    [{"a": 1}], srv.endpoint, "k", max_retries=2, backoff_seconds=0.01
                )
        finally:
            srv.close()


class TestQueueSourceAdapter:
    def test_kafka_options_carry_rate_cap(self):
        from fxa_amplitude_send_spark.streaming.pipeline import (
            QueueSource,
            kafka_reader_options,
        )

        src = QueueSource(
            kind="kafka", brokers="b1:9092,b2:9092", topic="fxa-events",
            max_per_trigger=10_000,
        )
        opts = kafka_reader_options(src)
        assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
        assert opts["subscribe"] == "fxa-events"
        assert opts["startingOffsets"] == "earliest"
        # MAX_EVENTS_PER_BATCH parity (synchronous-pull.js:33)
        assert opts["maxOffsetsPerTrigger"] == "10000"
        assert "maxOffsetsPerTrigger" not in kafka_reader_options(
            QueueSource(kind="kafka", brokers="b", topic="t")
        )

    def test_config_validation(self):
        from fxa_amplitude_send_spark.streaming.pipeline import QueueSource

        with pytest.raises(ValueError):
            QueueSource(kind="kafka", brokers="b")  # topic missing
        with pytest.raises(ValueError):
            QueueSource(kind="file")  # path missing
        with pytest.raises(ValueError):
            QueueSource(kind="pubsub", path="x")

    def test_batch_stream_equivalence_through_adapter(self, spark, tmp_path):
        from fxa_amplitude_send_spark.streaming.pipeline import (
            QueueSource,
            read_queue_stream,
        )

        payloads = payloads_for(12)
        src_dir = str(tmp_path / "queue_in")
        write_payload_files(payloads, src_dir, files=2)

        batch_df = spark.createDataFrame(
            [(json.dumps(p),) for p in payloads], "payload string"
        )
        expected = {
            (r.user_id, r.event_type, r.time)
            for r in event_pipeline(batch_df, KEY).collect()
        }

        got: set = set()

        def collecting_sink(df, _cfg):
            got.update((r.user_id, r.event_type, r.time) for r in df.collect())

        stream = read_queue_stream(
            spark, QueueSource(kind="file", path=src_dir, max_per_trigger=1)
        )
        cfg = PipelineConfig(
            amplitude_api_key="k", hmac_key=KEY, max_events_per_batch=100
        )
        q = run_pipeline(
            stream, cfg, checkpoint_dir=str(tmp_path / "ckpt_q"), sink=collecting_sink
        )
        q.awaitTermination(120)
        assert got == expected


class TestStreaming:
    def test_batch_stream_equivalence_and_metrics(self, spark, tmp_path):
        payloads = payloads_for(30)
        # every 3rd payload carries an identify verb
        for i, p in enumerate(payloads):
            if i % 3 == 0:
                p["user_properties"]["$set"] = {"plan": "x"}
        src = str(tmp_path / "in")
        write_payload_files(payloads, src, files=3)

        batch_df = spark.createDataFrame(
            [(json.dumps(p),) for p in payloads], "payload string"
        )
        expected = {
            (r.user_id, r.event_type, r.time, r.emit_rank)
            for r in event_pipeline(batch_df, KEY).collect()
        }

        got: set = set()

        def collecting_sink(df, _cfg):
            got.update(
                (r.user_id, r.event_type, r.time, r.emit_rank) for r in df.collect()
            )

        cfg = PipelineConfig(
            amplitude_api_key="k", hmac_key=KEY, max_events_per_batch=100
        )
        stream = read_payload_stream(spark, src, max_files_per_trigger=1)
        q = run_pipeline(
            stream,
            cfg,
            checkpoint_dir=str(tmp_path / "ckpt"),
            sink=collecting_sink,
        )
        q.awaitTermination(120)
        assert got == expected
        counts = observed_counts(q)
        assert sum(i for i, _ in counts) == 30
        assert sum(o for _, o in counts) == len(expected)
        assert len(counts) == 3  # one micro-batch per file

    def test_event_pipeline_built_once_per_query(self, spark, tmp_path, monkeypatch):
        calls = []

        def counting_event_pipeline(*args, **kwargs):
            calls.append(1)
            return event_pipeline(*args, **kwargs)

        monkeypatch.setattr(pipeline_mod, "event_pipeline", counting_event_pipeline)
        src = str(tmp_path / "in")
        write_payload_files(payloads_for(9), src, files=3)
        cfg = PipelineConfig(
            amplitude_api_key="k", hmac_key=KEY, max_events_per_batch=100
        )
        stream = read_payload_stream(spark, src, max_files_per_trigger=1)
        q = run_pipeline(stream, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)
        assert observed_counts(q) == [(3, 3)] * 3
        assert len(calls) == 1  # built once, not once per micro-batch

    def test_http_sink_stream_counts_privacy_and_restart(self, spark, tmp_path):
        payloads = payloads_for(30)
        for i, p in enumerate(payloads):
            if i % 3 == 0:
                p["user_properties"]["$set"] = {"plan": "x"}
        src = str(tmp_path / "in")
        write_payload_files(payloads, src, files=3)
        batch_df = spark.createDataFrame(
            [(json.dumps(p),) for p in payloads], "payload string"
        )
        n_expected = event_pipeline(batch_df, KEY).count()

        srv = KeepAliveCountingServer()
        try:
            cfg = PipelineConfig(
                amplitude_api_key="k",
                hmac_key=KEY,
                max_events_per_batch=100,
                endpoint=srv.endpoint,
            )
            ckpt = str(tmp_path / "ckpt")

            def start():
                stream = read_payload_stream(spark, src, max_files_per_trigger=1)
                return run_pipeline(stream, cfg, ckpt, sink=http_batch_sink)

            q = start()
            assert q.awaitTermination(120)
            assert q.exception() is None
            counts = observed_counts(q)
            assert len(counts) == 3
            assert sum(i for i, _ in counts) == 30
            assert sum(o for _, o in counts) == n_expected
            events = [e for b in srv.bodies for e in b["events"]]
            assert len(events) == n_expected
            # no raw envelope and no un-pseudonymized user id leaves the engine
            assert not any("payload" in e for e in events)
            assert not re.search(r"u-\d", json.dumps(srv.bodies))

            # restart over the same checkpoint: every offset is acked
            posted = len(srv.bodies)
            q2 = start()
            assert q2.awaitTermination(120)
            assert observed_counts(q2) == []
            assert len(srv.bodies) == posted
        finally:
            srv.close()

    def test_http_sink_stream_survives_out_of_range_numbers(self, spark, tmp_path):
        """Events that pass isEventOk but carry numbers whose millisecond-
        scaled integer overflows a long must not fail their micro-batch: a
        failed batch is never acked, so every restart would replay and fail
        it again. The stream terminates, posts every event, and the normal
        events keep their insert_ids."""
        normal = payloads_for(12)
        poison = [
            {"device_id": "p-0", "event_type": "login", "time": 1e300,
             "session_id": 1},
            # parseInt repairs the string to 1e23
            {"device_id": "p-1", "event_type": "login",
             "time": 1704067200000, "session_id": "99999999999999999999999"},
            # scales to exactly -2^63, whose abs() overflows a long
            {"device_id": "p-2", "event_type": "login",
             "time": 1704067200000, "session_id": -9223372036854775.808},
        ]
        mixed = normal[:4] + poison[:1] + normal[4:8] + poison[1:] + normal[8:]
        src = str(tmp_path / "in")
        write_payload_files(mixed, src, files=3)
        expected = {
            r["device_id"]: r["insert_id"]
            for r in event_pipeline(
                spark.createDataFrame(
                    [(json.dumps(p),) for p in normal], "payload string"
                ),
                KEY,
            ).collect()
        }

        srv = KeepAliveCountingServer()
        try:
            cfg = PipelineConfig(
                amplitude_api_key="k",
                hmac_key=KEY,
                max_events_per_batch=100,
                endpoint=srv.endpoint,
            )
            stream = read_payload_stream(spark, src, max_files_per_trigger=1)
            q = run_pipeline(
                stream, cfg, str(tmp_path / "ckpt"), sink=http_batch_sink
            )
            assert q.awaitTermination(120)
            assert q.exception() is None
            events = [e for b in srv.bodies for e in b["events"]]
            assert len(events) == len(mixed)
            got = {e["device_id"]: e["insert_id"] for e in events}
            assert {d: got[d] for d in expected} == expected
            for p in poison:
                assert re.fullmatch(r"[0-9a-f]{64}", got[p["device_id"]])
        finally:
            srv.close()

    def test_streaming_dedup_within_watermark(self, spark, tmp_path):
        # same logical event in two micro-batches → one survivor
        payloads = payloads_for(4, dup_of=1)
        src = str(tmp_path / "in")
        write_payload_files(payloads, src, files=2)

        stream = read_payload_stream(spark, src, max_files_per_trigger=1)
        from fxa_amplitude_send_spark.operators.event_pipeline import (
            parse_envelope,
            pseudonymize,
            validity_predicate,
            with_insert_id,
        )

        parsed = with_insert_id(
            pseudonymize(
                parse_envelope(stream).filter(validity_predicate()), KEY
            ),
            KEY,
        )
        deduped = dedup_within_watermark(parsed, watermark_delay="2 hours")
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_out")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT insert_id FROM dedup_out").collect()
        assert len(rows) == 1


class TestMetrics:
    def test_progress_listener_captures_batches(self, spark, tmp_path, caplog):
        from fxa_amplitude_send_spark.streaming.metrics import ProgressListener

        caplog.set_level(logging.INFO, logger="fxa_amplitude_send_spark.metrics")
        listener = ProgressListener(emit_log=True)
        spark.streams.addListener(listener)
        try:
            payloads = payloads_for(12)
            src = str(tmp_path / "in_metrics")
            write_payload_files(payloads, src, files=2)
            cfg = PipelineConfig(
                amplitude_api_key="k", hmac_key=KEY, max_events_per_batch=100
            )
            stream = read_payload_stream(spark, src, max_files_per_trigger=1)
            q = run_pipeline(
                stream,
                cfg,
                checkpoint_dir=str(tmp_path / "ckpt_metrics"),
            )
            q.awaitTermination(120)
            import time

            def processed(records):
                return [
                    r
                    for r in records
                    if r["type"] == "events.processed" and r["query_id"] == str(q.id)
                ]

            # listener events are delivered asynchronously
            deadline = time.time() + 30
            while time.time() < deadline:
                if len(processed(listener.records)) >= 2 and any(
                    r["type"] == "query.terminated" for r in listener.records
                ):
                    break
                time.sleep(0.5)
            assert any(r["type"] == "query.started" for r in listener.records)
            progressed = processed(listener.records)
            assert sum(r["numInputRows"] for r in progressed) == 12
            # observe-based per-batch counts agree with the listener totals
            counts = observed_counts(q)
            assert len(counts) == 2  # one micro-batch per file
            assert sum(i for i, _ in counts) == 12
            assert all(o == i for i, o in counts)
            # the events.processed record carries them (pino parity)
            assert [(r["inputCount"], r["outputCount"]) for r in progressed] == counts
            # emit_log: one JSON line per batch with the same record
            logged = processed(
                json.loads(r.getMessage())
                for r in caplog.records
                if r.name == "fxa_amplitude_send_spark.metrics"
            )
            assert [(r["inputCount"], r["outputCount"]) for r in logged] == counts
        finally:
            spark.streams.removeListener(listener)


class TestIncrementalView:
    def test_view_equals_batch_aggregate_and_survives_restarts(
        self, spark, sf_smoke, tmp_path
    ):
        """Each micro-batch is appended exactly once to a versioned table
        (txn id = query tag + batch id) and the COUNT/SUM view is refreshed
        from its change feed in the same foreachBatch. After draining the
        stream the view equals the one-shot batch aggregate; a restart over
        the same checkpoint is a no-op; and a REPLAY of the last batch (its
        commit log entry deleted, as after a crash between the sink and the
        checkpoint commit) leaves the table version and the view unchanged."""
        import os

        import pyspark.sql.functions as F

        from fxa_amplitude_send_spark.sinks.materialized_view import (
            create_mv,
            read_mv,
            refresh_mv,
        )
        from fxa_amplitude_send_spark.sinks.versioned import (
            append_snapshot_idempotent,
            current_version,
            streaming_txn_tag,
        )

        # money on the integer-cents grid, as in q_stream_mv
        events = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_c"),
        )
        src_dir = str(tmp_path / "events_in")
        # several input files so availableNow processes multiple batches
        events.repartition(4).write.mode("overwrite").parquet(src_dir)

        table = str(tmp_path / "events_table")
        mv = str(tmp_path / "view")
        ckpt = str(tmp_path / "ckpt")

        delivered: list[int] = []

        def ingest(batch_df, batch_id):
            delivered.append(batch_id)
            txn = f"{streaming_txn_tag(batch_df, ckpt)}-{batch_id}"
            append_snapshot_idempotent(batch_df, table, txn)
            if current_version(mv) == 0:
                create_mv(
                    batch_df.sparkSession, table, mv,
                    keys=["event_type"], sums=["value_c"],
                )
            else:
                refresh_mv(batch_df.sparkSession, mv)

        def run():
            delivered.clear()
            q = (
                spark.readStream.schema("event_type string, value_c long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
                .writeStream.foreachBatch(ingest)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return list(delivered)

        def view():
            return {
                (r.event_type, r.mv_count, int(r.sum_value_c))
                for r in read_mv(spark, mv).collect()
            }

        assert run() == [0, 1, 2, 3]
        expected = {
            (r.event_type, r.n, r.s)
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("s"))
            .collect()
        }
        assert view() == expected
        version = current_version(table)
        assert version == 4
        assert current_version(mv) == 4

        # restart over the same checkpoint: nothing new to process
        assert run() == []
        assert current_version(table) == version
        assert view() == expected

        # replay: drop the last batch's commit so the restart re-runs it
        commits = os.path.join(ckpt, "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        os.remove(os.path.join(commits, str(last)))
        crc = os.path.join(commits, f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        assert run() == [last]  # the batch was delivered again
        assert current_version(table) == version
        assert current_version(mv) == 4
        assert view() == expected
