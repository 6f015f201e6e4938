"""fxa_stream: the paper's pull -> parse -> HMAC -> fan-out -> POST -> ack loop.

A seeded backlog of FxA payload files drains through ``read_queue_stream``
(file kind, one file per micro-batch) -> ``run_pipeline`` ->
``http_batch_sink`` into an in-process keep-alive capture server. It is a
closed loop: the stream pulls the next file only after the previous batch
was posted and committed, as the reference pulls only after the ack.

``run_pipeline`` is called without ``metrics_log``: with a foreachPartition
sink that call never returns (README, known defects), so counts come from
``ProgressListener`` and the capture server.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from collections import Counter
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from common import (
    CPUS,
    Tracer,
    Window,
    last_job_id,
    median,
    spark_jobs_since,
    spark_layer_metrics,
)
from gen import PayloadGen

EVENTS_PER_BATCH = 2000
SETUP_REPS = 3
SETUP_EVENTS = 200  # set-up measures pipeline start, so its batch is small
WARMUP_BATCHES = 1  # the set-up pipelines warm the same code first
#: Timed batches per second of --seconds: the reference host's steady rate,
#: so a run does a fixed amount of work that lasts about --seconds there.
BATCHES_PER_SECOND = 1.0
OFFSET_PHASES = ("latestOffset", "walCommit", "commitOffsets")
#: Trigger phases in execution order; addBatch less the sink call is the
#: driver-side plan building inside foreachBatch.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
PHASE_SPANS = dict.fromkeys(OFFSET_PHASES, "streaming.offsets") | {
    "addBatch": "streaming.driver_build"
}


class CaptureServer:
    """Stands in for the Amplitude /batch endpoint: records every POST."""

    def __init__(self):
        self.lock = threading.Lock()
        self.requests: list[tuple[float, float, int, int]] = []  # start, end, events, bytes
        self.insert_ids: Counter = Counter()
        self.identify = 0
        self.digests: set[str] = set()
        self.duplicates = 0
        self.open_conns = 0
        self.max_conns = 0
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def setup(self):
                with outer.lock:
                    outer.open_conns += 1
                    outer.max_conns = max(outer.max_conns, outer.open_conns)
                super().setup()

            def finish(self):
                super().finish()
                with outer.lock:
                    outer.open_conns -= 1

            def do_POST(self):  # noqa: N802
                t0 = time.time()
                raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                events = json.loads(raw)["events"]
                ids = [e["insert_id"] for e in events if e["event_type"] != "$identify"]
                digest = hashlib.sha1(raw).hexdigest()
                with outer.lock:
                    if digest in outer.digests:
                        outer.duplicates += 1  # a retry the server had received
                    outer.digests.add(digest)
                    outer.insert_ids.update(ids)
                    outer.identify += len(events) - len(ids)
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"{}")
                with outer.lock:
                    outer.requests.append((t0, time.time(), len(events), len(raw)))

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.server.server_port}/batch"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)


def _wait(pred, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not pred():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.005)


class Stream:
    """One running query over ``src``; batches are counted via ProgressListener."""

    def __init__(self, spark, src, ckpt, cfg, sink, listener):
        from fxa_amplitude_send_spark.streaming.pipeline import (
            QueueSource,
            read_queue_stream,
            run_pipeline,
        )

        self.listener = listener
        self.seen = len(self._done())
        stream = read_queue_stream(
            spark, QueueSource(kind="file", path=src, max_per_trigger=1)
        )
        self.query = run_pipeline(stream, cfg, ckpt, sink=sink, available_now=False)

    def _done(self) -> list[dict]:
        return [
            r
            for r in list(self.listener.records)
            if r["type"] == "events.processed" and r["numInputRows"] > 0
        ]

    def batches(self) -> list[dict]:
        return self._done()[self.seen :]

    def wait_batches(self, n: int, timeout: float = 150) -> list[dict]:
        def ready():
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            return len(self.batches()) >= n

        _wait(ready, timeout, f"{n} micro-batches")
        return self.batches()[:n]

    def stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination(60)


def _trigger_starts(query) -> dict[int, float]:
    out = {}
    for p in query.recentProgress:
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        out[p.batchId] = ts
    return out


def _batch_spans(tracer, batch, start, sink_call, requests, op) -> None:
    """Spans of one micro-batch, laid out from its progress durations: the
    phases run one after another from the trigger start; the sink call ends
    where addBatch ends, and the capture server's requests sit inside it at
    their real offsets from the sink call's start."""
    d = batch["durationMs"]
    end = start + d["triggerExecution"] / 1000
    root = tracer.add("streaming.batch", start, end, None, op)
    t = start
    for phase in PHASES:
        t_next = min(t + d.get(phase, 0) / 1000, end)
        sid = tracer.add(PHASE_SPANS.get(phase, f"streaming.{phase}"), t, t_next, root, op)
        if phase == "addBatch":
            add_batch = (sid, t, t_next)
        t = t_next
    parent, ab_start, ab_end = add_batch
    real_start, real_end = sink_call
    shift = ab_end - real_end
    lo = max(ab_start, real_start + shift)
    call = tracer.add("sinks.http_batch.call", lo, ab_end, parent, op)
    for r0, r1, _, _ in requests:
        if real_start <= r0 <= real_end:
            s, e = max(lo, r0 + shift), min(ab_end, r1 + shift)
            if e > s:
                tracer.add("capture.request", s, e, call, op)


def _drain(spark, stream, gen, src, staging, first_index, n_batches, sink_calls):
    """Stage ``n_batches`` files, then move them into the source directory
    and wait until each was posted and committed; only the wait is timed."""
    staged = [gen.stage(first_index + i, staging) for i in range(n_batches)]
    before = len(stream.batches())
    job0 = last_job_id(spark)
    sink_calls.clear()
    with Window() as w:
        for path in staged:
            os.replace(path, os.path.join(src, os.path.basename(path)))
        batches = stream.wait_batches(before + n_batches)[before:]
    return w, batches, job0


def _single_cpu_events_per_s(spark, rundir, gen, cfg, first_index, n_batches, written):
    """The scaling baseline: the same drain on a fresh SparkContext with
    SPARK_GRAFT_CPUS=1, in the same (already warm) JVM. Returns the new
    session and its events per second."""
    from fxa_amplitude_send_spark.sinks.http_batch import http_batch_sink
    from fxa_amplitude_send_spark.streaming.metrics import ProgressListener

    from common import start_session

    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark = start_session()
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    src, ckpt = rundir.sub("one/src"), rundir.sub("one/ckpt")
    written.append(src)
    stream = Stream(spark, src, ckpt, cfg, http_batch_sink, listener)
    staging = rundir.sub("staging")
    for i in range(WARMUP_BATCHES):
        gen.write(first_index + i, src, staging)
    stream.wait_batches(WARMUP_BATCHES)
    w, _, _ = _drain(
        spark, stream, gen, src, staging, first_index + WARMUP_BATCHES, n_batches, []
    )
    stream.stop()
    return spark, n_batches * EVENTS_PER_BATCH / w.wall


def run(args, rundir, spark_start):
    from fxa_amplitude_send_spark.config import PipelineConfig
    from fxa_amplitude_send_spark.sinks.http_batch import http_batch_sink
    from fxa_amplitude_send_spark.streaming.metrics import ProgressListener

    gen = PayloadGen(args.seed, EVENTS_PER_BATCH)
    setup_gen = PayloadGen(args.seed + 1_000_000, SETUP_EVENTS)
    staging = rundir.sub("staging")
    server = CaptureServer()
    cfg = PipelineConfig(
        amplitude_api_key="perfbench",
        hmac_key=f"perfbench-{args.seed}",
        max_events_per_batch=EVENTS_PER_BATCH,
        endpoint=server.endpoint,
    )
    sink_calls: list[tuple[float, float]] = []

    def timed_sink(df, config):
        t0 = time.time()
        http_batch_sink(df, config)
        sink_calls.append((t0, time.time()))

    result: dict = {"detail": {}}
    spark, launch_s = spark_start()
    try:
        listener = ProgressListener()
        spark.streams.addListener(listener)
        written = []  # every source dir, for the correctness check

        # set-up: a fresh pipeline from query start to its first acked batch
        prep = []
        for rep in range(SETUP_REPS):
            src, ckpt = rundir.sub(f"setup{rep}/src"), rundir.sub(f"setup{rep}/ckpt")
            setup_gen.write(rep, src, staging)
            written.append(src)
            t0 = time.perf_counter()
            s = Stream(spark, src, ckpt, cfg, http_batch_sink, listener)
            s.wait_batches(1)
            prep.append(time.perf_counter() - t0)
            s.stop()
        result["setup_s"] = launch_s + median(prep)
        result["detail"]["setup_launch_s"] = launch_s
        result["detail"]["setup_first_ack_s"] = prep

        src, ckpt = rundir.sub("main/src"), rundir.sub("main/ckpt")
        written.append(src)
        stream = Stream(spark, src, ckpt, cfg, timed_sink, listener)
        for i in range(WARMUP_BATCHES):
            gen.write(i, src, staging)
        stream.wait_batches(WARMUP_BATCHES)
        n_timed = math.ceil(args.seconds * BATCHES_PER_SECOND)

        w, batches, _ = _drain(
            spark, stream, gen, src, staging, WARMUP_BATCHES, n_timed, sink_calls
        )
        next_index = WARMUP_BATCHES + n_timed
        lat = [b["durationMs"]["triggerExecution"] for b in batches]
        result.update(
            ops=n_timed,
            wall_s=w.wall,
            cpu_s=w.cpu,
            peak_rss=w.peak_rss,
            latencies_ms=lat,
            events=n_timed * EVENTS_PER_BATCH,
        )
        result["detail"]["steal_ticks"] = w.steal

        if args.trace:
            tracer = Tracer(True)
            n_req0 = len(server.requests)
            tw, tbatches, job0 = _drain(
                spark, stream, gen, src, staging, next_index, n_timed, sink_calls
            )
            next_index += n_timed
            jobs = spark_jobs_since(spark, job0)
            starts = _trigger_starts(stream.query)
            reqs = server.requests[n_req0:]
            if len(sink_calls) != n_timed:
                raise RuntimeError(f"{len(sink_calls)} sink calls for {n_timed} batches")
            for op, (b, call) in enumerate(zip(tbatches, sink_calls)):
                _batch_spans(tracer, b, starts[b["batch_id"]], call, reqs, op)
            result["tracer"] = tracer
            result["layer"] = _layer_metrics(
                tracer, tbatches, sink_calls, reqs, server, tw, jobs, n_timed
            )
            result["layer"]["trace.overhead_share"] = (
                1 - (n_timed / tw.wall) / (n_timed / w.wall), "ratio"
            )
            result["layer"].update(_operator_metrics(spark, gen, src, n_timed, cfg))
        stream.stop()

        if args.trace:
            spark, one = _single_cpu_events_per_s(
                spark, rundir, gen, cfg, next_index, n_timed, written
            )
            result["spark"] = spark
            ev_s = n_timed * EVENTS_PER_BATCH / w.wall
            result["layer"]["scaling.events_per_s_1cpu"] = (one, "1/s")
            result["layer"]["scaling.speedup"] = (ev_s / one, "ratio")

        result["correct"], result["detail"]["check"] = _check(spark, written, server, cfg)
        result["detail"]["capture_max_connections"] = server.max_conns
    finally:
        server.close()
        result.setdefault("spark", spark)
    return result


def _layer_metrics(tracer, batches, sink_calls, reqs, server, window, jobs, n):
    call_ms = [(e - s) * 1000 for s, e in sink_calls]
    offsets = [sum(b["durationMs"].get(p, 0) for p in OFFSET_PHASES) for b in batches]
    build = [b["durationMs"]["addBatch"] - c for b, c in zip(batches, call_ms)]
    events = sum(r[2] for r in reqs)
    m = {
        "streaming.offsets_ms": (median(offsets), "ms"),
        "streaming.driver_build_ms": (median(build), "ms"),
        "sinks.http_batch.call_ms": (median(call_ms), "ms"),
        "sinks.http_batch.posts_per_batch": (len(reqs) / n, "count"),
        "sinks.http_batch.events_per_post": (events / len(reqs), "count"),
        "sinks.http_batch.bytes_per_event": (sum(r[3] for r in reqs) / events, "bytes"),
        "sinks.http_batch.retries": (server.duplicates, "count"),
        "capture.busy_ms": (sum(r[1] - r[0] for r in reqs) * 1000 / n, "ms"),
    }
    m.update(spark_layer_metrics(jobs, n, window.wall))
    m["trace.unattributed_ms_per_op"] = (
        tracer.self_ms_by_name(n).get("streaming.batch", 0.0), "ms"
    )
    return m


def _operator_metrics(spark, gen, src, n_files, cfg):
    """Isolated batch noop runs over the timed files: parse+validity, then
    the pipeline without fan-out, then the full pipeline; each layer's cost
    is the difference to the run before, per micro-batch file."""
    from pyspark.sql import functions as F

    from fxa_amplitude_send_spark.operators.event_pipeline import (
        event_pipeline,
        parse_envelope,
        validity_predicate,
    )

    files = sorted(os.listdir(src))[-n_files:]
    df = spark.read.text([os.path.join(src, f) for f in files]).select(
        F.col("value").alias("payload")
    )
    variants = {
        "parse": lambda: parse_envelope(df).filter(validity_predicate()),
        "hash": lambda: event_pipeline(df, cfg.hmac_key, fanout=False),
        "fanout": lambda: event_pipeline(df, cfg.hmac_key),
    }
    t = {}
    for name, build in variants.items():
        runs = []
        for _ in range(4):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        t[name] = median(runs[1:]) * 1000 / len(files)
    return {
        "operators.parse_ms": (t["parse"], "ms"),
        "functions.hashing_ms": (t["hash"] - t["parse"], "ms"),
        "operators.fanout_ms": (t["fanout"] - t["hash"], "ms"),
    }


def _check(spark, dirs, server, cfg):
    """The capture server must hold exactly what the batch pipeline yields
    over the same payloads: the multiset of insert_ids and the number of
    $identify events."""
    from pyspark.sql import functions as F

    from fxa_amplitude_send_spark.operators.event_pipeline import event_pipeline

    paths = [os.path.join(d, f) for d in dirs for f in sorted(os.listdir(d))]
    df = spark.read.text(paths).select(F.col("value").alias("payload"))
    rows = event_pipeline(df, cfg.hmac_key).select("event_type", "insert_id").collect()
    want_ids = Counter(r.insert_id for r in rows if r.event_type != "$identify")
    want_identify = sum(1 for r in rows if r.event_type == "$identify")
    ok = want_ids == server.insert_ids and want_identify == server.identify
    return ok, {
        "payload_files": len(paths),
        "events_expected": len(rows),
        "events_posted": sum(server.insert_ids.values()) + server.identify,
        "identify_expected": want_identify,
        "identify_posted": server.identify,
    }
