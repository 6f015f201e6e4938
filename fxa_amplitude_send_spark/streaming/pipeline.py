"""Structured Streaming wrapper: the reference's poll loop as micro-batches.

Mapping (SURVEY.md §3.4):

| reference (synchronous-pull.js)        | engine                               |
|----------------------------------------|--------------------------------------|
| while(isProcessing) pull ≤N msgs (:44) | micro-batch trigger + per-trigger    |
|                                        | source rate limit                    |
| parseMessage map (:56-72)              | the SAME batch expressions —         |
|                                        | event_pipeline() applied once to the |
|                                        | streaming DataFrame, reused by every |
|                                        | micro-batch                          |
| send with retry (:74-86)               | foreachBatch → http_batch_sink       |
| ack after send (:88-92)                | checkpoint commit after the batch    |
|                                        | function returns (at-least-once)     |
| Amplitude insert_id dedup (utils:74)   | dropDuplicatesWithinWatermark        |
| events.processed metrics (:94-101)     | named streaming observes events_in / |
|                                        | events_out → progress observedMetrics|

Sources are declared via ``QueueSource`` + ``read_queue_stream``: the kafka
kind (maxOffsetsPerTrigger = MAX_EVENTS_PER_BATCH) is the production queue
reader; the file kind (maxFilesPerTrigger, no connector jar needed) stands
in for it in this container through the identical interface.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.event_pipeline import event_pipeline
from .metrics import EVENTS_IN, EVENTS_OUT


def read_payload_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Unbounded stream of JSON payload lines from a directory (R1 analogue).

    Each text line is one payload — the post-decode shape of
    ``synchronous-pull.js:57``. Rate limiting via maxFilesPerTrigger mirrors
    the ≤ MAX_EVENTS_PER_BATCH pull cap.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path).select(F.col("value").alias("payload"))


@dataclass(frozen=True)
class QueueSource:
    """Declarative description of the upstream message queue (R1).

    The reference pulls from a durable queue with a per-pull cap
    (synchronous-pull.js:24-34,45-52: MAX_EVENTS_PER_BATCH=10 000). The
    public-knowledge equivalent on Spark is the Kafka source with
    ``maxOffsetsPerTrigger``; the file kind is the container-testable
    stand-in that rides the exact same interface (``read_queue_stream``),
    so swapping file → kafka touches configuration only, not the pipeline.

    ``max_per_trigger`` is the MAX_EVENTS_PER_BATCH analogue: records per
    micro-batch for kafka (maxOffsetsPerTrigger), files per micro-batch for
    the file stand-in (maxFilesPerTrigger).
    """

    kind: str = "file"  # "file" | "kafka"
    path: str | None = None  # file kind: directory of payload lines
    brokers: str | None = None  # kafka kind: bootstrap servers
    topic: str | None = None  # kafka kind: subscription
    max_per_trigger: int | None = None
    starting_offsets: str = "earliest"

    def __post_init__(self):
        if self.kind == "file" and not self.path:
            raise ValueError("file source requires path")
        if self.kind == "kafka" and not (self.brokers and self.topic):
            raise ValueError("kafka source requires brokers and topic")
        if self.kind not in ("file", "kafka"):
            raise ValueError(f"unknown queue source kind: {self.kind}")


def kafka_reader_options(src: QueueSource) -> dict[str, str]:
    """The exact option map handed to ``readStream.format("kafka")`` —
    factored out so the rate-limit parity (maxOffsetsPerTrigger ↔
    MAX_EVENTS_PER_BATCH, synchronous-pull.js:33) is unit-testable without
    the Kafka connector jar."""
    opts = {
        "kafka.bootstrap.servers": src.brokers,
        "subscribe": src.topic,
        "startingOffsets": src.starting_offsets,
    }
    if src.max_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(src.max_per_trigger)
    return opts


def read_queue_stream(spark: SparkSession, src: QueueSource) -> DataFrame:
    """One entry point for every queue kind; always yields the same shape —
    a single ``payload`` string column (the post-decode form of
    synchronous-pull.js:57) — so ``event_pipeline`` composes unchanged."""
    if src.kind == "kafka":
        reader = spark.readStream.format("kafka")
        for key, value in kafka_reader_options(src).items():
            reader = reader.option(key, value)
        # Kafka values are bytes; payloads are UTF-8 JSON (R3 decode happens
        # downstream in event_pipeline, same as for the file kind).
        return reader.load().select(F.col("value").cast("string").alias("payload"))
    return read_payload_stream(spark, src.path, max_files_per_trigger=src.max_per_trigger)


def dedup_within_watermark(
    df: DataFrame,
    watermark_delay: str = "1 hour",
    id_col: str = "insert_id",
) -> DataFrame:
    """Stateful streaming dedup on insert_id (the engine-side version of
    Amplitude's idempotent-sink dedup, utils.js:74): state is bounded by the
    event-time watermark, so memory doesn't grow with the stream."""
    with_event_time = df.withColumn(
        "event_time", F.timestamp_millis(F.col("time").cast("long"))
    )
    return with_event_time.withWatermark(
        "event_time", watermark_delay
    ).dropDuplicatesWithinWatermark([id_col])


def run_pipeline(
    stream_df: DataFrame,
    config: PipelineConfig,
    checkpoint_dir: str,
    hmac_key: str | None = None,
    sink: Callable[[DataFrame, PipelineConfig], None] | None = None,
    available_now: bool = True,
):
    """Wire the pipeline to a sink under at-least-once semantics: send
    inside foreachBatch, THEN let the checkpoint commit — ack-after-send
    (synchronous-pull.js:88-92). A batch failure leaves the offset
    uncommitted and the batch replays; the idempotent sink dedups by
    insert_id.

    ``event_pipeline`` is applied to the streaming DataFrame once, before
    ``writeStream``: every micro-batch reuses the analyzed plan and only the
    JVM re-plans it, so ``foreachBatch`` does nothing but call the sink (or
    the noop write). The raw ``payload`` column is dropped before the sink:
    it carries the un-pseudonymized user_id (utils.js:70-72).

    The reference's events.processed counts (synchronous-pull.js:94-101)
    ride along the sink's single pass as two named streaming observations,
    ``events_in`` and ``events_out`` (one ``n`` count each), reported in
    every ``StreamingQueryProgress.observedMetrics`` and picked up by
    ``metrics.ProgressListener``. Returns the started StreamingQuery.
    """
    key = hmac_key if hmac_key is not None else config.hmac_key
    observed_in = stream_df.observe(EVENTS_IN, F.count(F.lit(1)).alias("n"))
    out = event_pipeline(observed_in, key).drop("payload")
    out = out.observe(EVENTS_OUT, F.count(F.lit(1)).alias("n"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if sink is not None:
            sink(batch_df, config)
        else:
            batch_df.write.format("noop").mode("overwrite").save()

    writer = (
        out.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_payload_files(payloads: list[dict], directory: str, files: int = 3) -> None:
    """Test helper: split payload dicts across N text files (one JSON per
    line) so maxFilesPerTrigger=1 yields N micro-batches."""
    import os

    os.makedirs(directory, exist_ok=True)
    per = max(1, (len(payloads) + files - 1) // files)
    for i in range(0, len(payloads), per):
        with open(os.path.join(directory, f"part-{i:05d}.txt"), "w") as fh:
            for p in payloads[i : i + per]:
                fh.write(json.dumps(p) + "\n")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition.

    Both sides carry watermarks so the join state is bounded: a left row can
    only match right rows within [left.ts, left.ts + max_delay], and rows
    older than the watermark are evicted from state. This is the streaming
    form of q_join_range — same equi-anchor-plus-interval shape, same
    output, state bounded by watermark x arrival rate instead of the batch
    partition size.

    ``how='left_outer'`` additionally emits null-padded rows for left rows
    whose match window closed unmatched — emission happens only once BOTH
    watermarks pass the window end (correctness over latency: a row cannot
    be declared unmatched while a matching right row could still arrive).
    """
    from pyspark.sql import functions as F  # noqa: F811

    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner|left_outer, got {how!r}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND l.{left_ts} < r.{right_ts} "
            f"AND r.{right_ts} <= l.{left_ts} + INTERVAL {max_delay}"
        ),
        how,
    )
