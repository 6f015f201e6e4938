"""Structured metrics emission (R18 parity).

The reference logs pino JSON records per batch — startup.error,
pubsub.pull.error, amplitude.batch.error, events.processed
(synchronous-pull.js:7-10,46,79,94-101). The engine's equivalents:

* per-batch counts: two named streaming observes, ``events_in`` and
  ``events_out``, that run_pipeline (pipeline.py) attaches to its plan once —
  computed inline with the sink pass, no extra jobs, and reported in each
  micro-batch's ``StreamingQueryProgress.observedMetrics``
* query-level progress: a StreamingQueryListener capturing every progress
  event as a structured record (rows/sec, batch duration, the two counts)
"""

from __future__ import annotations

import json
import logging

from pyspark.sql.streaming import StreamingQueryListener

logger = logging.getLogger("fxa_amplitude_send_spark.metrics")

#: Names of run_pipeline's streaming observations; each holds one count ``n``.
EVENTS_IN = "events_in"
EVENTS_OUT = "events_out"


def _observed_count(progress, name: str) -> int | None:
    row = progress.observedMetrics.get(name)
    return None if row is None else row["n"]


class ProgressListener(StreamingQueryListener):
    """Collects structured progress records; optionally logs them as JSON
    lines (the engine's pino analogue). Attach with
    ``spark.streams.addListener(listener)``."""

    def __init__(self, emit_log: bool = False):
        self.records: list[dict] = []
        self.emit_log = emit_log

    def onQueryStarted(self, event):
        self._emit({"type": "query.started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event):
        p = event.progress
        self._emit(
            {
                "type": "events.processed",
                "query_id": str(p.id),
                "batch_id": p.batchId,
                "numInputRows": p.numInputRows,
                "inputCount": _observed_count(p, EVENTS_IN),
                "outputCount": _observed_count(p, EVENTS_OUT),
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs) if p.durationMs else {},
            }
        )

    def onQueryTerminated(self, event):
        self._emit(
            {
                "type": "query.terminated",
                "id": str(event.id),
                "exception": event.exception,
            }
        )

    def onQueryIdle(self, event):
        pass

    def _emit(self, record: dict) -> None:
        self.records.append(record)
        if self.emit_log:
            logger.info(json.dumps(record))
