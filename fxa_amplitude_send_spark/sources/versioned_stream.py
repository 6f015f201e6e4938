"""Streaming CDC reader for the manifest-versioned table (Spark 4 Python
DataSource API): ``spark.readStream.format("versioned_table")`` tails a
table's change feed the way Delta's readStream does.

Offsets ARE table versions: each micro-batch covers the manifests committed
in (start_version, end_version] and reads exactly their ``appended`` file
lists — appends flow through once, compactions contribute nothing (their
appended list is empty), and a restart resumes from the checkpointed
version. With ``readChangeFeed=true`` a REPLACE version fails the stream, as
the batch change feed refuses it: its appended list is the whole
replacement, not a delta. Combined with
sinks/versioned.versioned_stream_writer (exactly-once appends) this closes
the loop: table → stream → table with no duplicates in either direction.

Partitioning: one input partition per appended file, so read parallelism
follows the append's own file count. Row decode happens executor-side via
pyarrow over the immutable data file — stdlib + pyarrow only, no repo-module
references (executor Python workers don't have the repo on sys.path; see
the verify skill's pickling gotcha).

The reference ETL's analogue is the ack-cursor replay of its queue pull
(synchronous-pull.js:44-52, 88-92) — same at-least-once offset contract,
upgraded to versioned-table semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType


def _replace_refusal(path: str, v: int) -> RuntimeError:
    """The change feed's refusal of a REPLACE version, raised by both the
    batch reader (sinks/materialized_view._change_feed) and the streaming
    one: a replace lists ALL its files under ``appended``, so emitting them
    as inserts would add the whole replacement without retracting the
    prior content."""
    return RuntimeError(
        f"base {path}: version {v} is a full REPLACE "
        "(write_snapshot over existing content) — its manifest lists "
        "the entire replacement under 'appended', which is not an "
        "incremental delta; rebuild the consumer from the current snapshot "
        "(a view: create_mv())"
    )


class _AppendedFilePartition(InputPartition):
    def __init__(self, full_path: str, field_names: list[str], synth_change: str | None = None):
        self.full_path = full_path
        self.field_names = field_names
        # readChangeFeed mode: 'insert' to synthesize _change_type for plain
        # appended files; None when the file physically carries the column
        # (or CDF mode is off)
        self.synth_change = synth_change


class _VersionedStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("versioned_table requires option 'path'")
        self.cdf = options.get("readChangeFeed", "false").lower() == "true"
        self.field_names = [
            f.name for f in schema.fields if f.name != "_change_type"
        ]
        # cap versions per micro-batch so a long-idle consumer catches up in
        # bounded batches instead of one giant one
        self.max_versions = int(options.get("maxVersionsPerBatch", "10"))
        # startingVersion=N skips history: the feed begins AFTER version N
        # (first batch covers N+1..). Only consulted for a fresh checkpoint
        # (initialOffset); restarts resume from the checkpointed offset.
        self.start_version = int(options.get("startingVersion", "0"))
        self._cursor = self.start_version
        # False until Spark has revealed the checkpointed position via an
        # initialOffset (fresh query) or partitions/commit (restart) call —
        # only then is capping against _cursor safe (see latestOffset).
        self._synced = False

    def _current(self) -> int:
        cur = os.path.join(self.path, "_manifests", "CURRENT")
        if not os.path.exists(cur):
            return 0
        with open(cur, encoding="utf-8") as fh:
            return int(fh.read().strip())

    def _manifest(self, v: int) -> dict:
        with open(
            os.path.join(self.path, "_manifests", f"v{v:06d}.json"),
            encoding="utf-8",
        ) as fh:
            return json.load(fh)

    def initialOffset(self):
        # start of the change feed: before version startingVersion+1
        # (default 0 = the table's entire history). Spark calls this ONLY on
        # a fresh checkpoint, so it doubles as the "no hidden restored
        # offset exists" signal — capping in latestOffset is safe from here.
        self._synced = True
        return {"version": self.start_version}

    def latestOffset(self):
        # monotonic: CURRENT only moves forward (commits are append-only
        # renames), capped to bound batch size after long idle periods.
        # _cursor re-syncs from every Spark-provided offset (initialOffset /
        # partitions / commit). On a RESTART Spark restores the checkpointed
        # offset silently (no initialOffset call) and may ask latestOffset
        # FIRST — offsets are compared by equality only, so a capped answer
        # below the restored offset would plan a (high→low) "batch" and the
        # next batch would re-deliver every version in between as duplicates.
        # Until a Spark-provided offset has synced the cursor, answer with
        # uncapped CURRENT, which is always >= any offset Spark ever
        # checkpointed against this table: the first post-restart batch may
        # be large, but is never duplicated.
        if not self._synced:
            self._cursor = max(self._cursor, self._current())
            return {"version": self._cursor}
        cur = self._cursor
        latest = min(self._current(), cur + self.max_versions)
        self._cursor = max(cur, latest)
        return {"version": self._cursor}

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        self._cursor = max(self._cursor, lo, hi)
        self._synced = True
        parts = []
        for v in range(lo + 1, hi + 1):
            m = self._manifest(v)
            if self.cdf and m.get("kind") == "replace":
                raise _replace_refusal(self.path, v)
            for rel in m["appended"]:
                parts.append(
                    _AppendedFilePartition(
                        os.path.join(self.path, rel),
                        self.field_names,
                        synth_change="insert" if self.cdf else None,
                    )
                )
            if self.cdf:
                # MERGE versions: dedicated change files carrying the
                # _change_type column physically (insert / update_postimage)
                for rel in m.get("changes", []):
                    parts.append(
                        _AppendedFilePartition(
                            os.path.join(self.path, rel),
                            self.field_names + ["_change_type"],
                        )
                    )
        return parts or [_AppendedFilePartition("", [])]

    def read(self, partition):
        if not partition.full_path:
            return
        import pyarrow.parquet as pq

        table = pq.read_table(partition.full_path)
        for row in table.to_pylist():
            out = tuple(row.get(name) for name in partition.field_names)
            if partition.synth_change is not None:
                out = out + (partition.synth_change,)
            yield out

    def commit(self, end):
        self._cursor = max(self._cursor, end["version"])
        self._synced = True

    def stop(self):
        pass


class VersionedTableDataSource(DataSource):
    """format("versioned_table"): stream a versioned table's append feed."""

    @classmethod
    def name(cls):
        return "versioned_table"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("versioned_table requires option 'path'")
        cur_file = os.path.join(path, "_manifests", "CURRENT")
        with open(cur_file, encoding="utf-8") as fh:
            v = int(fh.read().strip())
        with open(
            os.path.join(path, "_manifests", f"v{v:06d}.json"), encoding="utf-8"
        ) as fh:
            manifest = json.load(fh)
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        if self.options.get("readChangeFeed", "false").lower() == "true":
            from pyspark.sql.types import StringType, StructField

            schema = StructType(
                schema.fields + [StructField("_change_type", StringType())]
            )
        return schema

    def streamReader(self, schema):
        return _VersionedStreamReader(self.options, schema)
