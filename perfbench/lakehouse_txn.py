"""lakehouse_txn: steady-state transactions on one manifest-versioned table.

Each cycle appends a fresh key range (``append_snapshot_idempotent``),
upserts a few hundred keys (``merge_snapshot_mor``), deletes the oldest key
range (``delete_snapshot_mor``), aggregates a recent key range through a
min/max-pruned ``read_snapshot`` and looks up one merged key through a
``prune_eq`` ``read_snapshot``. Every ``OPTIMIZE_EVERY``-th cycle ends with an
``optimize_snapshot``, so the live file count stays bounded and the cost of
an op does not depend on how long the run is. Appends and deletes move the
same number of keys, so the live row count stays near ``BASE_ROWS``.

Every read, and the final table, are checked against a Python model of
every op.
"""

from __future__ import annotations

import json
import os
import random
import time

from common import Tracer, Window, last_job_id, median, spark_jobs_since, spark_layer_metrics

BASE_ROWS = 30_000
BASE_FILES = 3
APPEND_ROWS = 2_000
MERGE_KEYS = 200
MERGE_NEW_KEYS = 20
OPTIMIZE_EVERY = 2
SMALL_FILE_BYTES = 128 * 1024
SETUP_REPS = 3
WARMUP_CYCLES = 1  # the set-up table creations warm the write path first
#: Timed groups of OPTIMIZE_EVERY cycles per second of --seconds (the
#: reference host's rate); whole groups, so every run has the same op mix.
GROUPS_PER_SECOND = 1 / 7
KINDS = ("append", "merge_mor", "delete_mor", "read", "optimize")
WRITES = ("append", "merge_mor", "delete_mor", "optimize")


def _v(k: int, salt: int) -> int:
    return (k * 7919 + salt) % 1_000_003


def cycle_inputs(seed: int, c: int) -> dict:
    """The inputs of cycle ``c``: a pure function of (seed, c)."""
    rng = random.Random(seed * 1_000_003 + c)
    lo_new = BASE_ROWS + c * APPEND_ROWS
    keys = sorted(rng.sample(range((c + 1) * APPEND_ROWS, lo_new + APPEND_ROWS), MERGE_KEYS))
    keys += [-(c * MERGE_NEW_KEYS + i) - 1 for i in range(MERGE_NEW_KEYS)]
    msalt = 1_000_000 + c
    return {
        "append": (lo_new, lo_new + APPEND_ROWS, c + 1),
        "merge": [(k, k % 16, _v(k, msalt), f"m{msalt}") for k in keys],
        "delete": (c * APPEND_ROWS, (c + 1) * APPEND_ROWS),
        "read": (lo_new - APPEND_ROWS, lo_new + APPEND_ROWS - 1),
        "lookup": rng.choice(keys[:MERGE_KEYS]),
    }


class Table:
    """The table under test plus the model every op is checked against."""

    def __init__(self, spark, path: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.path = path
        self.seed = seed
        self.tracer = tracer
        self.model: dict[int, tuple[int, str]] = {}
        self.cycle = 0
        self.samples: list[tuple[str, float]] = []  # (kind, ms)
        self.read_ratio: list[float] = []
        self.mismatches: list[str] = []

    def _range_df(self, lo: int, hi: int, salt: int, parts: int):
        from pyspark.sql import functions as F

        k = F.col("id")
        return self.spark.range(lo, hi, numPartitions=parts).select(
            k.alias("k"),
            (k % 16).cast("int").alias("grp"),
            ((k * 7919 + salt) % 1_000_003).alias("v"),
            F.lit(f"t{salt}").alias("tag"),
        )

    def _model_range(self, lo: int, hi: int, salt: int) -> None:
        for k in range(lo, hi):
            self.model[k] = (_v(k, salt), f"t{salt}")

    def create(self) -> None:
        from fxa_amplitude_send_spark.sinks.versioned import write_snapshot

        write_snapshot(self._range_df(0, BASE_ROWS, 0, BASE_FILES), self.path)
        self._model_range(0, BASE_ROWS, 0)

    def _op(self, kind: str, fn) -> None:
        op = len(self.samples)
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{kind}", op=op) as root:
            self._in_op = (root, op)
            fn()
        self.samples.append((kind, (time.perf_counter() - t0) * 1000))

    def _layer(self, kind: str):
        """Span around the call into sinks.versioned inside the current op."""
        return self.tracer.span(f"sinks.versioned.{kind}", *self._in_op)

    def run_cycle(self) -> None:
        from fxa_amplitude_send_spark.sinks import versioned as vt

        c = self.cycle
        inputs = cycle_inputs(self.seed, c)
        lo_new, hi_new, salt = inputs["append"]

        def append():
            df = self._range_df(lo_new, hi_new, salt, 2)
            with self._layer("append"):
                vt.append_snapshot_idempotent(df, self.path, f"perfbench-{self.seed}-{c}")

        self._op("append", append)
        self._model_range(lo_new, hi_new, salt)
        rows = inputs["merge"]

        def merge():
            df = self.spark.createDataFrame(rows, "k long, grp int, v long, tag string")
            with self._layer("merge_mor"):
                vt.merge_snapshot_mor(self.spark, self.path, df, ["k"])

        self._op("merge_mor", merge)
        for k, _, v, tag in rows:
            self.model[k] = (v, tag)

        d_lo, d_hi = inputs["delete"]

        def delete():
            with self._layer("delete_mor"):
                vt.delete_snapshot_mor(self.spark, self.path, f"k >= {d_lo} AND k < {d_hi}")

        self._op("delete_mor", delete)
        for k in range(d_lo, d_hi):
            self.model.pop(k, None)

        r_lo, r_hi = inputs["read"]
        self._op("read", lambda: self._read(r_lo, r_hi))
        self._op("read", lambda: self._lookup(inputs["lookup"]))

        if (c + 1) % OPTIMIZE_EVERY == 0:

            def optimize():
                with self._layer("optimize"):
                    vt.optimize_snapshot(
                        self.spark, self.path, dead_ratio=0.3, small_bytes=SMALL_FILE_BYTES
                    )

            self._op("optimize", optimize)
        self.cycle += 1

    def _read(self, lo: int, hi: int) -> None:
        from pyspark.sql import functions as F

        from fxa_amplitude_send_spark.sinks import versioned as vt

        with self._layer("read"):
            df = vt.read_snapshot(self.spark, self.path, prune=("k", lo, hi))
        got = (
            df.filter((F.col("k") >= lo) & (F.col("k") <= hi))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()[0]
        )
        want = [v for k, (v, _) in self.model.items() if lo <= k <= hi]
        if (got.n, got.s or 0) != (len(want), sum(want)):
            self.mismatches.append(
                f"cycle {self.cycle} read [{lo},{hi}]: got ({got.n},{got.s}) "
                f"want ({len(want)},{sum(want)})"
            )
        kept, total = vt.pruned_file_count(self.path, ("k", lo, hi))
        self.read_ratio.append(kept / total)

    def _lookup(self, key: int) -> None:
        from pyspark.sql import functions as F

        from fxa_amplitude_send_spark.sinks import versioned as vt

        with self._layer("read"):
            df = vt.read_snapshot(self.spark, self.path, prune_eq=("k", key))
        got = [(r.v, r.tag) for r in df.filter(F.col("k") == key).select("v", "tag").collect()]
        want = [self.model[key]] if key in self.model else []
        if got != want:
            self.mismatches.append(f"cycle {self.cycle} lookup {key}: got {got} want {want}")

    def check_final(self) -> None:
        from fxa_amplitude_send_spark.sinks.versioned import read_snapshot

        rows = read_snapshot(self.spark, self.path).select("k", "grp", "v", "tag").collect()
        got = {r.k: (r.v, r.tag) for r in rows}
        if len(rows) != len(got) or got != self.model:
            self.mismatches.append(
                f"final table: {len(rows)} rows, {len(got)} keys, model {len(self.model)}"
            )
        if any(r.grp != r.k % 16 for r in rows):
            self.mismatches.append("final table: grp column corrupted")

    def run_cycles(self, seconds: float) -> None:
        groups = max(1, round(seconds * GROUPS_PER_SECOND))
        for _ in range(groups * OPTIMIZE_EVERY):
            self.run_cycle()


def _manifest_metrics(path: str, first_version: int) -> dict:
    from fxa_amplitude_send_spark.sinks.versioned import current_version

    added, sizes, live = [], [], []
    for v in range(first_version + 1, current_version(path) + 1):
        mp = os.path.join(path, "_manifests", f"v{v:06d}.json")
        sizes.append(os.path.getsize(mp))
        with open(mp) as fh:
            m = json.load(fh)
        with open(os.path.join(path, "_manifests", f"v{m['parent']:06d}.json")) as fh:
            p = json.load(fh)
        before = {e["path"] for e in p["files"]} | set(p.get("dvs") or [])
        now = {e["path"] for e in m["files"]} | set(m.get("dvs") or [])
        added.append(len(now - before) + len(m.get("changes") or []))
        live.append(len(m["files"]))
    return {
        "sinks.versioned.files_per_commit": (sum(added) / len(added), "count"),
        "sinks.versioned.manifest_bytes": (median(sizes), "bytes"),
        "sinks.versioned.live_files": (median(live), "count"),
    }


def run(args, rundir, spark_start):
    from fxa_amplitude_send_spark.sinks.versioned import current_version

    result: dict = {"detail": {}}
    spark, launch_s = spark_start()
    result["spark"] = spark

    prep = []
    for rep in range(SETUP_REPS):
        table = Table(spark, rundir.sub(f"table{rep}"), args.seed, Tracer(False))
        t0 = time.perf_counter()
        table.create()
        prep.append(time.perf_counter() - t0)
    result["setup_s"] = launch_s + median(prep)
    result["detail"]["setup_launch_s"] = launch_s
    result["detail"]["setup_create_s"] = prep

    for _ in range(WARMUP_CYCLES):
        table.run_cycle()
    table.samples.clear()

    with Window() as w:
        table.run_cycles(args.seconds)
    samples = list(table.samples)
    result.update(ops=len(samples), wall_s=w.wall, cpu_s=w.cpu, peak_rss=w.peak_rss)
    result["latencies_ms"] = [ms for _, ms in samples]
    result["detail"]["steal_ticks"] = w.steal
    result["detail"]["cycles"] = table.cycle
    result["write_p50_ms"] = median(ms for k, ms in samples if k in WRITES)
    result["read_p50_ms"] = median(ms for k, ms in samples if k == "read")

    if args.trace:
        tracer = Tracer(True)
        table.tracer = tracer
        table.samples.clear()
        table.read_ratio.clear()
        v0 = current_version(table.path)
        job0 = last_job_id(spark)
        with Window() as tw:
            table.run_cycles(args.seconds)
        n = len(table.samples)
        jobs = spark_jobs_since(spark, job0)
        tracer.attach_jobs(jobs)
        layer = {
            f"sinks.versioned.{kind}_ms": (
                median(ms for k, ms in table.samples if k == kind), "ms"
            )
            for kind in KINDS
        }
        layer["sinks.versioned.read_file_ratio"] = (median(table.read_ratio), "ratio")
        layer.update(_manifest_metrics(table.path, v0))
        layer.update(spark_layer_metrics(jobs, n, tw.wall))
        layer["trace.overhead_share"] = (1 - (n / tw.wall) / (len(samples) / w.wall), "ratio")
        self_ms = tracer.self_ms_by_name(n)
        layer["trace.unattributed_ms_per_op"] = (
            sum(t for name, t in self_ms.items() if name.startswith("op.")), "ms"
        )
        result["layer"] = layer
        result["tracer"] = tracer

    table.check_final()
    result["correct"] = not table.mismatches
    result["failed"] = len(table.mismatches)
    result["detail"]["check"] = table.mismatches[:5] or "model equal"
    return result
