"""Shared machinery of the benchmark: run directory and environment, the
Spark session's lifetime, process-tree CPU and RSS, host steal ticks, Spark
status-store counters, and the span tracer used by traced runs."""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Spark cores for every workload. One core of the 4-core reference host is
#: left to the payload generator, the capture server and the samplers.
CPUS = 3

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- run dir


class RunDir:
    """A fresh directory per run under ``<checkout>/.perfbench/``.

    TMPDIR, SPARK_LOCAL_DIRS, java.io.tmpdir, the warehouse dir and every
    checkpoint live here, so nothing the package caches in the system temp
    dir (staged payloads, bucketed copies, format stagings) survives from
    one run into the next: run 1 does the same work as run 22."""

    def __init__(self):
        base = os.path.join(ROOT, ".perfbench")
        self.path = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")
        self.traces = os.path.join(base, "traces")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def apply_env(self) -> None:
        """Must run before the JVM starts and before the first tempfile use."""
        import tempfile

        env = os.environ
        env["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        env["SPARK_LOCAL_DIRS"] = self.local
        env["SPARK_GRAFT_CPUS"] = str(CPUS)
        env["PYTHONHASHSEED"] = "0"
        # http_batch_sink pickles send_events_http by reference, so executor
        # workers must be able to import the package (see README, defects).
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH", "")) if p
        )
        for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            env[var] = "1"
        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        env["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--driver-java-options",
                shlex.quote(java_opts),
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={self.sub('warehouse')}"),
                "--conf",
                "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        )
        os.chdir(self.path)

    def remove(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.path, ignore_errors=True)


# ---------------------------------------------------------------- session


def start_session():
    """The package's own session builder, the way a user starts it."""
    from fxa_amplitude_send_spark.session import build_session

    spark = build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- process tree


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may contain spaces; fields resume after the last ')'
        f = raw[raw.rfind(")") + 2 :].split()
        ppid = int(f[1])
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(name)] = (ppid, ticks / _CLK_TCK, int(f[21]) * _PAGE)
    return out


def _tree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in table:
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
    return seen


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime of this process and every descendant (driver Python, the
    JVM, Python workers), counting children already reaped."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, root or os.getpid()))


def tree_rss_bytes(root: int | None = None) -> int:
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table, root or os.getpid()))


class RssSampler:
    """Peak RSS of the process tree, sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


def steal_ticks() -> int:
    """Host CPU steal from /proc/stat; a diagnostic only, never a filter."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class Window:
    """The timed part of a run: wall clock, process-tree CPU and peak RSS,
    and host steal ticks."""

    def __enter__(self):
        self.rss = RssSampler().__enter__()
        self.cpu0 = tree_cpu_seconds()
        self.steal0 = steal_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_seconds() - self.cpu0
        self.steal = steal_ticks() - self.steal0
        self.rss.__exit__(*exc)
        self.peak_rss = self.rss.peak


# ---------------------------------------------------------------- spark counters


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def spark_jobs_since(spark, after_job: int) -> list[dict]:
    """Jobs with id > ``after_job`` from the status store, each with its span
    (epoch seconds) and the summed metrics of its non-skipped stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job:
            continue
        rec = {
            "job": j.jobId(),
            "start": j.submissionTime().get().getTime() / 1000.0
            if j.submissionTime().isDefined()
            else None,
            "end": j.completionTime().get().getTime() / 1000.0
            if j.completionTime().isDefined()
            else None,
            "stages": 0,
            "tasks": 0,
            "run_ms": 0.0,
            "cpu_ms": 0.0,
            "gc_ms": 0.0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            sd = store.lastStageAttempt(ids.apply(k))
            if str(sd.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["run_ms"] += sd.executorRunTime()
            rec["cpu_ms"] += sd.executorCpuTime() / 1e6
            rec["gc_ms"] += sd.jvmGcTime()
            rec["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.append(rec)
    return out


def _union_seconds(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def spark_layer_metrics(jobs: list[dict], ops: int, wall_s: float) -> dict:
    """The ``spark.*`` per-op counters over a window of ``ops`` ops."""
    spans = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
    busy = _union_seconds(spans)
    per = lambda key: sum(j[key] for j in jobs) / ops  # noqa: E731
    return {
        "spark.jobs_per_op": (len(jobs) / ops, "count"),
        "spark.stages_per_op": (per("stages"), "count"),
        "spark.tasks_per_op": (per("tasks"), "count"),
        "spark.executor_run_ms_per_op": (per("run_ms"), "ms"),
        "spark.executor_cpu_ms_per_op": (per("cpu_ms"), "ms"),
        "spark.gc_ms_per_op": (per("gc_ms"), "ms"),
        "spark.shuffle_bytes_per_op": (per("shuffle_bytes"), "bytes"),
        "spark.spill_bytes_per_op": (per("spill_bytes"), "bytes"),
        "spark.driver_only_ms_per_op": (max(0.0, wall_s - busy) * 1000 / ops, "ms"),
    }


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, op id), epoch seconds.

    Spans are recorded only from the benchmark's own code around calls into
    the package's layers; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, op=None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name, parent=None, op=None):
        """Yields the span id; the span is recorded on exit."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), None, parent, op)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Hang each Spark job under the innermost span that contains it
        (job times are whole milliseconds, hence the slack)."""
        slack = 0.002
        layer_spans = [s for s in self.spans if s["name"] != "spark.job"]
        for j in jobs:
            if not (j["start"] and j["end"]):
                continue
            inside = [
                s for s in layer_spans
                if s["start"] - slack <= j["start"] and j["end"] <= s["end"] + slack
            ]
            if inside:
                best = max(inside, key=lambda s: s["start"])
                start, end = max(j["start"], best["start"]), min(j["end"], best["end"])
                if end > start:
                    self.add("spark.job", start, end, best["id"], best["op"])

    def self_times(self) -> dict[int, float]:
        """Span id -> its exclusive time: each instant of a root span belongs
        to the deepest span covering it (the latest-started one among
        overlapping siblings), so the self times under a root add up to the
        root's wall time exactly."""
        depth: dict[int, int] = {}
        root: dict[int, int] = {}
        for s in self.spans:  # parents are always recorded before children
            p = s["parent"]
            depth[s["id"]] = 0 if p is None else depth[p] + 1
            root[s["id"]] = s["id"] if p is None else root[p]
        groups: dict[int, list[dict]] = {}
        for s in self.spans:
            groups.setdefault(root[s["id"]], []).append(s)
        out = {s["id"]: 0.0 for s in self.spans}
        for r, spans in groups.items():
            lo, hi = self.spans[r]["start"], self.spans[r]["end"]
            cuts = sorted({lo, hi} | {min(max(t, lo), hi) for s in spans for t in (s["start"], s["end"])})
            for a, b in zip(cuts, cuts[1:]):
                mid = (a + b) / 2
                owner = max(
                    (s for s in spans if s["start"] <= mid < s["end"]),
                    key=lambda s: (depth[s["id"]], s["start"]),
                )
                out[owner["id"]] += b - a
        return out

    def self_ms_by_name(self, per_ops: int) -> dict[str, float]:
        """Total self time of each span name, in ms per op."""
        totals: dict[str, float] = {}
        for sid, t in self.self_times().items():
            name = self.spans[sid]["name"]
            totals[name] = totals.get(name, 0.0) + t
        return {n: t * 1000 / per_ops for n, t in totals.items()}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- stats


def median(values) -> float:
    return float(statistics.median(values))


def quantile(values, q: float) -> float:
    """Inclusive linear-interpolated quantile, q in (0, 1)."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))
