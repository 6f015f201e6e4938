"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload fxa_stream --seed 1 --seconds 10 --trace 0

Workloads: fxa_stream, lakehouse_txn, warehouse_queries (see README.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a separate traced pass,
and the spans go to ``.perfbench/traces/``. The line before it is a detail
record (diagnostics such as steal ticks; not metrics). A wrong output makes
the run print ``"correct": false`` and exit 1; a run that cannot complete
exits 1 without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import common  # noqa: E402

WORKLOADS = ("fxa_stream", "lakehouse_txn", "warehouse_queries")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}

PER_LAYER = {
    "streaming.offsets_ms": "ms",
    "streaming.driver_build_ms": "ms",
    "sinks.http_batch.call_ms": "ms",
    "sinks.http_batch.posts_per_batch": "count",
    "sinks.http_batch.events_per_post": "count",
    "sinks.http_batch.bytes_per_event": "bytes",
    "sinks.http_batch.retries": "count",
    "capture.busy_ms": "ms",
    "operators.parse_ms": "ms",
    "functions.hashing_ms": "ms",
    "operators.fanout_ms": "ms",
    "scaling.events_per_s_1cpu": "1/s",
    "scaling.speedup": "ratio",
    "sinks.versioned.append_ms": "ms",
    "sinks.versioned.merge_mor_ms": "ms",
    "sinks.versioned.delete_mor_ms": "ms",
    "sinks.versioned.optimize_ms": "ms",
    "sinks.versioned.read_ms": "ms",
    "sinks.versioned.files_per_commit": "count",
    "sinks.versioned.manifest_bytes": "bytes",
    "sinks.versioned.live_files": "count",
    "sinks.versioned.read_file_ratio": "ratio",
    "plans.python_udf_nodes": "count",
    "plans.build_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.driver_only_ms_per_op": "ms",
    "trace.overhead_share": "ratio",
    "trace.unattributed_ms_per_op": "ms",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(res: dict) -> dict:
    ops = res["ops"]
    return {
        "setup_s": res["setup_s"],
        "ops_per_s": ops / res["wall_s"],
        "cpu_ms_per_op": res["cpu_s"] * 1000 / ops,
    }


def detail(args, res: dict) -> dict:
    lat = res["latencies_ms"]
    d = {
        "workload": args.workload,
        "seed": args.seed,
        "spark_graft_cpus": common.CPUS,
        "ops": res["ops"],
        "wall_s": res["wall_s"],
        "failed_op_share": res.get("failed", 0) / res["ops"],
        # a median over few mixed ops repeats only within 13-22% on
        # lakehouse_txn, and p90 needs >= 100 ops; recorded, not metrics
        "latency_p50_ms": {"value": common.median(lat), "unit": "ms", "n": len(lat)},
        "latency_p90_ms": {"value": common.quantile(lat, 0.9), "unit": "ms", "n": len(lat)},
        # repeats only within ~15-40% (JVM heap growth); recorded, not a metric
        "peak_rss_mb": {"value": res["peak_rss"] / 2**20, "unit": "MB"},
    }
    if "events" in res:
        d["events_per_s"] = {"value": res["events"] / res["wall_s"], "unit": "1/s"}
    for key in ("write_p50_ms", "read_p50_ms"):
        if key in res:
            d[key] = {"value": res[key], "unit": "ms"}
    d.update(res["detail"])
    return d


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds, so the JVM and run dir are cleaned up


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        import fxa_amplitude_send_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable here: {exc}", file=sys.stderr)
        return 2

    import importlib

    workload = importlib.import_module(args.workload)
    rundir = common.RunDir()
    rundir.apply_env()
    res: dict = {}

    def spark_start():
        t0 = time.perf_counter()
        spark = common.start_session()
        res["spark"] = spark
        return spark, time.perf_counter() - t0

    try:
        res.update(workload.run(args, rundir, spark_start))
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        try:
            if res.get("spark") is not None:
                common.stop_session(res["spark"])
        finally:
            rundir.remove()

    if args.trace:
        tracer = res.pop("tracer")
        tracer.dump(os.path.join(rundir.traces, f"{args.workload}-seed{args.seed}.jsonl"))
        layer = res["layer"]
        metrics = {
            name: {"value": float(layer.get(name, (0.0, unit))[0]), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    else:
        metrics = {
            name: {"value": float(v), "unit": END_TO_END[name]}
            for name, v in end_to_end(res).items()
        }
    print(json.dumps(detail(args, res)), flush=True)
    line = {
        "correct": bool(res["correct"]),
        "attempted": res["ops"],
        "failed": res.get("failed", 0),
        "metrics": metrics,
    }
    print(json.dumps(line), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
