"""Interleaved same-session A/B timer and job counter for registered queries.

Wall-clock throughput on a shared host drifts minute to minute, so
sequential whole-process A/Bs are unreliable. This tool runs variants
INTERLEAVED (A B A B ...) inside ONE SparkSession and reports per-variant
min/median seconds.

Each timed run also executes inside its own job group, and the scheduler's
status tracker reports every Spark job that group launched, including the
work a gate query does while BUILDING its result (lifecycle commits,
micro-batch replays) and the noop-sink action on the returned frame. That
count is the deterministic evidence for "fewer jobs" claims; a formatted
plan shows only the final read.

Usage:
  python tools/ab_timer.py QUERY[,QUERY...] [ENVVAR=a|b[,ENVVAR2=...]] [reps]

Each variant spec is ENV assignments applied before the query function runs
(query functions read the env at call time). With no spec there is one
variant. Job counts only, one run per query:

  python tools/ab_timer.py q_tpch_q3,q_stream_mv "" 1

Timing the stateful stream gates' shuffle-partition count at 4 vs 8:

  python tools/ab_timer.py q_stream_tumbling SPARK_GRAFT_STREAM_PARTITIONS=4|8 6
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1].split(",")
    specs = [s for s in (sys.argv[2].split(",") if len(sys.argv) > 2 else []) if s]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # variants = cartesian of nothing: each spec is VAR=v1|v2 — all VARs
    # flip together (variant 0 takes every v1, variant 1 every v2).
    assigns: list[tuple[str, list[str]]] = []
    for s in specs:
        var, vals = s.split("=", 1)
        assigns.append((var, vals.split("|")))
    n_variants = max((len(v) for _, v in assigns), default=1)

    from fxa_amplitude_send_spark.session import build_session
    from fxa_amplitude_send_spark.plans import all_queries

    spark = build_session("ab-timer")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    sc = spark.sparkContext
    times: dict[tuple[str, int], list[float]] = {}
    jobs: dict[tuple[str, int], list[int]] = {}
    for rep in range(reps):
        for vi in range(n_variants):
            for var, vals in assigns:
                os.environ[var] = vals[min(vi, len(vals) - 1)]
            for name in names:
                group = f"ab-{uuid.uuid4().hex[:8]}"
                sc.setJobGroup(group, f"{name} v{vi} r{rep}")
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                sc.setJobGroup(None, None)
                n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                times.setdefault((name, vi), []).append(dt)
                jobs.setdefault((name, vi), []).append(n_jobs)
                print(
                    f"rep{rep} variant{vi} {name}: {dt:.3f}s jobs={n_jobs}",
                    flush=True,
                )

    print("\n=== summary ===")
    for name in names:
        for vi in range(n_variants):
            ts = times[(name, vi)]
            lab = ",".join(f"{var}={vals[min(vi, len(vals)-1)]}" for var, vals in assigns)
            print(
                f"{name} [{lab}] min={min(ts):.3f} "
                f"median={statistics.median(ts):.3f} all={[round(t,2) for t in ts]} "
                f"jobs={jobs[(name, vi)]}"
            )


if __name__ == "__main__":
    main()
