"""Benchmark harness: runs every registered engine query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE compact JSON line as the FINAL stdout line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

The inline "queries" map is capped to the slowest 10 (the round-1 driver
truncated the full 107-entry line to an unparseable tail string); the full
per-query map is written to bench_results.json next to this script.

Execution is forced with the noop sink (full plan runs, nothing materializes
on the driver) — measures engine throughput, not pandas conversion.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # read before SPARK_GRAFT_CPUS is exported for build_session below
    default_cpus = "SPARK_GRAFT_CPUS" not in os.environ
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from fxa_amplitude_send_spark.session import build_session

    os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = build_session("fxa-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from fxa_amplitude_send_spark.plans import all_queries

    queries = all_queries()
    # SPARK_GRAFT_ONLY="a,b,c" restricts the run (scale-slope studies at
    # other SFs); subset runs skip the trend CSV so they can't pollute the
    # full-registry trend, and write results to SPARK_GRAFT_BENCH_OUT if set.
    only = os.environ.get("SPARK_GRAFT_ONLY", "")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        unknown = wanted - queries.keys()
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_ONLY: unknown queries {sorted(unknown)}")
        queries = {n: queries[n] for n in wanted}

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warm up the JVM/codegen once (not counted). Subset runs may exclude
    # the usual warmup query — any member works for JVM warmup.
    warm = "q_scan_project" if "q_scan_project" in queries else sorted(queries)[0]
    run_once(queries[warm])

    # Best-of-2 per query: the first run pays one-time plan analysis +
    # whole-stage-codegen compilation (irrelevant at 100 TB where it
    # amortizes to zero); the repeat measures engine throughput.
    timings: dict[str, float] = {}
    wall_start = time.perf_counter()
    for name in sorted(queries):
        try:
            timings[name] = round(min(run_once(queries[name]) for _ in range(2)), 4)
        except Exception as exc:  # noqa: BLE001
            timings[name] = -1.0
            print(f"bench error {name}: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    wall = round(time.perf_counter() - wall_start, 4)
    errors = sorted(n for n, t in timings.items() if t < 0)

    # Split means: integration gates (multi-commit lakehouse lifecycles,
    # streaming replays — machinery-dominated) vs the core analytic surface.
    # The blended mean drifts purely by composition as gates are added;
    # these two stay comparable across rounds (round-6 verdict item 3).
    from fxa_amplitude_send_spark.plans.registry import is_gate

    core = [t for n, t in timings.items() if t >= 0 and not is_gate(n)]
    gate = [t for n, t in timings.items() if t >= 0 and is_gate(n)]
    core_mean = round(sum(core) / len(core), 4) if core else None
    gate_mean = round(sum(gate) / len(gate), 4) if gate else None

    full = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "errors": errors,
        "method": "best_of_2_noop_sink",
        "wall_seconds": wall,
        "core_mean_sec": core_mean,
        "core_n": len(core),
        "gate_mean_sec": gate_mean,
        "gate_n": len(gate),
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "bench_results.json")
    )
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    # Trend artifact: per-query seconds across every recorded round
    # (BENCH_r*.json — the driver's snapshots, which carry the slowest-10
    # maps) plus this run's full map, one column per source, so a
    # regression is a one-line diff instead of a JSON-tail excavation.
    import glob

    # subset runs and non-default-SF or non-default-CPU runs must not
    # rewrite the sf0.1 full-registry trend (an sf1 study or an 8-core run
    # would silently replace the "current" column with numbers taken under
    # different conditions)
    default_sf = "SPARK_GRAFT_SF_DIR" not in os.environ
    if not only and default_sf and default_cpus:
        cols: list[tuple[str, dict]] = []
        for p in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
            try:
                with open(p) as fh:
                    rec = json.load(fh)
                # driver snapshots wrap the bench line under "parsed"
                q = (rec.get("parsed") or rec).get("queries")
                if isinstance(q, dict):
                    cols.append((os.path.basename(p).removesuffix(".json"), q))
            except (OSError, ValueError, AttributeError):
                continue
        cols.append(("current", timings))
        # scale-slope columns: the latest larger-SF runs — regressions get
        # caught at scales where data time dominates the fixed ~0.4 s/query
        # stage overhead. sf1_full covers the whole registry (round-6 verdict
        # item 6); the slowest-subset columns pin the expensive tail at sf1
        # and sf10.
        for col_name, fname in (
            ("sf1_full", "bench_sf1_full.json"),
            ("sf1_slowest", "bench_sf1_slowest.json"),
            ("sf10_slowest", "bench_sf10_slowest.json"),
        ):
            p = os.path.join(REPO, "evidence", fname)
            if os.path.exists(p):
                try:
                    with open(p) as fh:
                        cols.append((col_name, json.load(fh).get("queries", {})))
                except (OSError, ValueError):
                    pass
        os.makedirs(os.path.join(REPO, "evidence"), exist_ok=True)
        names = sorted({n for _, q in cols for n in q})
        with open(os.path.join(REPO, "evidence", "bench_trend.csv"), "w") as fh:
            fh.write("query,kind," + ",".join(c for c, _ in cols) + "\n")
            for n in names:
                fh.write(
                    n
                    + ","
                    + ("gate" if is_gate(n) else "core")
                    + ","
                    + ",".join("" if n not in q else str(q[n]) for _, q in cols)
                    + "\n"
                )

    slowest = dict(
        sorted(
            ((n, t) for n, t in timings.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    compact = dict(full)
    compact["queries"] = slowest
    compact["queries_note"] = "slowest 10 of n_queries; full map in bench_results.json"
    # Single compact line, flushed last — the driver parses the final stdout
    # line as JSON and truncates overly long ones.
    line = json.dumps(compact, separators=(",", ":"))
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
