"""warehouse_queries: a fixed list of core registry queries over seeded
TPC-H-shaped tables at sf0.1, run one at a time into the noop sink (as
bench.py does). Every query has a DuckDB oracle; three cross the Python-UDF
boundary. The untimed warm-up pass hash-matches each result against its
oracle."""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import time
from datetime import date, datetime

from common import Tracer, Window, last_job_id, median, spark_jobs_since, spark_layer_metrics
from gen import write_warehouse

SF = 0.1
SETUP_REPS = 3
#: Timed passes over the query list per second of --seconds (the reference
#: host's rate): a fixed amount of work per run.
PASSES_PER_SECOND = 1 / 7
QUERIES = (
    "q_tpch_q3",  # 3-way join + top-k
    "q_tpch_q6",  # selective scan + aggregate
    "q_join_inner",  # plain shuffle join
    "q_window_rank",  # window rank
    "q_funnel",  # conditional aggregation over events
    "llm_doc_chunk_udtf",  # Python UDTF (BatchEvalPython)
    "llm_group_normalize",  # applyInPandas (FlatMapGroupsInPandas)
    "llm_multimodal_meta",  # mapInPandas (MapInPandas)
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
PYTHON_NODES = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|EvalPythonUDTF"
)


def _canon(v) -> str:
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null" if v is None else "NaN"
    if isinstance(v, float):
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return str(v)


def value_hash(df) -> str:
    """Order-insensitive hash over canonicalized rows, columns by name."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def _oracle_check(spark, sf_dir, order) -> list[str]:
    import duckdb

    from fxa_amplitude_send_spark.plans import all_queries
    from fxa_amplitude_send_spark.plans.registry import all_oracles

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for name in order:
        got = queries[name](spark, sf_dir).toPandas()
        want = con.execute(oracles[name]).fetchdf()
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            bad.append(f"{name}: shape {got.shape} vs oracle {want.shape}")
        elif value_hash(got) != value_hash(want):
            bad.append(f"{name}: value hash differs from oracle")
    con.close()
    return bad


def _python_nodes(spark, first_execution: int) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return sum(
        len(PYTHON_NODES.findall(execs.apply(i).physicalPlanDescription()))
        for i in range(first_execution, execs.size())
    )


def _n_executions(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsList().size()


def _passes(spark, sf_dir, order, seconds, tracer, samples) -> None:
    from fxa_amplitude_send_spark.plans import all_queries

    queries = all_queries()
    for _ in range(max(1, round(seconds * PASSES_PER_SECOND))):
        for name in order:
            op = len(samples)
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}", op=op) as root:
                with tracer.span("plans.build", root, op):
                    df = queries[name](spark, sf_dir)
                with tracer.span("spark.execute", root, op):
                    df.write.format("noop").mode("overwrite").save()
            samples.append((name, (time.perf_counter() - t0) * 1000))


def run(args, rundir, spark_start):
    from fxa_amplitude_send_spark.sql_api import register_views

    sf_dir = rundir.sub(f"sf{SF}")
    write_warehouse(args.seed, SF, sf_dir)
    order = list(QUERIES)
    random.Random(args.seed).shuffle(order)

    result: dict = {"detail": {"query_order": order}}
    spark, launch_s = spark_start()
    result["spark"] = spark

    prep = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        register_views(spark, sf_dir)
        prep.append(time.perf_counter() - t0)
    result["setup_s"] = launch_s + median(prep)
    result["detail"]["setup_launch_s"] = launch_s
    result["detail"]["setup_views_s"] = prep

    mismatches = _oracle_check(spark, sf_dir, order)  # also the warm-up pass
    off = Tracer(False)

    samples: list = []
    with Window() as w:
        _passes(spark, sf_dir, order, args.seconds, off, samples)
    result.update(ops=len(samples), wall_s=w.wall, cpu_s=w.cpu, peak_rss=w.peak_rss)
    result["latencies_ms"] = [ms for _, ms in samples]
    result["detail"]["steal_ticks"] = w.steal
    result["detail"]["query_p50_ms"] = {
        q: median(ms for n, ms in samples if n == q) for q in order
    }

    if args.trace:
        tracer = Tracer(True)
        traced: list = []
        job0, exec0 = last_job_id(spark), _n_executions(spark)
        with Window() as tw:
            _passes(spark, sf_dir, order, args.seconds, tracer, traced)
        n = len(traced)
        jobs = spark_jobs_since(spark, job0)
        tracer.attach_jobs(jobs)
        layer = spark_layer_metrics(jobs, n, tw.wall)
        layer["plans.python_udf_nodes"] = (_python_nodes(spark, exec0) / n, "count")
        layer["trace.overhead_share"] = (1 - (n / tw.wall) / (len(samples) / w.wall), "ratio")
        self_ms = tracer.self_ms_by_name(n)
        layer["trace.unattributed_ms_per_op"] = (
            sum(t for name, t in self_ms.items() if name.startswith("query.")), "ms"
        )
        layer["plans.build_ms"] = (self_ms.get("plans.build", 0.0), "ms")
        result["layer"] = layer
        result["tracer"] = tracer

    result["correct"] = not mismatches
    result["failed"] = len(mismatches)
    result["detail"]["check"] = mismatches or f"{len(order)} queries match their oracle"
    return result
