"""Source-format coverage queries: each q_source_* round-trips a table
through a non-parquet format (CSV / JSON-lines / ORC) and aggregates the
readback, with the oracle running the same aggregate on the original
parquet — a lossless-ingestion proof that runs under the driver's hash
gate, not just in pytest.

Why aggregate instead of comparing raw rows: the gate then certifies both
the adapter (sources/formats.py) and numeric fidelity (doubles survive the
text formats via shortest-round-trip repr), while keeping result sets
small. The staged copy is written once per (table, format, source mtime)
and cached, so repeated runs only pay the readback.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table, stage_roundtrip
from .registry import query


def _stream_partitions(spark: SparkSession):
    """Context manager pinning ``spark.sql.shuffle.partitions`` (restored on
    exit) for a streaming gate's micro-batch replay.

    Stateful streaming operators take their state-store partition count from
    this conf at the FIRST micro-batch and AQE never coalesces them, so every
    micro-batch pays one task (and, for applyInPandasWithState, one Python
    worker round) per partition per stateful operator — pure machinery when
    the gate's state is a few thousand rows (hour×type windows, event types,
    per-user running pairs at gate SFs). Measured at sf0.1/local[32]:
    q_stream_tumbling 8.1→3.3 s, q_stream_stateful 11.6→5.7 s at 8 vs 32.

    The count is a provisioning decision, not a core-count derivative: state
    partitions are fixed at checkpoint creation, so production sizes them to
    expected STATE volume (~100-200 MB per partition of keyed state), which
    is what ``SPARK_GRAFT_STREAM_PARTITIONS`` overrides; the local default
    min(8, cores) keeps small-state replays off the 32-task floor while
    never exceeding the harness's parallelism."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        n = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS") or str(
            min(8, spark.sparkContext.defaultParallelism)
        )
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)

    return _cm()


def _work_root(kind: str, sf_dir: str) -> str:
    """Fresh process-private scratch dir for the versioned-table round-trip
    queries. The tag mixes a STABLE hashlib digest of sf_dir — not Python's
    per-process-salted ``hash()`` — with pid and thread id, so two
    concurrent harnesses (separate processes, or threads inside one) can
    never share a root and ``rmtree`` each other's half-written state.
    Serial reruns in one thread reuse (and first clear) the same dir, so
    /tmp stays bounded across bench loops."""
    import hashlib
    import shutil
    import tempfile
    import threading

    digest = hashlib.sha256(os.path.abspath(sf_dir).encode("utf-8")).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(),
        f"fxa_spark_{kind}_{digest}_{os.getpid()}_{threading.get_ident()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    return root


@query(
    "q_source_csv",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV → read back with explicit schema → aggregate. CSV is
    the no-pushdown worst case (row text, no column pruning) — the adapter
    exists for ingestion; the first job after ingest should land parquet."""
    c = stage_roundtrip(spark, sf_dir, "customer", "csv")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@query(
    "q_source_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines → read back → aggregate. Exercises nested-quote
    escaping (props holds JSON text inside JSON) and NTZ timestamp
    formatting on the write side; numeric fidelity via shortest-round-trip
    doubles."""
    ev = stage_roundtrip(spark, sf_dir, "events", "json")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_source_orc",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC → read back → aggregate. ORC keeps columnar pruning
    and predicate pushdown (OrcScan), so it is the format adapter that
    remains 100 TB-viable end to end; binary float storage makes the
    round-trip exact by construction."""
    li = stage_roundtrip(spark, sf_dir, "lineitem", "orc")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        # exact integer cents (money-sum discipline, q_agg_group)
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast(
                "double"
            )
            / 100
        ).alias("sum_price"),
    )


@query(
    "q_source_binaryfile",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           substr(sha256(text), 1, 16) AS sha_prefix
    FROM documents
    WHERE doc_id % 20 = 0
    """,
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — Spark's ingestion door for raw media/file
    corpora (image dirs, audio dumps, crawled HTML): every 20th document's
    UTF-8 bytes are staged as one file per doc (once per source mtime),
    read back via ``format("binaryFile")`` (path, modificationTime,
    length, content), and fingerprinted; the oracle computes the same
    byte length + SHA-256 from the documents table, proving byte-lossless
    ingestion. doc_id rides in the FILENAME — the standard pattern for
    keying opaque files — recovered with regexp_extract on the path
    column. At 100 TB binaryFile scans parallelize per-file and feed the
    multimodal decode operators (operators/multimodal.py) directly."""
    import hashlib
    import os
    import tempfile

    src_file = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src_file)
        sig = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        sig = "missing"
    tag = hashlib.sha256(f"{sf_dir}|binaryfile|{sig}".encode()).hexdigest()[:12]
    staging = os.path.join(tempfile.gettempdir(), f"fxa_spark_binfiles_{tag}")
    if not os.path.exists(os.path.join(staging, "_DONE")):
        os.makedirs(staging, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == 0)
            .select("doc_id", "text")
        )
        # bounded driver-side staging: ≤ n_docs/20 small files, written once
        for row in docs.toLocalIterator():
            with open(
                os.path.join(staging, f"doc-{row['doc_id']:08d}.bin"), "wb"
            ) as fh:
                fh.write(row["text"].encode("utf-8"))
        with open(os.path.join(staging, "_DONE"), "w") as fh:
            fh.write("ok")
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(staging)
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc-(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.substring(F.sha2(F.col("content"), 256), 1, 16).alias("sha_prefix"),
    )


@query(
    "q_source_json_badrecords",
    oracle="""
    SELECT COUNT(*) AS n_good,
           CAST(7 AS BIGINT) AS n_corrupt,
           COUNT(DISTINCT event_type) AS n_types,
           ROUND(SUM(value), 2) AS sum_value
    FROM events WHERE event_id % 100 = 0
    """,
)
def q_source_json_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling — the ingestion-robustness contract every
    100 TB pipeline needs: a staged JSONL feed of real event rows plus 7
    deterministic corrupt lines (truncated JSON, bare text, wrong
    bracket) read in PERMISSIVE mode with ``columnNameOfCorruptRecord``,
    so bad lines land in a quarantine column instead of failing the job
    or silently vanishing. The query reports good/corrupt counts and an
    aggregate over the good rows; the oracle recomputes the good side
    from the events table and pins the corrupt count. DROPMALFORMED /
    FAILFAST behaviors on the same feed are pytest-checked
    (tests/test_sources.py)."""
    import hashlib
    import json
    import os
    import tempfile

    src_file = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src_file)
        sig = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        sig = "missing"
    tag = hashlib.sha256(f"{sf_dir}|badjson|{sig}".encode()).hexdigest()[:12]
    staging = os.path.join(tempfile.gettempdir(), f"fxa_spark_badjson_{tag}")
    if not os.path.exists(os.path.join(staging, "_DONE")):
        os.makedirs(staging, exist_ok=True)
        good = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 100 == 0)
            .select("event_id", "event_type", "user_id", "value")
        )
        corrupt_lines = [
            '{"event_id": 1, "event_type": "click"',      # truncated
            "not json at all",                              # bare text
            '{"event_id": }',                               # bad value
            "[1, 2",                                        # truncated array
            # NB a VALID top-level array ('[{...}]') is not corrupt — the
            # Spark JSON reader explodes it into one row per element
            '{"event_id": "x" "event_type": "y"}',          # missing comma
            "{",                                            # open brace
            '"just a string"',                              # scalar
        ]
        with open(os.path.join(staging, "feed.jsonl"), "w") as fh:
            for row in good.toLocalIterator():
                fh.write(
                    json.dumps(
                        {
                            "event_id": row["event_id"],
                            "event_type": row["event_type"],
                            "user_id": row["user_id"],
                            "value": row["value"],
                        }
                    )
                    + "\n"
                )
            for line in corrupt_lines:
                fh.write(line + "\n")
        with open(os.path.join(staging, "_DONE"), "w") as fh:
            fh.write("ok")
    back = (
        spark.read.schema(
            "event_id long, event_type string, user_id long, value double,"
            " _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(os.path.join(staging, "feed.jsonl"))
    )
    return back.agg(
        F.count_if(F.col("_corrupt").isNull()).alias("n_good"),
        F.count_if(F.col("_corrupt").isNotNull()).alias("n_corrupt"),
        F.count_distinct(
            F.when(F.col("_corrupt").isNull(), F.col("event_type"))
        ).alias("n_types"),
        F.round(
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("value"))), 2
        ).alias("sum_value"),
    )


@query(
    "q_versioned_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    """
    + "GROUP BY event_type",
)
def q_versioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-table (sinks/versioned.py) pulled into the driver's
    correctness gate: events flow through write_snapshot (even ids) →
    append_snapshot (odd ids) → compact_snapshot, then the CURRENT snapshot
    is read back and aggregated. Hash-matching the oracle run on the RAW
    parquet proves the whole manifest/commit/compaction machinery is
    byte-lossless — the same certification pattern as the q_source_* staged
    round-trips."""
    from ..sinks.versioned import (
        append_snapshot,
        compact_snapshot,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table = _work_root("vtable", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), table)
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), table)
    compact_snapshot(spark, table, target_files=4)
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_versioned_timetravel",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events WHERE event_id % 2 = 0
    GROUP BY event_type
    """,
)
def q_versioned_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel under the correctness gate: after an append AND a delete
    have moved CURRENT forward, reading version 1 must still return exactly
    the original snapshot (even event_ids) — the oracle recomputes that
    state from the raw parquet. Proves historical versions are immutable
    through subsequent mutations, hash-for-hash."""
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table = _work_root("vtravel", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), table)     # v1
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), table)    # v2
    delete_snapshot(spark, table, "value < 50")                      # v3
    v1 = read_snapshot(spark, table, version=1)
    return v1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_mv_incremental",
    oracle="""
    WITH final AS (
      SELECT event_id,
             CASE WHEN event_id % 10 = 3 THEN 'migrated'
                  ELSE event_type END AS event_type,
             CASE WHEN event_id % 10 = 3 THEN value * 0.5
                  ELSE value END AS value
      FROM events
    )
    SELECT event_type, COUNT(*) AS mv_count, ROUND(SUM(value), 2) AS sum_value
    FROM final WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance under the correctness gate
    (sinks/materialized_view.py): a COUNT/SUM view is created over half the
    events, then the base absorbs an append, a reshaping merge (key moves
    BETWEEN groups — exercising update pre-image retraction), and a group
    delete; ONE refresh folds only the change feed — O(changes), never
    O(base) — and the maintained view must hash-match the oracle's
    from-scratch aggregate of the final logical state."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        merge_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = _work_root("mvbase", sf_dir)
    mv = _work_root("mv", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), base)  # v1
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), base)  # v2
    migrated = ev.filter(F.col("event_id") % 10 == 3).select(
        "event_id",
        F.lit("migrated").alias("event_type"),
        (F.col("value") * 0.5).alias("value"),  # *0.5 is exact in binary
    )
    merge_snapshot(spark, base, migrated, ["event_id"])  # v3
    delete_snapshot(spark, base, "event_type = 'error'")  # v4
    refresh_mv(spark, mv)  # folds v2..v4 from the change feed alone
    out = read_mv(spark, mv)
    return out.select(
        "event_type",
        "mv_count",
        F.round("sum_value", 2).alias("sum_value"),
    )


@query(
    "q_mv_minmax",
    oracle="""
    WITH final AS (
      SELECT event_type, value FROM events WHERE value < 75
    )
    SELECT event_type, COUNT(*) AS mv_count,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM final GROUP BY event_type
    """,
)
def q_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX materialized-view maintenance under the correctness gate
    (sinks/materialized_view.py, recompute-on-retraction): a COUNT/MIN/MAX
    view is created over half the events, the base absorbs the other half
    (insert-only fold via least/greatest) and then a DELETE of every row
    with value >= 75 — which retracts the current max of ~every group, so
    the refresh must take the danger path and re-aggregate exactly the
    affected groups from the base. The maintained view must hash-match the
    oracle's from-scratch aggregate of the final state."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = _work_root("mmbase", sf_dir)
    mv = _work_root("mmmv", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), base)   # v1
    create_mv(
        spark, base, mv, keys=["event_type"], sums=[],
        mins=["value"], maxs=["value"],
    )
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), base)  # v2
    delete_snapshot(spark, base, "value >= 75")                   # v3
    refresh_mv(spark, mv)  # insert fold + danger recompute in one window
    return read_mv(spark, mv).select(
        "event_type",
        "mv_count",
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@query(
    "q_mv_join_incremental",
    oracle="""
    WITH f AS (
      SELECT o_custkey AS custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_totalprice <= 200000
    ), d AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 'REZONED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT c_mktsegment, COUNT(*) AS mv_count,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c
    FROM f JOIN d USING (custkey)
    GROUP BY c_mktsegment
    """,
)
def q_mv_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance under the correctness gate
    (sinks/materialized_view.py with one dim): a COUNT/SUM view over
    orders ⋈ customer grouped by a DIM-side attribute is created over half
    the fact; then the fact absorbs an append + a delete AND the dim
    absorbs a segment-rewriting merge in the same refresh window. One
    refresh folds the two-term signed delta (ΔF ⋈ D_new + F_old ⋈ ΔD) —
    fact-only movement never rescans the fact — and the maintained view
    must hash-match the oracle's from-scratch join aggregate of the final
    state. Money on the exact integer-cents grid (BIGINT sums), engine- and
    SF-independent."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        merge_snapshot,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    fp = _work_root("jmvf", sf_dir)
    dp = _work_root("jmvd", sf_dir)
    mv = _work_root("jmv", sf_dir)
    write_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), fp)  # f v1
    write_snapshot(cust, dp)                                         # d v1
    create_mv(
        spark, fp, mv, keys=["c_mktsegment"], sums=["price_c"],
        dims=[{"path": dp, "on": ["custkey"]}],
    )
    append_snapshot(orders.filter(F.col("o_orderkey") % 2 == 1), fp)  # f v2
    delete_snapshot(spark, fp, "o_totalprice > 200000")               # f v3
    rezoned = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_mktsegment", F.lit("REZONED")
    )
    merge_snapshot(spark, dp, rezoned, ["custkey"])                   # d v2
    refresh_mv(spark, mv)  # both sides fold in ONE window
    return read_mv(spark, mv).select(
        "c_mktsegment",
        "mv_count",
        F.col("sum_price_c").cast("long").alias("sum_price_c"),
    )


@query(
    "q_mv_chain",
    oracle="""
    WITH final AS (
      SELECT event_id % 4 AS bucket, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events WHERE event_type <> 'error'
    ), mv1 AS (
      SELECT event_type, bucket, COUNT(*) AS n,
             CAST(SUM(value_c) AS BIGINT) AS s
      FROM final GROUP BY event_type, bucket
    )
    SELECT event_type, COUNT(*) AS mv_count,
           CAST(SUM(n) AS BIGINT) AS sum_mv_count,
           CAST(SUM(s) AS BIGINT) AS sum_sum_value_c
    FROM mv1 GROUP BY event_type
    """,
)
def q_mv_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED incremental view maintenance under the correctness gate:
    MV1 aggregates the base by (event_type, bucket); MV2 aggregates MV1 by
    event_type, refreshing off MV1's OWN change feed (refreshes commit
    kind='merge' with real CDF pre/postimage files —
    sinks/materialized_view.py _stage_mv_refresh). The base absorbs an
    append and a group delete; each level folds only its upstream's
    changes, and the top of the chain must hash-match the oracle's
    from-scratch two-level aggregate of the final state. Money on the
    integer-cents grid."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 4).alias("bucket"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    base = _work_root("chbase", sf_dir)
    mv1 = _work_root("chmv1", sf_dir)
    mv2 = _work_root("chmv2", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), base)      # v1
    create_mv(spark, base, mv1, keys=["event_type", "bucket"], sums=["value_c"])
    create_mv(spark, mv1, mv2, keys=["event_type"], sums=["mv_count", "sum_value_c"])
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), base)     # v2
    delete_snapshot(spark, base, "event_type = 'error'")             # v3
    refresh_mv(spark, mv1)  # folds the base change feed
    refresh_mv(spark, mv2)  # folds MV1's OWN change feed
    return read_mv(spark, mv2).select(
        "event_type",
        "mv_count",
        F.col("sum_mv_count").cast("long").alias("sum_mv_count"),
        F.col("sum_sum_value_c").cast("long").alias("sum_sum_value_c"),
    )


@query(
    "q_mv_star",
    oracle="""
    WITH f AS (
      SELECT o_custkey AS custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_totalprice <= 200000
    ), c AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 0
                  ELSE c_nationkey END AS nationkey
      FROM customer
    ), n AS (
      SELECT n_nationkey AS nationkey,
             CASE WHEN n_regionkey = 2 THEN 'ASIA-ZONE' ELSE n_name END
               AS n_name
      FROM nation
    )
    SELECT n_name, COUNT(*) AS mv_count,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c
    FROM f JOIN c USING (custkey) JOIN n USING (nationkey)
    GROUP BY n_name
    """,
)
def q_mv_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake-view maintenance under the correctness gate
    (sinks/materialized_view.py with two dims): a COUNT/SUM view over
    orders ⋈ customer ⋈ nation grouped by the OUTERMOST dim's attribute
    (n_name) is created over half the fact; then in ONE refresh window the
    fact absorbs an append + a delete, the middle dim absorbs a
    nation-migrating merge (the join key itself changes — rows move
    between outer groups), and the outer dim absorbs a group-MERGING rename
    (every ASIA nation becomes one group).
    One refresh folds the telescoping three-term signed delta — fact-only
    movement never rescans the fact — and the maintained view must
    hash-match the oracle's from-scratch two-hop join aggregate of the
    final state. Money on the exact integer-cents grid (BIGINT sums),
    engine- and SF-independent."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        merge_snapshot,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        "c_mktsegment",
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name", "n_regionkey"
    )
    fp = _work_root("smvf", sf_dir)
    cp = _work_root("smvc", sf_dir)
    np_ = _work_root("smvn", sf_dir)
    mv = _work_root("smv", sf_dir)
    write_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), fp)  # f v1
    write_snapshot(cust, cp)                                         # c v1
    write_snapshot(nation, np_)                                      # n v1
    create_mv(
        spark, fp, mv, keys=["n_name"], sums=["price_c"],
        dims=[
            {"path": cp, "on": ["custkey"]},
            {"path": np_, "on": ["nationkey"]},
        ],
    )
    append_snapshot(orders.filter(F.col("o_orderkey") % 2 == 1), fp)  # f v2
    delete_snapshot(spark, fp, "o_totalprice > 200000")               # f v3
    migrated = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "nationkey", F.lit(0).cast(dict(cust.dtypes)["nationkey"])
    )
    merge_snapshot(spark, cp, migrated, ["custkey"])                  # c v2
    renamed = (
        nation.filter(F.col("n_regionkey") == 2)
        .withColumn("n_name", F.lit("ASIA-ZONE"))
    )
    merge_snapshot(spark, np_, renamed, ["nationkey"])                # n v2
    refresh_mv(spark, mv)  # all three tables fold in ONE window
    return read_mv(spark, mv).select(
        "n_name",
        "mv_count",
        F.col("sum_price_c").cast("long").alias("sum_price_c"),
    )


@query(
    "q_mv_rewrite",
    oracle="""
    WITH final AS (
      SELECT event_type, event_id % 3 AS bucket,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events WHERE event_type <> 'error'
    )
    SELECT event_type, COUNT(*) AS mv_count,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c,
           MIN(value_c) AS min_value_c,
           MAX(value_c) AS max_value_c
    FROM final GROUP BY event_type
    """,
)
def q_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV-rewrite answering under the correctness gate
    (sinks/mv_rewrite.py): a COUNT/SUM/MIN/MAX view on the FINER grouping
    (event_type, bucket) is maintained through an append + a group delete
    (refresh folds the change feed, the delete exercising MIN/MAX
    recompute-on-retraction); a COARSER aggregate (event_type) is then
    answered BY ROLL-UP FROM THE VIEW — answer_aggregate must route to the
    MV (enforced: a base-scan fallback raises), read O(view groups)
    instead of O(base), and hash-match the oracle's from-scratch aggregate
    of the final state. Money on the exact integer-cents grid."""
    from ..sinks.materialized_view import create_mv, refresh_mv
    from ..sinks.mv_rewrite import answer_aggregate
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("event_id") % 3).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    base = _work_root("rwbase", sf_dir)
    mv = _work_root("rwmv", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), base)   # v1
    create_mv(
        spark, base, mv,
        keys=["event_type", "bucket"], sums=["value_c"],
        mins=["value_c"], maxs=["value_c"],
    )
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), base)  # v2
    delete_snapshot(spark, base, "event_type = 'error'")          # v3
    refresh_mv(spark, mv)
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"],
        mins=["value_c"], maxs=["value_c"], mv_paths=[mv],
    )
    if src != mv:  # the routing IS the point — a silent base scan is a bug
        raise RuntimeError("q_mv_rewrite: expected the MV to answer")
    return out.select(
        "event_type",
        "mv_count",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
        "min_value_c",
        "max_value_c",
    )


@query(
    "q_mv_rewrite_join",
    oracle="""
    WITH f AS (
      SELECT o_custkey AS custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_totalprice <= 250000
    ), d AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 'HOME'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT c_mktsegment, COUNT(*) AS mv_count,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c
    FROM f JOIN d USING (custkey)
    GROUP BY c_mktsegment
    """,
)
def q_mv_rewrite_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-aggregate answering from a maintained join view
    (sinks/mv_rewrite.answer_join_aggregate): a finer
    (c_mktsegment, obucket) COUNT/SUM view over orders ⋈ customer is
    maintained through a fact append + delete AND a segment-renaming dim
    merge; the coarser (c_mktsegment) join aggregate is then answered BY
    ROLL-UP FROM THE VIEW — the join-shape + subsumption + per-table
    freshness test must route to the MV (a fallback join raises), so the
    gate pins join-view maintenance and rewrite answering together.
    Money on the exact integer-cents grid."""
    from ..sinks.materialized_view import create_mv, refresh_mv
    from ..sinks.mv_rewrite import answer_join_aggregate
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        merge_snapshot,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 4).alias("obucket"),
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    fp = _work_root("rwjf", sf_dir)
    dp = _work_root("rwjd", sf_dir)
    mv = _work_root("rwjmv", sf_dir)
    write_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), fp)   # f v1
    write_snapshot(cust, dp)                                          # d v1
    create_mv(
        spark, fp, mv, keys=["c_mktsegment", "obucket"], sums=["price_c"],
        dims=[{"path": dp, "on": ["custkey"]}],
    )
    append_snapshot(orders.filter(F.col("o_orderkey") % 2 == 1), fp)  # f v2
    delete_snapshot(spark, fp, "o_totalprice > 250000")               # f v3
    renamed = cust.filter(F.col("c_mktsegment") == "HOUSEHOLD").withColumn(
        "c_mktsegment", F.lit("HOME")
    )
    merge_snapshot(spark, dp, renamed, ["custkey"])                   # d v2
    refresh_mv(spark, mv)
    out, src = answer_join_aggregate(
        spark, fp, [{"path": dp, "on": ["custkey"]}],
        keys=["c_mktsegment"], sums=["price_c"], mv_paths=[mv],
    )
    if src != mv:  # the routing IS the point
        raise RuntimeError("q_mv_rewrite_join: expected the join MV to answer")
    return out.select(
        "c_mktsegment",
        "mv_count",
        F.col("sum_price_c").cast("long").alias("sum_price_c"),
    )


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution under the correctness gate: the
    events table is staged as four parquet files and replayed as a file
    stream with maxFilesPerTrigger=1 under an availableNow trigger, so the
    tumbling-window COUNT/SUM aggregate folds its state across FOUR
    micro-batches (not one batch pretending to stream) into a
    complete-mode memory sink. The final sink contents must hash-match
    the oracle's plain batch aggregate — the prefix-equivalence guarantee
    (stream over a finite prefix == batch over it) that every pytest
    streaming suite asserts, now pinned by the driver too. Money on the
    integer-cents grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    stage = _work_root("strm_src", sf_dir)
    ev.repartition(4).write.parquet(stage)
    schema = spark.read.parquet(stage).schema
    sink = "strm_sink_" + os.path.basename(stage).rsplit("_", 2)[0][10:]
    try:  # bench reruns in one session: replace the previous sink view
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    with _stream_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_c").alias("sum_value_c"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = len(q.recentProgress)
    if n_batches < 4:  # the multi-batch fold IS the point
        raise RuntimeError(
            f"q_stream_tumbling: expected >=4 micro-batches, got {n_batches}"
        )
    return spark.table(sink).select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
    )


@query(
    "q_stream_late",
    oracle="""
    WITH arrived AS (
      SELECT ts, event_type, CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events
      WHERE NOT (ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 7)
    ), agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
             COUNT(*) AS n_events, CAST(SUM(value_c) AS BIGINT) AS sum_value_c
      FROM arrived GROUP BY 1, 2
    )
    SELECT * FROM agg
    WHERE window_start + INTERVAL 1 HOUR <=
          (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics under the correctness gate — the one
    streaming behavior the other q_stream_* gates deliberately disable
    (they use no-drop watermarks so replay == batch). Here the drop IS the
    subject: events replay as four files in CONTROLLED mtime order — three
    on-time weeks, then week 4 PLUS a week-1 straggler subset (event_id %
    10 = 7) — through a real 1-hour watermark into an append-mode windowed
    aggregate. By the time the stragglers arrive the watermark stands at
    ~Jan 21, their windows were finalized and evicted weeks before, so
    Spark must drop every one of them: enforced in-gate by summing
    numRowsDroppedByWatermark across progress events and requiring it to
    EQUAL the engineered straggler (window, type) group count — the metric
    sees merged map-side partials, one per group — and that count to be
    non-zero.
    The oracle replays the contract from first principles: stragglers
    excluded, and only windows whose end the final watermark
    (global max ts - 1h) has passed are emitted — append mode's emission
    rule, exercised by the trailing no-data flush batch.

    Scale posture: the sink holds hour×type groups over a fixed calendar
    month — O(hours·types) rows regardless of SF; watermark state is the
    same bound. Reference analogue: the poll loop's at-least-once window
    (synchronous-pull.js:56-72) has no event-time reasoning at all — this
    is the Spark-native semantics a migrating user gains."""
    import glob
    import shutil
    import time as _time

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    w2, w3, w4 = "2024-01-08", "2024-01-15", "2024-01-22"
    late = (F.col("ts") < w2) & (F.col("event_id") % 10 == 7)
    batches = [
        ev.filter((F.col("ts") < w2) & ~late),
        ev.filter((F.col("ts") >= w2) & (F.col("ts") < w3)),
        ev.filter((F.col("ts") >= w3) & (F.col("ts") < w4)),
        ev.filter((F.col("ts") >= w4) | late),
    ]
    # numRowsDroppedByWatermark counts rows reaching the post-shuffle state
    # operator — MERGED partial aggregates, one per distinct (window, type)
    # group among the stragglers, not raw input rows (verified: 221 groups
    # from 235 straggler rows at sf0.01, metric reads exactly 221).
    n_late_groups = (
        ev.filter(late)
        .select(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .distinct()
        .count()
    )
    if n_late_groups == 0:
        raise RuntimeError("q_stream_late: no stragglers engineered; vacuous")
    stage = _work_root("strm_late", sf_dir)
    os.makedirs(stage)
    tmp = stage + "_tmp"
    base = _time.time() - 4000  # mtimes strictly increasing, all in the past
    for i, b in enumerate(batches):
        shutil.rmtree(tmp, ignore_errors=True)
        b.coalesce(1).write.parquet(tmp)
        dst = os.path.join(stage, f"batch{i}.parquet")
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (base + i * 60, base + i * 60))
    shutil.rmtree(tmp, ignore_errors=True)
    schema = spark.read.parquet(stage).schema
    sink = "late_sink_" + os.path.basename(stage).rsplit("_", 2)[0][10:]
    try:  # bench reruns in one session: replace the previous sink view
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    with _stream_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            # watermarks demand TIMESTAMP; reinterpret the NTZ wall clock as
            # UTC (same reasoning as q_stream_join: session-tz casts are
            # ambiguous across DST transitions in whatever zone the harness
            # runs)
            .withColumn("tsu", F.to_utc_timestamp(F.col("ts"), "UTC"))
            .withWatermark("tsu", "1 hour")
            .groupBy(F.window("tsu", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_c").alias("sum_value_c"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(q.recentProgress) < 4:  # the per-batch watermark march IS the point
        raise RuntimeError(
            f"q_stream_late: expected >=4 micro-batches, got "
            f"{len(q.recentProgress)}"
        )
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in (p.get("stateOperators") or [])
    )
    if dropped != n_late_groups:
        raise RuntimeError(
            f"q_stream_late: watermark dropped {dropped} state rows, "
            f"engineered {n_late_groups} straggler groups — late-data "
            f"semantics not exercised"
        )
    return spark.table(sink).select(
        F.convert_timezone(None, F.lit("UTC"), F.col("window.start")).alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
    )


@query(
    "q_mv_star_minmax",
    oracle="""
    WITH f AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events
      WHERE CAST(ROUND(value * 100) AS BIGINT) < 7500
    ), d AS (
      SELECT DISTINCT event_type,
             CASE WHEN event_type IN ('click', 'view', 'signup')
                  THEN 'passive' ELSE 'active' END AS category
      FROM events
    )
    SELECT category, COUNT(*) AS mv_count,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c,
           MIN(value_c) AS min_value_c,
           MAX(value_c) AS max_value_c
    FROM f JOIN d USING (event_type)
    GROUP BY category
    """,
)
def q_mv_star_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX maintenance OVER A JOIN under the correctness gate
    (sinks/materialized_view.py recompute-on-retraction): a
    COUNT/SUM/MIN/MAX view over events ⋈ type-dim grouped by the dim's
    category is maintained through a fact append (extremes fold via
    least/greatest), a fact delete that retracts ~every group's max
    (danger groups re-aggregate from the CURRENT join), and a dim
    category-rekey merge that migrates one event type's rows — and their
    extremes — between groups via the CDF pre/postimage pair. One refresh
    folds all three; the view must hash-match the oracle's from-scratch
    join aggregate. Integer-cents grid throughout."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        merge_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    dim = ev.select("event_type").distinct().withColumn(
        "category",
        F.when(
            F.col("event_type").isin("click", "view"), F.lit("passive")
        ).otherwise(F.lit("active")),
    )
    fp = _work_root("smmf", sf_dir)
    dp = _work_root("smmd", sf_dir)
    mv = _work_root("smmv", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), fp)   # f v1
    write_snapshot(dim, dp)                                     # d v1
    create_mv(
        spark, fp, mv, keys=["category"], sums=["value_c"],
        mins=["value_c"], maxs=["value_c"],
        dims=[{"path": dp, "on": ["event_type"]}],
    )
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), fp)  # f v2
    delete_snapshot(spark, fp, "value_c >= 7500")               # f v3
    rekeyed = dim.filter(F.col("event_type") == "signup").withColumn(
        "category", F.lit("passive")
    )
    merge_snapshot(spark, dp, rekeyed, ["event_type"])          # d v2
    refresh_mv(spark, mv)  # all three movements in ONE window
    return read_mv(spark, mv).select(
        "category",
        "mv_count",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
        "min_value_c",
        "max_value_c",
    )


@query(
    "q_mv_rewrite_rollup",
    oracle="""
    WITH final AS (
      SELECT event_type, event_id % 3 AS bucket,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events WHERE event_type <> 'error'
    )
    SELECT event_type, bucket, COUNT(*) AS mv_count,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c
    FROM final
    GROUP BY ROLLUP(event_type, bucket)
    """,
)
def q_mv_rewrite_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An entire ROLLUP answered from ONE maintained view: every grouping
    set of ROLLUP(event_type, bucket) is a key-subset of the finest MV's
    grouping, so answer_aggregate serves all three levels — detail,
    per-type, grand total — by roll-up without ever scanning the base
    (each route is enforced; a fallback raises). This is the
    multi-granularity-dashboard pattern: one incremental refresh feeds
    every drill level. The base absorbs an append + a group delete before
    the refresh; result hash-matches the oracle's GROUP BY ROLLUP of the
    final state. Integer-cents grid."""
    from ..sinks.materialized_view import create_mv, refresh_mv
    from ..sinks.mv_rewrite import answer_aggregate
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("event_id") % 3).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    base = _work_root("rrbase", sf_dir)
    mv = _work_root("rrmv", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), base)   # v1
    create_mv(spark, base, mv, keys=["event_type", "bucket"], sums=["value_c"])
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), base)  # v2
    delete_snapshot(spark, base, "event_type = 'error'")          # v3
    refresh_mv(spark, mv)

    levels = [["event_type", "bucket"], ["event_type"], []]
    parts = []
    for keys in levels:
        out, src = answer_aggregate(
            spark, base, keys=keys, sums=["value_c"], mv_paths=[mv],
        )
        if src != mv:  # every level must come from the view
            raise RuntimeError(f"rollup level {keys} fell back to the base")
        parts.append(
            out.select(
                F.col("event_type") if "event_type" in keys
                else F.lit(None).cast("string").alias("event_type"),
                F.col("bucket") if "bucket" in keys
                else F.lit(None).cast("long").alias("bucket"),
                "mv_count",
                F.col("sum_value_c").cast("long").alias("sum_value_c"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_mv_rewrite_cube",
    oracle="""
    WITH final AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_orderpriority <> '1-URGENT'
    )
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS mv_count,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
           MIN(price_c) AS min_price_c,
           MAX(price_c) AS max_price_c
    FROM final
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_mv_rewrite_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full CUBE answered from ONE maintained flat view
    (sinks/mv_rewrite.answer_grouping_sets): all four grouping sets of
    CUBE(status, priority) — detail, two marginals, grand total — are
    key-subsets of the view's grouping, so each set is a tiny roll-up of
    O(view groups) rows instead of the base-sized Expand that native CUBE
    executes, and the ``gid`` column carries Spark's GROUPING_ID bitmask
    (identical to DuckDB's multi-arg GROUPING), disambiguating data NULLs
    from super-aggregate NULLs. The base absorbs an append + a group
    delete before the refresh — the delete drives MIN/MAX
    recompute-on-retraction — and routing is enforced in-gate: a silent
    base-scan fallback raises. Money on the integer-cents grid."""
    from ..sinks.materialized_view import create_mv, refresh_mv
    from ..sinks.mv_rewrite import answer_grouping_sets, cube_sets
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    base = _work_root("rcbase", sf_dir)
    mv = _work_root("rcmv", sf_dir)
    write_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), base)   # v1
    create_mv(
        spark, base, mv,
        keys=["o_orderstatus", "o_orderpriority"], sums=["price_c"],
        mins=["price_c"], maxs=["price_c"],
    )
    append_snapshot(orders.filter(F.col("o_orderkey") % 2 == 1), base)  # v2
    delete_snapshot(spark, base, "o_orderpriority = '1-URGENT'")        # v3
    refresh_mv(spark, mv)
    keys = ["o_orderstatus", "o_orderpriority"]
    out, src = answer_grouping_sets(
        spark, base, keys, cube_sets(keys), sums=["price_c"],
        mins=["price_c"], maxs=["price_c"], mv_paths=[mv],
    )
    if src != mv:  # the routing IS the point — a silent base scan is a bug
        raise RuntimeError("q_mv_rewrite_cube: expected the MV to answer")
    return out.select(
        "o_orderstatus",
        "o_orderpriority",
        "gid",
        "mv_count",
        F.col("sum_price_c").cast("long").alias("sum_price_c"),
        "min_price_c",
        "max_price_c",
    )


@query(
    "q_mv_distinct",
    oracle="""
    WITH final AS (
      SELECT o_orderstatus, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_orderpriority <> '1-URGENT'
    ), h AS (
      SELECT DISTINCT o_orderstatus, list_reduce(
        list_transform(range(1, 14), j -> CAST(strpos('0123456789abcdef',
            substr(md5(CAST(o_custkey AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1
          AS BIGINT)),
        (acc, d) -> acc * 16 + d) AS h
      FROM final
    ), r AS (
      SELECT o_orderstatus, h,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn
      FROM h
    ), sk AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_sketch, MAX(h) AS mx
      FROM r WHERE rn <= 128 GROUP BY o_orderstatus
    ), agg AS (
      SELECT o_orderstatus, COUNT(*) AS mv_count,
             CAST(SUM(price_c) AS BIGINT) AS sum_price_c
      FROM final GROUP BY o_orderstatus
    )
    SELECT a.o_orderstatus, a.mv_count, a.sum_price_c, s.n_sketch,
           ROUND(CASE WHEN s.n_sketch < 128 THEN CAST(s.n_sketch AS DOUBLE)
                      ELSE CAST(127 AS DOUBLE)
                           * CAST(4503599627370496 AS DOUBLE)
                           / CAST(s.mx AS DOUBLE) END, 4) AS nd_est
    FROM agg a JOIN sk s USING (o_orderstatus)
    """,
)
def q_mv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-valued MV measures under the correctness gate
    (sinks/materialized_view.py ``distincts=``): a view keeps a KMV theta
    sketch of o_custkey per order status — maintained through an append
    (exact KMV merge fold) and a group delete (danger-group recompute from
    the base) — and the reader derives the distinct-customer ESTIMATE with
    kmv_estimate. Because the sketch hash is the engine-portable 52-bit
    md5 fold (q_theta_sketch's trick), the refreshed sketch's size and
    estimate hash-match a DuckDB oracle that rebuilds the KMV from the
    final base state — an incrementally-maintained APPROXIMATE aggregate
    verified EXACTLY, which neither HLL nor native approx_count_distinct
    can offer. Money on the integer-cents grid."""
    from ..sinks.materialized_view import create_mv, kmv_estimate, read_mv, refresh_mv
    from ..sinks.versioned import (
        append_snapshot,
        delete_snapshot,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    base = _work_root("ndbase", sf_dir)
    mv = _work_root("ndmv", sf_dir)
    write_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), base)   # v1
    create_mv(
        spark, base, mv, keys=["o_orderstatus"], sums=["price_c"],
        distincts=["o_custkey"], kmv_k=128,
    )
    append_snapshot(orders.filter(F.col("o_orderkey") % 2 == 1), base)  # v2
    delete_snapshot(spark, base, "o_orderpriority = '1-URGENT'")        # v3
    refresh_mv(spark, mv)
    return read_mv(spark, mv).select(
        "o_orderstatus",
        "mv_count",
        F.col("sum_price_c").cast("long").alias("sum_price_c"),
        F.size("nd_o_custkey").cast("long").alias("n_sketch"),
        kmv_estimate("nd_o_custkey", 128).alias("nd_est"),
    )


@query(
    "q_check_constraints",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events WHERE value >= 0
    GROUP BY event_type
    """,
)
def q_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time CHECK constraints under the correctness gate
    (sinks/versioned.py add_check_constraint): a value>=0 constraint is
    added after v1; a batch shifted entirely negative MUST be refused
    before any manifest commit (the gate re-raises if it is silently
    accepted — and if enforcement failed, the shifted sums would smash
    the hash anyway), then a conforming append lands. The returned
    aggregate of the final table must match the oracle's filter-only
    derivation — proving the violating batch left no trace. Cost posture:
    appends validate only the appended files, merges only their
    insert/postimage change rows (O(changes), never O(table))."""
    from ..sinks.versioned import (
        add_check_constraint,
        append_snapshot,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ok = ev.filter(F.col("value") >= 0)
    table = _work_root("ckc", sf_dir)
    write_snapshot(ok.filter(F.col("event_id") % 2 == 0), table)  # v1
    add_check_constraint(spark, table, "value_nonneg", "value >= 0")
    bad = ev.withColumn("value", F.col("value") - F.lit(10000.0))
    try:
        append_snapshot(bad, table)
        raise RuntimeError(
            "q_check_constraints: violating append was silently accepted"
        )
    except ValueError:
        pass  # refused before commit, as required
    append_snapshot(ok.filter(F.col("event_id") % 2 == 1), table)  # v2
    return read_snapshot(spark, table).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_value_c"),
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           CAST(ROUND(p.value * 100) AS BIGINT) AS value_c
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND c.ts < p.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the correctness gate: clicks and
    purchases replay as two independent file streams (two files each,
    maxFilesPerTrigger=1, availableNow), joined on user within
    (click.ts, click.ts + 30 min] — purchase attribution, the canonical
    stream-stream shape. The no-drop watermark (3650 days: state cleanup
    is irrelevant under a finite availableNow replay, and any real
    watermark could declare replayed rows late and silently drop matches)
    makes the final append-mode sink EXACTLY the batch range join, which
    the oracle computes from scratch — so cross-stream state buffering
    across micro-batches is pinned by the driver's hash, complementing
    q_stream_tumbling's aggregate-state gate. Integer-cents grid."""
    from ..streaming.pipeline import stream_stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    c_dir = _work_root("sjc", sf_dir)
    p_dir = _work_root("sjp", sf_dir)
    clicks.repartition(2).write.parquet(c_dir)
    purch.repartition(2).write.parquet(p_dir)
    # watermarks demand TIMESTAMP, the data is NTZ: interpret the wall
    # clock AS UTC (to_utc_timestamp with the fixed zone) — a session-tz
    # cast would be ambiguous across a DST fall-back in whatever zone the
    # harness runs (Fiji ended DST mid-January 2024). The original NTZ
    # columns are what the result carries.
    as_instant = lambda df: df.withColumn(  # noqa: E731
        "tsu", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    cs = as_instant(
        spark.readStream.schema(spark.read.parquet(c_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(c_dir)
    )
    ps = as_instant(
        spark.readStream.schema(spark.read.parquet(p_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(p_dir)
    )
    joined = stream_stream_interval_join(
        cs, ps, key="user_id", left_ts="tsu", right_ts="tsu",
        max_delay="30 minutes", watermark="3650 days",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("click_ts"),
        F.col("r.ts").alias("purchase_ts"),
        F.col("r.value_c").alias("value_c"),
    )
    sink = "sj_sink_" + os.path.basename(c_dir).rsplit("_", 2)[0][10:]
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    # Stream-stream joins keep TWO state stores per shuffle partition per
    # batch; at gate scale the per-task state machinery dominates — see
    # _stream_partitions (production sizes this by key cardinality).
    with _stream_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(q.recentProgress) < 2:  # cross-batch state buffering IS the point
        raise RuntimeError("q_stream_join: expected multiple micro-batches")
    return spark.table(sink)


@query(
    "q_stream_join_outer",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
             - INTERVAL 60 MINUTE AS w
    )
    SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           CAST(ROUND(p.value * 100) AS BIGINT) AS value_c
    FROM c JOIN p
      ON c.user_id = p.user_id AND c.ts < p.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT c.user_id, c.ts AS click_ts,
           CAST(NULL AS TIMESTAMP) AS purchase_ts,
           CAST(NULL AS BIGINT) AS value_c
    FROM c, wm
    WHERE c.ts + INTERVAL 30 MINUTE < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = c.user_id
          AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join with a REAL watermark under
    the correctness gate — the semantics q_stream_join's no-drop inner
    variant cannot exercise: a click with no purchase in its 30-minute
    window is emitted null-padded ONLY once the watermark passes the
    window's end (a row cannot be declared unmatched while a matching
    purchase could still arrive), and clicks whose window is still open
    when the finite replay ends are NEVER emitted. The oracle derives the
    final watermark from first principles — min of the two streams' max
    event times (Spark's default multipleWatermarkPolicy) minus the
    60-minute delay — so the expiry boundary itself is hash-gated:
    matched pairs = the batch interval join, null rows = unmatched clicks
    with window_end strictly below the final watermark. Integer-cents
    grid; NTZ→instant cast discipline as in q_stream_join."""
    from ..streaming.pipeline import stream_stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    c_dir = _work_root("sjoc", sf_dir)
    p_dir = _work_root("sjop", sf_dir)
    clicks.repartition(2).write.parquet(c_dir)
    purch.repartition(2).write.parquet(p_dir)
    as_instant = lambda df: df.withColumn(  # noqa: E731
        "tsu", F.to_utc_timestamp(F.col("ts"), "UTC")
    )
    cs = as_instant(
        spark.readStream.schema(spark.read.parquet(c_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(c_dir)
    )
    ps = as_instant(
        spark.readStream.schema(spark.read.parquet(p_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(p_dir)
    )
    joined = stream_stream_interval_join(
        cs, ps, key="user_id", left_ts="tsu", right_ts="tsu",
        max_delay="30 minutes", watermark="60 minutes", how="left_outer",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("click_ts"),
        F.col("r.ts").alias("purchase_ts"),
        F.col("r.value_c").alias("value_c"),
    )
    sink = "sjo_sink_" + os.path.basename(c_dir).rsplit("_", 2)[0][10:]
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    with _stream_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(q.recentProgress) < 2:  # cross-batch state buffering IS the point
        raise RuntimeError("q_stream_join_outer: expected multiple micro-batches")
    out = spark.table(sink)
    if out.filter(F.col("purchase_ts").isNull()).limit(1).count() == 0:
        raise RuntimeError(
            "q_stream_join_outer: no null-padded rows — the outer path "
            "(watermark-expiry emission) was never exercised"
        )
    return out


@query(
    "q_cdf_read",
    oracle="""
    WITH src AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c,
             CAST(ROUND(value * 50) AS BIGINT) AS half_c
      FROM events
    )
    SELECT event_id, 'migrated' AS event_type, half_c AS value_c,
           'insert' AS _change_type
    FROM src WHERE event_id % 10 = 3 AND event_id % 2 = 1
    UNION ALL
    SELECT event_id, event_type, value_c, 'update_preimage'
    FROM src WHERE event_id % 10 = 3 AND event_id % 2 = 0
    UNION ALL
    SELECT event_id, 'migrated', half_c, 'update_postimage'
    FROM src WHERE event_id % 10 = 3 AND event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, value_c, 'delete'
    FROM src WHERE event_id % 2 = 0 AND event_id % 10 <> 3
          AND event_type = 'error'
    """,
)
def q_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed ITSELF under the correctness gate
    (sinks/versioned.read_change_feed — Delta table_changes parity): a
    table of even events absorbs a reshaping MERGE (odd %10=3 rows are
    CDF inserts; even %10=3 rows emit update pre- AND postimages with
    the committed coalesce-aware values) and a DELETE of the remaining
    'error' rows; reading versions (1, 3] must reproduce every change
    row — type, payload, and change kind — against the oracle's
    from-first-principles derivation. This pins the CDC payload the
    incremental views consume, not just their folded results."""
    from ..sinks.versioned import (
        delete_snapshot,
        merge_snapshot,
        read_change_feed,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    table = _work_root("cdf", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), table)    # v1
    migrated = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 3)
        .select(
            "event_id",
            F.lit("migrated").alias("event_type"),
            F.round(F.col("value") * 50).cast("long").alias("value_c"),
        )
    )
    merge_snapshot(spark, table, migrated, ["event_id"])            # v2
    delete_snapshot(spark, table, "event_type = 'error'")           # v3
    return read_change_feed(spark, table, since_version=1).select(
        "event_id", "event_type", "value_c", "_change_type"
    )


@query(
    "q_versioned_bloom",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id IN (101, 577, 919)
    """,
)
def q_versioned_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups through per-file BLOOM skipping under the correctness
    gate (sinks/versioned.py set_bloom_policy / prune_eq): events are
    written ROUND-ROBIN across files — every file spans the full event_id
    range, so min/max boxes prune nothing — and three probes must each (a)
    skip over half the files via the manifest blooms (enforced in-gate: a
    non-pruning read raises rather than silently falling back to a full
    scan) and (b) return exactly the oracle's rows from the raw parquet.

    Scale posture: file count tracks the row count (~8k distinct keys per
    file) so the 131072-bit blooms stay at ~0.1 % false-positive rate at
    any SF; the probe cost is O(files-kept), i.e. ~1 file open per lookup
    regardless of table size — the piece range stats cannot deliver for a
    hash-scattered high-cardinality key."""
    from ..sinks.versioned import (
        bloom_pruned_file_count,
        read_snapshot,
        set_bloom_policy,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table = _work_root("vbloom", sf_dir)
    n = ev.count()
    n_files = max(8, n // 8000)
    set_bloom_policy(table, ["event_id"], bits=131072, k=5)
    write_snapshot(ev.repartition(n_files), table)

    probes = [101, 577, 919]
    parts = []
    for p in probes:
        scanned, total = bloom_pruned_file_count(table, "event_id", p)
        if not scanned < max(2, total // 2):
            raise RuntimeError(
                f"bloom skip did not engage for probe {p}: "
                f"{scanned}/{total} files kept"
            )
        parts.append(
            read_snapshot(spark, table, prune_eq=("event_id", p)).filter(
                F.col("event_id") == p
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


@query(
    "q_source_partitioned",
    oracle="""
    SELECT event_id % 7 AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events
    WHERE event_type IN ('purchase', 'error')
    GROUP BY event_id % 7
    """,
)
def q_source_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style DIRECTORY partitioning under the correctness gate
    (sinks/parquet_layout.py write_partitioned / read_partition_pruned):
    events are written partitioned by event_type, two partitions are read
    back with partition-value filters, and the gate RAISES unless the
    physical scan's file list is confined to those two directories —
    i.e. the filter bound at FILE-LISTING time (PartitionFilters), not as
    a row predicate after opening every file. The readback aggregate
    hash-matches the oracle's filter over the raw parquet, proving the
    partition columns round-trip losslessly through the directory
    encoding (the value lives in the PATH, not the data files).

    Scale posture: partition pruning is the coarsest, cheapest skipping
    tier — O(1) directory lookups regardless of table size — and
    composes with the manifest min/max + bloom tiers the versioned
    tables add. Partition cardinality stays bounded (event types), the
    classic guard against the small-files failure mode."""
    from ..sinks.parquet_layout import read_partition_pruned, write_partitioned

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    root = _work_root("part_src", sf_dir)
    write_partitioned(ev, root, ["event_type"])
    parts = []
    for etype in ["purchase", "error"]:
        df = read_partition_pruned(spark, root, "event_type", etype)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re as _re

        pf = _re.search(r"PartitionFilters: \[[^\]]*= %s\)" % etype, plan)
        rowf = "DataFilters: []" in plan
        if not pf or not rowf:
            raise RuntimeError(
                f"q_source_partitioned: {etype} filter did not bind at "
                f"file-listing time (PartitionFilters missing or demoted "
                f"to a row predicate)"
            )
        parts.append(df)
    both = parts[0].unionByName(parts[1])
    return both.groupBy((F.col("event_id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").cast("long").alias("sum_value_c"),
    )


@query(
    "q_stream_txn",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE multi-table streaming commits under the correctness
    gate — the round-7 transaction protocol (sinks/transactions.py)
    composed with foreachBatch: every micro-batch appends its rows to a
    fact table AND its per-type rollup to a summary table in ONE atomic
    transaction whose id is derived from the batch id. At-least-once
    delivery is then exercised FOR REAL: batch 0 is re-delivered after the
    stream finishes (the post-crash replay case) and must be a no-op —
    the committed() probe sees its transaction marker and skips, enforced
    in-gate by comparing versions before and after the replay. The final
    summary must hash-match the oracle's batch aggregate over all events,
    proving no batch was lost, duplicated, or half-applied across the two
    tables.

    This is the reference's ack discipline (synchronous-pull.js:88-92 —
    ack only after the send lands) upgraded twice: N tables instead of
    one endpoint, and exactly-once instead of at-least-once. Scale
    posture: per batch, one manifest link per table + one O_EXCL marker;
    nothing scales with table size."""
    from ..sinks.transactions import MultiTableTxn, committed
    from ..sinks.versioned import current_version, read_snapshot, write_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    stage = _work_root("strm_txn", sf_dir)
    ev.repartition(4).write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    fact = _work_root("stxf", sf_dir)
    summ = _work_root("stxs", sf_dir)
    troot = _work_root("stxl", sf_dir)
    empty = ev.filter(F.lit(False))
    write_snapshot(empty, fact)                                     # v1
    write_snapshot(
        empty.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("sum_value_c")
        ),
        summ,
    )                                                               # v1

    replay_args: dict[int, object] = {}

    def process(batch_df, batch_id: int) -> None:
        txn_id = f"b{batch_id:06d}"
        if committed(troot, txn_id):
            return  # at-least-once redelivery of a landed batch: no-op
        batch_df = batch_df.localCheckpoint(eager=True)  # evaluate once
        replay_args.setdefault(batch_id, batch_df)
        txn = MultiTableTxn(troot, txn_id=txn_id)
        txn.stage_append(fact, batch_df)
        txn.stage_append(
            summ,
            batch_df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value_c").alias("sum_value_c"),
            ),
        )
        txn.commit()

    # NOT wrapped in _stream_partitions: this gate has no stateful streaming
    # operator — its work is foreachBatch BATCH jobs (AQE handles those),
    # and pinning them to 8 measured SLOWER (3.00→3.09 s; txn_merge 1.23x)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(process)
        # the checkpoint must live in its own _work_root: a bare sibling
        # path ("stage_ckpt") survives in-session reruns, so batch ids
        # resume at 4 and the replay probe's batch 0 never exists
        .option("checkpointLocation", _work_root("strm_txn_ckpt", sf_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p.get("numInputRows")])
    if n_batches < 4:  # one transaction per micro-batch IS the point
        raise RuntimeError(
            f"q_stream_txn: expected >=4 data micro-batches, got {n_batches}"
        )
    vf, vs = current_version(fact), current_version(summ)
    if vf != vs or vf < 5:
        raise RuntimeError(
            f"q_stream_txn: expected lockstep versions >=5, got fact v{vf} "
            f"summary v{vs}"
        )
    process(replay_args[0], 0)  # redeliver batch 0 — must be a no-op
    if (current_version(fact), current_version(summ)) != (vf, vs):
        raise RuntimeError(
            "q_stream_txn: replayed batch was applied twice — exactly-once "
            "contract broken"
        )
    return read_snapshot(spark, summ).groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("sum_value_c").cast("long").alias("sum_value_c"),
    )


@query(
    "q_stream_txn_merge",
    oracle="""
    WITH fact AS (
      SELECT event_type,
             CASE WHEN event_id % 4 = 0 THEN 2 ELSE 1 END
               * CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c
    FROM fact GROUP BY event_type
    """,
)
def q_stream_txn_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC STREAMING CDC UPSERT under the correctness gate — foreachBatch
    drives MultiTableTxn.stage_merge so every micro-batch atomically MERGEs
    into the fact table AND its per-type summary: the natural CDC shape
    (q_stream_txn's append discipline upgraded to upserts), generalizing the
    reference's send-then-ack (synchronous-pull.js:88-92) to exactly-once
    cross-table merges.

    The feed is 4 ordered CDC batches (mtime-pinned so the file source
    replays them deterministically): two insert batches covering all events,
    then two update batches that double every event_id%4==0 row's value.
    Per batch, the summary increment is derived from the fact merge's OWN
    staged change feed (txn.staged_changes — inserts add (1, value),
    update pre/post pairs add (0, post-pre)), so maintenance is O(changes)
    with no fact rescan, and both merges land under one transaction marker.

    At-least-once delivery is exercised FOR REAL: batch 0 is re-delivered
    after the stream finishes and must be a no-op — committed() sees its
    marker, versions must not move. Fact-vs-summary equality is asserted
    in-gate; the returned summary hash-matches the oracle's from-scratch
    aggregate over the post-CDC fact, proving no batch was lost, duplicated,
    or half-applied. Scale posture: staging is the MoR merge's O(changes)
    writes; prepare/marker/finalize cost O(tables) filesystem ops."""
    import os as _os
    import shutil as _shutil

    from ..sinks.transactions import MultiTableTxn, committed
    from ..sinks.versioned import current_version, read_snapshot, write_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    stage = _work_root("strm_txm", sf_dir)
    # The 4 CDC batches partition/derive from ONE events pass: every row
    # belongs to exactly one insert batch (event_id parity) and the
    # event_id%4==0 rows additionally to one doubled update batch — so one
    # explode + _b-partitioned write stages all four files in a single job
    # (was 4 sequential coalesce(1) scans of events).
    b_upd = (
        F.when(F.col("event_id") % 8 == 0, F.lit(2))
        .when(F.col("event_id") % 8 == 4, F.lit(3))
        .cast("int")
    )
    tagged = ev.select(
        "event_id",
        "event_type",
        F.explode(
            F.array_compact(
                F.array(
                    F.struct(
                        F.col("value_c").alias("value_c"),
                        (F.col("event_id") % 2).cast("int").alias("_b"),
                    ),
                    F.when(
                        b_upd.isNotNull(),
                        F.struct(
                            (F.col("value_c") * 2).alias("value_c"),
                            b_upd.alias("_b"),
                        ),
                    ),
                )
            )
        ).alias("_r"),
    ).select(
        "event_id",
        "event_type",
        F.col("_r.value_c").alias("value_c"),
        F.col("_r._b").alias("_b"),
    )
    tmp = stage + "_tmp"
    tagged.coalesce(1).write.partitionBy("_b").parquet(tmp)
    _os.makedirs(stage, exist_ok=True)
    now = None
    for i in range(4):
        sub = _os.path.join(tmp, f"_b={i}")
        dst = _os.path.join(stage, f"b{i}.parquet")
        if _os.path.isdir(sub):
            part = [f for f in _os.listdir(sub) if f.endswith(".parquet")][0]
            _os.rename(_os.path.join(sub, part), dst)
        else:
            # an empty batch (small SF) gets no _b=i dir from partitionBy;
            # stage it schema-only so the feed keeps 4 files / 4 batches
            import pyarrow.parquet as _pq
            from pyspark.sql.pandas.types import to_arrow_schema

            _pq.write_table(
                to_arrow_schema(tagged.drop("_b").schema).empty_table(), dst
            )
        # updates reference insert-batch keys, so arrival ORDER is part of
        # the CDC contract; the file source orders by mtime — pin it.
        if now is None:
            now = _os.path.getmtime(dst)
        _os.utime(dst, (now + 10 * i, now + 10 * i))
    _shutil.rmtree(tmp)  # the file source must see exactly 4 flat files
    schema = spark.read.parquet(_os.path.join(stage, "b0.parquet")).schema

    fact = _work_root("stxmf", sf_dir)
    summ = _work_root("stxms", sf_dir)
    troot = _work_root("stxml", sf_dir)
    empty = ev.filter(F.lit(False))
    write_snapshot(empty, fact)                                     # v1
    write_snapshot(
        empty.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("sum_value_c")
        ),
        summ,
    )                                                               # v1

    replay_args: dict[int, object] = {}

    def process(batch_df, batch_id: int) -> None:
        txn_id = f"m{batch_id:06d}"
        if committed(troot, txn_id):
            return  # redelivery of a landed batch: no-op
        # batch_df has exactly ONE consumer (the fused fact-merge staging
        # executes the updates⋈table join once; the summary increment reads
        # the staged change FILES, not the batch) — no checkpoint needed.
        # The retained batch-0 frame is only passed to the post-stream
        # replay, whose committed() guard returns before evaluating it.
        replay_args.setdefault(batch_id, batch_df)
        txn = MultiTableTxn(troot, txn_id=txn_id)
        txn.stage_merge(fact, batch_df, ["event_id"])
        cdf = txn.staged_changes(fact, spark)
        inc = cdf.groupBy("event_type").agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(0)
            ).alias("n_add"),
            F.sum(
                F.when(
                    F.col("_change_type") == "update_preimage",
                    -F.col("value_c"),
                ).otherwise(F.col("value_c"))
            ).alias("s_add"),
        )
        old = read_snapshot(spark, summ).alias("o")
        new_rows = inc.alias("i").join(old, "event_type", "left").select(
            "event_type",
            (F.coalesce(F.col("o.n"), F.lit(0)) + F.col("i.n_add")).alias("n"),
            (
                F.coalesce(F.col("o.sum_value_c"), F.lit(0)) + F.col("i.s_add")
            ).alias("sum_value_c"),
        )
        txn.stage_merge(summ, new_rows, ["event_type"])
        txn.commit()

    # NOT wrapped in _stream_partitions: no stateful streaming operator here
    # — the work is foreachBatch MoR-merge BATCH jobs, and pinning those to
    # 8 partitions measured SLOWER (13.2→16.3 s at sf0.1)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stage)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", _work_root("strm_txm_ckpt", sf_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # counted by batch id, not by rows: an empty CDC batch still commits
    n_batches = len({p.get("batchId") for p in q.recentProgress})
    if n_batches < 4:  # one CDC transaction per micro-batch IS the point
        raise RuntimeError(
            f"q_stream_txn_merge: expected >=4 micro-batches, got {n_batches}"
        )
    vf, vs = current_version(fact), current_version(summ)
    if vf != vs or vf != 5:
        raise RuntimeError(
            f"q_stream_txn_merge: expected lockstep v5, got fact v{vf} "
            f"summary v{vs}"
        )
    process(replay_args[0], 0)  # redeliver batch 0 — must be a no-op
    if (current_version(fact), current_version(summ)) != (vf, vs):
        raise RuntimeError(
            "q_stream_txn_merge: replayed batch was applied twice — "
            "exactly-once contract broken"
        )
    out = read_snapshot(spark, summ).select("event_type", "n", "sum_value_c")
    fagg = read_snapshot(spark, fact).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").cast("long").alias("sum_value_c"),
    )
    # multiset equality via ONE collect (rows = 2·|event types|, exact
    # integers): both sides union under a side tag, one job evaluates both
    # aggregates — the exceptAll pair re-executed the O(fact) aggregate
    # twice, and even one collect per side was two scheduler round-trips.
    both = out.withColumn("_side", F.lit(0)).unionByName(
        fagg.withColumn("_side", F.lit(1))
    ).collect()
    sides: dict[int, list] = {0: [], 1: []}
    for r in both:
        sides[r["_side"]].append((r["event_type"], r["n"], r["sum_value_c"]))
    if sorted(sides[0]) != sorted(sides[1]):
        raise RuntimeError("q_stream_txn_merge: fact and summary diverged")
    return out


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM Python stateful operator under the correctness gate
    (streaming/stateful.py — applyInPandasWithState, the escape hatch for
    semantics Spark's built-in stateful ops can't express): per-user
    running (count, integer-cent total) state folds across ≥4 enforced
    micro-batches, emitting one update row per touched user per batch.
    Update mode means the memory sink accumulates EVERY emission, so the
    final answer is recovered exactly as a user would: the per-user MAX of
    each monotone running value — and that must hash-match the oracle's
    plain batch GROUP BY. This pins the Arrow state round-trip (tuple in,
    tuple out), per-key batching, and cross-batch state retention of the
    Python worker path; the JVM-stateful twins are q_stream_tumbling /
    _session / _dedup.

    Scale posture: state is two longs per user (O(keys)); emissions per
    batch are O(touched keys); the integer-cent grid makes the Python-side
    float-free so partition order cannot perturb the hash."""
    import glob
    import shutil

    import pandas as pd  # noqa: F401  (executor dependency, fail fast here)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    stage = _work_root("strm_state", sf_dir)
    ev.repartition(4).write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    def update(key, pdfs, state):
        # self-contained: stdlib + pandas only (executor pickling discipline)
        import pandas as pd

        (uid,) = key
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["cents"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [uid], "n_events": [n], "total_cents": [total]}
        )

    sink = "state_sink_" + os.path.basename(stage).rsplit("_", 2)[0][10:]
    try:  # bench reruns in one session: replace the previous sink view
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    # applyInPandasWithState pays one PYTHON WORKER round per state
    # partition per micro-batch on top of the state-store machinery —
    # _stream_partitions matters double here (measured 11.6→5.7 s at sf0.1).
    with _stream_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long, total_cents long",
                stateStructType="n_events long, total_cents long",
                outputMode="update",
                timeoutConf="NoTimeout",
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = len(q.recentProgress)
    if n_batches < 4:  # cross-batch Python state retention IS the point
        raise RuntimeError(
            f"q_stream_stateful: expected >=4 micro-batches, got {n_batches}"
        )
    return spark.table(sink).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_cents").alias("total_cents"),
    )


@query(
    "q_versioned_txn",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events
    GROUP BY event_type
    """,
)
def q_versioned_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE atomic transactions under the correctness gate
    (sinks/transactions.py — the catalog-level commit neither Delta nor
    Iceberg gets from the table format alone): a fact table and its
    per-type summary absorb the odd-events delta in ONE transaction. The
    gate walks the protocol's worst moments and asserts consistency at
    each: (1) an aborted transaction leaves both versions untouched;
    (2) a crash right after the commit point — simulated by committing
    without finalize — leaves both tables CONSISTENT-STALE (both CURRENTs
    still at the pre-transaction version, enforced in-gate: one-new-one-old
    raises); (3) recover() rolls both forward from the durable plan. The
    final summary must hash-match the oracle's from-scratch aggregate over
    ALL events — i.e. the summary absorbed exactly the delta the fact did.

    Scale posture: prepare cost is O(staged files) manifest links, the
    commit point is one O_EXCL create, finalize is one pointer write per
    table — nothing scales with table size; readers pay zero (they follow
    CURRENT exactly as before). Reference analogue: send-then-ack
    (synchronous-pull.js:88-92), generalized to N tables exactly-once."""
    from ..sinks.transactions import MultiTableTxn, recover
    from ..sinks.versioned import current_version, read_snapshot, write_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    fact = _work_root("txnf", sf_dir)
    summ = _work_root("txns", sf_dir)
    troot = _work_root("txnl", sf_dir)
    first = ev.filter(F.col("event_id") % 2 == 0)
    write_snapshot(first, fact)                                      # v1
    write_snapshot(
        first.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("sum_value_c")
        ),
        summ,
    )                                                                # v1

    # (1) an aborted transaction must leave no trace on either table
    bad = MultiTableTxn(troot)
    bad.stage_append(fact, first.limit(5))
    bad.stage_append(summ, read_snapshot(spark, summ).limit(1))
    bad.abort()
    if current_version(fact) != 1 or current_version(summ) != 1:
        raise RuntimeError("q_versioned_txn: aborted txn moved a table")

    # (2) commit the real delta, dying right after the commit point
    delta = ev.filter(F.col("event_id") % 2 == 1)
    txn = MultiTableTxn(troot)
    txn.stage_append(fact, delta)
    txn.stage_append(
        summ,
        delta.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("sum_value_c")
        ),
    )
    txn.commit_without_finalize()
    vf, vs = current_version(fact), current_version(summ)
    if (vf, vs) != (1, 1):
        raise RuntimeError(
            f"q_versioned_txn: torn or early visibility (fact v{vf}, summary "
            f"v{vs}) — atomicity contract broken"
        )

    # (3) roll forward from the durable plan
    recover(troot)
    if current_version(fact) != 2 or current_version(summ) != 2:
        raise RuntimeError("q_versioned_txn: recover() did not finalize")
    out = read_snapshot(spark, summ).groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("sum_value_c").cast("long").alias("sum_value_c"),
    )
    # fact and summary must agree exactly — the invariant the txn protects
    fagg = read_snapshot(spark, fact).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").cast("long").alias("sum_value_c"),
    )
    if out.exceptAll(fagg).count() != 0 or fagg.exceptAll(out).count() != 0:
        raise RuntimeError("q_versioned_txn: fact and summary diverged")
    return out


@query(
    "q_versioned_txn_read",
    oracle="""
    SELECT tbl, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM (
      SELECT 'fact' AS tbl, event_type, value FROM events
      WHERE event_id % 3 < 2
      UNION ALL
      SELECT 'dim' AS tbl, event_type, value FROM events
      WHERE event_id % 3 <> 1
    ) GROUP BY tbl, event_type
    """,
)
def q_versioned_txn_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ-SIDE cross-table consistency under the correctness gate
    (sinks/transactions.py consistent_snapshot): finalize advances one
    CURRENT pointer at a time, so after a mid-finalize crash a naive
    reader joining fact and dim sees HALF a transaction — fact with the
    delta, dim without. The gate manufactures exactly that torn state
    (commit without finalize, then roll only the fact forward; the tear
    is asserted real in-gate), then consistent_snapshot must pin both
    tables at the transaction's planned versions — performing the
    Percolator-style reader roll-forward — and re-pinning must be stable.
    The tagged union over the pinned reads hash-matches an oracle holding
    BOTH tables' deltas: the reader saw all of the transaction, not half.

    Scale posture: the vector costs O(tables) pointer reads per pass
    (fixpoint ~2 passes when quiescent) — independent of table size,
    transaction history, and file count."""
    from ..sinks.transactions import (
        MultiTableTxn,
        consistent_snapshot,
        resolve_table,
    )
    from ..sinks.versioned import current_version, read_snapshot, write_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    fact = _work_root("txncf", sf_dir)
    dim = _work_root("txncd", sf_dir)
    troot = _work_root("txncl", sf_dir)
    base = ev.filter(F.col("event_id") % 3 == 0)
    write_snapshot(base, fact)                                       # v1
    write_snapshot(base, dim)                                        # v1

    txn = MultiTableTxn(troot)
    txn.stage_append(fact, ev.filter(F.col("event_id") % 3 == 1))
    txn.stage_append(dim, ev.filter(F.col("event_id") % 3 == 2))
    plan = txn.commit_without_finalize()   # crash right after the marker
    resolve_table(troot, fact)             # ...mid-finalize: fact advanced
    vf, vd = current_version(fact), current_version(dim)
    if (vf, vd) != (2, 1):
        raise RuntimeError(
            f"q_versioned_txn_read: expected the torn state (fact v2, dim "
            f"v1) the API exists to fix, got fact v{vf}, dim v{vd}"
        )
    vec = consistent_snapshot(troot, [fact, dim])
    if vec != plan:
        raise RuntimeError(
            f"q_versioned_txn_read: vector {vec} != txn plan {plan}"
        )
    if consistent_snapshot(troot, [fact, dim]) != vec:
        raise RuntimeError("q_versioned_txn_read: re-pin was not stable")
    f = read_snapshot(spark, fact, version=vec[fact])
    d = read_snapshot(spark, dim, version=vec[dim])
    tagged = f.withColumn("tbl", F.lit("fact")).unionByName(
        d.withColumn("tbl", F.lit("dim"))
    )
    return tagged.groupBy("tbl", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").cast("long").alias("sum_value_c"),
    )


@query(
    "q_versioned_txn_merge",
    oracle="""
    WITH fact AS (
      SELECT event_type,
             CASE WHEN event_id % 4 = 0 THEN 2 ELSE 1 END
               * CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c
    FROM fact GROUP BY event_type
    """,
)
def q_versioned_txn_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC CROSS-TABLE CDC UPSERT under the correctness gate
    (sinks/transactions.py stage_merge): one transaction MERGEs a CDC
    batch into the fact table (updates double every event_id%4==0 row's
    value; inserts add the odd-id rows) and MERGEs the matching per-type
    increments into its summary — the natural pairing the round-7 verdict
    named, inexpressible with appends alone because both sides rewrite
    existing keys. The fact merge is merge-on-read (deletion vectors +
    CDF change files, O(changes) writes); the summary merge upserts one
    row per affected type computed FROM the old summary plus the delta —
    the real incremental-maintenance shape, never a from-scratch rebuild.

    The gate crashes the transaction right after the commit point
    (commit_without_finalize): both tables must read CONSISTENT-STALE
    (pre-CDC fact values AND pre-CDC summary — one-new-one-old raises),
    then recover() completes the merge from the durable plan. The final
    summary must hash-match the oracle's from-scratch aggregate over the
    post-CDC fact, and fact-vs-summary equality is asserted in-gate.
    Scale posture: staging is the MoR merge's O(changes) writes; prepare/
    marker/finalize cost O(tables) filesystem ops — nothing scales with
    table size."""
    from ..sinks.transactions import MultiTableTxn, recover
    from ..sinks.versioned import current_version, read_snapshot, write_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    fact = _work_root("txmf", sf_dir)
    summ = _work_root("txms", sf_dir)
    troot = _work_root("txml", sf_dir)
    first = ev.filter(F.col("event_id") % 2 == 0)
    write_snapshot(first, fact)                                      # v1
    write_snapshot(
        first.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("sum_value_c")
        ),
        summ,
    )                                                                # v1

    # the CDC batch: updates (doubled %4==0 rows) + inserts (odd ids)
    updates = ev.filter(
        (F.col("event_id") % 2 == 1) | (F.col("event_id") % 4 == 0)
    ).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 4 == 0, F.col("value_c") * 2)
        .otherwise(F.col("value_c"))
        .alias("value_c"),
    )
    # per-type summary increments, computed O(changes): inserts add
    # (count, sum); updates add the delta (doubling adds the old value)
    inc = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_add"), F.sum("value_c").alias("s_add"))
        .unionByName(
            ev.filter(F.col("event_id") % 4 == 0)
            .groupBy("event_type")
            .agg(
                F.lit(0).cast("long").alias("n_add"),
                F.sum("value_c").alias("s_add"),
            )
        )
        .groupBy("event_type")
        .agg(F.sum("n_add").alias("n_add"), F.sum("s_add").alias("s_add"))
    )
    old_summ = read_snapshot(spark, summ).alias("o")
    new_summ_rows = inc.alias("i").join(old_summ, "event_type", "left").select(
        "event_type",
        (F.coalesce(F.col("o.n"), F.lit(0)) + F.col("i.n_add")).alias("n"),
        (
            F.coalesce(F.col("o.sum_value_c"), F.lit(0)) + F.col("i.s_add")
        ).alias("sum_value_c"),
    )

    txn = MultiTableTxn(troot)
    txn.stage_merge(fact, updates, ["event_id"])
    txn.stage_merge(summ, new_summ_rows, ["event_type"])
    txn.commit_without_finalize()  # crash right after the commit point

    vf, vs = current_version(fact), current_version(summ)
    if (vf, vs) != (1, 1):
        raise RuntimeError(
            f"q_versioned_txn_merge: torn or early visibility (fact v{vf}, "
            f"summary v{vs})"
        )
    # consistent-stale means PRE-CDC values. Count alone would miss the
    # update half of the merge (doubled rows change values, not counts) —
    # DV/tombstone leakage that makes an updated row visible early keeps
    # the count intact, so the value sum is asserted too.
    stale = read_snapshot(spark, fact)
    # both stale-visibility aggregates in ONE job (union under a side tag)
    stale_rows = (
        stale.agg(F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("s"))
        .withColumn("_side", F.lit(0))
        .unionByName(
            first.agg(
                F.count(F.lit(1)).alias("n"), F.sum("value_c").alias("s")
            ).withColumn("_side", F.lit(1))
        )
        .collect()
    )
    by_side = {r["_side"]: (r["n"], r["s"]) for r in stale_rows}
    stale_n, stale_sum = by_side[0]
    first_n, first_sum = by_side[1]
    if stale_n != first_n:
        raise RuntimeError("q_versioned_txn_merge: early insert visibility")
    if stale_sum != first_sum:
        raise RuntimeError(
            "q_versioned_txn_merge: early update visibility (value sum "
            f"moved {first_sum} -> {stale_sum} before recover)"
        )

    recover(troot)
    if current_version(fact) != 2 or current_version(summ) != 2:
        raise RuntimeError("q_versioned_txn_merge: recover() did not finalize")
    out = read_snapshot(spark, summ).select("event_type", "n", "sum_value_c")
    fagg = read_snapshot(spark, fact).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").cast("long").alias("sum_value_c"),
    )
    # multiset equality via ONE collect (rows = 2·|event types|, exact
    # integers) — the exceptAll PAIR ran two jobs that each re-executed
    # BOTH the summary read and the O(fact) aggregate
    both = out.withColumn("_side", F.lit(0)).unionByName(
        fagg.withColumn("_side", F.lit(1))
    ).collect()
    sides: dict[int, list] = {0: [], 1: []}
    for r in both:
        sides[r["_side"]].append((r["event_type"], r["n"], r["sum_value_c"]))
    if sorted(sides[0]) != sorted(sides[1]):
        raise RuntimeError("q_versioned_txn_merge: fact and summary diverged")
    return out


@query(
    "q_versioned_zorder",
    oracle="""
    WITH b AS (
      SELECT MAX(event_id) // 10 AS lo_e,
             MAX(event_id) // 10 + (MAX(event_id) * 6) // 100 AS hi_e,
             MAX(user_id) // 10 AS lo_u,
             MAX(user_id) // 10 + (MAX(user_id) * 6) // 100 AS hi_u
      FROM events
    )
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value_r
    FROM events, b WHERE event_id BETWEEN lo_e AND hi_e
    UNION ALL
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value_r
    FROM events, b WHERE user_id BETWEEN lo_u AND hi_u
    """,
)
def q_versioned_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER under the correctness gate (sinks/versioned.py
    compact_snapshot(zorder_by=...) + sinks/parquet_layout zorder_key):
    events are first written ROUND-ROBIN — every file spans the full range
    of BOTH probe columns, so min/max boxes prune nothing — then compacted
    with Morton-interleaved (event_id, user_id) clustering. After the
    rewrite, a range probe on event_id AND a range probe on user_id must
    EACH skip at least half the files via manifest min/max stats alone
    (enforced in-gate: a non-pruning read raises, and the pre-compaction
    version is asserted unprunable so the test cannot silently pass on a
    conveniently-ordered source). Both pruned reads hash-match the oracle's
    from-scratch range filters over the raw parquet.

    Why this matters at 100 TB: a single-column sort gives tight boxes on
    one dimension only; Z-ordering bounds BOTH — the multi-dimensional
    analogue of clustering that lets two independent dashboards (by-event
    and by-user) each scan O(result) files off the same table copy. File
    count tracks rows (~50k rows/file) so per-file box tightness — and
    hence the skip fraction — is scale-free (measured 4/16 and 6/16 files
    kept vs 16/16 pre-compaction at sf0.01)."""
    from ..sinks.versioned import (
        compact_snapshot,
        pruned_file_count,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value_r")
    )
    table = _work_root("vzorder", sf_dir)
    n, max_e, max_u = ev.agg(
        F.count(F.lit(1)), F.max("event_id"), F.max("user_id")
    ).first()
    n_files = max(16, n // 50_000)
    write_snapshot(ev.repartition(n_files), table)  # v1: boxes useless
    compact_snapshot(
        spark, table, target_files=n_files,
        zorder_by=("event_id", "user_id"), zorder_bits=6,
    )  # v2: Morton-clustered

    # probe ranges DERIVED from the key domains (~10%..16%), pure integer
    # arithmetic mirrored in the oracle's // expressions — a fixed literal
    # range would be empty at sf0.001 and vanishing at sf100
    probes = [
        ("event_id", max_e // 10, max_e // 10 + (max_e * 6) // 100),
        ("user_id", max_u // 10, max_u // 10 + (max_u * 6) // 100),
    ]
    parts = []
    for col, lo, hi in probes:
        pre_kept, pre_total = pruned_file_count(table, (col, lo, hi), version=1)
        if pre_kept < pre_total:
            raise RuntimeError(
                f"pre-compaction layout already prunes on {col} "
                f"({pre_kept}/{pre_total}); the z-order assertion would be vacuous"
            )
        kept, total = pruned_file_count(table, (col, lo, hi))
        if not kept <= total // 2:
            raise RuntimeError(
                f"z-order skip did not engage on {col}: {kept}/{total} files kept"
            )
        parts.append(
            read_snapshot(spark, table, prune=(col, lo, hi)).filter(
                F.col(col).between(lo, hi)
            )
        )
    return parts[0].unionByName(parts[1])


@query(
    "q_versioned_mor_delete",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE NOT (value >= 80 OR event_id % 7 = 0)
    GROUP BY event_type
    """,
)
def q_versioned_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the correctness gate
    (sinks/versioned.py delete_snapshot_mor): two successive deletes write
    only (file, position) tombstones — the gate RAISES if either commit
    touched a single data file — and the read subtracts them with one
    broadcast anti-join on the scan's _metadata.row_index. Hash-matching
    the oracle's from-scratch filter proves the tombstone algebra exact,
    including the second delete seeing only rows the first left alive.

    Scale posture: a delete costs one scan plus O(deleted) bytes written,
    never an O(table) rewrite — at 100 TB this is the difference between
    seconds and a full-table job. Compaction (tested in pytest) folds the
    vectors away when read amplification warrants it."""
    from ..sinks.versioned import (
        delete_snapshot_mor,
        read_snapshot,
        snapshot_info,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _work_root("vmor", sf_dir)
    write_snapshot(ev.repartition(8), table)
    v1_files = [e["path"] for e in snapshot_info(table, 1)["files"]]
    delete_snapshot_mor(spark, table, "value >= 80")
    delete_snapshot_mor(spark, table, "event_id % 7 = 0")
    info = snapshot_info(table)
    if [e["path"] for e in info["files"]] != v1_files:
        raise RuntimeError("MoR delete rewrote data files — must be O(deleted)")
    if len(info.get("dvs", [])) < 2:
        raise RuntimeError("expected tombstone files from both deletes")
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_versioned_mor_merge",
    oracle="""
    WITH final AS (
      SELECT event_id,
             CASE WHEN event_id % 9 = 2 THEN 'remapped' ELSE event_type END
               AS event_type,
             CASE WHEN event_id % 9 = 2 THEN value * 0.25 ELSE value END
               AS value
      FROM events
      UNION ALL
      SELECT event_id + 50000000, 'backfill', value FROM events
      WHERE event_id % 500 = 1
    )
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM final GROUP BY event_type
    """,
)
def q_versioned_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT under the correctness gate
    (sinks/versioned.py merge_snapshot_mor): a group-moving update (every
    event_id % 9 = 2 row re-typed and re-valued) plus fresh inserts land
    as tombstones + appended files — the gate RAISES if any pre-existing
    data file left the manifest — and the read-back aggregate must
    hash-match the oracle's CASE-expressed final state. (*0.25 is exact
    in binary, so the float grid is engine-independent.)

    Scale posture: the upsert writes O(changes) — one key join against the
    live scan, tombstones for pre-images, new files for post-images —
    where merge_snapshot would rewrite the table; at 100 TB that is the
    difference between a bounded incremental commit and a full-table job."""
    from ..sinks.versioned import (
        merge_snapshot_mor,
        read_snapshot,
        snapshot_info,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _work_root("vmorm", sf_dir)
    write_snapshot(ev.repartition(8), table)
    v1_files = [e["path"] for e in snapshot_info(table, 1)["files"]]
    upd = (
        ev.filter(F.col("event_id") % 9 == 2)
        .select(
            "event_id",
            F.lit("remapped").alias("event_type"),
            (F.col("value") * 0.25).alias("value"),
        )
        .unionByName(
            ev.filter(F.col("event_id") % 500 == 1).select(
                (F.col("event_id") + 50_000_000).alias("event_id"),
                F.lit("backfill").alias("event_type"),
                "value",
            )
        )
    )
    merge_snapshot_mor(spark, table, upd, ["event_id"])
    info = snapshot_info(table)
    kept = [e["path"] for e in info["files"]][: len(v1_files)]
    if kept != v1_files:
        raise RuntimeError("MoR merge dropped/rewrote data files — must be O(changes)")
    if not info.get("dvs"):
        raise RuntimeError("MoR merge produced no tombstones for its updates")
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id, ts, value_c,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c
    FROM sess GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows under the correctness gate: events replay
    as a 4-file stream (maxFilesPerTrigger=1, availableNow), so per-user
    30-minute-gap sessions must MERGE ACROSS MICRO-BATCHES — the random
    file split interleaves each user's events across batches, exercising
    the stateful session-merge path, not a single-batch pretend-stream
    (>=4 batches enforced in-gate). Complete-mode memory sink hash-matched
    against the batch gaps-and-islands oracle — the same oracle text as
    q_session_window, proving stream/batch session equivalence end-to-end.
    Money on the integer-cents grid.

    Scale posture: session state is per-active-user and merges in the
    state store; at 100 TB the same plan runs against a real source with
    a watermark bounding state (tested in pytest), complete mode here only
    because the gate needs the full final answer."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    stage = _work_root("strm_sess_src", sf_dir)
    ev.repartition(4).write.parquet(stage)
    schema = spark.read.parquet(stage).schema
    # Complete-mode output goes to PARQUET via foreachBatch overwrite (last
    # batch wins), not a memory sink: one session row per (user, gap-island)
    # means the full answer is corpus-sized — a memory sink holds it on the
    # driver heap and fell over at sf1 under an untuned 1 GiB driver. Disk
    # scales; the driver never materializes the result.
    sink_dir = _work_root("strm_sess_sink", sf_dir)

    def _overwrite(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(sink_dir)

    # State-store partition count is fixed at the stream's FIRST batch from
    # spark.sql.shuffle.partitions — see _stream_partitions for the sizing
    # rationale (state volume, not core count).
    with _stream_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_c").alias("sum_value_c"),
            )
            .writeStream.foreachBatch(_overwrite)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = len(q.recentProgress)
    if n_batches < 4:
        raise RuntimeError(
            f"q_stream_session: expected >=4 micro-batches, got {n_batches}"
        )
    return spark.read.parquet(sink_dir).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
    )


@query(
    "q_versioned_optimize",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE NOT (event_id % 4 = 1)
    GROUP BY event_type
    """,
)
def q_versioned_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted OPTIMIZE under the correctness gate
    (sinks/versioned.py optimize_snapshot): after a MoR delete tombstones
    a quarter of every file, an optimize pass at dead_ratio=0.2 must
    rewrite EVERY dead-heavy file, clear the vector set entirely
    (enforced in-gate), and leave the logical content hash-identical to
    the oracle's plain filter. A second pass must be a no-op (no victims,
    no commit — enforced). Proves the rewrite-only-what-needs-it path
    produces byte-exact content, not just plausible file counts."""
    from ..sinks.versioned import (
        current_version,
        delete_snapshot_mor,
        optimize_snapshot,
        read_snapshot,
        snapshot_info,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _work_root("vopt", sf_dir)
    write_snapshot(ev.repartition(8), table)
    delete_snapshot_mor(spark, table, "event_id % 4 = 1")   # ~25% dead/file
    v3 = optimize_snapshot(spark, table, dead_ratio=0.2, target_files=4)
    info = snapshot_info(table, v3)
    if "dvs" in info:
        raise RuntimeError("optimize left tombstones it should have materialized")
    if optimize_snapshot(spark, table, dead_ratio=0.2) != v3:
        raise RuntimeError("no-victim optimize must be a no-op, not a commit")
    if current_version(table) != v3:
        raise RuntimeError("no-op optimize still advanced the version")
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_versioned_clone",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE NOT (event_id % 6 = 2) AND event_id % 3 <> 0
    GROUP BY event_type
    """,
)
def q_versioned_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CLONE under the correctness gate
    (sinks/versioned.py clone_snapshot): a table with a live deletion
    vector is cloned — hardlinks, no data copied (enforced in-gate via
    st_nlink) — then the CLONE takes a further MoR delete while the
    SOURCE takes an append; the clone's read-back must reflect exactly
    its own lineage (source delete + clone delete, NO source append),
    hash-matched against the oracle. Proves snapshot isolation ACROSS
    table roots: shared bytes, divergent histories."""
    import os as _os

    from ..sinks.versioned import (
        append_snapshot,
        clone_snapshot,
        delete_snapshot_mor,
        read_snapshot,
        snapshot_info,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src = _work_root("vclone_src", sf_dir)
    dst = _work_root("vclone_dst", sf_dir)
    write_snapshot(ev.repartition(8), src)
    delete_snapshot_mor(spark, src, "event_id % 6 = 2")
    clone_snapshot(src, dst)
    for e in snapshot_info(dst)["files"]:
        if _os.stat(_os.path.join(dst, e["path"])).st_nlink < 2:
            raise RuntimeError("clone copied data instead of linking it")
    delete_snapshot_mor(spark, dst, "event_id % 3 = 0")   # clone-only
    append_snapshot(ev.limit(100), src)                   # source-only
    back = read_snapshot(spark, dst)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_versioned_restore",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events WHERE event_id % 2 = 0
    GROUP BY event_type
    """,
)
def q_versioned_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE under the correctness gate (sinks/versioned.py
    restore_snapshot): a bad batch lands (odd event_ids), RESTORE rolls
    the table back to version 1 as a forward commit — zero data movement,
    the bad version still time-travelable (enforced in-gate) — and the
    restored CURRENT must hash-match the oracle's recomputation of the
    original state from raw parquet."""
    from ..sinks.versioned import (
        append_snapshot,
        read_snapshot,
        restore_snapshot,
        snapshot_info,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _work_root("vrestore", sf_dir)
    write_snapshot(ev.filter(F.col("event_id") % 2 == 0), table)   # v1
    append_snapshot(ev.filter(F.col("event_id") % 2 == 1), table)  # v2: bad
    v3 = restore_snapshot(table, 1)
    if snapshot_info(table, 2)["n_rows"] <= snapshot_info(table, v3)["n_rows"]:
        raise RuntimeError("the bad version must remain time-travelable")
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_versioned_vacuum",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE NOT (event_id % 5 = 3)
    GROUP BY event_type
    """,
)
def q_versioned_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM under the correctness gate (sinks/versioned.py vacuum): a
    full lifecycle — write (8 files), MoR delete (live deletion vectors),
    compact (materializes the DVs into 2 fresh files) — plus BOTH
    concurrent-writer protections, manufactured in-gate:

    * an in-doubt PREPARED transaction squats on CURRENT+1
      (MultiTableTxn.prepare, sinks/transactions.py) — its staged files
      must survive vacuum even at grace_seconds=0, because the squatter
      manifest counts as referenced until the transaction settles;
    * the AGE GATE — every file in the freshly-built table is seconds
      old, so a default-grace vacuum must delete NOTHING (this is the
      guard that protects a writer inside its stage→manifest-link window,
      which no manifest scan can see; the dedicated racing test is
      tests/test_transactions.py::test_vacuum_age_gate_spares_midstage_writer)
      while the aggressive grace_seconds=0 pass reclaims expired files.

    The grace=0 vacuum must then unlink EVERY pre-compaction data file
    (checked against the v1 manifest and the filesystem) while sparing the
    prepared files; time travel to the expired version must REFUSE; after
    the transaction aborts, a final vacuum reclaims its orphans; and the
    surviving CURRENT must still hash-match the oracle's plain filter.
    At 100 TB this is the storage-reclaim path: never-destroy-what-an-
    in-flight-commit-still-needs, the reference's ack-after-send
    discipline (synchronous-pull.js:88-92) applied to storage."""
    import os as _os

    from ..sinks.transactions import MultiTableTxn
    from ..sinks.versioned import (
        compact_snapshot,
        delete_snapshot_mor,
        read_snapshot,
        snapshot_info,
        vacuum,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _work_root("vvacuum", sf_dir)
    write_snapshot(ev.repartition(8), table)              # v1: 8 files
    delete_snapshot_mor(spark, table, "event_id % 5 = 3")  # v2: DVs live
    compact_snapshot(spark, table, target_files=2)        # v3: fresh files
    pre = [e["path"] for e in snapshot_info(table, 1)["files"]]

    # concurrent-writer state #1: a prepared (in-doubt) transaction
    txn = MultiTableTxn(_os.path.join(table, "_txn"))
    txn.stage_append(table, ev.limit(5))
    txn.prepare()
    prepared = txn.staged_paths(table)

    # age-gate check: every file in this table is seconds old, so a
    # default-grace vacuum must reclaim NOTHING — even the expired v1/v2
    # files a retain_versions=1 pass would otherwise take (this is what
    # protects a mid-stage writer no manifest scan can see)
    if vacuum(table, retain_versions=1):
        raise RuntimeError("default-grace vacuum touched fresh files")

    deleted = set(vacuum(table, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True))
    missed = [p for p in pre if p not in deleted]
    if missed:
        raise RuntimeError(f"vacuum left expired data files behind: {missed}")
    still = [p for p in pre if _os.path.exists(_os.path.join(table, p))]
    if still:
        raise RuntimeError(f"vacuum reported but did not unlink: {still}")
    eaten = [p for p in prepared if not _os.path.exists(_os.path.join(table, p))]
    if eaten:
        raise RuntimeError(f"vacuum ate a prepared transaction's files: {eaten}")
    try:
        read_snapshot(spark, table, version=1)
    except FileNotFoundError:
        pass
    else:
        raise RuntimeError("time travel to a vacuumed version must refuse")
    if vacuum(table, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True):
        raise RuntimeError("second vacuum must be a no-op")
    txn.abort()  # squatter unlinks; its staged files become garbage
    if set(vacuum(table, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True)) != set(prepared):
        raise RuntimeError("aborted transaction's files must be reclaimed")
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_versioned_evolve",
    oracle="""
    WITH unioned AS (
      SELECT event_id, value, NULL AS event_type
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT event_id, value, event_type
      FROM events WHERE event_id % 2 = 1
    )
    SELECT COALESCE(event_type, '<pre-evolution>') AS event_type,
           COUNT(*) AS n,
           COUNT(event_type) AS n_typed,
           ROUND(SUM(value), 2) AS total_value
    FROM unioned
    GROUP BY 1
    """,
)
def q_versioned_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION under the correctness gate
    (sinks/versioned.py append_snapshot_evolve): version 1 is written
    WITHOUT event_type; an evolving append introduces the column, and the
    unified read must null-backfill the pre-evolution rows exactly — the
    oracle recomputes the same union from raw parquet. Every reader sees
    ONE manifest schema per version (no footer-sampling inference), so
    the evolved shape is consistent across snapshot, change feed and
    stream."""
    from ..sinks.versioned import (
        append_snapshot_evolve,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events")
    table = _work_root("vevolve", sf_dir)
    write_snapshot(
        ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value"), table
    )
    append_snapshot_evolve(
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "value", "event_type"
        ),
        table,
    )
    back = read_snapshot(spark, table)
    return back.groupBy(
        F.coalesce("event_type", F.lit("<pre-evolution>")).alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("event_type").alias("n_typed"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_versioned_erasure",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE user_id NOT IN (SELECT DISTINCT user_id FROM events
                          WHERE user_id % 37 = 5)
    GROUP BY event_type
    """,
)
def q_versioned_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure under the correctness gate
    (sinks/versioned.py delete_keys_mor): a key list of user_ids (every
    user with user_id % 37 = 5) is erased via merge-on-read tombstones —
    the gate RAISES if any data file was rewritten — and the surviving
    table must hash-match the oracle's NOT IN recomputation. The CDF
    carries every erased row as a delete pre-image, so downstream MVs
    retract exactly (pytest)."""
    from ..sinks.versioned import (
        delete_keys_mor,
        read_snapshot,
        snapshot_info,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table = _work_root("verasure", sf_dir)
    write_snapshot(ev.repartition(8), table)
    v1_files = [e["path"] for e in snapshot_info(table, 1)["files"]]
    erase = ev.filter(F.col("user_id") % 37 == 5).select("user_id")
    delete_keys_mor(spark, table, erase, ["user_id"])
    info = snapshot_info(table)
    if [e["path"] for e in info["files"]] != v1_files:
        raise RuntimeError("erasure rewrote data files — must be O(deleted)")
    back = read_snapshot(spark, table)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n, CAST(SUM(value_c) AS BIGINT) AS sum_value_c
    FROM (
      SELECT DISTINCT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events
    )
    GROUP BY event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cross-batch dedup under the correctness gate: the events
    table is staged TWICE (every row duplicated across different files)
    and replayed file-by-file; dropDuplicates state must suppress the
    re-deliveries ACROSS micro-batches (>=4 enforced), so the append-mode
    sink holds exactly one row per event_id — hash-matched against the
    batch DISTINCT oracle. This is the engine-side twin of the reference's
    insert_id idempotence (utils.js:74) executed as streaming state, and
    complements q_stream_tumbling (aggregate state) and q_stream_session
    (merging state) with the dedup-state shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    stage = _work_root("strm_dedup_src", sf_dir)
    ev.repartition(2).write.parquet(stage)
    ev.repartition(2).write.mode("append").parquet(stage)  # exact duplicates
    schema = spark.read.parquet(stage).schema

    sink_dir = _work_root("strm_dedup_sink", sf_dir)

    def _append(batch_df, batch_id):
        batch_df.write.mode("append").parquet(sink_dir)

    with _stream_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .dropDuplicates(["event_id"])
            .writeStream.foreachBatch(_append)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(q.recentProgress) < 4:
        raise RuntimeError(
            f"q_stream_dedup: expected >=4 micro-batches, got "
            f"{len(q.recentProgress)}"
        )
    return (
        spark.read.parquet(sink_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").cast("long").alias("sum_value_c"),
        )
    )


@query(
    "q_stream_mv",
    oracle="""
    SELECT event_type, COUNT(*) AS mv_count,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance under the correctness gate:
    events replay as a 4-file stream; each micro-batch is APPENDED to a
    versioned table (sinks/versioned.py) and the dependent COUNT/SUM view
    is refreshed INSIDE the same foreachBatch (sinks/materialized_view.py
    refresh_mv) — the CDF-driven incremental fold runs once per batch, so
    the view is maintained change-by-change, never rebuilt. The final view
    must hash-match the from-scratch aggregate of ALL events (>=4 batches
    enforced in-gate). This is the send-then-ack commit discipline of the
    reference (synchronous-pull.js:88-92) applied to view maintenance:
    the MV only ever folds COMMITTED table versions, so a crash between
    append and refresh just leaves a pending window for the next refresh.

    Scale posture: each refresh is O(batch change rows) — the fold joins
    the per-batch partial aggregate against the view, never rescans the
    base; at 100 TB the same foreachBatch body runs on a real stream with
    the table partitioned by arrival date. Money on the integer-cents
    grid."""
    from ..sinks.materialized_view import create_mv, read_mv, refresh_mv
    from ..sinks.versioned import append_snapshot, current_version

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    stage = _work_root("strm_mv_src", sf_dir)
    ev.repartition(4).write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    table = _work_root("strm_mv_base", sf_dir)
    mv = _work_root("strm_mv_view", sf_dir)

    def _ingest(batch_df, batch_id):
        # append-then-refresh: the refresh reads only the committed change
        # window (CDF), exactly once per micro-batch
        append_snapshot(batch_df, table)
        if current_version(mv) == 0:
            create_mv(
                batch_df.sparkSession, table, mv,
                keys=["event_type"], sums=["value_c"],
            )
        else:
            refresh_mv(batch_df.sparkSession, mv)

    # NOT wrapped in _stream_partitions: no stateful streaming operator —
    # the per-batch append+refresh are batch jobs; pinning them to 8
    # measured SLOWER (3.38→4.10 s at sf0.1)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(_ingest)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    if n_batches < 4:
        raise RuntimeError(
            f"q_stream_mv: expected >=4 micro-batches, got {n_batches}"
        )
    # the view must already be synced to the table's CURRENT version —
    # a final catch-up refresh here would hide a broken per-batch fold
    from ..sinks.materialized_view import _load_meta

    meta = _load_meta(mv)
    if meta["versions_synced"][0] != current_version(table):
        raise RuntimeError(
            "q_stream_mv: view not synced at stream end "
            f"(synced={meta['versions_synced'][0]}, "
            f"current={current_version(table)})"
        )
    return read_mv(spark, mv).select(
        "event_type",
        "mv_count",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
    )
