"""Parquet table sources for the synthetic TPC-H-ish star schema.

Plain `spark.read.parquet` so Catalyst gets predicate pushdown, column pruning
and partition pruning for free. On a real 100 TB deployment these would be
partitioned/bucketed tables behind a catalog; the loader keeps that behind one
function so the rest of the engine never hardcodes paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def _ensure_session_confs(spark: SparkSession) -> None:
    """Session hygiene applied at the scan boundary so the engine behaves
    correctly even under a caller-provided SparkSession (the driver contract
    passes us its own session): nanos-parquet readability, UTC semantics, and
    Arrow transfer for the Pandas-UDF paths. All runtime-settable SQL confs."""
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-settable in this runtime → rely on builder defaults


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it scans as a long of epoch
        # nanos. Convert to a proper TimestampType (micros) with integer
        # division — floor semantics, matching DuckDB's ns→us truncation.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # NOTE: when the parquet type is TIMESTAMP(MICROS, isAdjustedToUTC=
        # false) the scan yields TIMESTAMP_NTZ and is left as-is — naive
        # timestamps match the DuckDB oracle's view of the same file, and the
        # session TZ is pinned UTC above so any LTZ cast downstream is
        # value-preserving. Callers needing epoch arithmetic must cast
        # explicitly (see plans/flagship.py).
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view under its own name (idempotent), so
    plans can be written in SQL too."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata — zero Spark jobs, zero data
    read. This is the engine's 'catalog statistics' primitive: footers are
    the statistics a lakehouse catalog would serve, and a plan that needs a
    cardinality BOUND (bloom sizing, broadcast gating on unfiltered
    tables) should take it from here rather than pay a counting job."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    parts = glob.glob(os.path.join(path, "*.parquet"))
    if not parts:
        # A silent 0 would pass every downstream gate in the WRONG direction
        # (0 rows <= any broadcast cap; bloom_bits_for(0) floors the bitmap)
        # — layout drift (nested partition dirs, renamed files) must fail
        # loudly, not neuter the optimization it was sizing.
        raise FileNotFoundError(
            f"no parquet footers for table {name!r} under {path!r} "
            "(expected a single file or a flat directory of *.parquet parts)"
        )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
