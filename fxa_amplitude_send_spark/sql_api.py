"""SQL-text entry point: run ANSI-ish SQL strings against the engine.

The DataFrame builders in ``plans/`` are the primary surface, but an engine
is not complete without a plain-SQL door: ``register_views`` exposes every
testdata table as a temp view and ``run_sql`` executes arbitrary SQL through
Spark's parser/Catalyst — same optimizer, same physical planning as the
DataFrame API (they compile to identical logical plans).

Queries registered via this module keep ONE SQL string as the single source
of truth: written in the Spark∩DuckDB common dialect, the identical text
runs as the engine query (spark.sql) AND as the oracle (DuckDB) — the
strongest form of the differential check, since no translation step can
hide a semantic difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources import register_views


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run a SQL string against the registered views."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


def register_versioned_view(
    spark: SparkSession,
    name: str,
    path: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> None:
    """Expose a versioned table (sinks/versioned.py) as a SQL temp view —
    the plain-SQL door to time travel: pass ``version`` (VERSION AS OF) or
    ``timestamp`` (TIMESTAMP AS OF, resolved via commit times); default is
    CURRENT. Deletion vectors, schema evolution and manifest pruning all
    apply — the view IS read_snapshot's DataFrame, so Catalyst sees the
    same JVM-native parquet scan (no Python in the read path)."""
    from .sinks.versioned import read_snapshot, version_at_timestamp

    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")
    v = version_at_timestamp(path, timestamp) if timestamp is not None else version
    read_snapshot(spark, path, version=v).createOrReplaceTempView(name)
