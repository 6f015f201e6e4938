"""Storage-layout writers: partitioned and bucketed parquet.

At 100 TB the table layout IS the query plan: directory partitioning turns
predicates into pruned file listings (zero IO for excluded partitions), and
bucketing pre-shuffles both sides of a recurring join key so the join runs
shuffle-free forever after. These helpers wrap the two patterns with the
knobs that matter.

Compaction and z-order clustering are not written here: they rewrite a
table, so they live in ``sinks/versioned.compact_snapshot``, which commits
the rewrite as a new manifest version (time travel and crash safety come
with it). This module only supplies the z-order key (``zorder_key`` over
``_rank_bucket``-normalized columns) that it uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style directory partitioning. Choose partition columns with
    bounded cardinality (date, lang, tenant) — one directory per value; high
    cardinality here is the classic small-files failure mode."""
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    location: str | None = None,
) -> None:
    """Bucketed (pre-shuffled) table in the session catalog: joins and
    aggregations on ``bucket_col`` between tables bucketed the same way run
    WITHOUT an exchange — the one-time write cost buys every future query's
    shuffle. n_buckets should divide evenly into the cluster's parallelism.
    Pass ``location`` to pin the files outside the warehouse dir (required
    under a caller-provided session with no warehouse assumption — see
    sinks/bucketed.ensure_bucketed, which adds staging reuse on top)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table_name)


def read_partition_pruned(
    spark: SparkSession, path: str, partition_col: str, value
) -> DataFrame:
    """Scan exactly one partition — the filter binds at file-listing time
    (PartitionFilters in explain), not at row time."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).filter(F.col(partition_col) == value)


def zorder_key(a, b, bits: int = 16):
    """Z-order (Morton) key: bit-interleave two non-negative ints so rows
    close in BOTH dimensions get close keys. Sorting files by this key gives
    every file a bounded min/max box in each dimension — parquet row-group
    statistics then prune multi-dimensional range predicates, which a
    single-column sort can only do for its leading column (the technique
    behind Delta/Iceberg OPTIMIZE ZORDER).

    Pure bitwise expressions (2·bits shift/mask/add terms), whole-stage
    codegen'd; inputs are truncated to ``bits`` low bits, so map real
    domains onto [0, 2^bits) first (e.g. bucketized doubles)."""
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    aa = a.cast("long")
    bb = b.cast("long")
    for i in range(bits):
        abit = F.shiftright(aa, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(bb, i).bitwiseAND(F.lit(1))
        key = key + F.shiftleft(abit, 2 * i + 1) + F.shiftleft(bbit, 2 * i)
    return key


def _rank_bucket(df: DataFrame, col: str, bits: int):
    """Column expression mapping ``col`` onto [0, 2^bits) by approximate
    quantile rank. Morton interleaving only gives locality when both
    dimensions FILL their bit domain uniformly — raw long-tailed or
    narrow-range values collapse the curve (measured: z-order on raw
    values produced WORSE boxes than a linear sort). The boundaries come
    from one sketch-based approxQuantile pass (driver memory O(2^bits),
    corpus-size independent — the same sampling trick behind Delta's
    range-id clustering)."""
    from pyspark.sql import functions as F

    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    bounds = df.stat.approxQuantile(col, probs, 0.001)
    bounds_arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(
        F.filter(bounds_arr, lambda b: b <= F.col(col).cast("double"))
    ).cast("long")
