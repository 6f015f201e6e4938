"""Partitioning must prune at file-listing time; bucketing must eliminate
the join shuffle. Plan-level assertions, not just row counts."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from fxa_amplitude_send_spark.sinks.parquet_layout import (
    read_partition_pruned,
    write_bucketed_table,
    write_partitioned,
)
from fxa_amplitude_send_spark.sources import load_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partition_pruning(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])

    pruned = read_partition_pruned(spark, path, "lang", "en")
    plan = plan_of(pruned)
    assert "PartitionFilters: [isnotnull(lang" in plan.replace("#", "").replace(
        ")", ""
    ) or "PartitionFilters" in plan
    # correctness: same rows as a row-level filter on the original table
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()
    # pruning really happened: the scan lists only the lang=en directory
    scan_lines = [l for l in plan.splitlines() if "Location" in l or "PartitionFilters" in l]
    assert any("lang" in l for l in scan_lines)


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        orders = load_table(spark, sf_smoke, "orders")
        customer = load_table(spark, sf_smoke, "customer")
        write_bucketed_table(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            "orders_b",
            "o_custkey",
            n_buckets=4,
        )
        write_bucketed_table(
            customer.select("c_custkey", "c_name"),
            "customer_b",
            "c_custkey",
            n_buckets=4,
        )
        ob = spark.table("orders_b")
        cb = spark.table("customer_b")
        joined = ob.join(cb, ob["o_custkey"] == cb["c_custkey"])
        plan = plan_of(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # correctness vs plain join
        plain = orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        ).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_zorder_bounds_both_dimensions(spark, sf_smoke, tmp_path):
    """Per-file min/max boxes (read from the parquet footers) must be tight
    in BOTH dimensions after a z-ordered compact_snapshot, while a linear
    sort leaves its trailing dimension unbounded — the property that makes
    multi-dim range predicates prunable."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fxa_amplitude_send_spark.sinks.versioned import (
        _read_manifest,
        compact_snapshot,
        write_snapshot,
    )

    ev = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select(
            (F.col("user_id") % 1024).cast("long").alias("a"),
            F.floor(F.col("value") * 10).cast("long").alias("b"),
        )
    )
    lin_path, z_path = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        ev.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(lin_path)
    )
    write_snapshot(ev, z_path)
    v = compact_snapshot(
        spark, z_path, target_files=16, zorder_by=("a", "b"), zorder_bits=6
    )
    z_files = [
        os.path.join(z_path, e["path"]) for e in _read_manifest(z_path, v)["files"]
    ]

    def file_boxes(files):
        boxes = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            mins = {"a": None, "b": None}
            maxs = {"a": None, "b": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name in mins and st is not None:
                        mins[name] = st.min if mins[name] is None else min(mins[name], st.min)
                        maxs[name] = st.max if maxs[name] is None else max(maxs[name], st.max)
            boxes.append((mins, maxs))
        return boxes

    def overlapping(boxes, col, lo, hi):
        return sum(
            1 for mins, maxs in boxes if not (maxs[col] < lo or mins[col] > hi)
        )

    lin = file_boxes(glob.glob(f"{lin_path}/part-*.parquet"))
    zed = file_boxes(z_files)
    n_lin, n_z = len(lin), len(zed)
    assert n_lin >= 4 and n_z >= 4  # range partitions can merge empty slots
    # ~10%-selective range on the TRAILING dimension b (20th-30th
    # percentile): the a-sorted layout cannot prune at all; z-order must
    # skip at least half the files (16 files fix two bits per dimension —
    # quarter-domain boxes; a window can straddle one quarter boundary)
    b20, b30 = ev.stat.approxQuantile("b", [0.20, 0.30], 0.0)
    assert overlapping(lin, "b", b20, b30) == n_lin
    assert overlapping(zed, "b", b20, b30) <= n_z // 2
    # same-width range on the leading dimension a: linear prunes near-
    # perfectly, z-order must still skip at least half
    a20, a30 = ev.stat.approxQuantile("a", [0.20, 0.30], 0.0)
    assert overlapping(lin, "a", a20, a30) <= max(2, n_lin // 4)
    assert overlapping(zed, "a", a20, a30) <= n_z // 2


def test_zorder_key_is_true_morton_code(spark):
    """Decoding the Spark-computed key (de-interleaving odd/even bits) must
    recover both inputs exactly for a spread of random and boundary pairs —
    the invariant that makes per-file key ranges equal 2-D bounding boxes."""
    import random

    from fxa_amplitude_send_spark.sinks.parquet_layout import zorder_key

    rng = random.Random(7)
    bits = 10
    pairs = [(0, 0), (1023, 1023), (0, 1023), (1023, 0), (512, 1), (1, 512)]
    pairs += [(rng.randrange(1024), rng.randrange(1024)) for _ in range(250)]
    df = spark.createDataFrame(pairs, "a int, b int")
    rows = df.select(
        "a", "b", zorder_key(F.col("a"), F.col("b"), bits=bits).alias("z")
    ).collect()

    def deinterleave(z, n_bits):
        a = b = 0
        for i in range(n_bits):
            a |= ((z >> (2 * i + 1)) & 1) << i
            b |= ((z >> (2 * i)) & 1) << i
        return a, b

    for r in rows:
        assert deinterleave(r["z"], bits) == (r["a"], r["b"]), r
