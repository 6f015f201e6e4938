"""End-to-end tour of the materialized-view family: a star view over
fact ⋈ dim ⋈ dim kept in sync incrementally while the base tables move,
then dashboard queries answered FROM the view by the rewrite layer.

    python examples/run_mv_family.py [sf_dir]

Walks through:
  1. three versioned base tables (orders / customer / nation)
  2. create_mv with two dims — snowflake COUNT/SUM/MIN/MAX view grouped
     by nation
  3. movement on every table (fact append + delete, customer re-keyed to
     another nation, nations renamed into one bloc)
  4. ONE refresh_mv call folding the telescoping delta
  5. answer_join_aggregate routing a coarser dashboard aggregate to the
     view (and proving the fallback when the view can't answer)
"""

from __future__ import annotations

import sys
import tempfile
import os

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from fxa_amplitude_send_spark.session import build_session  # noqa: E402
from fxa_amplitude_send_spark.sinks.mv_rewrite import (  # noqa: E402
    answer_join_aggregate,
)
from fxa_amplitude_send_spark.sinks.materialized_view import (  # noqa: E402
    create_mv,
    read_mv,
    refresh_mv,
)
from fxa_amplitude_send_spark.sinks.versioned import (  # noqa: E402
    append_snapshot,
    delete_snapshot,
    merge_snapshot,
    read_snapshot,
    write_snapshot,
)
from fxa_amplitude_send_spark.sources import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session("mv-family-demo")
    root = tempfile.mkdtemp(prefix="mv_family_")
    fp, cp, np_, mv = (os.path.join(root, x) for x in ("fact", "cust", "nat", "mv"))

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        "c_mktsegment",
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )

    print("== 1. base tables (v1) ==")
    write_snapshot(orders.filter("o_orderkey % 2 = 0"), fp)
    write_snapshot(cust, cp)
    write_snapshot(nation, np_)

    print("== 2. create star view: orders ⋈ customer ⋈ nation by n_name ==")
    create_mv(
        spark, fp, mv, keys=["n_name"], sums=["o_totalprice"],
        mins=["o_totalprice"], maxs=["o_totalprice"],
        dims=[{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}],
    )
    read_mv(spark, mv).orderBy("n_name").show(5, truncate=False)

    print("== 3. every table moves ==")
    append_snapshot(orders.filter("o_orderkey % 2 = 1"), fp)
    delete_snapshot(spark, fp, "o_totalprice > 300000")
    moved = (
        read_snapshot(spark, cp)
        .filter("c_mktsegment = 'BUILDING'")
        .withColumn("nationkey", F.lit(0))
    )
    merge_snapshot(spark, cp, moved, ["custkey"])
    bloc = (
        read_snapshot(spark, np_)
        .filter("nationkey < 5")
        .withColumn("n_name", F.lit("FIVE-BLOC"))
    )
    merge_snapshot(spark, np_, bloc, ["nationkey"])

    print("== 4. ONE incremental refresh folds the telescoping delta ==")
    refresh_mv(spark, mv)
    read_mv(spark, mv).orderBy("n_name").show(5, truncate=False)

    print("== 5. dashboard aggregate answered FROM the view ==")
    dims = [{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}]
    out, src = answer_join_aggregate(
        spark, fp, dims, keys=["n_name"], sums=["o_totalprice"],
        mins=["o_totalprice"], maxs=["o_totalprice"], mv_paths=[mv],
    )
    print(f"   routed to: {'the star view' if src else 'BASE SCAN (bug!)'}")
    out.orderBy(F.col("sum_o_totalprice").desc()).show(5, truncate=False)

    out2, src2 = answer_join_aggregate(
        spark, fp, dims, keys=["c_mktsegment"], sums=[], mv_paths=[mv],
    )
    print(
        "   c_mktsegment is not a view key -> "
        + ("fell back to executing the join (correct)" if src2 is None
           else "BUG: view cannot answer this")
    )
    out2.show(5, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
