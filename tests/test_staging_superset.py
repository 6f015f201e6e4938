"""The single staging path of merges, deletes and view refreshes
(sinks/versioned._stage_tagged_files): a table column whose name equals one
the staging superset adds (``_change_type``, ``_kind``, and ``path``/``pos``
on merge-on-read) is refused before anything is written, while a CoW op on
a table whose columns only collide with merge-on-read names commits as
usual."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fxa_amplitude_send_spark.sinks.materialized_view import create_mv, refresh_mv
from fxa_amplitude_send_spark.sinks.versioned import (
    append_snapshot,
    current_version,
    delete_keys_mor,
    delete_snapshot,
    delete_snapshot_mor,
    merge_snapshot,
    merge_snapshot_mor,
    read_change_feed,
    read_snapshot,
    write_snapshot,
)


def _stage_dirs(path):
    return {n for n in os.listdir(os.path.join(path, "data")) if n.startswith("stage-")}


def _updates(df):
    return df.filter("k < 2").withColumn("v", F.col("v") + 1)


_OPS = {
    "merge_snapshot": lambda spark, p, df: merge_snapshot(spark, p, _updates(df), ["k"]),
    "merge_snapshot_mor": lambda spark, p, df: merge_snapshot_mor(
        spark, p, _updates(df), ["k"]
    ),
    "delete_snapshot": lambda spark, p, df: delete_snapshot(spark, p, "k = 1"),
    "delete_snapshot_mor": lambda spark, p, df: delete_snapshot_mor(spark, p, "k = 1"),
    "delete_keys_mor": lambda spark, p, df: delete_keys_mor(
        spark, p, df.filter("k = 1"), ["k"]
    ),
}


@pytest.mark.parametrize(
    "op,col",
    [(op, "_change_type") for op in _OPS]
    + [
        (op, "pos")
        for op in ("merge_snapshot_mor", "delete_snapshot_mor", "delete_keys_mor")
    ]
    + [("delete_snapshot_mor", "POS")],
)
def test_superset_name_collision_refused_before_staging(spark, tmp_path, op, col):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, 10 * i, f"x{i}") for i in range(6)], f"k bigint, v bigint, `{col}` string"
    )
    write_snapshot(df, path)
    before = _stage_dirs(path)
    with pytest.raises(ValueError, match=f"'{col}'"):
        _OPS[op](spark, path, df)
    assert current_version(path) == 1
    assert _stage_dirs(path) == before, "nothing may be staged before the refusal"


def test_mv_refresh_group_key_named_kind_refused(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    rows = [(f"g{i % 3}", i) for i in range(9)]
    write_snapshot(spark.createDataFrame(rows, "_kind string, value bigint"), base)
    create_mv(spark, base, mv, keys=["_kind"], sums=["value"])
    append_snapshot(spark.createDataFrame([("g0", 100)], "_kind string, value bigint"), base)
    before = _stage_dirs(mv)
    with pytest.raises(ValueError, match="'_kind'"):
        refresh_mv(spark, mv)
    assert current_version(mv) == 1
    assert _stage_dirs(mv) == before


def _sorted_rows(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("op", ["merge", "delete"])
def test_cow_ops_keep_working_on_path_pos_columns(spark, tmp_path, op):
    """``path``/``pos`` are added only by the merge-on-read superset, so a
    copy-on-write merge or delete on a table carrying them commits exactly
    what it commits on the same table with those columns renamed."""
    rows = [(i, 10 * i, f"p{i}", 100 + i) for i in range(6)]

    def run(path, pth, pos):
        schema = f"k bigint, v bigint, {pth} string, {pos} bigint"
        df = spark.createDataFrame(rows, schema)
        write_snapshot(df, path)
        if op == "merge":
            upd = _updates(df).unionByName(
                spark.createDataFrame([(9, 90, "p9", 109)], schema)
            )
            assert merge_snapshot(spark, path, upd, ["k"]) == 2
        else:
            assert delete_snapshot(spark, path, "k >= 4") == 2

        def back(d):
            return d.withColumnRenamed(pth, "path").withColumnRenamed(pos, "pos")

        cols = ["k", "v", "path", "pos"]
        return (
            _sorted_rows(back(read_snapshot(spark, path)), cols),
            _sorted_rows(back(read_change_feed(spark, path, 1)), cols + ["_change_type"]),
        )

    data, cdf = run(str(tmp_path / "a"), "path", "pos")
    assert (data, cdf) == run(str(tmp_path / "b"), "p_path", "p_pos")
    if op == "merge":
        assert len(data) == 7
        assert sorted((r[0], r[4]) for r in cdf) == [
            (0, "update_postimage"),
            (0, "update_preimage"),
            (1, "update_postimage"),
            (1, "update_preimage"),
            (9, "insert"),
        ]
    else:
        assert [r[0] for r in data] == [0, 1, 2, 3]
        assert sorted((r[0], r[4]) for r in cdf) == [(4, "delete"), (5, "delete")]
