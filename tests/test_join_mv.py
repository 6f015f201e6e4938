"""Incrementally maintained JOIN views (sinks/materialized_view.py with
one dim): the two-term
signed delta expansion (ΔF ⋈ D_new + F_old ⋈ ΔD) must keep the view equal
to a from-scratch fact⋈dim recompute after any interleaving of fact
appends/deletes and dim merges/deletes — including dim attribute updates,
the case naive fact-delta-only maintenance silently corrupts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fxa_amplitude_send_spark.sinks.materialized_view import (
    create_mv,
    read_mv,
    refresh_mv,
)
from fxa_amplitude_send_spark.sinks.versioned import (
    append_snapshot,
    delete_snapshot,
    merge_snapshot,
    read_snapshot,
    write_snapshot,
)
from fxa_amplitude_send_spark.sources import load_table


@pytest.fixture()
def fact(spark, sf_smoke):
    # orders as the fact: join key o_custkey, measure o_totalprice
    return load_table(spark, sf_smoke, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        "o_totalprice",
    )


@pytest.fixture()
def dim(spark, sf_smoke):
    # customer as the dim: group key c_mktsegment lives ONLY here
    return load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment", "c_acctbal"
    )


def _as_map(df):
    return {
        r["c_mktsegment"]: (r["mv_count"], round(r["sum_o_totalprice"], 2))
        for r in df.collect()
    }


def _recompute(spark, fact_path, dim_path):
    return _as_map(
        read_snapshot(spark, fact_path)
        .join(read_snapshot(spark, dim_path), "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.sum("o_totalprice").alias("sum_o_totalprice"),
        )
    )


def _setup(spark, fact, dim, tmp_path, fact_pred="o_orderkey % 2 = 0"):
    fp, dp, mv = str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "mv")
    write_snapshot(fact.filter(fact_pred), fp)
    write_snapshot(dim, dp)
    create_mv(
        spark, fp, mv, keys=["c_mktsegment"], sums=["o_totalprice"],
        dims=[{"path": dp, "on": ["custkey"]}],
    )
    return fp, dp, mv


def test_join_mv_create_matches_recompute(spark, fact, dim, tmp_path):
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_fact_append_never_scans_fact(spark, fact, dim, tmp_path):
    """Fact-only movement folds via ΔF ⋈ dim and matches a recompute."""
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_fact_only_refresh_never_reads_fact(
    spark, fact, dim, tmp_path, monkeypatch
):
    """The O(ΔF ⋈ dim) claim, pinned: when only the fact moved, refresh
    must never time-travel-read the fact table — only the dim's current
    snapshot and the stored view."""
    import fxa_amplitude_send_spark.sinks.materialized_view as jmv

    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    read_paths = []
    real = jmv.read_snapshot
    monkeypatch.setattr(
        jmv, "read_snapshot",
        lambda spark, path, version=None: (
            read_paths.append(path), real(spark, path, version)
        )[1],
    )
    refresh_mv(spark, mv)
    assert fp not in read_paths
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_fact_delete_retracts(spark, fact, dim, tmp_path):
    fp, dp, mv = _setup(spark, fact, dim, tmp_path, fact_pred="true")
    delete_snapshot(spark, fp, "o_totalprice > 100000")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_dim_update_rewrites_groups(spark, fact, dim, tmp_path):
    """THE case this operator exists for: a dim attribute used as the group
    key changes, so every joined fact row must move between groups via the
    CDF preimage (−1, old segment) / postimage (+1, new segment) pair.
    Naive fact-delta-only maintenance would keep serving the old segment."""
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    moved = (
        read_snapshot(spark, dp)
        .filter("c_mktsegment = 'BUILDING'")
        .withColumn("c_mktsegment", F.lit("REZONED"))
    )
    merge_snapshot(spark, dp, moved, ["custkey"])
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert got == _recompute(spark, fp, dp)
    assert "BUILDING" not in got and "REZONED" in got


def test_join_mv_dim_delete_drops_joined_rows(spark, fact, dim, tmp_path):
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    delete_snapshot(spark, dp, "c_mktsegment = 'MACHINERY'")
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert got == _recompute(spark, fp, dp)
    assert "MACHINERY" not in got


def test_join_mv_both_sides_move_in_one_window(spark, fact, dim, tmp_path):
    """Fact rows appended in the SAME window as a dim update/delete: the
    ΔF ⋈ D_new term must see the dim's new state exactly once (the cross
    term lives in D_new's material content, not in a third join)."""
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    moved = (
        read_snapshot(spark, dp)
        .filter("c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')")
        .withColumn("c_mktsegment", F.lit("CONSOLIDATED"))
    )
    merge_snapshot(spark, dp, moved, ["custkey"])
    delete_snapshot(spark, dp, "c_mktsegment = 'FURNITURE'")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_refresh_is_idempotent_noop(spark, fact, dim, tmp_path):
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    v1 = refresh_mv(spark, mv)  # nothing moved
    assert refresh_mv(spark, mv) == v1
    before = _as_map(read_mv(spark, mv))
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    v2 = refresh_mv(spark, mv)
    assert v2 == v1 + 1
    assert refresh_mv(spark, mv) == v2  # second fold is a no-op
    assert _as_map(read_mv(spark, mv)) != before


def test_join_mv_replace_commit_refused(spark, fact, dim, tmp_path):
    """A full REPLACE of the dim is not an incremental delta — the shared
    change-feed guard must refuse, directing at a rebuild."""
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    write_snapshot(read_snapshot(spark, dp).limit(10), dp)  # replace
    with pytest.raises(RuntimeError, match="REPLACE"):
        refresh_mv(spark, mv)


def test_join_mv_refresh_mv_folds_join_view(spark, fact, dim, tmp_path):
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_streaming_triggered_refresh(spark, fact, dim, tmp_path):
    """Dim CDF stream -> join-view loop: a streaming reader tails the DIM
    table's change feed and each micro-batch triggers an incremental
    join-MV refresh — the streaming flavor of slowly-changing-dimension
    propagation. refresh_mv's per-table version cursors keep the trigger
    idempotent."""
    from fxa_amplitude_send_spark.sinks.versioned import current_version
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    # dim moves while the stream is down: a segment rewrite and a delete
    moved = (
        read_snapshot(spark, dp)
        .filter("c_mktsegment = 'BUILDING'")
        .withColumn("c_mktsegment", F.lit("REZONED"))
    )
    merge_snapshot(spark, dp, moved, ["custkey"])
    delete_snapshot(spark, dp, "c_mktsegment = 'MACHINERY'")
    # and the fact moves too — the same trigger folds BOTH cursors
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)

    refreshes: list[int] = []

    def on_batch(batch_df, batch_id):
        refreshes.append(refresh_mv(batch_df.sparkSession, mv))

    q = (
        spark.readStream.format("versioned_table")
        .option("path", dp)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert refreshes, "stream delivered no batches"
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)
    v = current_version(mv)
    assert refresh_mv(spark, mv) == v


def test_join_mv_dim_is_itself_a_maintained_mv(spark, tmp_path, sf_smoke):
    """Chained IVM across modules: the join view's DIM is a maintained MV.
    Base movement propagates base → MV (its refresh emits real CDF
    update pre/postimage pairs) → join view, every hop O(changes). This is
    only possible because MV refreshes commit kind='merge' with change
    files instead of the change-feed-refused REPLACE."""
    from fxa_amplitude_send_spark.sinks.materialized_view import create_mv

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "event_type", "value"
    )
    base, dmv, jmv = (
        str(tmp_path / "b"), str(tmp_path / "dmv"), str(tmp_path / "jmv")
    )
    fp = str(tmp_path / "f")
    # dim MV: per-type stats over a moving base
    write_snapshot(ev.filter("event_id < 60"), base)
    create_mv(spark, base, dmv, keys=["event_type"], sums=["value"])
    # fact: the full event stream keyed by type
    write_snapshot(
        ev.withColumn("fbucket", F.col("event_id") % 3).drop("value"), fp
    )
    create_mv(
        spark, fp, jmv, keys=["fbucket"], sums=["sum_value"],
        dims=[{"path": dmv, "on": ["event_type"]}],
    )

    def jmv_map():
        return {
            r["fbucket"]: (r["mv_count"], round(r["sum_sum_value"], 4))
            for r in read_mv(spark, jmv).collect()
        }

    def jmv_recompute():
        return {
            r["fbucket"]: (r["mv_count"], round(r["sum_sum_value"], 4))
            for r in read_snapshot(spark, fp)
            .join(read_snapshot(spark, dmv), "event_type")
            .groupBy("fbucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("mv_count"),
                F.sum("sum_value").alias("sum_sum_value"),
            )
            .collect()
        }

    assert jmv_map() == jmv_recompute()
    # base moves: every existing event_type row in the dim MV UPDATES —
    # the join view must consume the pre/post pairs, and a type deleted
    # from the base must drop out of the dim and thus the join
    append_snapshot(ev.filter("event_id >= 60 AND event_id < 140"), base)
    delete_snapshot(spark, base, "event_type = 'error'")
    refresh_mv(spark, dmv)
    refresh_mv(spark, jmv)
    assert jmv_map() == jmv_recompute()


def test_join_mv_side_validation(spark, fact, dim, tmp_path):
    fp, dp = str(tmp_path / "f"), str(tmp_path / "d")
    write_snapshot(fact, fp)
    write_snapshot(dim, dp)
    mv = str(tmp_path / "mv")
    with pytest.raises(ValueError, match="no table"):
        create_mv(spark, fp, mv, keys=["nope"], sums=["o_totalprice"],
                  dims=[{"path": dp, "on": ["custkey"]}])
    with pytest.raises(ValueError, match="join column"):
        create_mv(spark, fp, mv, keys=["c_mktsegment"], sums=["o_totalprice"],
                  dims=[{"path": dp, "on": ["o_orderkey"]}])
    with pytest.raises(ValueError, match="is a join column"):
        create_mv(spark, fp, mv, keys=["custkey"], sums=["o_totalprice"],
                  dims=[{"path": dp, "on": ["custkey"]}])


def test_join_mv_fact_compaction_then_vacuum_does_not_break_dim_term(
    spark, fact, dim, tmp_path
):
    """Durability edge shared with the star view: a compaction-only fact
    window whose pre-compaction version was vacuumed must not break the
    F_old ⋈ ΔD term — the read retargets the post-compaction files
    (identical content)."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        compact_snapshot,
        vacuum,
    )

    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    compact_snapshot(spark, fp, target_files=2)
    vacuum(fp, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True)
    moved = (
        read_snapshot(spark, dp)
        .filter("c_mktsegment = 'BUILDING'")
        .withColumn("c_mktsegment", F.lit("REZONED"))
    )
    merge_snapshot(spark, dp, moved, ["custkey"])
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_mor_deletes_on_both_sides(spark, fact, dim, tmp_path):
    """Merge-on-read deletes (deletion vectors, no rewrite) on the FACT and
    then the DIM must flow through the CDF identically to copy-on-write
    deletes — the view stays equal to a from-scratch recompute."""
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor

    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    delete_snapshot_mor(spark, fp, "o_totalprice > 150000")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)
    delete_snapshot_mor(spark, dp, "custkey % 5 = 2")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)


def test_join_mv_mor_merge_moves_groups(spark, fact, dim, tmp_path):
    """A merge-on-read dim upsert that moves customers between segments
    must relocate their joined fact rows in the view — pre-image
    retraction off the MoR CDF alone."""
    from fxa_amplitude_send_spark.sinks.versioned import merge_snapshot_mor

    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    moved = (
        read_snapshot(spark, dp)
        .filter("custkey % 7 = 3")
        .withColumn("c_mktsegment", F.lit("MOR_MOVED"))
    )
    merge_snapshot_mor(spark, dp, moved, ["custkey"])
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert got == _recompute(spark, fp, dp)
    assert "MOR_MOVED" in got


def test_join_mv_refreshes_legacy_join_meta(spark, fact, dim, tmp_path):
    """A view whose _mv_meta.json still has the ``kind: join_mv`` shape
    (fact_path / dim_path / on / side / *_version_synced) keeps
    refreshing, with both sides moving in the window."""
    import json
    import os

    fp, dp, mv = _setup(spark, fact, dim, tmp_path)
    legacy = {
        "kind": "join_mv",
        "fact_path": os.path.abspath(fp),
        "dim_path": os.path.abspath(dp),
        "on": ["custkey"],
        "keys": ["c_mktsegment"],
        "sums": ["o_totalprice"],
        "side": {"c_mktsegment": "dim", "o_totalprice": "fact"},
        "fact_version_synced": 1,
        "dim_version_synced": 1,
        "mv_version": 1,
    }
    with open(os.path.join(mv, "_mv_meta.json"), "w", encoding="utf-8") as fh:
        json.dump(legacy, fh, indent=1, sort_keys=True)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    moved = (
        read_snapshot(spark, dp)
        .filter("c_mktsegment = 'BUILDING'")
        .withColumn("c_mktsegment", F.lit("REZONED"))
    )
    merge_snapshot(spark, dp, moved, ["custkey"])
    assert refresh_mv(spark, mv) == 2
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, dp)
