"""Snowflake/star incrementally maintained join views
(sinks/materialized_view.py with several dims):
the telescoping signed delta expansion
Σ_i T0_old ⋈ … ⋈ T(i−1)_old ⋈ ΔTi ⋈ T(i+1)_new ⋈ … ⋈ Tn_new must keep the
view equal to a from-scratch fact ⋈ dim1 ⋈ dim2 recompute after any
interleaving of movement on ANY subset of the tables — including an
attribute update on the OUTERMOST snowflake dim (nation), whose group-key
rows reach the fact only through the middle dim (customer)."""

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
    # orders as the fact: joins customer on custkey
    return load_table(spark, sf_smoke, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        "o_totalprice",
    )


@pytest.fixture()
def cust(spark, sf_smoke):
    # middle dim: provides the snowflake key (nationkey) for the outer dim
    return load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        "c_mktsegment",
    )


@pytest.fixture()
def nation(spark, sf_smoke):
    # outer dim: owns the group key n_name
    return load_table(spark, sf_smoke, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )


def _as_map(df):
    return {
        r["n_name"]: (r["mv_count"], round(r["sum_o_totalprice"], 2))
        for r in df.collect()
    }


def _recompute(spark, fp, cp, np_):
    return _as_map(
        read_snapshot(spark, fp)
        .join(read_snapshot(spark, cp), "custkey")
        .join(read_snapshot(spark, np_), "nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.sum("o_totalprice").alias("sum_o_totalprice"),
        )
    )


def _setup(spark, fact, cust, nation, tmp_path, fact_pred="o_orderkey % 2 = 0"):
    fp = str(tmp_path / "f")
    cp = str(tmp_path / "c")
    np_ = str(tmp_path / "n")
    mv = str(tmp_path / "mv")
    write_snapshot(fact.filter(fact_pred), fp)
    write_snapshot(cust, cp)
    write_snapshot(nation, np_)
    create_mv(
        spark, fp, mv, keys=["n_name"], sums=["o_totalprice"],
        dims=[{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}],
    )
    return fp, cp, np_, mv


def test_star_mv_create_matches_recompute(spark, fact, cust, nation, tmp_path):
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)


def test_star_mv_fact_only_refresh_never_reads_fact(
    spark, fact, cust, nation, tmp_path, monkeypatch
):
    """The O(ΔF ⋈ dims) claim, pinned: when only the fact moved, refresh
    must never time-travel-read the fact — only the dims' new snapshots
    and the stored view."""
    import fxa_amplitude_send_spark.sinks.materialized_view as smv

    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    read_paths = []
    real = smv.read_snapshot
    monkeypatch.setattr(
        smv, "read_snapshot",
        lambda spark, path, version=None: (
            read_paths.append(path), real(spark, path, version)
        )[1],
    )
    refresh_mv(spark, mv)
    assert fp not in read_paths
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)


def test_star_mv_fact_delete_retracts(spark, fact, cust, nation, tmp_path):
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path,
                             fact_pred="true")
    delete_snapshot(spark, fp, "o_totalprice > 100000")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)


def test_star_mv_outer_dim_rename_rewrites_groups(
    spark, fact, cust, nation, tmp_path
):
    """An attribute update on the OUTERMOST dim: renaming nations must move
    every transitively-joined fact row to the new group via the nation
    term T0_old ⋈ T1_old ⋈ ΔT2 (preimage −1 old name, postimage +1 new)."""
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    renamed = (
        read_snapshot(spark, np_)
        .filter("nationkey % 5 = 0")
        .withColumn("n_name", F.concat(F.lit("Z_"), F.col("n_name")))
    )
    merge_snapshot(spark, np_, renamed, ["nationkey"])
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert got == _recompute(spark, fp, cp, np_)
    assert any(k.startswith("Z_") for k in got)


def test_star_mv_middle_dim_rekey_moves_rows_between_outer_groups(
    spark, fact, cust, nation, tmp_path
):
    """Customers migrating to another nation change the JOIN key of the
    middle dim: the customer term's CDF pre/postimage pair must retract
    from the old nation's group and add to the new one."""
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    migrated = (
        read_snapshot(spark, cp)
        .filter("c_mktsegment = 'BUILDING'")
        .withColumn("nationkey", F.lit(0))
    )
    merge_snapshot(spark, cp, migrated, ["custkey"])
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)


def test_star_mv_all_three_tables_move_in_one_window(
    spark, fact, cust, nation, tmp_path
):
    """Fact append + middle-dim rekey + outer-dim rename + outer-dim delete
    in ONE refresh window: each cross term must be counted exactly once
    (it lives in the later table's new material content)."""
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    migrated = (
        read_snapshot(spark, cp)
        .filter("c_mktsegment = 'AUTOMOBILE'")
        .withColumn("nationkey", F.lit(3))
    )
    merge_snapshot(spark, cp, migrated, ["custkey"])
    renamed = (
        read_snapshot(spark, np_)
        .filter("nationkey < 5")
        .withColumn("n_name", F.lit("MERGED_BLOC"))
    )
    merge_snapshot(spark, np_, renamed, ["nationkey"])
    delete_snapshot(spark, np_, "nationkey >= 20")
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert got == _recompute(spark, fp, cp, np_)
    assert "MERGED_BLOC" in got


def test_star_mv_refresh_is_idempotent_noop(spark, fact, cust, nation, tmp_path):
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    v1 = refresh_mv(spark, mv)  # nothing moved
    assert refresh_mv(spark, mv) == v1
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    v2 = refresh_mv(spark, mv)
    assert v2 == v1 + 1
    assert refresh_mv(spark, mv) == v2  # second fold is a no-op


def test_star_mv_replace_commit_refused(spark, fact, cust, nation, tmp_path):
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    write_snapshot(read_snapshot(spark, cp).limit(10), cp)  # full replace
    with pytest.raises(RuntimeError, match="REPLACE"):
        refresh_mv(spark, mv)


def test_star_mv_refresh_mv_folds_star_view(spark, fact, cust, nation, tmp_path):
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    delete_snapshot(spark, np_, "nationkey >= 20")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)


def test_star_mv_is_chainable_cdf_source(spark, fact, cust, nation, tmp_path):
    """A star view's refresh commits kind='merge' with real change files,
    so a downstream plain MV can aggregate the star view incrementally."""
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    refresh_mv(spark, mv)  # no-op refresh; keep the cursor exercised
    top = str(tmp_path / "top")
    create_mv(
        spark, mv, top,
        keys=["n_name"], sums=["mv_count", "sum_o_totalprice"],
    )
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    delete_snapshot(spark, np_, "nationkey >= 15")
    refresh_mv(spark, mv)  # updates + deletes flow out as CDF rows
    refresh_mv(spark, top)
    expect = _recompute(spark, fp, cp, np_)
    got = {
        r["n_name"]: (r["sum_mv_count"], round(r["sum_sum_o_totalprice"], 2))
        for r in read_mv(spark, top).collect()
    }
    assert got == expect


def test_star_mv_column_plan_validation(spark, fact, cust, nation, tmp_path):
    fp, cp, np_ = (
        str(tmp_path / "f"), str(tmp_path / "c"), str(tmp_path / "n")
    )
    write_snapshot(fact, fp)
    write_snapshot(cust, cp)
    write_snapshot(nation, np_)
    mv = str(tmp_path / "mv")
    dims_ok = [
        {"path": cp, "on": ["custkey"]},
        {"path": np_, "on": ["nationkey"]},
    ]
    with pytest.raises(ValueError, match="no table"):
        create_mv(spark, fp, mv, keys=["nope"], sums=["o_totalprice"],
                  dims=dims_ok)
    with pytest.raises(ValueError, match="is a join column"):
        create_mv(spark, fp, mv, keys=["nationkey"], sums=["o_totalprice"],
                  dims=dims_ok)
    # nation joins on nationkey, which only customer provides: listing
    # nation FIRST puts its join key out of scope
    with pytest.raises(ValueError, match="already in scope"):
        create_mv(
            spark, fp, mv, keys=["n_name"], sums=["o_totalprice"],
            dims=[{"path": np_, "on": ["nationkey"]},
                  {"path": cp, "on": ["custkey"]}],
        )


def test_star_mv_fact_compaction_then_vacuum_does_not_break_dim_term(
    spark, fact, cust, nation, tmp_path
):
    """Durability edge: the fact's only movement is a COMPACTION, vacuum
    then removes the pre-compaction (synced) version, and the dim moves.
    The dim term's old-fact read must target the post-compaction files
    (identical content) instead of failing on the vacuumed version — and
    the refreshed view must still equal a recompute."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        compact_snapshot,
        vacuum,
    )

    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    compact_snapshot(spark, fp, target_files=2)   # fact v2, content == v1
    vacuum(fp, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True)                 # v1 files+manifest gone
    delete_snapshot(spark, np_, "nationkey >= 20")
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)


def test_star_mv_vacuumed_change_window_refused(
    spark, fact, cust, nation, tmp_path
):
    """If REAL change versions are vacuumed past the unsynced window, the
    refresh must refuse loudly (rebuild required), never fold a partial
    feed."""
    from fxa_amplitude_send_spark.sinks.versioned import vacuum

    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)  # v2 (data)
    delete_snapshot(spark, fp, "o_totalprice > 150000")     # v3 (data)
    vacuum(fp, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True)
    with pytest.raises(RuntimeError, match="vacuumed"):
        refresh_mv(spark, mv)


def _mm_map(df):
    return {
        r["n_name"]: (r["mv_count"], round(r["min_o_totalprice"], 2),
                      round(r["max_o_totalprice"], 2))
        for r in df.collect()
    }


def _mm_recompute(spark, fp, cp, np_):
    return _mm_map(
        read_snapshot(spark, fp)
        .join(read_snapshot(spark, cp), "custkey")
        .join(read_snapshot(spark, np_), "nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.min("o_totalprice").alias("min_o_totalprice"),
            F.max("o_totalprice").alias("max_o_totalprice"),
        )
    )


def test_star_mv_minmax_insert_fold_and_retraction_recompute(
    spark, fact, cust, nation, tmp_path
):
    """MIN/MAX over the JOIN: inserts fold via least/greatest; a fact
    delete that retracts ~every group's max forces the danger-group
    re-aggregation from the CURRENT join — the view must equal a
    from-scratch recompute after both."""
    fp = str(tmp_path / "f")
    cp = str(tmp_path / "c")
    np_ = str(tmp_path / "n")
    mv = str(tmp_path / "mv")
    write_snapshot(fact.filter("o_orderkey % 2 = 0"), fp)
    write_snapshot(cust, cp)
    write_snapshot(nation, np_)
    create_mv(
        spark, fp, mv, keys=["n_name"], sums=[],
        mins=["o_totalprice"], maxs=["o_totalprice"],
        dims=[{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}],
    )
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)  # insert fold
    refresh_mv(spark, mv)
    assert _mm_map(read_mv(spark, mv)) == _mm_recompute(spark, fp, cp, np_)
    delete_snapshot(spark, fp, "o_totalprice > 150000")     # retract maxes
    refresh_mv(spark, mv)
    assert _mm_map(read_mv(spark, mv)) == _mm_recompute(spark, fp, cp, np_)


def test_star_mv_minmax_dim_rekey_migrates_extremes(
    spark, fact, cust, nation, tmp_path
):
    """A dim rekey moves joined rows between outer groups: the CDF
    preimage retracts rows (possibly the stored extreme) from the old
    nation while the postimage inserts into the new one — extremes must
    land correctly on BOTH sides."""
    fp = str(tmp_path / "f")
    cp = str(tmp_path / "c")
    np_ = str(tmp_path / "n")
    mv = str(tmp_path / "mv")
    write_snapshot(fact, fp)
    write_snapshot(cust, cp)
    write_snapshot(nation, np_)
    create_mv(
        spark, fp, mv, keys=["n_name"], sums=["o_totalprice"],
        mins=["o_totalprice"], maxs=["o_totalprice"],
        dims=[{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}],
    )
    migrated = (
        read_snapshot(spark, cp)
        .filter("c_mktsegment IN ('BUILDING', 'MACHINERY')")
        .withColumn("nationkey", F.lit(7))
    )
    merge_snapshot(spark, cp, migrated, ["custkey"])
    refresh_mv(spark, mv)
    got = {
        r["n_name"]: (r["mv_count"], round(r["sum_o_totalprice"], 2),
                      round(r["min_o_totalprice"], 2),
                      round(r["max_o_totalprice"], 2))
        for r in read_mv(spark, mv).collect()
    }
    expect = {
        r["n_name"]: (r["mv_count"], round(r["sum_o_totalprice"], 2),
                      round(r["min_o_totalprice"], 2),
                      round(r["max_o_totalprice"], 2))
        for r in read_snapshot(spark, fp)
        .join(read_snapshot(spark, cp), "custkey")
        .join(read_snapshot(spark, np_), "nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.sum("o_totalprice").alias("sum_o_totalprice"),
            F.min("o_totalprice").alias("min_o_totalprice"),
            F.max("o_totalprice").alias("max_o_totalprice"),
        )
        .collect()
    }
    assert got == expect


def test_star_mv_streaming_triggered_refresh(spark, fact, cust, nation, tmp_path):
    """Outer-dim CDF stream -> star-view loop: a streaming reader tails
    the NATION table's change feed and each micro-batch triggers an
    incremental star refresh that folds ALL tables' cursors — the
    snowflake flavor of slowly-changing-dimension propagation."""
    from fxa_amplitude_send_spark.sinks.versioned import current_version
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    # all three tables move while the stream is down
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    migrated = (
        read_snapshot(spark, cp)
        .filter("c_mktsegment = 'FURNITURE'")
        .withColumn("nationkey", F.lit(11))
    )
    merge_snapshot(spark, cp, migrated, ["custkey"])
    renamed = (
        read_snapshot(spark, np_)
        .filter("nationkey % 7 = 0")
        .withColumn("n_name", F.concat(F.lit("X_"), F.col("n_name")))
    )
    merge_snapshot(spark, np_, renamed, ["nationkey"])

    refreshes: list[int] = []

    def on_batch(batch_df, batch_id):
        refreshes.append(refresh_mv(batch_df.sparkSession, mv))

    q = (
        spark.readStream.format("versioned_table")
        .option("path", np_)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert refreshes, "stream delivered no batches"
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, fp, cp, np_)
    v = current_version(mv)
    assert refresh_mv(spark, mv) == v  # trigger is idempotent


def test_star_mv_crash_coherence_refusal(spark, fact, cust, nation, tmp_path):
    """A crash between a refresh's snapshot commit and its meta write
    leaves mv_version out of step with CURRENT; folding the same window
    again would double-count, so the next refresh must refuse."""
    import json

    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path)
    append_snapshot(fact.filter("o_orderkey % 2 = 1"), fp)
    refresh_mv(spark, mv)
    meta_path = str(tmp_path / "mv" / "_mv_meta.json")
    meta = json.load(open(meta_path))
    meta["mv_version"] -= 1  # simulate: commit landed, meta write did not
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(RuntimeError, match="crashed between commit"):
        refresh_mv(spark, mv)


def test_star_mv_randomized_operation_sequences(
    spark, fact, cust, nation, tmp_path
):
    """Seeded fuzz over the operation menu: random interleavings of fact
    appends/deletes, customer re-keys, nation renames/deletes — after
    every refresh the maintained view must equal a from-scratch
    recompute. Catches cross-term bookkeeping errors no hand-written
    scenario anticipates."""
    import random

    rng = random.Random(7)
    fp, cp, np_, mv = _setup(spark, fact, cust, nation, tmp_path,
                             fact_pred="o_orderkey % 3 = 0")
    pending_fact_slice = [1, 2]

    def fact_append():
        if pending_fact_slice:
            m = pending_fact_slice.pop()
            append_snapshot(fact.filter(f"o_orderkey % 3 = {m}"), fp)

    def fact_delete():
        delete_snapshot(
            spark, fp, f"o_totalprice > {rng.choice([150000, 250000, 350000])}"
        )

    def cust_rekey():
        seg = rng.choice(["BUILDING", "MACHINERY", "AUTOMOBILE"])
        moved = (
            read_snapshot(spark, cp)
            .filter(f"c_mktsegment = '{seg}'")
            .withColumn("nationkey", F.lit(rng.randrange(25)))
        )
        merge_snapshot(spark, cp, moved, ["custkey"])

    def nation_rename():
        k = rng.randrange(2, 6)
        renamed = (
            read_snapshot(spark, np_)
            .filter(f"nationkey % {k} = 0")
            .withColumn("n_name", F.concat(F.lit(f"R{k}_"), F.col("n_name")))
        )
        merge_snapshot(spark, np_, renamed, ["nationkey"])

    def nation_delete():
        delete_snapshot(spark, np_, f"nationkey = {rng.randrange(25)}")

    ops = [fact_append, fact_delete, cust_rekey, nation_rename, nation_delete]
    for round_no in range(3):
        for _ in range(rng.randrange(1, 4)):
            rng.choice(ops)()
        refresh_mv(spark, mv)
        assert _as_map(read_mv(spark, mv)) == _recompute(
            spark, fp, cp, np_
        ), f"divergence after random round {round_no}"
