"""Incrementally maintained materialized views (sinks/materialized_view.py):
every refresh folds only the base table's change feed — O(changes), never
O(base) — and the maintained view must equal a from-scratch recompute after
any interleaving of appends, merges, and deletes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fxa_amplitude_send_spark.sinks.materialized_view import (
    create_mv,
    read_mv,
    refresh_mv,
)
from fxa_amplitude_send_spark.sinks.versioned import (
    append_snapshot,
    compact_snapshot,
    current_version,
    delete_snapshot,
    merge_snapshot,
    read_snapshot,
    vacuum,
    write_snapshot,
)
from fxa_amplitude_send_spark.sources import load_table


@pytest.fixture()
def ev(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events").select(
        "event_id", "event_type", "value"
    )


def _as_map(df):
    return {
        r["event_type"]: (r["mv_count"], round(r["sum_value"], 4))
        for r in df.collect()
    }


def _recompute(spark, base_path):
    return _as_map(
        read_snapshot(spark, base_path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.sum("value").alias("sum_value"),
        )
    )


def test_mv_refresh_after_appends_matches_recompute(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id % 3 = 0"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    append_snapshot(ev.filter("event_id % 3 = 1"), base)
    append_snapshot(ev.filter("event_id % 3 = 2"), base)
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, base)


def test_mv_refresh_after_merge_uses_preimages(spark, ev, tmp_path):
    """Updates change group membership and sums: the preimage retracts the
    old contribution, the postimage adds the new one."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 200"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    # move 20 rows into a brand-new group and change their values
    updates = (
        ev.filter("event_id < 20")
        .withColumn("event_type", F.lit("migrated"))
        .withColumn("value", F.col("value") * 2)
    )
    merge_snapshot(spark, base, updates, ["event_id"])
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert got == _recompute(spark, base)
    assert "migrated" in got and got["migrated"][0] == 20


def test_mv_groups_drop_at_zero_count(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 100"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    victim = read_snapshot(spark, base).select("event_type").first()[0]
    delete_snapshot(spark, base, f"event_type = '{victim}'")
    refresh_mv(spark, mv)
    got = _as_map(read_mv(spark, mv))
    assert victim not in got
    assert got == _recompute(spark, base)


def test_mv_refresh_is_o_changes_survives_base_vacuum(spark, ev, tmp_path):
    """Refresh reads only change data in (last_synced, current]: vacuuming
    base history older than the window must not break it."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id % 2 = 0"), base)  # v1
    append_snapshot(ev.filter("event_id % 2 = 1"), base)  # v2
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])  # synced@2
    compact_snapshot(spark, base, target_files=2)  # v3 rewrites data files
    merge_snapshot(
        spark,
        base,
        ev.filter("event_id < 10").withColumn("value", F.col("value") + 1.0),
        ["event_id"],
    )  # v4
    vacuum(base, retain_versions=2, grace_seconds=0.0, allow_unsafe_grace=True)  # v1/v2's unreferenced files retire;
    # v3+v4 (the MV's unsynced window) stay — refresh needs their manifests
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, base)


def test_mv_refresh_refuses_vacuumed_window(spark, ev, tmp_path):
    """Vacuum past the unsynced window must fail loudly, not fold a partial
    feed (Delta's CDF-after-vacuum contract)."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 50"), base)  # v1
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    append_snapshot(ev.filter("event_id >= 50 AND event_id < 70"), base)  # v2
    append_snapshot(ev.filter("event_id >= 70 AND event_id < 90"), base)  # v3
    vacuum(base, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True)  # v2's manifest retires — window torn
    with pytest.raises(RuntimeError, match="vacuumed past"):
        refresh_mv(spark, mv)


def test_mv_noop_refresh_and_idempotent_version(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 50"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    v = current_version(mv)
    assert refresh_mv(spark, mv) == v  # base unmoved -> no new MV version
    assert current_version(mv) == v


def test_mv_compaction_only_window_advances_cursor(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 50"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    compact_snapshot(spark, base, target_files=1)  # no logical change
    v = current_version(mv)
    assert refresh_mv(spark, mv) == v
    # the cursor advanced past the compaction: a later refresh after a real
    # append folds only the append
    append_snapshot(ev.filter("event_id >= 50 AND event_id < 80"), base)
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, base)


def test_mv_time_travel_across_refreshes(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 100"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    before = _as_map(read_mv(spark, mv))
    append_snapshot(ev.filter("event_id >= 100 AND event_id < 150"), base)
    refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv, version=1)) == before  # old view intact


def test_mv_rejects_non_maintainable_aggregates(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 10"), base)
    with pytest.raises(ValueError, match="not self-maintainable"):
        create_mv(
            spark, base, mv, keys=["event_type"], sums=["value"], aggs=["min"]
        )


def test_mv_refuses_fold_after_crash_between_commit_and_meta(spark, ev, tmp_path):
    """A refresh that committed its snapshot but died before the meta write
    leaves mv_version out of step with CURRENT; the next refresh must refuse
    (double-counting) rather than fold the same window again."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 50"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    append_snapshot(ev.filter("event_id >= 50 AND event_id < 60"), base)
    # simulate the crash: a new MV snapshot exists but the meta still points
    # at the old mv_version
    write_snapshot(read_mv(spark, mv), mv)
    with pytest.raises(RuntimeError, match="rebuild with create_mv"):
        refresh_mv(spark, mv)


def test_mv_random_mutation_walk_matches_model(spark, tmp_path):
    """Seeded random interleaving of append/merge/delete with a refresh after
    every step: the maintained view must equal a pure-Python model of the
    table at each point. Values are k/2 (exact in binary) so float identity
    is exact — any divergence is an algebra bug, not rounding."""
    import random

    from fxa_amplitude_send_spark.sinks.versioned import current_version

    rng = random.Random(4242)
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    groups = ["g0", "g1", "g2", "g3"]
    model: dict[int, tuple[str, float]] = {}
    next_id = 0

    def rows(n, id_pool=None):
        nonlocal next_id
        out = []
        for _ in range(n):
            if id_pool is not None and id_pool and rng.random() < 0.6:
                i = rng.choice(id_pool)  # update an existing key
            else:
                i = next_id
                next_id += 1
            out.append((i, rng.choice(groups), rng.randrange(0, 64) / 2.0))
        return {r[0]: r for r in out}.values()  # unique keys per batch

    schema = "k bigint, grp string, value double"
    first = list(rows(30))
    write_snapshot(spark.createDataFrame(first, schema), base)
    model.update({k: (g, v) for k, g, v in first})
    create_mv(spark, base, mv, keys=["grp"], sums=["value"])

    def view_model():
        agg: dict[str, tuple[int, float]] = {}
        for g, v in model.values():
            c, s = agg.get(g, (0, 0.0))
            agg[g] = (c + 1, s + v)
        return {g: (c, round(s, 6)) for g, (c, s) in agg.items()}

    for step in range(12):
        op = rng.choice(["append", "merge", "delete"])
        if op == "append":
            batch = list(rows(rng.randrange(1, 12)))
            append_snapshot(spark.createDataFrame(batch, schema), base)
            model.update({k: (g, v) for k, g, v in batch})
        elif op == "merge":
            batch = list(rows(rng.randrange(1, 12), id_pool=list(model)))
            merge_snapshot(
                spark, base, spark.createDataFrame(batch, schema), ["k"]
            )
            model.update({k: (g, v) for k, g, v in batch})
        else:
            victim = rng.choice(groups)
            delete_snapshot(spark, base, f"grp = '{victim}'")
            model = {k: gv for k, gv in model.items() if gv[0] != victim}
        refresh_mv(spark, mv)
        got = {
            r["grp"]: (r["mv_count"], round(r["sum_value"], 6))
            for r in read_mv(spark, mv).collect()
        }
        assert got == view_model(), f"diverged at step {step} after {op}"
    assert current_version(mv) > 1  # the walk actually exercised refreshes


def test_mv_streaming_triggered_refresh(spark, ev, tmp_path):
    """Table -> CDF stream -> view loop: a streaming reader tails the base
    table's change feed and each micro-batch TRIGGERS an incremental
    refresh (the Delta pattern of driving downstream maintenance off the
    change stream). refresh_mv's own version cursor makes the trigger
    idempotent — duplicate or empty micro-batches fold nothing twice."""
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 40"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    # base moves on while the stream is down: two appends and a merge
    append_snapshot(ev.filter("event_id >= 40 AND event_id < 80"), base)
    append_snapshot(ev.filter("event_id >= 80 AND event_id < 120"), base)
    merge_snapshot(
        spark,
        base,
        ev.filter("event_id < 15").withColumn("value", F.col("value") * 3),
        ["event_id"],
    )

    refreshes: list[int] = []

    def on_batch(batch_df, batch_id):
        # the batch content is the notification; the fold itself goes
        # through refresh_mv's cursor for exactly-once accounting
        refreshes.append(refresh_mv(batch_df.sparkSession, mv))

    q = (
        spark.readStream.format("versioned_table")
        .option("path", base)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert refreshes, "stream delivered no batches"
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, base)
    # idempotence: a direct re-refresh after the stream folds nothing new
    v = current_version(mv)
    assert refresh_mv(spark, mv) == v


def test_mv_refresh_refuses_replace_commit(spark, ev, tmp_path):
    """Round-6 ADVICE (medium): write_snapshot over an existing base is a
    full REPLACE whose manifest lists the entire replacement under
    'appended'. Folding it as inserts would add the replacement without
    retracting prior content — refresh must refuse and direct to a rebuild,
    mirroring the vacuumed-window guard."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 50"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    before = _as_map(read_mv(spark, mv))
    write_snapshot(ev.filter("event_id < 30"), base)  # REPLACE, not append
    with pytest.raises(RuntimeError, match="REPLACE.*create_mv"):
        refresh_mv(spark, mv)
    assert _as_map(read_mv(spark, mv)) == before, "refused refresh must not mutate"
    # rebuild is the documented recovery and must match a recompute
    mv2 = str(tmp_path / "mv2")
    create_mv(spark, base, mv2, keys=["event_type"], sums=["value"])
    assert _as_map(read_mv(spark, mv2)) == _recompute(spark, base)


def test_mv_concurrent_refreshers_cannot_double_fold(spark, ev, tmp_path, monkeypatch):
    """Round-6 verdict item 3: two refreshers racing over the same change
    window must fold it exactly once. The refresh commit is pinned to the MV
    version it read, so the O_EXCL manifest create picks one winner; the
    loser discards its staged copy instead of retrying on top (which would
    double-count). Simulated deterministically: a competing full refresh_mv
    runs while the first refresher has already staged its files but not yet
    committed."""
    import fxa_amplitude_send_spark.sinks.materialized_view as mvmod

    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 50"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    append_snapshot(ev.filter("event_id >= 50 AND event_id < 80"), base)

    real_count = mvmod._count_staged
    state = {"fired": False}

    def hooked(spark_, path, files):
        # fire the competitor exactly once, from inside refresher A's
        # stage->commit gap on the MV table
        if not state["fired"] and path == mv:
            state["fired"] = True
            winner_v = refresh_mv(spark_, mv)  # refresher B: full fold + meta
            assert winner_v == 2
        return real_count(spark_, path, files)

    monkeypatch.setattr(mvmod, "_count_staged", hooked)
    v = refresh_mv(spark, mv)  # refresher A: loses the commit race
    monkeypatch.undo()

    assert state["fired"], "competitor must have raced inside the gap"
    assert v == 2, "loser must return the winner's version, not commit again"
    assert current_version(mv) == 2, "exactly ONE refresh version committed"
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, base), (
        "window folded exactly once"
    )
    # and the meta is coherent: a further refresh with no base movement no-ops
    assert refresh_mv(spark, mv) == 2


def test_mv_refresh_emits_consumable_change_feed(spark, ev, tmp_path):
    """Round-6: refresh commits kind='merge' with real CDF change files
    (insert / update pre+post / delete per group), so the view is itself a
    change-feed SOURCE. Verify the emitted rows against the view's own
    before/after states."""
    from fxa_amplitude_send_spark.sinks.materialized_view import _change_feed

    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 60"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"])
    before = _as_map(read_mv(spark, mv))
    append_snapshot(ev.filter("event_id >= 60 AND event_id < 120"), base)
    delete_snapshot(spark, base, "event_type = 'error'")
    refresh_mv(spark, mv)
    after = _as_map(read_mv(spark, mv))

    feed = _change_feed(
        spark, mv, 1, current_version(mv), ["event_type", "mv_count", "sum_value"]
    )
    rows = feed.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], {})[r["event_type"]] = (
            r["mv_count"], round(r["sum_value"], 4)
        )
    # postimages must equal the new view state for every surviving group
    # that moved; preimages must equal the old state; deletes retract old
    for g, v in by_type.get("update_postimage", {}).items():
        assert after[g] == v
    for g, v in by_type.get("update_preimage", {}).items():
        assert before[g] == v
    for g, v in by_type.get("delete", {}).items():
        assert before[g] == v and g not in after
    for g, v in by_type.get("insert", {}).items():
        assert after[g] == v and g not in before
    # every group that changed state appears in the feed exactly once per role
    moved = {g for g in set(before) | set(after) if before.get(g) != after.get(g)}
    covered = set()
    for d in by_type.values():
        covered |= set(d)
    assert moved == covered


def test_mv_chain_mv_over_mv(spark, ev, tmp_path):
    """A maintained view over a maintained view: MV2 aggregates MV1's
    groups and refreshes off MV1's OWN change feed — base movement
    propagates base → MV1 → MV2 with every hop O(changes)."""
    base = str(tmp_path / "b")
    mv1, mv2 = str(tmp_path / "mv1"), str(tmp_path / "mv2")
    ev2 = ev.withColumn("bucket", F.col("event_id") % 4)
    write_snapshot(ev2.filter("event_id < 60"), base)
    create_mv(spark, base, mv1, keys=["event_type", "bucket"], sums=["value"])
    # MV2: re-aggregate MV1 by event_type alone, summing its measures
    create_mv(spark, mv1, mv2, keys=["event_type"], sums=["mv_count", "sum_value"])

    # three base movements, refreshed level by level
    append_snapshot(ev2.filter("event_id >= 60 AND event_id < 110"), base)
    refresh_mv(spark, mv1)
    refresh_mv(spark, mv2)
    merge_snapshot(
        spark, base,
        ev2.filter("event_id < 20").withColumn("value", F.col("value") * 2),
        ["event_id"],
    )
    delete_snapshot(spark, base, "event_type = 'purchase'")
    refresh_mv(spark, mv1)
    refresh_mv(spark, mv2)

    # MV1 equals a recompute from the base
    assert {
        (r["event_type"], r["bucket"]): (r["mv_count"], round(r["sum_value"], 4))
        for r in read_mv(spark, mv1).collect()
    } == {
        (r["event_type"], r["bucket"]): (r["mv_count"], round(r["sum_value"], 4))
        for r in read_snapshot(spark, base)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("mv_count"),
             F.sum("value").alias("sum_value"))
        .collect()
    }
    # MV2 equals a recompute from MV1 (and hence from the base)
    assert {
        r["event_type"]: (r["mv_count"], r["sum_mv_count"],
                          round(r["sum_sum_value"], 4))
        for r in read_mv(spark, mv2).collect()
    } == {
        r["event_type"]: (r["mv_count"], r["sum_mv_count"],
                          round(r["sum_sum_value"], 4))
        for r in read_mv(spark, mv1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("mv_count"),
             F.sum("mv_count").alias("sum_mv_count"),
             F.sum("sum_value").alias("sum_sum_value"))
        .collect()
    }


def _mm_map(df):
    return {
        r["event_type"]: (r["mv_count"], r["min_value"], r["max_value"])
        for r in df.collect()
    }


def _mm_recompute(spark, base_path):
    return _mm_map(
        read_snapshot(spark, base_path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def test_mv_minmax_insert_only_maintains_for_free(spark, ev, tmp_path):
    """Round-6: inserts fold into MIN/MAX with least/greatest — no base
    rescan — and the maintained view equals a from-scratch recompute."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 40"), base)
    create_mv(
        spark, base, mv, keys=["event_type"], sums=[],
        mins=["value"], maxs=["value"],
    )
    append_snapshot(ev.filter("event_id >= 40 AND event_id < 90"), base)
    refresh_mv(spark, mv)
    assert _mm_map(read_mv(spark, mv)) == _mm_recompute(spark, base)


def test_mv_minmax_retracted_extreme_recomputes_group(spark, ev, tmp_path):
    """Deleting rows that CARRY a group's min forces the
    recompute-on-retraction path; the result must equal a full recompute,
    including groups whose extreme was untouched."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 100"), base)
    create_mv(
        spark, base, mv, keys=["event_type"], sums=["value"],
        mins=["value"], maxs=["value"],
    )
    # retract every row at or below the global 25th percentile value —
    # guaranteed to include at least one group's current minimum
    cut = read_snapshot(spark, base).approxQuantile("value", [0.25], 0.0)[0]
    delete_snapshot(spark, base, f"value <= {cut}")
    refresh_mv(spark, mv)
    got = _mm_map(read_mv(spark, mv).select(
        "event_type", "mv_count", "min_value", "max_value"))
    assert got == _mm_recompute(spark, base)


def test_mv_minmax_update_moving_extreme_between_groups(spark, ev, tmp_path):
    """A merge that MOVES the max row into another group exercises both the
    retraction (old group loses its max -> recompute) and the insert fold
    (new group may gain a max) in one refresh."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 100"), base)
    create_mv(
        spark, base, mv, keys=["event_type"], sums=[],
        mins=["value"], maxs=["value"],
    )
    top = (
        read_snapshot(spark, base).orderBy(F.col("value").desc()).limit(1).collect()[0]
    )
    moved = spark.createDataFrame(
        [(top["event_id"], "migrated", top["value"])],
        "event_id long, event_type string, value double",
    ).select(*read_snapshot(spark, base).columns)
    merge_snapshot(spark, base, moved, ["event_id"])
    refresh_mv(spark, mv)
    assert _mm_map(read_mv(spark, mv)) == _mm_recompute(spark, base)


def test_mv_legacy_aggs_minmax_still_refused_with_pointer(spark, ev, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id < 10"), base)
    with pytest.raises(ValueError, match="mins=/maxs="):
        create_mv(spark, base, mv, keys=["event_type"], sums=[], aggs=["max"])


def test_mv_refreshes_legacy_single_table_meta(spark, ev, tmp_path):
    """A view whose _mv_meta.json still has the single-table shape
    (base_path / base_version_synced) keeps refreshing."""
    import json

    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    write_snapshot(ev.filter("event_id % 3 = 0"), base)
    create_mv(spark, base, mv, keys=["event_type"], sums=["value"],
              mins=["value"])
    legacy = {
        "base_path": os.path.abspath(base),
        "keys": ["event_type"],
        "sums": ["value"],
        "mins": ["value"],
        "maxs": [],
        "distincts": [],
        "kmv_k": 128,
        "base_version_synced": 1,
        "mv_version": 1,
    }
    with open(os.path.join(mv, "_mv_meta.json"), "w", encoding="utf-8") as fh:
        json.dump(legacy, fh, indent=1, sort_keys=True)
    append_snapshot(ev.filter("event_id % 3 = 1"), base)
    assert refresh_mv(spark, mv) == 2
    assert _as_map(read_mv(spark, mv)) == _recompute(spark, base)


def test_mv_minmax_distinct_view_pinned(spark, tmp_path):
    """Columns and rows of a single-table view with MIN, MAX and a KMV
    sketch, after create and after one refresh folding an append and a
    delete that retracts an extreme (danger recompute) and empties a
    group. The values are pinned: the same inputs must always produce
    exactly this view."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "mv")
    schema = "grp string, v bigint, u bigint"
    write_snapshot(
        spark.createDataFrame(
            [("a", 1, 10), ("a", 5, 11), ("a", 3, 10), ("b", 7, 12),
             ("b", 2, 13), ("c", 4, 14)],
            schema,
        ),
        base,
    )
    create_mv(spark, base, mv, keys=["grp"], sums=["v"], mins=["v"],
              maxs=["v"], distincts=["u"], kmv_k=2)
    cols = ["grp", "mv_count", "sum_v", "min_v", "max_v", "nd_u"]

    def rows():
        return sorted(tuple(r) for r in read_mv(spark, mv).collect())

    assert read_mv(spark, mv).columns == cols
    assert rows() == [
        ("a", 3, 9, 1, 5, [1778098546515114, 3726881744497220]),
        ("b", 2, 9, 2, 7, [3413628421602967, 3467646016950858]),
        ("c", 1, 4, 4, 4, [3002981952924620]),
    ]
    append_snapshot(
        spark.createDataFrame([("a", 0, 15), ("b", 9, 16), ("d", 6, 17)], schema),
        base,
    )
    delete_snapshot(spark, base, "v = 5 OR grp = 'c'")
    refresh_mv(spark, mv)
    assert read_mv(spark, mv).columns == cols
    assert rows() == [
        ("a", 3, 4, 0, 3, [2743495320077865, 3726881744497220]),
        ("b", 3, 18, 2, 9, [3413628421602967, 3467646016950858]),
        ("d", 1, 6, 6, 6, [1986808702081800]),
    ]
