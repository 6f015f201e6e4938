"""Manifest-based versioned table: snapshot isolation, time travel across
append and compaction, crash-safe commits, and vacuum retention contracts."""

from __future__ import annotations

import os

import pytest

from fxa_amplitude_send_spark.sinks.versioned import (
    append_snapshot,
    compact_snapshot,
    current_version,
    read_snapshot,
    snapshot_info,
    vacuum,
    write_snapshot,
)
from fxa_amplitude_send_spark.sources import load_table


def _ids(df):
    return sorted(r[0] for r in df.select(df.columns[0]).collect())


@pytest.fixture()
def base(spark, sf_smoke):
    return load_table(spark, sf_smoke, "nation").select("n_nationkey", "n_name")


def test_write_read_roundtrip(spark, base, tmp_path):
    path = str(tmp_path / "t")
    v = write_snapshot(base, path)
    assert v == 1 and current_version(path) == 1
    assert _ids(read_snapshot(spark, path)) == _ids(base)


def test_append_creates_new_version_and_old_stays_readable(spark, base, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)
    v2 = append_snapshot(base.filter("n_nationkey >= 10"), path)
    assert v2 == 2
    assert _ids(read_snapshot(spark, path)) == _ids(base)
    assert _ids(read_snapshot(spark, path, version=1)) == _ids(
        base.filter("n_nationkey < 10")
    )
    assert snapshot_info(path)["n_rows"] == base.count()


def test_compaction_preserves_rows_and_time_travel(spark, base, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(base.repartition(8), path)
    v2 = compact_snapshot(spark, path, target_files=1)
    assert v2 == 2
    assert len(snapshot_info(path, 2)["files"]) == 1
    assert len(snapshot_info(path, 1)["files"]) > 1
    assert _ids(read_snapshot(spark, path, 1)) == _ids(base)
    assert _ids(read_snapshot(spark, path, 2)) == _ids(base)


def test_orphan_staged_files_invisible_to_readers(spark, base, tmp_path):
    """A crashed writer (data staged, manifest never committed) must not
    change what readers see — the manifest IS the table."""
    path = str(tmp_path / "t")
    write_snapshot(base, path)
    # simulate a crash: stage data without committing a manifest
    from fxa_amplitude_send_spark.sinks.versioned import _stage_data_files

    _stage_data_files(base, path)
    assert _ids(read_snapshot(spark, path)) == _ids(base)
    assert current_version(path) == 1


def test_vacuum_removes_only_unreferenced_files(spark, base, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(base.repartition(4), path)
    compact_snapshot(spark, path, target_files=1)  # v2
    append_snapshot(base.limit(5), path)  # v3
    deleted = vacuum(path, retain_versions=2, grace_seconds=0.0, allow_unsafe_grace=True)  # keep v2, v3 → v1 files go
    assert deleted, "v1's pre-compaction files should be deleted"
    # retained versions still fully readable
    assert read_snapshot(spark, path, 2).count() == base.count()
    assert read_snapshot(spark, path, 3).count() == base.count() + 5
    # vacuumed version is gone (manifest removed)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, 1)


def test_vacuum_zero_grace_requires_explicit_quiescence_flag(base, tmp_path):
    """grace_seconds below the safe floor disables the mid-stage-writer age
    guard, so vacuum refuses it unless the caller asserts the table is
    quiescent via allow_unsafe_grace=True (the ValueError IS the guard —
    the precondition becomes visible at the call site)."""
    path = str(tmp_path / "t")
    write_snapshot(base, path)
    with pytest.raises(ValueError, match="allow_unsafe_grace"):
        vacuum(path, retain_versions=1, grace_seconds=0.0)
    # the explicit flag and any grace at/above the floor both proceed
    assert vacuum(path, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True) == []
    assert vacuum(path, retain_versions=1, grace_seconds=3600.0) == []


def test_double_commit_same_version_refused(base, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(base, path)
    # simulate a lost-update race: another writer already wrote v2's manifest
    from fxa_amplitude_send_spark.sinks.versioned import _manifest_path

    os.makedirs(os.path.dirname(_manifest_path(path, 2)), exist_ok=True)
    with open(_manifest_path(path, 2), "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError, match="concurrent"):
        append_snapshot(base, path)


def test_manifest_level_file_pruning(spark, sf_smoke, tmp_path):
    """Footer min/max stats recorded at commit let readers drop files from
    the manifest BEFORE opening any parquet — and the pruned read still
    returns exactly the filtered rows (superset + exact filter)."""
    from fxa_amplitude_send_spark.sinks.versioned import pruned_file_count

    path = str(tmp_path / "t")
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    # range-partition by key so each file covers a disjoint key range
    write_snapshot(orders.repartitionByRange(8, "o_orderkey"), path)

    lo, hi = 100, 200
    scanned, total = pruned_file_count(path, ("o_orderkey", lo, hi))
    assert total >= 8
    assert scanned < total, "disjoint ranges must prune most files"

    pruned = read_snapshot(spark, path, prune=("o_orderkey", lo, hi)).filter(
        f"o_orderkey BETWEEN {lo} AND {hi}"
    )
    full = read_snapshot(spark, path).filter(f"o_orderkey BETWEEN {lo} AND {hi}")
    assert _ids(pruned) == _ids(full)
    # the pruned plan reads fewer files
    assert len(pruned.inputFiles()) == scanned < len(full.inputFiles())


def test_prune_empty_result_keeps_schema(spark, base, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(base, path)
    out = read_snapshot(spark, path, prune=("n_nationkey", 10_000, 20_000))
    assert out.count() == 0
    assert out.columns == base.columns


def test_read_appended_change_feed(spark, base, tmp_path):
    """Incremental read returns exactly the appended rows, reading only the
    new files; compactions inside the window contribute nothing; lagging
    past vacuum retention is refused loudly."""
    from fxa_amplitude_send_spark.sinks.versioned import read_appended

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)            # v1
    append_snapshot(base.filter("n_nationkey >= 10 AND n_nationkey < 20"), path)  # v2
    append_snapshot(base.filter("n_nationkey >= 20"), path)          # v3

    delta12 = read_appended(spark, path, since_version=1, to_version=2)
    assert _ids(delta12) == _ids(base.filter("n_nationkey >= 10 AND n_nationkey < 20"))
    delta13 = read_appended(spark, path, since_version=1)
    assert _ids(delta13) == _ids(base.filter("n_nationkey >= 10"))
    # only appended files are opened
    assert set(delta12.inputFiles()) < set(read_snapshot(spark, path, 2).inputFiles())

    # a compaction inside the window contributes nothing and does not break
    # the feed (appended files are immutable and still on disk)
    compact_snapshot(spark, path, target_files=1)                    # v4
    assert _ids(read_appended(spark, path, since_version=1)) == _ids(
        base.filter("n_nationkey >= 10")
    )
    append_snapshot(base.limit(3), path)                             # v5
    assert read_appended(spark, path, since_version=4).count() == 3

    # consumer lagging past vacuum retention is refused loudly
    vacuum(path, retain_versions=2, grace_seconds=0.0, allow_unsafe_grace=True)
    with pytest.raises(ValueError, match="vacuumed"):
        read_appended(spark, path, since_version=1, to_version=3)


def test_idempotent_append_skips_replayed_txn(spark, base, tmp_path):
    from fxa_amplitude_send_spark.sinks.versioned import append_snapshot_idempotent

    path = str(tmp_path / "t")
    v1 = append_snapshot_idempotent(base.limit(5), path, "q-0")
    v2 = append_snapshot_idempotent(base.limit(7), path, "q-1")
    assert (v1, v2) == (1, 2)
    # replay of both txns: no-ops, version and rows unchanged
    assert append_snapshot_idempotent(base.limit(5), path, "q-0") == 2
    assert append_snapshot_idempotent(base.limit(7), path, "q-1") == 2
    assert read_snapshot(spark, path).count() == 12


def test_streaming_exactly_once_into_versioned_table(spark, sf_smoke, tmp_path):
    """Restarting the same stream from the same checkpoint must not duplicate
    rows in the table: foreachBatch redelivery is absorbed by the
    (queryId, batchId) txn guard."""
    import shutil

    from fxa_amplitude_send_spark.sinks.versioned import versioned_stream_writer

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_smoke, "events").select("event_id", "event_type")
    n_total = events.count()
    events.limit(400).repartition(4).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = versioned_stream_writer(stream, table, ckpt)
    q.processAllAvailable()
    q.stop()
    first_count = read_snapshot(spark, table).count()
    assert first_count == spark.read.parquet(src).count()

    # restart from the same checkpoint: nothing new -> no extra rows
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = versioned_stream_writer(stream2, table, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert read_snapshot(spark, table).count() == first_count


def test_versioned_table_stream_source_end_to_end(spark, base, tmp_path):
    """readStream over the versioned table delivers each appended row exactly
    once, skips compaction rewrites, and resumes from the checkpointed
    version after a restart."""
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    write_snapshot(base.filter("n_nationkey < 10"), path)             # v1
    append_snapshot(base.filter("n_nationkey >= 10 AND n_nationkey < 20"), path)  # v2

    def run_stream():
        stream = (
            spark.readStream.format("versioned_table").option("path", path).load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_stream()
    got = sorted(r[0] for r in spark.read.parquet(out).select("n_nationkey").collect())
    assert got == _ids(base.filter("n_nationkey < 20"))

    # compaction emits nothing; a fresh append after it flows through on the
    # restarted stream, resuming from the checkpointed version
    compact_snapshot(spark, path, target_files=1)                     # v3
    append_snapshot(base.filter("n_nationkey >= 20"), path)           # v4
    run_stream()
    got = sorted(r[0] for r in spark.read.parquet(out).select("n_nationkey").collect())
    assert got == _ids(base), "each row exactly once despite the compaction"


def test_merge_snapshot_upsert_and_change_feed(spark, base, tmp_path):
    """MERGE updates matching keys, inserts new ones, publishes change files
    with _change_type; the append-only stream skips the merge version while
    the readChangeFeed stream delivers inserts + update post-images."""
    from pyspark.sql import functions as F

    from fxa_amplitude_send_spark.sinks.versioned import merge_snapshot
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base, path)  # v1: 25 nations

    updates = base.filter("n_nationkey < 3").withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("_X"))
    ).unionByName(
        spark.createDataFrame([(100, "ATLANTIS"), (101, "LEMURIA")],
                              "n_nationkey bigint, n_name string")
    )
    # one no-op row: same key, same value → must NOT appear in the feed
    updates = updates.unionByName(base.filter("n_nationkey = 5"))
    v2 = merge_snapshot(spark, path, updates, ["n_nationkey"])
    assert v2 == 2

    cur = read_snapshot(spark, path)
    assert cur.count() == 27
    assert cur.filter("n_name LIKE '%_X'").count() == 3
    assert _ids(read_snapshot(spark, path, 1)) == _ids(base)  # time travel

    # append-only feed: the merge version contributes nothing
    out_a = str(tmp_path / "out_a")
    qa = (
        spark.readStream.format("versioned_table").option("path", path).load()
        .writeStream.format("parquet").option("path", out_a)
        .option("checkpointLocation", str(tmp_path / "ck_a")).start()
    )
    qa.processAllAvailable(); qa.stop()
    assert spark.read.parquet(out_a).count() == 25  # v1 only

    # CDF feed: v1 appends as inserts + v2's 3 updates + 2 inserts (no no-op)
    out_c = str(tmp_path / "out_c")
    qc = (
        spark.readStream.format("versioned_table").option("path", path)
        .option("readChangeFeed", "true").load()
        .writeStream.format("parquet").option("path", out_c)
        .option("checkpointLocation", str(tmp_path / "ck_c")).start()
    )
    qc.processAllAvailable(); qc.stop()
    cdf = spark.read.parquet(out_c)
    # 25 v1 inserts + v2: 2 inserts + 3 updates x (preimage + postimage)
    assert cdf.count() == 25 + 2 + 3 * 2
    by_type = {r["_change_type"]: r["n"] for r in
               cdf.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_type == {"insert": 27, "update_postimage": 3, "update_preimage": 3}
    assert cdf.filter("_change_type = 'update_postimage'").count() == 3
    # the no-op upsert row (key 5, identical value) never enters the feed
    assert cdf.filter("n_nationkey = 5").count() == 1  # its v1 insert only


def test_delete_snapshot_and_cdf_preimages(spark, base, tmp_path):
    """DELETE publishes survivors + 'delete' pre-images in the change feed;
    pre-delete versions still contain the rows (logical deletion)."""
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base, path)                       # v1: 25 rows
    v2 = delete_snapshot(spark, path, "n_nationkey >= 20")
    assert v2 == 2
    assert read_snapshot(spark, path).count() == 20
    assert read_snapshot(spark, path, 1).count() == 25  # time travel

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_table").option("path", path)
        .option("readChangeFeed", "true").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.processAllAvailable(); q.stop()
    cdf = spark.read.parquet(out)
    assert cdf.filter("_change_type = 'delete'").count() == 5
    assert _ids(cdf.filter("_change_type = 'delete'")) == _ids(
        base.filter("n_nationkey >= 20")
    )


def test_schema_evolution_append(spark, base, tmp_path):
    """Widening-only schema evolution: new columns null-backfill old files,
    missing columns null-fill new files, type changes are refused, and the
    stream reader adopts the evolved schema."""
    from pyspark.sql import functions as F

    from fxa_amplitude_send_spark.sinks.versioned import append_snapshot_evolve
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)  # v1: 2 cols

    widened = (
        base.filter("n_nationkey >= 10 AND n_nationkey < 15")
        .withColumn("region_code", F.col("n_nationkey") % 5)
        .drop("n_name")  # also OMITS an existing column
    )
    v2 = append_snapshot_evolve(widened, path)
    assert v2 == 2

    cur = read_snapshot(spark, path)
    assert set(cur.columns) == {"n_nationkey", "n_name", "region_code"}
    assert cur.count() == 15
    # old rows: region_code null; new rows: n_name null
    assert cur.filter("n_nationkey < 10 AND region_code IS NULL").count() == 10
    assert cur.filter("n_nationkey >= 10 AND n_name IS NULL").count() == 5
    # v1 still reads under its own 2-column schema
    assert set(read_snapshot(spark, path, 1).columns) == {"n_nationkey", "n_name"}

    # type change refused
    bad = base.limit(1).withColumn("n_nationkey", F.col("n_nationkey").cast("string"))
    with pytest.raises(ValueError, match="widening-only"):
        append_snapshot_evolve(bad, path)

    # stream sees the evolved shape (v1 rows with null region_code)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_table").option("path", path).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.processAllAvailable(); q.stop()
    streamed = spark.read.parquet(out)
    assert set(streamed.columns) == {"n_nationkey", "n_name", "region_code"}
    assert streamed.count() == 15


def test_zorder_compaction_improves_manifest_pruning(spark, sf_smoke, tmp_path):
    """OPTIMIZE ZORDER through the versioned table: after z-order compaction
    the manifest stats prune point-range predicates on BOTH clustered
    columns, strictly better than the random layout, with rows intact."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        compact_snapshot,
        pruned_file_count,
    )

    path = str(tmp_path / "t")
    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_snapshot(orders.repartition(8), path)  # random layout, v1
    n = orders.count()

    compact_snapshot(
        spark, path, target_files=8, zorder_by=("o_orderkey", "o_custkey")
    )  # v2
    assert read_snapshot(spark, path).count() == n

    kmin, kmax = [
        r[0] for r in orders.agg({"o_orderkey": "min"}).collect()
    ][0], [r[0] for r in orders.agg({"o_orderkey": "max"}).collect()][0]
    span = (kmax - kmin) // 8
    pred_a = ("o_orderkey", kmin, kmin + span)
    s1_a, t1 = pruned_file_count(path, pred_a, version=1)
    s2_a, t2 = pruned_file_count(path, pred_a, version=2)
    assert s1_a == t1, "random layout cannot prune"
    assert s2_a < t2, "z-ordered layout must prune the first dimension"

    cmin = orders.agg({"o_custkey": "min"}).collect()[0][0]
    cmax = orders.agg({"o_custkey": "max"}).collect()[0][0]
    pred_b = ("o_custkey", cmin, cmin + (cmax - cmin) // 8)
    s2_b, _ = pruned_file_count(path, pred_b, version=2)
    assert s2_b < t2, "z-ordered layout must prune the second dimension too"


def test_vacuum_after_merge_retains_cdf_change_files(spark, base, tmp_path):
    """Round-5 ADVICE (high): change files live under 'changes' (not 'files'),
    but they are part of a retained version's readable surface — vacuum must
    never delete the CDF files of a version it retains."""
    from pyspark.sql import functions as F

    from fxa_amplitude_send_spark.sinks.versioned import merge_snapshot
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base, path)  # v1
    updates = base.filter("n_nationkey < 2").withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("_Y"))
    )
    merge_snapshot(spark, path, updates, ["n_nationkey"])  # v2 (has changes)
    append_snapshot(base.limit(3), path)  # v3

    deleted = vacuum(path, retain_versions=2, grace_seconds=0.0, allow_unsafe_grace=True)  # keep v2, v3
    # v2's change files must all survive
    chg = snapshot_info(path, 2)["changes"]
    assert chg, "merge version must record change files"
    for rel in chg:
        assert os.path.exists(os.path.join(path, rel)), f"vacuum deleted CDF file {rel}"
    assert all(rel not in deleted for rel in chg)
    # and a CDF stream over the retained window still works end-to-end
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_table").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "1").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.processAllAvailable(); q.stop()
    cdf = spark.read.parquet(out)
    assert cdf.filter("_change_type = 'update_postimage'").count() == 2


def test_merge_cdf_postimage_matches_committed_state(spark, tmp_path):
    """Round-5 ADVICE (medium): a NULL in an update keeps the old value
    (coalesce semantics) — the change feed must agree with the table: no
    phantom NULL postimages, and postimage rows equal the committed rows."""
    from fxa_amplitude_send_spark.sinks.versioned import merge_snapshot

    path = str(tmp_path / "t")
    schema = "k bigint, a string, b string"
    cur = spark.createDataFrame(
        [(1, "a1", "b1"), (2, "a2", "b2"), (3, "a3", "b3")], schema
    )
    write_snapshot(cur, path)  # v1
    updates = spark.createDataFrame(
        [
            (1, None, None),      # all-NULL update: keeps old row → NOT in feed
            (2, None, "b2_new"),  # partial: 'a' kept, 'b' changed
            (4, "a4", None),      # insert with a NULL field
        ],
        schema,
    )
    merge_snapshot(spark, path, updates, ["k"])  # v2

    table = {r["k"]: (r["a"], r["b"]) for r in read_snapshot(spark, path).collect()}
    assert table[1] == ("a1", "b1")          # all-NULL update is a no-op
    assert table[2] == ("a2", "b2_new")      # NULL field keeps old value
    assert table[4] == ("a4", None)

    chg_paths = [os.path.join(path, p) for p in snapshot_info(path, 2)["changes"]]
    rows = spark.read.parquet(*chg_paths).collect()
    feed = {(r["k"], r["_change_type"]): r for r in rows}
    assert not any(k == 1 for k, _ in feed), (
        "no-op (all-NULL) update must not enter the feed"
    )
    # the postimage must be the COMMITTED merged values, not the raw update
    post = feed[(2, "update_postimage")]
    assert (post["a"], post["b"]) == table[2]
    # the preimage must be the OLD committed values (Delta CDF parity)
    pre = feed[(2, "update_preimage")]
    assert (pre["a"], pre["b"]) == ("a2", "b2")
    ins = feed[(4, "insert")]
    assert (ins["a"], ins["b"]) == table[4]
    assert len(rows) == 3  # exactly insert + preimage + postimage


def test_concurrent_committers_exactly_one_wins(spark, base, tmp_path):
    """Round-5 ADVICE (medium) + VERDICT item 7: two writers racing from the
    same parent — exclusive manifest creation makes exactly one win version
    N; the winner's manifest is never clobbered; the loser retries cleanly
    against the new parent."""
    import json as _json

    from fxa_amplitude_send_spark.sinks.versioned import (
        _commit,
        _manifest_path,
        _read_manifest,
        _stage_data_files,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 20"), path)  # v1: 20 rows
    parent = current_version(path)

    # both writers observe parent=1 and stage their data before committing
    df_a = base.filter("n_nationkey = 20")
    df_b = base.filter("n_nationkey = 21")
    files_a = _stage_data_files(df_a, path)
    files_b = _stage_data_files(df_b, path)
    prev = _read_manifest(path, parent)

    va = _commit(path, prev["files"] + files_a, prev["n_rows"] + 1,
                 prev["schema"], parent, appended=files_a)
    assert va == 2
    with open(_manifest_path(path, 2)) as fh:
        winner_manifest = fh.read()

    # writer B commits from the SAME stale parent → must fail, not clobber
    with pytest.raises(RuntimeError, match="concurrent"):
        _commit(path, prev["files"] + files_b, prev["n_rows"] + 1,
                prev["schema"], parent, appended=files_b)
    with open(_manifest_path(path, 2)) as fh:
        assert fh.read() == winner_manifest, "loser clobbered the winner's manifest"

    # loser's retry against the refreshed parent lands cleanly
    parent2 = current_version(path)
    prev2 = _read_manifest(path, parent2)
    vb = _commit(path, prev2["files"] + files_b, prev2["n_rows"] + 1,
                 prev2["schema"], parent2, appended=files_b)
    assert vb == 3
    assert _ids(read_snapshot(spark, path)) == _ids(base.filter("n_nationkey < 22"))
    mf = _json.loads(open(_manifest_path(path, 3)).read())
    assert mf["parent"] == 2


def test_streaming_txn_tag_distinct_per_checkpoint(spark, base, tmp_path):
    """Round-5 ADVICE (medium): txn tags must be query-scoped. Two queries
    (distinct checkpoints) producing the same batchId must BOTH commit; a
    replay under the same checkpoint must still be recognized."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        append_snapshot_idempotent,
        streaming_txn_tag,
    )

    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    t1a = streaming_txn_tag(base, ck1)
    t1b = streaming_txn_tag(base, ck1)
    t2 = streaming_txn_tag(base, ck2)
    assert t1a == t1b, "tag must be stable across restarts of the same query"
    assert t1a != t2, "distinct queries must get distinct tags"
    with pytest.raises(ValueError, match="checkpoint"):
        streaming_txn_tag(base, "")

    path = str(tmp_path / "t")
    # query 1, batch 0 and a replayed batch 0
    append_snapshot_idempotent(base.limit(5), path, f"{t1a}-0")
    v_after_replay = append_snapshot_idempotent(base.limit(5), path, f"{t1a}-0")
    assert v_after_replay == 1 and read_snapshot(spark, path).count() == 5
    # query 2, batch 0 — same batchId, different query: MUST land
    v2 = append_snapshot_idempotent(base.limit(3), path, f"{t2}-0")
    assert v2 == 2 and read_snapshot(spark, path).count() == 8


def test_versioned_stream_starting_version(spark, base, tmp_path):
    """Round-5 ADVICE (low): startingVersion=N skips history — the feed
    begins after version N."""
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)   # v1: 10 rows
    append_snapshot(base.filter("n_nationkey >= 10 and n_nationkey < 20"), path)  # v2
    append_snapshot(base.filter("n_nationkey >= 20"), path)  # v3: 5 rows

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_table").option("path", path)
        .option("startingVersion", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.processAllAvailable(); q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert _ids(got) == _ids(base.filter("n_nationkey >= 20"))


def test_restart_latest_offset_never_regresses(spark, base, tmp_path):
    """Round-6 ADVICE (medium): on restart Spark restores the checkpointed
    offset silently (no initialOffset call) and may call latestOffset FIRST.
    A cap computed from the un-synced cursor could return an offset BELOW
    the restored one — offsets compare by equality only, so the next batch
    would re-deliver versions. Until a Spark-provided offset syncs the
    cursor, latestOffset must answer uncapped CURRENT."""
    from pyspark.sql.types import StructType

    from fxa_amplitude_send_spark.sources.versioned_stream import (
        _VersionedStreamReader,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 5"), path)  # v1
    for lo in range(5, 25, 5):
        append_snapshot(
            base.filter(f"n_nationkey >= {lo} AND n_nationkey < {lo + 5}"), path
        )  # v2..v5

    schema = StructType.fromJson(
        __import__("json").loads(snapshot_info(path)["schema"])
    )

    # restart lifecycle: NO initialOffset; checkpointed offset is 5 (all
    # committed). latestOffset must not return min(current, 0+2)=2 < 5.
    r = _VersionedStreamReader({"path": path, "maxVersionsPerBatch": "2"}, schema)
    off = r.latestOffset()
    assert off["version"] == 5, f"restart latestOffset regressed to {off}"
    # Spark plans (5, 5] -> empty batch; cursor syncs; capping resumes
    r.partitions({"version": 5}, {"version": 5})
    append_snapshot(base.filter("n_nationkey = 0"), path)  # v6
    append_snapshot(base.filter("n_nationkey = 1"), path)  # v7
    append_snapshot(base.filter("n_nationkey = 2"), path)  # v8
    assert r.latestOffset()["version"] == 7, "cap must apply once synced"

    # fresh-start lifecycle: initialOffset IS called, capping applies at once
    r2 = _VersionedStreamReader({"path": path, "maxVersionsPerBatch": "2"}, schema)
    assert r2.initialOffset()["version"] == 0
    assert r2.latestOffset()["version"] == 2, "fresh start must stay capped"


def test_txn_tag_fresh_after_checkpoint_reset(spark, base, tmp_path):
    """Round-6 ADVICE (low): a deleted-and-recreated checkpoint restarts
    batchIds at 0 — the fallback txn tag must change too, or replayed
    (tag, batchId) pairs match old manifests and new batches are dropped."""
    import shutil

    from fxa_amplitude_send_spark.sinks.versioned import (
        append_snapshot_idempotent,
        streaming_txn_tag,
    )

    ck = str(tmp_path / "ck")
    tag_a = streaming_txn_tag(base, ck)
    assert streaming_txn_tag(base, ck) == tag_a, "stable across restarts"

    path = str(tmp_path / "t")
    append_snapshot_idempotent(base.limit(5), path, f"{tag_a}-0")
    assert read_snapshot(spark, path).count() == 5

    shutil.rmtree(ck)  # checkpoint reset: batchIds will restart at 0
    tag_b = streaming_txn_tag(base, ck)
    assert tag_b != tag_a, "reset checkpoint must get a fresh txn namespace"
    v = append_snapshot_idempotent(base.limit(3), path, f"{tag_b}-0")
    assert v == 2 and read_snapshot(spark, path).count() == 8, (
        "post-reset batch 0 must land, not be skipped as a replay"
    )


def test_manifest_records_commit_kind(spark, base, tmp_path):
    """Every commit records HOW it relates to its parent so incremental
    consumers can refuse non-incremental deltas (the MV replace guard)."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot,
        merge_snapshot,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)           # v1 create
    append_snapshot(base.filter("n_nationkey >= 10"), path)         # v2 append
    compact_snapshot(spark, path, target_files=1)                   # v3 compact
    merge_snapshot(
        spark, path, base.filter("n_nationkey < 3"), ["n_nationkey"]
    )                                                               # v4 merge
    delete_snapshot(spark, path, "n_nationkey = 0")                 # v5 delete
    write_snapshot(base.limit(2), path)                             # v6 replace
    kinds = [snapshot_info(path, v)["kind"] for v in range(1, 7)]
    assert kinds == ["create", "append", "compact", "merge", "delete", "replace"]


# --- commit-time CHECK constraints ----------------------------------------

from pyspark.sql import functions as F  # noqa: E402


def test_check_constraint_blocks_violating_append(spark, tmp_path, sf_smoke):
    from fxa_amplitude_send_spark.sinks.versioned import (
        add_check_constraint,
        append_snapshot,
        current_version,
        read_snapshot,
        write_snapshot,
    )
    from fxa_amplitude_send_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "event_type", "value"
    )
    p = str(tmp_path / "t")
    write_snapshot(ev.filter("value >= 0 AND event_id % 2 = 0"), p)
    add_check_constraint(spark, p, "value_nonneg", "value >= 0")
    v = current_version(p)
    bad = ev.filter("event_id % 2 = 1").withColumn(
        "value", F.col("value") - 1000
    )
    with pytest.raises(ValueError, match="value_nonneg"):
        append_snapshot(bad, p)
    # nothing committed, table content untouched
    assert current_version(p) == v
    assert read_snapshot(spark, p).filter("value < 0").count() == 0
    # a conforming append still lands
    append_snapshot(ev.filter("event_id % 2 = 1 AND value >= 0"), p)
    assert current_version(p) == v + 1


def test_check_constraint_null_passes_and_merge_validates_changes_only(
    spark, tmp_path, sf_smoke
):
    """SQL semantics: NULL check passes (unknown is not a violation); a
    MERGE validates only its insert/postimage change rows — a violating
    update is refused, a NULL-producing one is not."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        add_check_constraint,
        current_version,
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )
    from fxa_amplitude_send_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "event_type", "value"
    )
    p = str(tmp_path / "t")
    write_snapshot(ev.filter("value >= 0"), p)
    add_check_constraint(spark, p, "value_nonneg", "value >= 0")
    # merge-INSERT brand-new rows with NULL value (an update's NULL keeps
    # the old value under the coalesce-aware merge, so inserts are the
    # NULL-check path): unknown is not a violation
    nulled = ev.filter("event_id % 10 = 3").select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "event_type",
        F.lit(None).cast("double").alias("value"),
    )
    merge_snapshot(spark, p, nulled, ["event_id"])  # NULL passes
    assert read_snapshot(spark, p).filter("value IS NULL").count() > 0
    v = current_version(p)
    bad = ev.filter("event_id % 10 = 4").withColumn(
        "value", F.lit(-5.0)
    )
    with pytest.raises(ValueError, match="value_nonneg"):
        merge_snapshot(spark, p, bad, ["event_id"])
    assert current_version(p) == v


def test_check_constraint_add_validates_existing_and_drop(
    spark, tmp_path, sf_smoke
):
    from fxa_amplitude_send_spark.sinks.versioned import (
        add_check_constraint,
        append_snapshot,
        drop_check_constraint,
        write_snapshot,
    )
    from fxa_amplitude_send_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select("event_id", "value")
    p = str(tmp_path / "t")
    write_snapshot(ev, p)
    with pytest.raises(ValueError, match="existing rows violate"):
        add_check_constraint(spark, p, "huge", "value > 1e9")
    add_check_constraint(spark, p, "nonneg", "value >= 0")
    with pytest.raises(ValueError, match="already exists"):
        add_check_constraint(spark, p, "nonneg", "value >= 0")
    drop_check_constraint(p, "nonneg")
    # after drop, a violating append is accepted again
    append_snapshot(ev.withColumn("value", F.col("value") - 1e6), p)


def test_read_change_feed_public_api(spark, tmp_path, sf_smoke):
    """read_change_feed (table_changes parity): appends synthesize
    inserts, a compaction-only window returns an EMPTY frame with the
    right schema, and a replace in the window refuses."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        append_snapshot,
        compact_snapshot,
        read_change_feed,
        write_snapshot,
    )
    from fxa_amplitude_send_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select("event_id", "value")
    p = str(tmp_path / "t")
    write_snapshot(ev.filter("event_id % 2 = 0"), p)   # v1
    append_snapshot(ev.filter("event_id % 2 = 1"), p)  # v2
    feed = read_change_feed(spark, p, since_version=1)
    assert set(feed.columns) == {"event_id", "value", "_change_type"}
    assert feed.filter("_change_type <> 'insert'").count() == 0
    assert feed.count() == ev.filter("event_id % 2 = 1").count()
    compact_snapshot(spark, p, target_files=2)         # v3
    empty = read_change_feed(spark, p, since_version=2)
    assert empty.count() == 0
    assert set(empty.columns) == {"event_id", "value", "_change_type"}
    write_snapshot(ev.limit(5), p)                     # v4: replace
    with pytest.raises(RuntimeError, match="REPLACE"):
        read_change_feed(spark, p, since_version=3)


def test_bloom_policy_point_lookup_skips_files(spark, sf_smoke, tmp_path):
    """Per-file blooms prune equality probes that min/max boxes CANNOT:
    orders hash-scattered across 8 files means every file's [min, max]
    spans the whole key range, yet a point probe opens only the file(s)
    whose bloom admits the key — and the pruned read is still exact."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        bloom_pruned_file_count,
        pruned_file_count,
        set_bloom_policy,
    )

    path = str(tmp_path / "t")
    set_bloom_policy(path, ["o_orderkey"])
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    write_snapshot(orders.repartition(8), path)

    # mid-range key: inside every file's [min, max] box (a boundary key
    # like the global min would let the box test prune by accident)
    probe = orders.filter("o_orderkey >= 700").select("o_orderkey").head()[0]
    # min/max is useless on a round-robin layout: the box keeps every file
    mm_scanned, total = pruned_file_count(path, ("o_orderkey", probe, probe))
    assert total >= 8 and mm_scanned == total
    # the bloom keeps only the file(s) that (maybe) hold the key
    scanned, total_b = bloom_pruned_file_count(path, "o_orderkey", probe)
    assert total_b == total and 1 <= scanned < total

    hit = read_snapshot(spark, path, prune_eq=("o_orderkey", probe)).filter(
        f"o_orderkey = {probe}"
    )
    full = read_snapshot(spark, path).filter(f"o_orderkey = {probe}")
    assert _ids(hit) == _ids(full) and hit.count() >= 1
    assert len(hit.inputFiles()) == scanned


def test_bloom_absent_value_prunes_everything(spark, sf_smoke, tmp_path):
    """Probing a key that exists in NO file should skip (nearly) all files —
    with 8192-bit blooms over ~200 distincts/file the FP rate is <<1%."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        bloom_pruned_file_count,
        set_bloom_policy,
    )

    path = str(tmp_path / "t")
    set_bloom_policy(path, ["o_orderkey"])
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey")
    write_snapshot(orders.repartition(8), path)
    scanned, total = bloom_pruned_file_count(path, "o_orderkey", -987654321)
    assert scanned <= 1 < total  # allow one false positive, none expected
    out = read_snapshot(spark, path, prune_eq=("o_orderkey", -987654321)).filter(
        "o_orderkey = -987654321"
    )
    assert out.count() == 0 and out.columns == ["o_orderkey"]


def test_bloom_pre_policy_files_conservatively_kept(spark, sf_smoke, tmp_path):
    """Files staged BEFORE the policy carry no bloom and must always be
    kept (superset contract); post-policy files still prune. A probe for a
    key living only in the old files returns it intact."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        bloom_pruned_file_count,
        set_bloom_policy,
        snapshot_info,
    )

    path = str(tmp_path / "t")
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey")
    old = orders.filter("o_orderkey % 2 = 0")
    write_snapshot(old.repartition(4), path)            # v1: no blooms
    set_bloom_policy(path, ["o_orderkey"])
    append_snapshot(
        orders.filter("o_orderkey % 2 = 1").repartition(4), path
    )                                                    # v2: bloomed
    files = snapshot_info(path)["files"]
    assert sum(1 for e in files if "bloom" in e) == len(files) - 4

    # mid-range EVEN key: lives only in the unbloomed files, and sits
    # inside every file's [min, max] box so only the blooms can prune
    probe = old.filter("o_orderkey >= 700").head()[0]
    scanned, total = bloom_pruned_file_count(path, "o_orderkey", probe)
    assert total == len(files)
    # all 4 unbloomed files kept; the 4 bloomed (odd-key) files dropped
    assert scanned == 4
    hit = read_snapshot(spark, path, prune_eq=("o_orderkey", probe)).filter(
        f"o_orderkey = {probe}"
    )
    assert hit.count() == 1


def test_bloom_string_column(spark, sf_smoke, tmp_path):
    """Blooms hash the canonical str() form, so string keys prune too."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        bloom_pruned_file_count,
        set_bloom_policy,
    )

    path = str(tmp_path / "t")
    set_bloom_policy(path, ["c_name"])
    cust = load_table(spark, sf_smoke, "customer").select("c_custkey", "c_name")
    write_snapshot(cust.repartition(6), path)
    probe = cust.select("c_name").head()[0]
    scanned, total = bloom_pruned_file_count(path, "c_name", probe)
    assert 1 <= scanned < total
    hit = read_snapshot(spark, path, prune_eq=("c_name", probe))
    assert hit.filter(hit.c_name == probe).count() == 1


# --- merge-on-read deletion vectors ----------------------------------------


def test_mor_delete_no_rewrite_and_exact_rows(spark, base, tmp_path):
    """delete_snapshot_mor must (a) leave every data file untouched —
    O(deleted) writes, the whole point at 100 TB — and (b) read back
    exactly the surviving rows; time travel to v1 still has everything."""
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor

    path = str(tmp_path / "t")
    write_snapshot(base.repartition(4), path)
    v1_files = [e["path"] for e in snapshot_info(path, 1)["files"]]
    v2 = delete_snapshot_mor(spark, path, "n_nationkey % 3 = 0")
    assert v2 == 2
    info = snapshot_info(path, 2)
    assert [e["path"] for e in info["files"]] == v1_files  # zero rewrite
    assert info["dvs"], "tombstone files must be referenced"
    survivors = base.filter("NOT (n_nationkey % 3 = 0)")
    assert _ids(read_snapshot(spark, path)) == _ids(survivors)
    assert info["n_rows"] == survivors.count()
    assert _ids(read_snapshot(spark, path, 1)) == _ids(base)  # time travel


def test_mor_delete_accumulates_and_skips_dead_rows(spark, base, tmp_path):
    """Repeated MoR deletes accumulate vectors; a predicate matching
    already-dead rows emits NO new change rows (tombstones apply before
    the filter); appends interleave correctly."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        read_change_feed,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 15"), path)          # v1
    delete_snapshot_mor(spark, path, "n_nationkey < 5")            # v2
    append_snapshot(base.filter("n_nationkey >= 15"), path)        # v3
    delete_snapshot_mor(spark, path, "n_nationkey < 8")            # v4: 5,6,7
    expect = base.filter("n_nationkey >= 8")
    assert _ids(read_snapshot(spark, path)) == _ids(expect)
    assert len(snapshot_info(path)["dvs"]) >= 2
    # v4's change feed: exactly rows 5,6,7 — NOT the already-dead 0..4
    feed = read_change_feed(spark, path, since_version=3)
    assert sorted(r.n_nationkey for r in feed.collect()) == [5, 6, 7]
    assert feed.filter("_change_type <> 'delete'").count() == 0


def test_mor_delete_feeds_mv_maintenance(spark, sf_smoke, tmp_path):
    """A counting MV refreshed across a MoR delete must equal the
    from-scratch aggregate — the CDF contract is delete-flavor-blind."""
    from fxa_amplitude_send_spark.sinks.materialized_view import (
        create_mv,
        read_mv,
        refresh_mv,
    )
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor

    ev = load_table(spark, sf_smoke, "events").select("event_id", "event_type", "value")
    bp, mp = str(tmp_path / "b"), str(tmp_path / "m")
    write_snapshot(ev, bp)
    create_mv(spark, bp, mp, keys=["event_type"], sums=["value"])
    delete_snapshot_mor(spark, bp, "value >= 50")
    refresh_mv(spark, mp)
    got = {
        r.event_type: (r.mv_count, round(r.sum_value, 6))
        for r in read_mv(spark, mp).collect()
    }
    want = {
        r.event_type: (r[1], round(r[2], 6))
        for r in ev.filter("value < 50")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)), F.sum("value"))
        .collect()
    }
    assert got == want


def test_mor_compact_materializes_and_clears_vectors(spark, base, tmp_path):
    """Compaction after a MoR delete rewrites live rows only and the new
    manifest carries no vectors; pre-compact versions still read through
    their own vectors."""
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor

    path = str(tmp_path / "t")
    write_snapshot(base.repartition(4), path)
    delete_snapshot_mor(spark, path, "n_nationkey >= 20")       # v2
    compact_snapshot(spark, path, target_files=1)               # v3
    assert "dvs" not in snapshot_info(path, 3)
    survivors = base.filter("n_nationkey < 20")
    assert _ids(read_snapshot(spark, path, 3)) == _ids(survivors)
    assert _ids(read_snapshot(spark, path, 2)) == _ids(survivors)
    assert _ids(read_snapshot(spark, path, 1)) == _ids(base)


def test_mor_vacuum_keeps_tombstones(spark, base, tmp_path):
    """vacuum must treat tombstones as referenced: losing one would
    resurrect deleted rows in a retained version."""
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor

    path = str(tmp_path / "t")
    write_snapshot(base.repartition(4), path)                    # v1
    delete_snapshot_mor(spark, path, "n_nationkey % 2 = 0")     # v2
    append_snapshot(base.limit(0), path)                         # v3
    append_snapshot(base.limit(0), path)                         # v4
    vacuum(path, retain_versions=2, grace_seconds=0.0, allow_unsafe_grace=True)                              # keep v3, v4
    for rel in snapshot_info(path)["dvs"]:
        assert os.path.exists(os.path.join(path, rel))
    survivors = base.filter("n_nationkey % 2 = 1")
    assert _ids(read_snapshot(spark, path)) == _ids(survivors)


def test_mor_merge_after_delete_applies_vectors(spark, base, tmp_path):
    """MERGE on a vectored table must see only live rows (a dead key is an
    INSERT, not an update) and its rewrite clears the vectors."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        merge_snapshot,
    )

    path = str(tmp_path / "t")
    write_snapshot(base, path)                                   # v1
    delete_snapshot_mor(spark, path, "n_nationkey = 3")          # v2
    upd = spark.createDataFrame(
        [(3, "REBORN"), (7, "RENAMED")], ["n_nationkey", "n_name"]
    ).select(
        F.col("n_nationkey").cast(dict(base.dtypes)["n_nationkey"]), "n_name"
    )
    merge_snapshot(spark, path, upd, ["n_nationkey"])            # v3
    assert "dvs" not in snapshot_info(path, 3)
    out = {r.n_nationkey: r.n_name for r in read_snapshot(spark, path).collect()}
    assert out[3] == "REBORN" and out[7] == "RENAMED"
    assert len(out) == base.count()  # 24 survivors + reinserted key 3


def test_mor_merge_differential_vs_cow_merge(spark, sf_smoke, tmp_path):
    """merge_snapshot_mor must produce the SAME logical table and the SAME
    change feed as the copy-on-write merge_snapshot, while leaving every
    pre-existing data file in place (O(changes) writes)."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        merge_snapshot,
        merge_snapshot_mor,
        read_change_feed,
    )

    ev = load_table(spark, sf_smoke, "events").select("event_id", "event_type", "value")
    upd = (
        ev.filter("event_id % 11 = 0")
        .withColumn("value", F.col("value") * 2)          # real updates
        .unionByName(
            ev.limit(0)  # keep schema
        )
        .unionByName(
            ev.filter("event_id % 13 = 5").withColumn(
                "event_id", F.col("event_id") + 10_000_000  # inserts
            )
        )
        .unionByName(
            ev.filter("event_id % 17 = 3 AND event_id % 11 <> 0")
        )  # no-op updates (disjoint from the real updates: unique keys)
    )
    cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
    for p in (cow, mor):
        write_snapshot(ev.repartition(4), p)
    merge_snapshot(spark, cow, upd, ["event_id"])
    v1_files = [e["path"] for e in snapshot_info(mor, 1)["files"]]
    merge_snapshot_mor(spark, mor, upd, ["event_id"])

    info = snapshot_info(mor)
    assert [e["path"] for e in info["files"]][: len(v1_files)] == v1_files
    assert len(info["files"]) > len(v1_files)  # appended merged rows
    assert info["dvs"], "updates must tombstone their pre-images"

    def canon(df):
        return sorted(map(tuple, df.collect()))

    assert canon(read_snapshot(spark, mor)) == canon(read_snapshot(spark, cow))
    assert snapshot_info(mor)["n_rows"] == snapshot_info(cow)["n_rows"]
    assert canon(read_change_feed(spark, mor, since_version=1)) == canon(
        read_change_feed(spark, cow, since_version=1)
    )


def test_mor_merge_noop_updates_write_nothing(spark, base, tmp_path):
    """An update whose merged values equal the current rows must be a
    complete no-op: no tombstones, no new data files, no change rows."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        merge_snapshot_mor,
        read_change_feed,
    )

    path = str(tmp_path / "t")
    write_snapshot(base, path)
    n_files = len(snapshot_info(path)["files"])
    merge_snapshot_mor(spark, path, base.filter("n_nationkey < 10"), ["n_nationkey"])
    info = snapshot_info(path)
    assert len(info["files"]) == n_files or all(
        e["n"] == 0 for e in info["files"][n_files:]
    )
    assert read_change_feed(spark, path, since_version=1).count() == 0
    assert _ids(read_snapshot(spark, path)) == _ids(base)


def test_mor_merge_feeds_mv_maintenance(spark, sf_smoke, tmp_path):
    """MV refresh across a MoR merge (group-moving update) must equal the
    from-scratch aggregate — pre-image retraction works off the CDF alone."""
    from fxa_amplitude_send_spark.sinks.materialized_view import (
        create_mv,
        read_mv,
        refresh_mv,
    )
    from fxa_amplitude_send_spark.sinks.versioned import merge_snapshot_mor

    ev = load_table(spark, sf_smoke, "events").select("event_id", "event_type", "value")
    bp, mp = str(tmp_path / "b"), str(tmp_path / "m")
    write_snapshot(ev, bp)
    create_mv(spark, bp, mp, keys=["event_type"], sums=["value"])
    moved = ev.filter("event_id % 10 = 3").select(
        "event_id", F.lit("migrated").alias("event_type"),
        (F.col("value") * 0.5).alias("value"),
    )
    merge_snapshot_mor(spark, bp, moved, ["event_id"])
    refresh_mv(spark, mp)
    final = ev.withColumn(
        "event_type",
        F.when(F.col("event_id") % 10 == 3, "migrated").otherwise(F.col("event_type")),
    ).withColumn(
        "value",
        F.when(F.col("event_id") % 10 == 3, F.col("value") * 0.5).otherwise(F.col("value")),
    )
    got = {
        r.event_type: (r.mv_count, round(r.sum_value, 6))
        for r in read_mv(spark, mp).collect()
    }
    want = {
        r.event_type: (r[1], round(r[2], 6))
        for r in final.groupBy("event_type").agg(F.count(F.lit(1)), F.sum("value")).collect()
    }
    assert got == want


def test_optimize_rewrites_only_dead_heavy_files(spark, sf_smoke, tmp_path):
    """optimize_snapshot must rewrite exactly the files whose dead fraction
    crosses the threshold, keep every other entry verbatim (stats and all),
    drop the materialized tombstones, and preserve the logical content."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        optimize_snapshot,
    )

    path = str(tmp_path / "t")
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    # range layout: the delete below lands entirely in the low-key files
    write_snapshot(orders.repartitionByRange(8, "o_orderkey"), path)
    lo_cut = orders.selectExpr("percentile(o_orderkey, 0.2)").head()[0]
    delete_snapshot_mor(spark, path, f"o_orderkey <= {lo_cut}")     # v2
    before = {e["path"]: e for e in snapshot_info(path, 2)["files"]}

    v3 = optimize_snapshot(spark, path, dead_ratio=0.5)
    assert v3 == 3
    info = snapshot_info(path, 3)
    kept = [e for e in info["files"] if e["path"] in before]
    rewritten = [e for e in info["files"] if e["path"] not in before]
    assert rewritten, "dead-heavy files must be rewritten"
    assert 0 < len(kept) < len(before), "mostly-alive files must be kept"
    for e in kept:
        assert e == before[e["path"]]  # entry (incl. stats) untouched
    # all tombstones pointed at rewritten files → vectors fully cleared
    assert "dvs" not in info
    survivors = orders.filter(f"o_orderkey > {lo_cut}")
    assert _ids(read_snapshot(spark, path)) == _ids(survivors)
    assert info["n_rows"] == survivors.count()
    assert _ids(read_snapshot(spark, path, 1)) == _ids(orders)  # time travel


def test_optimize_keeps_foreign_tombstones(spark, base, tmp_path):
    """Tombstones for files NOT selected this pass must survive (and keep
    applying) after the dv set is consolidated."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        optimize_snapshot,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 12").repartition(1), path)  # f1
    append_snapshot(base.filter("n_nationkey >= 12").repartition(1), path)  # f2
    delete_snapshot_mor(spark, path, "n_nationkey < 10")   # f1 ~83% dead
    delete_snapshot_mor(spark, path, "n_nationkey = 20")   # f2 ~8% dead
    v = optimize_snapshot(spark, path, dead_ratio=0.5)     # rewrites f1 only
    info = snapshot_info(path, v)
    assert info.get("dvs"), "f2's tombstone must survive consolidation"
    expect = base.filter("n_nationkey >= 10 AND n_nationkey <> 20")
    assert _ids(read_snapshot(spark, path)) == _ids(expect)


def test_optimize_bin_packs_small_files(spark, base, tmp_path):
    """small_bytes packing groups tiny files; a no-victim pass is a NO-OP
    that commits nothing."""
    from fxa_amplitude_send_spark.sinks.versioned import optimize_snapshot

    path = str(tmp_path / "t")
    write_snapshot(base.limit(3), path)
    for i in range(4):
        append_snapshot(base.filter(f"n_nationkey % 4 = {i}").limit(2), path)
    n_before = len(snapshot_info(path)["files"])
    assert n_before >= 5
    v = optimize_snapshot(spark, path, small_bytes=10_000_000, target_files=1)
    info = snapshot_info(path, v)
    assert len(info["files"]) == 1
    assert info["n_rows"] == 3 + 4 * 2
    assert read_snapshot(spark, path).count() == 11
    # second pass: single file, no dead rows → no victims → no new version
    assert optimize_snapshot(spark, path, small_bytes=100) == v


def test_timestamp_as_of_resolution(spark, base, tmp_path):
    """TIMESTAMP AS OF: a wall-clock instant between two commits resolves to
    the earlier version; an instant before every retained commit refuses."""
    import time

    from fxa_amplitude_send_spark.sinks.versioned import version_at_timestamp

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)   # v1
    t_between = time.time()
    time.sleep(0.02)
    append_snapshot(base.filter("n_nationkey >= 10"), path)  # v2
    assert version_at_timestamp(path, t_between) == 1
    assert version_at_timestamp(path, time.time()) == 2
    v = version_at_timestamp(path, t_between)
    assert _ids(read_snapshot(spark, path, version=v)) == _ids(
        base.filter("n_nationkey < 10")
    )
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(path, t_between - 1_000_000)


def test_clone_is_zero_copy_and_independent(spark, base, tmp_path):
    """clone_snapshot shares bytes via hardlinks (st_nlink >= 2, no data
    copied) yet the histories are fully independent: mutations on the
    clone never show in the source and vice versa; vacuuming the source
    to oblivion leaves the clone intact (links, not references)."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        clone_snapshot,
        delete_snapshot_mor,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_snapshot(base.repartition(4), src)
    delete_snapshot_mor(spark, src, "n_nationkey = 7")        # src has a DV
    v = clone_snapshot(src, dst)
    assert v == 1
    expect = base.filter("n_nationkey <> 7")
    assert _ids(read_snapshot(spark, dst)) == _ids(expect)
    # zero copy: every clone data file is a hardlink to the source byte run
    info = snapshot_info(dst)
    for e in info["files"]:
        assert os.stat(os.path.join(dst, e["path"])).st_nlink >= 2
    assert info.get("dvs"), "tombstones must ride along"

    # divergence: clone mutates, source untouched (and vice versa)
    delete_snapshot_mor(spark, dst, "n_nationkey < 3")
    append_snapshot(base.limit(2), src)
    assert _ids(read_snapshot(spark, dst)) == _ids(
        base.filter("n_nationkey <> 7 AND n_nationkey >= 3")
    )
    assert sorted(_ids(read_snapshot(spark, src))) == sorted(
        _ids(expect) + _ids(base.limit(2))
    )

    # source vacuumed + obliterated: the clone still reads (hardlinks)
    import shutil

    shutil.rmtree(src)
    assert _ids(read_snapshot(spark, dst)) == _ids(
        base.filter("n_nationkey <> 7 AND n_nationkey >= 3")
    )


def test_clone_refuses_nonempty_target(base, tmp_path):
    from fxa_amplitude_send_spark.sinks.versioned import clone_snapshot

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    write_snapshot(base, src)
    write_snapshot(base.limit(1), dst)
    with pytest.raises(RuntimeError, match="already has committed"):
        clone_snapshot(src, dst)


def test_restore_is_forward_rollback(spark, base, tmp_path):
    """RESTORE re-publishes an old version as a NEW commit: content equals
    the target, the bad intermediate stays time-travelable, and
    incremental consumers refuse the replace-kind commit loudly."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        read_change_feed,
        restore_snapshot,
        table_history,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)   # v1: good
    append_snapshot(base.filter("n_nationkey >= 10"), path)  # v2: bad batch
    v3 = restore_snapshot(path, 1)
    assert v3 == 3
    assert _ids(read_snapshot(spark, path)) == _ids(base.filter("n_nationkey < 10"))
    assert _ids(read_snapshot(spark, path, 2)) == _ids(base)  # post-mortem
    hist = table_history(path)
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[0]["kind"] == "replace"
    assert hist[0]["n_rows"] == 10
    with pytest.raises(RuntimeError, match="REPLACE"):
        read_change_feed(spark, path, since_version=2)


def test_restore_carries_deletion_vectors(spark, base, tmp_path):
    """Restoring to a vectored version must re-reference its tombstones."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        restore_snapshot,
    )

    path = str(tmp_path / "t")
    write_snapshot(base, path)                                # v1
    delete_snapshot_mor(spark, path, "n_nationkey % 2 = 0")  # v2
    write_snapshot(base.limit(3), path)                       # v3: replace
    restore_snapshot(path, 2)                                 # v4
    assert _ids(read_snapshot(spark, path)) == _ids(
        base.filter("n_nationkey % 2 = 1")
    )


def test_register_versioned_view_sql_time_travel(spark, base, tmp_path):
    """SQL door to time travel: VERSION AS OF and TIMESTAMP AS OF views
    answer plain SQL, with deletion vectors applied."""
    import time

    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor
    from fxa_amplitude_send_spark.sql_api import register_versioned_view

    path = str(tmp_path / "t")
    write_snapshot(base, path)                               # v1
    t1 = time.time()
    time.sleep(0.02)
    delete_snapshot_mor(spark, path, "n_nationkey >= 20")   # v2
    register_versioned_view(spark, "nations_now", path)
    register_versioned_view(spark, "nations_v1", path, version=1)
    register_versioned_view(spark, "nations_t1", path, timestamp=t1)
    assert spark.sql("SELECT COUNT(*) FROM nations_now").head()[0] == 20
    assert spark.sql("SELECT COUNT(*) FROM nations_v1").head()[0] == 25
    assert spark.sql("SELECT COUNT(*) FROM nations_t1").head()[0] == 25
    with pytest.raises(ValueError, match="not both"):
        register_versioned_view(spark, "x", path, version=1, timestamp=t1)


def test_mor_reserved_column_names_refused(spark, base, tmp_path):
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor

    path = str(tmp_path / "t")
    write_snapshot(base.withColumnRenamed("n_name", "_vt_pos"), path)
    with pytest.raises(ValueError, match="reserved"):
        delete_snapshot_mor(spark, path, "n_nationkey = 1")


def test_stream_cdf_delivers_mor_deletes(spark, base, tmp_path):
    """The streaming change feed must carry MoR-delete pre-images exactly
    like CoW ones — a streaming consumer cannot tell which delete ran."""
    from fxa_amplitude_send_spark.sinks.versioned import delete_snapshot_mor
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base, path)                                # v1
    delete_snapshot_mor(spark, path, "n_nationkey >= 20")    # v2
    out = (
        spark.readStream.format("versioned_table")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
    q = (
        out.writeStream.format("memory")
        .queryName("mor_cdf_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("mor_cdf_sink").collect()
    deletes = sorted(r.n_nationkey for r in rows if r._change_type == "delete")
    inserts = sorted(r.n_nationkey for r in rows if r._change_type == "insert")
    assert deletes == [20, 21, 22, 23, 24]
    assert inserts == _ids(base)


def test_stream_cdf_refuses_replace_like_batch_cdf(spark, base, tmp_path):
    """A REPLACE version is not a delta: the streaming change feed must fail
    on it, naming the version, exactly as the batch change feed refuses it
    (emitting its files as inserts would deliver 18 inserts for a 3-row
    table). The append feed is unchanged: it still streams every appended
    file."""
    from fxa_amplitude_send_spark.sinks.versioned import read_change_feed
    from fxa_amplitude_send_spark.sources.versioned_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    path = str(tmp_path / "t")
    write_snapshot(base.filter("n_nationkey < 10"), path)                 # v1
    append_snapshot(base.filter("n_nationkey BETWEEN 10 AND 14"), path)  # v2
    write_snapshot(base.filter("n_nationkey >= 22"), path)  # v3: replace
    assert read_snapshot(spark, path).count() == 3
    with pytest.raises(RuntimeError, match="version 3 is a full REPLACE"):
        read_change_feed(spark, path, since_version=0)

    def drain(cdf: str, name: str):
        return (
            spark.readStream.format("versioned_table")
            .option("path", path)
            .option("readChangeFeed", cdf)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = drain("true", "replace_cdf_sink")
    with pytest.raises(Exception, match="version 3 is a full REPLACE"):
        q.awaitTermination()
    q.stop()

    drain("false", "replace_append_sink").awaitTermination()
    assert spark.table("replace_append_sink").count() == 10 + 5 + 3


def test_racing_mor_deleters_one_wins(spark, base, tmp_path):
    """Two MoR deletes racing from the same parent: O_EXCL serializes them —
    exactly one v2 exists, the loser errors with a clean conflict, and a
    retry against the new parent lands as v3 with BOTH deletes applied."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        _manifest_path,
        delete_snapshot_mor,
    )

    path = str(tmp_path / "t")
    write_snapshot(base, path)
    # simulate the race: another writer already committed v2
    delete_snapshot_mor(spark, path, "n_nationkey = 1")  # "other writer"
    import json as _json

    import fxa_amplitude_send_spark.sinks.versioned as V

    real = V.current_version
    try:
        V.current_version = lambda p: 1  # this writer still sees parent v1
        with pytest.raises(RuntimeError, match="concurrent"):
            delete_snapshot_mor(spark, path, "n_nationkey = 2")
    finally:
        V.current_version = real
    # clean retry against the new parent
    delete_snapshot_mor(spark, path, "n_nationkey = 2")
    assert _ids(read_snapshot(spark, path)) == _ids(
        base.filter("n_nationkey NOT IN (1, 2)")
    )


def test_bloom_never_false_negative(spark, sf_smoke, tmp_path):
    """Property: the bloom skip must NEVER drop a file containing the probe
    (false positives waste a read; a false negative loses rows). Checked
    for every present key in a scattered layout."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        bloom_pruned_file_count,
        set_bloom_policy,
        snapshot_info,
    )
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    set_bloom_policy(path, ["o_orderkey"], bits=8192, k=5)
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey").limit(400)
    write_snapshot(orders.repartition(6), path)
    # ground truth: which file actually holds each key
    holds = {}
    for e in snapshot_info(path)["files"]:
        for v in pq.read_table(
            os.path.join(path, e["path"])
        ).column("o_orderkey").to_pylist():
            holds.setdefault(v, set()).add(e["path"])
    from fxa_amplitude_send_spark.sinks.versioned import (
        _bloom_maybe_contains,
        _read_manifest,
        current_version,
    )

    m = _read_manifest(path, current_version(path))
    for key, files in holds.items():
        for e in m["files"]:
            if e["path"] in files:
                assert _bloom_maybe_contains(e, "o_orderkey", key), (
                    f"false negative: {key} in {e['path']}"
                )
        scanned, total = bloom_pruned_file_count(path, "o_orderkey", key)
        assert scanned >= 1


def test_delete_keys_mor_feeds_mv_retraction(spark, sf_smoke, tmp_path):
    """Key-set erasure must retract exactly through the MV change feed,
    and refuse unknown key columns loudly."""
    from fxa_amplitude_send_spark.sinks.materialized_view import (
        create_mv,
        read_mv,
        refresh_mv,
    )
    from fxa_amplitude_send_spark.sinks.versioned import delete_keys_mor

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    bp, mp = str(tmp_path / "b"), str(tmp_path / "m")
    write_snapshot(ev, bp)
    create_mv(spark, bp, mp, keys=["event_type"], sums=["value"])
    erase = ev.filter("user_id % 10 = 3").select("user_id")
    delete_keys_mor(spark, bp, erase, ["user_id"])
    refresh_mv(spark, mp)
    survivors = ev.filter("user_id % 10 <> 3")
    got = {
        r.event_type: (r.mv_count, round(r.sum_value, 6))
        for r in read_mv(spark, mp).collect()
    }
    want = {
        r.event_type: (r[1], round(r[2], 6))
        for r in survivors.groupBy("event_type")
        .agg(F.count(F.lit(1)), F.sum("value"))
        .collect()
    }
    assert got == want
    assert _ids(read_snapshot(spark, bp)) == _ids(survivors)
    with pytest.raises(ValueError, match="not in table schema"):
        delete_keys_mor(spark, bp, erase.withColumnRenamed("user_id", "uid"), ["uid"])


def test_metadata_tables(spark, base, tmp_path):
    """history/files metadata tables answer operational SQL from manifests
    alone — no data file opened."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        metadata_table,
    )

    path = str(tmp_path / "t")
    write_snapshot(base.repartition(3), path)
    delete_snapshot_mor(spark, path, "n_nationkey = 0")
    hist = metadata_table(spark, path, "history")
    assert [r.kind for r in hist.orderBy("version").collect()] == [
        "create", "delete"
    ]
    files = metadata_table(spark, path, "files")
    rows = files.collect()
    assert len(rows) == 3 and all(r.n_rows and not r.has_bloom for r in rows)
    assert all("n_nationkey" in r.stats for r in rows)
    with pytest.raises(ValueError, match="unknown metadata table"):
        metadata_table(spark, path, "partitions")


def test_clone_carries_check_constraints(spark, base, tmp_path):
    """A clone must enforce the source's CHECK constraints — silently
    dropping them would let the clone accept writes the source refuses."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        add_check_constraint,
        clone_snapshot,
    )

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    write_snapshot(base, src)
    add_check_constraint(spark, src, "key_nonneg", "n_nationkey >= 0")
    clone_snapshot(src, dst)
    bad = spark.createDataFrame([(-1, "BAD")], ["n_nationkey", "n_name"]).select(
        F.col("n_nationkey").cast(dict(base.dtypes)["n_nationkey"]), "n_name"
    )
    with pytest.raises(ValueError, match="key_nonneg"):
        append_snapshot(bad, dst)
