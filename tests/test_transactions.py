"""Multi-table atomic transactions (sinks/transactions.py): all-or-nothing
visibility across N versioned tables, crash coherence at every protocol
step, and single-winner arbitration between commit and force-abort.

Reference parity anchor: the reference's send-then-ack discipline
(synchronous-pull.js:88-92) is the two-system special case; these tests pin
the N-table generalization."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fxa_amplitude_send_spark.sinks.transactions import (
    MultiTableTxn,
    TxnConflict,
    force_abort_txn,
    recover,
    resolve_table,
    txn_state,
)
from fxa_amplitude_send_spark.sinks.versioned import (
    append_snapshot,
    current_version,
    read_snapshot,
    write_snapshot,
)


def _mk_tables(spark, tmp_path, n=2):
    paths = []
    for i in range(n):
        p = str(tmp_path / f"t{i}")
        write_snapshot(
            spark.createDataFrame([Row(k=1, v=10 * (i + 1))]), p
        )
        paths.append(p)
    return paths


def test_commit_is_atomic_and_visible(spark, tmp_path):
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=20)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))
    plan = txn.commit()
    assert plan == {a: 2, b: 2}
    assert current_version(a) == 2 and current_version(b) == 2
    assert read_snapshot(spark, a).count() == 2
    assert read_snapshot(spark, b).count() == 2
    assert txn_state(troot, txn.txn_id) == "committed"


def test_crash_after_marker_is_stale_not_torn(spark, tmp_path):
    """Death right after the commit point: both tables still read their OLD
    snapshots (consistent-stale — never one-new-one-old), and recover()
    finishes the job from the durable plan."""
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=21)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=41)]))
    txn.commit_without_finalize()
    # plain readers: consistent pre-transaction state on BOTH tables
    assert current_version(a) == 1 and current_version(b) == 1
    assert read_snapshot(spark, a).count() == 1
    assert txn_state(troot, txn.txn_id) == "committed"
    states = recover(troot)
    assert states[txn.txn_id] == "committed"
    assert current_version(a) == 2 and current_version(b) == 2
    assert read_snapshot(spark, b).count() == 2
    # recover is idempotent
    recover(troot)
    assert current_version(a) == 2


def test_resolve_table_rolls_single_table_forward(spark, tmp_path):
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=3, v=22)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=3, v=42)]))
    txn.commit_without_finalize()
    assert resolve_table(troot, a) == 2
    assert current_version(a) == 2
    assert current_version(b) == 1  # untouched until ITS resolution
    assert resolve_table(troot, b) == 2


def test_abort_leaves_no_trace(spark, tmp_path):
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=9, v=99)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=9, v=99)]))
    txn.abort()
    assert txn_state(troot, txn.txn_id) == "aborted"
    assert current_version(a) == 1 and current_version(b) == 1
    # slots are free again: a plain append works at version 2
    append_snapshot(spark.createDataFrame([Row(k=5, v=50)]), a)
    assert current_version(a) == 2
    with pytest.raises(RuntimeError):
        txn.commit()


def test_in_doubt_blocks_then_force_abort_frees(spark, tmp_path):
    """A prepared transaction whose owner vanished BEFORE the commit point:
    resolve_table refuses to guess; force_abort settles it, frees the
    slots, and the owner's late commit attempt must lose."""
    troot = str(tmp_path / "txlog")
    (tmp_path / "fresh").mkdir()
    c, d = _mk_tables(spark, tmp_path / "fresh", n=2)
    txn2 = MultiTableTxn(troot)
    txn2.stage_append(c, spark.createDataFrame([Row(k=2, v=1)]))
    txn2.stage_append(d, spark.createDataFrame([Row(k=2, v=2)]))
    import fxa_amplitude_send_spark.sinks.transactions as tx

    orig = tx._resolve
    tx._resolve = lambda *a_, **k_: (_ for _ in ()).throw(SystemExit)
    try:
        with pytest.raises(SystemExit):
            txn2.commit()
    finally:
        tx._resolve = orig
    assert txn_state(troot, txn2.txn_id) == "in-doubt"
    with pytest.raises(TxnConflict):
        resolve_table(troot, c)
    assert force_abort_txn(troot, txn2.txn_id, [c, d]) is True
    assert resolve_table(troot, c) == 1
    append_snapshot(spark.createDataFrame([Row(k=5, v=5)]), c)
    assert current_version(c) == 2


def test_force_abort_loses_to_committed_txn(spark, tmp_path):
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=2)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=2)]))
    txn.commit()
    assert force_abort_txn(troot, txn.txn_id, [a, b]) is False
    assert current_version(a) == 2  # nothing clawed back


def test_prepare_conflict_autoaborts_cleanly(spark, tmp_path):
    """A concurrent writer takes table b's slot between plan and link: the
    transaction aborts itself, and table a — whose manifest WAS linked —
    is left exactly as before."""
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=2)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=2)]))

    # a concurrent plain append wins b's slot AFTER the plan is resolved
    # but before the manifest link — the narrowest race window
    import fxa_amplitude_send_spark.sinks.transactions as tx

    orig_resolve = tx.resolve_table

    def racy(troot_, table):
        v = orig_resolve(troot_, table)
        if table == b:
            append_snapshot(spark.createDataFrame([Row(k=7, v=7)]), b)
        return v

    tx.resolve_table = racy
    try:
        with pytest.raises(TxnConflict):
            txn.commit()
    finally:
        tx.resolve_table = orig_resolve
    assert txn_state(troot, txn.txn_id) == "aborted"
    assert current_version(a) == 1
    assert read_snapshot(spark, a).count() == 1
    # a's slot is usable again
    append_snapshot(spark.createDataFrame([Row(k=8, v=8)]), a)
    assert read_snapshot(spark, a).count() == 2


def test_committed_probe_gives_exactly_once_replay(spark, tmp_path):
    """At-least-once redelivery: re-running a batch whose transaction id
    already committed must be skippable via committed() — the N-table
    analogue of append_snapshot_idempotent."""
    from fxa_amplitude_send_spark.sinks.transactions import committed

    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    df = spark.createDataFrame([Row(k=2, v=20)])

    def deliver(batch_id):
        txn_id = f"b{batch_id}"
        if committed(troot, txn_id):
            return False
        txn = MultiTableTxn(troot, txn_id=txn_id)
        txn.stage_append(a, df)
        txn.stage_append(b, df)
        txn.commit()
        return True

    assert deliver(0) is True
    assert current_version(a) == 2
    assert deliver(0) is False  # replay: no-op
    assert current_version(a) == 2 and current_version(b) == 2
    assert read_snapshot(spark, a).count() == 2


def test_fact_and_summary_stay_consistent(spark, tmp_path, sf_smoke):
    """The motivating pattern: fact + derived summary move in lockstep. At
    every observable point, summary totals == fact totals."""
    ev = (
        spark.read.parquet(os.path.join(sf_smoke, "events.parquet"))
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_c"),
        )
    )
    fact = str(tmp_path / "fact")
    summ = str(tmp_path / "summary")
    first = ev.filter(F.col("event_id") % 2 == 0)
    write_snapshot(first, fact)
    write_snapshot(
        first.groupBy("event_type").agg(F.sum("value_c").alias("s")), summ
    )
    troot = str(tmp_path / "txlog")
    delta = ev.filter(F.col("event_id") % 2 == 1)
    txn = MultiTableTxn(troot)
    txn.stage_append(fact, delta)
    txn.stage_append(
        summ, delta.groupBy("event_type").agg(F.sum("value_c").alias("s"))
    )
    txn.commit_without_finalize()

    def consistent():
        f = read_snapshot(spark, fact).groupBy("event_type").agg(
            F.sum("value_c").alias("s")
        )
        s = read_snapshot(spark, summ).groupBy("event_type").agg(
            F.sum("s").alias("s")
        )
        return (
            f.join(s, "event_type", "full")
            .filter(~f["s"].eqNullSafe(s["s"]))
            .count()
            == 0
        )

    assert consistent()  # pre-recovery: both stale
    recover(troot)
    assert consistent()  # post-recovery: both new
    full = ev.groupBy("event_type").agg(F.sum("value_c").alias("s"))
    got = read_snapshot(spark, summ).groupBy("event_type").agg(
        F.sum("s").alias("s")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))


def test_consistent_snapshot_lifts_lagging_table(spark, tmp_path):
    """Mid-finalize tear: one table's CURRENT advanced, the other lagging.
    consistent_snapshot must pin BOTH at the txn's planned versions."""
    from fxa_amplitude_send_spark.sinks.transactions import consistent_snapshot

    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "log")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=20)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))
    plan = txn.commit_without_finalize()
    resolve_table(troot, a)  # finalize table a only — the torn state
    assert (current_version(a), current_version(b)) == (2, 1)
    vec = consistent_snapshot(troot, [a, b])
    assert vec == plan
    assert consistent_snapshot(troot, [a, b]) == vec  # stable re-pin
    got = read_snapshot(spark, b, version=vec[b]).count()
    assert got == 2  # the lifted read sees the txn's append


def test_consistent_snapshot_excludes_in_doubt(spark, tmp_path, monkeypatch):
    """A transaction that died BEFORE its commit point (manifests linked,
    no marker) is in-doubt: the writer-path resolve_table must refuse the
    slot, while the reader-path consistent_snapshot must return the
    pre-transaction vector — undecided work stays invisible, not torn."""
    from fxa_amplitude_send_spark.sinks import transactions as tx

    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "log")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=20)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))

    real_resolve = tx._resolve

    def die_before_marker(root, txn_id, outcome):
        raise RuntimeError("crash before the commit point")

    monkeypatch.setattr(tx, "_resolve", die_before_marker)
    with pytest.raises(RuntimeError, match="crash before"):
        txn.commit()
    monkeypatch.setattr(tx, "_resolve", real_resolve)

    assert txn_state(troot, txn.txn_id) == "in-doubt"
    vec = tx.consistent_snapshot(troot, [a, b])
    assert vec == {a: 1, b: 1}  # pre-transaction, both sides
    with pytest.raises(TxnConflict):
        resolve_table(troot, a)  # writer path still refuses the slot
    assert read_snapshot(spark, a, version=vec[a]).count() == 1


def test_stream_txn_gate_reruns_cleanly(spark, sf_smoke):
    """bench.py executes every query twice in one session (best-of-2); the
    gate's streaming checkpoint must not leak between runs, or batch ids
    resume past 0 and the replay probe dereferences a batch that never
    arrived (the KeyError the sf0.1 bench caught)."""
    from fxa_amplitude_send_spark.plans import all_queries

    fn = all_queries()["q_stream_txn"]
    for _ in range(2):
        assert fn(spark, sf_smoke).count() > 0


def test_vacuum_spares_in_doubt_prepared_txn_files(spark, tmp_path, monkeypatch):
    """VACUUM vs a prepared transaction whose owner died before the commit
    point (round-7 verdict: vacuum unlinked files a later commit could
    reference). The squatter manifests at CURRENT+1 must count as
    referenced — even at grace_seconds=0 — until the transaction is
    settled; only AFTER a force-abort unlinks them do the staged files
    become reclaimable garbage."""
    import fxa_amplitude_send_spark.sinks.transactions as tx
    from fxa_amplitude_send_spark.sinks.versioned import vacuum

    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=20)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))
    staged_a = txn.staged_paths(a)

    def die_before_marker(root, txn_id, outcome):
        raise RuntimeError("crash before the commit point")

    monkeypatch.setattr(tx, "_resolve", die_before_marker)
    with pytest.raises(RuntimeError, match="crash before"):
        txn.commit()
    monkeypatch.undo()

    assert txn_state(troot, txn.txn_id) == "in-doubt"
    # the aggressive-vacuum case: even with the age gate disabled, the
    # in-doubt squatter's staged files are protected by reference
    assert vacuum(a, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True) == []
    for p in staged_a:
        assert os.path.exists(os.path.join(a, p)), "vacuum ate a prepared file"
    # settle the transaction aborted; its squatter manifests unlink and the
    # staged files become plain aged-out garbage for the next vacuum
    assert force_abort_txn(troot, txn.txn_id, [a, b])
    reclaimed = vacuum(a, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True)
    assert set(reclaimed) == set(staged_a)


def test_vacuum_then_recover_after_commit_marker(spark, tmp_path):
    """VACUUM racing a committed-but-unfinalized transaction (crash right
    after the marker): the squatter manifests WILL finalize on recover(),
    so their files must survive any vacuum that runs in between — on the
    round-7 code this test fails with the recovered tables pointing at
    deleted parquet."""
    from fxa_amplitude_send_spark.sinks.versioned import vacuum

    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_append(a, spark.createDataFrame([Row(k=2, v=20)]))
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))
    txn.commit_without_finalize()

    # vacuum both tables in the crash window, with the age gate disabled —
    # reference protection alone must keep the prepared files alive
    assert vacuum(a, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True) == []
    assert vacuum(b, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True) == []

    recover(troot)
    assert current_version(a) == 2 and current_version(b) == 2
    assert read_snapshot(spark, a).count() == 2  # would raise on torn table
    assert read_snapshot(spark, b).count() == 2


def test_vacuum_age_gate_spares_midstage_writer(spark, tmp_path):
    """VACUUM vs a writer inside its stage->manifest-link window: the
    writer's files exist under data/stage-*/ with NO manifest yet, so only
    the age gate can protect them. Default grace leaves fresh orphans
    alone; grace_seconds=0 is the documented operator override for
    quiescent tables."""
    import shutil

    from fxa_amplitude_send_spark.sinks.versioned import vacuum

    (a,) = _mk_tables(spark, tmp_path, n=1)
    # simulate a concurrent writer mid-stage: a fresh parquet in a stage
    # dir that no manifest references yet
    live = next(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(a, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    orphan_dir = os.path.join(a, "data", "stage-midflight")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000.parquet")
    shutil.copyfile(live, orphan)

    assert vacuum(a, retain_versions=1) == []  # default grace: untouchable
    assert os.path.exists(orphan)
    # operator override on a known-quiescent table reclaims it
    assert vacuum(a, retain_versions=1, grace_seconds=0.0, allow_unsafe_grace=True) == [
        os.path.relpath(orphan, a)
    ]
    assert not os.path.exists(orphan)


def test_stage_merge_atomic_upsert_across_tables(spark, tmp_path):
    """Atomic CDC upsert: a MERGE into the fact table and the matching
    summary append commit together or not at all; the merge uses MoR
    staging (tombstones + CDF), so crash-after-marker leaves both tables
    consistent-stale and recover() completes the upsert."""
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_merge(a, spark.createDataFrame([Row(k=1, v=11), Row(k=2, v=22)]), ["k"])
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))
    txn.commit_without_finalize()

    # crash window: both tables still read pre-transaction
    assert read_snapshot(spark, a).collect() == [Row(k=1, v=10)]
    assert read_snapshot(spark, b).count() == 1

    recover(troot)
    got = {r.k: r.v for r in read_snapshot(spark, a).collect()}
    assert got == {1: 11, 2: 22}  # update + insert, atomically with b
    assert read_snapshot(spark, b).count() == 2
    # the merge carried real CDF rows
    from fxa_amplitude_send_spark.sinks.versioned import read_change_feed

    kinds = {
        r["_change_type"]
        for r in read_change_feed(spark, a, since_version=1).collect()
    }
    assert kinds == {"insert", "update_preimage", "update_postimage"}


def test_stage_delete_and_append_atomic(spark, tmp_path):
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    append_snapshot(spark.createDataFrame([Row(k=2, v=20)]), a)  # a: k=1,2
    txn = MultiTableTxn(troot)
    txn.stage_delete(a, "k = 1", spark)
    txn.stage_append(b, spark.createDataFrame([Row(k=9, v=90)]))
    txn.commit()
    assert [r.k for r in read_snapshot(spark, a).collect()] == [2]
    assert read_snapshot(spark, b).count() == 2


def test_stage_merge_stale_base_conflicts_cleanly(spark, tmp_path):
    """Optimistic concurrency: a merge staged against version N must refuse
    to prepare once another writer commits N+1 — its tombstone positions
    describe the OLD file set. The conflict auto-aborts with no visible
    effect on any table."""
    a, b = _mk_tables(spark, tmp_path)
    troot = str(tmp_path / "txlog")
    txn = MultiTableTxn(troot)
    txn.stage_merge(a, spark.createDataFrame([Row(k=1, v=99)]), ["k"])
    txn.stage_append(b, spark.createDataFrame([Row(k=2, v=40)]))
    # interleaving writer moves table a to version 2
    append_snapshot(spark.createDataFrame([Row(k=5, v=50)]), a)
    with pytest.raises(TxnConflict, match="restage"):
        txn.commit()
    assert txn_state(troot, txn.txn_id) == "aborted"
    # no trace: a has the interleaved row only; b unchanged
    assert read_snapshot(spark, a).count() == 2
    assert read_snapshot(spark, b).count() == 1
    assert current_version(b) == 1


def test_mixing_merge_and_append_on_one_table_refused(spark, tmp_path):
    (a,) = _mk_tables(spark, tmp_path, n=1)
    txn = MultiTableTxn(str(tmp_path / "txlog"))
    txn.stage_merge(a, spark.createDataFrame([Row(k=1, v=99)]), ["k"])
    with pytest.raises(RuntimeError, match="one mutation per table"):
        txn.stage_append(a, spark.createDataFrame([Row(k=7, v=70)]))


def test_stream_cdc_merge_crash_after_marker_recovers_and_replays(spark, tmp_path):
    """The full streaming-CDC crash lifecycle for foreachBatch + stage_merge
    (the q_stream_txn_merge discipline): a micro-batch that crashes right
    after its commit marker leaves BOTH tables consistent-stale — counts
    AND value sums at pre-batch state, no half-applied merge — recover()
    completes the upsert from the durable plan, and a checkpoint restart
    redelivers the crashed batch, which the committed() probe turns into a
    no-op (exactly-once across a real crash, not just a manual re-call)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    feed = tmp_path / "feed"
    feed.mkdir()
    f0, f1 = str(feed / "b0.parquet"), str(feed / "b1.parquet")
    pq.write_table(
        pa.table({"k": [1, 2, 3, 4], "t": ["a", "a", "b", "b"],
                  "v": [10, 10, 10, 10]}), f0)
    pq.write_table(pa.table({"k": [1, 2], "t": ["a", "a"], "v": [20, 20]}), f1)
    now = os.path.getmtime(f0)
    os.utime(f0, (now, now))
    os.utime(f1, (now + 10, now + 10))

    fact, summ = str(tmp_path / "fact"), str(tmp_path / "summ")
    troot = str(tmp_path / "txlog")
    write_snapshot(spark.createDataFrame([], "k bigint, t string, v bigint"), fact)
    write_snapshot(
        spark.createDataFrame([], "t string, n bigint, s bigint"), summ)

    from fxa_amplitude_send_spark.sinks.transactions import committed

    def process(batch_df, bid):
        txn_id = f"c{bid:04d}"
        if committed(troot, txn_id):
            return
        batch_df = batch_df.localCheckpoint(eager=True)
        txn = MultiTableTxn(troot, txn_id=txn_id)
        txn.stage_merge(fact, batch_df, ["k"])
        cdf = txn.staged_changes(fact, spark)
        inc = cdf.groupBy("t").agg(
            F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(0)
                  ).alias("n_add"),
            F.sum(F.when(F.col("_change_type") == "update_preimage",
                         -F.col("v")).otherwise(F.col("v"))).alias("s_add"),
        )
        old = read_snapshot(spark, summ).alias("o")
        new_rows = inc.alias("i").join(old, "t", "left").select(
            "t",
            (F.coalesce(F.col("o.n"), F.lit(0)) + F.col("i.n_add")).alias("n"),
            (F.coalesce(F.col("o.s"), F.lit(0)) + F.col("i.s_add")).alias("s"),
        )
        txn.stage_merge(summ, new_rows, ["t"])
        if bid == 1:
            txn.commit_without_finalize()
            raise RuntimeError("crash-after-marker")
        txn.commit()

    def run_stream():
        schema = spark.read.parquet(f0).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = run_stream()
    with pytest.raises(Exception, match="crash-after-marker"):
        q.awaitTermination()

    # crash window: batch 0 landed (v2), batch 1 marker'd but not rolled
    # forward — both tables consistent-stale in count AND value sum
    assert current_version(fact) == 2 and current_version(summ) == 2
    frows = read_snapshot(spark, fact)
    assert (frows.count(), frows.agg(F.sum("v")).first()[0]) == (4, 40)
    srows = read_snapshot(spark, summ)
    assert (srows.agg(F.sum("n")).first()[0],
            srows.agg(F.sum("s")).first()[0]) == (4, 40)

    recover(troot)
    assert current_version(fact) == 3 and current_version(summ) == 3
    got = {r.k: r.v for r in read_snapshot(spark, fact).collect()}
    assert got == {1: 20, 2: 20, 3: 10, 4: 10}
    s = {r.t: (r.n, r.s) for r in read_snapshot(spark, summ).collect()}
    assert s == {"a": (2, 40), "b": (2, 20)}

    # checkpoint restart redelivers the crashed batch: committed() makes it
    # a no-op — versions and values must not move
    q2 = run_stream()
    q2.awaitTermination()
    assert current_version(fact) == 3 and current_version(summ) == 3
    assert {r.k: r.v for r in read_snapshot(spark, fact).collect()} == got


@pytest.mark.parametrize("kind", ["merge", "delete", "noop_merge"])
def test_staged_changes_columns_are_base_schema_plus_change_type(
    spark, tmp_path, kind
):
    """staged_changes returns the staged base version's table columns +
    _change_type whatever the op: merge-on-read change files also carry
    the null path/pos padding of the staging superset, and an op that
    changed nothing has no change file at all — even after CURRENT's
    schema evolved past the staged base."""
    from fxa_amplitude_send_spark.sinks.versioned import append_snapshot_evolve

    (t,) = _mk_tables(spark, tmp_path, n=1)
    txn = MultiTableTxn(str(tmp_path / "txlog"))
    if kind == "merge":
        txn.stage_merge(t, spark.createDataFrame([Row(k=1, v=99), Row(k=5, v=50)]), ["k"])
        want = {(1, 10, "update_preimage"), (1, 99, "update_postimage"), (5, 50, "insert")}
    elif kind == "delete":
        txn.stage_delete(t, "k = 1", spark)
        want = {(1, 10, "delete")}
    else:
        txn.stage_merge(t, spark.createDataFrame([Row(k=1, v=10)]), ["k"])
        want = set()
    append_snapshot_evolve(spark.createDataFrame([Row(k=7, v=70, w="x")]), t)

    cdf = txn.staged_changes(t, spark)
    assert cdf.columns == ["k", "v", "_change_type"]
    assert {tuple(r) for r in cdf.collect()} == want


def test_stream_txn_merge_gate_survives_empty_cdc_batches(spark, tmp_path, sf_smoke):
    """At a small scale factor a CDC batch can be empty: with no
    event_id % 8 in {0, 4} both update batches are. The gate must still
    stage 4 files, run 4 micro-batches and return the per-type summary."""
    import pyarrow.parquet as pq

    from fxa_amplitude_send_spark.plans import all_queries

    events = pq.read_table(os.path.join(sf_smoke, "events.parquet"))
    ids = events["event_id"].to_pylist()
    keep = [i for i, x in enumerate(ids) if x % 8 not in (0, 4)][:12]
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pq.write_table(events.take(keep), str(sf_dir / "events.parquet"))

    want = {
        r["event_type"]: (r["n"], r["s"])
        for r in spark.read.parquet(str(sf_dir / "events.parquet"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
        )
        .collect()
    }
    out = all_queries()["q_stream_txn_merge"](spark, str(sf_dir))
    got = {r["event_type"]: (r["n"], r["sum_value_c"]) for r in out.collect()}
    assert got == want
