"""Multi-table ATOMIC transactions over versioned tables.

Neither Delta nor Iceberg gives cross-table atomicity from the table format
alone — it takes a catalog-level commit (Nessie, Unity). This module is that
catalog piece for `sinks/versioned.py` tables, built from the same two
primitives the single-table commit already trusts: immutable manifests
linked with O_EXCL, and a monotone CURRENT pointer.

Protocol (Percolator-style prepare / commit-point / roll-forward):

1. PREPARE — for every participating table (in sorted-path order, so two
   overlapping transactions conflict deterministically instead of
   deadlocking), link the next version's manifest WITHOUT advancing
   CURRENT. The manifest carries a ``txn`` stanza naming the transaction
   and the full version plan. Readers resolve snapshots through CURRENT,
   so a prepared-but-uncommitted manifest is invisible — a squatter on the
   version slot, nothing more.
2. COMMIT POINT — one O_CREAT|O_EXCL marker file in the transaction log.
   Before the marker exists the transaction is in-doubt and abortable;
   after, it is durably committed even if this process dies right now.
3. FINALIZE — advance each table's CURRENT to the planned version (the
   same monotone catch-up loop _commit uses). Crash mid-finalize leaves
   tables CONSISTENT-STALE (their CURRENT lags; no reader ever sees half a
   transaction), and anyone calling ``recover()`` / ``resolve_table()``
   rolls the pointer forward from the durable marker.

Commit and abort contend for ONE ``.resolved`` marker per transaction
(O_EXCL link; the file's content is the outcome), so a racing owner-commit
and operator force-abort settle to exactly one answer — never both. An
aborted transaction's squatting manifests are unlinked; its staged data
files are orphans for vacuum.

Reference analogue: the reference acks a Pub/Sub batch only after the HTTP
send succeeds (synchronous-pull.js:88-92) — a two-system commit discipline
with at-least-once semantics. This is the exactly-once, N-table version.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .versioned import (
    _CURRENT,
    _MANIFEST_DIR,
    _atomic_write,
    _count_staged,
    _manifest_path,
    _read_manifest,
    _stage_data_files,
    _stage_delete_mor,
    _stage_merge_mor,
    _verify_staged_checks,
    current_version,
)


class TxnConflict(RuntimeError):
    """Another writer took a version slot this transaction needed."""


def _marker(txn_root: str, txn_id: str) -> str:
    return os.path.join(txn_root, f"{txn_id}.resolved")


def _resolve(txn_root: str, txn_id: str, outcome: str) -> str:
    """Settle the transaction exactly once: ONE marker file per
    transaction, created with O_EXCL, its CONTENT the outcome — so a
    racing owner-commit and force-abort are arbitrated by the filesystem
    (two marker FILES, 'commit' beats a later 'abort' only by luck, would
    be a decide-after-check race). Returns the outcome that actually won."""
    target = _marker(txn_root, txn_id)
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(outcome)
    try:
        os.link(tmp, target)
    except FileExistsError:
        pass
    finally:
        os.remove(tmp)
    with open(target, encoding="utf-8") as fh:
        return fh.read().strip()


def txn_state(txn_root: str, txn_id: str) -> str:
    """'committed' | 'aborted' | 'in-doubt'."""
    target = _marker(txn_root, txn_id)
    if not os.path.exists(target):
        return "in-doubt"
    with open(target, encoding="utf-8") as fh:
        return "committed" if fh.read().strip() == "commit" else "aborted"


def _advance_current(table: str, version: int) -> None:
    """Monotone CURRENT catch-up — same loop as versioned._commit."""
    while True:
        cur = current_version(table)
        if cur >= version:
            break
        _atomic_write(os.path.join(table, _MANIFEST_DIR, _CURRENT), str(version))
        if current_version(table) >= version:
            break


def _roll_forward(txn_root: str, table: str, *, block_on_in_doubt: bool) -> int:
    """Shared roll-forward loop: advance CURRENT past resolved squatters
    (committed → finalize, aborted → unlink). An in-doubt squatter either
    raises (writer path: the slot is contended, the caller must not reuse
    it) or terminates the walk (reader path: an undecided transaction is
    invisible through CURRENT by design, so the pre-transaction snapshot
    IS the consistent answer)."""
    while True:
        cur = current_version(table)
        nxt = _manifest_path(table, cur + 1)
        if not os.path.exists(nxt):
            return cur
        with open(nxt, encoding="utf-8") as fh:
            man = json.load(fh)
        txn = man.get("txn")
        if txn is None:
            # a normal commit whose writer died between manifest-link and
            # pointer write: the manifest IS the commit — catch up.
            _advance_current(table, cur + 1)
            continue
        state = txn_state(txn_root, txn["id"])
        if state == "committed":
            _advance_current(table, cur + 1)
        elif state == "aborted":
            try:
                os.remove(nxt)
            except FileNotFoundError:
                pass
        elif block_on_in_doubt:
            raise TxnConflict(
                f"table {table} blocked by in-doubt transaction {txn['id']} "
                f"at version {cur + 1}; abort it or let its owner finish"
            )
        else:
            return cur


def resolve_table(txn_root: str, table: str) -> int:
    """Roll the table's CURRENT forward past any resolved squatting
    manifests: committed transactions finalize, aborted ones unlink their
    squatter. Returns the resolved current version. Raises TxnConflict on
    an in-doubt squatter — only its owner (or a force-abort) may decide it."""
    return _roll_forward(txn_root, table, block_on_in_doubt=True)


def consistent_snapshot(
    txn_root: str, tables: list[str], max_passes: int = 100
) -> dict[str, int]:
    """Pin a CROSS-TABLE-consistent version vector for a reader.

    Per-table CURRENT pointers advance one at a time during finalize, so a
    naive reader joining two tables mid-finalize can see table A with a
    transaction's rows and table B without them — half a transaction,
    exactly what the writer protocol promises never to expose. This is the
    read-side fix: each table is rolled forward past every RESOLVED
    squatter (any reader may perform the Percolator-style roll-forward;
    in-doubt transactions stay invisible), then the whole vector is
    re-resolved until two consecutive passes agree.

    Why the fixpoint is sufficient: versions are monotone, so vec_prev ==
    vec means no participating table advanced between its read in the
    previous pass and its read in this one — the passes overlap in time, so
    no transaction's commit point landed inside the vector's read window.
    A transaction committed before the window is fully included in every
    table (roll-forward); one committed after is fully excluded. Reads then
    pin ``read_snapshot(version=vec[t])``, immune to later commits.

    Cost: O(tables) pointer reads per pass, ~2 passes when quiescent.
    Under a sustained commit stream two consecutive passes may never
    agree, so the loop is CAPPED: after ``max_passes`` attempts it raises
    rather than livelock — the caller retries or reads single-table
    snapshots, the same contract as any bounded optimistic read."""
    prev: dict[str, int] | None = None
    for _ in range(max_passes):
        vec = {
            t: _roll_forward(txn_root, t, block_on_in_doubt=False)
            for t in sorted(tables)
        }
        if vec == prev:
            return vec
        prev = vec
    raise RuntimeError(
        f"consistent_snapshot: no stable version vector after {max_passes} "
        "passes — commits are landing faster than the vector can be read; "
        "retry, or raise max_passes"
    )


def recover(txn_root: str) -> dict[str, str]:
    """Resolve every transaction in the log: finalize committed ones
    (idempotent roll-forward from the durable plan), clean aborted ones'
    squatters, leave in-doubt ones untouched. Returns {txn_id: state}.
    Safe to run from any process at any time — this is what turns a
    mid-finalize crash into mere staleness."""
    out: dict[str, str] = {}
    if not os.path.isdir(txn_root):
        return out
    for name in sorted(os.listdir(txn_root)):
        if not name.endswith(".json"):
            continue
        txn_id = name[: -len(".json")]
        state = txn_state(txn_root, txn_id)
        out[txn_id] = state
        with open(os.path.join(txn_root, name), encoding="utf-8") as fh:
            plan = json.load(fh)
        if state == "committed":
            for table, version in plan["tables"].items():
                _advance_current(table, version)
        elif state == "aborted":
            for table, version in plan["tables"].items():
                mp = _manifest_path(table, version)
                if os.path.exists(mp):
                    with open(mp, encoding="utf-8") as fh:
                        man = json.load(fh)
                    if (man.get("txn") or {}).get("id") == txn_id:
                        try:
                            os.remove(mp)
                        except FileNotFoundError:
                            pass
    return out


def committed(txn_root: str, txn_id: str) -> bool:
    """True iff the transaction durably committed — the idempotence probe
    for at-least-once batch delivery (a foreachBatch replay of a batch
    whose transaction already committed must be a NO-OP, turning Spark's
    at-least-once replay into exactly-once table state; same discipline as
    versioned.append_snapshot_idempotent, generalized to N tables)."""
    return txn_state(txn_root, txn_id) == "committed"


def force_abort_txn(txn_root: str, txn_id: str, tables: list[str]) -> bool:
    """Operator escape hatch for a transaction whose owner died in-doubt
    (prepared, never reached the commit point): settle it aborted and free
    the version slots it squats on. Refused — returns False — if the
    transaction already committed (the marker race is decided by O_EXCL,
    so a racing owner commit and force-abort cannot both win)."""
    if _resolve(txn_root, txn_id, "abort") != "abort":
        return False  # the owner's commit won the marker race
    for t in tables:
        mp = _manifest_path(t, current_version(t) + 1)
        if os.path.exists(mp):
            with open(mp, encoding="utf-8") as fh:
                man = json.load(fh)
            if (man.get("txn") or {}).get("id") == txn_id:
                try:
                    os.remove(mp)
                except FileNotFoundError:
                    pass
    return True


class MultiTableTxn:
    """Stage appends / merges / deletes to several versioned tables; commit
    them atomically.

    >>> txn = MultiTableTxn(txn_root)
    >>> txn.stage_append(fact_path, fact_delta)
    >>> txn.stage_merge(summary_path, rollup, key_cols=["k"])
    >>> versions = txn.commit()          # all-or-nothing

    Staging writes data files immediately (they are invisible orphans until
    commit; an abort leaves them to vacuum, whose squatter + age guards keep
    them safe while the transaction is live). ``commit()`` runs
    prepare → marker → finalize; any prepare conflict auto-aborts and
    raises TxnConflict with no visible effect on any table.

    Mutations (merge/delete) use merge-on-read staging — the same deletion
    vectors + CDF change files as the single-table
    ``merge_snapshot_mor`` / ``delete_snapshot_mor``, so an atomic CDC
    upsert across a fact table and its summary costs O(changes) writes.
    A staged mutation binds row positions to the table version it was
    computed against, so prepare re-checks that version is still current
    and raises TxnConflict (restage and retry) if another writer landed
    in between — plain optimistic concurrency, Delta-style. One table may
    carry EITHER any number of appends OR exactly one merge/delete per
    transaction; composing both against the same table in one transaction
    would require rebasing positions and is refused loudly."""

    def __init__(self, txn_root: str, txn_id: str | None = None) -> None:
        os.makedirs(txn_root, exist_ok=True)
        self.txn_root = txn_root
        self.txn_id = txn_id or f"txn-{uuid.uuid4().hex}"
        self._ops: dict[str, list[dict]] = {}
        self._spark: SparkSession | None = None
        self._plan: dict[str, int] | None = None
        self._done = False

    # -- staging ----------------------------------------------------------
    def _check_stageable(self, table: str, op: str) -> None:
        if self._done:
            raise RuntimeError(f"transaction {self.txn_id} already resolved")
        if self._plan is not None:
            raise RuntimeError(
                f"transaction {self.txn_id} already prepared — no new staging"
            )
        if current_version(table) == 0:
            raise FileNotFoundError(f"no committed snapshot at {table}")
        ops = self._ops.get(table, [])
        if ops and (op != "append" or ops[0]["op"] != "append"):
            raise RuntimeError(
                f"table {table} already staged a {ops[0]['op']} in "
                f"transaction {self.txn_id}: one mutation per table per "
                "transaction (appends may repeat; merge/delete may not mix)"
            )

    def stage_append(self, table: str, df: DataFrame) -> None:
        """Stage an append to ``table`` (which must already exist — a
        transaction coordinates EXISTING tables; create them first)."""
        self._check_stageable(table, "append")
        files = _stage_data_files(df, table)
        _verify_staged_checks(df.sparkSession, table, files)
        self._spark = df.sparkSession
        ops = self._ops.setdefault(table, [])
        if ops:
            ops[0]["files"].extend(files)
        else:
            ops.append({"op": "append", "files": files})

    def stage_merge(
        self, table: str, updates: DataFrame, key_cols: list[str]
    ) -> None:
        """Stage a merge-on-read UPSERT into ``table`` (tombstone replaced
        rows, append merged values — O(changes) writes), deferred to the
        atomic cross-table commit. Positions bind to the table's CURRENT
        version; a concurrent commit before prepare() turns into a clean
        TxnConflict, never a mis-positioned tombstone."""
        self._check_stageable(table, "merge")
        base = current_version(table)
        prev = _read_manifest(table, base)
        st = _stage_merge_mor(updates.sparkSession, table, updates, key_cols, prev)
        self._spark = updates.sparkSession
        self._ops[table] = [{"op": "merge", "base": base, **st}]

    def stage_delete(
        self, table: str, predicate: str, spark: SparkSession
    ) -> None:
        """Stage a merge-on-read DELETE from ``table`` (deletion-vector
        tombstones + CDF pre-images), deferred to the atomic cross-table
        commit. Same optimistic base-version contract as stage_merge."""
        self._check_stageable(table, "delete")
        base = current_version(table)
        prev = _read_manifest(table, base)
        st = _stage_delete_mor(spark, table, predicate, prev)
        self._spark = spark
        self._ops[table] = [{"op": "delete", "base": base, **st}]

    def staged_changes(self, table: str, spark: SparkSession) -> DataFrame:
        """The CDF rows this transaction's staged merge/delete will publish
        for ``table`` (columns = the staged base version's table schema +
        ``_change_type`` in {insert, update_preimage, update_postimage,
        delete}, whether the op changed rows or none) — readable BEFORE
        the commit. This is what lets a downstream aggregate be
        maintained from the SAME transaction at O(changes): stage the fact
        merge, derive the summary increment from its staged change files,
        stage the summary merge, then commit both atomically. Without it
        the caller would re-join the batch against the fact table
        (O(fact) per batch) or trust the feed's preimages."""
        from pyspark.sql.types import StringType, StructType

        ops = [
            op
            for op in self._ops.get(table, [])
            if op["op"] in ("merge", "delete")
        ]
        if not ops:
            raise ValueError(f"no staged merge/delete for {table!r}")
        # one merge/delete per table per transaction (_check_stageable)
        (op,) = ops
        schema = StructType.fromJson(
            json.loads(_read_manifest(table, op["base"])["schema"])
        ).add("_change_type", StringType())
        paths = [os.path.join(table, e["path"]) for e in op["change_files"]]
        if not paths:
            # every update was a no-op: staging wrote no change file
            return spark.createDataFrame([], schema)
        # read under the schema: change files also carry the null path/pos
        # padding of the merge-on-read staging superset
        return spark.read.schema(schema).parquet(*paths)

    def staged_paths(self, table: str) -> list[str]:
        """Table-relative paths of every file this transaction staged into
        ``table`` (data, deletion vectors and change files) — what vacuum
        must protect until the transaction settles."""
        out: list[str] = []
        for op in self._ops.get(table, []):
            for k in ("files", "new_files", "dv_files", "change_files"):
                out.extend(e["path"] for e in op.get(k, []))
        return out

    # -- resolution -------------------------------------------------------
    def prepare(self) -> dict[str, int]:
        """PREPARE alone: link each table's squatter manifest and write the
        durable plan, WITHOUT the commit point — the transaction is left
        in-doubt (exactly the crash-before-marker state). Readers see
        nothing; vacuum must treat the squatters' files as referenced;
        ``commit()`` finishes it, ``abort()`` / ``force_abort_txn`` frees
        the slots. Idempotent per transaction (a second call returns the
        same plan)."""
        if self._done:
            raise RuntimeError(f"transaction {self.txn_id} already resolved")
        if self._plan is not None:
            return self._plan
        if not self._ops:
            raise RuntimeError("nothing staged")
        tables = sorted(self._ops)
        # version plan: resolve each table past settled squatters first
        plan: dict[str, int] = {}
        for t in tables:
            plan[t] = resolve_table(self.txn_root, t) + 1
        linked: list[str] = []
        try:
            for t in tables:
                prev = _read_manifest(t, plan[t] - 1)
                manifest = self._build_manifest(t, plan, prev)
                mpath = _manifest_path(t, plan[t])
                tmp = mpath + f".tmp-{uuid.uuid4().hex}"
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write(json.dumps(manifest, indent=1))
                try:
                    os.link(tmp, mpath)
                except FileExistsError:
                    raise TxnConflict(
                        f"version {plan[t]} of {t} taken by a concurrent writer"
                    ) from None
                finally:
                    os.remove(tmp)
                linked.append(mpath)
        except TxnConflict:
            # in-doubt and provably uncommitted (no marker): settle as
            # aborted FIRST, then clean our squatters
            _resolve(self.txn_root, self.txn_id, "abort")
            for mp in linked:
                try:
                    os.remove(mp)
                except FileNotFoundError:
                    pass
            self._done = True
            raise
        # durable plan: recover() can finalize from this alone
        _atomic_write(
            os.path.join(self.txn_root, f"{self.txn_id}.json"),
            json.dumps({"tables": plan}, indent=1),
        )
        self._plan = plan
        return plan

    def _build_manifest(self, t: str, plan: dict[str, int], prev: dict) -> dict:
        """The squatter manifest for table ``t`` at its planned version —
        the same shapes versioned._commit writes for append/merge/delete,
        plus the ``txn`` stanza that keeps it invisible until the marker.
        A staged mutation whose base version is no longer the parent raises
        TxnConflict: its tombstone positions describe files the current
        version may no longer hold (the optimistic-concurrency re-check)."""
        import time as _time

        ops = self._ops[t]
        base = {
            "version": plan[t],
            "parent": plan[t] - 1,
            "ts": _time.time(),
            "schema": prev["schema"],
            "txn": {"id": self.txn_id, "tables": plan},
        }
        if ops[0]["op"] == "append":
            new_files = [e for op in ops for e in op["files"]]
            base.update(
                kind="append",
                files=prev["files"] + new_files,
                n_rows=prev["n_rows"] + _count_staged(self._spark, t, new_files),
                appended=[e["path"] for e in new_files],
            )
            if prev.get("dvs"):
                base["dvs"] = prev["dvs"]
            return base
        op = ops[0]
        if op["base"] != plan[t] - 1:
            raise TxnConflict(
                f"table {t}: staged {op['op']} was computed against version "
                f"{op['base']} but the table is now at {plan[t] - 1} — "
                "restage against the new snapshot and retry"
            )
        if op["op"] == "merge":
            base.update(
                kind="merge",
                files=prev["files"] + op["new_files"],
                n_rows=prev["n_rows"] + op["n_new"] - op["n_dead"],
                appended=[],
                changes=[e["path"] for e in op["change_files"]],
            )
        else:  # delete
            base.update(
                kind="delete",
                files=prev["files"],
                n_rows=prev["n_rows"] - op["n_deleted"],
                appended=[],
                changes=[e["path"] for e in op["change_files"]],
            )
        dvs = (prev.get("dvs") or []) + [e["path"] for e in op["dv_files"]]
        if dvs:
            base["dvs"] = dvs
        return base

    def commit(self) -> dict[str, int]:
        plan = self.prepare()
        if _resolve(self.txn_root, self.txn_id, "commit") != "commit":
            # a force-abort beat us to the marker; our squatters are gone
            self._done = True
            raise TxnConflict(f"transaction {self.txn_id} was force-aborted")
        self._done = True
        self._finalize(plan)
        return plan

    def _finalize(self, plan: dict[str, int]) -> None:
        for t, v in plan.items():
            _advance_current(t, v)

    def commit_without_finalize(self) -> dict[str, int]:
        """TEST SEAM: run prepare + commit point, skip finalize — the
        'process died right after the marker' state. Every reader still
        sees consistent pre-transaction snapshots; recover() completes it."""
        finalize, self._finalize = self._finalize, lambda plan: None
        try:
            return self.commit()
        finally:
            self._finalize = finalize

    def abort(self) -> None:
        """Settle as aborted (refused once committed) and unlink squatters."""
        if _resolve(self.txn_root, self.txn_id, "abort") != "abort":
            raise RuntimeError(f"transaction {self.txn_id} already committed")
        slots = self._plan or {
            t: current_version(t) + 1 for t in self._ops
        }
        for t, v in slots.items():
            mp = _manifest_path(t, v)
            if os.path.exists(mp):
                with open(mp, encoding="utf-8") as fh:
                    man = json.load(fh)
                if (man.get("txn") or {}).get("id") == self.txn_id:
                    try:
                        os.remove(mp)
                    except FileNotFoundError:
                        pass
        self._done = True
