"""Manifest-based versioned parquet table: snapshot isolation, time travel,
append, and compaction that never invalidates a published snapshot.

This is the Iceberg/Delta core idea reduced to its load-bearing minimum, on
plain parquet + JSON manifests (public table-format design; no external
table-format dependency). Layout:

    <table>/
      data/part-<uuid>.parquet ...        immutable data files
      _manifests/v000001.json ...         one manifest per snapshot
      _manifests/CURRENT                  atomic pointer (rename-committed)

A snapshot manifest lists the exact data files (plus row count and schema
fingerprint) that make up that version. Readers resolve CURRENT (or an
explicit version) and load ONLY the listed files — a writer crash can leave
orphan data files but never a torn table, because a manifest becomes
visible only via an atomic rename of the CURRENT pointer, and data files are
never mutated or reused across versions.

Scale notes (100 TB): readers list one small JSON instead of a directory
scan over millions of files; appends touch only new files; compaction
rewrites data into fewer files and publishes a NEW snapshot while every
older snapshot stays byte-identical readable (file GC is a separate,
explicitly unsafe-window-free step: only files unreferenced by ANY retained
manifest may be deleted).

The reference ETL (/root/reference) has no storage layer; this extends the
engine's warehouse surface per the north star.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_CURRENT = "CURRENT"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def _atomic_write(target: str, payload: str) -> None:
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
    os.replace(tmp, target)  # atomic on POSIX


def current_version(path: str) -> int:
    """Committed version number, or 0 if the table does not exist yet."""
    cur = os.path.join(path, _MANIFEST_DIR, _CURRENT)
    if not os.path.exists(cur):
        return 0
    with open(cur, encoding="utf-8") as fh:
        return int(fh.read().strip())


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version), encoding="utf-8") as fh:
        return json.load(fh)


def _file_stats(md) -> dict[str, list]:
    """Per-file [min, max] for every primitive column, read from the parquet
    footer metadata ``md`` at commit time. JSON-serializable values only;
    columns whose statistics aren't representable (nested, binary) are
    simply absent — pruning treats absent as unknown (keep the file)."""
    import datetime

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, (datetime.datetime, datetime.date)):
                lo, hi = lo.isoformat(), hi.isoformat()
            if not isinstance(lo, (int, float, str, bool)):
                continue
            name = col.path_in_schema
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {name: [mins[name], maxs[name]] for name in mins}


_BLOOM_FILE = "_bloom_policy.json"


def _load_bloom_policy(path: str) -> dict:
    try:
        with open(os.path.join(path, _BLOOM_FILE), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def set_bloom_policy(
    path: str, cols: list[str], bits: int = 8192, k: int = 5
) -> None:
    """Opt the table into per-file BLOOM FILTERS on ``cols``: every file
    staged from now on carries a ``bits``-bit, ``k``-hash bloom of each
    column's distinct values in its manifest entry, and equality reads
    (``read_snapshot(prune_eq=…)``) drop files whose bloom proves the
    probe value absent — point-lookup skipping for exactly the case
    min/max boxes cannot prune: a high-cardinality key hash-scattered
    across every file, where each file spans the full value range.

    Sizing: with d distinct values per file, false-positive rate ≈
    (1 − e^(−k·d/bits))^k — the 8192/5 default holds ~1 % up to ~1 000
    distincts/file; size bits ≈ 10·d for big files. Existing files are
    untouched (no bloom → conservatively kept); a compaction rewrites
    everything under the policy. Probe values match on their string form
    (str(value)), the same canonicalization used at build time."""
    if bits % 8:
        raise ValueError("bits must be a multiple of 8")
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _BLOOM_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"cols": list(cols), "bits": bits, "k": k}, fh, indent=1)
    os.replace(tmp, os.path.join(path, _BLOOM_FILE))


def _bloom_positions(s: str, bits: int, k: int) -> list[int]:
    """k bit positions via Kirsch–Mitzenmacher double hashing over one md5:
    h_i = h1 + i·h2 — full k-hash quality from a single digest."""
    import hashlib

    d = hashlib.md5(s.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % bits for i in range(k)]


def _file_blooms(pf, policy: dict) -> dict[str, str]:
    """Per-column bloom bitsets for one staged file (an open
    ``pyarrow.parquet.ParquetFile``), base64-packed for the JSON manifest.
    Reads ONLY the policy columns (columnar projection); hashing runs over
    the file's DISTINCT values. At 8192 bits this is 1 KiB per (file,
    column) of manifest weight — the price of skipping a whole file open
    at probe time. (Parquet's own footer bloom option would sit one level
    lower; the manifest-level copy is the piece that prunes BEFORE any
    file I/O, which is what matters at 100 TB.)"""
    import base64

    present = [c for c in policy["cols"] if c in pf.schema_arrow.names]
    if not present:
        return {}
    bits, k = policy["bits"], policy["k"]
    tbl = pf.read(columns=present)
    out = {}
    for c in present:
        words = bytearray(bits // 8)
        vals = set(tbl.column(c).to_pylist())
        vals.discard(None)
        for v in vals:
            for p in _bloom_positions(str(v), bits, k):
                words[p // 8] |= 1 << (p % 8)
        out[c] = base64.b64encode(bytes(words)).decode("ascii")
    return out


def _bloom_maybe_contains(entry: dict, col: str, value: object) -> bool:
    """True unless the entry's bloom PROVES ``value`` absent from ``col``.
    Entries without a bloom for the column are conservatively kept — the
    same superset contract as min/max stats."""
    import base64

    bloom = entry.get("bloom")
    if not bloom or col not in bloom.get("cols", {}):
        return True
    words = base64.b64decode(bloom["cols"][col])
    return all(
        words[p // 8] & (1 << (p % 8))
        for p in _bloom_positions(str(value), bloom["bits"], bloom["k"])
    )


def _staged_entries(path: str, rel_dir: str, policy: dict) -> list[dict]:
    """Manifest entries ``{path, stats, n, bloom?}`` for every parquet file
    in the staging dir ``rel_dir`` (relative to the table root), opening
    each footer once. Footer min/max stats go INTO the manifest so readers
    can prune files without opening any of them; ``n`` is the authoritative
    footer row count, so commits sum these instead of re-scanning the
    staged files (one fewer Spark job per commit); a non-empty bloom
    ``policy`` adds per-file bloom bitsets for equality-probe skipping."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(os.listdir(os.path.join(path, rel_dir))):
        if not name.endswith(".parquet"):
            continue
        rel = os.path.join(rel_dir, name)
        pf = pq.ParquetFile(os.path.join(path, rel))
        entry = {
            "path": rel,
            "stats": _file_stats(pf.metadata),
            "n": pf.metadata.num_rows,
        }
        if policy:
            cols = _file_blooms(pf, policy)
            if cols:
                entry["bloom"] = {
                    "bits": policy["bits"],
                    "k": policy["k"],
                    "cols": cols,
                }
        entries.append(entry)
    return entries


def _stage_data_files(df: DataFrame, path: str) -> list[dict]:
    """Write df into the shared data/ dir under a unique subdir, then return
    its manifest file entries (see _staged_entries; paths relative to the
    table root). Files are immutable once written; the staging subdir keeps
    concurrent writers from colliding."""
    rel_dir = os.path.join("data", f"stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(os.path.join(path, rel_dir))
    return _staged_entries(path, rel_dir, _load_bloom_policy(path))


def _stage_tagged_files(df: DataFrame, path: str) -> dict[str, list[dict]]:
    """Stage SEVERAL file roles in ONE Spark job — the one staging path of
    every merge, delete and MV refresh. ``df`` is the role superset: the
    table columns plus whatever the roles add (``_change_type`` for CDF
    rows, ``path``/``pos`` for merge-on-read deletion vectors) plus a
    ``_kind`` discriminator. The write splits roles into ``_kind=<role>/``
    subdirs of one staging dir (partitionBy), so the (possibly
    table-scale) subtree that produced the rows executes exactly once
    instead of once per role. Returns manifest entries grouped by role.

    A table column whose name equals one the superset adds would surface
    as a repeated column of ``df``; that is refused with a ValueError
    naming it BEFORE anything is written (names compare case-insensitively,
    as Spark's writer does). The on-disk formats — deletion vectors as
    (path, pos), change rows as table columns + _change_type — stay fixed.

    Files of different roles never share bytes. A role's files may carry
    null superset columns belonging to OTHER roles; every reader is
    role-schema'd — data files are read under the manifest schema,
    deletion vectors select (path, pos), CDF readers select table columns
    + _change_type — so the padding columns are pruned at the columnar
    scan and cost nothing. Bloom bitsets are built only for the committed
    data roles ('data' / 'new'); stats land in every entry as usual."""
    seen: dict[str, str] = {}
    for c in df.columns:
        if c.lower() in seen:
            raise ValueError(
                f"column {seen[c.lower()]!r} collides with the {c!r} column "
                "that merge/delete staging adds (_change_type, _kind, and "
                "path/pos on merge-on-read tables); rename it"
            )
        seen[c.lower()] = c
    policy = _load_bloom_policy(path)
    stage = os.path.join("data", f"stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").partitionBy("_kind").parquet(os.path.join(path, stage))
    entries: dict[str, list[dict]] = {}
    for kind_dir in sorted(os.listdir(os.path.join(path, stage))):
        if not kind_dir.startswith("_kind="):
            continue
        kind = kind_dir.split("=", 1)[1]
        entries[kind] = _staged_entries(
            path,
            os.path.join(stage, kind_dir),
            policy if kind in ("data", "new") else {},
        )
    return entries


def _commit(
    path: str,
    files: list[dict],
    n_rows: int,
    schema_ddl: str,
    parent: int,
    txn_id: str | None = None,
    appended: list[dict] | None = None,
    changes: list[dict] | None = None,
    kind: str = "append",
    dvs: list[str] | None = None,
) -> int:
    """``kind`` records HOW this version relates to its parent
    (create | append | replace | merge | delete | compact) so downstream
    incremental consumers (the MV change feed, CDC readers) can refuse
    commits whose delta is not expressible in their algebra — a REPLACE
    lists every file under ``appended``, which would read as a giant
    insert-only delta and silently corrupt a counting-maintained view.

    ``appended`` = the file entries that carry rows NEW in this version
    (everything staged by a write/append; empty for a compaction, whose
    files only rearrange existing rows). Change-feed readers consume
    exactly the appended lists, so rewrites are never re-emitted.
    ``changes`` = dedicated change files (rows + _change_type) for versions
    whose delta is not expressible as pure appends (MERGE) — the Delta-CDF
    shape. Manifests are immutable once visible: everything is staged
    before this commit writes the manifest."""
    import time

    version = parent + 1
    manifest = {
        "version": version,
        "parent": parent,
        "kind": kind,
        # wall-clock commit time: powers TIMESTAMP AS OF resolution
        # (version_at_timestamp). Informational only for ordering — version
        # numbers, not clocks, define the history.
        "ts": time.time(),
        "files": files,
        "n_rows": n_rows,
        "schema": schema_ddl,
        "appended": [e["path"] for e in (files if appended is None else appended)],
    }
    if changes is not None:
        manifest["changes"] = [e["path"] for e in changes]
    if dvs:
        # merge-on-read DELETION VECTORS: table-relative paths of parquet
        # files holding (path, pos) tombstones. A version's live rows are
        # its files MINUS its dvs; rewriting commits (replace/merge/
        # compact/CoW-delete) materialize the subtraction and pass no dvs.
        manifest["dvs"] = list(dvs)
    if txn_id is not None:
        manifest["txn_id"] = txn_id
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    mpath = _manifest_path(path, version)
    # Exclusive-create commit: the manifest for version N may be created by
    # exactly ONE writer. A check-then-write (os.path.exists + os.replace)
    # would let two writers racing from the same parent both "succeed" with
    # one commit silently clobbered; os.link from a private temp file fails
    # with FileExistsError if the target exists (POSIX link(2) is atomic and
    # never overwrites), so the loser gets a clean conflict to retry against
    # the new parent. Object-store deployments use the equivalent
    # conditional-put (If-None-Match).
    tmp = mpath + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(json.dumps(manifest, indent=1))
    try:
        os.link(tmp, mpath)
    except FileExistsError:
        raise RuntimeError(
            f"version {version} already committed (concurrent writer?) at {mpath}"
        ) from None
    finally:
        os.remove(tmp)
    # Advance CURRENT monotonically: with concurrent committers the pointer
    # writes can interleave, so never let a slow writer regress CURRENT below
    # a version someone else already published.
    while True:
        cur = current_version(path)
        if cur >= version:
            break
        _atomic_write(os.path.join(path, _MANIFEST_DIR, _CURRENT), str(version))
        if current_version(path) >= version:
            break
    return version


def write_snapshot(df: DataFrame, path: str) -> int:
    """Create version 1 (or fully replace the logical content with a new
    snapshot): stage data files, commit a manifest listing exactly them."""
    parent = current_version(path)
    files = _stage_data_files(df, path)
    _verify_staged_checks(df.sparkSession, path, files)
    n = _count_staged(df.sparkSession, path, files)
    return _commit(
        path,
        files,
        n,
        df.schema.json(),
        parent,
        kind="create" if parent == 0 else "replace",
    )


def append_snapshot(df: DataFrame, path: str) -> int:
    """Append: new snapshot = parent's files + newly staged files. Only the
    appended rows are written; existing data files are reused by reference."""
    parent = current_version(path)
    if parent == 0:
        return write_snapshot(df, path)
    prev = _read_manifest(path, parent)
    new_files = _stage_data_files(df, path)
    _verify_staged_checks(df.sparkSession, path, new_files)
    n_new = _count_staged(df.sparkSession, path, new_files)
    return _commit(
        path,
        prev["files"] + new_files,
        prev["n_rows"] + n_new,
        prev["schema"],
        parent,
        appended=new_files,
        dvs=prev.get("dvs"),
    )


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_files: int,
    zorder_by: tuple[str, str] | None = None,
    zorder_bits: int = 6,
) -> int:
    """Rewrite the CURRENT snapshot's rows into ``target_files`` data files
    and publish that as a new version. Older snapshots keep referencing the
    original files, which are left in place — time travel across a
    compaction is exact.

    ``zorder_by=(col_a, col_b)`` runs OPTIMIZE-ZORDER-style clustering
    instead of a plain coalesce: both columns are rank-normalized, Morton-
    interleaved (sinks/parquet_layout.zorder_key), range-partitioned and
    sorted, so the rewritten files carry tight min/max boxes in BOTH
    dimensions — and because those boxes land in the manifest stats at
    commit, read_snapshot's manifest-level pruning gets 2-D skipping on the
    compacted table for free."""
    version = current_version(path)
    if version == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    prev = _read_manifest(path, version)
    df = read_snapshot(spark, path, version)
    if zorder_by is not None:
        from .parquet_layout import _rank_bucket, zorder_key

        col_a, col_b = zorder_by
        keyed = df.withColumn(
            "_zkey",
            zorder_key(
                _rank_bucket(df, col_a, zorder_bits),
                _rank_bucket(df, col_b, zorder_bits),
                zorder_bits,
            ),
        )
        df = (
            keyed.repartitionByRange(target_files, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    else:
        df = df.coalesce(target_files)
    files = _stage_data_files(df, path)
    return _commit(
        path, files, prev["n_rows"], prev["schema"], version, appended=[], kind="compact"
    )


def optimize_snapshot(
    spark: SparkSession,
    path: str,
    dead_ratio: float = 0.3,
    small_bytes: int | None = None,
    target_files: int = 1,
) -> int:
    """Targeted OPTIMIZE: rewrite ONLY the files that need it — those whose
    deletion-vector dead fraction is ≥ ``dead_ratio`` (read amplification:
    every scan drags their tombstones through the anti-join) and, when
    ``small_bytes`` is given, groups of ≥2 files under that size (small-file
    bin-packing). Everything else keeps its manifest entry — stats, blooms
    and data bytes untouched — so at 100 TB an optimize pass costs
    O(rewritten files), where compact_snapshot costs O(table).

    Tombstones pointing at rewritten files are dropped (their rows were
    materialized away); the surviving tombstone set is consolidated into
    fresh dv files, or cleared entirely when nothing dead remains. Logical
    content is unchanged — the commit is kind='compact', so change-feed
    consumers and MVs skip it by contract. A pass that selects no victims
    is a NO-OP returning the current version (no empty commit).

    Dead counts come from the dv parquet footers + a driver-side group-by
    over the (small) tombstone set — no table scan is needed to DECIDE;
    only victims are read."""
    version = current_version(path)
    if version == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    prev = _read_manifest(path, version)

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    # driver-side fold: tombstones are O(deleted), tiny next to the table
    from collections import Counter

    counter: Counter = Counter()
    for rel in prev.get("dvs") or []:
        tbl = pq.read_table(os.path.join(path, rel), columns=["path"])
        counter.update(tbl.column("path").to_pylist())
    dead = dict(counter)

    victims: list[str] = []
    for e in prev["files"]:
        if e["n"] > 0 and dead.get(e["path"], 0) / e["n"] >= dead_ratio and dead.get(
            e["path"], 0
        ) > 0:
            victims.append(e["path"])
    if small_bytes is not None:
        small = [
            e["path"]
            for e in prev["files"]
            if e["path"] not in victims
            and os.path.getsize(os.path.join(path, e["path"])) < small_bytes
        ]
        if len(small) >= 2:
            victims.extend(small)
    if not victims:
        return version

    schema = StructType.fromJson(json.loads(prev["schema"]))
    vset = set(victims)
    live_victims = _with_positions(
        spark, path, prev, [os.path.join(path, p) for p in victims], schema
    ).drop("_vt_path", "_vt_pos")
    new_files = _stage_data_files(live_victims.coalesce(target_files), path)

    dvs_out: list[str] | None = None
    if prev.get("dvs"):
        remaining = spark.read.parquet(
            *[os.path.join(path, p) for p in prev["dvs"]]
        ).filter(~F.col("path").isin(victims))
        new_dv_files = _stage_data_files(remaining, path)
        if sum(e["n"] for e in new_dv_files) > 0:
            dvs_out = [e["path"] for e in new_dv_files]

    survivors = [e for e in prev["files"] if e["path"] not in vset]
    return _commit(
        path,
        survivors + new_files,
        prev["n_rows"],
        prev["schema"],
        version,
        appended=[],
        kind="compact",
        dvs=dvs_out,
    )


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
    prune_eq: tuple[str, object] | None = None,
) -> DataFrame:
    """Time-travel read: the file list of ``version`` (default CURRENT),
    loaded directly — no directory listing, so orphaned/staged/compacted-away
    files are invisible by construction.

    ``prune=(col, lo, hi)`` drops manifest entries whose footer [min, max]
    for ``col`` cannot intersect [lo, hi] BEFORE Spark opens a single file —
    manifest-level skipping, the piece that matters at 100 TB where even
    footer reads across millions of files dominate planning. Files without
    stats for the column are conservatively kept. The caller still applies
    the exact row filter; pruning is a superset guarantee.

    ``prune_eq=(col, value)`` is the POINT-LOOKUP twin: it applies the
    min/max box test for value∈[min,max] AND, on tables with a bloom
    policy (``set_bloom_policy``), drops files whose per-file bloom
    proves the value absent — the case range stats cannot help with (a
    hash-scattered key whose every file spans the full range). Same
    superset contract: no bloom / no stats → kept."""
    v = current_version(path) if version is None else version
    manifest = _read_manifest(path, v)
    entries = manifest["files"]
    if prune is not None:
        col, lo, hi = prune
        entries = [
            e
            for e in entries
            if col not in e.get("stats", {})
            or not (e["stats"][col][1] < lo or e["stats"][col][0] > hi)
        ]
    if prune_eq is not None:
        col, val = prune_eq
        entries = [
            e
            for e in entries
            if (
                col not in e.get("stats", {})
                or (e["stats"][col][0] <= val <= e["stats"][col][1])
            )
            and _bloom_maybe_contains(e, col, val)
        ]
    if not entries:
        import json as _json

        from pyspark.sql.types import StructType

        schema = StructType.fromJson(_json.loads(manifest["schema"]))
        return spark.createDataFrame([], schema)
    paths = [os.path.join(path, e["path"]) for e in entries]
    # Read under the MANIFEST's schema, not footer inference: files written
    # before a schema evolution lack the newer columns (null-backfilled
    # here), and skipping inference avoids a footer-sampling pass entirely.
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if manifest.get("dvs"):
        return _with_positions(spark, path, manifest, paths, schema).drop(
            "_vt_path", "_vt_pos"
        )
    return spark.read.schema(schema).parquet(*paths)


def _with_positions(spark, path, manifest, paths, schema):
    """The snapshot's LIVE rows with (file, position) identity columns
    ``_vt_path`` (table-relative) / ``_vt_pos``, deletion vectors applied.

    Spark-idiomatic merge-on-read: positions come from the parquet scan's
    ``_metadata.row_index`` pseudo-column (no extra shuffle, no window),
    and the tombstones apply as ONE broadcast left-anti join — O(live rows)
    scan + O(deleted rows) broadcast, never a table rewrite. The relative
    path is recovered with substring_index on '/data/': staging dirs are
    ``stage-<hex>`` so the LAST '/data/' in any file URI is always the
    table's data root, even if the table path itself contains '/data/'."""
    from pyspark.sql import functions as F

    reserved = {"_vt_path", "_vt_pos"} & {f.name for f in schema.fields}
    if reserved:
        raise ValueError(
            f"columns {sorted(reserved)} are reserved for deletion-vector "
            "row identity on merge-on-read tables; rename them"
        )
    df = spark.read.schema(schema).parquet(*paths).select(
        "*",
        F.concat(
            F.lit("data/"),
            F.substring_index(F.col("_metadata.file_path"), "/data/", -1),
        ).alias("_vt_path"),
        F.col("_metadata.row_index").alias("_vt_pos"),
    )
    dvs = manifest.get("dvs") or []
    if dvs:
        dv = spark.read.parquet(
            *[os.path.join(path, p) for p in dvs]
        ).select(
            F.col("path").alias("_vt_path"), F.col("pos").alias("_vt_pos")
        )
        # No forced broadcast: Catalyst/AQE broadcasts the tombstone side
        # when it is small (the common case) and degrades to a shuffled
        # anti-join when a table has accumulated huge vectors — forcing
        # the hint OOMs small drivers exactly when deletes are biggest
        # (caught by the sf1 study).
        df = df.join(dv, ["_vt_path", "_vt_pos"], "left_anti")
    return df


def pruned_file_count(
    path: str, prune: tuple[str, object, object], version: int | None = None
) -> tuple[int, int]:
    """(files_scanned, files_total) for a prune predicate — observability for
    the skipping contract without touching Spark."""
    v = current_version(path) if version is None else version
    entries = _read_manifest(path, v)["files"]
    col, lo, hi = prune
    kept = [
        e
        for e in entries
        if col not in e.get("stats", {})
        or not (e["stats"][col][1] < lo or e["stats"][col][0] > hi)
    ]
    return len(kept), len(entries)


def bloom_pruned_file_count(
    path: str, col: str, value: object, version: int | None = None
) -> tuple[int, int]:
    """(files_scanned, files_total) for an equality probe under the bloom +
    min/max skip path — the observability twin of pruned_file_count."""
    v = current_version(path) if version is None else version
    entries = _read_manifest(path, v)["files"]
    kept = [
        e
        for e in entries
        if (
            col not in e.get("stats", {})
            or (e["stats"][col][0] <= value <= e["stats"][col][1])
        )
        and _bloom_maybe_contains(e, col, value)
    ]
    return len(kept), len(entries)


def clone_snapshot(src: str, dst: str, version: int | None = None) -> int:
    """Zero-copy CLONE: publish ``src``'s snapshot (default CURRENT) as
    version 1 of a NEW table at ``dst`` without copying a byte of data —
    every referenced data, change and tombstone file is HARDLINKED under
    the same table-relative path, then a fresh manifest commits at dst.

    Hardlinks are the local-filesystem equivalent of Delta/Iceberg shallow
    clones' manifest references, with strictly better invariants: each
    table root stays fully self-contained (clone reads never reach into
    the source's directory), the two histories diverge freely from the
    shared bytes (appends, MoR deletes, compactions on either side are
    invisible to the other), and vacuum on either side unlinks only its
    own names — the shared storage is freed when the LAST referencing
    table releases it, with no cross-table bookkeeping. An object-store
    deployment would swap the link for a manifest-level reference and
    inherit the usual cross-table vacuum caveat.

    Stats, blooms, deletion vectors AND CHECK constraints ride along
    unchanged (constraints are table SEMANTICS — a clone that silently
    dropped them would accept writes the source refuses); the bloom
    POLICY file is not copied — a layout tuning choice, not content."""
    if current_version(dst) != 0:
        raise RuntimeError(f"clone target {dst} already has committed versions")
    v = current_version(src) if version is None else version
    m = _read_manifest(src, v)
    src_checks = _load_checks(src)
    if src_checks:
        _save_checks(dst, src_checks)
    rels = [e["path"] for e in m["files"]] + list(m.get("dvs") or [])
    for rel in rels:
        s, d = os.path.join(src, rel), os.path.join(dst, rel)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        os.link(s, d)
    return _commit(
        dst,
        m["files"],
        m["n_rows"],
        m["schema"],
        0,
        kind="create",
        dvs=m.get("dvs"),
    )


def restore_snapshot(path: str, to_version: int) -> int:
    """RESTORE: publish a NEW version whose content is exactly
    ``to_version``'s — rollback as a forward commit, never history
    rewriting (the bad intermediate versions stay time-travelable for the
    post-mortem; Delta RESTORE has the same shape). Zero data movement:
    the new manifest re-references the old version's files and tombstones.

    The commit kind is 'replace': a restore's delta against its parent is
    not expressible as appends, so incremental consumers (MV refresh, CDC
    readers) refuse it loudly and direct the caller to rebuild — silently
    folding a restore as inserts would double-count everything it kept.

    Caveat (matches Delta RESTORE): CHECK constraints added AFTER
    ``to_version`` are not re-validated against the restored content —
    validation is a commit-time gate on staged rows, and a restore stages
    nothing. Run add_check_constraint again to re-validate the table."""
    cur = current_version(path)
    if cur == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    m = _read_manifest(path, to_version)  # raises if vacuumed/never existed
    return _commit(
        path,
        m["files"],
        m["n_rows"],
        m["schema"],
        cur,
        appended=[],
        kind="replace",
        dvs=m.get("dvs"),
    )


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: newest-first [{version, kind, ts, n_rows,
    n_files, txn_id}] for every retained version — the operational
    audit surface (what happened, when, how big) without opening a single
    data file. Vacuumed versions are absent by construction."""
    out = []
    v = current_version(path)
    while v > 0:
        try:
            m = _read_manifest(path, v)
        except FileNotFoundError:
            break
        out.append(
            {
                "version": m["version"],
                "kind": m.get("kind", "append"),
                "ts": m.get("ts"),
                "n_rows": m["n_rows"],
                "n_files": len(m["files"]),
                "txn_id": m.get("txn_id"),
            }
        )
        v = m.get("parent", v - 1)
    return out


def metadata_table(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """Queryable METADATA TABLES (Iceberg's ``table$history`` /
    ``table$files`` parity): ``kind='history'`` returns one row per
    retained version (version, kind, ts, n_rows, n_files, txn_id);
    ``kind='files'`` returns one row per CURRENT data file (path, n_rows,
    has_bloom, plus per-column min/max as a map) — the operational
    questions ("what happened", "where are the bytes", "how tight are the
    stats") as plain DataFrames, answered from manifests alone without
    opening a single data file."""
    if kind == "history":
        rows = [
            (
                h["version"],
                h["kind"],
                float(h["ts"]) if h["ts"] is not None else None,
                h["n_rows"],
                h["n_files"],
                h["txn_id"],
            )
            for h in table_history(path)
        ]
        return spark.createDataFrame(
            rows,
            "version INT, kind STRING, ts DOUBLE, n_rows LONG, "
            "n_files INT, txn_id STRING",
        )
    if kind == "files":
        m = _read_manifest(path, current_version(path))
        rows = [
            (
                e["path"],
                e.get("n"),
                "bloom" in e,
                {c: [str(v[0]), str(v[1])] for c, v in e.get("stats", {}).items()},
            )
            for e in m["files"]
        ]
        return spark.createDataFrame(
            rows,
            "path STRING, n_rows LONG, has_bloom BOOLEAN, "
            "stats MAP<STRING, ARRAY<STRING>>",
        )
    raise ValueError(f"unknown metadata table {kind!r}: use 'history' or 'files'")


def version_at_timestamp(path: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the newest retained version whose commit
    time is <= ``ts`` (Delta's timestamp time travel contract). A timestamp
    older than every retained commit is refused loudly — silently returning
    the oldest version would misrepresent vacuumed history. Manifests from
    before commit timestamps were recorded count as arbitrarily old."""
    newest = current_version(path)
    if newest == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    best = None
    v = newest
    while v > 0:
        try:
            m = _read_manifest(path, v)
        except FileNotFoundError:
            break  # older versions vacuumed
        if m.get("ts", float("-inf")) <= ts:
            best = m["version"]
            break
        v = m.get("parent", v - 1)
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates every retained commit at {path} "
            "(older versions may have been vacuumed)"
        )
    return best


def snapshot_info(path: str, version: int | None = None) -> dict:
    v = current_version(path) if version is None else version
    return _read_manifest(path, v)


#: Default grace interval before an UNREFERENCED data file may be reclaimed.
#: This is the Delta-style age guard: a writer stages files into
#: ``data/stage-<uuid>/`` BEFORE its manifest becomes visible, so a vacuum
#: racing the stage->commit window would otherwise unlink files that a
#: manifest committed moments later references. Any file younger than the
#: grace interval is left alone regardless of reference state; operators
#: may pass ``grace_seconds=0`` only on a table they know is quiescent —
#: and must say so explicitly via ``allow_unsafe_grace=True``.
DEFAULT_VACUUM_GRACE = 24 * 3600.0

#: Below this the age guard cannot protect a mid-stage writer (stage+link
#: takes real seconds); vacuum refuses unless the caller asserts quiescence.
MIN_SAFE_VACUUM_GRACE = 1.0


def _manifest_referenced_paths(m: dict) -> set[str]:
    """Every table-relative data path a manifest makes readable: its live
    file list, its CDF change files (MERGE/DELETE deltas readChangeFeed
    consumers resolve by path), its appended list (subset of files for
    appends; included for safety) and its deletion-vector tombstones
    (losing one would RESURRECT deleted rows)."""
    refs = {e["path"] for e in m["files"]}
    refs.update(m.get("changes", []))
    refs.update(m.get("appended", []))
    refs.update(m.get("dvs", []))
    return refs


def vacuum(
    path: str,
    retain_versions: int = 2,
    grace_seconds: float = DEFAULT_VACUUM_GRACE,
    allow_unsafe_grace: bool = False,
) -> list[str]:
    """Delete data files unreferenced by every retained manifest (the newest
    ``retain_versions`` snapshots). Returns deleted table-relative paths.

    Two guards make this safe against CONCURRENT writers — the same
    never-destroy-what-an-in-flight-commit-needs discipline as the
    reference's ack-after-send (synchronous-pull.js:88-92):

    1. **Squatter manifests count as referenced.** A prepared multi-table
       transaction (sinks/transactions.py) links a manifest at
       CURRENT+1 without advancing CURRENT; a single-table writer that
       crashed between manifest-link and pointer-write leaves the same
       shape. Those manifests' file lists are part of a commit that may
       yet finalize, so every manifest ABOVE the current pointer is
       scanned and its paths retained. (An aborted transaction's squatter
       is unlinked by abort()/recover(); its staged files then age out of
       the grace window and a later vacuum reclaims them.)
    2. **Age gate.** A file younger than ``grace_seconds`` is never
       deleted even when no manifest references it — it may belong to a
       writer still inside its stage→manifest-link window, which no
       manifest scan can see. Deleting only old-AND-unreferenced files
       means a reader of any retained version, a prepared transaction,
       and a mid-stage writer can never lose files.

    ``grace_seconds`` below MIN_SAFE_VACUUM_GRACE disables guard 2 in
    practice — a writer inside its stage→manifest-link window at that
    instant loses files — so it requires ``allow_unsafe_grace=True``: the
    caller asserts the table is QUIESCENT (no concurrent writers), making
    the precondition visible at every call site instead of buried here."""
    import time as _time

    if grace_seconds < MIN_SAFE_VACUUM_GRACE and not allow_unsafe_grace:
        raise ValueError(
            f"vacuum(grace_seconds={grace_seconds}) can delete a concurrent "
            "writer's mid-stage files; pass allow_unsafe_grace=True only if "
            f"the table is quiescent, or use >= {MIN_SAFE_VACUUM_GRACE}s"
        )

    newest = current_version(path)
    if newest == 0:
        return []
    keep_versions = range(max(1, newest - retain_versions + 1), newest + 1)
    referenced: set[str] = set()
    for v in keep_versions:
        referenced.update(_manifest_referenced_paths(_read_manifest(path, v)))
    # squatter / unfinalized manifests above CURRENT: prepared transactions
    # and crashed-before-pointer commits. Their files may become readable
    # the moment a commit marker lands, so they are referenced, not garbage.
    v = newest + 1
    while os.path.exists(_manifest_path(path, v)):
        referenced.update(_manifest_referenced_paths(_read_manifest(path, v)))
        v += 1
    cutoff = _time.time() - grace_seconds
    deleted = []
    data_root = os.path.join(path, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        for name in files:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, path)
            if (
                name.endswith(".parquet")
                and rel not in referenced
                and os.path.getmtime(full) <= cutoff
            ):
                os.remove(full)
                deleted.append(rel)
    # drop manifests older than the retained window so time travel contracts
    # honestly report what is still readable
    for v in range(1, keep_versions.start):
        mp = _manifest_path(path, v)
        if os.path.exists(mp):
            os.remove(mp)
    return deleted


def _count_staged(spark: SparkSession, path: str, files: list[dict]) -> int:
    """Row count of a freshly staged file set, summed from the footer counts
    captured at staging time (no Spark job)."""
    return sum(e["n"] for e in files)


def read_appended(
    spark: SparkSession, path: str, since_version: int, to_version: int | None = None
) -> DataFrame:
    """Incremental (CDC-read): rows added after ``since_version`` up to
    ``to_version`` (default CURRENT), read ONLY from each version's
    ``appended`` file list — IO proportional to the appended data, never a
    table diff. A compaction inside the window contributes nothing (its
    ``appended`` list is empty) and does NOT break the feed, because data
    files are immutable and appended files stay on disk until vacuum.
    Raises only if a needed appended file was vacuumed away (the consumer
    lagged past the retention window — the same contract as any changelog
    retention)."""
    v_to = current_version(path) if to_version is None else to_version
    appended_paths: list[str] = []
    try:
        new = _read_manifest(path, v_to)
        for v in range(since_version + 1, v_to + 1):
            appended_paths.extend(_read_manifest(path, v)["appended"])
    except FileNotFoundError as exc:
        raise ValueError(
            f"a manifest in {since_version}..{v_to} was vacuumed — consumer "
            "lagged past the retention window"
        ) from exc
    missing = [p for p in appended_paths if not os.path.exists(os.path.join(path, p))]
    if missing:
        raise ValueError(
            f"versions {since_version}..{v_to}: {len(missing)} appended files "
            "were vacuumed — consumer lagged past the retention window"
        )
    if not appended_paths:
        import json as _json

        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(_json.loads(new["schema"])))
    return spark.read.parquet(*[os.path.join(path, p) for p in appended_paths])


def append_snapshot_idempotent(df: DataFrame, path: str, txn_id: str) -> int:
    """Exactly-once append: a transaction id (e.g. a Structured Streaming
    batchId under one query id) is recorded in the committed manifest; a
    replay of the same txn_id is a NO-OP returning the current version. This
    is the standard idempotent-sink contract that upgrades foreachBatch's
    at-least-once redelivery to exactly-once table contents — the engine-side
    analogue of the reference's insert_id dedup at the sink
    (utils.js:74, Amplitude-side idempotence), applied to a table commit.
    """
    version = current_version(path)
    seen: set[str] = set()
    v = version
    while v > 0:
        try:
            m = _read_manifest(path, v)
        except FileNotFoundError:
            break  # older manifests vacuumed away; their txns are ancient
        t = m.get("txn_id")
        if t is not None:
            seen.add(t)
        v = m.get("parent", 0)
    if txn_id in seen:
        return version
    if version == 0:
        files = _stage_data_files(df, path)
        _verify_staged_checks(df.sparkSession, path, files)
        n = _count_staged(df.sparkSession, path, files)
        return _commit(path, files, n, df.schema.json(), 0, txn_id=txn_id, kind="create")
    prev = _read_manifest(path, version)
    new_files = _stage_data_files(df, path)
    _verify_staged_checks(df.sparkSession, path, new_files)
    n_new = _count_staged(df.sparkSession, path, new_files)
    return _commit(
        path,
        prev["files"] + new_files,
        prev["n_rows"] + n_new,
        prev["schema"],
        version,
        txn_id=txn_id,
        appended=new_files,
        dvs=prev.get("dvs"),
    )


def streaming_txn_tag(batch_df: DataFrame, checkpoint: str) -> str:
    """Query-scoped prefix for (query, batchId) txn ids. The REAL query id
    lives in a SparkContext local property (``sql.streaming.queryId``), not a
    SQL conf — ``conf.get("spark.sql.streaming.queryId")`` always hits its
    fallback, so naively-tagged txns from two different queries (or a reset
    checkpoint) writing to one table would collide on batchId and silently
    drop batches. Prefer the local property when the foreachBatch callback
    thread sees it; otherwise fall back to a hash of (checkpoint location,
    per-checkpoint nonce) — unique per query (Spark requires distinct
    checkpoint locations), stable across restarts of the same query, and
    FRESH after a checkpoint reset, the three properties the txn guard
    needs."""
    import hashlib

    qid = batch_df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId"
    )
    if qid:
        return qid
    if not checkpoint:
        raise ValueError(
            "streaming_txn_tag: no queryId local property and no checkpoint "
            "location — cannot derive a stable query-scoped txn id"
        )
    # Mix a per-checkpoint-instantiation nonce into the tag: the path alone
    # is NOT collision-free — deleting and recreating the checkpoint at the
    # same path restarts batchIds at 0 while a path-only tag stays identical,
    # so replayed (tag, batchId) pairs would match old manifests and new
    # batches would be silently dropped as "already committed". The nonce
    # file is created inside the checkpoint dir on first use (exclusive
    # create, so concurrent batches agree on one value) and dies with the
    # checkpoint: a reset checkpoint gets a fresh txn namespace, a restart
    # of the same query keeps the old one.
    import uuid as _uuid

    ckpt = os.path.abspath(checkpoint)
    nonce_path = os.path.join(ckpt, ".versioned_txn_nonce")
    if not os.path.exists(nonce_path):
        os.makedirs(ckpt, exist_ok=True)
        try:
            with open(nonce_path, "x", encoding="utf-8") as fh:
                fh.write(_uuid.uuid4().hex)
        except FileExistsError:
            pass  # a concurrent batch won the create; read its value below
    with open(nonce_path, encoding="utf-8") as fh:
        nonce = fh.read().strip()
    return "ckpt-" + hashlib.sha256(f"{ckpt}:{nonce}".encode("utf-8")).hexdigest()[:16]


def versioned_stream_writer(stream_df: DataFrame, path: str, checkpoint: str):
    """writeStream -> versioned table with exactly-once appends: each
    micro-batch commits one snapshot tagged (queryId, batchId), so a batch
    replayed after a crash-before-checkpoint is recognized and skipped.
    Returns the started StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        qid = streaming_txn_tag(batch_df, checkpoint)
        append_snapshot_idempotent(batch_df, path, f"{qid}-{batch_id}")

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def merge_snapshot(
    spark: SparkSession, path: str, updates: DataFrame, key_cols: list[str]
) -> int:
    """MERGE (upsert) into the versioned table: rows in ``updates`` replace
    current rows with the same key, new keys are inserted; commits ONE new
    version whose data files are a full rewrite of the logical content.

    Change-data-feed contract: a merge version's ``appended`` list is EMPTY
    (the plain append feed must not re-deliver rewritten rows), and the
    actually-changed rows (with a ``_change_type`` column: 'insert' |
    'update_postimage') are written to dedicated change files recorded under
    ``changes`` — exactly Delta's CDF shape. Readers that ask for the change
    feed get inserts + update post-images; readers of the append-only feed
    skip merge versions entirely.

    Scale: the join is key-partitioned (updates vs current), and the change
    files are proportional to the UPDATE SIZE, not the table; the full
    rewrite of data files is the simple-correct baseline (a production
    implementation rewrites only affected files via the manifest's min/max,
    which read_snapshot's pruning already enables)."""
    version = current_version(path)
    if version == 0:
        v = write_snapshot(updates, path)
        return v
    prev = _read_manifest(path, version)
    cur = read_snapshot(spark, path, version)
    cols = cur.columns
    if sorted(updates.columns) != sorted(cols):
        raise ValueError(f"updates schema {updates.columns} != table schema {cols}")

    from pyspark.sql import functions as F

    val_cols = [x for x in cols if x not in key_cols]

    # presence flags via a marker column carried through the outer join.
    # CDF coherence with the merged table: the committed row state is
    # coalesce(u.x, c.x) (a NULL in an update keeps the old value), so the
    # change feed must emit the SAME merged values as update_postimage and
    # judge "changed" by the merged value vs the old one — never the update's
    # raw (possibly NULL) fields, which could disagree with the table.
    # The data-file rewrite and both CDF roles all derive from this ONE
    # join expression. Persisting it (MEMORY_AND_DISK) was measured and
    # REJECTED (round 9, sf0.1 A/B): the updates side broadcasts, so each
    # re-execution is a columnar scan + broadcast probe, while the cache
    # materializes the full O(table) marker-annotated rows through the block
    # manager — q_mv_incremental 3.3→13.3 s, q_cdf_read 2.4→6.2 s,
    # q_mv_star 5.0→11.7 s WITH the persist. Instead every join row explodes
    # into its file ROLES (data rewrite / CDF post / CDF pre) and one
    # _kind-partitioned write stages all of them — the join runs exactly
    # once per merge at any scale, with no cache.
    c2 = cur.withColumn("_c_present", F.lit(1)).alias("c")
    u2 = updates.select(*cols).withColumn("_u_present", F.lit(1)).alias("u")
    j2 = c2.join(u2, key_cols, "full_outer")
    merged_val = {
        x: F.coalesce(F.col(f"u.{x}"), F.col(f"c.{x}")) for x in val_cols
    }
    changed_pred = F.lit(False)
    for x in val_cols:
        changed_pred = changed_pred | ~merged_val[x].eqNullSafe(F.col(f"c.{x}"))
    u_present = F.col("_u_present").isNotNull()
    matched = u_present & F.col("_c_present").isNotNull()

    # post-image change type: insert for new keys, update_postimage for
    # genuinely changed rows, null (no CDF row) for no-op updates and
    # current-only rows. Delta-parity pre-images: for every genuinely
    # updated key, the OLD row values under _change_type='update_preimage',
    # so consumers that maintain downstream state incrementally subtract
    # the pre-image and add the post-image — without them, SUM/COUNT
    # maintenance under updates would need a time-travel join against the
    # parent snapshot (O(table), not O(changes)).
    post_ct = (
        F.when(u_present & F.col("_c_present").isNull(), F.lit("insert"))
        .when(matched & changed_pred, F.lit("update_postimage"))
    )

    def _role(kind: str, vals: dict, ct):
        # key columns resolve to the join's merged key
        return F.struct(
            *[vals.get(x, F.col(x)).alias(x) for x in cols],
            ct.cast("string").alias("_change_type"),
            F.lit(kind).alias("_kind"),
        )

    pre_val = {x: F.col(f"c.{x}") for x in val_cols}
    roles = F.array(
        _role("data", merged_val, F.lit(None)),
        F.when(post_ct.isNotNull(), _role("cdf", merged_val, post_ct)),
        F.when(
            matched & changed_pred,
            _role("cdf", pre_val, F.lit("update_preimage")),
        ),
    )
    tagged = j2.select(F.explode(F.array_compact(roles)).alias("_r")).select("_r.*")
    staged = _stage_tagged_files(tagged, path)
    data_files = staged.get("data", [])
    change_files = staged.get("cdf", [])
    # constraints: only rows NEW in this version can introduce a violation
    # (pre-existing rows passed when first written) — validate the
    # insert/update_postimage change rows, O(changes) not O(table)
    _verify_staged_checks(
        spark, path, change_files, where="_change_type != 'update_preimage'"
    )
    n = _count_staged(spark, path, data_files)
    return _commit(
        path,
        data_files,
        n,
        prev["schema"],
        version,
        appended=[],
        changes=change_files,
        kind="merge",
    )


def _stage_dv_and_deletes(
    matches: DataFrame, schema, path: str
) -> tuple[list[dict], list[dict]]:
    """Stage a merge-on-read delete's two roles in ONE write: each row of
    ``matches`` (live rows carrying _vt_path/_vt_pos identity) becomes a
    (path, pos) tombstone and a CDF 'delete' pre-image. Both roles derive
    from the same (table-scale) positioned scan, which one write runs once.
    Returns (dv_files, change_files)."""
    from pyspark.sql import functions as F

    nil = F.lit(None)
    roles = F.array(
        F.struct(
            *[nil.cast(f.dataType).alias(f.name) for f in schema.fields],
            nil.cast("string").alias("_change_type"),
            F.col("_vt_path").cast("string").alias("path"),
            F.col("_vt_pos").cast("long").alias("pos"),
            F.lit("dv").alias("_kind"),
        ),
        F.struct(
            *[F.col(f.name).alias(f.name) for f in schema.fields],
            F.lit("delete").cast("string").alias("_change_type"),
            nil.cast("string").alias("path"),
            nil.cast("long").alias("pos"),
            F.lit("cdf").alias("_kind"),
        ),
    )
    tagged = matches.select(F.explode(roles).alias("_r")).select("_r.*")
    staged = _stage_tagged_files(tagged, path)
    return staged.get("dv", []), staged.get("cdf", [])


def delete_keys_mor(
    spark: SparkSession, path: str, keys: DataFrame, key_cols: list[str]
) -> int:
    """Key-set DELETE with merge-on-read mechanics — the right-to-erasure
    shape ("remove these user ids everywhere"): rows whose key appears in
    ``keys`` are tombstoned via deletion vectors, O(deleted) writes against
    a table of any size. The join is a left-semi against the key set
    (broadcast when small — the common case for erasure requests; AQE
    degrades to shuffle for huge lists), positions come from the scan's
    own row_index, and the CDF carries the deleted rows as pre-images so
    downstream MVs retract exactly.

    Note physical bytes persist until every referencing snapshot ages out
    and vacuum runs (same contract as any versioned store — Delta/Iceberg
    erasure runbooks pair the logical delete with a retention-bounded
    vacuum, and so does this one)."""
    version = current_version(path)
    if version == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    prev = _read_manifest(path, version)

    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    missing = [k for k in key_cols if k not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"key columns {missing} not in table schema")
    paths = [os.path.join(path, e["path"]) for e in prev["files"]]
    live = _with_positions(spark, path, prev, paths, schema)
    matches = live.join(keys.select(*key_cols).distinct(), key_cols, "left_semi")
    dv_files, change_files = _stage_dv_and_deletes(matches, schema, path)
    n_deleted = sum(e["n"] for e in dv_files)
    return _commit(
        path,
        prev["files"],
        prev["n_rows"] - n_deleted,
        prev["schema"],
        version,
        appended=[],
        changes=change_files,
        kind="delete",
        dvs=(prev.get("dvs") or []) + [e["path"] for e in dv_files],
    )


def merge_snapshot_mor(
    spark: SparkSession, path: str, updates: DataFrame, key_cols: list[str]
) -> int:
    """MERGE (upsert) with merge-on-read mechanics: rows replaced by the
    update are TOMBSTONED via deletion vectors and the merged values are
    APPENDED as new data files — the commit writes O(changes), never the
    O(table) rewrite merge_snapshot performs. At 100 TB an upsert of a
    thousand keys costs one key-join scan plus kilobytes of writes.

    Semantics are byte-identical to merge_snapshot (differential-tested):
    coalesce(update, current) per value column, keys whose merged values
    equal the current row are complete no-ops (no tombstone, no new row,
    no change row), and the CDF carries the same insert /
    update_preimage / update_postimage rows, so change-feed consumers and
    MV maintenance cannot tell which merge flavor ran. The append-only
    feed skips merge versions either way (``appended`` stays empty; the
    new files enter ``files`` only)."""
    version = current_version(path)
    if version == 0:
        return write_snapshot(updates, path)
    prev = _read_manifest(path, version)
    st = _stage_merge_mor(spark, path, updates, key_cols, prev)
    return _commit(
        path,
        prev["files"] + st["new_files"],
        prev["n_rows"] + st["n_new"] - st["n_dead"],
        prev["schema"],
        version,
        appended=[],
        changes=st["change_files"],
        kind="merge",
        dvs=(prev.get("dvs") or []) + [e["path"] for e in st["dv_files"]],
    )


def _stage_merge_mor(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    prev: dict,
) -> dict:
    """Stage (but do NOT commit) a merge-on-read upsert against the ``prev``
    manifest: writes the new-row files, deletion-vector tombstones and CDF
    change files into data/stage-*/ and returns their entries + row deltas.
    The caller owns the commit — merge_snapshot_mor commits immediately;
    MultiTableTxn.stage_merge defers it to an atomic cross-table prepare.
    The staged positions are only valid against ``prev``'s file set, so a
    deferred commit must verify the parent version is still ``prev`` (the
    optimistic-concurrency check transactions.prepare performs)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    cols = [f.name for f in schema.fields]
    if sorted(updates.columns) != sorted(cols):
        raise ValueError(f"updates schema {updates.columns} != table schema {cols}")

    paths = [os.path.join(path, e["path"]) for e in prev["files"]]
    cur = _with_positions(spark, path, prev, paths, schema)
    c2 = cur.withColumn("_c_present", F.lit(1)).alias("c")
    u2 = updates.select(*cols).alias("u")
    # LEFT outer FROM the updates — not the CoW merge's full outer: MoR
    # never rebuilds unmatched current rows, so the join output is
    # O(updates). The positioned table side carries a sort-merge hint: it
    # is by definition the table-sized side, and parquet size ESTIMATES
    # near the broadcast threshold let the planner try to build it on the
    # driver — which OOM'd a 1 GiB driver at sf1. SMJ is spill-safe at any
    # scale; the updates side stays free for AQE to broadcast when small.
    # Round-10 negative result: gating the hint on the manifest's EXACT
    # row count (skip it for provably tiny tables, letting AQE broadcast
    # the positioned side) measured slightly SLOWER under interleaved A/B
    # (q_stream_txn_merge min 9.43 vs 8.75 s, q_versioned_txn_merge 3.64
    # vs 3.34) — building a broadcast of the positioned scan costs about
    # what the small sort costs, so the unconditional hint stays.
    j2 = u2.join(c2.hint("merge"), key_cols, "left_outer")
    val_cols = [x for x in cols if x not in key_cols]
    merged_val = {x: F.coalesce(F.col(f"u.{x}"), F.col(f"c.{x}")) for x in val_cols}
    changed_pred = F.lit(False)
    for x in val_cols:
        changed_pred = changed_pred | ~merged_val[x].eqNullSafe(F.col(f"c.{x}"))

    # New-row files, deletion vectors and CDF change files all derive from
    # this ONE join, so staging each of the three directly would RE-EXECUTE
    # the O(table) positioned scan + join per write — three table passes per
    # merge. A block-manager persist of the join output was measured and
    # REJECTED (interleaved same-session A/B at sf0.1: q_stream_txn_merge
    # median 27.9 s persisted vs 17.6 s unpersisted — when the CDC batch is
    # comparable to the table, funneling every joined row through the block
    # manager costs more than the scans it saves). Instead each effective
    # row (insert | value-changed — matched-unchanged rows are complete
    # no-ops and never leave the join) EXPLODES into its file roles (new
    # row / tombstone / CDF post / CDF pre) and one _kind-partitioned write
    # stages all of them — one table pass AND one write job per merge at
    # any scale.
    matched = F.col("_c_present").isNotNull()
    eff = j2.filter(F.col("_c_present").isNull() | changed_pred)
    types = {f.name: f.dataType for f in schema.fields}
    null_val = {x: F.lit(None).cast(types[x]) for x in val_cols}
    pre_val = {x: F.col(f"c.{x}") for x in val_cols}

    def _role(kind, vals, ct, pth, pos):
        return F.struct(
            *[vals[x].alias(x) for x in val_cols],
            ct.cast("string").alias("_change_type"),
            pth.cast("string").alias("path"),
            pos.cast("long").alias("pos"),
            F.lit(kind).alias("_kind"),
        )

    nil = F.lit(None)
    roles = F.array(
        _role("new", merged_val, nil, nil, nil),
        F.when(
            matched,
            _role("dv", null_val, nil, F.col("c._vt_path"), F.col("c._vt_pos")),
        ),
        _role(
            "cdf",
            merged_val,
            F.when(matched, F.lit("update_postimage")).otherwise(F.lit("insert")),
            nil,
            nil,
        ),
        F.when(matched, _role("cdf", pre_val, F.lit("update_preimage"), nil, nil)),
    )
    tagged = eff.select(
        *key_cols, F.explode(F.array_compact(roles)).alias("_r")
    ).select(*key_cols, "_r.*")
    staged = _stage_tagged_files(tagged, path)
    new_files = staged.get("new", [])
    dv_files = staged.get("dv", [])
    change_files = staged.get("cdf", [])
    _verify_staged_checks(
        spark, path, change_files, where="_change_type != 'update_preimage'"
    )
    return {
        "new_files": new_files,
        "dv_files": dv_files,
        "change_files": change_files,
        "n_new": sum(e["n"] for e in new_files),
        "n_dead": sum(e["n"] for e in dv_files),
    }


def delete_snapshot(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE FROM the versioned table: publishes one new version whose data
    files hold the surviving rows; deleted rows are recorded as change files
    with _change_type='delete' (pre-images), completing the CRUD + CDF
    surface (insert/update via merge_snapshot, delete here). Time travel to
    any pre-delete version still returns the deleted rows — deletion is a
    logical event in the version history, never a data-file mutation; the
    rows physically disappear only when vacuum retires every manifest that
    references their files."""
    version = current_version(path)
    if version == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    prev = _read_manifest(path, version)
    cur = read_snapshot(spark, path, version)

    from pyspark.sql import functions as F

    # One table pass: each row routes to its role (survivor data file or
    # CDF delete pre-image) and one _kind-partitioned write stages both.
    # NULL-predicate rows are neither deleted nor kept, matching the
    # historical semantics where filter(NOT pred) and filter(pred) BOTH
    # dropped them.
    pred = F.expr(predicate)
    tagged = cur.filter(pred.isNotNull()).select(
        "*",
        F.when(pred, F.lit("delete")).alias("_change_type"),
        F.when(pred, F.lit("cdf")).otherwise(F.lit("data")).alias("_kind"),
    )
    staged = _stage_tagged_files(tagged, path)
    data_files = staged.get("data", [])
    change_files = staged.get("cdf", [])
    n = _count_staged(spark, path, data_files)
    return _commit(
        path,
        data_files,
        n,
        prev["schema"],
        version,
        appended=[],
        changes=change_files,
        kind="delete",
    )


def delete_snapshot_mor(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE with merge-on-read DELETION VECTORS: instead of rewriting the
    surviving rows (delete_snapshot's copy-on-write — O(table) writes for
    any delete), the matching rows' (file, row-position) pairs are written
    as small tombstone files and the commit reuses the parent's data files
    unchanged — O(deleted) writes. Readers subtract the tombstones with one
    broadcast anti-join on the scan's own ``_metadata.row_index``, so at
    100 TB a 10-row delete costs a scan plus kilobytes of writes, not a
    100 TB rewrite. Delta deletion vectors / Iceberg positional deletes are
    the same contract.

    Everything else matches delete_snapshot exactly: CDF delete pre-images
    under ``changes`` (so MV maintenance and change-feed readers are
    indifferent to WHICH delete ran), time travel to pre-delete versions
    returns the rows, vacuum keeps tombstones referenced by retained
    manifests, and any rewriting commit (merge / compact / replace)
    materializes the subtraction and clears the vectors. Repeated MoR
    deletes accumulate vectors; positions are original file positions, so
    vectors from different versions never conflict (a dead row is invisible
    to later predicates by construction — tombstones apply before the
    filter)."""
    version = current_version(path)
    if version == 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    prev = _read_manifest(path, version)
    st = _stage_delete_mor(spark, path, predicate, prev)
    return _commit(
        path,
        prev["files"],
        prev["n_rows"] - st["n_deleted"],
        prev["schema"],
        version,
        appended=[],
        changes=st["change_files"],
        kind="delete",
        dvs=(prev.get("dvs") or []) + [e["path"] for e in st["dv_files"]],
    )


def _stage_delete_mor(
    spark: SparkSession, path: str, predicate: str, prev: dict
) -> dict:
    """Stage (but do NOT commit) a merge-on-read delete against the ``prev``
    manifest: tombstone files + CDF delete pre-images, entries returned for
    the caller's commit. Positions bind to ``prev``'s file set — a deferred
    commit (MultiTableTxn.stage_delete) must verify the parent is still
    ``prev``."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    paths = [os.path.join(path, e["path"]) for e in prev["files"]]
    live = _with_positions(spark, path, prev, paths, schema)
    dv_files, change_files = _stage_dv_and_deletes(
        live.filter(predicate), schema, path
    )
    return {
        "dv_files": dv_files,
        "change_files": change_files,
        # footer counts, no extra job
        "n_deleted": sum(e["n"] for e in dv_files),
    }


def append_snapshot_evolve(df: DataFrame, path: str) -> int:
    """Append with SCHEMA EVOLUTION (mergeSchema semantics): the incoming
    frame may carry columns the table has never seen (they become nullable
    table columns; old files backfill null) and may omit existing columns
    (filled null in the new files). Removing or retyping a column is
    refused — widening-only evolution, the lakehouse-safe subset. The
    committed manifest records the UNIONED schema, so every reader —
    snapshot, change feed, stream — agrees on one shape per version."""
    parent = current_version(path)
    if parent == 0:
        return write_snapshot(df, path)
    prev = _read_manifest(path, parent)

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    old_schema = StructType.fromJson(json.loads(prev["schema"]))
    old_names = {f.name: f for f in old_schema.fields}
    for f in df.schema.fields:
        if f.name in old_names and f.dataType != old_names[f.name].dataType:
            raise ValueError(
                f"column {f.name!r}: type change "
                f"{old_names[f.name].dataType} -> {f.dataType} is not "
                "widening-only evolution"
            )
    new_only = [f for f in df.schema.fields if f.name not in old_names]
    unioned = StructType(
        old_schema.fields + [StructField(f.name, f.dataType, True) for f in new_only]
    )
    aligned = df.select(
        *[
            F.col(f.name) if f.name in df.columns else F.lit(None).cast(f.dataType).alias(f.name)
            for f in unioned.fields
        ]
    )
    new_files = _stage_data_files(aligned, path)
    n_new = _count_staged(df.sparkSession, path, new_files)
    return _commit(
        path,
        prev["files"] + new_files,
        prev["n_rows"] + n_new,
        unioned.json(),
        parent,
        appended=new_files,
        dvs=prev.get("dvs"),
    )


# --- commit-time CHECK constraints ----------------------------------------

_CHECKS_FILE = "_checks.json"


def _load_checks(path: str) -> dict[str, str]:
    try:
        with open(os.path.join(path, _CHECKS_FILE), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _save_checks(path: str, checks: dict[str, str]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _CHECKS_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(checks, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, _CHECKS_FILE))


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> None:
    """Register a Delta-style CHECK constraint (a SQL boolean expression
    over the table's columns). The table's CURRENT content is validated at
    registration — like ``ALTER TABLE ADD CONSTRAINT`` — and every
    subsequent write/append/merge validates its STAGED rows before the
    manifest commit, so a violating batch never becomes visible (its
    orphaned staged files are invisible by construction and vacuum cleans
    them). SQL semantics: a row violates only when the expression is
    FALSE — NULL (unknown) passes, matching the standard and Delta.

    Cost at scale: appends validate only the appended files; merges
    validate only insert/update_postimage change rows (pre-existing rows
    already passed when first written) — O(changes), never O(table).
    Deletes and compactions cannot introduce violations and skip the
    check entirely."""
    checks = _load_checks(path)
    if name in checks:
        raise ValueError(f"constraint {name!r} already exists on {path}")
    if current_version(path) > 0:
        from pyspark.sql import functions as F

        bad = (
            read_snapshot(spark, path)
            .filter(F.expr(expr) == False)  # noqa: E712 — IS FALSE (NULL passes)
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"cannot add constraint {name!r} ({expr!r}) to {path}: "
                "existing rows violate it"
            )
    checks[name] = expr
    _save_checks(path, checks)


def drop_check_constraint(path: str, name: str) -> None:
    checks = _load_checks(path)
    if name not in checks:
        raise ValueError(f"no constraint {name!r} on {path}")
    del checks[name]
    _save_checks(path, checks)


def _verify_staged_checks(
    spark: SparkSession, path: str, files: list[dict], where: str | None = None
) -> None:
    """Validate staged rows against the table's CHECK constraints in ONE
    aggregate scan; raise (leaving the staged files uncommitted and
    invisible) listing per-constraint violation counts."""
    checks = _load_checks(path)
    if not checks or not files:
        return
    from pyspark.sql import functions as F

    df = spark.read.parquet(*[os.path.join(path, e["path"]) for e in files])
    if where is not None:
        df = df.filter(where)
    row = df.agg(
        *[
            F.count(F.when(F.expr(e) == False, 1)).alias(n)  # noqa: E712
            for n, e in checks.items()
        ]
    ).collect()[0]
    viol = {n: row[n] for n in checks if row[n]}
    if viol:
        detail = ", ".join(
            f"{n} ({checks[n]!r}): {c} rows" for n, c in sorted(viol.items())
        )
        raise ValueError(
            f"CHECK constraint violation on write to {path}: {detail} — "
            "nothing was committed"
        )


def read_change_feed(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Delta ``table_changes`` parity: every change row for versions in
    ``(since_version, to_version]`` with a ``_change_type`` column —
    appends synthesize ``insert`` rows from their appended files,
    merge/delete versions emit their dedicated CDF files
    (insert / update_preimage / update_postimage / delete), compactions
    contribute nothing, and a REPLACE in the window refuses loudly (its
    delta is not expressible as change rows). IO is proportional to the
    window's change data, never a table diff — the same O(changes)
    contract the incremental views consume; this is the user-facing
    reader for CDC consumers."""
    from .materialized_view import _change_feed

    if to_version is None:
        to_version = current_version(path)
    cols = [
        f.name
        for f in read_snapshot(spark, path, to_version).schema.fields
    ]
    out = _change_feed(spark, path, since_version, to_version, cols)
    if out is None:  # only compactions (or an empty window)
        import json as _json

        from pyspark.sql.types import StringType, StructType

        schema = StructType.fromJson(
            _json.loads(_read_manifest(path, to_version)["schema"])
        ).add("_change_type", StringType())
        return spark.createDataFrame([], schema)
    return out
