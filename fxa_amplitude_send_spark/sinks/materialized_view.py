"""Incrementally maintained materialized views over versioned tables.

A materialized view here is a grouped aggregate — ``GROUP BY keys`` with
``COUNT(*)`` and ``SUM(col)`` measures, optionally MIN/MAX and KMV
distinct sketches — over a CHAIN of versioned tables (sinks/versioned.py)
``T0 ⋈ T1 ⋈ … ⋈ Tn``, kept in sync by consuming their change feeds instead
of recomputing from scratch. ``T0`` is the base (the fact); each dim ``Ti``
joins on columns already in scope — provided by the base or an EARLIER
dim — which admits a single table (no dims), star shapes (every dim keyed
off the fact) and snowflake shapes (dims keyed off other dims). This is
the classic *counting algorithm* for incremental view maintenance (Gupta &
Mumick, "Maintenance of Materialized Views"), which is what a 100 TB
lakehouse needs: a refresh costs O(changed rows since last refresh), never
O(base table).

Change-row algebra: each CDF row carries a sign —

    insert / update_postimage  →  +1
    delete / update_preimage   →  −1

so the per-group delta is ``SUM(sign)`` for the count and ``SUM(sign·x)``
for each sum measure. Applying the delta to the stored view is a key-equi
full-outer merge; groups whose maintained count reaches 0 are dropped
(they have no supporting base rows left). AVG is derived (sum/count) by
readers.

Joins: inner join is bilinear over signed multisets, so with
Ti_new = Ti_old + ΔTi the change of the chain telescopes into one term per
table that moved:

    Δ(T0 ⋈ … ⋈ Tn) = Σ_i  T0_old ⋈ … ⋈ T(i−1)_old
                           ⋈ ΔTi ⋈
                           T(i+1)_new ⋈ … ⋈ Tn_new

Tables BEFORE the delta are read at their last-synced versions (rows they
gained this window are claimed by their own terms), tables AFTER it at
their new versions: every cross term ΔTi ⋈ ΔTj with i<j lives exactly once
inside Tj_new's material content, so the expansion is exact for N:M joins
and for same-window changes on any subset of tables. With one dim it is
``ΔF ⋈ D_new + F_old ⋈ ΔD`` (two terms, not three); with no dims the one
term is simply the change feed. Dim UPDATEs work because the CDF carries
the preimage (−1, old attributes) and postimage (+1, new attributes) — the
naive "re-join the fact delta only" maintenance silently serves stale dim
attributes.

Cost posture: fact-only movement (the common star-schema case) costs
O(ΔF ⋈ dims) — its only term is ΔF ⋈ dims_new, no table precedes the fact,
so the fact table itself is NEVER read, and AQE broadcasts the
typically-small dims at runtime; a single-table view reads only its change
feed. When dim i moved, the tables before it are scanned once,
column-pruned to join keys + view columns, against the typically-tiny ΔTi
(if several dims move in one window the old fact projection is scanned
once per moved dim — deliberate: caching it would materialize an O(fact)
intermediate, worse at scale than a second pruned columnar scan). Every
view column must exist on exactly one table (validated at create time);
each table contributes only its own join columns, the join columns of
later dims it is the earliest provider of, and the view columns it owns
(``selected`` in ``_mv_meta.json``).

MIN/MAX (``mins=`` / ``maxs=``) use the standard recompute-on-retraction
upgrade: inserts maintain them for free (new_min = least(stored, batch
min)), but a retraction that TOUCHES the current extreme (retracted min <=
stored min, or retracted max >= stored max) cannot be folded — the new
extreme lives only in the base tables. Exactly those DANGER groups are
re-aggregated from the CURRENT chain via a semi join (columns pruned to
join keys + view columns), so the refresh aggregates O(change rows) + O(rows
of groups whose extreme was retracted), and a refresh without danger groups
never reads the base. (With danger groups the pruned snapshots are still
scanned once before the semi join.)
Asking for min/max through the legacy ``aggs=`` switch still raises,
pointing at the explicit parameters, because the caller must opt into the
retraction cost consciously.

DISTINCT-COUNT measures (``distincts=``) are stored as KMV theta sketches
(``nd_<col>``: the k smallest distinct 52-bit portable hashes, sorted) —
the warehouse pattern of keeping mergeable sketches inside the cube.
Inserts fold exactly (KMV merge property); a retraction that could touch a
sketch member falls into the same danger-group recompute as MIN/MAX.
Because the hash is engine-portable (md5 hex fold, q_theta_sketch's
trick), a sketch-valued view is verifiable HASH-EXACT against a DuckDB
oracle, and ``kmv_estimate`` turns a sketch into the distinct-count
estimate (exact below k).

The view itself is stored as a versioned table, so MV readers get the same
snapshot isolation / time travel as base-table readers, and every refresh is
an atomic commit. Refreshes commit ``kind='merge'`` with REAL change files
(insert / update pre+postimage / delete per changed group, staged with the
view's data by ``_stage_mv_refresh`` — O(changed groups)), which makes a
maintained view itself a change-feed SOURCE: another view (as its base or
as a dim) can chain off it, and base movement propagates down the chain
with every hop O(changes). See test_mv_chain_mv_over_mv and
test_join_mv_dim_is_itself_a_maintained_mv. ``_mv_meta.json`` (inside the
MV directory, next to the manifests) records the definition and, per
table, the last version folded in — refresh is idempotent: re-running with
no new versions is a no-op.

Durability contract with vacuum: refresh reads CHANGE data only in
(last_synced, current] of each table, so older versions can be vacuumed
away without breaking refresh — asserted by
test_mv_refresh_is_o_changes_survives_base_vacuum. The one exception is a
view with dims: term i time-travels tables j<i to their last-synced
versions, so vacuum retention on every table must cover its synced version
while any LATER table has unfolded changes. A table whose window held only
compactions is read at its current version instead (identical content).

Race discipline: a refresh pins the MV version it folds ON TOP OF and
commits exactly that version + 1, so of two refreshers racing over the
same window exactly one wins the O_EXCL manifest create; the loser
discards its staged fold and never retries against the new parent (that
would fold the same window twice — double-counted sums).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.versioned_stream import _replace_refusal
from .versioned import (
    _commit,
    _count_staged,
    _read_manifest,
    _stage_tagged_files,
    current_version,
    read_snapshot,
    write_snapshot,
)

_META = "_mv_meta.json"

def _sign():
    """Sign each change type contributes to the counting algorithm (built
    lazily: Column construction needs an active SparkContext)."""
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def _meta_path(mv_path: str) -> str:
    return os.path.join(mv_path, _META)


def _view_cols(sums, mins, maxs, distincts) -> list[str]:
    """The source columns a view aggregates: sums first, then every other
    extreme/sketch column once."""
    return sums + [c for c in sorted({*mins, *maxs, *distincts}) if c not in sums]


def _load_meta(mv_path: str) -> dict:
    """The view's definition in the one chain shape (``paths``, ``ons``,
    ``selected``, ``versions_synced``, ``mv_version`` plus the measures).
    This is the one place that reads the two older on-disk shapes — a
    single-table view (``base_path``/``base_version_synced``) and
    ``kind: join_mv`` (``fact_path``/``dim_path``/``on``/``side``/
    ``*_version_synced``) — so views written by them keep refreshing."""
    with open(_meta_path(mv_path), encoding="utf-8") as fh:
        meta = {"mins": [], "maxs": [], "distincts": [], "kmv_k": 128,
                **json.load(fh)}
    meta.pop("kind", None)
    if "fact_path" in meta:
        on = meta.pop("on")
        meta["paths"] = [meta.pop("fact_path"), meta.pop("dim_path")]
        meta["ons"] = [[], on]
        meta["selected"] = [
            on + [c for c, s in meta["side"].items() if s == which]
            for which in ("fact", "dim")
        ]
        meta["versions_synced"] = [
            meta.pop("fact_version_synced"), meta.pop("dim_version_synced")
        ]
    elif "base_path" in meta:
        meta["paths"] = [meta.pop("base_path")]
        meta["ons"] = [[]]
        view_cols = _view_cols(
            meta["sums"], meta["mins"], meta["maxs"], meta["distincts"]
        )
        meta["selected"] = [list(dict.fromkeys(meta["keys"] + view_cols))]
        meta["versions_synced"] = [meta.pop("base_version_synced")]
    meta.pop("side", None)
    return meta


def _save_meta(mv_path: str, meta: dict) -> None:
    os.makedirs(mv_path, exist_ok=True)
    tmp = _meta_path(mv_path) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    os.replace(tmp, _meta_path(mv_path))


def _aggregate(
    df: DataFrame,
    keys: list[str],
    sums: list[str],
    mins: list[str] = (),
    maxs: list[str] = (),
) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("mv_count"),
        *[F.sum(c).alias(f"sum_{c}") for c in sums],
        *[F.min(c).alias(f"min_{c}") for c in mins],
        *[F.max(c).alias(f"max_{c}") for c in maxs],
    )


_KMV_SPACE = 4503599627370496  # 2^52 — the portable hash's value space


def _kmv_hash(c: str):
    """52-bit engine-portable hash (first 13 hex chars of md5 of the string
    form): Spark's conv(base16) and DuckDB's hex-digit fold reproduce it
    bit-identically, so a sketch-valued measure stays ORACLE-EXACT — the
    same trick q_theta_sketch (plans/stats.py) pins under the driver gate.
    NULL hashes to NULL and drops out, matching COUNT(DISTINCT col)."""
    return F.conv(
        F.substring(F.md5(F.col(c).cast("string")), 1, 13), 16, 10
    ).cast("long")


def _kmv_sketch(df: DataFrame, keys: list[str], col: str, k: int, alias: str):
    """Per-group KMV sketch: the k SMALLEST distinct portable hashes of
    ``col``, ascending. Built bounded-memory in three shuffles — distinct
    (keys, hash) → row_number ≤ k → collect_list of ≤ k — never a
    collect_set of a group's full distinct set, so a 100 TB group with
    billions of distincts still costs O(k) memory per task. Groups whose
    values are all NULL vanish here; callers coalesce to an empty array."""
    from pyspark.sql import Window

    h = (
        df.select(*keys, _kmv_hash(col).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy("_h")
    return (
        h.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_h")).alias(alias))
    )


def _empty_sketch():
    return F.array().cast("array<long>")


def kmv_estimate(col, k: int):
    """Distinct-count estimate from a stored KMV sketch column: EXACT
    (= the sketch's size) while the group has fewer than k distinct values,
    else the classic (k-1)·2^52 / kth-smallest-hash estimator (Beyer et
    al. 2007). Rounded to 4dp so the division of exact integers on the
    2^52 grid compares hash-stable across engines."""
    col = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.when(F.size(col) < k, F.size(col).cast("double")).otherwise(
            F.lit(float(k - 1))
            * F.lit(float(_KMV_SPACE))
            / F.element_at(col, k).cast("double")
        ),
        4,
    )


def _plan_columns(
    colsets: list[set[str]],
    paths: list[str],
    ons: list[list[str]],
    keys: list[str],
    view_cols: list[str],
) -> list[list[str]]:
    """Validate the join chain and assign every view column a single owner.

    Returns ``selected``: ``selected[i]`` is the column-pruned projection
    table i contributes to every chain build — its own join columns, the
    join columns of later dims it is the EARLIEST provider of, and the view
    columns it owns. Raises on missing, ambiguous, or out-of-scope
    columns."""
    # each dim's join columns must be in scope before it joins
    in_scope = set(colsets[0])
    for i in range(1, len(paths)):
        for c in ons[i]:
            if c not in colsets[i]:
                raise ValueError(
                    f"join column {c!r} missing on table {i} ({paths[i]})"
                )
            if c not in in_scope:
                raise ValueError(
                    f"join column {c!r} of table {i} is provided by neither "
                    "the fact nor an earlier dim — order dims so every join "
                    "key is already in scope when its dim joins"
                )
        in_scope |= colsets[i]
    all_on = {c for on in ons[1:] for c in on}
    side: dict[str, int] = {}
    for c in dict.fromkeys(keys + view_cols):  # ordered, deduped
        if c in all_on:
            raise ValueError(
                f"column {c!r} is a join column; expose it for grouping "
                "under a different name on the owning table"
            )
        owners = [i for i, cs in enumerate(colsets) if c in cs]
        if len(owners) > 1:
            raise ValueError(
                f"column {c!r} exists on tables {owners} — ambiguous"
            )
        if not owners:
            raise ValueError(f"column {c!r} exists on no table")
        side[c] = owners[0]

    def provider(c: str) -> int:
        return min(i for i, cs in enumerate(colsets) if c in cs)

    selected: list[list[str]] = []
    for i in range(len(paths)):
        cols = list(ons[i])  # the dim's own join keys ([] for the fact)
        for j in range(i + 1, len(paths)):
            cols += [c for c in ons[j] if provider(c) == i]
        cols += [c for c, s in side.items() if s == i]
        selected.append(list(dict.fromkeys(cols)))
    return selected


def _chain(frames: list[DataFrame], ons: list[list[str]]) -> DataFrame:
    acc = frames[0]
    for df, on in zip(frames[1:], ons[1:]):
        acc = acc.join(df, on)
    return acc


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def create_mv(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    keys: list[str],
    sums: list[str],
    aggs: list[str] | None = None,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    distincts: list[str] | None = None,
    kmv_k: int = 128,
    dims: list[dict] | None = None,
) -> int:
    """Materialize ``SELECT keys, COUNT(*), SUM(sums...), MIN(mins...),
    MAX(maxs...) FROM base JOIN dim1 USING (…) JOIN dim2 USING (…) …
    GROUP BY keys`` over every table's CURRENT version. ``dims`` is an
    ordered list of ``{"path": str, "on": [join cols]}`` (none: a
    single-table view). Returns the MV's committed version.
    ``mins``/``maxs`` opt into recompute-on-retraction maintenance (see
    module docstring).

    ``distincts`` adds SKETCH-VALUED measures: per group, an ``nd_<col>``
    column holding a KMV theta sketch (the ``kmv_k`` smallest distinct
    portable hashes, sorted ascending — the Druid/warehouse pattern of
    storing mergeable distinct-count sketches inside the cube). Inserts
    fold in for free (k smallest of the union of two k-smallest sets IS
    the union's k smallest); a retraction whose hash could live inside the
    stored sketch triggers the same danger-group recompute as MIN/MAX.
    Readers turn the sketch into an estimate with ``kmv_estimate`` —
    exact below k distincts — and roll sketches UP across groups
    losslessly (mv_rewrite.answer_aggregate accepts ``distincts``)."""
    if aggs:
        bad = [a for a in aggs if a.lower() not in ("count", "sum")]
        if bad:
            raise ValueError(
                f"aggregates {bad} are not self-maintainable under deletes "
                "(min/max retraction needs the base table); use the explicit "
                "mins=/maxs= parameters to opt into recompute-on-retraction"
            )
    dims = list(dims or [])
    paths = [base_path] + [d["path"] for d in dims]
    ons: list[list[str]] = [[]] + [list(d["on"]) for d in dims]
    mins, maxs = list(mins or []), list(maxs or [])
    distincts = list(distincts or [])
    versions = [current_version(p) for p in paths]
    for p, v in zip(paths, versions):
        if v == 0:
            raise FileNotFoundError(f"no committed snapshot at {p}")
    snaps = [read_snapshot(spark, p, v) for p, v in zip(paths, versions)]
    selected = _plan_columns(
        [set(s.columns) for s in snaps], paths, ons, keys,
        _view_cols(sums, mins, maxs, distincts),
    )
    joined = _chain([s.select(*c) for s, c in zip(snaps, selected)], ons)
    view = _aggregate(joined, keys, sums, mins, maxs)
    for c in distincts:
        sk = _kmv_sketch(joined, keys, c, kmv_k, f"nd_{c}")
        view = view.join(sk, keys, "left").withColumn(
            f"nd_{c}", F.coalesce(F.col(f"nd_{c}"), _empty_sketch())
        )
    v = write_snapshot(view, mv_path)
    _save_meta(
        mv_path,
        {
            "paths": [os.path.abspath(p) for p in paths],
            "ons": ons,
            "keys": keys,
            "sums": sums,
            "mins": mins,
            "maxs": maxs,
            "distincts": distincts,
            "kmv_k": kmv_k,
            "selected": selected,
            "versions_synced": versions,
            "mv_version": v,
        },
    )
    return v


def _change_feed(
    spark: SparkSession, base_path: str, lo: int, hi: int, columns: list[str]
) -> DataFrame | None:
    """All change rows for base versions in (lo, hi], with _change_type.

    Append commits list their files under ``appended`` (plain inserts —
    _change_type synthesized); merge/delete commits list dedicated change
    files under ``changes`` (the column is physical). Compactions contribute
    nothing. REPLACE commits (write_snapshot over an existing base) are
    refused: a replace lists ALL its files under ``appended``, so folding it
    would add the whole replacement without retracting prior content —
    the delta of a full replace is simply not expressible as change rows,
    the view must be rebuilt. Reads only files belonging to versions in the
    window — the O(changes) property."""
    inserts: list[str] = []
    physical: list[str] = []
    for v in range(lo + 1, hi + 1):
        try:
            m = _read_manifest(base_path, v)
        except FileNotFoundError:
            raise RuntimeError(
                f"base {base_path}: version {v} was vacuumed past the MV's "
                f"unsynced window ({lo}, {hi}] — retention must cover every "
                "version since the last refresh; rebuild with create_mv()"
            ) from None
        if m.get("kind") == "replace":
            raise _replace_refusal(base_path, v)
        inserts += [os.path.join(base_path, rel) for rel in m.get("appended", [])]
        physical += [os.path.join(base_path, rel) for rel in m.get("changes", [])]
    parts = []
    if inserts:
        parts.append(
            spark.read.parquet(*inserts)
            .select(*columns)
            .withColumn("_change_type", F.lit("insert"))
        )
    if physical:
        parts.append(spark.read.parquet(*physical).select(*columns, "_change_type"))
    return _union(parts) if parts else None


def _stage_mv_refresh(
    full: DataFrame, keys: list[str], measures: list[str], mv_path: str
) -> tuple[list[dict], list[dict]]:
    """ONE staging write for a refreshed view AND its own change feed: each
    merged row of the annotated ``full`` frame (mv_count, the ``_in_cur``/
    ``_in_delta`` presence markers and ``_pre_*`` prior values) explodes
    into its file roles: an alive group is a data row; a new group is an
    insert, a group whose measures moved an update pre/postimage pair, an
    emptied group (count reached 0) a delete. Same CDF shape as
    merge_snapshot, O(changed groups) change rows — this is what makes a
    maintained view itself consumable by ANOTHER maintained view. The merge
    join executes once and staging is a single write job. Returns
    (data_files, change_files)."""
    alive = F.col("mv_count") > 0
    in_cur, in_delta = F.col("_in_cur"), F.col("_in_delta")
    moved = F.lit(False)
    for m in measures:
        moved = moved | ~F.col(m).eqNullSafe(F.col(f"_pre_{m}"))
    post = {m: F.col(m) for m in measures}
    pre = {m: F.col(f"_pre_{m}") for m in measures}

    def _role(kind, vals, ct):
        return F.struct(
            *[vals[m].alias(m) for m in measures],
            ct.cast("string").alias("_change_type"),
            F.lit(kind).alias("_kind"),
        )

    nil = F.lit(None)
    upd = in_delta & in_cur & alive & moved
    roles = F.array(
        F.when(alive, _role("data", post, nil)),
        F.when(in_delta & ~in_cur & alive, _role("cdf", post, F.lit("insert"))),
        F.when(upd, _role("cdf", pre, F.lit("update_preimage"))),
        F.when(upd, _role("cdf", post, F.lit("update_postimage"))),
        F.when(in_cur & ~alive, _role("cdf", pre, F.lit("delete"))),
    )
    tagged = full.select(
        *keys, F.explode(F.array_compact(roles)).alias("_r")
    ).select(*keys, "_r.*")
    staged = _stage_tagged_files(tagged, mv_path)
    return staged.get("data", []), staged.get("cdf", [])


def refresh_mv(spark: SparkSession, mv_path: str) -> int:
    """Fold every version committed on ANY table of the view since the last
    refresh into the view in one atomic commit — one telescoping term per
    table that moved, each O(that table's changes ⋈ pruned others); a
    single-table view reads only its change feed. Returns the MV version
    (unchanged if nothing moved)."""
    meta = _load_meta(mv_path)
    # crash coherence: the meta records which MV version its
    # versions_synced belong to. A crash between a refresh's snapshot
    # commit and its meta write leaves them out of step; folding the same
    # change window again would silently double-count, so refuse and ask for
    # a rebuild instead.
    if meta.get("mv_version") is not None and meta["mv_version"] != current_version(
        mv_path
    ):
        raise RuntimeError(
            f"mv at {mv_path}: meta records mv_version {meta['mv_version']} but "
            f"CURRENT is {current_version(mv_path)} — a prior refresh crashed "
            "between commit and meta write; rebuild with create_mv()"
        )
    paths, ons, selected = meta["paths"], meta["ons"], meta["selected"]
    keys, sums = meta["keys"], meta["sums"]
    mins, maxs, distincts = meta["mins"], meta["maxs"], meta["distincts"]
    kmv_k = meta["kmv_k"]
    view_cols = _view_cols(sums, mins, maxs, distincts)
    los = meta["versions_synced"]
    his = [current_version(p) for p in paths]
    if all(hi <= lo for lo, hi in zip(los, his)):
        return current_version(mv_path)

    feeds = [
        _change_feed(spark, p, lo, hi, selected[i]) if hi > lo else None
        for i, (p, lo, hi) in enumerate(zip(paths, los, his))
    ]
    if all(f is None for f in feeds):  # only compactions happened
        meta["versions_synced"] = his
        _save_meta(mv_path, meta)
        return current_version(mv_path)
    # A table whose window held only compactions has identical content at
    # los[j] and his[j] — advance its cursor so the old-prefix snapshot
    # reads below target the CURRENT files (the pre-compaction version may
    # have been vacuumed; its content is provably equal either way).
    los = [hi if f is None else lo for f, lo, hi in zip(feeds, los, his)]

    parts: list[DataFrame] = []
    for i, feed in enumerate(feeds):
        if feed is None:
            continue
        # term i: tables before the delta at their LAST-SYNCED versions,
        # tables after it at their NEW versions (see module doc)
        frames = [
            feed.withColumn("s", _sign()).drop("_change_type")
            if j == i
            else read_snapshot(spark, p, los[j] if j < i else his[j]).select(
                *selected[j]
            )
            for j, p in enumerate(paths)
        ]
        parts.append(
            _chain(frames, ons).select(*dict.fromkeys(keys + view_cols), "s")
        )
    signed = _union(parts)
    if distincts:
        # the signed rows feed BOTH the delta aggregate and the per-column
        # insert sketches — materialize them once
        signed = signed.localCheckpoint(eager=True)
    ins, ret = F.col("s") == 1, F.col("s") == -1
    delta = signed.groupBy(*keys).agg(
        F.sum("s").cast("long").alias("d_count"),
        *[F.sum(F.col("s") * F.col(c)).alias(f"d_sum_{c}") for c in sums],
        # inserted-rows extremes fold in for free; retracted-rows extremes
        # only DETECT whether the stored extreme might be gone
        *[F.min(F.when(ins, F.col(c))).alias(f"d_insmin_{c}") for c in mins],
        *[F.min(F.when(ret, F.col(c))).alias(f"d_retmin_{c}") for c in mins],
        *[F.max(F.when(ins, F.col(c))).alias(f"d_insmax_{c}") for c in maxs],
        *[F.max(F.when(ret, F.col(c))).alias(f"d_retmax_{c}") for c in maxs],
        # retracted-rows smallest HASH per sketch column: detects whether a
        # retraction could live inside the stored KMV sketch
        *[
            F.min(F.when(ret, _kmv_hash(c))).alias(f"d_retminh_{c}")
            for c in distincts
        ],
    )
    # inserted-rows sketches: the k smallest distinct hashes among the
    # window's inserts, merged below (k-smallest of a union of k-smallest
    # sets IS the union's k-smallest — the KMV merge property)
    for c in distincts:
        delta = delta.join(
            _kmv_sketch(signed.filter(ins), keys, c, kmv_k, f"d_inssk_{c}"),
            keys,
            "left",
        )

    # Pin the MV version this refresh folds ON TOP OF (race discipline,
    # module doc): the commit below targets exactly cur_mv_version + 1.
    cur_mv_version = current_version(mv_path)
    cur = read_snapshot(spark, mv_path, cur_mv_version)
    # danger = a retraction touched the stored extreme: the true new extreme
    # is not derivable from view + delta, only from the base (per group)
    danger_pred = F.lit(False)
    for c in mins:
        danger_pred = danger_pred | (
            F.col(f"d.d_retmin_{c}") <= F.col(f"m.min_{c}")
        )
    for c in maxs:
        danger_pred = danger_pred | (
            F.col(f"d.d_retmax_{c}") >= F.col(f"m.max_{c}")
        )
    for c in distincts:
        # a retraction is harmless only when the stored sketch is FULL
        # (size == k, so it is a k-smallest summary, not the complete set)
        # AND every retracted hash lies above its threshold — then the
        # sketch never contained it. Anything else could remove a sketch
        # member whose other supporting rows we can't see: danger.
        nd = F.col(f"m.nd_{c}")
        safe = (F.size(nd) >= kmv_k) & (
            F.col(f"d.d_retminh_{c}") > F.try_element_at(nd, F.lit(kmv_k))
        )
        danger_pred = danger_pred | (
            F.col(f"d.d_retminh_{c}").isNotNull() & ~F.coalesce(safe, F.lit(False))
        )
    measures = (
        ["mv_count"]
        + [f"sum_{c}" for c in sums]
        + [f"min_{c}" for c in mins]
        + [f"max_{c}" for c in maxs]
        + [f"nd_{c}" for c in distincts]
    )
    full = (
        cur.alias("m")
        .join(delta.alias("d"), keys, "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col("m.mv_count"), F.lit(0))
                + F.coalesce(F.col("d.d_count"), F.lit(0))
            ).alias("mv_count"),
            *[
                (
                    F.coalesce(F.col(f"m.sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"d.d_sum_{c}"), F.lit(0))
                ).alias(f"sum_{c}")
                for c in sums
            ],
            # least/greatest skip nulls, so insert-only groups, stored-only
            # groups, and mixed groups all resolve without branching
            *[
                F.least(F.col(f"m.min_{c}"), F.col(f"d.d_insmin_{c}")).alias(
                    f"min_{c}"
                )
                for c in mins
            ],
            *[
                F.greatest(F.col(f"m.max_{c}"), F.col(f"d.d_insmax_{c}")).alias(
                    f"max_{c}"
                )
                for c in maxs
            ],
            # KMV merge: union of stored + inserted sketches, re-sorted,
            # re-truncated to k — exact for inserts by the merge property
            *[
                F.slice(
                    F.array_sort(
                        F.array_union(
                            F.coalesce(F.col(f"m.nd_{c}"), _empty_sketch()),
                            F.coalesce(F.col(f"d.d_inssk_{c}"), _empty_sketch()),
                        )
                    ),
                    1,
                    kmv_k,
                ).alias(f"nd_{c}")
                for c in distincts
            ],
            F.coalesce(danger_pred, F.lit(False)).alias("_danger"),
            # pre-change view state + presence markers: the MV's OWN change
            # feed (pre/postimages) is derived from the same join, so the
            # view is a chainable CDF source like any versioned table
            F.col("m.mv_count").isNotNull().alias("_in_cur"),
            F.col("d.d_count").isNotNull().alias("_in_delta"),
            *[F.col(f"m.{mc}").alias(f"_pre_{mc}") for mc in measures],
        )
    )

    if mins or maxs or distincts:
        # multi-consumer only here (danger probe + staging); otherwise the
        # staging write is the sole consumer
        full = full.localCheckpoint(eager=True)
        danger_keys = full.filter(F.col("_danger")).select(*keys)
        if danger_keys.limit(1).count():
            # ONLY the danger groups re-aggregate, from the CURRENT chain:
            # every table's new snapshot, column-pruned, semi-joined down to
            # the affected group keys before the aggregate.
            need_cols = sorted({*mins, *maxs, *distincts})
            frames = [
                read_snapshot(spark, p, hv).select(*selected[j])
                for j, (p, hv) in enumerate(zip(paths, his))
            ]
            base_cur = (
                _chain(frames, ons)
                .select(*dict.fromkeys(keys + need_cols))
                .join(F.broadcast(danger_keys), keys, "left_semi")
            )
            if distincts:
                # shared by the extremes aggregate AND each column's sketch
                # rebuild — materialize the pruned danger slice once
                base_cur = base_cur.localCheckpoint(eager=True)
            recomputed = danger_keys
            if mins or maxs:
                recomputed = recomputed.join(
                    base_cur.groupBy(*keys).agg(
                        *[F.min(c).alias(f"rc_min_{c}") for c in mins],
                        *[F.max(c).alias(f"rc_max_{c}") for c in maxs],
                    ),
                    keys,
                    "left",
                )
            for c in distincts:
                recomputed = recomputed.join(
                    _kmv_sketch(base_cur, keys, c, kmv_k, f"rc_nd_{c}"),
                    keys,
                    "left",
                ).withColumn(
                    f"rc_nd_{c}",
                    F.coalesce(F.col(f"rc_nd_{c}"), _empty_sketch()),
                )
            full = full.join(recomputed, keys, "left").select(
                *keys,
                "mv_count",
                *[f"sum_{c}" for c in sums],
                *[  # the min_/max_/nd_ measures
                    F.when(F.col("_danger"), F.col(f"rc_{m}")).otherwise(
                        F.col(m)
                    ).alias(m)
                    for m in measures[1 + len(sums):]
                ],
                "_in_cur",
                "_in_delta",
                *[f"_pre_{mc}" for mc in measures],
            )
    merged = full.filter(F.col("mv_count") > 0).select(*keys, *measures)
    files, change_files = _stage_mv_refresh(full, keys, measures, mv_path)
    n = _count_staged(spark, mv_path, files)
    try:
        # kind='merge' + explicit change files: downstream incremental
        # consumers (chained MVs, CDC readers) get a real delta instead of
        # the refused-by-design REPLACE
        v = _commit(
            mv_path,
            files,
            n,
            merged.schema.json(),
            cur_mv_version,
            appended=[],
            changes=change_files,
            kind="merge",
        )
    except RuntimeError:
        # The O_EXCL manifest create has exactly one winner per version: a
        # concurrent refresher already committed cur_mv_version + 1 with this
        # same change window folded in. Committing our copy on top would
        # apply the window twice, so discard the staged result. If the
        # winner's meta write has landed, the window is synced and we can
        # return quietly; if not (it is still in its commit→meta gap), the
        # caller must rerun — the rerun either no-ops (meta landed) or trips
        # the crash-coherence refusal (winner died in the gap), both safe.
        fresh = _load_meta(mv_path)
        if all(sv >= hi for sv, hi in zip(fresh["versions_synced"], his)):
            return current_version(mv_path)
        raise RuntimeError(
            f"mv at {mv_path}: concurrent refresh detected (version "
            f"{cur_mv_version + 1} already committed by another refresher) — "
            "rerun refresh_mv()"
        ) from None
    meta["versions_synced"] = his
    meta["mv_version"] = v
    _save_meta(mv_path, meta)
    return v


def read_mv(spark: SparkSession, mv_path: str, version: int | None = None) -> DataFrame:
    """The view's CURRENT (or time-travel) contents: keys, mv_count, sum_*."""
    return read_snapshot(spark, mv_path, version)
