"""Incrementally maintained materialized views over versioned tables.

A materialized view here is a grouped aggregate — ``GROUP BY keys`` with
``COUNT(*)`` and ``SUM(col)`` measures — kept in sync with a versioned base
table (sinks/versioned.py) by consuming its change feed instead of
recomputing from scratch. This is the classic *counting algorithm* for
incremental view maintenance (Gupta & Mumick, "Maintenance of Materialized
Views"), which is what a 100 TB lakehouse needs: a refresh costs
O(changed rows since last refresh), never O(base table).

Change-row algebra: each CDF row carries a sign —

    insert / update_postimage  →  +1
    delete / update_preimage   →  −1

so the per-group delta is ``SUM(sign)`` for the count and ``SUM(sign·x)``
for each sum measure. Applying the delta to the stored view is a key-equi
outer merge; groups whose maintained count reaches 0 are dropped (they have
no supporting base rows left). AVG is derived (sum/count) by readers.

DISTINCT-COUNT measures (``distincts=``) are stored as KMV theta sketches
(``nd_<col>``: the k smallest distinct 52-bit portable hashes, sorted) —
the warehouse pattern of keeping mergeable sketches inside the cube.
Inserts fold exactly (KMV merge property); a retraction that could touch a
sketch member falls into the same danger-group recompute as MIN/MAX below.
Because the hash is engine-portable (md5 hex fold, q_theta_sketch's
trick), a sketch-valued view is verifiable HASH-EXACT against a DuckDB
oracle, and ``kmv_estimate`` turns a sketch into the distinct-count
estimate (exact below k).

MIN/MAX (``mins=`` / ``maxs=``) use the standard recompute-on-retraction
upgrade: inserts maintain them for free (new_min = least(stored, batch
min)), but a retraction that TOUCHES the current extreme (retracted min <=
stored min, or retracted max >= stored max) cannot be folded — the new
extreme lives only in the base table. Exactly those DANGER groups are
re-aggregated from the base's CURRENT snapshot via a semi join (columns
pruned to keys + measure), so the refresh costs O(change rows) + O(base
rows of groups whose extreme was retracted) — never an unconditional
O(base). Asking for min/max through the legacy ``aggs=`` switch still
raises, pointing at the explicit parameters, because the caller must opt
into the retraction cost consciously.

The view itself is stored as a versioned table, so MV readers get the same
snapshot isolation / time travel as base-table readers, and every refresh is
an atomic commit. Refreshes commit ``kind='merge'`` with REAL change files
(insert / update pre+postimage / delete per changed group, staged with the
view's data by ``_stage_mv_refresh`` — O(changed groups)), which makes a
maintained view itself a change-feed SOURCE: another MV (or a join MV using
it as the dim side) can chain off it, and base movement propagates down the
chain with every hop O(changes). See test_mv_chain_mv_over_mv and
test_join_mv_dim_is_itself_a_maintained_mv. ``_mv_meta.json`` (inside the MV directory, next to the
manifests) records the definition and the last base version folded in —
refresh is idempotent: re-running with no new base versions is a no-op.

Durability contract with vacuum: refresh only ever reads base CHANGE data in
(last_synced, current]; older base versions can be vacuumed away without
breaking refresh — asserted by test_mv_refresh_after_base_vacuum.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _load_meta(mv_path: str) -> dict:
    with open(_meta_path(mv_path), encoding="utf-8") as fh:
        return json.load(fh)


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
) -> int:
    """Materialize ``SELECT keys, COUNT(*), SUM(sums...), MIN(mins...),
    MAX(maxs...) GROUP BY keys`` over the base table's CURRENT version.
    Returns the MV's committed version. ``mins``/``maxs`` opt into
    recompute-on-retraction maintenance (see module docstring).

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
    base_version = current_version(base_path)
    if base_version == 0:
        raise FileNotFoundError(f"no committed snapshot at {base_path}")
    mins, maxs = list(mins or []), list(maxs or [])
    distincts = list(distincts or [])
    base = read_snapshot(spark, base_path, base_version)
    view = _aggregate(base, keys, sums, mins, maxs)
    for c in distincts:
        sk = _kmv_sketch(base, keys, c, kmv_k, f"nd_{c}")
        view = view.join(sk, keys, "left").withColumn(
            f"nd_{c}", F.coalesce(F.col(f"nd_{c}"), _empty_sketch())
        )
    v = write_snapshot(view, mv_path)
    _save_meta(
        mv_path,
        {
            "base_path": os.path.abspath(base_path),
            "keys": keys,
            "sums": sums,
            "mins": mins,
            "maxs": maxs,
            "distincts": distincts,
            "kmv_k": kmv_k,
            "base_version_synced": base_version,
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
            raise RuntimeError(
                f"base {base_path}: version {v} is a full REPLACE "
                "(write_snapshot over existing content) — its manifest lists "
                "the entire replacement under 'appended', which is not an "
                "incremental delta; rebuild the view with create_mv()"
            )
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
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _stage_mv_refresh(
    full: DataFrame, keys: list[str], measures: list[str], mv_path: str
) -> tuple[list[dict], list[dict]]:
    """ONE staging write for a refreshed view AND its own change feed: each
    merged row of the annotated ``full`` frame (mv_count, the ``_in_cur``/
    ``_in_delta`` presence markers and ``_pre_*`` prior values — the refresh
    merge shape shared by refresh_mv / refresh_star_mv / refresh_join_mv)
    explodes into its file roles: an alive group is a data row; a new group
    is an insert, a group whose measures moved an update pre/postimage pair,
    an emptied group (count reached 0) a delete. Same CDF shape as
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
    """Fold every base version committed since the last refresh into the
    view. Cost is O(change rows), independent of base-table size. Returns
    the MV version (unchanged if the base hasn't moved)."""
    meta = _load_meta(mv_path)
    if meta.get("kind") == "join_mv":
        raise ValueError(f"{mv_path} is a join MV; use refresh_join_mv()")
    if meta.get("kind") == "star_mv":
        raise ValueError(f"{mv_path} is a star MV; use refresh_star_mv()")
    # crash coherence: the meta records which MV version its
    # base_version_synced belongs to. A crash between a refresh's snapshot
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
    base_path, keys, sums = meta["base_path"], meta["keys"], meta["sums"]
    mins, maxs = meta.get("mins", []), meta.get("maxs", [])
    distincts = meta.get("distincts", [])
    kmv_k = meta.get("kmv_k", 128)
    lo, hi = meta["base_version_synced"], current_version(base_path)
    if hi <= lo:
        return current_version(mv_path)

    extreme_cols = sorted({*mins, *maxs})
    measure_cols = sums + [
        c for c in sorted({*extreme_cols, *distincts}) if c not in sums
    ]
    changes = _change_feed(spark, base_path, lo, hi, keys + measure_cols)
    if changes is None:  # only compactions happened
        meta["base_version_synced"] = hi
        _save_meta(mv_path, meta)
        return current_version(mv_path)

    ins, ret = _sign() == 1, _sign() == -1
    if distincts:
        # the change feed feeds BOTH the signed delta aggregate and the
        # per-column insert sketches — materialize it once
        changes = changes.localCheckpoint(eager=True)
    delta = changes.groupBy(*keys).agg(
        F.sum(_sign()).cast("long").alias("d_count"),
        *[F.sum(_sign() * F.col(c)).alias(f"d_sum_{c}") for c in sums],
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
    # batch's inserts, merged below (k-smallest of a union of k-smallest
    # sets IS the union's k-smallest — the KMV merge property)
    for c in distincts:
        delta = delta.join(
            _kmv_sketch(
                changes.filter(ins), keys, c, kmv_k, f"d_inssk_{c}"
            ),
            keys,
            "left",
        )

    # Pin the MV version this refresh folds ON TOP OF. The commit below
    # targets exactly cur_mv_version + 1, so of two refreshers racing over
    # the same window exactly one wins the O_EXCL manifest create; the loser
    # must NOT retry its commit against the new parent (that would fold the
    # same change window twice — double-counted sums).
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

    if extreme_cols or distincts:
        full = full.localCheckpoint(eager=True)
        danger_keys = full.filter(F.col("_danger")).select(*keys)
        if danger_keys.limit(1).count():
            # ONLY the danger groups re-aggregate from the base — a single
            # column-pruned scan semi-joined down to the affected keys.
            need_cols = sorted({*extreme_cols, *distincts})
            base_cur = (
                read_snapshot(spark, base_path, hi)
                .select(*keys, *need_cols)
                .join(F.broadcast(danger_keys), keys, "left_semi")
            )
            if distincts:
                # shared by the extremes aggregate AND each column's sketch
                # rebuild — materialize the pruned danger slice once
                base_cur = base_cur.localCheckpoint(eager=True)
            recomputed = danger_keys
            if extreme_cols:
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
                *[
                    F.when(F.col("_danger"), F.col(f"rc_min_{c}"))
                    .otherwise(F.col(f"min_{c}"))
                    .alias(f"min_{c}")
                    for c in mins
                ],
                *[
                    F.when(F.col("_danger"), F.col(f"rc_max_{c}"))
                    .otherwise(F.col(f"max_{c}"))
                    .alias(f"max_{c}")
                    for c in maxs
                ],
                *[
                    F.when(F.col("_danger"), F.col(f"rc_nd_{c}"))
                    .otherwise(F.col(f"nd_{c}"))
                    .alias(f"nd_{c}")
                    for c in distincts
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
        if fresh["base_version_synced"] >= hi:
            return current_version(mv_path)
        raise RuntimeError(
            f"mv at {mv_path}: concurrent refresh detected (version "
            f"{cur_mv_version + 1} already committed by another refresher) — "
            "rerun refresh_mv()"
        ) from None
    meta["base_version_synced"] = hi
    meta["mv_version"] = v
    _save_meta(mv_path, meta)
    return v


def read_mv(spark: SparkSession, mv_path: str, version: int | None = None) -> DataFrame:
    """The view's CURRENT (or time-travel) contents: keys, mv_count, sum_*."""
    return read_snapshot(spark, mv_path, version)
