"""Snowflake / star incrementally maintained JOIN views: a grouped
aggregate over ``T0 (fact) ⋈ T1 ⋈ … ⋈ Tn (dims)`` kept in sync with N+1
versioned base tables.

This generalizes the two-table expansion in sinks/join_mv.py by the
telescoping identity. Order the tables T0..Tn (each dim's join columns
must already be in scope — provided by the fact or an EARLIER dim, which
admits both star shapes, every dim keyed off the fact, and snowflake
shapes, dims keyed off other dims). With signed change multisets ΔTi
(insert/update_postimage = +1, delete/update_preimage = −1) and
Ti_new = Ti_old + ΔTi:

    Δ(T0 ⋈ … ⋈ Tn) = Σ_i  T0_old ⋈ … ⋈ T(i−1)_old
                           ⋈ ΔTi ⋈
                           T(i+1)_new ⋈ … ⋈ Tn_new

(one term per table that actually moved; tables BEFORE the delta at their
last-synced versions, tables AFTER it at their new versions — every cross
term ΔTi ⋈ ΔTj with i<j lives exactly once inside Tj_new's material
content, so the expansion is exact for N:M joins and for same-window
changes on any subset of tables; inner join is bilinear over signed
multisets). n=1 degenerates to join_mv's ΔF ⋈ D_new + F_old ⋈ ΔD.

100 TB posture: fact-only movement (the overwhelmingly common star-schema
case) costs O(ΔF ⋈ dims) — the fact table itself is NEVER scanned, and
AQE broadcasts the typically-small dims at runtime. When dim i moved, the
tables before it are scanned once, column-pruned to join keys + view
columns, against the typically-tiny ΔTi (if several dims move in one
window the old fact projection is scanned once per moved dim — deliberate:
caching it would materialize an O(fact) intermediate, worse at scale than
a second pruned columnar scan). The fold into the stored view is the same
key-equi outer merge as the base MV, and the refresh commits
``kind='merge'`` with real CDF change files, so a star view is itself a
chainable change-feed source.

Durability contract: term i time-travels tables j<i to their last-synced
versions, so vacuum retention on every base must cover its synced version
while any LATER table has unfolded changes; the change windows themselves
follow the same vacuum/replace refusal rules as the base MV
(materialized_view._change_feed). Group keys and measures may come from
any table; every non-join view column must exist on exactly one table
(validated at create time, assignment recorded in ``_mv_meta.json``).

No reference-repo counterpart (the reference is a stateless event ETL,
/root/reference/synchronous-pull.js); this is north-star lakehouse
surface alongside sinks/versioned.py and sinks/join_mv.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialized_view import (
    _change_feed,
    _load_meta,
    _save_meta,
    _sign,
    _stage_mv_refresh,
)
from .versioned import (
    _commit,
    _count_staged,
    current_version,
    read_snapshot,
    write_snapshot,
)


def _plan_columns(
    spark: SparkSession,
    paths: list[str],
    ons: list[list[str]],
    keys: list[str],
    sums: list[str],
) -> tuple[dict[str, int], list[list[str]]]:
    """Validate the join chain and assign every column a single owner.

    Returns (side, selected): ``side`` maps each view column to the index
    of the table that owns it; ``selected[i]`` is the column-pruned
    projection table i contributes to every chain build — its own join
    columns, the join columns of later dims it is the EARLIEST provider
    of, and its view columns. Raises on missing, ambiguous, or
    out-of-scope columns."""
    colsets = [set(read_snapshot(spark, p).columns) for p in paths]
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
    for c in dict.fromkeys(keys + sums):  # ordered, deduped
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
    return side, selected


def _chain(frames: list[DataFrame], ons: list[list[str]]) -> DataFrame:
    acc = frames[0]
    for df, on in zip(frames[1:], ons[1:]):
        acc = acc.join(df, on)
    return acc


def create_star_mv(
    spark: SparkSession,
    fact_path: str,
    dims: list[dict],
    mv_path: str,
    keys: list[str],
    sums: list[str],
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
) -> int:
    """Materialize ``SELECT keys, COUNT(*), SUM(sums…), MIN(mins…),
    MAX(maxs…) FROM fact JOIN dim1 USING (…) JOIN dim2 USING (…) …
    GROUP BY keys`` over every table's CURRENT version. ``dims`` is an
    ordered list of ``{"path": str, "on": [join cols]}``. ``mins``/
    ``maxs`` opt into recompute-on-retraction maintenance (same contract
    as the base MV: a retraction touching a stored extreme re-aggregates
    ONLY that group from the current join). Returns the MV's version."""
    paths = [fact_path] + [d["path"] for d in dims]
    ons: list[list[str]] = [[]] + [list(d["on"]) for d in dims]
    if len(paths) < 2:
        raise ValueError("a star view needs at least one dim")
    mins, maxs = list(mins or []), list(maxs or [])
    versions = [current_version(p) for p in paths]
    for p, v in zip(paths, versions):
        if v == 0:
            raise FileNotFoundError(f"no committed snapshot at {p}")
    extreme_cols = sorted({*mins, *maxs})
    view_cols = sums + [c for c in extreme_cols if c not in sums]
    side, selected = _plan_columns(spark, paths, ons, keys, view_cols)
    frames = [
        read_snapshot(spark, p, v).select(*selected[i])
        for i, (p, v) in enumerate(zip(paths, versions))
    ]
    view = (
        _chain(frames, ons)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            *[F.sum(c).alias(f"sum_{c}") for c in sums],
            *[F.min(c).alias(f"min_{c}") for c in mins],
            *[F.max(c).alias(f"max_{c}") for c in maxs],
        )
    )
    v = write_snapshot(view, mv_path)
    _save_meta(
        mv_path,
        {
            "kind": "star_mv",
            "paths": [os.path.abspath(p) for p in paths],
            "ons": ons,
            "keys": keys,
            "sums": sums,
            "mins": mins,
            "maxs": maxs,
            "side": side,
            "selected": selected,
            "versions_synced": versions,
            "mv_version": v,
        },
    )
    return v


def refresh_star_mv(spark: SparkSession, mv_path: str) -> int:
    """Fold every version committed on ANY base table since the last
    refresh into the view in one atomic commit — one telescoping term per
    table that moved, each O(that table's changes ⋈ pruned others)."""
    meta = _load_meta(mv_path)
    if meta.get("kind") != "star_mv":
        raise ValueError(
            f"{mv_path} is not a star MV; use refresh_mv()/refresh_join_mv()"
        )
    if meta.get("mv_version") is not None and meta[
        "mv_version"
    ] != current_version(mv_path):
        raise RuntimeError(
            f"star mv at {mv_path}: meta records mv_version "
            f"{meta['mv_version']} but CURRENT is {current_version(mv_path)} "
            "— a prior refresh crashed between commit and meta write; "
            "rebuild with create_star_mv()"
        )
    paths, ons = meta["paths"], meta["ons"]
    keys, sums, selected = meta["keys"], meta["sums"], meta["selected"]
    mins, maxs = meta.get("mins", []), meta.get("maxs", [])
    extreme_cols = sorted({*mins, *maxs})
    view_cols = sums + [c for c in extreme_cols if c not in sums]
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
    los = [
        hi if f is None else lo for f, lo, hi in zip(feeds, los, his)
    ]

    parts: list[DataFrame] = []
    for i, feed in enumerate(feeds):
        if feed is None:
            continue
        # term i: tables before the delta at their LAST-SYNCED versions
        # (rows they gained this window are claimed by their own terms),
        # tables after it at their NEW versions (which already carry every
        # ΔTi ⋈ ΔTj cross term exactly once — see module doc)
        frames: list[DataFrame] = []
        for j, p in enumerate(paths):
            if j == i:
                frames.append(
                    feed.withColumn("s", _sign()).drop("_change_type")
                )
            else:
                v = los[j] if j < i else his[j]
                frames.append(
                    read_snapshot(spark, p, v).select(*selected[j])
                )
        parts.append(_chain(frames, ons).select(*keys, *view_cols, "s"))
    signed = parts[0]
    for p in parts[1:]:
        signed = signed.unionByName(p)
    ins, ret = F.col("s") == 1, F.col("s") == -1
    delta = signed.groupBy(*keys).agg(
        F.sum("s").cast("long").alias("d_count"),
        *[F.sum(F.col("s") * F.col(c)).alias(f"d_sum_{c}") for c in sums],
        # inserted-rows extremes fold in free; retracted-rows extremes
        # only DETECT whether the stored extreme might be gone (same
        # recompute-on-retraction algebra as the base MV — the joined
        # multiset is a multiset like any other)
        *[F.min(F.when(ins, F.col(c))).alias(f"d_insmin_{c}") for c in mins],
        *[F.min(F.when(ret, F.col(c))).alias(f"d_retmin_{c}") for c in mins],
        *[F.max(F.when(ins, F.col(c))).alias(f"d_insmax_{c}") for c in maxs],
        *[F.max(F.when(ret, F.col(c))).alias(f"d_retmax_{c}") for c in maxs],
    )

    # Same race discipline as refresh_mv/refresh_join_mv: pin the parent
    # version; exactly one of two racing refreshers wins the O_EXCL
    # create, the loser discards its staged fold.
    cur_mv_version = current_version(mv_path)
    cur = read_snapshot(spark, mv_path, cur_mv_version)
    measures = (
        ["mv_count"]
        + [f"sum_{c}" for c in sums]
        + [f"min_{c}" for c in mins]
        + [f"max_{c}" for c in maxs]
    )
    danger_pred = F.lit(False)
    for c in mins:
        danger_pred = danger_pred | (
            F.col(f"d.d_retmin_{c}") <= F.col(f"m.min_{c}")
        )
    for c in maxs:
        danger_pred = danger_pred | (
            F.col(f"d.d_retmax_{c}") >= F.col(f"m.max_{c}")
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
            *[
                F.least(F.col(f"m.min_{c}"), F.col(f"d.d_insmin_{c}")).alias(
                    f"min_{c}"
                )
                for c in mins
            ],
            *[
                F.greatest(
                    F.col(f"m.max_{c}"), F.col(f"d.d_insmax_{c}")
                ).alias(f"max_{c}")
                for c in maxs
            ],
            F.coalesce(danger_pred, F.lit(False)).alias("_danger"),
            F.col("m.mv_count").isNotNull().alias("_in_cur"),
            F.col("d.d_count").isNotNull().alias("_in_delta"),
            *[F.col(f"m.{mc}").alias(f"_pre_{mc}") for mc in measures],
        )
    )
    if extreme_cols:
        # multi-consumer only on the extremes path (danger probe + staging);
        # without extremes the staging write is the sole consumer
        full = full.localCheckpoint(eager=True)
        danger_keys = full.filter(F.col("_danger")).select(*keys)
        if danger_keys.limit(1).count():
            # ONLY the danger groups re-aggregate, from the CURRENT join:
            # every table's new snapshot, column-pruned, semi-joined down
            # to the affected group keys before the aggregate
            frames = [
                read_snapshot(spark, p, hv).select(*selected[j])
                for j, (p, hv) in enumerate(zip(paths, his))
            ]
            recomputed = (
                _chain(frames, ons)
                .join(F.broadcast(danger_keys), keys, "left_semi")
                .groupBy(*keys)
                .agg(
                    *[F.min(c).alias(f"rc_min_{c}") for c in mins],
                    *[F.max(c).alias(f"rc_max_{c}") for c in maxs],
                )
            )
            full = (
                full.join(recomputed, keys, "left")
                .select(
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
                    "_in_cur",
                    "_in_delta",
                    *[f"_pre_{mc}" for mc in measures],
                )
                .localCheckpoint(eager=True)
            )
    merged = full.filter(F.col("mv_count") > 0).select(*keys, *measures)
    files, change_files = _stage_mv_refresh(full, keys, measures, mv_path)
    n = _count_staged(spark, mv_path, files)
    try:
        v = _commit(
            mv_path, files, n, merged.schema.json(), cur_mv_version,
            appended=[], changes=change_files, kind="merge",
        )
    except RuntimeError:
        fresh = _load_meta(mv_path)
        if all(
            sv >= hi for sv, hi in zip(fresh["versions_synced"], his)
        ):
            return current_version(mv_path)
        raise RuntimeError(
            f"star mv at {mv_path}: concurrent refresh detected (version "
            f"{cur_mv_version + 1} already committed by another refresher) "
            "— rerun refresh_star_mv()"
        ) from None
    meta["versions_synced"] = his
    meta["mv_version"] = v
    _save_meta(mv_path, meta)
    return v


def read_star_mv(
    spark: SparkSession, mv_path: str, version: int | None = None
) -> DataFrame:
    """The view's CURRENT (or time-travel) contents: keys, mv_count, sum_*."""
    return read_snapshot(spark, mv_path, version)
