"""Incrementally maintained JOIN views: a grouped aggregate over
``fact INNER JOIN dim`` kept in sync with TWO versioned base tables.

This extends the single-table counting algorithm (materialized_view.py;
Gupta & Mumick) with the classic bilinear delta expansion for joins. With
signed change multisets ΔF, ΔD (insert/update_postimage = +1,
delete/update_preimage = −1) and F_new = F_old + ΔF:

    Δ(F ⋈ D)  =  ΔF ⋈ D_new  +  F_old ⋈ ΔD

(two terms, not three: joining ΔF against the dim's NEW material snapshot
already contains the ΔF ⋈ ΔD cross term — D_new = D_old + ΔD as a signed
multiset, and the sign of a joined row is the sign of its delta side).
The expansion is exact for N:M joins and for same-window changes on both
sides; dim UPDATEs work because the CDF carries the preimage (−1, old
attributes) and postimage (+1, new attributes) — the naive "re-join the
fact delta only" maintenance silently serves stale dim attributes, which
is exactly the case test_join_mv_dim_update_rewrites_groups pins.

100 TB posture: when only the FACT moved (the common star-schema case) the
refresh never touches the fact table — cost is O(ΔF ⋈ dim), and AQE
broadcasts the small side at runtime. When the DIM moved, the fact is
scanned ONCE (column-pruned to join keys + view columns) joined against
the typically-tiny ΔD — never fact ⋈ dim from scratch. The fold into the
stored view is the same key-equi outer merge as the base MV.

Durability contract: the dim term needs ``read_snapshot(fact, synced)``
(time travel to the LAST refreshed fact version), so fact vacuum retention
must cover the synced version while dim changes are pending; the change
windows themselves follow the same vacuum/replace refusal rules as the
base MV (_change_feed). Group keys and measures may come from either
side; every non-join column must exist on exactly one side (validated at
create time, side assignment recorded in ``_mv_meta.json``).

No reference-repo counterpart (the reference is a stateless event ETL,
/root/reference/synchronous-pull.js); this is north-star lakehouse
surface alongside sinks/versioned.py.
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


def _split_sides(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    on: list[str],
    keys: list[str],
    sums: list[str],
) -> dict[str, str]:
    """Assign every non-join view column to the side that owns it; join
    columns must exist on both sides. Raises on missing or ambiguous."""
    f_cols = set(read_snapshot(spark, fact_path).columns)
    d_cols = set(read_snapshot(spark, dim_path).columns)
    for c in on:
        if c not in f_cols or c not in d_cols:
            raise ValueError(f"join column {c!r} must exist on BOTH sides")
    side: dict[str, str] = {}
    for c in dict.fromkeys(keys + sums):  # ordered, deduped
        if c in on:
            raise ValueError(f"column {c!r} is a join column; group on it "
                             "via the fact side by a different name")
        in_f, in_d = c in f_cols, c in d_cols
        if in_f and in_d:
            raise ValueError(f"column {c!r} exists on both sides — ambiguous")
        if not in_f and not in_d:
            raise ValueError(f"column {c!r} exists on neither side")
        side[c] = "fact" if in_f else "dim"
    return side


def _side_cols(side: dict[str, str], on: list[str], which: str) -> list[str]:
    return list(on) + [c for c, s in side.items() if s == which]


def _joined_view(
    fact: DataFrame, dim: DataFrame, on: list[str], keys: list[str],
    sums: list[str],
) -> DataFrame:
    return (
        fact.join(dim, on)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            *[F.sum(c).alias(f"sum_{c}") for c in sums],
        )
    )


def create_join_mv(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    mv_path: str,
    on: list[str],
    keys: list[str],
    sums: list[str],
) -> int:
    """Materialize ``SELECT keys, COUNT(*), SUM(sums...) FROM fact JOIN dim
    USING (on) GROUP BY keys`` over both tables' CURRENT versions. Returns
    the MV's committed version."""
    fv, dv = current_version(fact_path), current_version(dim_path)
    if fv == 0:
        raise FileNotFoundError(f"no committed snapshot at {fact_path}")
    if dv == 0:
        raise FileNotFoundError(f"no committed snapshot at {dim_path}")
    side = _split_sides(spark, fact_path, dim_path, on, keys, sums)
    fact = read_snapshot(spark, fact_path, fv).select(
        *_side_cols(side, on, "fact")
    )
    dim = read_snapshot(spark, dim_path, dv).select(*_side_cols(side, on, "dim"))
    v = write_snapshot(_joined_view(fact, dim, on, keys, sums), mv_path)
    _save_meta(
        mv_path,
        {
            "kind": "join_mv",
            "fact_path": os.path.abspath(fact_path),
            "dim_path": os.path.abspath(dim_path),
            "on": on,
            "keys": keys,
            "sums": sums,
            "side": side,
            "fact_version_synced": fv,
            "dim_version_synced": dv,
            "mv_version": v,
        },
    )
    return v


def refresh_join_mv(spark: SparkSession, mv_path: str) -> int:
    """Fold every fact AND dim version committed since the last refresh
    into the view in one atomic commit. Cost: O(ΔF ⋈ dim) +
    (O(fact-scan ⋈ ΔD) only if the dim actually moved)."""
    meta = _load_meta(mv_path)
    if meta.get("kind") != "join_mv":
        raise ValueError(f"{mv_path} is not a join MV; use refresh_mv()")
    if meta.get("mv_version") is not None and meta["mv_version"] != current_version(
        mv_path
    ):
        raise RuntimeError(
            f"join mv at {mv_path}: meta records mv_version "
            f"{meta['mv_version']} but CURRENT is {current_version(mv_path)} — "
            "a prior refresh crashed between commit and meta write; rebuild "
            "with create_join_mv()"
        )
    fact_path, dim_path = meta["fact_path"], meta["dim_path"]
    on, keys, sums, side = meta["on"], meta["keys"], meta["sums"], meta["side"]
    lo_f, hi_f = meta["fact_version_synced"], current_version(fact_path)
    lo_d, hi_d = meta["dim_version_synced"], current_version(dim_path)
    if hi_f <= lo_f and hi_d <= lo_d:
        return current_version(mv_path)

    f_cols = _side_cols(side, on, "fact")
    d_cols = _side_cols(side, on, "dim")
    d_fact = (
        _change_feed(spark, fact_path, lo_f, hi_f, f_cols)
        if hi_f > lo_f
        else None
    )
    d_dim = (
        _change_feed(spark, dim_path, lo_d, hi_d, d_cols)
        if hi_d > lo_d
        else None
    )
    if d_fact is None and d_dim is None:  # only compactions happened
        meta["fact_version_synced"], meta["dim_version_synced"] = hi_f, hi_d
        _save_meta(mv_path, meta)
        return current_version(mv_path)
    if d_fact is None:
        # fact window held only compactions: content at lo_f == hi_f, so
        # point the F_old ⋈ ΔD read at the CURRENT files (the
        # pre-compaction version may have been vacuumed)
        lo_f = hi_f

    parts: list[DataFrame] = []
    if d_fact is not None:
        # ΔF ⋈ D_new: the joined row's sign is ΔF's; D_new's material
        # content already carries the ΔF ⋈ ΔD cross term (see module doc)
        d_new = read_snapshot(spark, dim_path, hi_d).select(*d_cols)
        parts.append(
            d_fact.join(d_new, on).select(*keys, *sums, _sign().alias("s"))
        )
    if d_dim is not None:
        # F_old ⋈ ΔD: time travel to the LAST SYNCED fact version so fact
        # rows added this window are not double-joined against ΔD
        f_old = read_snapshot(spark, fact_path, lo_f).select(*f_cols)
        parts.append(
            f_old.join(d_dim, on).select(*keys, *sums, _sign().alias("s"))
        )
    signed = parts[0]
    for p in parts[1:]:
        signed = signed.unionByName(p)
    delta = signed.groupBy(*keys).agg(
        F.sum("s").cast("long").alias("d_count"),
        *[F.sum(F.col("s") * F.col(c)).alias(f"d_sum_{c}") for c in sums],
    )

    # Same race discipline as refresh_mv: pin the parent version; exactly
    # one of two racing refreshers wins the O_EXCL create, the loser
    # discards its staged fold.
    cur_mv_version = current_version(mv_path)
    cur = read_snapshot(spark, mv_path, cur_mv_version)
    measures = ["mv_count"] + [f"sum_{c}" for c in sums]
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
            F.col("m.mv_count").isNotNull().alias("_in_cur"),
            F.col("d.d_count").isNotNull().alias("_in_delta"),
            *[F.col(f"m.{mc}").alias(f"_pre_{mc}") for mc in measures],
        )
    )
    merged = full.filter(F.col("mv_count") > 0).select(*keys, *measures)
    files, change_files = _stage_mv_refresh(full, keys, measures, mv_path)
    n = _count_staged(spark, mv_path, files)
    try:
        # kind='merge' + change files: the join view is itself a chainable
        # CDF source (see materialized_view._stage_mv_refresh)
        v = _commit(
            mv_path, files, n, merged.schema.json(), cur_mv_version,
            appended=[], changes=change_files, kind="merge",
        )
    except RuntimeError:
        fresh = _load_meta(mv_path)
        if (
            fresh["fact_version_synced"] >= hi_f
            and fresh["dim_version_synced"] >= hi_d
        ):
            return current_version(mv_path)
        raise RuntimeError(
            f"join mv at {mv_path}: concurrent refresh detected (version "
            f"{cur_mv_version + 1} already committed by another refresher) — "
            "rerun refresh_join_mv()"
        ) from None
    meta["fact_version_synced"], meta["dim_version_synced"] = hi_f, hi_d
    meta["mv_version"] = v
    _save_meta(mv_path, meta)
    return v


def read_join_mv(
    spark: SparkSession, mv_path: str, version: int | None = None
) -> DataFrame:
    """The view's CURRENT (or time-travel) contents: keys, mv_count, sum_*."""
    return read_snapshot(spark, mv_path, version)
