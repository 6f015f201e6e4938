"""Aggregate-query answering from maintained materialized views
("MV rewrite"): given a grouped aggregate over a versioned base table and
a set of candidate MVs, route the query to a compatible, FRESH view and
roll it up instead of scanning the base.

Compatibility is the textbook subsumption test (Gupta/Mumick; also how
warehouse optimizers match views):

  - same base table,
  - requested group keys   ⊆ the MV's group keys (coarser grouping rolls
    up from finer: re-aggregate the view's groups),
  - requested SUM columns  ⊆ the MV's SUM columns (SUM of partial SUMs),
  - requested MIN/MAX cols ⊆ the MV's MIN/MAX columns (MIN of partial
    MINs / MAX of partial MAXs),
  - COUNT(*) always answerable (SUM of the view's mv_count),
  - freshness: every base commit past the MV's synced version is a
    COMPACTION (file rewrite, content unchanged) — any data commit makes
    the view stale, and a stale view would silently answer from the past,
    so it is skipped unless the caller opts in with ``allow_stale=True``.

When several views qualify, the one with the FEWEST group keys wins: its
grouping is the coarsest, so it has (weakly) the fewest rows to
re-aggregate. Falls back to a plain base scan when nothing matches.

100 TB posture: this is the payoff move of the whole MV family — a
compatible answer reads O(groups of the view) (typically KBs–MBs) instead
of O(base) (the 100 TB scan), and the refresh machinery
(materialized_view.py) has already amortized the heavy lifting to
O(changes) per refresh. The roll-up itself is a groupBy over the view's
rows — broadcast-sized in practice.

AVG is deliberately derived by the caller as sum/count rather than being
a measure: partial AVGs do not re-aggregate, partial SUM/COUNT pairs do.

No reference-repo counterpart (the reference is a stateless event ETL,
/root/reference/synchronous-pull.js); this is north-star lakehouse
surface alongside sinks/materialized_view.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialized_view import _load_meta, read_mv
from .versioned import _read_manifest, current_version, read_snapshot


def _fresh(base_path: str, synced: int, current: int) -> bool:
    """A view is fresh when every base commit since its last fold is a
    COMPACTION — compaction rewrites files, not content, so it bumps the
    version without invalidating the view (refresh_mv treats the same
    window as a cursor-only sync). Any data commit (append/merge/delete/
    replace) in the window makes the view stale. Cost: manifest reads
    only, no data I/O."""
    if synced >= current:
        return True
    for v in range(synced + 1, current + 1):
        try:
            if _read_manifest(base_path, v).get("kind") != "compact":
                return False
        except FileNotFoundError:
            return False  # vacuumed window — cannot prove content equality
    return True


def _compatible(
    meta: dict,
    base_path: str,
    keys: list[str],
    sums: list[str],
    mins: list[str],
    maxs: list[str],
    base_current: int,
    allow_stale: bool,
    distincts: list[str] = (),
) -> bool:
    if len(meta["paths"]) != 1:
        return False  # join views answer joins, not single-base aggs
    if meta["paths"][0] != os.path.abspath(base_path):
        return False
    if not set(keys) <= set(meta["keys"]):
        return False
    if not set(sums) <= set(meta["sums"]):
        return False
    if not set(mins) <= set(meta["mins"]):
        return False
    if not set(maxs) <= set(meta["maxs"]):
        return False
    if not set(distincts) <= set(meta["distincts"]):
        return False
    if not allow_stale and not _fresh(
        meta["paths"][0], meta["versions_synced"][0], base_current
    ):
        return False
    return True


def answer_aggregate(
    spark: SparkSession,
    base_path: str,
    keys: list[str],
    sums: list[str],
    mv_paths: list[str],
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    distincts: list[str] | None = None,
    kmv_k: int = 128,
    allow_stale: bool = False,
) -> tuple[DataFrame, str | None]:
    """Answer ``SELECT keys, COUNT(*) AS mv_count, SUM(sums…), MIN(mins…),
    MAX(maxs…) FROM base GROUP BY keys`` — from the best compatible fresh
    MV in ``mv_paths`` if one exists, else from the base's current
    snapshot. Returns ``(result, chosen_mv_path_or_None)``; None means the
    base was scanned. Output columns are identical either way
    (mv_count / sum_* / min_* / max_*), so callers can't tell the routes
    apart except by cost.

    ``distincts`` requests KMV sketch measures (``nd_<col>``): a hit rolls
    the finer groups' sketches up LOSSLESSLY — the k smallest of a union
    of per-group k-smallest sets is exactly the union's k smallest, so the
    rolled-up sketch is bit-identical to one built from the base — which
    is precisely why warehouses store sketches, not estimates, in their
    cubes. On a hit the VIEW's recorded k wins; ``kmv_k`` only shapes the
    base fallback. Estimate via materialized_view.kmv_estimate."""
    from .materialized_view import _empty_sketch, _kmv_sketch

    mins, maxs = list(mins or []), list(maxs or [])
    distincts = list(distincts or [])
    base_current = current_version(base_path)
    chosen: tuple[int, str, dict] | None = None
    for p in mv_paths:
        try:
            meta = _load_meta(p)
        except FileNotFoundError:
            continue
        if not _compatible(
            meta, base_path, keys, sums, mins, maxs, base_current,
            allow_stale, distincts,
        ):
            continue
        width = len(meta["keys"])
        if chosen is None or width < chosen[0]:
            chosen = (width, p, meta)

    if chosen is not None:
        _, p, meta = chosen
        view = read_mv(spark, p)
        k = meta["kmv_k"]
        # roll the finer grouping up: COUNT is the SUM of partial counts,
        # SUM of partial SUMs, MIN of partial MINs, MAX of partial MAXs,
        # sketches the re-truncated union of partial sketches
        out = view.groupBy(*keys).agg(
            F.sum("mv_count").cast("long").alias("mv_count"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums],
            *[F.min(f"min_{c}").alias(f"min_{c}") for c in mins],
            *[F.max(f"max_{c}").alias(f"max_{c}") for c in maxs],
            *[
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list(f"nd_{c}")))
                    ),
                    1,
                    k,
                ).alias(f"nd_{c}")
                for c in distincts
            ],
        )
        return out, p

    base = read_snapshot(spark, base_path, base_current)
    out = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("mv_count"),
        *[F.sum(c).alias(f"sum_{c}") for c in sums],
        *[F.min(c).alias(f"min_{c}") for c in mins],
        *[F.max(c).alias(f"max_{c}") for c in maxs],
    )
    for c in distincts:
        out = out.join(
            _kmv_sketch(base, keys, c, kmv_k, f"nd_{c}"), keys, "left"
        ).withColumn(f"nd_{c}", F.coalesce(F.col(f"nd_{c}"), _empty_sketch()))
    return out, None


def rollup_sets(keys: list[str]) -> list[list[str]]:
    """The grouping sets of ``GROUP BY ROLLUP(keys)``: every prefix, finest
    first — [[a,b,c],[a,b],[a],[]]."""
    return [keys[:i] for i in range(len(keys), -1, -1)]


def cube_sets(keys: list[str]) -> list[list[str]]:
    """The grouping sets of ``GROUP BY CUBE(keys)``: every subset, order
    preserved within each set."""
    out: list[list[str]] = []
    for mask in range(1 << len(keys)):
        out.append([k for i, k in enumerate(keys) if mask & (1 << i)])
    return sorted(out, key=len, reverse=True)


def _grouping_id(keys: list[str], subset: list[str]) -> int:
    """Spark/DuckDB GROUPING_ID bit convention: one bit per key in ``keys``
    order, leftmost key = most significant bit, set when the key is
    aggregated away in this grouping set."""
    present = set(subset)
    n = len(keys)
    return sum(1 << (n - 1 - i) for i, k in enumerate(keys) if k not in present)


def answer_grouping_sets(
    spark: SparkSession,
    base_path: str,
    keys: list[str],
    grouping_sets: list[list[str]],
    sums: list[str],
    mv_paths: list[str],
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    allow_stale: bool = False,
) -> tuple[DataFrame, str | None]:
    """Answer ``SELECT keys…, GROUPING_ID, COUNT(*), SUM/MIN/MAX(…) FROM
    base GROUP BY GROUPING SETS (…)`` — ROLLUP and CUBE via the
    ``rollup_sets``/``cube_sets`` helpers — from ONE compatible fresh flat
    view when possible, else from the base's current snapshot.

    A flat view grouped by a superset of every grouping set answers ALL the
    sets: each set is an independent roll-up of the view's groups (COUNT =
    SUM of partial counts, SUM of partial SUMs, MIN of partial MINs, MAX of
    partial MAXs — the same subsumption algebra as ``answer_aggregate``,
    applied once per set). Output carries the full ``keys`` list (absent
    keys NULL-filled in the view's own column type) plus a ``gid`` column
    with Spark's GROUPING_ID bit layout (leftmost key = MSB; DuckDB's
    multi-arg ``GROUPING`` emits the identical bitmask), which is what
    disambiguates a data NULL from a super-aggregate NULL.

    100 TB posture: the hit path replaces a base-sized Expand (Spark
    executes native ROLLUP/CUBE as scan × n_sets row multiplication before
    the shuffle) with n_sets tiny aggregations over O(view groups) rows —
    the cube materialization pattern warehouses buy sketch-cubes for. The
    miss path uses native ``groupingSets`` so the base is still scanned
    exactly once. Returns ``(result, chosen_mv_path_or_None)``."""
    mins, maxs = list(mins or []), list(maxs or [])
    for s in grouping_sets:
        if not set(s) <= set(keys):
            raise ValueError(f"grouping set {s} is not a subset of keys {keys}")
    base_current = current_version(base_path)
    chosen: tuple[int, str, dict] | None = None
    for p in mv_paths:
        try:
            meta = _load_meta(p)
        except FileNotFoundError:
            continue
        if not _compatible(
            meta, base_path, keys, sums, mins, maxs, base_current, allow_stale
        ):
            continue
        width = len(meta["keys"])
        if chosen is None or width < chosen[0]:
            chosen = (width, p, meta)

    def _union_sets(src: DataFrame, count_expr, val) -> DataFrame:
        """One roll-up per grouping set over ``src`` (the view or the base),
        NULL-filling absent keys in the source's own dtype and stamping the
        set's grouping id; unioned finest-first."""
        dtypes = dict(src.dtypes)
        parts = []
        for s in grouping_sets:
            agg = src.groupBy(*s).agg(
                count_expr.alias("mv_count"),
                *[F.sum(val("sum_", c)).alias(f"sum_{c}") for c in sums],
                *[F.min(val("min_", c)).alias(f"min_{c}") for c in mins],
                *[F.max(val("max_", c)).alias(f"max_{c}") for c in maxs],
            )
            parts.append(
                agg.select(
                    *[
                        F.col(k)
                        if k in s
                        else F.lit(None).cast(dtypes[k]).alias(k)
                        for k in keys
                    ],
                    F.lit(_grouping_id(keys, s)).cast("long").alias("gid"),
                    "mv_count",
                    *[f"sum_{c}" for c in sums],
                    *[f"min_{c}" for c in mins],
                    *[f"max_{c}" for c in maxs],
                )
            )
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return out

    if chosen is not None:
        _, p, _meta = chosen
        view = read_mv(spark, p)
        out = _union_sets(
            view,
            F.sum("mv_count").cast("long"),
            lambda pre, c: F.col(f"{pre}{c}"),
        )
        return out, p

    # miss: native groupingSets keeps it ONE base scan (Expand), not n
    base = read_snapshot(spark, base_path, base_current)
    out = base.groupingSets(grouping_sets, *[F.col(k) for k in keys]).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("mv_count"),
        *[F.sum(c).alias(f"sum_{c}") for c in sums],
        *[F.min(c).alias(f"min_{c}") for c in mins],
        *[F.max(c).alias(f"max_{c}") for c in maxs],
    )
    out = out.select(
        *keys,
        "gid",
        "mv_count",
        *[f"sum_{c}" for c in sums],
        *[f"min_{c}" for c in mins],
        *[f"max_{c}" for c in maxs],
    )
    return out, None


def _join_shape(meta: dict) -> set[tuple[str, tuple[str, ...]]]:
    """A view's join spec as an order-free multiset-of-tables key:
    {(abspath, sorted on-cols), ...} with the fact keyed by on=().
    Inner equi-join content is order-independent, so two specs with equal
    shapes materialize the same relation."""
    return {(p, tuple(sorted(on))) for p, on in zip(meta["paths"], meta["ons"])}


def _join_fresh(meta: dict) -> bool:
    return all(
        _fresh(p, sv, current_version(p))
        for sv, p in zip(meta["versions_synced"], meta["paths"])
    )


def answer_join_aggregate(
    spark: SparkSession,
    fact_path: str,
    dims: list[dict],
    keys: list[str],
    sums: list[str],
    mv_paths: list[str],
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    allow_stale: bool = False,
) -> tuple[DataFrame, str | None]:
    """Answer ``SELECT keys, COUNT(*) AS mv_count, SUM(sums…) FROM fact
    JOIN dim₁ USING (…) … GROUP BY keys`` — from the best compatible fresh
    join/star view if one exists, else by executing the join over every
    table's current snapshot. Compatibility: the view joins EXACTLY this
    multiset of (table, on-columns) — join containment beyond equality is
    out of scope — plus the usual keys/sums subsumption and per-table
    freshness. Returns ``(result, chosen_mv_path_or_None)``.

    100 TB posture: a hit replaces the fact-sized join + shuffle with a
    roll-up over the view's groups; the freshness test is N cheap
    manifest reads, no data I/O."""
    mins, maxs = list(mins or []), list(maxs or [])
    want = {(os.path.abspath(fact_path), ())} | {
        (os.path.abspath(d["path"]), tuple(sorted(d["on"]))) for d in dims
    }
    chosen: tuple[int, str, dict] | None = None
    for p in mv_paths:
        try:
            meta = _load_meta(p)
        except FileNotFoundError:
            continue
        if _join_shape(meta) != want:
            continue
        if not set(keys) <= set(meta["keys"]):
            continue
        if not set(sums) <= set(meta["sums"]):
            continue
        if not set(mins) <= set(meta["mins"]):
            continue
        if not set(maxs) <= set(meta["maxs"]):
            continue
        if not allow_stale and not _join_fresh(meta):
            continue
        width = len(meta["keys"])
        if chosen is None or width < chosen[0]:
            chosen = (width, p, meta)

    if chosen is not None:
        _, p, _meta = chosen
        view = read_mv(spark, p)
        out = view.groupBy(*keys).agg(
            F.sum("mv_count").cast("long").alias("mv_count"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums],
            *[F.min(f"min_{c}").alias(f"min_{c}") for c in mins],
            *[F.max(f"max_{c}").alias(f"max_{c}") for c in maxs],
        )
        return out, p

    acc = read_snapshot(spark, fact_path)
    for d in dims:
        acc = acc.join(read_snapshot(spark, d["path"]), list(d["on"]))
    out = acc.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("mv_count"),
        *[F.sum(c).alias(f"sum_{c}") for c in sums],
        *[F.min(c).alias(f"min_{c}") for c in mins],
        *[F.max(c).alias(f"max_{c}") for c in maxs],
    )
    return out, None
