"""MV rewrite (sinks/mv_rewrite.py): grouped aggregates must be answered
FROM a compatible, fresh maintained view by roll-up — never touching the
base table — and must fall back to a base scan (same output schema) when
no view subsumes the request or the candidates are stale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import fxa_amplitude_send_spark.sinks.mv_rewrite as mvr
from fxa_amplitude_send_spark.sinks.materialized_view import (
    create_mv,
    refresh_mv,
)
from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_aggregate
from fxa_amplitude_send_spark.sinks.versioned import (
    append_snapshot,
    delete_snapshot,
    write_snapshot,
)
from fxa_amplitude_send_spark.sources import load_table


@pytest.fixture()
def base(spark, sf_smoke, tmp_path):
    ev = load_table(spark, sf_smoke, "events").select(
        "event_id",
        "event_type",
        (F.col("event_id") % 3).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    p = str(tmp_path / "base")
    write_snapshot(ev, p)
    return p


@pytest.fixture()
def fine_mv(spark, base, tmp_path):
    p = str(tmp_path / "fine")
    create_mv(
        spark, base, p,
        keys=["event_type", "bucket"], sums=["value_c"],
        mins=["value_c"], maxs=["value_c"],
    )
    return p


def _expect(spark, base, keys):
    from fxa_amplitude_send_spark.sinks.versioned import read_snapshot

    return {
        tuple(r[k] for k in keys): (
            r["mv_count"], r["sum_value_c"], r["min_value_c"], r["max_value_c"]
        )
        for r in read_snapshot(spark, base)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.sum("value_c").alias("sum_value_c"),
            F.min("value_c").alias("min_value_c"),
            F.max("value_c").alias("max_value_c"),
        )
        .collect()
    }


def _got(df, keys):
    return {
        tuple(r[k] for k in keys): (
            r["mv_count"], r["sum_value_c"], r["min_value_c"], r["max_value_c"]
        )
        for r in df.collect()
    }


def test_rewrite_rolls_up_from_fine_mv(spark, base, fine_mv):
    """Coarser grouping (event_type ⊂ {event_type, bucket}) answers from
    the view by re-aggregation and matches a from-scratch recompute."""
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"],
        mins=["value_c"], maxs=["value_c"], mv_paths=[fine_mv],
    )
    assert src == fine_mv
    assert _got(out, ["event_type"]) == _expect(spark, base, ["event_type"])


def test_rewrite_never_reads_base(spark, base, fine_mv, monkeypatch):
    """The cost claim, pinned: an MV-answered query must not scan the
    base — only the view."""
    reads = []
    real = mvr.read_snapshot
    monkeypatch.setattr(
        mvr, "read_snapshot",
        lambda spark, path, version=None: (
            reads.append(path), real(spark, path, version)
        )[1],
    )
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"],
        mv_paths=[fine_mv],
    )
    out.collect()
    assert src == fine_mv
    assert base not in reads


def test_rewrite_falls_back_on_unsubsumed_key(spark, base, fine_mv):
    """Grouping by a column the view doesn't carry → base scan, same
    output shape."""
    out, src = answer_aggregate(
        spark, base, keys=["event_id"], sums=["value_c"], mv_paths=[fine_mv],
    )
    assert src is None
    assert out.columns == ["event_id", "mv_count", "sum_value_c"]
    assert out.count() > 0


def test_rewrite_falls_back_on_unsubsumed_measure(spark, base, fine_mv):
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["event_id"],
        mv_paths=[fine_mv],
    )
    assert src is None


def test_rewrite_skips_stale_mv_unless_opted_in(spark, base, fine_mv, sf_smoke):
    """Base moves after the view's last refresh → the view is stale and
    must be skipped (silent staleness is the classic rewrite bug); with
    allow_stale=True the caller gets the fast-but-old answer; after a
    refresh the view qualifies again and reflects the new state."""
    ev = load_table(spark, sf_smoke, "events").select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        "event_type",
        (F.col("event_id") % 3).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    append_snapshot(ev, base)
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"], mv_paths=[fine_mv],
    )
    assert src is None  # stale view skipped, base answered
    fresh = _got(
        out.select("event_type", "mv_count", "sum_value_c",
                   F.lit(0).alias("min_value_c"), F.lit(0).alias("max_value_c")),
        ["event_type"],
    )
    stale_out, stale_src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"],
        mv_paths=[fine_mv], allow_stale=True,
    )
    assert stale_src == fine_mv
    assert stale_out.agg(F.sum("mv_count")).collect()[0][0] < sum(
        n for n, *_ in fresh.values()
    )
    refresh_mv(spark, fine_mv)
    out2, src2 = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"], mv_paths=[fine_mv],
    )
    assert src2 == fine_mv
    assert {
        k: v[0] for k, v in _got(
            out2.select("event_type", "mv_count", "sum_value_c",
                        F.lit(0).alias("min_value_c"),
                        F.lit(0).alias("max_value_c")),
            ["event_type"],
        ).items()
    } == {k: v[0] for k, v in fresh.items()}


def test_rewrite_prefers_coarsest_compatible_mv(spark, base, fine_mv, tmp_path):
    """Two qualifying views: the one with fewer group keys has fewer rows
    to roll up and must win."""
    coarse = str(tmp_path / "coarse")
    create_mv(spark, base, coarse, keys=["event_type"], sums=["value_c"])
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"],
        mv_paths=[fine_mv, coarse],
    )
    assert src == coarse
    assert _got(
        out.select("event_type", "mv_count", "sum_value_c",
                   F.lit(0).alias("min_value_c"), F.lit(0).alias("max_value_c")),
        ["event_type"],
    ).keys() == _expect(spark, base, ["event_type"]).keys()


def test_rewrite_count_only_and_minmax_rollup(spark, base, fine_mv):
    """COUNT(*) answers as SUM(mv_count); MIN/MAX roll up as MIN of
    partial MINs / MAX of partial MAXs — checked after a delete so the
    recompute-on-retraction path feeds the rewrite too."""
    delete_snapshot(spark, base, "value_c >= 7500")
    refresh_mv(spark, fine_mv)
    out, src = answer_aggregate(
        spark, base, keys=["bucket"], sums=[],
        mins=["value_c"], maxs=["value_c"], mv_paths=[fine_mv],
    )
    assert src == fine_mv
    got = {
        r["bucket"]: (r["mv_count"], r["min_value_c"], r["max_value_c"])
        for r in out.collect()
    }
    expect = {
        k[0]: (v[0], v[2], v[3])
        for k, v in _expect(spark, base, ["bucket"]).items()
    }
    assert got == expect


def test_rewrite_join_and_star_views_are_not_candidates(
    spark, base, fine_mv, tmp_path, sf_smoke
):
    """A join/star view over the same base must never answer a single-base
    aggregate (its rows are join results, not base rows)."""

    dim = load_table(spark, sf_smoke, "events").select(
        "event_type", F.lit(1).alias("one")
    ).distinct()
    dp, jp = str(tmp_path / "dim"), str(tmp_path / "join")
    write_snapshot(dim, dp)
    create_mv(
        spark, base, jp, keys=["bucket"], sums=["value_c"],
        dims=[{"path": dp, "on": ["event_type"]}],
    )
    out, src = answer_aggregate(
        spark, base, keys=["bucket"], sums=["value_c"], mv_paths=[jp],
    )
    assert src is None


# --- join/star view answering -------------------------------------------


@pytest.fixture()
def star_tables(spark, sf_smoke, tmp_path):
    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    cust = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        "c_mktsegment",
    )
    nation = load_table(spark, sf_smoke, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    fp, cp, np_ = (
        str(tmp_path / "sf"), str(tmp_path / "sc"), str(tmp_path / "sn")
    )
    write_snapshot(orders, fp)
    write_snapshot(cust, cp)
    write_snapshot(nation, np_)
    smv = str(tmp_path / "smv")
    create_mv(
        spark, fp, smv, keys=["n_name", "c_mktsegment"], sums=["price_c"],
        dims=[{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}],
    )
    return fp, cp, np_, smv


def _join_expect(spark, fp, cp, np_, keys):
    from fxa_amplitude_send_spark.sinks.versioned import read_snapshot

    return {
        tuple(r[k] for k in keys): (r["mv_count"], r["sum_price_c"])
        for r in read_snapshot(spark, fp)
        .join(read_snapshot(spark, cp), "custkey")
        .join(read_snapshot(spark, np_), "nationkey")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.sum("price_c").alias("sum_price_c"),
        )
        .collect()
    }


def test_join_rewrite_answers_from_star_view(spark, star_tables):
    from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_join_aggregate

    fp, cp, np_, smv = star_tables
    dims = [{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}]
    out, src = answer_join_aggregate(
        spark, fp, dims, keys=["n_name"], sums=["price_c"], mv_paths=[smv],
    )
    assert src == smv
    got = {r["n_name"]: (r["mv_count"], r["sum_price_c"]) for r in out.collect()}
    assert got == {
        k[0]: v for k, v in _join_expect(spark, fp, cp, np_, ["n_name"]).items()
    }


def test_join_rewrite_never_reads_base_tables(spark, star_tables, monkeypatch):
    from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_join_aggregate

    fp, cp, np_, smv = star_tables
    reads = []
    real = mvr.read_snapshot
    monkeypatch.setattr(
        mvr, "read_snapshot",
        lambda spark, path, version=None: (
            reads.append(path), real(spark, path, version)
        )[1],
    )
    dims = [{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}]
    out, src = answer_join_aggregate(
        spark, fp, dims, keys=["c_mktsegment"], sums=["price_c"],
        mv_paths=[smv],
    )
    out.collect()
    assert src == smv
    assert fp not in reads and cp not in reads and np_ not in reads


def test_join_rewrite_order_free_but_shape_exact(spark, star_tables):
    """Dim order doesn't matter (inner equi-join content is the same
    relation) — but a DIFFERENT join spec (missing dim / different keys)
    must fall back."""
    from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_join_aggregate

    fp, cp, np_, smv = star_tables
    reordered = [
        {"path": np_, "on": ["nationkey"]}, {"path": cp, "on": ["custkey"]}
    ]
    out, src = answer_join_aggregate(
        spark, fp, reordered, keys=["n_name"], sums=["price_c"],
        mv_paths=[smv],
    )
    assert src == smv
    missing_dim = [{"path": cp, "on": ["custkey"]}]
    out2, src2 = answer_join_aggregate(
        spark, fp, missing_dim, keys=["c_mktsegment"], sums=["price_c"],
        mv_paths=[smv],
    )
    assert src2 is None
    assert out2.count() > 0  # fallback executed the requested join


def test_join_rewrite_skips_stale_until_refreshed(spark, star_tables):
    from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_join_aggregate
    from fxa_amplitude_send_spark.sinks.versioned import read_snapshot

    fp, cp, np_, smv = star_tables
    delete_snapshot(spark, np_, "nationkey >= 20")  # dim moves → stale
    dims = [{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}]
    out, src = answer_join_aggregate(
        spark, fp, dims, keys=["n_name"], sums=["price_c"], mv_paths=[smv],
    )
    assert src is None
    expect = _join_expect(spark, fp, cp, np_, ["n_name"])
    got = {r["n_name"]: (r["mv_count"], r["sum_price_c"]) for r in out.collect()}
    assert got == {k[0]: v for k, v in expect.items()}
    refresh_mv(spark, smv)
    out2, src2 = answer_join_aggregate(
        spark, fp, dims, keys=["n_name"], sums=["price_c"], mv_paths=[smv],
    )
    assert src2 == smv
    got2 = {
        r["n_name"]: (r["mv_count"], r["sum_price_c"]) for r in out2.collect()
    }
    assert got2 == {k[0]: v for k, v in expect.items()}


def test_rewrite_survives_base_compaction(spark, base, fine_mv):
    """Compaction bumps the base version without changing content; the
    view must still be considered FRESH (manifest-kind check), not fall
    back to a base scan."""
    from fxa_amplitude_send_spark.sinks.versioned import compact_snapshot

    compact_snapshot(spark, base, target_files=2)
    out, src = answer_aggregate(
        spark, base, keys=["event_type"], sums=["value_c"], mv_paths=[fine_mv],
    )
    assert src == fine_mv
    assert {
        k: v[:2] for k, v in _got(
            out.select("event_type", "mv_count", "sum_value_c",
                       F.lit(0).alias("min_value_c"),
                       F.lit(0).alias("max_value_c")),
            ["event_type"],
        ).items()
    } == {k: v[:2] for k, v in _expect(spark, base, ["event_type"]).items()}


def test_join_rewrite_survives_dim_compaction(spark, star_tables):
    from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_join_aggregate
    from fxa_amplitude_send_spark.sinks.versioned import compact_snapshot

    fp, cp, np_, smv = star_tables
    compact_snapshot(spark, cp, target_files=2)
    dims = [{"path": cp, "on": ["custkey"]}, {"path": np_, "on": ["nationkey"]}]
    out, src = answer_join_aggregate(
        spark, fp, dims, keys=["n_name"], sums=["price_c"], mv_paths=[smv],
    )
    assert src == smv


def test_join_rewrite_minmax_rollup_and_subsumption(spark, sf_smoke, tmp_path):
    """A star view carrying MIN/MAX answers a coarser min/max join
    aggregate by extreme roll-up; a request for an uncovered extreme
    column falls back."""
    from fxa_amplitude_send_spark.sinks.mv_rewrite import answer_join_aggregate
    from fxa_amplitude_send_spark.sinks.versioned import read_snapshot

    orders = load_table(spark, sf_smoke, "orders").select(
        F.col("o_custkey").alias("custkey"),
        (F.col("o_orderkey") % 4).alias("obucket"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment", "c_acctbal"
    )
    fp, dp, smv = (
        str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "mv")
    )
    write_snapshot(orders, fp)
    write_snapshot(cust, dp)
    create_mv(
        spark, fp, smv, keys=["c_mktsegment", "obucket"], sums=[],
        mins=["o_totalprice"], maxs=["o_totalprice"],
        dims=[{"path": dp, "on": ["custkey"]}],
    )
    dims = [{"path": dp, "on": ["custkey"]}]
    out, src = answer_join_aggregate(
        spark, fp, dims, keys=["c_mktsegment"], sums=[],
        mins=["o_totalprice"], maxs=["o_totalprice"], mv_paths=[smv],
    )
    assert src == smv
    got = {
        r["c_mktsegment"]: (r["mv_count"], round(r["min_o_totalprice"], 2),
                            round(r["max_o_totalprice"], 2))
        for r in out.collect()
    }
    expect = {
        r["c_mktsegment"]: (r["mv_count"], round(r["min_o_totalprice"], 2),
                            round(r["max_o_totalprice"], 2))
        for r in read_snapshot(spark, fp)
        .join(read_snapshot(spark, dp), "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mv_count"),
            F.min("o_totalprice").alias("min_o_totalprice"),
            F.max("o_totalprice").alias("max_o_totalprice"),
        )
        .collect()
    }
    assert got == expect
    out2, src2 = answer_join_aggregate(
        spark, fp, dims, keys=["c_mktsegment"], sums=[],
        mins=["c_acctbal"], maxs=[], mv_paths=[smv],
    )
    assert src2 is None  # c_acctbal extreme not carried by the view


# ---------------------------------------------------------------------------
# Grouping-sets / ROLLUP / CUBE rewrite (answer_grouping_sets)
# ---------------------------------------------------------------------------


def _gs_got(df, keys):
    return {
        tuple(r[k] for k in keys) + (r["gid"],): (r["mv_count"], r["sum_value_c"])
        for r in df.collect()
    }


def test_grouping_sets_helpers():
    from fxa_amplitude_send_spark.sinks.mv_rewrite import (
        _grouping_id,
        cube_sets,
        rollup_sets,
    )

    assert rollup_sets(["a", "b"]) == [["a", "b"], ["a"], []]
    assert sorted(map(tuple, cube_sets(["a", "b"]))) == [
        (), ("a",), ("a", "b"), ("b",),
    ]
    # Spark/DuckDB bit layout: leftmost key = MSB, set when aggregated away
    assert _grouping_id(["a", "b"], ["a", "b"]) == 0
    assert _grouping_id(["a", "b"], ["a"]) == 1
    assert _grouping_id(["a", "b"], ["b"]) == 2
    assert _grouping_id(["a", "b"], []) == 3


def test_cube_from_view_matches_native_groupingsets(spark, base, fine_mv):
    """The view-answered CUBE must be row-for-row identical to Spark's
    native groupingSets over the base — including the grouping-id bit
    layout, which is what proves our manual gid matches grouping_id()."""
    from fxa_amplitude_send_spark.sinks.mv_rewrite import (
        answer_grouping_sets,
        cube_sets,
    )

    keys = ["event_type", "bucket"]
    out, src = answer_grouping_sets(
        spark, base, keys, cube_sets(keys), sums=["value_c"],
        mv_paths=[fine_mv],
    )
    assert src == fine_mv
    native, nsrc = answer_grouping_sets(
        spark, base, keys, cube_sets(keys), sums=["value_c"], mv_paths=[],
    )
    assert nsrc is None
    assert _gs_got(out, keys) == _gs_got(native, keys)
    # sanity: 4 grouping sets -> grand total row present exactly once
    grand = [r for r in out.collect() if r["gid"] == 3]
    assert len(grand) == 1


def test_rollup_from_view_after_movement(spark, base, fine_mv):
    """ROLLUP answered from the view AFTER an append + delete + refresh
    reflects the final base state (the maintained-view path, not a stale
    cache)."""
    from fxa_amplitude_send_spark.sinks.mv_rewrite import (
        answer_grouping_sets,
        rollup_sets,
    )

    delete_snapshot(spark, base, "event_type = 'error'")
    refresh_mv(spark, fine_mv)
    keys = ["event_type", "bucket"]
    out, src = answer_grouping_sets(
        spark, base, keys, rollup_sets(keys), sums=["value_c"],
        mins=["value_c"], maxs=["value_c"], mv_paths=[fine_mv],
    )
    assert src == fine_mv
    native, _ = answer_grouping_sets(
        spark, base, keys, rollup_sets(keys), sums=["value_c"],
        mins=["value_c"], maxs=["value_c"], mv_paths=[],
    )
    got = {
        tuple(r[k] for k in keys) + (r["gid"],): (
            r["mv_count"], r["sum_value_c"], r["min_value_c"], r["max_value_c"]
        )
        for r in out.collect()
    }
    exp = {
        tuple(r[k] for k in keys) + (r["gid"],): (
            r["mv_count"], r["sum_value_c"], r["min_value_c"], r["max_value_c"]
        )
        for r in native.collect()
    }
    assert got == exp
    assert all(k[0] != "error" for k in got if k[-1] in (0, 1))


def test_grouping_sets_never_reads_base_on_hit(spark, base, fine_mv, monkeypatch):
    from fxa_amplitude_send_spark.sinks.mv_rewrite import (
        answer_grouping_sets,
        rollup_sets,
    )

    reads = []
    real = mvr.read_snapshot
    monkeypatch.setattr(
        mvr, "read_snapshot",
        lambda spark, path, version=None: (
            reads.append(path), real(spark, path, version)
        )[1],
    )
    keys = ["event_type", "bucket"]
    out, src = answer_grouping_sets(
        spark, base, keys, rollup_sets(keys), sums=["value_c"],
        mv_paths=[fine_mv],
    )
    out.collect()
    assert src == fine_mv
    assert base not in reads


def test_grouping_sets_stale_and_invalid(spark, base, fine_mv, sf_smoke):
    """Stale view → base fallback with identical schema; a grouping set
    outside the key list refuses loudly."""
    from fxa_amplitude_send_spark.sinks.mv_rewrite import (
        answer_grouping_sets,
        rollup_sets,
    )

    keys = ["event_type", "bucket"]
    ev = load_table(spark, sf_smoke, "events").select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        "event_type",
        (F.col("event_id") % 3).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    append_snapshot(ev, base)
    out, src = answer_grouping_sets(
        spark, base, keys, rollup_sets(keys), sums=["value_c"],
        mv_paths=[fine_mv],
    )
    assert src is None
    assert out.columns == ["event_type", "bucket", "gid", "mv_count",
                           "sum_value_c"]
    with pytest.raises(ValueError, match="not a subset"):
        answer_grouping_sets(
            spark, base, keys, [["event_id"]], sums=["value_c"],
            mv_paths=[fine_mv],
        )
