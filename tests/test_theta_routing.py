"""CREATE-time structured-theta routing (rewrite._routed_theta_join).

The delta rules for theta conditions were always broadcast-delta-shaped;
what used to be wrong-plan (not wrong-answer) was the PLAIN
materialization of a theta view — compute_view handed Catalyst the raw
non-equi condition and got a BroadcastNestedLoopJoin.  These tests pin
the routing decision table (README "theta joins"):

    one-sided comparison  → ineqjoin dyadic plan (pure hash equi joins)
    point-in-interval     → rangejoin banded plan
    equi conjunct present → NOT routed (Catalyst hash-joins already)
    anything else         → NOT routed (general fallback)

and verify every routed shape against the raw Catalyst join as oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark.engine import IVMEngine
from ivm_extension_spark.operators import rewrite
from ivm_extension_spark.operators.rewrite import (
    _classify_theta,
    _split_cmp,
    compute_view,
)
from ivm_extension_spark.plans.viewdef import Aggregate, JoinSpec, ViewDef


@pytest.fixture(autouse=True)
def force_routing(monkeypatch):
    # production routes only big×big (a small side broadcast-NLJs in
    # linear work); the fixtures here are tiny, so drop the size gate to
    # exercise the routed plans
    monkeypatch.setattr(rewrite, "_ROUTE_MIN_ROWS", 0)

ONE_SIDED = "pts.price < rules.cutoff * rules.scale"
INTERVAL = "pts.price >= iv.lo AND pts.price <= iv.hi"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def tabs(spark):
    pts = spark.createDataFrame(
        [(i, float(i % 97) * 10) for i in range(500)], "k int, price double"
    )
    rules = spark.createDataFrame(
        [("a", 200.0, 1.5), ("b", 400.0, 0.5), ("c", 50.0, 2.0)],
        "tname string, cutoff double, scale double",
    )
    iv = spark.createDataFrame(
        [("x", 100.0, 300.0), ("y", 250.0, 800.0), ("empty", 5000.0, 6000.0)],
        "iname string, lo double, hi double",
    )
    return {"pts": pts, "rules": rules, "iv": iv}


def norm(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def oracle(tabs, cond, how, cols):
    exp = tabs["pts"].alias("pts").join(
        tabs["rules"].alias("rules"), F.expr(cond), how
    )
    return norm(exp.select(*cols).collect())


@pytest.mark.parametrize("how", ["inner", "left", "full", "semi", "anti"])
def test_one_sided_sql_view_routes_dyadic_and_matches_catalyst(tabs, how):
    cols = (
        ["k", "price"]
        if how in ("semi", "anti")
        else ["k", "price", "tname", "cutoff", "scale"]
    )
    v = ViewDef(
        name="v",
        source="pts",
        select=tuple((c, c) for c in cols),
        joins=(JoinSpec("rules", ONE_SIDED, how),),
    )
    out = compute_view(v, tabs.__getitem__)
    plan = physical(out)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    got = norm(out.collect())
    assert got == oracle(tabs, ONE_SIDED, how, cols)


@pytest.mark.parametrize("how", ["inner", "left", "full"])
def test_interval_sql_view_routes_banded_and_matches_catalyst(tabs, how):
    v = ViewDef(
        name="v",
        source="pts",
        select=(("k", "k"), ("price", "price"), ("iname", "iname")),
        joins=(JoinSpec("iv", INTERVAL, how),),
    )
    out = compute_view(v, tabs.__getitem__)
    plan = physical(out)
    assert "BroadcastNestedLoop" not in plan, plan
    exp = (
        tabs["pts"].alias("pts")
        .join(tabs["iv"].alias("iv"), F.expr(INTERVAL), how)
        .select("k", "price", "iname")
    )
    got = norm(out.collect())
    assert got == norm(exp.collect())


def test_strict_interval_bounds_ride_extra_cond(tabs):
    cond = "pts.price > iv.lo AND pts.price < iv.hi"
    v = ViewDef(
        name="v",
        source="pts",
        select=(("k", "k"), ("iname", "iname")),
        joins=(JoinSpec("iv", cond, "inner"),),
    )
    out = compute_view(v, tabs.__getitem__)
    exp = (
        tabs["pts"].alias("pts")
        .join(tabs["iv"].alias("iv"), F.expr(cond), "inner")
        .select("k", "iname")
    )
    assert norm(out.collect()) == norm(exp.collect())


def test_residual_conjunct_changes_match_set_for_outer(tabs):
    # the residual (k % 2 = 0) must be part of the MATCH definition, not
    # a post-filter: odd-k rows stay, NULL-padded, in a LEFT join
    cond = "pts.price < rules.cutoff * rules.scale AND pts.k % 2 = 0"
    cols = ["k", "price", "tname"]
    v = ViewDef(
        name="v",
        source="pts",
        select=tuple((c, c) for c in cols),
        joins=(JoinSpec("rules", cond, "left"),),
    )
    out = compute_view(v, tabs.__getitem__)
    assert norm(out.collect()) == oracle(tabs, cond, "left", cols)


def test_equi_conjunct_is_not_routed(tabs):
    # Catalyst extracts the equi key and hash-joins with the theta part
    # as residual — routing would only add explode overhead
    cond = "pts.k = rules.cutoff AND pts.price < rules.scale"
    v = ViewDef(
        name="v",
        source="pts",
        select=(("k", "k"),),
        joins=(JoinSpec("rules", cond, "inner"),),
    )
    out = compute_view(v, tabs.__getitem__)
    plan = physical(out)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "__dy_lvl" not in plan and "__rng_pv" not in plan, plan


def test_aggregate_view_over_routed_theta(tabs):
    # downstream GROUP BY/aggregate expressions survive the qualifier
    # strip that follows routing
    v = ViewDef(
        name="v",
        source="pts",
        select=(("rules.tname", "tname"),),
        aggregates=(Aggregate("sum", "pts.price", "total"),),
        group_by=("rules.tname",),
        joins=(JoinSpec("rules", ONE_SIDED, "inner"),),
    )
    out = compute_view(v, tabs.__getitem__)
    exp = (
        tabs["pts"].alias("pts")
        .join(tabs["rules"].alias("rules"), F.expr(ONE_SIDED), "inner")
        .groupBy(F.col("tname"))
        .agg(F.sum("price").alias("total"))
    )
    assert norm(out.collect()) == norm(exp.collect())


def test_sql_front_one_sided_lifecycle_end_to_end(spark, tabs):
    # full engine pass: CREATE (routed, no NLJ) → delta → upsert → merge
    # equals recompute over the post-delta bases
    eng = IVMEngine(spark)
    eng.register_table("pts", tabs["pts"])
    eng.register_table("rules", tabs["rules"])
    eng.register_delta(
        "pts",
        spark.createDataFrame(
            [(1000, 90.0, True), (0, 0.0, False)],
            "k int, price double, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT k, price, tname FROM pts "
        "JOIN rules ON price < cutoff * scale",
    )
    eng.ivm_upsert("v")
    merged = eng.merge_view("v")
    new_pts = tabs["pts"].filter("k <> 0").unionByName(
        spark.createDataFrame([(1000, 90.0)], "k int, price double")
    )
    exp = (
        new_pts.alias("pts")
        .join(tabs["rules"].alias("rules"), F.expr(ONE_SIDED), "inner")
        .select("k", "price", "tname")
    )
    assert norm(merged.collect()) == norm(exp.collect())


def test_small_side_keeps_broadcast_nlj(tabs, monkeypatch):
    # production gate: a side under _ROUTE_MIN_ROWS broadcast-NLJs in
    # linear work — routing would only add explode/checkpoint overhead
    # (measured 4x slower on 3-row-dimension lifecycles)
    monkeypatch.setattr(rewrite, "_ROUTE_MIN_ROWS", 10_000)
    v = ViewDef(
        name="v",
        source="pts",
        select=(("k", "k"), ("tname", "tname")),
        joins=(JoinSpec("rules", ONE_SIDED, "inner"),),
    )
    out = compute_view(v, tabs.__getitem__)
    plan = physical(out)
    # not routed: no dyadic scratch in the plan (whether Catalyst then
    # picks BroadcastNestedLoop or CartesianProduct-with-condition is
    # its call — these memory-backed fixtures carry no size stats)
    assert "__dy_lvl" not in plan and "__rng_pv" not in plan, plan


def test_split_cmp_and_classify():
    assert _split_cmp("a.x < b.y") == ("a.x", "<", "b.y")
    assert _split_cmp("a.x <= b.y") == ("a.x", "<=", "b.y")
    assert _split_cmp("a.x <> b.y") is None
    assert _split_cmp("a.x != b.y") is None
    assert _split_cmp("a.x <=> b.y") is None
    assert _split_cmp("a.x < b.y AND c > d") is None  # two comparisons
    assert _split_cmp("transform(v, e -> e + 1)[0] < b.y") == (
        "transform(v, e -> e + 1)[0]", "<", "b.y",
    )
    # normalization flips a right-side-first comparison
    cls = _classify_theta(
        "rules.cutoff > pts.price", ["pts"], ["k", "price"],
        "rules", ["tname", "cutoff"],
    )
    assert cls is not None and cls["ineqs"] == [("pts.price", "<", "rules.cutoff")]
    # interval detection, points on the left
    cls = _classify_theta(
        "pts.price >= iv.lo AND pts.price <= iv.hi", ["pts"], ["k", "price"],
        "iv", ["iname", "lo", "hi"],
    )
    assert cls is not None and cls["range"] == (
        "pts.price", "iv.lo", "iv.hi", "l",
    )
    # equi conjunct anywhere -> None
    assert (
        _classify_theta(
            "pts.k = iv.iname AND pts.price <= iv.hi", ["pts"], ["k", "price"],
            "iv", ["iname", "lo", "hi"],
        )
        is None
    )


def test_between_band_routes_banded_like_its_comparison_spelling(
    spark, monkeypatch
):
    # BETWEEN is the SQL spelling of a band; big×big it must take the
    # banded plan, not a nested loop over 12k × 12k rows
    monkeypatch.setattr(rewrite, "_ROUTE_MIN_ROWS", 10_000)
    from ivm_extension_spark.operators import rangejoin

    calls = []
    real = rangejoin.range_join
    monkeypatch.setattr(
        rangejoin, "range_join", lambda *a, **kw: calls.append(1) or real(*a, **kw)
    )
    n = 12_000
    tabs = {
        "pts": spark.range(n).selectExpr("id AS k", "CAST(id AS DOUBLE) AS price"),
        "iv": spark.range(n).selectExpr(
            "id AS iid", "CAST(id AS DOUBLE) - 0.25 AS lo", "CAST(id AS DOUBLE) AS hi"
        ),
    }

    def view(cond):
        return ViewDef(
            name="v",
            source="pts",
            select=(("k", "k"), ("iid", "iid")),
            joins=(JoinSpec("iv", cond, "inner"),),
        )

    out = compute_view(view("pts.price BETWEEN iv.lo AND iv.hi"), tabs.__getitem__)
    assert calls, "BETWEEN band was not routed to range_join"
    plan = physical(out)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    exp = compute_view(
        view("pts.price >= iv.lo AND pts.price <= iv.hi"), tabs.__getitem__
    )
    got = norm(out.collect())
    assert len(got) == n
    assert got == norm(exp.collect())
