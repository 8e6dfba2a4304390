"""One-sided inequality (theta) join via dyadic decomposition
(operators/ineqjoin.py): result parity against the brute-force theta
join, delta-rule ⊎ invariant, plan shape (equi-joins only), and the
domain guard.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark.operators.ineqjoin import (
    _BIN,
    _binned,
    ineq_full_join,
    ineq_full_join_delta,
    ineq_join,
    ineq_join_delta,
    ineq_left_join,
    ineq_left_join_delta,
)
from ivm_extension_spark.operators.rewrite import MULT_COL


@pytest.fixture(scope="module")
def lr(spark):
    random.seed(11)
    L = [(i, round(random.uniform(0, 1000), 2)) for i in range(200)]
    R = [(j, round(random.uniform(0, 1000), 2)) for j in range(60)]
    return (
        spark.createDataFrame(L, "lid int, x double"),
        spark.createDataFrame(R, "rid int, y double"),
    )


@pytest.mark.parametrize("op", ["<", "<=", ">", ">="])
def test_matches_brute_force(spark, lr, op):
    l, r = lr
    got = {
        tuple(t)
        for t in ineq_join(l, r, "x", "y", op, bin_width=37.0, max_bins=64)
        .select("lid", "rid")
        .collect()
    }
    exp = {
        tuple(t)
        for t in l.crossJoin(r)
        .filter(F.expr(f"x {op} y"))
        .select("lid", "rid")
        .collect()
    }
    assert got == exp


def test_each_pair_matched_exactly_once(spark, lr):
    # the dyadic decomposition is canonical: no pair may be emitted
    # twice (a dup would double bag multiplicities in maintained views)
    l, r = lr
    out = ineq_join(l, r, "x", "y", "<", bin_width=37.0, max_bins=64)
    counts = Counter(tuple(t) for t in out.select("lid", "rid").collect())
    dupes = {k: n for k, n in counts.items() if n > 1}
    assert not dupes


def test_plan_has_no_nested_loop(spark, lr):
    l, r = lr
    plan = ineq_join(
        l, r, "x", "y", "<", bin_width=37.0, max_bins=64, broadcast="right"
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_key_cols_partition_the_comparison(spark):
    # with key_cols the inequality only pairs rows sharing the key —
    # brute-force parity within groups, no cross-group leakage
    l = spark.createDataFrame(
        [(1, "g1", 5.0), (2, "g1", 50.0), (3, "g2", 5.0)],
        "lid int, g string, x double",
    )
    r = spark.createDataFrame(
        [(10, "g1", 20.0), (11, "g2", 100.0)], "rid int, g string, y double"
    )
    got = {
        tuple(t)
        for t in ineq_join(
            l, r, "x", "y", "<", bin_width=8.0, max_bins=64, key_cols=("g",)
        )
        .select("lid", "rid")
        .collect()
    }
    exp = {
        tuple(t)
        for t in l.join(r.withColumnRenamed("g", "g2"), on=[F.expr("g = g2 AND x < y")])
        .select("lid", "rid")
        .collect()
    }
    assert got == exp == {(1, 10), (3, 11)}


def test_domain_guard_raises(spark):
    l = spark.createDataFrame([(1, -5.0)], "lid int, x double")
    r = spark.createDataFrame([(1, 10.0)], "rid int, y double")
    with pytest.raises(Exception, match="dyadic domain"):
        ineq_join(l, r, "x", "y", "<", bin_width=1.0, max_bins=64).collect()


def test_binned_rejects_existing_bin_column(spark):
    # a second bin column would silently shadow the first
    df = spark.createDataFrame([(1.0, 0)], f"x double, `{_BIN}` bigint")
    with pytest.raises(ValueError, match="reserved bin column"):
        _binned(df, "x", 1.0, 6, 0.0)


@pytest.mark.parametrize("bin_width, origin", [(float("inf"), 0.0), (1.0, float("nan"))])
def test_binned_rejects_non_finite_axis(spark, bin_width, origin):
    # inf/nan would otherwise reach the SQL text as `infD` / `nanD`
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="finite"):
        _binned(df, "x", bin_width, 6, origin)


@pytest.mark.parametrize("op", ["<", ">="])
def test_left_join_matches_brute_force(spark, lr, op):
    l, r = lr
    got = Counter(
        tuple(t)
        for t in ineq_left_join(l, r, "x", "y", op, bin_width=37.0, max_bins=64)
        .select("lid", "rid")
        .collect()
    )
    exp = Counter(
        tuple(t)
        for t in l.join(r, on=F.expr(f"x {op} y"), how="left")
        .select("lid", "rid")
        .collect()
    )
    assert got == exp


def test_left_join_delta_merge_equals_recompute(spark, lr):
    # the banded-outer counting algebra with the dyadic matcher: merged
    # V ⊎ ΔV equals the LEFT theta recompute over the post-delta tables
    l, r = lr
    dl = l.filter("lid % 7 = 0").withColumn(MULT_COL, F.expr("lid % 2 = 0"))
    # delete enough right rows that some left rows lose their LAST match
    # (the +1 flip), and insert a high cutoff that gives matchless rows a
    # first match (the -1 flip)
    dr = (
        r.filter("rid % 3 = 0")
        .withColumn(MULT_COL, F.lit(False))
        .unionByName(
            spark.createDataFrame(
                [(900, 999.5, True)], f"rid int, y double, {MULT_COL} boolean"
            )
        )
    )
    dv = ineq_left_join_delta(l, r, dl, dr, "x", "y", "<", 37.0, 64)
    v_old = ineq_left_join(l, r, "x", "y", "<", 37.0, 64)
    cols = v_old.columns
    merged = (
        v_old.withColumn("__s", F.lit(1))
        .unionByName(
            dv.withColumn(
                "__s", F.when(F.col(MULT_COL), F.lit(1)).otherwise(F.lit(-1))
            ).drop(MULT_COL)
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__n"))
        .filter(F.col("__n") > 0)
        .select(*cols, F.explode(F.expr("sequence(1, __n)")).alias("__i"))
        .drop("__i")
    )
    l2 = l.exceptAll(l.filter("lid % 7 = 0 AND lid % 2 != 0")).unionByName(
        l.filter("lid % 7 = 0 AND lid % 2 = 0")
    )
    r2 = r.exceptAll(r.filter("rid % 3 = 0")).unionByName(
        spark.createDataFrame([(900, 999.5)], "rid int, y double")
    )
    exp = l2.join(r2, on=F.expr("x < y"), how="left").select(*cols)
    got_c = Counter(tuple(t) for t in merged.collect())
    exp_c = Counter(tuple(t) for t in exp.collect())
    assert got_c == exp_c


@pytest.mark.parametrize("op", ["<", ">="])
def test_full_join_matches_brute_force(spark, lr, op):
    l, r = lr
    got = Counter(
        tuple(t)
        for t in ineq_full_join(l, r, "x", "y", op, bin_width=37.0, max_bins=64)
        .select("lid", "rid")
        .collect()
    )
    exp = Counter(
        tuple(t)
        for t in l.join(r, on=F.expr(f"x {op} y"), how="full")
        .select("lid", "rid")
        .collect()
    )
    assert got == exp


def test_full_join_delta_merge_equals_recompute(spark, lr):
    # both preserved sides under a mixed insert/delete batch: deleting
    # the high cutoffs makes left rows flip to NULL-padded, deleting
    # left rows below small cutoffs makes right rows flip, and the
    # inserted rows exercise both -1 crossings
    l, r = lr
    dl = l.filter("lid % 7 = 0").withColumn(MULT_COL, F.expr("lid % 2 = 0"))
    dr = (
        r.filter("rid % 3 = 0")
        .withColumn(MULT_COL, F.lit(False))
        .unionByName(
            spark.createDataFrame(
                [(900, 999.5, True), (901, -0.5, True)],
                f"rid int, y double, {MULT_COL} boolean",
            )
        )
    )
    dv = ineq_full_join_delta(l, r, dl, dr, "x", "y", "<", 37.0, 64, origin=-37.0)
    v_old = ineq_full_join(l, r, "x", "y", "<", 37.0, 64, origin=-37.0)
    cols = v_old.columns
    merged = (
        v_old.withColumn("__s", F.lit(1))
        .unionByName(
            dv.withColumn(
                "__s", F.when(F.col(MULT_COL), F.lit(1)).otherwise(F.lit(-1))
            ).drop(MULT_COL)
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__n"))
        .filter(F.col("__n") > 0)
        .select(*cols, F.explode(F.expr("sequence(1, __n)")).alias("__i"))
        .drop("__i")
    )
    l2 = l.exceptAll(l.filter("lid % 7 = 0 AND lid % 2 != 0")).unionByName(
        l.filter("lid % 7 = 0 AND lid % 2 = 0")
    )
    r2 = r.exceptAll(r.filter("rid % 3 = 0")).unionByName(
        spark.createDataFrame([(900, 999.5), (901, -0.5)], "rid int, y double")
    )
    exp = l2.join(r2, on=F.expr("x < y"), how="full").select(*cols)
    got_c = Counter(tuple(t) for t in merged.collect())
    exp_c = Counter(tuple(t) for t in exp.collect())
    assert got_c == exp_c


def test_sql_front_theta_inner_join_maintains(spark):
    """A one-sided-inequality INNER join is accepted by the SQL front
    and maintained by the general sign-product branch machinery (the
    poster's unrestricted join delta rule): the delta side is broadcast,
    so the non-equi condition costs O(|base|·|Δ|) comparisons — the
    acceptable delta-maintenance shape.  (Large-base×large-base initial
    materialization should go through ineq_join instead — README.)"""
    from ivm_extension_spark.engine import IVMEngine

    eng = IVMEngine(spark)
    pts = spark.createDataFrame(
        [(1, 5.0), (2, 150.0), (3, 250.0)], "pid int, x double"
    )
    thr = spark.createDataFrame([("a", 100.0), ("b", 200.0)], "tname string, y double")
    eng.register_table("pts", pts)
    eng.register_table("thr", thr)
    eng.register_delta(
        "pts",
        spark.createDataFrame(
            [(4, 50.0, True), (2, 150.0, False)],
            f"pid int, x double, {MULT_COL} boolean",
        ),
    )
    eng.create_immv("v", sql="SELECT pid, x, tname FROM pts JOIN thr ON x < y")
    eng.ivm_upsert("v")
    got = sorted(tuple(r) for r in eng.merge_view("v").collect())
    pts2 = spark.createDataFrame(
        [(1, 5.0), (3, 250.0), (4, 50.0)], "pid int, x double"
    )
    exp = sorted(
        tuple(r)
        for r in pts2.crossJoin(thr)
        .filter("x < y")
        .select("pid", "x", "tname")
        .collect()
    )
    assert got == exp


def test_delta_rule_merge_equals_recompute(spark, lr):
    l, r = lr
    dl = l.filter("lid % 7 = 0").withColumn(MULT_COL, F.expr("lid % 2 = 0"))
    dr = spark.createDataFrame(
        [(900, 123.45, True), (901, 500.0, True), (3, None, True)],
        f"rid int, y double, {MULT_COL} boolean",
    )
    dv = ineq_join_delta(l, r, dl, dr, "x", "y", "<", 37.0, 64)
    v_old = ineq_join(l, r, "x", "y", "<", 37.0, 64)
    cols = v_old.columns
    merged = (
        v_old.withColumn("__s", F.lit(1))
        .unionByName(
            dv.withColumn(
                "__s", F.when(F.col(MULT_COL), F.lit(1)).otherwise(F.lit(-1))
            ).drop(MULT_COL)
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__n"))
        .filter("__n > 0")
        .select(*cols, F.explode(F.expr("sequence(1, __n)")).alias("__i"))
        .drop("__i")
    )
    l2 = l.exceptAll(l.filter("lid % 7 = 0 AND lid % 2 != 0")).unionByName(
        l.filter("lid % 7 = 0 AND lid % 2 = 0")
    )
    r2 = r.unionByName(
        spark.createDataFrame(
            [(900, 123.45), (901, 500.0), (3, None)], "rid int, y double"
        )
    )
    exp = l2.crossJoin(r2).filter("x < y").select(*cols)
    got_c = Counter(tuple(t) for t in merged.collect())
    exp_c = Counter(tuple(t) for t in exp.collect())
    assert got_c == exp_c


@pytest.mark.parametrize("op", ["<", ">="])
def test_semi_anti_join_match_brute_force(spark, lr, op):
    from ivm_extension_spark.operators.ineqjoin import (
        ineq_anti_join,
        ineq_semi_join,
    )

    l, r = lr
    got_s = Counter(
        t.lid
        for t in ineq_semi_join(l, r, "x", "y", op, bin_width=37.0, max_bins=64)
        .select("lid")
        .collect()
    )
    exp_s = Counter(
        t.lid
        for t in l.join(r, on=F.expr(f"x {op} y"), how="left_semi")
        .select("lid")
        .collect()
    )
    assert got_s == exp_s
    got_a = Counter(
        t.lid
        for t in ineq_anti_join(l, r, "x", "y", op, bin_width=37.0, max_bins=64)
        .select("lid")
        .collect()
    )
    exp_a = Counter(
        t.lid
        for t in l.join(r, on=F.expr(f"x {op} y"), how="left_anti")
        .select("lid")
        .collect()
    )
    assert got_a == exp_a
    # semi + anti partition the left relation
    assert sum(got_s.values()) + sum(got_a.values()) == l.count()


@pytest.mark.parametrize("anti", [False, True])
def test_semi_anti_delta_merge_equals_recompute(spark, lr, anti):
    # the crossing fixture: deleting every third right row makes some
    # left keys lose their LAST match (semi −1 / anti +1 flips), the
    # high inserted cutoff gives matchless keys a FIRST match (the
    # opposite crossing), and the ΔL batch mixes inserts and deletes
    from ivm_extension_spark.operators.ineqjoin import (
        ineq_anti_join,
        ineq_anti_join_delta,
        ineq_semi_join,
        ineq_semi_join_delta,
    )

    l, r = lr
    dl = l.filter("lid % 7 = 0").withColumn(MULT_COL, F.expr("lid % 2 = 0"))
    dr = (
        r.filter("rid % 3 = 0")
        .withColumn(MULT_COL, F.lit(False))
        .unionByName(
            spark.createDataFrame(
                [(900, 999.5, True)], f"rid int, y double, {MULT_COL} boolean"
            )
        )
    )
    jfn = ineq_anti_join if anti else ineq_semi_join
    dfn = ineq_anti_join_delta if anti else ineq_semi_join_delta
    dv = dfn(l, r, dl, dr, "x", "y", "<", 37.0, 64)
    v_old = jfn(l, r, "x", "y", "<", 37.0, 64)
    cols = v_old.columns
    merged = (
        v_old.withColumn("__s", F.lit(1))
        .unionByName(
            dv.withColumn(
                "__s", F.when(F.col(MULT_COL), F.lit(1)).otherwise(F.lit(-1))
            ).drop(MULT_COL)
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__n"))
        .filter(F.col("__n") > 0)
        .select(*cols, F.explode(F.expr("sequence(1, __n)")).alias("__i"))
        .drop("__i")
    )
    l2 = l.exceptAll(l.filter("lid % 7 = 0 AND lid % 2 != 0")).unionByName(
        l.filter("lid % 7 = 0 AND lid % 2 = 0")
    )
    r2 = r.exceptAll(r.filter("rid % 3 = 0")).unionByName(
        spark.createDataFrame([(900, 999.5)], "rid int, y double")
    )
    exp = l2.join(
        r2, on=F.expr("x < y"), how="left_anti" if anti else "left_semi"
    ).select(*cols)
    got_c = Counter(tuple(t) for t in merged.collect())
    exp_c = Counter(tuple(t) for t in exp.collect())
    assert got_c == exp_c


# ---- expression axes + extra_cond residual (the SQL-front routing
# surface, round 5) ---------------------------------------------------------


def _brute(l, r, cond):
    return {
        tuple(t)
        for t in l.crossJoin(r).filter(F.expr(cond)).select("lid", "rid").collect()
    }


def test_expression_axes_match_brute_force(spark, lr):
    l, r = lr
    cond = "x * 2 < y + 10"
    got = {
        tuple(t)
        for t in ineq_join(
            l, r, "x * 2", "y + 10", "<", bin_width=37.0, max_bins=128
        ).select("lid", "rid").collect()
    }
    assert got == _brute(l, r, cond)


def test_extra_cond_restricts_matches_inner(spark, lr):
    l, r = lr
    cond = "x < y AND lid % 3 = 0 AND rid % 2 = 0"
    got = {
        tuple(t)
        for t in ineq_join(
            l, r, "x", "y", "<", bin_width=37.0, max_bins=64,
            extra_cond=cond,
        ).select("lid", "rid").collect()
    }
    assert got == _brute(l, r, cond)


def test_extra_cond_changes_outer_match_sets(spark, lr):
    from ivm_extension_spark.operators.ineqjoin import (
        ineq_anti_join,
        ineq_semi_join,
    )

    l, r = lr
    cond = "x < y AND rid % 2 = 0"
    exp_matched_lids = {t[0] for t in _brute(l, r, cond)}
    semi = {t["lid"] for t in ineq_semi_join(
        l, r, "x", "y", "<", bin_width=37.0, max_bins=64, extra_cond=cond
    ).collect()}
    anti = {t["lid"] for t in ineq_anti_join(
        l, r, "x", "y", "<", bin_width=37.0, max_bins=64, extra_cond=cond
    ).collect()}
    all_lids = {t["lid"] for t in l.collect()}
    assert semi == exp_matched_lids
    assert anti == all_lids - exp_matched_lids
    # left join: NULL-pad exactly the anti lids
    left = ineq_left_join(
        l, r, "x", "y", "<", bin_width=37.0, max_bins=64, extra_cond=cond
    )
    padded = {t["lid"] for t in left.filter(F.col("rid").isNull()).collect()}
    assert padded == all_lids - exp_matched_lids


def test_extra_cond_full_join_matches_catalyst(spark, lr):
    l, r = lr
    cond = "x < y AND lid % 2 = 0"
    got = sorted(
        (t["lid"], t["rid"])
        for t in ineq_full_join(
            l, r, "x", "y", "<", bin_width=37.0, max_bins=64, extra_cond=cond
        ).collect()
    )
    exp = sorted(
        (t["lid"], t["rid"])
        for t in l.join(r, F.expr(cond), "full").select("lid", "rid").collect()
    )
    assert got == exp


def test_auto_dyadic_bins_cover_negative_domain(spark):
    from ivm_extension_spark.operators.ineqjoin import auto_dyadic_bins

    l = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(range(-500, 0, 7))], "lid int, x double"
    )
    r = spark.createDataFrame(
        [(j, float(v)) for j, v in enumerate(range(-100, 400, 11))], "rid int, y double"
    )
    bw, nb, orig = auto_dyadic_bins(l, r, "x", "y")
    got = {
        tuple(t)
        for t in ineq_join(
            l, r, "x", "y", "<", bin_width=bw, max_bins=nb, origin=orig
        ).select("lid", "rid").collect()
    }
    assert got == _brute(l, r, "x < y")
