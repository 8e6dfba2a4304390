"""General two-sided-expression theta joins (operators/thetajoin.py):
brute-force parity for all five join types, the delta-rule ⊎ invariant
under mixed insert/delete batches (including match-count zero
crossings on both sides), NULL-key grouping, and the broadcast-delta
plan shape.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark.operators.rewrite import MULT_COL
from ivm_extension_spark.operators.thetajoin import (
    theta_anti_join,
    theta_anti_join_delta,
    theta_full_join,
    theta_full_join_delta,
    theta_join,
    theta_join_delta,
    theta_left_join,
    theta_left_join_delta,
    theta_semi_join,
    theta_semi_join_delta,
)

COND = "x * (1.0 - disc) < y * scale AND qty >= min_qty"


@pytest.fixture(scope="module")
def lr(spark):
    random.seed(23)
    L = [
        (
            i,
            round(random.uniform(0, 100), 2),
            round(random.uniform(0, 0.4), 2),
            random.randint(1, 10),
        )
        for i in range(150)
    ]
    # a NULL x row: never matches, must still be preserved/NULL-padded
    L.append((999, None, 0.0, 5))
    R = [
        (
            j,
            round(random.uniform(0, 60), 2),
            round(random.uniform(0.5, 2.0), 2),
            random.randint(1, 6),
        )
        for j in range(40)
    ]
    return (
        spark.createDataFrame(L, "lid int, x double, disc double, qty int"),
        spark.createDataFrame(R, "rid int, y double, scale double, min_qty int"),
    )


def _brute(l, r, how):
    return l.join(r, on=F.expr(COND), how=how)


def _merge(v_old, dv):
    cols = v_old.columns
    return (
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


def _deltas(spark, l, r):
    """A mixed batch: left deletes+inserts, right deletes (kill some
    left rows' LAST match -> +NULL-pad flips) and a universal-match
    insert (give matchless rows a FIRST match -> -NULL-pad flips)."""
    dl = l.filter("lid % 7 = 0").withColumn(MULT_COL, F.expr("lid % 2 = 0"))
    dr = (
        r.filter("rid % 3 = 0")
        .withColumn(MULT_COL, F.lit(False))
        .unionByName(
            spark.createDataFrame(
                [(900, 500.0, 2.0, 0, True), (901, 0.0, 0.0, 99, True)],
                f"rid int, y double, scale double, min_qty int, {MULT_COL} boolean",
            )
        )
    )
    l2 = l.exceptAll(l.filter("lid % 7 = 0 AND lid % 2 != 0")).unionByName(
        l.filter("lid % 7 = 0 AND lid % 2 = 0")
    )
    r2 = r.exceptAll(r.filter("rid % 3 = 0")).unionByName(
        spark.createDataFrame(
            [(900, 500.0, 2.0, 0), (901, 0.0, 0.0, 99)],
            "rid int, y double, scale double, min_qty int",
        )
    )
    return dl, dr, l2, r2


def test_inner_matches_brute_force(spark, lr):
    l, r = lr
    got = Counter(
        tuple(t) for t in theta_join(l, r, COND).select("lid", "rid").collect()
    )
    exp = Counter(tuple(t) for t in _brute(l, r, "inner").select("lid", "rid").collect())
    assert got == exp


@pytest.mark.parametrize(
    "mine,how",
    [
        (theta_left_join, "left"),
        (theta_full_join, "full"),
        (theta_semi_join, "semi"),
        (theta_anti_join, "anti"),
    ],
)
def test_outer_semi_anti_match_brute_force(spark, lr, mine, how):
    l, r = lr
    out = mine(l, r, COND)
    cols = ["lid", "rid"] if how in ("left", "full") else ["lid"]
    got = Counter(tuple(t) for t in out.select(*cols).collect())
    exp = Counter(tuple(t) for t in _brute(l, r, how).select(*cols).collect())
    assert got == exp
    # the NULL-x left row must survive as preserved/anti output
    if how in ("left", "full", "anti"):
        assert any(t[0] == 999 for t in got)


def test_key_cols_partition_the_comparison(spark):
    l = spark.createDataFrame(
        [(1, "g1", 5.0, 0.0, 5), (2, "g1", 50.0, 0.0, 5), (3, "g2", 5.0, 0.0, 5)],
        "lid int, g string, x double, disc double, qty int",
    )
    r = spark.createDataFrame(
        [(10, "g1", 20.0, 1.0, 1), (11, "g2", 100.0, 1.0, 1)],
        "rid int, g string, y double, scale double, min_qty int",
    )
    got = {
        tuple(t)
        for t in theta_join(l, r, COND, key_cols=("g",)).select("lid", "rid").collect()
    }
    assert got == {(1, 10), (3, 11)}


def test_delta_broadcasts_the_delta_side(spark, lr):
    l, r = lr
    dl = l.limit(5).withColumn(MULT_COL, F.lit(True))
    plan = (
        theta_join_delta(l, r, dl, None, COND)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


@pytest.mark.parametrize("sides", ["l", "r", "lr"])
def test_inner_delta_merge_equals_recompute(spark, lr, sides):
    l, r = lr
    dl, dr, l2, r2 = _deltas(spark, l, r)
    dv = theta_join_delta(
        l, r, dl if "l" in sides else None, dr if "r" in sides else None, COND
    )
    merged = _merge(theta_join(l, r, COND), dv)
    exp = _brute(
        l2 if "l" in sides else l, r2 if "r" in sides else r, "inner"
    ).select(*merged.columns)
    assert Counter(map(tuple, merged.collect())) == Counter(map(tuple, exp.collect()))


@pytest.mark.parametrize("sides", ["l", "r", "lr"])
def test_left_delta_merge_equals_recompute(spark, lr, sides):
    l, r = lr
    dl, dr, l2, r2 = _deltas(spark, l, r)
    dv = theta_left_join_delta(
        l, r, dl if "l" in sides else None, dr if "r" in sides else None, COND
    )
    merged = _merge(theta_left_join(l, r, COND), dv)
    exp = _brute(
        l2 if "l" in sides else l, r2 if "r" in sides else r, "left"
    ).select(*merged.columns)
    assert Counter(map(tuple, merged.collect())) == Counter(map(tuple, exp.collect()))


@pytest.mark.parametrize("sides", ["l", "r", "lr"])
def test_full_delta_merge_equals_recompute(spark, lr, sides):
    l, r = lr
    dl, dr, l2, r2 = _deltas(spark, l, r)
    dv = theta_full_join_delta(
        l, r, dl if "l" in sides else None, dr if "r" in sides else None, COND
    )
    merged = _merge(theta_full_join(l, r, COND), dv)
    exp = _brute(
        l2 if "l" in sides else l, r2 if "r" in sides else r, "full"
    ).select(*merged.columns)
    assert Counter(map(tuple, merged.collect())) == Counter(map(tuple, exp.collect()))


@pytest.mark.parametrize("op", [(theta_semi_join, theta_semi_join_delta, "semi"),
                                (theta_anti_join, theta_anti_join_delta, "anti")])
@pytest.mark.parametrize("sides", ["l", "r", "lr"])
def test_semi_anti_delta_merge_equals_recompute(spark, lr, op, sides):
    plain, delta, how = op
    l, r = lr
    dl, dr, l2, r2 = _deltas(spark, l, r)
    dv = delta(
        l, r, dl if "l" in sides else None, dr if "r" in sides else None, COND
    )
    merged = _merge(plain(l, r, COND), dv)
    exp = _brute(
        l2 if "l" in sides else l, r2 if "r" in sides else r, how
    ).select(*merged.columns)
    assert Counter(map(tuple, merged.collect())) == Counter(map(tuple, exp.collect()))


def test_disjoint_name_guard(spark):
    l = spark.createDataFrame([(1, 2.0)], "lid int, x double")
    r = spark.createDataFrame([(2, 3.0)], "rid int, x double")
    with pytest.raises(ValueError, match="disjoint"):
        theta_join(l, r, "x < x")


def test_column_name_inside_string_literal_not_rewritten(spark):
    # the left side has a column named 'disc'; the condition compares a
    # DIFFERENT column against the string literal 'disc' — the rename
    # rewrite must not mangle the literal (it would silently empty the
    # matched set)
    l = spark.createDataFrame(
        [(1, 10.0, 0.1, "disc"), (2, 10.0, 0.1, "flat")],
        "lid int, x double, disc double, tag string",
    )
    r = spark.createDataFrame([(9, 50.0)], "rid int, cutoff double")
    got = {
        t["lid"]
        for t in theta_join(l, r, "x < cutoff AND tag = 'disc'").collect()
    }
    assert got == {1}
    # and referenced_cols must not see the literal as a column use
    from ivm_extension_spark.operators.thetajoin import referenced_cols

    assert referenced_cols("x < cutoff AND tag = 'disc'", l.columns, ()) == [
        "x",
        "tag",
    ]


def test_column_name_inside_double_quoted_literal_not_rewritten(spark):
    # Spark SQL reads "disc" as a string literal too
    l = spark.createDataFrame(
        [(1, 10.0, 0.1, "disc"), (2, 10.0, 0.1, "flat")],
        "lid int, x double, disc double, tag string",
    )
    r = spark.createDataFrame([(9, 50.0)], "rid int, cutoff double")
    got = {
        t["lid"]
        for t in theta_join(l, r, 'x < cutoff AND tag = "disc"').collect()
    }
    assert got == {1}


def test_custom_finer_on_cols_extended_with_referenced(spark, lr):
    # caller keys the match counts by the unique row id; the probes must
    # still be able to evaluate the condition (left_on is extended with
    # the referenced columns, not replaced)
    l, r = lr
    dl, dr, l2, r2 = _deltas(spark, l, r)
    dv = theta_left_join_delta(l, r, dl, dr, COND, left_on=["lid"])
    merged = _merge(theta_left_join(l, r, COND, left_on=["lid"]), dv)
    exp = _brute(l2, r2, "left").select(*merged.columns)
    assert Counter(map(tuple, merged.collect())) == Counter(map(tuple, exp.collect()))


def test_full_delta_with_custom_right_on(spark, lr):
    l, r = lr
    dl, dr, l2, r2 = _deltas(spark, l, r)
    dv = theta_full_join_delta(l, r, dl, dr, COND, right_on=["rid"])
    merged = _merge(theta_full_join(l, r, COND, right_on=["rid"]), dv)
    exp = _brute(l2, r2, "full").select(*merged.columns)
    assert Counter(map(tuple, merged.collect())) == Counter(map(tuple, exp.collect()))
