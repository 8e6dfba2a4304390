"""Patch-merge strategy: V ⊎ ΔV without exchanging the state.

The shuffle merge re-aggregates union(V, ΔV) — one exchange of O(|V|).
The patch merge folds ΔV to one row per touched key, broadcasts it onto
the state (LEFT join, in-place column combine), and anti-joins the fold
against the state's touched keys for brand-new groups.  The state is
only ever scanned narrowly — shuffled bytes per batch are O(|ΔV|), the
shape that keeps a 100-TB materialized view maintainable per batch.

Both strategies must produce identical states; these tests pin that and
the plan shape (no shuffle exchange over the state input).
"""

import re

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import MULT_COL

from tests.conftest import force_merge, rows

SF = "/root/testdata/sf0.001"


def _mk(spark, monkeypatch, merge_strategy, deltas=("lineitem",)):
    force_merge(monkeypatch, merge_strategy)
    eng = IVMEngine(spark)
    for t in ("lineitem", "orders", "customer"):
        eng.register_table(t, f"{SF}/{t}.parquet")
    defs = {
        "lineitem": ("l_orderkey % 10 = 0", "l_linenumber % 2 = 0"),
        "orders": ("o_orderkey % 10 = 0", "o_custkey % 2 = 0"),
        "customer": ("c_custkey % 20 = 0", "c_nationkey % 2 = 0"),
    }
    for t in deltas:
        pred, mult = defs[t]
        d = eng.table(t).filter(F.expr(pred)).withColumn(MULT_COL, F.expr(mult))
        eng.register_delta(t, d)
    return eng


VIEW_SQLS = {
    "groupby": "SELECT l_returnflag, l_linestatus, "
    "sum(cast(l_quantity as bigint)) AS s, count(*) AS n "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "avg_var": "SELECT l_returnflag, avg(cast(l_quantity as bigint)) AS a, "
    "var_samp(cast(l_quantity as bigint)) AS v, count(l_orderkey) AS n "
    "FROM lineitem GROUP BY l_returnflag",
    "having": "SELECT l_suppkey, count(*) AS n FROM lineitem "
    "GROUP BY l_suppkey HAVING n >= 2",
}


@pytest.mark.parametrize("vname", sorted(VIEW_SQLS))
def test_patch_equals_shuffle(spark, monkeypatch, vname):
    results = {}
    for strat in ("patch", "shuffle"):
        eng = _mk(spark, monkeypatch, strat)
        eng.create_immv("v", sql=VIEW_SQLS[vname])
        eng.ivm_upsert("v")
        results[strat] = rows(eng.merge_view("v"))
    assert results["patch"] == results["shuffle"]


def test_patch_merge_new_and_deleted_groups(spark, monkeypatch):
    force_merge(monkeypatch, "patch")
    eng = IVMEngine(spark)
    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, x int"
    )
    eng.register_table("t", base)
    eng.create_immv("v", sql="SELECT k, sum(x) AS s, count(*) AS n FROM t GROUP BY k")
    # delete BOTH 'b' rows' worth (net-zero group must disappear),
    # insert a brand-new group 'c', and touch 'a'
    delta = spark.createDataFrame(
        [("b", 5, False), ("c", 7, True), ("a", 10, True)],
        "k string, x int, m boolean",
    ).withColumnRenamed("m", MULT_COL)
    eng.register_delta("t", delta)
    eng.ivm_upsert("v")
    assert rows(eng.merge_view("v")) == [("a", 13, 3), ("c", 7, 1)]


def test_patch_merge_null_group_key(spark, monkeypatch):
    force_merge(monkeypatch, "patch")
    eng = IVMEngine(spark)
    base = spark.createDataFrame([(None, 1), ("x", 2)], "k string, x int")
    eng.register_table("t", base)
    eng.create_immv("v", sql="SELECT k, sum(x) AS s FROM t GROUP BY k")
    delta = spark.createDataFrame(
        [(None, 4, True)], "k string, x int, m boolean"
    ).withColumnRenamed("m", MULT_COL)
    eng.register_delta("t", delta)
    eng.ivm_upsert("v")
    # null-safe key join: the NULL group combines, not duplicates
    assert rows(eng.merge_view("v")) == [(None, 5), ("x", 2)]


def test_patch_merge_multibatch_minmax_distinct(spark, monkeypatch):
    # aux-state aggregates compose with the patch path: derived values
    # are patched on top of the combined state, batch after batch
    for strat in ("patch", "shuffle"):
        eng = _mk(spark, monkeypatch, strat, deltas=("orders",))
        eng.create_immv(
            "v",
            sql="SELECT o_orderstatus, min(o_custkey) AS mn, max(o_custkey) AS mx, "
            "count(DISTINCT o_custkey) AS nd, count(*) AS n "
            "FROM orders GROUP BY o_orderstatus",
        )
        eng.maintain("v")
        d2 = (
            eng.table("orders")
            .filter(F.expr("o_orderkey % 7 = 0"))
            .withColumn(MULT_COL, F.lit(False))
        )
        eng.register_delta("orders", d2)
        got = rows(eng.maintain("v"))
        want = rows(eng.full_refresh("v"))
        assert got == want, strat


def test_patch_merge_plan_never_exchanges_state(spark, monkeypatch):
    eng = _mk(spark, monkeypatch, "patch")
    eng.create_immv("v", sql=VIEW_SQLS["groupby"])
    eng.ivm_upsert("v")
    # build the merge plan against pinned state without executing the
    # checkpoint of the RESULT: call the operator directly
    from ivm_extension_spark.operators import merge as merge_ops

    st = eng._state["v"].localCheckpoint(eager=True)
    dv = eng._materialized_delta("v", force=True)
    out = merge_ops.merge(st, dv, eng._iviews["v"], {}, strategy="patch")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # dvagg is checkpointed inside _patch_combine, so the remaining plan
    # must contain ZERO shuffle exchanges — broadcasts only
    shuffles = re.findall(r"Exchange (?:hash|range|rangepartitioning)", plan)
    assert not shuffles, plan
    assert "BroadcastHashJoin" in plan, plan


def test_auto_strategy_is_adaptive(spark, monkeypatch):
    # small state → shuffle; once the measured state crosses the
    # threshold, the next batch patches (the aux-advance policy shape)
    from ivm_extension_spark import engine

    monkeypatch.setattr(engine, "PATCH_MIN_STATE_ROWS", 2)
    eng = IVMEngine(spark)
    base = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, x int")
    eng.register_table("t", base)
    eng.create_immv("v", sql="SELECT k, sum(x) AS s FROM t GROUP BY k")

    def batch(rows_):
        d = spark.createDataFrame(rows_, f"k string, x int, {MULT_COL} boolean")
        eng.register_delta("t", d)
        eng.ivm_upsert("v")
        out = eng.merge_view("v")
        eng.apply_delta("t")
        return out

    batch([("a", 10, True)])
    assert eng.stats("v")["last_merge_strategy"] == "shuffle"  # size unknown on batch 1
    batch([("b", 20, True)])
    assert eng.stats("v")["last_merge_strategy"] == "patch"  # measured 3 rows >= 2
    assert rows(eng.read_view("v")) == [("a", 11), ("b", 22), ("c", 3)]


def test_patch_bag_merge_equals_shuffle(spark, monkeypatch):
    """Projection-view (bag) patch merge: same result as the shuffle
    path, including NULL columns from outer joins and multiplicity > 1."""
    sql = (
        "SELECT o_orderkey, c_custkey, c_mktsegment "
        "FROM customer FULL JOIN orders ON c_custkey = o_custkey"
    )
    results = {}
    for strat in ("shuffle", "patch"):
        eng = _mk(spark, monkeypatch, strat, deltas=("orders", "customer"))
        eng.create_immv("v", sql=sql)
        eng.ivm_upsert("v")
        results[strat] = rows(eng.merge_view("v"))
    assert results["patch"] == results["shuffle"]
    assert len(results["patch"]) > 0


def test_patch_bag_merge_plan_never_exchanges_state(spark, monkeypatch):
    """The bag patch plan must not shuffle the state: broadcast
    anti/semi probes plus an O(|touched|+|ΔV|) re-count only."""
    eng = _mk(spark, monkeypatch, "patch", deltas=("orders",))
    eng.create_immv(
        "v", sql="SELECT o_orderkey, o_orderstatus FROM orders"
    )
    eng.ivm_upsert("v")
    from ivm_extension_spark.operators import merge as merge_ops

    st = eng._state["v"].localCheckpoint(eager=True)
    dv = eng._materialized_delta("v", force=True)
    out = merge_ops.merge(st, dv, eng._iviews["v"], {}, strategy="patch")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the only allowed exchange is the touched-slice re-count, whose
    # input is bounded by the broadcast probe — the raw state scan must
    # reach the output through broadcast joins only.  Count exchanges:
    # exactly ONE hash exchange (the touched-slice groupBy).
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) <= 1, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
