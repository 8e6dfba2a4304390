"""Variance-family aggregates and ORDER BY/LIMIT (top-k) views.

The reference supports neither (README.md:33-36: only SELECT / FILTER /
GROUP BY / PROJECTION with SUM, COUNT; no ORDER BY/LIMIT appears in any
supported view).  Both are natural closure:

- var_pop/var_samp/stddev_pop/stddev_samp are maintained exactly through
  hidden SUM(x), SUM(x*x), COUNT(x) companions — all linear, so the
  delta/merge algebra is the SUM/COUNT one — and recomposed on read
  (operators/merge.py: variance_oracle_sql).
- ORDER BY/LIMIT apply on read like HAVING: maintained state is the full
  pre-limit relation (a row's rank can move under later deltas).
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import MULT_COL
from ivm_extension_spark.plans.sqlfront import parse_view_sql
from ivm_extension_spark.plans.viewdef import ViewDef

from tests.conftest import rows

SF = "/root/testdata/sf0.001"


def _engine(spark, deltas=("lineitem",)):
    eng = IVMEngine(spark)
    eng.register_table("lineitem", f"{SF}/lineitem.parquet")
    eng.register_table("orders", f"{SF}/orders.parquet")
    defs = {
        "lineitem": ("l_orderkey % 10 = 0", "l_linenumber % 2 = 0"),
        "orders": ("o_orderkey % 10 = 0", "o_custkey % 2 = 0"),
    }
    for t in deltas:
        pred, mult = defs[t]
        d = eng.table(t).filter(F.expr(pred)).withColumn(MULT_COL, F.expr(mult))
        eng.register_delta(t, d)
    return eng


def _close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(1.0, abs(b))


def test_variance_maintain_matches_recompute(spark):
    eng = _engine(spark)
    eng.create_immv(
        "v",
        sql="SELECT l_returnflag, "
        "var_samp(cast(l_quantity as bigint)) AS vs, "
        "var_pop(cast(l_quantity as bigint)) AS vp, "
        "stddev_samp(cast(l_quantity as bigint)) AS ss, "
        "stddev_pop(cast(l_quantity as bigint)) AS sp, "
        "sum(cast(l_quantity as bigint)) AS s "
        "FROM lineitem GROUP BY l_returnflag",
    )
    eng.ivm_upsert("v")
    merged = {r["l_returnflag"]: r for r in eng.merge_view("v").collect()}
    eng.apply_delta("lineitem")
    ref = {r["l_returnflag"]: r for r in eng.full_refresh("v").collect()}
    assert set(merged) == set(ref)
    for k in ref:
        for c in ("vs", "vp", "ss", "sp"):
            assert _close(merged[k][c], ref[k][c]), (k, c, merged[k][c], ref[k][c])
        assert merged[k]["s"] == ref[k]["s"]


def test_variance_ansi_spellings_and_delete_batches(spark):
    # VARIANCE/STDDEV canonicalize to the sample variants; a second
    # delete-bearing batch keeps the companions exact (no probe needed:
    # variance is linear state, unlike MIN/MAX)
    eng = _engine(spark)
    eng.create_immv(
        "v",
        sql="SELECT l_linestatus, variance(cast(l_quantity as bigint)) AS v, "
        "stddev(cast(l_quantity as bigint)) AS sd, count(*) AS n "
        "FROM lineitem GROUP BY l_linestatus",
    )
    vdef = eng.view("v")
    assert vdef.aggregate_by_alias("v").fn == "var_samp"
    assert vdef.aggregate_by_alias("sd").fn == "stddev_samp"
    eng.maintain("v")
    # batch 2: pure deletes
    d2 = (
        eng.table("lineitem")
        .filter(F.expr("l_orderkey % 7 = 0"))
        .withColumn(MULT_COL, F.lit(False))
    )
    eng.register_delta("lineitem", d2)
    out = {r["l_linestatus"]: r for r in eng.maintain("v").collect()}
    ref = {r["l_linestatus"]: r for r in eng.full_refresh("v").collect()}
    assert set(out) == set(ref)
    for k in ref:
        assert _close(out[k]["v"], ref[k]["v"])
        assert _close(out[k]["sd"], ref[k]["sd"])
        assert out[k]["n"] == ref[k]["n"]


def test_variance_in_rollup_view(spark):
    # hidden companions are plain sums — additive across the finest
    # grouping, so every rollup level recomposes the variance exactly
    eng = _engine(spark)
    eng.create_immv(
        "v",
        sql="SELECT l_returnflag, l_linestatus, "
        "var_samp(cast(l_quantity as bigint)) AS v, count(*) AS n "
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    )
    eng.ivm_upsert("v")
    merged = eng.merge_view("v")
    eng.apply_delta("lineitem")
    ref = eng.full_refresh("v")
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r for r in merged.collect()
    }
    want = {(r["l_returnflag"], r["l_linestatus"]): r for r in ref.collect()}
    assert set(got) == set(want)
    for k in want:
        assert _close(got[k]["v"], want[k]["v"]), (k, got[k]["v"], want[k]["v"])
        assert got[k]["n"] == want[k]["n"]


def test_topk_maintain_and_plan(spark):
    eng = _engine(spark, deltas=("orders",))
    eng.create_immv(
        "top",
        sql="SELECT o_custkey, sum(cast(round(o_totalprice*100) as bigint)) AS cents "
        "FROM orders GROUP BY o_custkey "
        "ORDER BY cents DESC, o_custkey ASC LIMIT 5",
    )
    vdef = eng.view("top")
    assert vdef.order_by == (("cents", "desc"), ("o_custkey", "asc"))
    assert vdef.limit == 5
    eng.ivm_upsert("top")
    out = eng.merge_view("top")
    got = [tuple(r) for r in out.collect()]
    assert len(got) == 5
    eng.apply_delta("orders")
    want = [tuple(r) for r in eng.full_refresh("top").collect()]
    assert got == want
    # ΔV itself stays pre-limit (deltas compose before ranking)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()  # partial top-k, no global sort


def test_topk_row_crosses_boundary(spark):
    # a delta that promotes a previously-outside row into the top-k —
    # only possible because state is the full pre-limit view
    eng = _engine(spark, deltas=())
    df = spark.createDataFrame(
        [("a", 10), ("b", 8), ("c", 6), ("d", 1)], "k string, x int"
    )
    eng.register_table("t", df)
    eng.create_immv(
        "top2",
        sql="SELECT k, sum(x) AS s FROM t GROUP BY k ORDER BY s DESC, k ASC LIMIT 2",
    )
    assert rows(eng.read_view("top2")) == [("a", 10), ("b", 8)]
    delta = spark.createDataFrame([("d", 100, True)], "k string, x int, m boolean")
    eng.register_delta("t", delta.withColumnRenamed("m", MULT_COL))
    eng.ivm_upsert("top2")
    assert rows(eng.merge_view("top2")) == [("a", 10), ("d", 101)]


def test_order_by_without_limit_and_validation():
    v = parse_view_sql("v", "SELECT a, sum(b) AS s FROM t GROUP BY a ORDER BY s")
    assert v.order_by == (("s", "asc"),) and v.limit is None
    with pytest.raises(NotImplementedError, match="LIMIT without ORDER BY"):
        parse_view_sql("v", "SELECT a FROM t LIMIT 5")
    with pytest.raises(NotImplementedError, match="integer literal"):
        parse_view_sql("v", "SELECT a FROM t ORDER BY a LIMIT all")
    with pytest.raises(ValueError, match="asc/desc"):
        ViewDef(name="v", source="t", select=(("a", "a"),), order_by=(("a", "down"),))
