"""Order-statistic aggregates (MEDIAN / PERCENTILE / MODE) maintained
exactly under deletes via the per-(group, value) aux relation.

The reference supports only SUM/COUNT (README.md:35); its poster defers
even MIN/MAX.  Order statistics are the next step of that same closure:
not even combinable value-to-value on insert-only batches, so every
merge re-derives them from the aux value multiset
(operators/auxstate.py derive_percentiles / derive_all_from_aux).

Semantics pinned here:
- MEDIAN / PERCENTILE(p): ANSI PERCENTILE_CONT — linear interpolation at
  rank p*(n-1) over the live values in order (doubles out).
- MODE: most frequent live value, ties to the SMALLEST value (Spark's
  deterministic mode flag), NULLs ignored.
"""

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import IVMError, MULT_COL
from ivm_extension_spark.plans.viewdef import Aggregate, ViewDef

from tests.conftest import rows


def _mk(spark, data):
    return spark.createDataFrame(data, "k string, x int, s string")


BASE = [
    ("a", 1, "u"),
    ("a", 2, "u"),
    ("a", 2, "v"),
    ("a", 3, "v"),
    ("a", 9, "v"),
    ("b", 10, "w"),
    ("b", 20, "w"),
    ("b", 30, "x"),
    ("b", 40, "x"),
]

VIEW_SQL = (
    "SELECT k, median(x) AS med, percentile(x, 0.75) AS p75, "
    "mode(s) AS ms, count(x) AS n FROM t GROUP BY k"
)


def _recompute(spark, eng):
    return (
        eng.table("t")
        .groupBy("k")
        .agg(
            F.median("x").alias("med"),
            F.percentile("x", F.lit(0.75)).alias("p75"),
            F.mode("s", deterministic=True).alias("ms"),
            F.count("x").alias("n"),
        )
    )


def test_initial_materialization_matches_recompute(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    pub = eng.create_immv("v", sql=VIEW_SQL)
    assert rows(pub) == rows(_recompute(spark, eng))


def test_merge_with_deletes_matches_recompute(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    eng.create_immv("v", sql=VIEW_SQL)
    # delete one (a,2,u) — median a: {1,2,3,9} -> 2.5; insert (b,5,y)
    delta = spark.createDataFrame(
        [("a", 2, "u", False), ("b", 5, "y", True)],
        f"k string, x int, s string, {MULT_COL} boolean",
    )
    eng.register_delta("t", delta)
    eng.ivm_upsert("v")
    merged = eng.merge_view("v")
    eng.apply_delta("t")
    assert rows(merged) == rows(_recompute(spark, eng))


def test_multibatch_interpolation_and_mode_ties(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    eng.create_immv("v", sql=VIEW_SQL)
    batches = [
        # leave a with even count -> interpolated median
        [("a", 9, "v", False), ("a", 4, "u", True)],
        # force a mode tie in s for group b: w,w,x,x -> smallest wins ('w')
        [("b", 7, "w", True), ("b", 8, "x", True), ("b", 40, "x", False)],
        # drain group a entirely
        [
            ("a", 1, "u", False),
            ("a", 2, "u", False),
            ("a", 2, "v", False),
            ("a", 3, "v", False),
            ("a", 4, "u", False),
        ],
    ]
    for b in batches:
        delta = spark.createDataFrame(
            b, f"k string, x int, s string, {MULT_COL} boolean"
        )
        eng.register_delta("t", delta)
        eng.ivm_upsert("v")
        merged = eng.merge_view("v")
        eng.apply_delta("t")
        assert rows(merged) == rows(_recompute(spark, eng))
    # group a fully deleted -> gone from the view
    assert [r["k"] for r in merged.collect()] == ["b"]


def test_percentile_extremes_and_median_equivalence(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    pub = eng.create_immv(
        "v",
        sql="SELECT k, percentile(x, 0.0) AS p0, percentile(x, 1.0) AS p100, "
        "percentile(x, 0.5) AS p50, median(x) AS med FROM t GROUP BY k",
    )
    for r in pub.collect():
        assert r["p50"] == r["med"]
    got = {r["k"]: (r["p0"], r["p100"]) for r in pub.collect()}
    assert got == {"a": (1.0, 9.0), "b": (10.0, 40.0)}


def test_mode_ignores_nulls_and_median_of_nulls_is_null(spark):
    data = [("a", None, None), ("a", None, "z"), ("a", None, "z")]
    df = spark.createDataFrame(data, "k string, x int, s string")
    eng = IVMEngine(spark)
    eng.register_table("t", df)
    pub = eng.create_immv("v", sql=VIEW_SQL)
    r = pub.collect()[0]
    assert r["med"] is None and r["ms"] == "z" and r["n"] == 0


def test_direct_merge_without_aux_rejected(spark):
    from ivm_extension_spark.operators import merge as merge_ops

    vdef = ViewDef(
        name="v",
        source="t",
        select=(("k", "k"),),
        aggregates=(Aggregate("median", "x", "med"),),
        group_by=("k",),
    )
    iview = merge_ops.internal_view(vdef)
    state = spark.createDataFrame(
        [("a", 2.0, 3)], "k string, med double, __ivm_count long"
    )
    dv = spark.createDataFrame(
        [("a", 5.0, 1, True)],
        f"k string, med double, __ivm_count long, {MULT_COL} boolean",
    )
    with pytest.raises(IVMError, match="MEDIAN"):
        merge_ops.merge(state, dv, iview)


def test_rejections(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    with pytest.raises(NotImplementedError, match="global"):
        eng.create_immv("g", sql="SELECT median(x) AS m FROM t")
    with pytest.raises(IVMError, match="numeric"):
        eng.create_immv("s", sql="SELECT k, median(s) AS m FROM t GROUP BY k")
    with pytest.raises(NotImplementedError, match="re-aggregated"):
        eng.create_immv(
            "r",
            sql="SELECT k, median(x) AS m FROM t GROUP BY ROLLUP (k)",
        )
    with pytest.raises(ValueError, match="fraction"):
        Aggregate("percentile", "x", "p", 1.5)


def test_param_survives_persistence_roundtrip(spark, tmp_path):
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    eng.create_immv("v", sql=VIEW_SQL)
    path = str(tmp_path / "state")
    eng.save(path)
    eng2 = IVMEngine.load(spark, path, tables={"t": _mk(spark, BASE)})
    a = eng2.view("v").aggregate_by_alias("p75")
    assert a.fn == "percentile" and a.param == 0.75
    # maintenance continues exactly after reload
    delta = spark.createDataFrame(
        [("a", 9, "v", False)], f"k string, x int, s string, {MULT_COL} boolean"
    )
    eng2.register_delta("t", delta)
    eng2.ivm_upsert("v")
    merged = eng2.merge_view("v")
    eng2.apply_delta("t")
    assert rows(merged) == rows(_recompute(spark, eng2))


def test_streaming_maintains_ordered_agg_view(spark, tmp_path):
    """Micro-batch streaming maintenance composes with the aux-relation
    derive: a median/mode view advanced by a CDC file stream equals the
    batch recomputation after both batches (incl. a delete)."""
    from ivm_extension_spark.streaming.continuous import StreamingViewMaintainer

    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    eng.create_immv("v", sql=VIEW_SQL)

    schema = f"k string, x int, s string, {MULT_COL} boolean"
    delta_dir = str(tmp_path / "deltas")
    spark.createDataFrame(
        [("a", 2, "u", False), ("b", 5, "y", True)], schema
    ).write.parquet(f"{delta_dir}/b1")
    spark.createDataFrame([("a", 7, "u", True)], schema).write.parquet(
        f"{delta_dir}/b2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{delta_dir}/*")
    )
    m = StreamingViewMaintainer(eng, "v", "t")
    q = m.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert m.batches_applied >= 1
    assert rows(eng.read_view("v")) == rows(_recompute(spark, eng))


def test_having_over_median_column(spark):
    """HAVING filters on read over the maintained median column — the
    state stays pre-HAVING so groups can cross the threshold later."""
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    eng.create_immv(
        "v",
        sql="SELECT k, median(x) AS med, count(x) AS n FROM t "
        "GROUP BY k HAVING med > 5",
    )
    assert [r["k"] for r in eng.read_view("v").collect()] == ["b"]
    # delete b's large values: median b {10,20,30,40} -> {10,20} = 15 stays;
    # insert big values into a so it crosses the threshold
    delta = spark.createDataFrame(
        [("b", 30, "x", False), ("b", 40, "x", False),
         ("a", 50, "u", True), ("a", 60, "u", True)],
        f"k string, x int, s string, {MULT_COL} boolean",
    )
    eng.register_delta("t", delta)
    eng.ivm_upsert("v")
    eng.merge_view("v")
    got = {r["k"]: r["med"] for r in eng.read_view("v").collect()}
    assert got == {"b": 15.0}  # a: {1,2,2,3,9,50,60} -> median 3.0, filtered


def test_aux_relation_shared_across_same_expr_aggs(spark):
    """min/max/median/p90 of the SAME expression share one value-multiset
    copy in the aux relation (tagged by (lane, expr), not by alias)."""
    eng = IVMEngine(spark)
    eng.register_table("t", _mk(spark, BASE))
    eng.create_immv(
        "v",
        sql="SELECT k, min(x) AS mn, max(x) AS mx, median(x) AS med, "
        "percentile(x, 0.9) AS p90 FROM t GROUP BY k",
    )
    aux = eng._aux["v"]
    assert aux.select("__ivm_agg").distinct().count() == 1
    # one row per (group, live value): a:{1,2,3,9} b:{10,20,30,40}
    assert aux.count() == 8
    # all four aggregates still derive correctly from the shared copy
    got = {r["k"]: (r["mn"], r["mx"], r["med"], r["p90"]) for r in eng.read_view("v").collect()}
    assert got["a"] == (1, 9, 2.0, pytest.approx(6.6))  # p90: t=3.6 -> 3+.6*(9-3)
    assert got["b"] == (10, 40, 25.0, pytest.approx(37.0))


def test_median_over_join_view_with_deletes(spark):
    """Order statistics compose with the join delta rules: the aux value
    multiset is built over the joined source and advanced by the same
    counting machinery (delta on the fact side, deletes included)."""
    eng = IVMEngine(spark)
    eng.register_table(
        "dim", spark.createDataFrame([(1, "g1"), (2, "g2")], "dk int, grp string")
    )
    eng.register_table(
        "fact",
        spark.createDataFrame(
            [(i, 1 + (i % 2), float(i * 10)) for i in range(1, 9)],
            "fid int, dk int, val double",
        ),
    )
    sql = (
        "SELECT grp, median(val) AS med, percentile(val, 0.75) AS p75, "
        "count(fid) AS n FROM fact JOIN dim ON fact.dk = dim.dk GROUP BY grp"
    )
    eng.create_immv("v", sql=sql)
    delta = spark.createDataFrame(
        [(2, 1, 20.0, False), (99, 2, 500.0, True)],
        f"fid int, dk int, val double, {MULT_COL} boolean",
    )
    eng.register_delta("fact", delta)
    eng.ivm_upsert("v")
    merged = eng.merge_view("v")
    eng.apply_delta("fact")
    truth = (
        eng.table("fact")
        .join(eng.table("dim"), on="dk")
        .groupBy("grp")
        .agg(
            F.median("val").alias("med"),
            F.percentile("val", F.lit(0.75)).alias("p75"),
            F.count("fid").alias("n"),
        )
    )
    assert rows(merged) == rows(truth)


def test_touched_group_derive_slice(spark):
    """With many groups and a narrow delta, the aux re-derivation runs
    over the touched slice only (adaptive: needs the measured state
    size, measured after every merge, and a small touched fraction) —
    and stays exact, including untouched groups keeping their values."""
    rows_ = [(f"g{i}", i * 10 + j, "s") for i in range(20) for j in range(3)]
    base = spark.createDataFrame(rows_, "k string, x int, s string")
    eng = IVMEngine(spark)
    eng.register_table("t", base)
    eng.create_immv(
        "v", sql="SELECT k, median(x) AS med, max(x) AS hi, count(x) AS n "
        "FROM t GROUP BY k"
    )
    # batch 1 (full derive: state size unmeasured yet)
    d1 = spark.createDataFrame(
        [("g0", 5, "s", True)], f"k string, x int, s string, {MULT_COL} boolean"
    )
    eng.register_delta("t", d1)
    eng.maintain("v")
    assert eng._last_derive_sliced is False
    # batch 2 touches 1 of 20 groups -> sliced derive
    d2 = spark.createDataFrame(
        [("g3", 31, "s", False), ("g3", 99, "s", True)],
        f"k string, x int, s string, {MULT_COL} boolean",
    )
    eng.register_delta("t", d2)
    eng.maintain("v")
    assert eng._last_derive_sliced is True
    truth = (
        eng.table("t")
        .groupBy("k")
        .agg(
            F.median("x").alias("med"),
            F.max("x").alias("hi"),
            F.count("x").alias("n"),
        )
    )
    assert rows(eng.read_view("v")) == rows(truth)
