"""The signed re-count (operators/merge.py ``recount``) and the joins
around it, driven through the engine on tiny frames.

- a NULL group key is a group like any other: after a delete, the
  MIN/MAX/median/percentile values re-derived from the aux relation
  must land on the NULL group too (the patch join is NULL-safe);
- a base column whose name holds a dot survives the base fold, so
  ``maintain_all`` works for aggregate and projection views over it.

Each case compares the maintained view with ``full_refresh``.
"""

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators import merge as merge_ops
from ivm_extension_spark.operators.rewrite import MULT_COL

from tests.conftest import rows


def test_null_group_key_after_delete(spark):
    eng = IVMEngine(spark)
    eng.register_table(
        "t",
        spark.createDataFrame(
            [(None, 1), (None, 5), ("a", 2), ("a", 7)], "g string, x int"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT g, min(x) AS lo, max(x) AS hi, count(*) AS n, median(x) AS m, "
        "percentile(x, 0.25) AS p FROM t GROUP BY g",
    )
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [(None, 1, False), ("a", 2, False)], f"g string, x int, {MULT_COL} boolean"
        ),
    )
    got = rows(eng.maintain("v"))
    assert got == rows(eng.full_refresh("v"))
    assert got[0] == (None, 5, 5, 1, 5.0, 5.0)


def test_dotted_base_column_maintain(spark):
    eng = IVMEngine(spark)
    eng.register_table(
        "t",
        spark.createDataFrame([("a", 1), ("a", 5), ("b", 2)], "g string, `x.y` int"),
    )
    views = {
        "sum_v": "SELECT g, sum(`x.y`) AS s FROM t GROUP BY g",
        "min_v": "SELECT g, min(`x.y`) AS lo FROM t GROUP BY g",
        "proj_v": "SELECT g, `x.y` FROM t",
    }
    for name, sql in views.items():
        eng.create_immv(name, sql=sql)
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [("a", 1, False), ("b", 9, True)],
            f"g string, `x.y` int, {MULT_COL} boolean",
        ),
    )
    out = eng.maintain_all()
    for name in views:
        assert rows(out[name]) == rows(eng.full_refresh(name)), name


def test_recount_split_equals_full(spark):
    """Both forms give the same multiset: NULL tuples match, a count
    reaching zero disappears, an untouched tuple passes through."""
    state = spark.createDataFrame(
        [(None, 2), ("a", 1), ("b", 3)], "k string, __ivm_n bigint"
    )
    delta = spark.createDataFrame(
        [(None, -1), ("a", -1), ("c", 2)], "k string, __ivm_n bigint"
    )
    full = rows(merge_ops.recount(state, delta, ["k"]))
    assert full == [(None, 1), ("b", 3), ("c", 2)]
    assert rows(merge_ops.recount(state, delta, ["k"], split=True)) == full
