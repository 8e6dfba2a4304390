"""Merge (⊎) semantics and the join delta rule.

The reference computes ΔV only; merging is specified by its poster's
algebra (V' = V ⊎ ΔV, re-aggregation of V UNION ALL ΔV) and pinned here
by the IVM invariant: merge(q(T), ivm(Δ)) == q(T ∖ Δ⁻ ⊎ Δ⁺).
"""

import pytest

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import MULT_COL as MULT_COL_NAME
from ivm_extension_spark.operators.rewrite import IVMError

from tests.conftest import force_merge, rows

SCHEMA = "a int, b string, c string"
DELTA_SCHEMA = "a int, b string, c string, _duckdb_ivm_multiplicity boolean"


def engine_with(spark, base, delta):
    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame(base, schema=SCHEMA))
    if delta is not None:
        eng.register_delta("t", spark.createDataFrame(delta, schema=DELTA_SCHEMA))
    return eng


def check_invariant(spark, eng, sql):
    """merge(V, ΔV) must equal the recompute over the delta-applied base."""
    eng.create_immv("v", sql=sql)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)
    return merged


def test_merge_agg_updates_groups(spark):
    base = [(1, "x", "p"), (2, "x", "q"), (5, "y", "r")]
    delta = [(10, "x", "s", True), (2, "x", "q", False), (7, "z", "t", True)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark, eng, "SELECT b, sum(a) AS s, count(c) AS c FROM t GROUP BY b"
    )
    assert merged == sorted(
        [("x", 11, 2), ("y", 5, 1), ("z", 7, 1)], key=lambda t: tuple(map(str, t))
    )


def test_merge_group_drop_on_net_zero(spark):
    # deleting every row of group y removes the group entirely
    base = [(1, "x", "p"), (5, "y", "r"), (6, "y", "s")]
    delta = [(5, "y", "r", False), (6, "y", "s", False)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark, eng, "SELECT b, sum(a) AS s, count(c) AS c FROM t GROUP BY b"
    )
    assert merged == [("x", 1, 1)]


def test_merge_sum_only_view_still_drops_groups(spark):
    # hidden count(*) companion makes group-drop work without a COUNT output
    base = [(1, "x", "p"), (5, "y", "r")]
    delta = [(5, "y", "r", False)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(spark, eng, "SELECT b, sum(a) AS s FROM t GROUP BY b")
    assert merged == [("x", 1)]


def test_merge_global_agg(spark):
    base = [(1, "x", "p"), (2, "y", "q")]
    delta = [(3, "z", "r", True), (1, "x", "p", False)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(spark, eng, "SELECT sum(a) AS s, count(c) AS c FROM t")
    assert merged == [(5, 2)]


def test_merge_global_agg_drained_to_empty(spark):
    """A global aggregate always returns ONE row; draining the table (or
    starting empty) yields the SQL empty-input row: NULL sums/extremes,
    zero counts — never zero rows (regression: the net-zero-group filter
    used to swallow the global row)."""
    # empty base, empty delta
    eng = engine_with(spark, [], [])
    merged = check_invariant(
        spark, eng, "SELECT min(a) AS lo, count(DISTINCT c) AS nd FROM t"
    )
    assert merged == [(None, 0)]
    # non-empty base fully deleted by the delta
    base = [(1, "x", "p"), (2, "y", "q")]
    delta = [(1, "x", "p", False), (2, "y", "q", False)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark, eng, "SELECT sum(a) AS s, count(c) AS c FROM t"
    )
    assert merged == [(None, 0)]


def test_merge_avg_exact(spark):
    base = [(1, "x", "p"), (3, "x", "q"), (10, "y", "r")]
    delta = [(5, "x", "s", True), (1, "x", "p", False)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(spark, eng, "SELECT b, avg(a) AS m FROM t GROUP BY b")
    assert merged == [("x", 4.0), ("y", 10.0)]


def test_merge_projection_bag_semantics(spark):
    # duplicate rows survive as a bag; delete removes exactly one occurrence
    base = [(1, "x", "p"), (1, "x", "p"), (2, "y", "q")]
    delta = [(1, "x", "p", False), (3, "z", "r", True)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(spark, eng, "SELECT a, b, c FROM t")
    assert merged == sorted(
        [(1, "x", "p"), (2, "y", "q"), (3, "z", "r")],
        key=lambda t: tuple(map(str, t)),
    )


def test_merge_min_max_insert_only(spark):
    base = [(5, "x", "p"), (9, "y", "q")]
    delta = [(1, "x", "s", True), (20, "y", "t", True)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark, eng, "SELECT b, min(a) AS lo, max(a) AS hi FROM t GROUP BY b"
    )
    assert merged == [("x", 1, 5), ("y", 9, 20)]


def test_merge_min_max_delete_of_extreme(spark):
    # deleting the current min exposes the runner-up: needs the auxiliary
    # per-(group, value) state the engine maintains (operators/auxstate.py)
    base = [(5, "x", "p"), (8, "x", "q"), (9, "y", "r")]
    delta = [(5, "x", "p", False), (30, "y", "t", True)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark, eng, "SELECT b, min(a) AS lo, max(a) AS hi FROM t GROUP BY b"
    )
    assert merged == [("x", 8, 8), ("y", 9, 30)]


def test_merge_min_max_delete_whole_group(spark):
    base = [(5, "x", "p"), (1, "y", "q")]
    delta = [(5, "x", "p", False)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(spark, eng, "SELECT b, min(a) AS lo FROM t GROUP BY b")
    assert merged == [("y", 1)]


def test_merge_count_distinct_under_deletes(spark):
    # two rows share a=1 in group x; deleting one keeps the value alive,
    # deleting both removes it — exactly what per-value counts track
    base = [(1, "x", "p"), (1, "x", "q"), (2, "x", "r"), (7, "y", "s")]
    delta = [(1, "x", "p", False), (2, "x", "r", False), (7, "y", "s", False), (8, "y", "t", True)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark, eng, "SELECT b, count(DISTINCT a) AS nd FROM t GROUP BY b"
    )
    assert merged == [("x", 1), ("y", 1)]


def test_merge_sum_avg_distinct_under_deletes(spark):
    # distinct sums/means are value-SET functions: deleting one of two
    # rows sharing a value must keep it in the sum; deleting both must
    # remove it.  Maintained via the same per-(group, value) aux counts
    # as count(DISTINCT); merged values equal the recompute exactly.
    # EXACT equality here relies on integer arguments: a double-lane
    # sum(DISTINCT) sums aux rows in arbitrary order vs the refresh's
    # sum(DISTINCT) over the base, so ulp drift is possible for
    # non-integer args (documented at auxstate.py sum_distinct derive).
    base = [(1, "x", "p"), (1, "x", "q"), (2, "x", "r"), (7, "y", "s")]
    delta = [
        (1, "x", "p", False),
        (2, "x", "r", False),
        (7, "y", "s", False),
        (8, "y", "t", True),
    ]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark,
        eng,
        "SELECT b, sum(DISTINCT a) AS sd, avg(DISTINCT a) AS ad, "
        "count(DISTINCT a) AS nd FROM t GROUP BY b",
    )
    # x: values {1,2} -> {1}; y: {7} -> {8}
    assert merged == [("x", 1, 1.0, 1), ("y", 8, 8.0, 1)]


def test_sum_distinct_direct_merge_without_aux_raises(spark):
    # merging a distinct-sum view outside the engine (no aux relation)
    # must be rejected even insert-only: overlapping values across
    # batches would double-count
    from ivm_extension_spark.operators import merge as merge_ops
    from ivm_extension_spark.plans.sqlfront import parse_view_sql

    base = [(1, "x", "p"), (2, "x", "q")]
    eng = engine_with(spark, base, None)
    vdef = parse_view_sql(
        "v", "SELECT b, sum(DISTINCT a) AS sd FROM t GROUP BY b"
    )
    iv = merge_ops.internal_view(vdef)
    from ivm_extension_spark.operators.rewrite import compute_view
    from pyspark.sql import functions as F

    state = compute_view(iv, eng.table)
    dv = state.limit(1).withColumn(MULT_COL_NAME, F.lit(True))
    with pytest.raises(IVMError, match="SUM_DISTINCT"):
        merge_ops.merge(state, dv, iv, {}, "shuffle")


def test_sum_distinct_string_arg_rejected(spark):
    base = [(1, "x", "p")]
    eng = engine_with(spark, base, None)
    with pytest.raises(IVMError, match="numeric"):
        eng.create_immv("v", sql="SELECT b, sum(DISTINCT c) AS sd FROM t GROUP BY b")


def test_merge_min_max_repeated_rounds(spark):
    # aux state must stay exact across multiple delta/merge/apply rounds
    base = [(5, "x", "p"), (8, "x", "q")]
    eng = engine_with(spark, base, [(2, "x", "r", True)])
    eng.create_immv("v", sql="SELECT b, min(a) AS lo, max(a) AS hi FROM t GROUP BY b")
    eng.ivm_upsert("v")
    eng.merge_view("v")
    eng.apply_delta("t")
    assert rows(eng.read_view("v")) == [("x", 2, 8)]
    eng.register_delta(
        "t",
        eng.spark.createDataFrame(
            [(2, "x", "r", False), (8, "x", "q", False)], schema=DELTA_SCHEMA
        ),
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    assert merged == rows(eng.full_refresh("v"))
    assert merged == [("x", 5, 5)]


def test_merge_min_max_string_lane(spark):
    # aux values ride the string lane (auxstate.lane_for): deletes of the
    # current extreme must fall back to the runner-up, per group
    base = [(1, "x", "mango"), (2, "x", "apple"), (3, "y", "kiwi")]
    delta = [(2, "x", "apple", False), (4, "y", "zebra", True)]
    eng = engine_with(spark, base, delta)
    merged = check_invariant(
        spark,
        eng,
        "SELECT b, min(c) AS lo, max(c) AS hi, count(DISTINCT c) AS nd "
        "FROM t GROUP BY b",
    )
    assert merged == [("x", "mango", "mango", 1), ("y", "kiwi", "zebra", 2)]


def test_merge_min_max_global_timestamp_lane(spark):
    # global aggregate (no GROUP BY) + timestamp values: the ISO string
    # cast keeps lane order == value order, and the patch cross-joins the
    # single re-derived row
    import datetime as dt

    def ts(s):
        return dt.datetime.fromisoformat(s)

    eng = IVMEngine(spark)
    eng.register_table(
        "e",
        spark.createDataFrame(
            [(1, ts("2024-01-02 03:04:05")), (2, ts("2024-06-01 00:00:00"))],
            "id int, at timestamp",
        ),
    )
    eng.register_delta(
        "e",
        spark.createDataFrame(
            [
                (2, ts("2024-06-01 00:00:00"), False),
                (3, ts("2023-12-31 23:59:59"), True),
            ],
            "id int, at timestamp, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.create_immv("v", sql="SELECT min(at) AS lo, max(at) AS hi FROM e")
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("e")
    assert merged == rows(eng.full_refresh("v"))
    assert merged == [(ts("2023-12-31 23:59:59"), ts("2024-01-02 03:04:05"))]


def test_aux_rejects_unsupported_value_type(spark):
    # decimal money must be expressed as integer cents (the engine-wide
    # float-determinism rule); a raw array value has no ordered lane
    eng = IVMEngine(spark)
    eng.register_table(
        "arr", spark.createDataFrame([(1, [1, 2])], "id int, xs array<int>")
    )
    eng.register_delta(
        "arr",
        spark.createDataFrame(
            [(1, [1, 2], True)],
            "id int, xs array<int>, _duckdb_ivm_multiplicity boolean",
        ),
    )
    with pytest.raises(IVMError, match="does not support"):
        eng.create_immv("v", sql="SELECT min(xs) AS lo FROM arr")


def test_join_view_with_static_dimension(spark):
    # 3-table view, delta only on the fact table: the dim tables are
    # unchanged (Δ=∅) so the rewrite emits exactly one branch
    eng = IVMEngine(spark)
    eng.register_table("f", spark.createDataFrame([(1, 10, 100)], "id int, k int, v int"))
    eng.register_table("d1", spark.createDataFrame([(10, "a")], "k int, name string"))
    eng.register_table("d2", spark.createDataFrame([(100, "z")], "v int, tag string"))
    eng.register_delta(
        "f",
        spark.createDataFrame(
            [(2, 10, 100, True)], "id int, k int, v int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT name, tag, sum(id) AS s FROM f "
        "JOIN d1 ON f.k = d1.k JOIN d2 ON f.v = d2.v GROUP BY name, tag",
    )
    dv = rows(eng.ivm_upsert("v"))
    assert dv == [("a", "z", 2, True)]
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("f")
    assert merged == rows(eng.full_refresh("v")) == [("a", "z", 3)]


def test_join_view_with_minmax_aux_both_deltas(spark):
    # MIN/MAX aux state over a JOIN view, deltas on BOTH tables: the
    # tagged delta_aux must fold all 3 delta-join branches (Δf⋈d, f⋈Δd,
    # Δf⋈Δd), including a delete of the current per-group minimum
    eng = IVMEngine(spark)
    eng.register_table(
        "f", spark.createDataFrame([(1, 10), (5, 10), (9, 20)], "id int, k int")
    )
    eng.register_table(
        "d", spark.createDataFrame([(10, "a"), (20, "b")], "k int, name string")
    )
    eng.register_delta(
        "f",
        spark.createDataFrame(
            [(1, 10, False), (3, 20, True)],
            "id int, k int, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.register_delta(
        "d",
        spark.createDataFrame(
            [(30, "c", True)], "k int, name string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT name, min(id) AS lo, max(id) AS hi, count(id) AS n "
        "FROM f JOIN d ON f.k = d.k GROUP BY name",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    for t in ("f", "d"):
        eng.apply_delta(t)
    assert merged == rows(eng.full_refresh("v"))
    # group a: {1,5}→{5} after the delete; group b: {9}→{3,9}
    assert merged == [("a", 5, 5, 1), ("b", 3, 9, 2)]


def test_join_view_no_delta_anywhere_raises(spark):
    eng = IVMEngine(spark)
    eng.register_table("f", spark.createDataFrame([(1, 10)], "id int, k int"))
    eng.register_table("d", spark.createDataFrame([(10, "a")], "k int, name string"))
    eng.create_immv(
        "v", sql="SELECT name, sum(id) AS s FROM f JOIN d ON f.k = d.k GROUP BY name",
        materialize=False,
    )
    with pytest.raises(IVMError, match="delta_f does not exist"):
        eng.ivm_upsert("v")


def test_having_applies_to_public_view_not_state(spark):
    # group y starts below the threshold, crosses it after the delta;
    # group x starts above and drops below — state must stay pre-HAVING
    base = [(6, "x", "p"), (2, "y", "q")]
    delta = [(9, "y", "r", True), (6, "x", "p", False), (1, "x", "s", True)]
    eng = engine_with(spark, base, delta)
    initial = rows(
        eng.create_immv("v", sql="SELECT b, sum(a) AS s FROM t GROUP BY b HAVING s > 5")
    )
    assert initial == [("x", 6)]
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    assert merged == [("y", 11)]  # y entered, x left (but x stays in state)
    eng.apply_delta("t")
    assert merged == rows(eng.full_refresh("v"))
    # x is still tracked pre-HAVING: pushing it back over the line works
    eng.register_delta(
        "t", eng.spark.createDataFrame([(20, "x", "z", True)], schema=DELTA_SCHEMA)
    )
    eng.ivm_upsert("v")
    assert rows(eng.merge_view("v")) == [("x", 21), ("y", 11)]


def test_direct_merge_without_aux_still_raises(spark):
    # the low-level merge() API (no engine, no aux state) keeps the guard
    from ivm_extension_spark.operators import merge as merge_ops

    base = [(5, "x", "p")]
    delta = [(5, "x", "p", False)]
    eng = engine_with(spark, base, delta)
    eng.create_immv("v", sql="SELECT b, min(a) AS lo FROM t GROUP BY b")
    dv = eng.ivm_upsert("v")
    with pytest.raises(IVMError, match="MIN merge under deletes"):
        merge_ops.merge(eng._state["v"], eng._delta_views["v"], eng._iviews["v"])
    del dv


def test_repeated_merge_rounds(spark):
    # two delta rounds: apply, re-delta, merge again — state stays exact
    base = [(1, "x", "p"), (2, "y", "q")]
    eng = engine_with(spark, base, [(3, "x", "r", True)])
    eng.create_immv("v", sql="SELECT b, sum(a) AS s, count(c) AS c FROM t GROUP BY b")
    eng.ivm_upsert("v")
    eng.merge_view("v")
    eng.apply_delta("t")
    eng.register_delta(
        "t",
        eng.spark.createDataFrame([(2, "y", "q", False), (9, "y", "z", True)], schema=DELTA_SCHEMA),
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    assert merged == rows(eng.full_refresh("v"))
    assert merged == sorted(
        [("x", 4, 2), ("y", 9, 1)], key=lambda t: tuple(map(str, t))
    )


# --- join delta rule ------------------------------------------------------

def test_join_delta_rule_projection(spark):
    eng = IVMEngine(spark)
    eng.register_table(
        "o", spark.createDataFrame([(1, 10, 5.0), (2, 20, 7.0)], "ok int, ck int, amt double")
    )
    eng.register_table(
        "c", spark.createDataFrame([(10, "A"), (20, "B")], "ck2 int, seg string")
    )
    eng.register_delta(
        "o",
        spark.createDataFrame(
            [(3, 10, 9.0, True), (2, 20, 7.0, False)],
            "ok int, ck int, amt double, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.register_delta(
        "c",
        spark.createDataFrame(
            [(30, "C", True)], "ck2 int, seg string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v", sql="SELECT ok, seg FROM o JOIN c ON ck = ck2", materialize=False
    )
    got = rows(eng.ivm_upsert("v"))
    # ΔO⋈C: (3,A,+), (2,B,-); O⋈ΔC: none (no order has ck=30); ΔO⋈ΔC: none
    assert got == sorted(
        [(3, "A", True), (2, "B", False)], key=lambda t: tuple(map(str, t))
    )


def test_join_delta_both_sides_and_merge(spark):
    # ΔO⋈ΔC branch fires: new order for a new customer
    eng = IVMEngine(spark)
    eng.register_table("o", spark.createDataFrame([(1, 10, 5.0)], "ok int, ck int, amt double"))
    eng.register_table("c", spark.createDataFrame([(10, "A")], "ck2 int, seg string"))
    eng.register_delta(
        "o",
        spark.createDataFrame(
            [(2, 30, 4.0, True)], "ok int, ck int, amt double, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.register_delta(
        "c",
        spark.createDataFrame(
            [(30, "C", True)], "ck2 int, seg string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT seg, sum(amt) AS s, count(ok) AS n FROM o JOIN c ON ck = ck2 GROUP BY seg",
    )
    dv = rows(eng.ivm_upsert("v"))
    assert dv == [("C", 4.0, 1, True)]
    merged = rows(eng.merge_view("v"))
    # truth: recompute over applied bases
    eng.apply_delta("o")
    eng.apply_delta("c")
    assert merged == rows(eng.full_refresh("v"))
    assert merged == sorted(
        [("A", 5.0, 1), ("C", 4.0, 1)], key=lambda t: tuple(map(str, t))
    )


def test_join_delta_delete_propagates_sign(spark):
    # deleting a customer deletes its joined rows (sign product)
    eng = IVMEngine(spark)
    eng.register_table("o", spark.createDataFrame([(1, 10, 5.0), (2, 10, 3.0)], "ok int, ck int, amt double"))
    eng.register_table("c", spark.createDataFrame([(10, "A")], "ck2 int, seg string"))
    eng.register_delta(
        "o", spark.createDataFrame([], "ok int, ck int, amt double, _duckdb_ivm_multiplicity boolean")
    )
    eng.register_delta(
        "c",
        spark.createDataFrame(
            [(10, "A", False)], "ck2 int, seg string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv("v", sql="SELECT ok, seg FROM o JOIN c ON ck = ck2", materialize=False)
    got = rows(eng.ivm_upsert("v"))
    assert got == sorted(
        [(1, "A", False), (2, "A", False)], key=lambda t: tuple(map(str, t))
    )


# -- LEFT OUTER JOIN delta rule (counting-based anti part) -----------------
#
# L ⟕ R = (L ⋈ R) ∪ (L ▷ R) × {NULL_R}: the NULL-padded rows change exactly
# where R's per-key match count crosses zero.  Beyond the reference (joins
# unsupported, README.md:36); semantics pinned by the IVM invariant.

LJ_CUST = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
LJ_ORD = [(10, 1), (11, 1), (12, 2), (13, 99)]


def lj_engine(spark, dcust=None, dord=None):
    eng = IVMEngine(spark)
    eng.register_table("cust", spark.createDataFrame(LJ_CUST, "ck int, seg string"))
    eng.register_table("orders", spark.createDataFrame(LJ_ORD, "ok int, ck2 int"))
    if dcust is not None:
        eng.register_delta(
            "cust",
            spark.createDataFrame(
                dcust, "ck int, seg string, _duckdb_ivm_multiplicity boolean"
            ),
        )
    if dord is not None:
        eng.register_delta(
            "orders",
            spark.createDataFrame(
                dord, "ok int, ck2 int, _duckdb_ivm_multiplicity boolean"
            ),
        )
    return eng


def lj_check(eng, sql):
    eng.create_immv("v", sql=sql)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    for t in ("cust", "orders"):
        try:
            eng.delta(t)
        except IVMError:
            continue
        eng.apply_delta(t)
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)
    return merged


def test_left_join_projection_zero_crossings(spark):
    # cust 3 gains its first order (NULL row retracted), cust 2 loses its
    # only one (NULL row appears), cust 4 (unmatched) deleted, cust 5
    # (unmatched) inserted — every anti-part term in one batch
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(5, "e", True), (4, "d", False)],
            dord=[(20, 3, True), (12, 2, False)],
        ),
        "SELECT ck, seg, ok FROM cust LEFT JOIN orders ON ck = ck2",
    )
    assert (2, "b", None) in merged and (5, "e", None) in merged
    assert (3, "c", 20) in merged and not any(
        r == (3, "c", None) or r[0] == 4 for r in merged
    )


def test_left_join_aggregate_counts_null_matches(spark):
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(5, "e", True)],
            dord=[(20, 3, True), (12, 2, False)],
        ),
        "SELECT seg, count(ok) AS n, count(*) AS rows_n "
        "FROM cust LEFT JOIN orders ON ck = ck2 GROUP BY seg",
    )
    # count(ok) skips NULLs from unmatched rows; count(*) does not
    assert ("b", 0, 1) in merged and ("e", 0, 1) in merged and ("c", 1, 1) in merged


@pytest.mark.parametrize("strategy", ["shuffle", "patch"])
def test_unaliased_qualified_select_item_merges(spark, monkeypatch, strategy):
    """An unaliased ``cust.ck`` keeps the output name ``cust.ck``; the bag
    merge must group by it as one quoted name, not as qualifier ``cust`` plus
    column ``ck``."""
    eng = lj_engine(spark, dord=[(14, 3, True), (12, 2, False)])
    force_merge(monkeypatch, strategy)
    lj_check(eng, "SELECT cust.ck, seg, ok FROM cust LEFT JOIN orders ON cust.ck = ck2")
    assert eng.stats("v")["last_merge_strategy"] == strategy


def test_left_join_right_delta_only(spark):
    lj_check(
        lj_engine(spark, dord=[(20, 3, True), (12, 2, False), (14, 1, True)]),
        "SELECT ck, seg, ok FROM cust LEFT JOIN orders ON ck = ck2",
    )


def test_left_join_left_delta_only_linear_path(spark):
    lj_check(
        lj_engine(spark, dcust=[(5, "e", True), (1, "a", False)]),
        "SELECT ck, seg, ok FROM cust LEFT JOIN orders ON ck = ck2",
    )


def test_left_join_chain_fact_delta(spark):
    # 3-table inner/left mix, delta on the leftmost table only (linear)
    eng = lj_engine(spark, dcust=[(5, "e", True), (2, "b", False)])
    eng.register_table(
        "seg_dim",
        spark.createDataFrame([("a", "A"), ("b", "B"), ("e", "E")], "sg string, nm string"),
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, ok, nm FROM cust LEFT JOIN orders ON ck = ck2 "
        "LEFT JOIN seg_dim ON seg = sg",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("cust")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)


def test_left_join_chain_dim_delta_maintained(spark):
    # delta on the MIDDLE table of a 3-table left chain: one counting
    # step of rewrite._fold_joins (old prefix as X, the suffix folds in
    # linearly); insert + delete flip NULL padding both ways
    eng = lj_engine(spark, dord=[(20, 3, True), (10, 1, False), (11, 1, False)])
    eng.register_table(
        "seg_dim", spark.createDataFrame([("a", "A")], "sg string, nm string")
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, ok, nm FROM cust LEFT JOIN orders ON ck = ck2 "
        "LEFT JOIN seg_dim ON seg = sg",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("orders")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)


def test_left_join_chain_multi_delta_one_shot(spark):
    # deltas on TWO tables of a >2-table outer chain used to be rejected
    # (engine.maintain decomposed them against state); the sequential-
    # worlds composition now makes a single upsert + merge exact
    eng = lj_engine(spark, dcust=[(9, "z", True)], dord=[(20, 3, True)])
    eng.register_table(
        "seg_dim", spark.createDataFrame([("a", "A")], "sg string, nm string")
    )
    sql = (
        "SELECT ck, ok, nm FROM cust LEFT JOIN orders ON ck = ck2 "
        "LEFT JOIN seg_dim ON seg = sg"
    )
    eng.create_immv("v", sql=sql)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    for t in ("cust", "orders"):
        eng.apply_delta(t)
    eng2 = IVMEngine(spark)
    for t in ("cust", "orders", "seg_dim"):
        eng2.register_table(t, eng.table(t))
    assert merged == rows(eng2.create_immv("v", sql=sql))


def test_left_join_theta_condition_maintained(spark):
    # previously rejected ("requires a conjunctive equi-join"); now routed
    # to the general theta algebra (operators/thetajoin.py).  Deleting
    # (13, 99) strips ck=3,4 of their LAST match (+NULL-pad crossing);
    # inserting cust 9 adds a matchless preserved row.
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(9, "z", True)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT ck, seg, ok FROM cust LEFT JOIN orders ON ck < ck2",
    )
    assert (3, "c", None) in merged and (9, "z", None) in merged


def test_theta_condition_literal_keeps_placeholder_text(spark):
    # '{l}' / '{r}' inside a user literal are data, not the frame
    # placeholders of the SQL-text constructions: both new customers
    # stay matchless (NULL-padded), exactly as full_refresh computes
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(0, "{r}", True), (-1, "{l}", True)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT ck, seg, ok FROM cust LEFT JOIN orders "
        "ON ck < ck2 AND seg NOT IN ('{l}', '{r}')",
    )
    assert (0, "{r}", None) in merged and (-1, "{l}", None) in merged


def test_full_join_theta_condition_maintained(spark):
    # FULL theta through the SQL front: both preserved directions flip
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(9, "z", True)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT ck, seg, ok FROM cust FULL OUTER JOIN orders ON ck < ck2",
    )
    assert (4, "d", None) in merged  # lost its last match
    assert (None, None, 10) in merged  # ck2=1 exceeds no ck: right-preserved


def _seg_engine(spark, dcust=None, dord=None):
    eng = lj_engine(spark, dcust=dcust, dord=dord)
    eng.register_table(
        "seg_dim",
        spark.createDataFrame(
            [("a", "A"), ("b", "B"), ("c", "C")], "sg string, nm string"
        ),
    )
    return eng


def test_left_theta_last_chain_position_right_delta(spark):
    # theta at the LAST position of a 3-table chain (prefix = cust ⋈
    # seg_dim), delta on the theta side: Δ(P ⟕θ C) composes the prefix
    # (no delta) with the two-relation theta rule
    merged = lj_check(
        _seg_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg, nm, ok FROM cust JOIN seg_dim ON seg = sg "
        "LEFT JOIN orders ON ck < ck2",
    )
    assert (3, "c", "C", None) in merged  # lost its last match -> NULL-pad
    assert (1, "a", "A", 20) in merged


def test_left_theta_last_chain_position_both_deltas(spark):
    # deltas on a PREFIX table and the theta side simultaneously: ΔP
    # comes from the prefix's own delta rule, ΔC from the base delta
    merged = lj_check(
        _seg_engine(
            spark,
            dcust=[(0, "b", True), (2, "b", False)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT ck, seg, nm, ok FROM cust JOIN seg_dim ON seg = sg "
        "LEFT JOIN orders ON ck < ck2",
    )
    assert (0, "b", "B", 10) in merged  # inserted cust matches ck2=1
    assert all(t[0] != 2 for t in merged)  # deleted cust gone


def test_full_theta_last_chain_position_both_deltas(spark):
    # inserted cust 5 matched only order 13 (ck2=99), which the same
    # batch deletes — the new row must come out left-preserved
    merged = lj_check(
        _seg_engine(
            spark,
            dcust=[(5, "c", True)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT ck, seg, nm, ok FROM cust JOIN seg_dim ON seg = sg "
        "FULL OUTER JOIN orders ON ck < ck2",
    )
    assert (3, "c", "C", None) in merged and (5, "c", "C", None) in merged
    assert (None, None, None, 10) in merged  # ck2=1: right-preserved


def test_semi_anti_theta_last_chain_position(spark):
    semi = lj_check(
        _seg_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg, nm FROM cust JOIN seg_dim ON seg = sg "
        "SEMI JOIN orders ON ck < ck2",
    )
    assert (1, "a", "A") in semi and all(t[0] != 3 for t in semi)
    anti = lj_check(
        _seg_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg, nm FROM cust JOIN seg_dim ON seg = sg "
        "ANTI JOIN orders ON ck < ck2",
    )
    assert (3, "c", "C") in anti and all(t[0] != 1 for t in anti)


def test_theta_last_after_semi_prefix(spark):
    # a SEMI join inside the prefix emits left columns only — the theta
    # chain rule must not expect the semi table's columns in P
    eng = _seg_engine(spark, dord=[(20, 3, True), (13, 99, False)])
    eng.register_table(
        "sel", spark.createDataFrame([("a",), ("c",)], "s2 string")
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, seg, nm, ok FROM cust JOIN seg_dim ON seg = sg "
        "SEMI JOIN sel ON sg = s2 LEFT JOIN orders ON ck < ck2",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("orders")
    assert merged == rows(eng.full_refresh("v"))
    assert (3, "c", "C", None) in merged  # seg 'b' filtered by the semi


def test_theta_mid_chain_with_equi_suffix(spark):
    # theta LEFT at position 0, equi INNER suffix (deltaless): ΔV =
    # Δ(cust ⟕θ orders) folded linearly through seg_dim
    merged = lj_check(
        _seg_engine(
            spark,
            dcust=[(0, "b", True)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT ck, seg, nm, ok FROM cust LEFT JOIN orders ON ck < ck2 "
        "JOIN seg_dim ON seg = sg",
    )
    assert (3, "c", "C", None) in merged  # lost its last match
    assert (0, "b", "B", 10) in merged  # inserted cust, matched


def test_theta_mid_chain_with_semi_suffix(spark):
    merged = lj_check(
        _seg_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg, ok FROM cust LEFT JOIN orders ON ck < ck2 "
        "SEMI JOIN seg_dim ON seg = sg",
    )
    assert (3, "c", None) in merged  # NULL-pad flip survives the semi
    assert all(t[1] != "d" for t in merged)  # seg 'd' not in seg_dim


def test_theta_mid_chain_full_suffix_maintained(spark):
    # a FULL suffix join after a theta position is not linear in its
    # left argument, so it is a counting step of its own after the
    # theta step (round 4; this was the last documented theta rejection)
    merged = lj_check(
        _seg_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg, nm, ok FROM cust LEFT JOIN orders ON ck < ck2 "
        "FULL OUTER JOIN seg_dim ON seg = sg",
    )
    assert merged  # parity vs recompute asserted inside lj_check


def test_theta_last_duplicate_prefix_names_rejected(spark):
    # both prefix tables carry a column named k: flattening P would be
    # ambiguous — must raise a clean IVMError, not an AnalysisException
    eng = IVMEngine(spark)
    eng.register_table("f", spark.createDataFrame([(1, 2.0)], "k int, fv double"))
    eng.register_table("d", spark.createDataFrame([(1, 3.0)], "k int, dv double"))
    eng.register_table("r", spark.createDataFrame([("x", 5.0)], "tag string, cut double"))
    eng.register_delta(
        "r",
        spark.createDataFrame(
            [("y", 1.0, True)], f"tag string, cut double, {MULT_COL_NAME} boolean"
        ),
    )
    eng.create_immv(
        "v", sql="SELECT fv, dv, tag FROM f JOIN d ON f.k = d.k LEFT JOIN r ON dv < cut"
    )
    with pytest.raises(IVMError, match="unique column names"):
        eng.ivm_upsert("v")


# f.a holds the value 'a' and g.date is a column named like a type: a
# double-quoted literal, a typed literal or a CAST target that spells a
# column name must stay what it is, and a qualified reference matches
# its table and column case-insensitively
FDG_SCHEMAS = {
    "f": "k int, a string, v int",
    "d": "dk int, tag string, w int",
    "g": "gw int, gn string, date string",
}
FDG_ROWS = {
    "f": [(1, "a", 10), (2, "b", 20), (3, "a", 30), (None, "c", 40)],
    "d": [(1, "a", 100), (2, "x", 200), (4, "a", 400)],
    "g": [(100, "p", "2024-03-01"), (200, "q", "2023-12-31"), (500, "r", "2024-05-05")],
}
FDG_DELTAS = {
    "f": [(4, "a", 50, True), (1, "a", 10, False)],
    "d": [(3, "a", 300, True), (2, "x", 200, False), (1, "b", 101, True)],
    "g": [(300, "s", "2024-02-02", True), (100, "p", "2024-03-01", False)],
}


def fdg_check(spark, sql, deltas):
    eng = IVMEngine(spark)
    for t, schema in FDG_SCHEMAS.items():
        eng.register_table(t, spark.createDataFrame(FDG_ROWS[t], schema))
    for t in deltas:
        eng.register_delta(
            t,
            spark.createDataFrame(
                FDG_DELTAS[t], f"{FDG_SCHEMAS[t]}, {MULT_COL_NAME} boolean"
            ),
        )
    eng.create_immv("v", sql=sql)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    for t in deltas:
        eng.apply_delta(t)
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)
    return merged


@pytest.mark.parametrize(
    "sql,deltas",
    [
        (
            'SELECT k, a, tag, w FROM f LEFT JOIN d ON f.k = d.dk AND d.tag = "a"',
            ("f", "d"),
        ),
        (
            "SELECT k, a, tag, w, gn FROM f LEFT JOIN d "
            'ON f.k = d.dk AND d.tag = "a" LEFT JOIN g ON w = gw',
            ("d", "g"),
        ),
        (
            "SELECT k, a, tag, w, gn FROM f LEFT JOIN d ON f.k = d.dk "
            'LEFT JOIN g ON w = gw WHERE tag = "a"',
            ("d", "g"),
        ),
        (
            "SELECT k, a, tag, w, gn FROM f LEFT JOIN d ON F.K = d.dk "
            "LEFT JOIN g ON D.W = G.gw",
            ("f", "d", "g"),
        ),
        (
            "SELECT k, a, tag, w, gn FROM f LEFT JOIN d ON f.k = d.dk "
            "LEFT JOIN g ON w = gw AND CAST(g.date AS date) >= DATE '2024-01-01'",
            ("d", "g"),
        ),
    ],
)
def test_chain_condition_literals_and_case(spark, sql, deltas):
    fdg_check(spark, sql, deltas)


@pytest.mark.parametrize(
    "sql,deltas",
    [
        ("SELECT k, a, tag, w FROM f LEFT JOIN d ON tag = 'a'", ("f", "d")),
        ("SELECT k, a, tag, w FROM f FULL JOIN d ON tag = 'a'", ("f", "d")),
        ("SELECT k, a, tag, w FROM f FULL JOIN d ON a = 'a'", ("f", "d")),
        (
            "SELECT k, a, tag, w, gn FROM f LEFT JOIN d ON f.k = d.dk "
            "FULL JOIN g ON gn = 'p'",
            ("d", "g"),
        ),
    ],
)
def test_outer_join_condition_over_one_side(spark, sql, deltas):
    # every row of the side the condition does not name shares one match
    # set: the whole side gains or loses its pad rows together
    fdg_check(spark, sql, deltas)


def test_right_join_normalized_to_left(spark):
    # 'orders RIGHT JOIN cust' ≡ 'cust LEFT JOIN orders'
    merged = lj_check(
        lj_engine(spark, dord=[(20, 3, True), (12, 2, False)]),
        "SELECT ck, seg, ok FROM orders RIGHT JOIN cust ON ck = ck2",
    )
    assert (2, "b", None) in merged and (3, "c", 20) in merged


def test_full_outer_join_both_deltas(spark):
    # both sides preserved: order 13 (ck2=99, no customer) is a NULL-left
    # row; deleting it must retract that row, and cust 3 gaining its
    # first order must retract its NULL-right row
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(5, "e", True), (4, "d", False)],
            dord=[(20, 3, True), (13, 99, False), (12, 2, False)],
        ),
        "SELECT ck, seg, ok FROM cust FULL OUTER JOIN orders ON ck = ck2",
    )
    assert (None, None, 13) not in merged  # unmatched order deleted
    assert (2, "b", None) in merged and (3, "c", 20) in merged


def test_full_outer_join_left_delta_only(spark):
    # FULL is not linear in either side: a new cust matching a formerly
    # unmatched order must retract the order's NULL-left row
    merged = lj_check(
        lj_engine(spark, dcust=[(99, "z", True), (1, "a", False)]),
        "SELECT ck, seg, ok FROM cust FULL OUTER JOIN orders ON ck = ck2",
    )
    assert (99, "z", 13) in merged and (None, None, 13) not in merged


def test_full_outer_join_right_delta_only(spark):
    merged = lj_check(
        lj_engine(spark, dord=[(21, 77, True), (12, 2, False)]),
        "SELECT ck, seg, ok FROM cust FULL OUTER JOIN orders ON ck = ck2",
    )
    assert (None, None, 21) in merged and (2, "b", None) in merged


def test_full_outer_join_aggregate(spark):
    lj_check(
        lj_engine(
            spark,
            dcust=[(5, "e", True)],
            dord=[(20, 3, True), (13, 99, False)],
        ),
        "SELECT seg, count(ok) AS n, count(*) AS rows_n "
        "FROM cust FULL OUTER JOIN orders ON ck = ck2 GROUP BY seg",
    )


# -- SEMI / ANTI join delta rule (WHERE [NOT] EXISTS lowering) --------------
#
# Membership is [m(key) > 0] (semi) / [m(key) = 0] (anti) — the counting
# machinery of the outer-join anti part, with the L rows themselves as
# output.  Beyond the reference (nested subqueries unsupported,
# README.md:36); semantics pinned by the IVM invariant via lj_check.


def test_semi_join_exists_both_deltas(spark):
    # cust 3 gains its first order (enters), cust 2 loses its only one
    # (leaves), matched cust 1 deleted, unmatched cust 5 inserted (stays out)
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(5, "e", True), (1, "a", False)],
            dord=[(20, 3, True), (12, 2, False)],
        ),
        "SELECT ck, seg FROM cust WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE ck = ck2)",
    )
    assert merged == [(3, "c")]


def test_anti_join_not_exists_both_deltas(spark):
    merged = lj_check(
        lj_engine(
            spark,
            dcust=[(5, "e", True), (4, "d", False)],
            dord=[(20, 3, True), (12, 2, False)],
        ),
        "SELECT ck, seg FROM cust WHERE NOT EXISTS "
        "(SELECT 1 FROM orders WHERE ck = ck2)",
    )
    # cust 2 lost its only order (enters), cust 3 gained one (leaves),
    # unmatched cust 4 deleted, unmatched cust 5 inserted
    assert merged == [(2, "b"), (5, "e")]


def test_semi_join_aggregate_groupby(spark):
    lj_check(
        lj_engine(
            spark,
            dcust=[(5, "b", True), (1, "a", False)],
            dord=[(20, 3, True), (20, 5, True), (12, 2, False)],
        ),
        "SELECT seg, count(*) AS n FROM cust WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE ck = ck2) GROUP BY seg",
    )


def test_semi_join_build_local_predicate(spark):
    # the EXISTS shape with an extra R-local conjunct: only orders with
    # ok < 13 count as matches — pushed into R/ΔR before counting
    merged = lj_check(
        lj_engine(
            spark,
            dord=[(9, 3, True), (30, 4, True), (12, 2, False)],
        ),
        "SELECT ck, seg FROM cust WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE ck = ck2 AND ok < 13)",
    )
    # order 30 fails the local predicate: cust 4 must NOT enter
    assert (3, "c") in merged and (4, "d") not in merged


def test_semi_join_or_binds_looser_than_and(spark):
    # a depth-0 OR makes the whole condition one conjunct: splitting on
    # AND would read it as ck = ck2 AND (ok < 13 OR ok = 30) and drop
    # every customer matched only through order 30
    merged = lj_check(
        lj_engine(spark, dord=[(30, 4, True), (12, 2, False)]),
        "SELECT ck, seg FROM cust WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE ck = ck2 AND ok < 13 OR ok = 30)",
    )
    assert merged == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_semi_join_between_local_predicate(spark):
    # BETWEEN's AND is not a conjunct boundary
    merged = lj_check(
        lj_engine(spark, dord=[(30, 4, True), (12, 2, False)]),
        "SELECT ck, seg FROM cust WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE ck = ck2 AND ok BETWEEN 10 AND 13)",
    )
    assert merged == [(1, "a")]


def test_semi_join_syntax_linear_left_delta(spark):
    # explicit SEMI JOIN syntax; delta on L only takes the linear path
    lj_check(
        lj_engine(spark, dcust=[(5, "e", True), (1, "a", False)]),
        "SELECT ck, seg FROM cust SEMI JOIN orders ON ck = ck2",
    )


def test_anti_join_syntax_linear_left_delta(spark):
    lj_check(
        lj_engine(spark, dcust=[(99, "z", True), (2, "b", False)]),
        "SELECT ck, seg FROM cust LEFT ANTI JOIN orders ON ck = ck2",
    )


def test_in_subquery_lowers_to_semi(spark):
    merged = lj_check(
        lj_engine(spark, dord=[(20, 3, True), (12, 2, False)]),
        "SELECT ck, seg FROM cust WHERE ck IN (SELECT ck2 FROM orders)",
    )
    assert (3, "c") in merged and (2, "b") not in merged


def test_not_in_subquery_rejected(spark):
    eng = lj_engine(spark, dord=[(20, 3, True)])
    with pytest.raises(NotImplementedError, match="NOT EXISTS"):
        eng.create_immv(
            "v",
            sql="SELECT ck FROM cust WHERE ck NOT IN (SELECT ck2 FROM orders)",
        )


def test_semi_join_theta_condition_maintained(spark):
    # previously rejected; now the theta semi delta rule: ck=3,4 lose
    # their last match (semi deletes), ck=1,2 keep membership via ck2=3
    merged = lj_check(
        lj_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg FROM cust SEMI JOIN orders ON ck < ck2",
    )
    assert (1, "a") in merged and (3, "c") not in merged


def test_anti_join_theta_condition_maintained(spark):
    merged = lj_check(
        lj_engine(spark, dord=[(20, 3, True), (13, 99, False)]),
        "SELECT ck, seg FROM cust ANTI JOIN orders ON ck < ck2",
    )
    assert (3, "c") in merged and (4, "d") in merged and (1, "a") not in merged


def test_semi_join_chain_dim_delta_maintained(spark):
    # delta on the semi-position table of a chain — previously rejected,
    # now maintained via the SEMI counting step's membership flips
    eng = lj_engine(spark, dord=[(20, 3, True), (10, 1, False), (11, 1, False)])
    eng.register_table(
        "seg_dim", spark.createDataFrame([("a", "A")], "sg string, nm string")
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, seg FROM cust JOIN seg_dim ON seg = sg "
        "AND nm = 'A' WHERE EXISTS (SELECT 1 FROM orders WHERE ck = ck2)",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("orders")
    assert merged == rows(eng.full_refresh("v"))


# -- SELECT DISTINCT views (duplicate elimination by counting) --------------
#
# Beyond the reference (no DISTINCT support): the select items become
# group keys with a hidden count(*) (merge.internal_view), so a tuple
# survives exactly while its multiset count is positive.


def test_distinct_projection_counts_duplicates(spark):
    eng = IVMEngine(spark)
    eng.register_table(
        "t",
        spark.createDataFrame([(1, "a"), (1, "a"), (2, "b"), (3, "c")], "k int, s string"),
    )
    eng.create_immv("v", sql="SELECT DISTINCT k, s FROM t")
    eng.register_delta(
        "t",
        spark.createDataFrame(
            # delete ONE of the two (1,a) copies -> tuple must survive;
            # delete (2,b)'s only copy -> leaves; insert a new tuple and a
            # duplicate of an existing one
            [(1, "a", False), (2, "b", False), (4, "d", True), (3, "c", True)],
            "k int, s string, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth == [(1, "a"), (3, "c"), (4, "d")]


def test_distinct_over_join_zero_crossings(spark):
    # the distinct tuple's count is summed across join branches: segment
    # 'a' loses all its joined rows (leaves), 'c' gains its first (enters)
    eng = lj_engine(
        spark,
        dord=[(20, 3, True), (10, 1, False), (11, 1, False)],
    )
    eng.create_immv(
        "v", sql="SELECT DISTINCT seg FROM cust JOIN orders ON ck = ck2"
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("orders")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth
    assert ("c",) in merged and ("a",) not in merged


def test_distinct_with_groupby_rejected(spark):
    eng = lj_engine(spark)
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        eng.create_immv("v", sql="SELECT DISTINCT seg FROM cust GROUP BY seg")


# -- UNION ALL views (linear delta rule across branches) --------------------


def test_union_all_view_both_branch_deltas(spark):
    eng = IVMEngine(spark)
    eng.register_table("a", spark.createDataFrame([(1, "x"), (2, "y")], "k int, s string"))
    eng.register_table(
        "b", spark.createDataFrame([(10, "p"), (2, "y")], "kk int, ss string")
    )
    eng.create_immv(
        "u",
        sql="SELECT k, s FROM a WHERE k < 100 "
        "UNION ALL SELECT kk AS k, ss AS s FROM b",
    )
    eng.register_delta(
        "a",
        spark.createDataFrame(
            [(3, "z", True), (1, "x", False)],
            "k int, s string, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.register_delta(
        "b",
        spark.createDataFrame(
            [(10, "p", False)], "kk int, ss string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.ivm_upsert("u")
    merged = rows(eng.merge_view("u"))
    eng.apply_delta("a")
    eng.apply_delta("b")
    truth = rows(eng.full_refresh("u"))
    # bag semantics: (2,y) appears once per branch
    assert merged == truth == [(2, "y"), (2, "y"), (3, "z")]


def test_union_all_single_branch_delta(spark):
    eng = IVMEngine(spark)
    eng.register_table("a", spark.createDataFrame([(1, "x")], "k int, s string"))
    eng.register_table("b", spark.createDataFrame([(9, "q")], "k int, s string"))
    eng.create_immv("u", sql="SELECT k, s FROM a UNION ALL SELECT k, s FROM b")
    eng.register_delta(
        "a",
        spark.createDataFrame(
            [(5, "w", True)], "k int, s string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.ivm_upsert("u")
    assert rows(eng.merge_view("u")) == [(1, "x"), (5, "w"), (9, "q")]


def test_union_all_schema_mismatch_rejected(spark):
    eng = IVMEngine(spark)
    eng.register_table("a", spark.createDataFrame([(1, "x")], "k int, s string"))
    eng.register_table("b", spark.createDataFrame([(9, "q")], "k int, s string"))
    with pytest.raises(IVMError, match="identical column"):
        eng.create_immv("u", sql="SELECT k, s FROM a UNION ALL SELECT s, k FROM b")


def test_bare_union_rejected(spark):
    eng = IVMEngine(spark)
    eng.register_table("a", spark.createDataFrame([(1,)], "k int"))
    eng.register_table("b", spark.createDataFrame([(2,)], "k int"))
    with pytest.raises(NotImplementedError, match="UNION ALL"):
        eng.create_immv("u", sql="SELECT k FROM a UNION SELECT k FROM b")


def test_union_all_cascade_to_distinct(spark):
    # UNION (set semantics) composed the maintainable way: UNION ALL
    # upstream + SELECT DISTINCT downstream fed by the cascade CDC
    eng = IVMEngine(spark)
    eng.register_table("a", spark.createDataFrame([(1,), (2,)], "k int"))
    eng.register_table("b", spark.createDataFrame([(2,), (3,)], "k int"))
    eng.create_immv("u", sql="SELECT k FROM a UNION ALL SELECT k FROM b")
    eng.register_table("u_v", eng.read_view("u"))
    eng.create_immv("uset", sql="SELECT DISTINCT k FROM u_v")
    eng.register_delta(
        "a",
        spark.createDataFrame([(2, False), (9, True)], "k int, _duckdb_ivm_multiplicity boolean"),
    )
    cdc = eng.merge_view_cdc("u")
    eng.register_delta("u_v", cdc)
    eng.ivm_upsert("uset")
    # k=2 still present via b's copy; 9 enters
    assert rows(eng.merge_view("uset")) == [(1,), (2,), (3,), (9,)]


def test_minmax_aux_over_left_join_partial_delta(spark):
    # MIN/MAX under deletes over an OUTER join with a PARTIAL delta (only
    # orders changes): the aux multiset absorbs the anti part's NULL
    # value, so a group that loses all matches re-derives lo=hi=NULL
    eng = lj_engine(spark, dord=[(10, 1, False), (12, 2, False)])
    eng.create_immv(
        "v",
        sql="SELECT seg, min(ok) AS lo, max(ok) AS hi "
        "FROM cust LEFT JOIN orders ON ck = ck2 GROUP BY seg",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("orders")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth
    assert ("b", None, None) in merged and ("a", 11, 11) in merged


def test_maintain_multi_delta_chain_sequential(spark):
    # deltas on BOTH dims of a 3-table left chain: maintain() decomposes
    # into sequential single-table batches and must equal recomputation
    eng = IVMEngine(spark)
    eng.register_table("f", spark.createDataFrame([(1, 0), (2, 1), (3, 2)], "a int, k int"))
    eng.register_table(
        "d",
        spark.createDataFrame([(0, "x", 10), (1, "y", 11)], "k int, nm string, gk int"),
    )
    eng.register_table("g", spark.createDataFrame([(10, "L10")], "gk int, lb string"))
    eng.register_delta(
        "d",
        spark.createDataFrame(
            [(2, "z", 10, True), (0, "x", 10, False)],
            "k int, nm string, gk int, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.register_delta(
        "g",
        spark.createDataFrame(
            [(11, "L11", True), (10, "L10", False)],
            "gk int, lb string, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT a, nm, lb FROM f LEFT JOIN d ON f.k = d.k "
        "LEFT JOIN g ON d.gk = g.gk",
    )
    maintained = rows(eng.maintain("v"))
    truth = rows(eng.full_refresh("v"))  # bases already advanced by maintain
    assert maintained == truth, (maintained, truth)
    # deltas are consumed
    with pytest.raises(IVMError):
        eng.delta("d")


def test_maintain_single_shot_shapes(spark):
    # for shapes the one-shot rules cover, maintain == upsert+merge+apply
    eng = lj_engine(spark, dcust=[(9, "z", True)], dord=[(20, 3, True), (10, 1, False)])
    eng.create_immv(
        "v", sql="SELECT ck, seg, ok FROM cust LEFT JOIN orders ON ck = ck2"
    )
    maintained = rows(eng.maintain("v"))
    truth = rows(eng.full_refresh("v"))
    assert maintained == truth, (maintained, truth)


def test_merge_rollup_view(spark):
    # maintained ROLLUP: state at finest grouping, levels expanded on read
    base = [(1, "x", "p"), (2, "x", "q"), (5, "y", "r")]
    delta = [(10, "x", "s", True), (2, "x", "q", False)]
    eng = engine_with(spark, base, delta)
    eng.create_immv(
        "v",
        sql="SELECT b, c, sum(a) AS s, count(*) AS n, avg(a) AS m "
        "FROM t GROUP BY ROLLUP (b, c)",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)
    # grand-total row present exactly once
    assert sum(1 for r in merged if r[0] is None and r[1] is None) == 1


def test_merge_cube_and_grouping_sets_views(spark):
    base = [(1, "x", "p"), (2, "y", "p"), (5, "y", "r")]
    delta = [(4, "z", "r", True), (1, "x", "p", False)]
    for gb, n_sets in [
        ("CUBE (b, c)", 4),
        ("GROUPING SETS ((b), (c), ())", 3),
    ]:
        eng = engine_with(spark, base, delta)
        eng.create_immv(
            "v", sql=f"SELECT b, c, sum(a) AS s, min(a) AS lo FROM t GROUP BY {gb}"
        )
        eng.ivm_upsert("v")
        merged = rows(eng.merge_view("v"))
        eng.apply_delta("t")
        truth = rows(eng.full_refresh("v"))
        assert merged == truth, (gb, merged, truth)


def test_rollup_count_distinct_rejected(spark):
    eng = engine_with(spark, [(1, "x", "p")], None)
    with pytest.raises(NotImplementedError, match="re-aggregated"):
        eng.create_immv(
            "v",
            sql="SELECT b, count(DISTINCT c) AS nd FROM t GROUP BY ROLLUP (b)",
        )


def test_semi_chain_position_delta_maintained(spark):
    # WHERE EXISTS lowers to a semi join appended after the inner join —
    # a 3-table chain with the delta on the SEMI position table.
    # rewrite._fold_joins: membership flips only (no columns from
    # the semi table): key gains matches → P row enters (+1), loses all
    # matches → row retracts (−1).
    eng = lj_engine(spark)
    eng.register_table(
        "flags", spark.createDataFrame([(1,), (3,)], "fk int")
    )
    # deletes drain fk=1 (rows with ck=1 leave), insert fk=2 (rows enter)
    eng.register_delta(
        "flags",
        spark.createDataFrame(
            [(1, False), (2, True)], "fk int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, ok, seg FROM cust JOIN orders ON ck = ck2 "
        "WHERE EXISTS (SELECT 1 FROM flags WHERE fk = ck)",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("flags")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)


def test_anti_chain_position_delta_maintained(spark):
    # NOT EXISTS at the chain tail, delta on the anti table: complement
    # signs — key gains matches → row leaves (−1), loses all → enters (+1)
    eng = lj_engine(spark)
    eng.register_table("flags", spark.createDataFrame([(1,), (3,)], "fk int"))
    eng.register_delta(
        "flags",
        spark.createDataFrame(
            [(1, False), (2, True)], "fk int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, ok, seg FROM cust JOIN orders ON ck = ck2 "
        "WHERE NOT EXISTS (SELECT 1 FROM flags WHERE fk = ck)",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("flags")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (merged, truth)


def test_semi_chain_with_aggregate_view_multibatch(spark):
    # aggregate over the semi-position chain, two batches incl. deletes
    eng = lj_engine(spark)
    eng.register_table("flags", spark.createDataFrame([(1,), (2,)], "fk int"))
    eng.register_delta(
        "flags",
        spark.createDataFrame(
            [(2, False), (3, True)], "fk int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv(
        "v",
        sql="SELECT seg, count(*) AS n FROM cust JOIN orders ON ck = ck2 "
        "WHERE EXISTS (SELECT 1 FROM flags WHERE fk = ck) GROUP BY seg",
    )
    eng.maintain("v")
    eng.register_delta(
        "flags",
        spark.createDataFrame(
            [(1, False)], "fk int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    got = rows(eng.maintain("v"))
    assert got == rows(eng.full_refresh("v"))


def test_full_outer_leading_chain_maintained(spark):
    # FULL OUTER leading a 3-table chain, deltas on BOTH of its sides:
    # Δ(T0 ⟗ T1) via the two-table counting rule, suffix folds linearly
    # (NULL keys from the outer padding drop at inner joins / pad at left)
    eng = lj_engine(
        spark,
        dcust=[(5, "e", True), (2, "b", False)],
        dord=[(20, 3, True), (10, 1, False), (11, 1, False)],
    )
    eng.register_table(
        "seg_dim",
        spark.createDataFrame([("a", "A"), ("b", "B"), ("e", "E")], "sg string, nm string"),
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, ok, seg, nm FROM cust FULL JOIN orders ON ck = ck2 "
        "LEFT JOIN seg_dim ON seg = sg",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("cust")
    eng.apply_delta("orders")
    assert merged == rows(eng.full_refresh("v"))


def test_full_outer_delta_position_in_chain_maintained(spark):
    # FULL at the delta position of a chain (prefix = cust ⟕ seg_dim,
    # unchanged): left-like terms + the Ti-preserved term — delta orders
    # rows whose ck2 matches no prefix row carry NULL-padded prefix
    # columns in/out with their own sign
    eng = lj_engine(
        spark, dord=[(20, 3, True), (77, 99, True), (10, 1, False), (11, 1, False)]
    )
    eng.register_table(
        "seg_dim", spark.createDataFrame([("a", "A")], "sg string, nm string")
    )
    eng.create_immv(
        "v",
        sql="SELECT ck, ok, seg, nm FROM cust LEFT JOIN seg_dim ON seg = sg "
        "FULL JOIN orders ON ck = ck2",
    )
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("orders")
    assert merged == rows(eng.full_refresh("v"))


def test_full_outer_in_suffix_now_maintained(spark):
    # a FULL join AFTER the delta position used to be rejected (the fold
    # relied on left-linearity); the FULL counting step with ΔX adds the
    # R-preserved flip branches, so this maintains and matches recomputation
    # (tests/test_full_chain_suffix.py covers the shape matrix)
    eng = lj_engine(spark)
    eng.register_table(
        "seg_dim", spark.createDataFrame([("a", "A")], "sg string, nm string")
    )
    eng.register_delta(
        "seg_dim",
        spark.createDataFrame(
            [("b", "B", True)], "sg string, nm string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    sql = (
        "SELECT ck, ok, seg, nm FROM cust LEFT JOIN seg_dim ON seg = sg "
        "FULL JOIN orders ON ck = ck2"
    )
    eng.create_immv("v", sql=sql)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("seg_dim")
    eng2 = IVMEngine(spark)
    for t in ("cust", "orders", "seg_dim"):
        eng2.register_table(t, eng.table(t))
    assert merged == rows(eng2.create_immv("v", sql=sql))


def test_avg_group_all_nulls_reads_null_not_divide_by_zero(spark):
    """A live group whose avg inputs are all NULL has avgcnt=0; under
    Spark 4's default ANSI mode the unguarded recomposition threw
    DIVIDE_BY_ZERO on every read (round-7 review).  Correct value: NULL,
    exactly what avg() over the recomputed base returns."""
    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([(1, None), (1, 4), (2, 5)], "k int, x int")
    )
    eng.create_immv("v", sql="SELECT k, avg(x) AS a, count(*) AS n FROM t GROUP BY k")
    # delete group 2's only non-NULL value and leave it a NULL row;
    # delete group 1's NULL row (its avg must stay 4.0)
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [(2, 5, False), (2, None, True), (1, None, False)],
            f"k int, x int, {MULT_COL_NAME} boolean",
        ),
    )
    eng.ivm_upsert("v")
    got = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    assert got == rows(eng.full_refresh("v"))
    assert got == [(1, 4.0, 1), (2, None, 1)]


def test_avg_all_null_level_in_rollup_reads_null(spark):
    """Same ANSI zero-divisor guard at the grouping-set recomposition."""
    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table(
        "t",
        spark.createDataFrame(
            [("a", "x", None), ("a", "y", None), ("b", "x", 6)],
            "g string, h string, v int",
        ),
    )
    eng.create_immv(
        "r", sql="SELECT g, h, avg(v) AS a FROM t GROUP BY ROLLUP (g, h)"
    )
    got = rows(eng.read_view("r"))
    # every ('a', *) level is all-NULL → NULL, totals average over b only
    assert ("a", None, None) in got and (None, None, 6.0) in got
