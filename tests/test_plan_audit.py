"""Plan-shape regression tests: pin the physical-plan properties the
100 TB design depends on (SCALE_NOTES.md), so a refactor that silently
introduces an extra shuffle, loses parquet pushdown, or degrades a
broadcast join into a nested loop fails CI — not a cluster bill.

Asserted on the sf0.001 parquet testdata; the properties are
size-independent (they're about plan STRUCTURE, not runtime).
"""

from __future__ import annotations

import re

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    # formatted explain does not truncate node fields the way
    # executedPlan().toString() does (PushedFilters/ReadSchema get "...")
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_shuffles(plan: str) -> int:
    """Key-repartitioning exchanges only.  Excluded on purpose:
    BroadcastExchange (that's the cheap side we WANT), and the
    round-robin Exchange from sources.ensure_parallelism — a local-mode
    guard for under-split single-row-group parquet inputs that is a
    no-op on a cluster where inputs arrive pre-split (SCALE_NOTES.md)."""
    return len(
        re.findall(r"Arguments: (?:hash|range)partitioning", plan)
    ) + len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def q(spark, name):
    return entry.queries()[name](spark, SF)


def test_delta_scan_pushes_view_predicate_into_parquet(spark):
    # the view WHERE must reach the delta parquet scan (PushedFilters),
    # and the scan must not read all 16 lineitem columns (column pruning)
    plan = plan_of(q(spark, "ivm_filter"))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_discount" in p for p in pushed), plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(len(s.split(",")) <= 6 for s in schemas), plan


def test_ivm_groupby_one_shuffle(spark):
    # ΔV for an aggregate view: map-side partial agg + ONE exchange
    plan = plan_of(q(spark, "ivm_groupby_agg"))
    assert n_shuffles(plan) == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_join_delta_rule_broadcasts_deltas_never_shuffles_base(spark):
    # all delta-join branches are broadcast joins (|ΔT| << |T|); the only
    # shuffle in the whole plan is the final aggregation
    plan = plan_of(q(spark, "ivm_join_delta"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert n_shuffles(plan) == 1, plan


def test_exact_dedup_is_one_shuffle(spark):
    plan = plan_of(q(spark, "dedup_exact"))
    assert n_shuffles(plan) == 1, plan


def test_text_pipeline_is_narrow(spark):
    # per-document scoring is embarrassingly parallel: NO exchange at all
    for name in ("text_stats", "text_quality", "text_lang_id"):
        plan = plan_of(q(spark, name))
        assert n_shuffles(plan) == 0, (name, plan)


def test_asof_join_no_nested_loop(spark):
    plan = plan_of(q(spark, "asof_snapshots"))
    assert "NestedLoop" not in plan, plan


def test_range_join_binned_not_nested_loop(spark):
    # interval binning turns the theta-join into a broadcast equi-join
    plan = plan_of(q(spark, "range_join_bands"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_topk_per_group_rank_pushdown(spark):
    # WindowGroupLimit keeps per-partition state bounded at k
    plan = plan_of(q(spark, "topk_per_group"))
    assert "WindowGroupLimit" in plan, plan


def test_star_join_broadcasts_dims(spark):
    # Q5 shape: nation/region are hint-broadcast; nothing degenerates
    # into a nested loop
    plan = plan_of(q(spark, "q5_local_supplier_volume"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    plan = plan_of(q(spark, "q14_promo_revenue"))
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_broadcasts_benchmark_side(spark):
    # the 100 TB corpus is scanned, never shuffled: the (small) benchmark
    # shingle side is broadcast
    plan = plan_of(q(spark, "contamination_check"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_outer_join_delta_no_sort_merge(spark):
    # LEFT/FULL OUTER delta: base sides touched only through broadcast
    # key sets (semi/flip joins); no shuffle-side join anywhere
    for name in ("ivm_left_join_delta",):
        plan = plan_of(q(spark, name))
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_semi_anti_delta_no_sort_merge(spark):
    # semi/anti counting rule: ΔL keys and flip sets are broadcast; the
    # lineitem/orders base scans are never shuffle-joined.  Shuffles are
    # match-count aggregations over semi-filtered keys only.
    plan = plan_of(q(spark, "ivm_semi_join_delta"))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_chain_dim_delta_no_sort_merge(spark):
    # >2-table chain, delta on the middle dimension (one counting step):
    # prefix and suffix base tables are joined via broadcast only — the
    # delta and the flip-key set are the build sides; no shuffle-side join
    eng = entry._engine(spark, SF, deltas=("customer",))
    eng.create_immv(
        "v",
        sql="SELECT o_orderkey, o_orderstatus, c_mktsegment, n_name "
        "FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
        "LEFT JOIN nation ON c_nationkey = n_nationkey",
        materialize=False,
    )
    plan = plan_of(eng.ivm_upsert("v"))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the only nested loop allowed is the single-NULL-row pad of the
    # flip branch (build side = Range(0,1), one constant row — a
    # projection in disguise, O(|affected rows|) with zero comparisons)
    n_nlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))
    assert n_nlj <= 1 and (n_nlj == 0 or "Range (0, 1" in plan), plan


def test_suffix_full_flip_plan_broadcasts_never_sortmerges(spark):
    """The suffix-FULL counting step (rewrite._fold_joins) must touch
    the unchanged chain sides through broadcast joins only: ΔV for a
    chain whose delta position is followed by a FULL join plans with no
    SortMergeJoin and no nested loop; every shuffle is a (small)
    match-count or key-fold aggregation."""
    eng = entry._engine(spark, SF, deltas=("customer",))
    eng.create_immv(
        "v",
        sql="SELECT n_name, c_custkey, o_orderkey, o_orderstatus "
        "FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey "
        "FULL JOIN orders ON c_custkey = o_custkey",
    )
    plan = plan_of(eng.ivm_upsert("v"))
    assert "SortMergeJoin" not in plan, plan
    # NULL-pad single-row crossJoins are the only nested loops allowed
    kinds = set(re.findall(r"BroadcastNestedLoopJoin (\w+)", plan))
    assert kinds <= {"Cross"}, plan
    assert "BroadcastHashJoin" in plan


def test_sequential_worlds_plan_no_nested_loop(spark):
    """Multi-table deltas in one left-deep fold (each counting step takes
    ΔX and ΔT together): the one-shot ΔV plan stays hash/broadcast-joined,
    never a cross product."""
    eng = entry._engine(spark, SF, deltas=("customer", "orders"))
    eng.create_immv(
        "v",
        sql="SELECT n_name, c_custkey, o_orderkey "
        "FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey "
        "LEFT JOIN orders ON c_custkey = o_custkey",
    )
    plan = plan_of(eng.ivm_upsert("v"))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_qualify_read_plans_window_group_limit(spark):
    """The QUALIFY rank filter must plan as WindowGroupLimit (partial
    top-N per partition before the exchange), not a full window over
    the whole state."""
    eng = entry._engine(spark, SF, deltas=("orders",))
    eng.create_immv(
        "v",
        sql="SELECT o_orderpriority, o_custkey, "
        "sum(cast(round(o_totalprice * 100) AS bigint)) AS sum_cents, "
        "count(o_orderkey) AS n FROM orders "
        "GROUP BY o_orderpriority, o_custkey "
        "QUALIFY row_number() OVER (PARTITION BY o_orderpriority "
        "ORDER BY sum_cents DESC, o_custkey ASC) <= 5",
    )
    plan = plan_of(eng.read_view("v"))
    assert "WindowGroupLimit" in plan, plan


def test_explode_sites_do_not_inline_expensive_expr(spark):
    """Generate-over-expensive-expression hazard (VERDICT r3 items 1/8):
    Catalyst inlines a Project alias into the generator input, so
    ``explode(<O(len·k) expr>)`` re-evaluates the expression once per
    EMITTED row (19x measured on text_fingerprints at sf0.1).  The
    explode must go through text.explode_array_barrier: the array is
    computed below an optimizer barrier (LogicalRDD), so the expensive
    expression is ABSENT from the downstream plan — the Generate sees
    only the materialized array column."""
    for name, marker in (
        ("text_fingerprints", "aggregate(sequence"),  # rolling hash
        ("chunk_documents", "transform(sequence"),  # tokenate+slice
    ):
        plan = plan_of(q(spark, name))
        assert "Generate" in plan, (name, plan)
        assert "ExistingRDD" in plan, (name, plan)
        assert marker not in plan, (name, plan)


def test_theta_lifecycle_plan_no_nested_loop(spark):
    """The full maintained inequality-join lifecycle (v_old + three delta
    branches + bag merge) must plan exclusively with hash equi-joins on
    the dyadic (level, node) keys — a nested-loop anywhere would be the
    O(|L|·|R|) shape the decomposition exists to avoid."""
    plan = plan_of(q(spark, "ivm_merge_theta_join"))
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_range_left_join_delta_plan_no_nested_loop(spark):
    """The banded-outer-join delta must plan every theta join as a
    binned equi-join (hash joins only, delta sides broadcast) — a
    nested-loop fallback would be O(|P| x |I|) at scale."""
    from pyspark.sql import functions as F

    from ivm_extension_spark.operators.rangejoin import range_left_join_delta
    from ivm_extension_spark.operators.rewrite import MULT_COL

    spark_df = spark.read.parquet(f"{SF}/orders.parquet")
    points = spark_df.select("o_orderkey", F.col("o_totalprice").alias("price"))
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("mid", 40000.0, 200000.0)],
        "band string, lo double, hi double",
    )
    d_points = (
        spark_df.filter("o_orderkey % 10 = 0")
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.expr("o_custkey % 2 = 0").alias(MULT_COL),
        )
    )
    d_bands = spark.createDataFrame(
        [("small", 0.0, 50000.0, False), ("jumbo", 250000.0, 2000000.0, True)],
        f"band string, lo double, hi double, {MULT_COL} boolean",
    )
    dv = range_left_join_delta(
        points, bands, d_points, d_bands, "price", "lo", "hi", 50000.0
    )
    plan = plan_of(dv)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_theta_chain_delta_no_cartesian_no_base_sortmerge(spark):
    # the chain theta rules (last + mid position): every theta probe is
    # a BroadcastNestedLoopJoin against a delta-derived broadcast, count
    # bookkeeping is broadcast-hash — no CartesianProduct, no
    # SortMergeJoin of base relations anywhere in ΔV
    for key in (
        "ivm_merge_theta_chain",
        "ivm_merge_theta_mid_chain",
        "ivm_merge_theta_general_chain",
    ):
        plan = plan_of(q(spark, key))
        assert "CartesianProduct" not in plan, (key, plan)
        assert "SortMergeJoin" not in plan, (key, plan)


def test_cms_estimate_probes_with_broadcast(spark):
    # the watchlist probe joins the TINY candidate relation against the
    # sketch — must be a broadcast hash join, never a shuffle of both
    plan = plan_of(q(spark, "ivm_merge_cms_sketch"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_boilerplate_coverage_single_tokenization(spark):
    # the (id, shingle-array) relation goes through the explode barrier,
    # so the THREE consumers (df counts, per-doc totals, boilerplate
    # probe) read the checkpointed RDD — the expensive tokenization
    # expression must not appear anywhere in the optimized plan (it
    # lives inside the LogicalRDD, evaluated once per doc)
    plan = plan_of(q(spark, "text_boilerplate_ngrams"))
    assert "regexp_replace" not in plan, plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan


def test_bloom_bits_single_shuffle_no_join(spark):
    # the Bloom state build is explode → ONE map-side-combined bit_or
    # shuffle — no join, no extra exchange (SCALE_NOTES round-6 notes)
    from ivm_extension_spark.functions import bloom

    orders = entry._engine(spark, SF).table("orders")
    plan = plan_of(
        bloom.bloom_bits(orders, ("o_orderstatus",), "o_custkey", 4096, 4)
    )
    assert n_shuffles(plan) == 1, plan
    assert "Join" not in plan, plan


def test_bloom_contains_probes_with_broadcast(spark):
    # the (group x probe x k) position grid is tiny and must broadcast
    # against the state — never a shuffle of both sides, never a
    # sort-merge join
    plan = plan_of(q(spark, "approx_bloom_membership"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
