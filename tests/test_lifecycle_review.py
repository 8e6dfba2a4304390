"""Regression tests for the round-2 engine-lifecycle review findings:

1. full_refresh with an attached lakehouse state store must write a FULL
   snapshot — a later touched-bucket merge commit must not carry stale
   pre-refresh buckets forward.
2. full_refresh must drop the cached ΔV — a later merge_view must not
   replay an already-consumed delta into the refreshed state.
3. drop_table must consult UNION ALL branch tables, not just the first
   branch's ViewDef.
4. create_immv over a grouped-but-unprojected GROUP BY key with an aux
   aggregate (MIN/MAX/COUNT DISTINCT) raises a clean IVMError rather
   than an unresolved-column AnalysisException.
5. save/load round-trips merge counters and keep_history so version
   numbering continues instead of resetting to 0.
"""

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import IVMError, MULT_COL
from ivm_extension_spark.sources.lakehouse import LakehouseStore

from tests.conftest import rows


def _base(spark, vals):
    return spark.createDataFrame(vals, "k int, v int")


def _delta(spark, vals):
    return spark.createDataFrame(
        [(k, v, m) for k, v, m in vals], f"k int, v int, {MULT_COL} boolean"
    )


def test_full_refresh_snapshots_all_store_buckets(spark, tmp_path):
    store = LakehouseStore(spark, str(tmp_path / "store"), n_buckets=4)
    eng = IVMEngine(spark, state_store=store)
    eng.register_table("t", _base(spark, [(k, 10) for k in range(4)]))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")

    # out-of-band base change (the full_refresh use case), then refresh
    eng._tables["t"] = _base(spark, [(k, 10) for k in range(4)] * 2)
    assert rows(eng.full_refresh("v")) == [(k, 20) for k in range(4)]

    # a touched-bucket merge on key 0 only must keep keys 1-3 refreshed
    eng.register_delta("t", _delta(spark, [(0, 5, True)]))
    eng.ivm_upsert("v")
    got = rows(eng.merge_view("v"))
    assert got == [(0, 25), (1, 20), (2, 20), (3, 20)]
    # and the store-backed scan agrees (state actually committed)
    assert rows(eng.read_view("v")) == got


def test_full_refresh_invalidates_cached_delta_view(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", _base(spark, [(1, 10)]))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")
    eng.register_delta("t", _delta(spark, [(1, 5, True)]))
    eng.ivm_upsert("v")  # caches ΔV
    eng.apply_delta("t")  # base now (1,10),(1,5)
    assert rows(eng.full_refresh("v")) == [(1, 15)]
    # the stale cached ΔV must NOT be replayed into the refreshed state:
    # with no pending delta, merge_view raises the missing-delta error
    # instead of silently double-applying (pre-fix: returned (1, 20))
    with pytest.raises(IVMError, match="delta_t does not exist"):
        eng.merge_view("v")
    assert rows(eng.read_view("v")) == [(1, 15)]


def test_drop_table_guards_union_branch_tables(spark):
    eng = IVMEngine(spark)
    eng.register_table("t1", _base(spark, [(1, 10)]))
    eng.register_table("t2", _base(spark, [(2, 20)]))
    eng.create_immv("u", sql="SELECT k FROM t1 UNION ALL SELECT k FROM t2")
    with pytest.raises(IVMError, match="referenced by views"):
        eng.drop_table("t2")
    # t2 still registered and the view still maintainable
    assert rows(eng.full_refresh("u")) == [(1,), (2,)]
    eng.drop_view("u")
    eng.drop_table("t2")  # now fine


def test_unprojected_group_key_with_aux_agg_raises_cleanly(spark):
    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([(1, 2, 3)], "k int, k2 int, v int")
    )
    with pytest.raises(IVMError, match="not projected"):
        eng.create_immv("v", sql="SELECT k, min(v) AS m FROM t GROUP BY k, k2")


def test_save_load_restores_version_counters(spark, tmp_path):
    eng = IVMEngine(spark, keep_history=3)
    eng.register_table("t", _base(spark, [(1, 10)]))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")
    for i in range(2):
        eng.register_delta("t", _delta(spark, [(1, 1, True)]))
        eng.maintain("v")
    assert eng.list_versions("v") == [0, 1, 2]

    path = str(tmp_path / "store")
    eng.save(path)
    b = IVMEngine.load(spark, path, tables={"t": eng.table("t")})
    # counters and retention policy survive; history snapshots do not
    assert b.keep_history == 3
    assert b.list_versions("v") == [2]
    b.register_delta("t", _delta(spark, [(1, 1, True)]))
    b.maintain("v")
    assert b.list_versions("v") == [2, 3]
    assert rows(b.read_view("v", version=3)) == [(1, 13)]
    assert rows(b.read_view("v", version=2)) == [(1, 12)]


# --------------------------------------------------------------------------
# round-7 core review fixes (engine.py / merge.py)
# --------------------------------------------------------------------------

def test_maintain_union_view_consults_all_branches(spark):
    """maintain() on a UNION ALL view used to see only branch 0's
    tables: a branch-2-only delta raised a bogus missing-delta error,
    and with deltas on both branches the second delta survived the
    apply step and DOUBLE-applied on the next maintain."""
    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table("t1", spark.createDataFrame([(1,), (2,)], "k int"))
    eng.register_table("t2", spark.createDataFrame([(10,)], "k int"))
    eng.create_immv(
        "u", sql="SELECT k FROM t1 UNION ALL SELECT k FROM t2"
    )
    # (a) branch-2-only delta must maintain, not raise
    eng.register_delta(
        "t2", spark.createDataFrame([(11, True)], f"k int, {MULT_COL} boolean")
    )
    got = rows(eng.maintain("u"))
    assert got == sorted([(1,), (2,), (10,), (11,)], key=lambda t: tuple(map(str, t)))
    assert "t2" not in eng._deltas  # consumed and applied
    # (b) deltas on BOTH branches applied in one maintain; the next
    # batch must not double-apply anything
    eng.register_delta(
        "t1", spark.createDataFrame([(3, True)], f"k int, {MULT_COL} boolean")
    )
    eng.register_delta(
        "t2", spark.createDataFrame([(10, False)], f"k int, {MULT_COL} boolean")
    )
    got = rows(eng.maintain("u"))
    assert got == sorted([(1,), (2,), (3,), (11,)], key=lambda t: tuple(map(str, t)))
    assert got == rows(eng.full_refresh("u"))


def test_create_immv_redefinition_is_implicit_drop(spark):
    """Redefining a view name must not inherit the old view's merge
    counter, history or cascade wiring."""
    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, 2)], "k int, v int"))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")
    eng.register_delta(
        "t", spark.createDataFrame([(1, 3, True)], f"k int, v int, {MULT_COL} boolean")
    )
    eng.maintain("v")
    assert eng.stats("v")["merges_applied"] == 1
    eng.create_immv("v", sql="SELECT k, count(*) AS n FROM t GROUP BY k")
    assert eng.stats("v")["merges_applied"] == 0  # fresh lifecycle
    assert rows(eng.read_view("v")) == [(1, 2)]


def test_drop_table_blocked_by_sketch_view(spark):
    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1,)], "x bigint"))
    eng.create_sketch_immv("sk", "hll", "t", "x", p=8)
    with pytest.raises(IVMError, match="referenced by views"):
        eng.drop_table("t")
    eng.drop_view("sk")
    eng.drop_table("t")  # now fine
    with pytest.raises(IVMError, match="not registered"):
        eng.list_versions("sk")  # dropped = gone


def test_save_over_existing_save_torn_catalog_fails_loudly(spark, tmp_path):
    """A crash mid-save over a PREVIOUS save must not leave the old
    catalog readable next to mixed-generation state dirs: save writes an
    in-progress sentinel first, and load rejects it."""
    import json

    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, 2)], "k int, v int"))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")
    path = str(tmp_path / "store")
    eng.save(path)
    # simulate the crash: sentinel written, states partially rewritten,
    # final catalog never written
    spark.createDataFrame(
        [(json.dumps({"in_progress": True}),)], "catalog_json string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/catalog")
    with pytest.raises(IVMError, match="torn"):
        IVMEngine.load(spark, path, tables={"t": eng.table("t")})
    # a clean re-save repairs it
    eng.save(path)
    b = IVMEngine.load(spark, path, tables={"t": eng.table("t")})
    assert rows(b.read_view("v")) == rows(eng.read_view("v"))


def test_stats_multilist_window_reports_base_table(spark):
    from ivm_extension_spark import IVMEngine

    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([("a", "x", 1, 1, 5)],
                                   "k string, g string, ts int, rid int, v int")
    )
    eng.create_immv(
        "w2",
        sql="SELECT k, rid, "
        "sum(v) OVER (PARTITION BY k ORDER BY ts, rid) AS rt, "
        "row_number() OVER (PARTITION BY g ORDER BY v, rid) AS rk FROM t",
    )
    st = eng.stats("w2")
    assert st["tables"] == ["t"]
    assert st["pending_deltas"] == []
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [("a", "x", 2, 9, 1, True)],
            f"k string, g string, ts int, rid int, v int, {MULT_COL} boolean",
        ),
    )
    assert eng.stats("w2")["pending_deltas"] == ["t"]


def test_store_view_with_every_group_deleted_reads_without_local_rows(
    spark, tmp_path, monkeypatch
):
    # a snapshot with no bucket files left is built JVM-side: no
    # createDataFrame (a local-RDD plan through a Python worker)
    store = LakehouseStore(spark, str(tmp_path / "store"), n_buckets=4)
    eng = IVMEngine(spark, state_store=store)
    eng.register_table("t", _base(spark, [(1, 10), (2, 20)]))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")
    wipe = _delta(spark, [(1, 10, False), (2, 20, False)])
    refill = _delta(spark, [(3, 7, True)])

    def no_local_rows(*args, **kwargs):
        raise AssertionError("createDataFrame called")

    monkeypatch.setattr(type(spark), "createDataFrame", no_local_rows)
    eng.register_delta("t", wipe)
    eng.ivm_upsert("v")
    assert rows(eng.merge_view("v")) == []
    eng.apply_delta("t")
    assert store.bucket_files("v") == {}
    assert rows(eng.read_view("v")) == rows(eng.full_refresh("v")) == []

    eng.register_delta("t", refill)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))
    eng.apply_delta("t")
    assert merged == rows(eng.full_refresh("v")) == [(3, 7)]
