"""Engine persistence: save() / load() round-trips the maintained state.

The state parquet is the internal shape (hidden companions included) so
a reloaded engine continues maintenance exactly where the saved one
stopped — including aux-state aggregates (MIN/MAX/COUNT DISTINCT under
deletes), whose value multisets are persisted and whose metadata is
re-derived from the base-table schemas on load.
"""

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import MULT_COL

from tests.conftest import force_merge, rows

SF = "/root/testdata/sf0.001"


def _delta(eng, t, pred, mult):
    d = eng.table(t).filter(F.expr(pred)).withColumn(MULT_COL, F.expr(mult))
    eng.register_delta(t, d)


def test_save_load_continues_maintenance(spark, tmp_path):
    a = IVMEngine(spark)
    a.register_table("orders", f"{SF}/orders.parquet")
    a.create_immv(
        "by_status",
        sql="SELECT o_orderstatus, count(*) AS n, min(o_custkey) AS mn, "
        "count(DISTINCT o_custkey) AS nd FROM orders GROUP BY o_orderstatus",
    )
    a.create_immv(
        "top_cust",
        sql="SELECT o_custkey, sum(cast(round(o_totalprice*100) as bigint)) AS cents "
        "FROM orders GROUP BY o_custkey ORDER BY cents DESC, o_custkey ASC LIMIT 7",
    )
    # batch 1: advance BOTH views through the delta, then fold it into
    # the base (maintain() alone would advance one view and leave the
    # other stale against the advanced base)
    _delta(a, "orders", "o_orderkey % 10 = 0", "o_custkey % 2 = 0")
    for v in ("by_status", "top_cust"):
        a.ivm_upsert(v)
        a.merge_view(v)
    a.apply_delta("orders")

    path = str(tmp_path / "ivm_store")
    a.save(path)

    b = IVMEngine.load(spark, path, tables={"orders": a.table("orders")})
    assert sorted(b.list_views()) == ["by_status", "top_cust"]
    assert rows(b.read_view("by_status")) == rows(a.read_view("by_status"))
    assert rows(b.read_view("top_cust")) == rows(a.read_view("top_cust"))

    # batch 2 (delete-bearing → exercises the reloaded aux state) applied
    # to BOTH engines must agree, and match recomputation.  top_cust is
    # advanced too so both views stay consistent with the advanced base.
    ra = rb = None
    for eng in (a, b):
        _delta(eng, "orders", "o_orderkey % 6 = 0", "false")
        for v in ("by_status", "top_cust"):
            eng.ivm_upsert(v)
            eng.merge_view(v)
        eng.apply_delta("orders")
    ra = rows(a.read_view("by_status"))
    rb = rows(b.read_view("by_status"))
    assert ra == rb
    assert rb == rows(b.full_refresh("by_status"))
    assert rows(a.read_view("top_cust")) == rows(b.read_view("top_cust"))


def test_save_load_window_view(spark, tmp_path):
    """window_partition must survive to_dict/from_dict: without it the
    loaded view degrades to a plain projection and delta_plan evaluates
    the OVER expression on the delta batch alone (silently wrong)."""
    a = IVMEngine(spark)
    a.register_table("orders", f"{SF}/orders.parquet")
    sql = (
        "SELECT o_custkey, o_orderkey, "
        "sum(cast(round(o_totalprice * 100) as bigint)) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cents "
        "FROM orders WHERE o_custkey % 10 = 0"
    )
    a.create_immv("running", sql=sql)
    assert a.view("running").window_partition == ("o_custkey",)
    _delta(a, "orders", "o_orderkey % 10 = 0", "o_custkey % 2 = 0")
    a.ivm_upsert("running")
    a.merge_view("running")
    a.apply_delta("orders")

    path = str(tmp_path / "store_window")
    a.save(path)
    b = IVMEngine.load(spark, path, tables={"orders": a.table("orders")})
    # the ADVICE bug: window_partition dropped on round-trip
    assert b.view("running").window_partition == ("o_custkey",)
    assert rows(b.read_view("running")) == rows(a.read_view("running"))

    # delete-bearing batch through the RELOADED engine must still route
    # through the affected-partition recompute and match recomputation
    _delta(b, "orders", "o_orderkey % 30 = 0", "false")
    b.ivm_upsert("running")
    got = rows(b.merge_view("running"))
    b.apply_delta("orders")
    assert got == rows(b.full_refresh("running"))


def test_load_missing_table_errors(spark, tmp_path):
    a = IVMEngine(spark)
    a.register_table("orders", f"{SF}/orders.parquet")
    a.create_immv("v", sql="SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus")
    path = str(tmp_path / "store2")
    a.save(path)
    from ivm_extension_spark.operators.rewrite import IVMError

    with pytest.raises(IVMError, match="references table"):
        IVMEngine.load(spark, path, tables={})


def test_save_load_union_view(spark, tmp_path):
    a = IVMEngine(spark)
    a.register_table("orders", f"{SF}/orders.parquet")
    a.register_table("customer", f"{SF}/customer.parquet")
    a.create_immv(
        "keys",
        sql="SELECT o_custkey AS k FROM orders "
        "UNION ALL SELECT c_custkey AS k FROM customer",
    )
    path = str(tmp_path / "store3")
    a.save(path)
    b = IVMEngine.load(
        spark, path,
        tables={"orders": a.table("orders"), "customer": a.table("customer")},
    )
    assert rows(b.read_view("keys")) == rows(a.read_view("keys"))
    _delta(b, "customer", "c_custkey % 20 = 0", "c_nationkey % 2 = 0")
    b.ivm_upsert("keys")
    got = rows(b.merge_view("keys"))
    b.apply_delta("customer")
    assert got == rows(b.full_refresh("keys"))


# --------------------------------------------------------------------------
# lakehouse state backend (sources/lakehouse.py): MERGE INTO over parquet
# --------------------------------------------------------------------------

def test_lakehouse_store_merge_into_only_touched_buckets(spark, tmp_path):
    """The store-backed engine must (a) produce the same results as the
    checkpoint-backed engine, (b) rewrite ONLY touched buckets on merge
    (untouched buckets' files carry over between snapshots), and (c)
    keep old snapshots readable (time travel)."""
    from ivm_extension_spark.sources.lakehouse import LakehouseStore

    store = LakehouseStore(spark, str(tmp_path / "lake"), n_buckets=8)
    a = IVMEngine(spark, state_store=store)
    b = IVMEngine(spark)  # plain twin
    for eng in (a, b):
        eng.register_table("orders", f"{SF}/orders.parquet")
        eng.create_immv(
            "by_cust",
            sql="SELECT o_custkey, count(*) AS n, "
            "sum(cast(round(o_totalprice*100) as bigint)) AS cents "
            "FROM orders GROUP BY o_custkey",
        )
    v1_files = store.bucket_files("by_cust")
    assert store.current_version("by_cust") == 1

    # a delta touching ONE customer → at most one bucket rewritten
    ck = a.table("orders").select("o_custkey").first()[0]
    for eng in (a, b):
        d = (
            eng.table("orders")
            .filter(F.col("o_custkey") == F.lit(ck))
            .limit(1)
            .withColumn(MULT_COL, F.lit(True))
        )
        eng.register_delta("orders", d)
        eng.ivm_upsert("by_cust")
        eng.merge_view("by_cust")
    assert rows(a.read_view("by_cust")) == rows(b.read_view("by_cust"))

    assert store.current_version("by_cust") == 2
    v2_files = store.bucket_files("by_cust")
    changed = {k for k in v1_files if v2_files.get(k) != v1_files[k]}
    assert len(changed) == 1  # exactly the touched customer's bucket
    carried = {k for k in v1_files if v2_files.get(k) == v1_files[k]}
    assert len(carried) == len(v1_files) - 1  # everything else carried over

    # time travel: snapshot v1 is still the pre-merge state
    old = store.read("by_cust", version=1)
    assert rows(old.select("o_custkey", "n", "cents")) == rows(
        IVMEngine(spark)
        .register_table("orders", f"{SF}/orders.parquet")
        or spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(round(o_totalprice*100) as bigint)")).alias("cents"),
        )
    )


def test_lakehouse_group_deletion_empties_bucket(spark, tmp_path):
    from ivm_extension_spark.sources.lakehouse import LakehouseStore

    store = LakehouseStore(spark, str(tmp_path / "lake"), n_buckets=4)
    eng = IVMEngine(spark, state_store=store)
    base = spark.createDataFrame([("a", 1), ("b", 5)], "k string, x int")
    eng.register_table("t", base)
    eng.create_immv("v", sql="SELECT k, sum(x) AS s, count(*) AS n FROM t GROUP BY k")
    delta = spark.createDataFrame(
        [("b", 5, False)], f"k string, x int, {MULT_COL} boolean"
    )
    eng.register_delta("t", delta)
    eng.ivm_upsert("v")
    out = eng.merge_view("v")
    assert rows(out) == [("a", 1, 1)]
    # group 'b' vanished: its bucket is absent from the new snapshot, and
    # the store-backed read agrees
    assert rows(store.read("v").select("k", "s", "n")) == [("a", 1, 1)]


def test_lakehouse_patch_merge_no_state_exchange(spark, tmp_path, monkeypatch):
    """The MERGE INTO property end-to-end: with store-backed (parquet)
    state, the patch merge plan still never exchanges the state side."""
    import io
    import re as _re
    from contextlib import redirect_stdout

    from ivm_extension_spark.operators import merge as merge_ops
    from ivm_extension_spark.sources.lakehouse import LakehouseStore

    store = LakehouseStore(spark, str(tmp_path / "lake"), n_buckets=8)
    force_merge(monkeypatch, "patch")
    eng = IVMEngine(spark, state_store=store)
    eng.register_table("lineitem", f"{SF}/lineitem.parquet")
    eng.create_immv(
        "v",
        sql="SELECT l_returnflag, l_linestatus, "
        "sum(cast(l_quantity as bigint)) AS s, count(*) AS n "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    )
    d = (
        eng.table("lineitem")
        .filter("l_orderkey % 10 = 0")
        .withColumn(MULT_COL, F.expr("l_linenumber % 2 = 0"))
    )
    eng.register_delta("lineitem", d)
    eng.ivm_upsert("v")
    st = eng._state["v"]  # store-backed parquet scan
    dv = eng._materialized_delta("v", force=True)
    out = merge_ops.merge(st, dv, eng._iviews["v"], {}, strategy="patch")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    shuffles = _re.findall(r"Exchange (?:hash|range|rangepartitioning)", plan)
    assert not shuffles, plan
    assert "BroadcastHashJoin" in plan, plan
    # and the full lifecycle over the store matches a recompute
    merged = eng.merge_view("v")
    eng.apply_delta("lineitem")
    truth = (
        eng.table("lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr("cast(l_quantity as bigint)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    assert rows(merged) == rows(truth)


def test_lakehouse_compact_and_vacuum(spark, tmp_path):
    """compact() consolidates a snapshot scattered over historical
    version dirs into one fresh full version; vacuum(keep_last) drops
    old manifests AND every file dir no retained manifest references,
    while the retained snapshots read back unchanged."""
    import os

    import pytest

    from ivm_extension_spark.sources.lakehouse import LakehouseStore

    store = LakehouseStore(spark, str(tmp_path / "lake"), n_buckets=4)
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(8)], "k int, v int"
    )
    store.write_full("s", df, ["k"])
    # two bucket-granular commits touching different buckets: the
    # current manifest now references dirs from three versions
    from ivm_extension_spark.sources.lakehouse import bucket_expr

    upd1 = df.withColumn("v", F.col("v") + 1).filter(
        bucket_expr(["k"], 4) == 0
    )
    state2 = store.read("s").filter(bucket_expr(["k"], 4) != 0).unionByName(upd1)
    store.commit("s", state2, ["k"], touched=[0])
    upd2 = state2.withColumn("v", F.col("v") + 1).filter(
        bucket_expr(["k"], 4) == 1
    )
    state3 = store.read("s").filter(bucket_expr(["k"], 4) != 1).unionByName(upd2)
    store.commit("s", state3, ["k"], touched=[1])
    assert store.versions("s") == [1, 2, 3]
    scattered = set(store.bucket_files("s").values())
    assert len({p.split("/")[1] for p in scattered}) == 3  # three v-dirs

    before = rows(store.read("s"))
    v4 = store.compact("s")
    assert v4 == 4
    assert rows(store.read("s")) == before
    assert len({p.split("/")[1] for p in store.bucket_files("s").values()}) == 1

    dropped = store.vacuum("s", keep_last=1)
    assert dropped == [1, 2, 3]
    assert store.versions("s") == [4]
    assert rows(store.read("s")) == before  # current snapshot intact
    with pytest.raises(FileNotFoundError):
        store.manifest("s", 2)
    # only version-4 file dirs remain on disk
    files_dir = tmp_path / "lake" / "s" / "files"
    assert sorted(os.listdir(files_dir)) == ["v000004"]


def test_lakehouse_manifest_row_counts(spark, tmp_path):
    """The manifest's add-file statistics (bucket_rows) must equal the
    actual snapshot count after write_full, bucket-granular commits and
    compaction — the engine's adaptive strategy reads them instead of
    launching a count job per merge."""
    from ivm_extension_spark.sources.lakehouse import LakehouseStore

    store = LakehouseStore(spark, str(tmp_path / "lake"), n_buckets=8)
    eng = IVMEngine(spark, state_store=store)
    eng.register_table("orders", f"{SF}/orders.parquet")
    eng.create_immv(
        "by_cust",
        sql="SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey",
    )
    assert store.row_count("by_cust") == store.read("by_cust").count()

    # a delta that inserts a NEW customer and deletes an existing one
    ck = eng.table("orders").select("o_custkey").first()[0]
    d = (
        eng.table("orders")
        .filter(F.col("o_custkey") == F.lit(ck))
        .limit(1)
        .withColumn("o_custkey", F.lit(999999999))
        .withColumn(MULT_COL, F.lit(True))
    )
    eng.register_delta("orders", d)
    eng.ivm_upsert("by_cust")
    eng.merge_view("by_cust")
    assert store.row_count("by_cust") == store.read("by_cust").count()

    store.compact("by_cust")
    assert store.row_count("by_cust") == store.read("by_cust").count()


def test_save_writes_catalog_without_python_rows_and_sentinel_only_over_a_save(
    spark, tmp_path, monkeypatch
):
    """save builds both catalog rows JVM-side (no ``createDataFrame``),
    and writes the in-progress sentinel only when the path already holds
    a catalog: a save into a fresh path runs exactly one job fewer."""
    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, 2), (1, 3)], "k int, v int"))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s, min(v) AS lo FROM t GROUP BY k")
    sc = spark.sparkContext

    def save_jobs(path, group):
        sc.setJobGroup(group, "save")
        try:
            eng.save(str(path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def no_python_rows(*a, **kw):
        raise AssertionError("save must not build rows through createDataFrame")

    monkeypatch.setattr(spark, "createDataFrame", no_python_rows)
    fresh = save_jobs(tmp_path / "fresh", "save-fresh")
    over = save_jobs(tmp_path / "fresh", "save-over")  # now an existing save
    assert over == fresh + 1
    monkeypatch.undo()

    import pyarrow.parquet as pq

    (part,) = (tmp_path / "fresh" / "catalog").glob("*.parquet")  # one file
    schema = pq.read_schema(part)
    assert schema.names == ["catalog_json"]
    assert schema.field("catalog_json").nullable  # the layout load reads
    b = IVMEngine.load(spark, str(tmp_path / "fresh"), tables={"t": eng.table("t")})
    assert rows(b.read_view("v")) == rows(eng.read_view("v")) == [(1, 5, 2)]
