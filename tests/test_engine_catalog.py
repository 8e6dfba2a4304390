"""Catalog surface: list/drop lifecycle and referential guards."""

import threading
import time

import pytest

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import MULT_COL, IVMError


def test_list_and_drop_lifecycle(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, "x")], "a int, b string"))
    eng.create_immv("v", sql="SELECT b, sum(a) AS s FROM t GROUP BY b")
    assert eng.list_tables() == ["t"]
    assert eng.list_views() == ["v"]

    with pytest.raises(IVMError, match="referenced by views"):
        eng.drop_table("t")

    eng.drop_view("v")
    assert eng.list_views() == []
    with pytest.raises(IVMError, match="not registered"):
        eng.view("v")

    eng.drop_table("t")
    assert eng.list_tables() == []


def test_drop_view_clears_aux_state(spark):
    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, "x")], "a int, b string"))
    eng.create_immv("v", sql="SELECT b, min(a) AS lo FROM t GROUP BY b")
    assert "v" in eng._aux and eng._aux["v"]
    eng.drop_view("v")
    assert "v" not in eng._aux


def test_drop_view_forgets_last_merge_strategy(spark):
    """A view re-created under a dropped name reports no merge strategy
    until it merges itself."""
    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, "x")], "a int, b string"))
    eng.create_immv("v", sql="SELECT b, sum(a) AS s FROM t GROUP BY b")
    eng.register_delta(
        "t",
        spark.createDataFrame([(2, "x", True)], f"a int, b string, {MULT_COL} boolean"),
    )
    eng.maintain("v")
    assert eng.stats("v")["last_merge_strategy"] == "shuffle"
    eng.drop_view("v")
    eng.create_immv("v", sql="SELECT b, sum(a) AS s FROM t GROUP BY b")
    st = eng.stats("v")
    assert (st["last_merge_strategy"], st["merges_applied"]) == (None, 0)


def test_execute_sql_front_door(spark):
    # reference entry-point parity: CREATE IMMV AS (ivm_parser.cpp:14-52,
    # unfinished there), PRAGMA ivm_upsert (ivm_extension.cpp:95-110),
    # and plain SQL over registered tables + materialized views
    from tests.conftest import rows

    eng = IVMEngine(spark)
    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, x int"
    )
    eng.register_table("t", base)
    eng.execute("CREATE IMMV v AS SELECT k, sum(x) AS s FROM t GROUP BY k")
    assert rows(eng.read_view("v")) == [("a", 3), ("b", 5)]
    delta = spark.createDataFrame(
        [("b", 7, True)], f"k string, x int, {MULT_COL} boolean"
    )
    eng.register_delta("t", delta)
    dv = eng.execute("PRAGMA ivm_upsert('memory', 'main', 'v')")
    assert rows(dv) == [("b", 7, True)]
    eng.merge_view("v")
    got = eng.execute("SELECT k, s FROM v WHERE s > 4 ORDER BY k")
    assert rows(got) == [("b", 12)]
    # MATERIALIZED VIEW spelling (the reference's own regex helper shape)
    eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT k FROM t")
    assert sorted(eng.list_views()) == ["mv", "v"]


def test_maintain_all_advances_every_affected_view(spark):
    from tests.conftest import rows as _rows

    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], "a int, b string")
    )
    eng.register_table(
        "u", spark.createDataFrame([(10, "x"), (20, "z")], "c int, b string")
    )
    eng.create_immv("v1", sql="SELECT b, sum(a) AS s FROM t GROUP BY b")
    eng.create_immv("v2", sql="SELECT a, b FROM t WHERE a > 1")
    eng.create_immv("v3", sql="SELECT b, count(c) AS n FROM u GROUP BY b")
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [(5, "y", True), (1, "x", False)],
            "a int, b string, _duckdb_ivm_multiplicity boolean",
        ),
    )
    eng.register_delta(
        "u",
        spark.createDataFrame(
            [(30, "x", True)], "c int, b string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    out = eng.maintain_all()
    assert set(out) == {"v1", "v2", "v3"}
    # deltas consumed, bases advanced
    assert eng._deltas == {}
    assert _rows(eng.read_view("v1")) == _rows(
        spark.createDataFrame([("x", 3), ("y", 7)], "b string, s bigint")
    )
    assert _rows(eng.read_view("v2")) == _rows(
        spark.createDataFrame([(2, "y"), (3, "x"), (5, "y")], "a int, b string")
    )
    assert _rows(eng.read_view("v3")) == _rows(
        spark.createDataFrame([("x", 2), ("z", 1)], "b string, n bigint")
    )


def test_maintain_all_rejects_before_any_merge(spark):
    import pytest

    from ivm_extension_spark.operators.rewrite import IVMError

    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([(1, "x")], "a int, b string")
    )
    eng.register_table(
        "u", spark.createDataFrame([("x", 5)], "bb string, d int")
    )
    eng.create_immv("ok", sql="SELECT b, sum(a) AS s FROM t GROUP BY b")
    # SEMI join whose condition references NO preserved-side column (a
    # constant existence gate): no equi pair, no theta axis — rejected at
    # plan-build time, so maintain_all must not half-merge.  (Outer theta
    # joins, the previous fixture here, are maintained since round 4 via
    # operators/thetajoin.py.)
    eng.create_immv(
        "theta",
        sql="SELECT a, b FROM t SEMI JOIN u ON bb = 'x'",
    )
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [(2, "x", True)], "a int, b string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.register_delta(
        "u",
        spark.createDataFrame(
            [("x", 6, True)], "bb string, d int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    before = eng.read_view("ok").collect()
    with pytest.raises(IVMError):
        eng.maintain_all()
    # nothing advanced: deltas still registered, state unchanged
    assert set(eng._deltas) == {"t", "u"}
    assert eng.read_view("ok").collect() == before


def test_stats_surface(spark):
    import pytest as _pytest

    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    )
    eng.create_immv(
        "v", sql="SELECT b, sum(a) AS s, min(a) AS lo FROM t GROUP BY b"
    )
    st = eng.stats("v")
    assert st["materialized"] and st["tables"] == ["t"]
    assert st["aux_aggregates"] == ["lo"] and st["aux_rows"] == 2
    assert st["merges_applied"] == 0 and st["pending_deltas"] == []
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [(5, "x", True)], "a int, b string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    assert eng.stats("v")["pending_deltas"] == ["t"]
    eng.maintain("v")
    st2 = eng.stats("v")
    assert st2["merges_applied"] == 1 and st2["pending_deltas"] == []
    with _pytest.raises(Exception):
        eng.stats("nope")


def test_versioned_reads_time_travel(spark):
    from tests.conftest import rows as _rows

    eng = IVMEngine(spark, keep_history=2)
    eng.register_table(
        "t", spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    )
    eng.create_immv("v", sql="SELECT b, sum(a) AS s FROM t GROUP BY b")
    v0 = _rows(eng.read_view("v"))
    batches = [[(5, "x", True)], [(2, "y", False)], [(7, "z", True)]]
    snaps = [v0]
    for b in batches:
        eng.register_delta(
            "t",
            spark.createDataFrame(
                b, "a int, b string, _duckdb_ivm_multiplicity boolean"
            ),
        )
        eng.maintain("v")
        snaps.append(_rows(eng.read_view("v")))
    # window of 2 retained + current: versions 1, 2, 3
    assert eng.list_versions("v") == [1, 2, 3]
    assert _rows(eng.read_view("v", version=3)) == snaps[3]
    assert _rows(eng.read_view("v", version=2)) == snaps[2]
    assert _rows(eng.read_view("v", version=1)) == snaps[1]
    # version 0 fell out of the window
    import pytest as _p

    with _p.raises(Exception, match="no retained version"):
        eng.read_view("v", version=0)


def test_execute_sql_surface_with_ordered_aggs(spark):
    """The reference-parity text entry points compose with the newest
    aggregate family: CREATE IMMV with median/percentile/mode, PRAGMA
    ivm_upsert, and a plain read-only SQL over the maintained view."""
    from tests.conftest import rows as _rows
    from pyspark.sql import functions as F

    eng = IVMEngine(spark)
    eng.register_table(
        "t",
        spark.createDataFrame(
            [("a", 1), ("a", 4), ("a", 9), ("b", 2)], "k string, x int"
        ),
    )
    eng.execute(
        "CREATE IMMV mv AS SELECT k, median(x) AS med, "
        "percentile(x, 0.75) AS p75, count(x) AS n FROM t GROUP BY k"
    )
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [("a", 9, False), ("b", 8, True)],
            "k string, x int, _duckdb_ivm_multiplicity boolean",
        ),
    )
    dv = eng.execute("PRAGMA ivm_upsert('memory', 'main', 'mv')")
    assert "_duckdb_ivm_multiplicity" in dv.columns
    eng.merge_view("mv")
    eng.apply_delta("t")
    got = eng.execute("SELECT k, med FROM mv ORDER BY k")
    truth = (
        eng.table("t").groupBy("k").agg(F.median("x").alias("med"))
    )
    assert _rows(got) == _rows(truth)


def test_maintain_all_skips_delta_only_views(spark):
    """A view registered with materialize=False (the ΔV-only pattern)
    must not break maintain_all mid-batch: materialized views advance,
    the ΔV-only view is skipped, deltas fold into the base exactly once
    (the never-half-merged guarantee — round-1 advice item)."""
    from pyspark.sql import functions as F

    from tests.conftest import rows

    eng = IVMEngine(spark)
    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, x int")
    eng.register_table("t", base)
    eng.create_immv("v1", sql="SELECT k, sum(x) AS s FROM t GROUP BY k")
    eng.create_immv(
        "v2", sql="SELECT k, count(*) AS n FROM t GROUP BY k", materialize=False
    )
    eng.register_delta(
        "t",
        spark.createDataFrame(
            [("a", 10, True)], f"k string, x int, {MULT_COL} boolean"
        ),
    )
    out = eng.maintain_all()
    assert set(out) == {"v1"}  # v2 (ΔV-only) skipped, not an error
    assert rows(out["v1"]) == [("a", 11), ("b", 2)]
    # the delta was folded exactly once
    assert rows(eng.table("t")) == [("a", 1), ("a", 10), ("b", 2)]


def test_stats_merge_strategy_is_per_view(spark, monkeypatch):
    """stats(name)['last_merge_strategy'] must report THAT view's last
    strategy, not the engine-global most-recent one (round-1 advice)."""
    from pyspark.sql import functions as F

    from ivm_extension_spark import engine

    monkeypatch.setattr(engine, "PATCH_MIN_STATE_ROWS", 2)
    eng = IVMEngine(spark)
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, x int"
    )
    eng.register_table("t", base)
    eng.create_immv("big", sql="SELECT k, sum(x) AS s FROM t GROUP BY k")
    eng.create_immv("small", sql="SELECT count(*) AS n FROM t")

    def _delta():
        return spark.createDataFrame(
            [("a", 5, True)], f"k string, x int, {MULT_COL} boolean"
        )

    # batch 1: both merge (strategies measured for next round)
    eng.register_delta("t", _delta())
    for v in ("big", "small"):
        eng.ivm_upsert(v)
        eng.merge_view(v)
    eng.apply_delta("t")
    # batch 2: 'big' has 3 measured rows >= 2 → patch; 'small' is a
    # global aggregate → always its dedicated path recorded as shuffle
    eng.register_delta("t", _delta())
    for v in ("big", "small"):
        eng.ivm_upsert(v)
        eng.merge_view(v)
    assert eng.stats("big")["last_merge_strategy"] == "patch"
    # per-view: 'small' must NOT report 'big's strategy
    assert eng.stats("small")["last_merge_strategy"] == "shuffle"


def test_merge_views_concurrent_equals_sequential(spark):
    """merge_views drives independent views from a thread per view
    (Spark's scheduler is thread-safe); the merged public states must
    equal a sequential drive's, state bookkeeping must advance for
    every view, and duplicate names are rejected."""
    from tests.conftest import rows

    from pyspark.sql import functions as F

    def build():
        eng = IVMEngine(spark)
        eng.register_table(
            "t",
            spark.createDataFrame(
                [("a", 1), ("a", 2), ("b", 5), ("c", 7)], "k string, x int"
            ),
        )
        eng.create_immv("sums", sql="SELECT k, sum(x) AS s FROM t GROUP BY k")
        eng.create_immv("cnt", sql="SELECT count(DISTINCT k) AS n FROM t")
        eng.create_immv("hi", sql="SELECT k, max(x) AS m FROM t GROUP BY k")
        eng.register_delta(
            "t",
            spark.createDataFrame(
                [("a", 9, True), ("b", 5, False), ("d", 2, True)],
                f"k string, x int, {MULT_COL} boolean",
            ),
        )
        for v in ("sums", "cnt", "hi"):
            eng.ivm_upsert(v)
        return eng

    seq = build()
    seq_states = [seq.merge_view(v) for v in ("sums", "cnt", "hi")]
    conc = build()
    conc_states = conc.merge_views(["sums", "cnt", "hi"])
    for s, c in zip(seq_states, conc_states):
        assert sorted(rows(s)) == sorted(rows(c))
    for v in ("sums", "cnt", "hi"):
        assert conc._merge_counts[v] == 1

    with pytest.raises(IVMError, match="distinct"):
        conc.merge_views(["sums", "sums"])


def test_merge_views_failure_waits_for_slow_sibling(spark):
    eng = IVMEngine(spark)
    done = threading.Event()

    def merge_view(name):
        if name == "bad":
            raise IVMError("injected merge failure")
        time.sleep(0.5)
        done.set()

    eng.merge_view = merge_view
    with pytest.raises(IVMError, match="injected"):
        eng.merge_views(["bad", "slow"])
    assert done.is_set()


def test_merge_views_parallelism_bounds_spawned_workers(spark, monkeypatch):
    from ivm_extension_spark.operators import pin

    monkeypatch.setattr(pin, "_POOL", pin._SubmitPool())
    eng = IVMEngine(spark)
    eng.merge_view = lambda name: time.sleep(0.05) or name
    names = [f"v{i}" for i in range(6)]
    assert eng.merge_views(names, parallelism=2) == names
    assert pin._POOL._spawned <= 2


def test_merge_and_advance_failed_merge_waits_for_and_drops_the_fold(
    spark, monkeypatch
):
    from ivm_extension_spark import engine as engmod

    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame([(1, 10)], "k int, v int"))
    eng.register_delta(
        "t", spark.createDataFrame([(1, 5, True)], f"k int, v int, {MULT_COL} boolean")
    )
    folded = []

    class SlowFold:
        def localCheckpoint(self, eager):
            time.sleep(0.5)
            folded.append(spark.range(3).localCheckpoint(eager=True))
            return folded[-1]

    monkeypatch.setattr(
        engmod.merge_ops, "apply_delta_to_table", lambda base, delta: SlowFold()
    )

    def merge_view(name):
        raise IVMError("injected merge failure")

    eng.merge_view = merge_view
    with pytest.raises(IVMError, match="injected"):
        eng.merge_and_advance("v", "t")
    assert folded, "returned before the base fold finished"
    rdd = folded[0]._jdf.queryExecution().analyzed().rdd()
    assert not rdd.getStorageLevel().isValid()  # checkpoint blocks dropped
    assert "t" in eng._deltas  # world unchanged: the fold was not applied


def test_merge_view_failure_waits_for_touched_bucket_probe(spark, tmp_path, monkeypatch):
    """A store-backed merge that fails after starting its touched-bucket
    collect returns only once that collect has finished, and leaves the
    store version and the state as they were."""
    from ivm_extension_spark import engine as engmod
    from ivm_extension_spark.sources.lakehouse import LakehouseStore

    store = LakehouseStore(spark, str(tmp_path / "lake"), n_buckets=4)
    eng = IVMEngine(spark, state_store=store)
    eng.register_table("t", spark.createDataFrame([(1, 10), (2, 5)], "k int, v int"))
    eng.create_immv("v", sql="SELECT k, sum(v) AS s FROM t GROUP BY k")
    eng.register_delta(
        "t", spark.createDataFrame([(1, 5, True)], f"k int, v int, {MULT_COL} boolean")
    )
    eng.ivm_upsert("v")
    version, before = store.current_version("v"), sorted(eng.read_view("v").collect())

    finished = []
    real_submit = engmod.pin.submit

    def slow_submit(fn):
        def run():
            time.sleep(0.5)
            try:
                return fn()
            finally:
                finished.append(fn)

        return real_submit(run)

    def boom(name):
        raise IVMError("injected aux failure")

    monkeypatch.setattr(engmod.pin, "submit", slow_submit)
    monkeypatch.setattr(eng, "_advance_aux", boom)
    with pytest.raises(IVMError, match="injected"):
        eng.merge_view("v")
    assert finished, "returned before the touched-bucket probe finished"
    assert store.current_version("v") == version
    assert sorted(eng.read_view("v").collect()) == before

    monkeypatch.undo()
    merged = sorted(eng.merge_view("v").collect())
    eng.apply_delta("t")
    assert merged == sorted(eng.full_refresh("v").collect())
