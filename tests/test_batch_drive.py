"""The batch drive behind maintain_all / maintain / merge_and_advance:
each registered delta is read once per batch, the base folds run beside
the merges, and a failure on either side leaves a recoverable world."""

import time

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.engine import BaseFoldError
from ivm_extension_spark.operators.rewrite import MULT_COL, IVMError
from tests.conftest import rows

VIEWS = {
    "sums": "SELECT g, sum(x) AS s, count(*) AS n FROM t GROUP BY g",
    # MIN/MAX/COUNT DISTINCT: the aux advance reads the delta as well
    "range": "SELECT g, min(x) AS lo, max(x) AS hi, count(DISTINCT x) AS d "
    "FROM t GROUP BY g",
    "joined": "SELECT w, sum(x) AS s FROM t JOIN u ON g = k GROUP BY w",
}


def _engine(spark):
    eng = IVMEngine(spark)
    eng.register_table(
        "t",
        spark.createDataFrame(
            [("a", 1), ("a", 4), ("b", 2), ("c", 7), (None, 3)], "g string, x int"
        ),
    )
    eng.register_table(
        "u", spark.createDataFrame([("a", "p"), ("b", "q"), ("c", "p")], "k string, w string")
    )
    for v, sql in VIEWS.items():
        eng.create_immv(v, sql=sql)
    return eng


T_ROWS = [("a", 4, False), ("b", 9, True), ("d", 5, True), (None, 6, True)]
U_ROWS = [("d", "q", True), ("c", "p", False)]


def _deltas(spark, probe=None):
    """The two deltas; with ``probe`` set, every row read bumps
    ``probe[table]``, an accumulator, once per evaluation."""
    out = {}
    for t, data, schema, col in (
        ("t", T_ROWS, "g string, x int", "x"),
        ("u", U_ROWS, "k string, w string", "k"),
    ):
        df = spark.createDataFrame(data, f"{schema}, {MULT_COL} boolean")
        if probe is not None:
            acc = probe[t]

            @F.udf("boolean")
            def seen(_v, acc=acc):
                acc.add(1)
                return True

            df = df.filter(seen(F.col(col)))
        out[t] = df
    return out


def _register(eng, deltas):
    for t, df in deltas.items():
        eng.register_delta(t, df)


def _storage_valid(df):
    return df._jdf.queryExecution().analyzed().rdd().getStorageLevel().isValid()


def test_maintain_all_reads_each_delta_row_once_and_frees_the_pins(spark):
    eng = _engine(spark)
    probe = {t: spark.sparkContext.accumulator(0) for t in ("t", "u")}
    _register(eng, _deltas(spark, probe))
    pinned = {}
    real_merge = eng.merge_view

    def merge_view(name, *a, **kw):
        pinned.update(eng._deltas)  # what the merges read
        return real_merge(name, *a, **kw)

    eng.merge_view = merge_view
    out = eng.maintain_all()
    assert sorted(out) == sorted(VIEWS)
    assert (probe["t"].value, probe["u"].value) == (len(T_ROWS), len(U_ROWS))
    assert set(pinned) == {"t", "u"} and not eng._deltas
    for d in pinned.values():
        assert d._ivm_delta_pin and not _storage_valid(d)
    for v in VIEWS:  # the released pins back nothing still read
        assert rows(eng.read_view(v)) == rows(eng.full_refresh(v))


def test_base_folds_finish_while_the_merges_run(spark, monkeypatch):
    from ivm_extension_spark import engine as engmod

    eng = _engine(spark)
    _register(eng, _deltas(spark))
    real_fold = engmod.merge_ops.apply_delta_to_table
    folds_done, merges_done = [], []

    class TimedFold:
        def __init__(self, df):
            self.df = df

        def localCheckpoint(self, eager):
            out = self.df.localCheckpoint(eager=eager)
            folds_done.append(time.perf_counter())
            return out

    monkeypatch.setattr(
        engmod.merge_ops, "apply_delta_to_table", lambda b, d: TimedFold(real_fold(b, d))
    )

    def slow_merge(name):
        time.sleep(4.0)
        merges_done.append(time.perf_counter())

    eng.merge_view = slow_merge
    eng.maintain_all()
    assert len(folds_done) == 2 and len(merges_done) == len(VIEWS)
    assert max(folds_done) < min(merges_done)
    assert not eng._deltas  # folded and swapped after the merges


def test_maintain_all_failed_merge_drains_folds_and_restores_deltas(
    spark, monkeypatch
):
    from ivm_extension_spark import engine as engmod

    eng = _engine(spark)
    deltas = _deltas(spark)
    _register(eng, deltas)
    registered = dict(eng._deltas)
    bases = dict(eng._tables)
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
        eng.maintain_all()
    assert len(folded) == 2, "returned before every base fold finished"
    assert not any(_storage_valid(f) for f in folded)  # fold blocks dropped
    assert all(eng._deltas[t] is registered[t] for t in ("t", "u"))
    assert eng._tables == bases and not eng._delta_views

    # the world is unchanged: a full redo is safe
    monkeypatch.undo()
    del eng.merge_view
    eng.maintain_all()
    for v in VIEWS:
        assert rows(eng.read_view(v)) == rows(eng.full_refresh(v))


def test_maintain_all_fold_failure_after_merges_swaps_no_base(spark, monkeypatch):
    from ivm_extension_spark import engine as engmod

    eng = _engine(spark)
    deltas = _deltas(spark)
    _register(eng, deltas)
    bases = dict(eng._tables)
    real_fold = engmod.merge_ops.apply_delta_to_table
    good = []

    class Fold:
        def __init__(self, df):
            self.df = df

        def localCheckpoint(self, eager):
            out = self.df.localCheckpoint(eager=eager)
            good.append(out)
            return out

    def fold(base, delta):
        if base is bases["u"]:
            # computing this plan raises at runtime: the fold job fails
            return real_fold(base, delta).filter(
                F.assert_true(F.lit(False), F.lit("injected fold failure")).isNull()
            )
        return Fold(real_fold(base, delta))

    monkeypatch.setattr(engmod.merge_ops, "apply_delta_to_table", fold)
    with pytest.raises(BaseFoldError, match="redo only the fold") as err:
        eng.maintain_all()
    assert "'u'" in str(err.value)
    assert eng._tables == bases  # no base swapped
    assert len(good) == 1 and not _storage_valid(good[0])
    assert all(eng._merge_counts[v] == 1 for v in VIEWS)  # merges committed

    # redo only the folds; a replaced or folded pinned delta is freed
    monkeypatch.undo()
    pinned = dict(eng._deltas)
    assert all(d._ivm_delta_pin for d in pinned.values())
    eng.apply_delta("t")
    eng.register_delta("u", deltas["u"])
    assert not any(_storage_valid(d) for d in pinned.values())
    eng.apply_delta("u")
    for v in VIEWS:
        assert rows(eng.read_view(v)) == rows(eng.full_refresh(v))
