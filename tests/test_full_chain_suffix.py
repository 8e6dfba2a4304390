"""FULL OUTER anywhere in a join chain (round-1 closure of the last
documented rejection).

The reference supports no joins at all (README.md:36); this engine's
chain rule previously rejected FULL OUTER in the *suffix* of the delta
position because the fold relies on left-linearity, and FULL preserves
its right side too.  Each suffix FULL is a counting step of its own
(rewrite._fold_joins): the ΔX-side terms fold as LEFT, and the
R-preserved rows flip where their key's match count in the composed OLD
left crosses zero — Δm from ΔX, m_old by probing the old left chain with
the broadcast Δ-key set (the chain is scanned narrowly, never shuffled).

Every test merges the maintained view and compares against a full
recomputation over the delta-applied base tables (the IVM invariant).
"""

import random

import pytest

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.operators.rewrite import MULT_COL

from tests.conftest import rows


KEYS = (1, 2, 3, 4, 5)


def _mk(spark, n, prefix, seed):
    rng = random.Random(seed)
    data = [(i, rng.choice(KEYS), rng.choice(KEYS)) for i in range(n)]
    return spark.createDataFrame(
        data, f"{prefix}_id long, {prefix}_k long, {prefix}_j long"
    )


def _tables(spark, seed=7):
    return {
        "ta": _mk(spark, 12, "a", seed),
        "tb": _mk(spark, 10, "b", seed + 1),
        "tc": _mk(spark, 8, "c", seed + 2),
        "td": _mk(spark, 6, "d", seed + 3),
    }


def _delta(spark, df, prefix, seed, frac_del=0.3, n_ins=4):
    rng = random.Random(seed)
    base = df.collect()
    dels = [tuple(r) + (False,) for r in base if rng.random() < frac_del]
    ins = [
        (1000 + i, rng.choice(KEYS + (99,)), rng.choice(KEYS + (99,)), True)
        for i in range(n_ins)
    ]
    return spark.createDataFrame(
        dels + ins,
        f"{prefix}_id long, {prefix}_k long, {prefix}_j long, {MULT_COL} boolean",
    )


def _check(spark, sql, delta_tables, seed=11):
    tables = _tables(spark)
    eng = IVMEngine(spark)
    for t, df in tables.items():
        eng.register_table(t, df)
    eng.create_immv("v", sql=sql)
    deltas = {
        t: _delta(spark, tables[t], t[1], seed + n)
        for n, t in enumerate(delta_tables)
    }
    for t, d in deltas.items():
        eng.register_delta(t, d)
    eng.maintain("v")
    got = rows(eng.read_view("v"))

    eng2 = IVMEngine(spark)
    for t, df in tables.items():
        eng2.register_table(t, df)
    for t, d in deltas.items():
        eng2.register_delta(t, d)
        eng2.apply_delta(t)
    assert got == rows(eng2.create_immv("v", sql=sql))


SHAPES = {
    "left_then_full_delta_leftmost": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k = b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("ta",),
    ),
    "inner_then_full_delta_mid": (
        "SELECT a_id, b_id, c_id FROM ta JOIN tb ON a_k = b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("tb",),
    ),
    "full_then_inner_delta_leftmost": (
        "SELECT a_id, b_id, c_id FROM ta FULL JOIN tb ON a_k = b_k "
        "JOIN tc ON b_j = c_k",
        ("ta",),
    ),
    "full_at_delta_position_with_full_suffix": (
        "SELECT a_id, b_id, c_id FROM ta FULL JOIN tb ON a_k = b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("tb",),
    ),
    "double_full_with_left_between": (
        "SELECT a_id, b_id, c_id, d_id FROM ta FULL JOIN tb ON a_k = b_k "
        "LEFT JOIN tc ON b_j = c_k FULL JOIN td ON c_j = d_k",
        ("ta",),
    ),
    "leading_full_deltas_both_sides_full_suffix": (
        "SELECT a_id, b_id, c_id FROM ta FULL JOIN tb ON a_k = b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("ta", "tb"),
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_full_suffix_chain_matches_recompute(spark, shape):
    sql, deltas = SHAPES[shape]
    _check(spark, sql, deltas)


def test_multibatch_full_suffix_chain(spark):
    """Three maintenance batches through a double-FULL chain stay exact."""
    sql, _ = SHAPES["double_full_with_left_between"]
    tables = _tables(spark, seed=23)
    eng = IVMEngine(spark)
    for t, df in tables.items():
        eng.register_table(t, df)
    eng.create_immv("v", sql=sql)
    for batch, (t, seed) in enumerate([("ta", 31), ("tb", 37), ("ta", 41)]):
        d = _delta(spark, eng.table(t), t[1], seed)
        eng.register_delta(t, d)
        eng.maintain("v")
        eng2 = IVMEngine(spark)
        for name in tables:
            eng2.register_table(name, eng.table(name))
        assert rows(eng.read_view("v")) == rows(
            eng2.create_immv("v", sql=sql)
        ), f"batch {batch}"


def test_streaming_maintains_full_suffix_chain(spark, tmp_path):
    """Micro-batch streaming maintenance composes with the suffix-FULL
    flip machinery: a CDC file stream on the mid-chain table advances a
    left-then-FULL chain view to exactly the batch recomputation."""
    from ivm_extension_spark.streaming.continuous import StreamingViewMaintainer

    sql, _ = SHAPES["inner_then_full_delta_mid"]
    tables = _tables(spark, seed=51)
    eng = IVMEngine(spark)
    for t, df in tables.items():
        eng.register_table(t, df)
    eng.create_immv("v", sql=sql)

    d1 = _delta(spark, tables["tb"], "b", 61)
    d2 = _delta(spark, tables["tb"], "b", 67, frac_del=0.0, n_ins=3)
    delta_dir = str(tmp_path / "deltas")
    d1.write.parquet(f"{delta_dir}/b1")
    d2.write.parquet(f"{delta_dir}/b2")
    stream = (
        spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{delta_dir}/*")
    )
    m = StreamingViewMaintainer(eng, "v", "tb")
    q = m.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert m.batches_applied >= 1

    eng2 = IVMEngine(spark)
    for t in tables:
        eng2.register_table(t, eng.table(t))  # bases advanced by the stream
    assert rows(eng.read_view("v")) == rows(eng2.create_immv("v", sql=sql))


MULTI_DELTA_SHAPES = {
    "left_left_deltas_t_and_dim": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k = b_k "
        "LEFT JOIN tc ON b_j = c_k",
        ("ta", "tc"),
    ),
    "semi_chain_deltas_both": (
        "SELECT a_id, b_id FROM ta JOIN tb ON a_k = b_k "
        "SEMI JOIN tc ON b_j = c_k",
        ("tb", "tc"),
    ),
    "full_chain_deltas_three_tables": (
        "SELECT a_id, b_id, c_id FROM ta FULL JOIN tb ON a_k = b_k "
        "LEFT JOIN tc ON b_j = c_k",
        ("ta", "tb", "tc"),
    ),
    "suffix_full_deltas_two": (
        "SELECT a_id, b_id, c_id FROM ta JOIN tb ON a_k = b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("tb", "tc"),
    ),
}


@pytest.mark.parametrize("shape", sorted(MULTI_DELTA_SHAPES))
def test_multi_delta_chain_one_shot(spark, shape):
    """Deltas on SEVERAL tables of an outer/semi/anti chain in ONE batch:
    the sequential-worlds composition makes a single ivm_upsert + merge
    exact (previously decomposed by engine.maintain against state)."""
    sql, deltas = MULTI_DELTA_SHAPES[shape]
    _check(spark, sql, deltas, seed=73)


def test_property_random_chain_shapes_and_deltas(spark):
    """Randomized closure check: random join kinds at every chain
    position, random delta-table subsets (1..3 tables at once), random
    delete/insert mixes — maintain() must equal recomputation.  Covers
    the routing matrix (linear fold, chain-single-delta, leading-FULL,
    suffix-FULL flips, sequential worlds) without hand-picking shapes."""
    import itertools
    import random as _random

    rng = _random.Random(99)
    HOWS = ["JOIN", "LEFT JOIN", "FULL JOIN", "SEMI JOIN", "ANTI JOIN"]
    for trial in range(8):
        how1, how2 = rng.choice(HOWS), rng.choice(HOWS)
        # semi tables contribute no columns; build the select accordingly
        cols = ["a_id"]
        if how1 not in ("SEMI JOIN", "ANTI JOIN"):
            cols.append("b_id")
        if how2 not in ("SEMI JOIN", "ANTI JOIN"):
            cols.append("c_id")
        sql = (
            f"SELECT {', '.join(cols)} FROM ta {how1} tb ON a_k = b_k "
            f"{how2} tc ON a_j = c_k"
        )
        n_deltas = rng.randint(1, 3)
        delta_tables = tuple(rng.sample(["ta", "tb", "tc"], n_deltas))
        try:
            _check(spark, sql, delta_tables, seed=1000 + trial)
        except Exception as e:  # noqa: BLE001 — attach the shape to failures
            raise AssertionError(
                f"shape {sql!r} deltas {delta_tables}: {e}"
            ) from e


def test_qualified_conditions_survive_flattened_suffix(spark):
    """ON conditions with table-qualified references must keep resolving
    after the pre-FULL prefix is flattened to bare columns (qualifiers of
    flattened tables are stripped from the suffix conditions)."""
    from pyspark.sql import functions as F

    from ivm_extension_spark import IVMEngine
    from ivm_extension_spark.operators.merge import apply_delta_to_table
    from ivm_extension_spark.operators.rewrite import MULT_COL

    from tests.conftest import rows

    eng = IVMEngine(spark)
    eng.register_table(
        "ta", spark.createDataFrame([(1, 10), (2, 20)], "a_k int, a_v int")
    )
    eng.register_table(
        "tb", spark.createDataFrame([(10, 7), (20, 8)], "b_k int, b_j int")
    )
    eng.register_table(
        "tc", spark.createDataFrame([(7, "x"), (9, "y")], "c_k int, c_v string")
    )
    sql = (
        "SELECT a_k, b_j, c_v FROM ta "
        "LEFT JOIN tb ON ta.a_v = tb.b_k "
        "FULL JOIN tc ON tb.b_j = tc.c_k"
    )
    eng.create_immv("v", sql=sql)
    delta = spark.createDataFrame(
        [(3, 20, True), (1, 10, False)], f"a_k int, a_v int, {MULT_COL} boolean"
    )
    eng.register_delta("ta", delta)
    eng.ivm_upsert("v")
    merged = eng.merge_view("v")
    ta2 = apply_delta_to_table(eng.table("ta"), delta)
    truth = (
        ta2.join(eng.table("tb"), on=F.expr("a_v = b_k"), how="left")
        .join(eng.table("tc"), on=F.expr("b_j = c_k"), how="full")
        .select("a_k", "b_j", "c_v")
    )
    assert rows(merged) == rows(truth)


def test_full_suffix_with_mid_chain_delta_and_shared_key_names(spark):
    """FULL in the SUFFIX with the delta on a MIDDLE table, where every
    join key shares its name across tables (f.k = d.k, d.gk = g.gk) —
    the shape that needs unique flat column names across the fold's
    steps (round-2 fix: previously rejected as ambiguous)."""
    from pyspark.sql import functions as F

    for ddelta, gdelta in [
        ([(2, "c", 12, True), (0, "a", 10, False)], None),
        ([(1, "b", 11, False)], None),
        (None, [(11, "r", True), (12, "q", False)]),
    ]:
        eng = IVMEngine(spark)
        eng.register_table(
            "f", spark.createDataFrame([(1, 0), (2, 1), (3, 2)], "a int, k int")
        )
        eng.register_table(
            "d",
            spark.createDataFrame(
                [(0, "a", 10), (1, "b", 11)], "k int, name string, gk int"
            ),
        )
        eng.register_table(
            "g", spark.createDataFrame([(10, "p"), (12, "q")], "gk int, label string")
        )
        if ddelta:
            eng.register_delta(
                "d",
                spark.createDataFrame(
                    ddelta, f"k int, name string, gk int, {MULT_COL} boolean"
                ),
            )
        if gdelta:
            eng.register_delta(
                "g",
                spark.createDataFrame(
                    gdelta, f"gk int, label string, {MULT_COL} boolean"
                ),
            )
        eng.create_immv(
            "v",
            sql="SELECT a, name, label FROM f JOIN d ON f.k = d.k "
            "FULL JOIN g ON d.gk = g.gk",
        )
        eng.ivm_upsert("v")
        merged = rows(eng.merge_view("v"))
        for t in ("d", "g"):
            if t in eng._deltas:
                eng.apply_delta(t)
        assert merged == rows(eng.full_refresh("v")), (ddelta, gdelta)
        eng.drop_view("v")
