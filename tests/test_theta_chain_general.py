"""General theta joins at a chain position followed by FULL suffix
joins and/or suffix-table deltas (round-4 closure of the last
documented theta rejection).

The reference supports no joins at all (README.md:36); this engine's
theta chain rule previously required the suffix after a theta position
to be FULL-free and deltaless.  The left-deep fold of rewrite._fold_joins
closes that: the theta step yields the exact delta of the chain through
the theta join, and every later join is one more counting step (or a
plain join without a delta) over that prefix, FULL included.

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
    # suffix-table delta after a theta position (linear fold unusable)
    "theta_left_suffix_delta": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "JOIN tc ON b_j = c_k",
        ("tc",),
    ),
    # deltas on BOTH the theta core and the suffix (sequential worlds
    # over the virtual table)
    "theta_left_core_and_suffix_deltas": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "JOIN tc ON b_j = c_k",
        ("ta", "tc"),
    ),
    # FULL suffix join after a theta position, delta on the theta side
    "theta_left_full_suffix_core_delta": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("tb",),
    ),
    # FULL theta core (two-sided expression condition), suffix delta:
    # B carries NULL pads on both sides; the suffix inner join must
    # drop NULL keys exactly as recomputation does
    "theta_full_expr_suffix_delta": (
        "SELECT a_id, b_id, c_id FROM ta FULL JOIN tb ON a_k * b_k > 6 "
        "JOIN tc ON b_j = c_k",
        ("tc",),
    ),
    # SEMI theta core emits left columns only; suffix joins on them
    "theta_semi_suffix_delta": (
        "SELECT a_id, c_id FROM ta SEMI JOIN tb ON a_k < b_k "
        "JOIN tc ON a_j = c_k",
        ("tc",),
    ),
    # theta ANTI mid-chain (after an equi join) with a FULL suffix and
    # a suffix delta
    "theta_anti_mid_full_suffix_delta": (
        "SELECT a_id, b_id, d_id FROM ta JOIN tb ON a_k = b_k "
        "ANTI JOIN tc ON b_j < c_k FULL JOIN td ON a_j = d_k",
        ("td",),
    ),
    # everything at once: deltas on prefix, theta side AND suffix,
    # with the suffix FULL — core delta and suffix flips compose
    "theta_left_full_suffix_all_deltas": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "FULL JOIN tc ON b_j = c_k",
        ("ta", "tb", "tc"),
    ),
    # WHERE mixing a prefix-local conjunct (pushed below the core
    # checkpoint as σ_pre), a theta-C conjunct and a suffix conjunct
    "theta_left_suffix_delta_where_mix": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "JOIN tc ON b_j = c_k WHERE a_j > 1 AND c_j > 1",
        ("ta", "tc"),
    ),
    # null-tolerant WHERE over a FULL suffix: suffix-preserved rows
    # carry NULL core columns and must PASS the IS NULL arm — pushing
    # the conjunct below the FULL join would drop core rows and turn
    # their suffix partners into spurious preserved rows (regression
    # test: no σ_pre push when the suffix has a FULL join)
    "theta_left_full_suffix_null_tolerant_where": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "FULL JOIN tc ON b_j = c_k WHERE a_j > 2 OR a_j IS NULL",
        ("ta", "tc"),
    ),
    # TWO theta joins in one chain, deltas on both theta right sides:
    # the virtual-core recursion finds the second theta in the suffix
    # of the first and falls through to the two-table theta rule with
    # (B, ΔB) as the left relation
    "double_theta_deltas_both_sides": (
        "SELECT a_id, b_id, d_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "LEFT JOIN td ON b_j < d_k",
        ("tb", "td"),
    ),
    # two thetas with an equi join between them and deltas at every
    # position incl. after the second theta — full recursion depth
    # (the trailing ANTI emits no td columns)
    "double_theta_all_deltas": (
        "SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "JOIN tc ON b_j = c_k ANTI JOIN td ON c_j < d_k",
        ("ta", "tb", "tc", "td"),
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_theta_chain_general_matches_recompute(spark, shape):
    sql, deltas = SHAPES[shape]
    _check(spark, sql, deltas)


def test_no_sigma_push_below_full_suffix(spark):
    """Surgical σ_pre regression: ta's only row fails the WHERE's first
    arm, and the inserted tc row's only potential partner is that
    failing core row.  Recompute keeps the tc row MATCHED (then drops
    the pair on the WHERE) — it must NOT surface as a spurious
    suffix-preserved row, which is exactly what a σ_pre push below the
    FULL suffix would produce (B loses the core row, the tc insert
    finds no match, and the NULL-padded row passes ``a_j IS NULL``)."""
    eng = IVMEngine(spark)
    eng.register_table(
        "ta", spark.createDataFrame([(1, 1, 1)], "a_id long, a_k long, a_j long")
    )
    eng.register_table(
        "tb", spark.createDataFrame([(1, 5, 7)], "b_id long, b_k long, b_j long")
    )
    eng.register_table(
        "tc", spark.createDataFrame([(1, 7, 0)], "c_id long, c_k long, c_j long")
    )
    eng.create_immv(
        "v",
        sql="SELECT a_id, b_id, c_id FROM ta LEFT JOIN tb ON a_k < b_k "
        "FULL JOIN tc ON b_j = c_k WHERE a_j > 2 OR a_j IS NULL",
    )
    eng.register_delta(
        "tc",
        spark.createDataFrame(
            [(2, 7, 0, True)], f"c_id long, c_k long, c_j long, {MULT_COL} boolean"
        ),
    )
    eng.maintain("v")
    got = rows(eng.read_view("v"))
    assert got == [], got  # both tc rows are matched by the failing core row


def test_core_internal_duplicate_names_clean_error(spark):
    """Duplicate column names WITHIN the theta core must raise the
    documented IVMError at plan time, not a raw AnalysisException from
    B.select (the core-vs-suffix clash check alone misses this)."""
    from ivm_extension_spark.engine import IVMError

    eng = IVMEngine(spark)
    eng.register_table(
        "ta", spark.createDataFrame([(1, 2)], "a_id long, k long")
    )
    eng.register_table(
        "tx", spark.createDataFrame([(1, 3)], "x_id long, k long")
    )
    eng.register_table(
        "tc", spark.createDataFrame([(1, 3)], "c_id long, c_k long")
    )
    eng.create_immv(
        "v",
        sql="SELECT a_id, x_id, c_id FROM ta LEFT JOIN tx ON a_id < x_id "
        "JOIN tc ON x_id = c_k",
    )
    eng.register_delta(
        "tc",
        spark.createDataFrame(
            [(2, 9, True)], f"c_id long, c_k long, {MULT_COL} boolean"
        ),
    )
    with pytest.raises(IVMError, match="unique column names"):
        eng.maintain("v")


def test_streaming_maintains_theta_full_suffix_chain(spark, tmp_path):
    """Micro-batch streaming maintenance composes with the virtual-core
    theta rule: a CDC file stream on the SUFFIX table advances a
    theta-LEFT + FULL-suffix view to exactly the batch recomputation
    (the maintainer routes through the same engine rewrite, so the new
    rule streams for free)."""
    from ivm_extension_spark.streaming.continuous import StreamingViewMaintainer

    sql, _ = SHAPES["theta_left_full_suffix_core_delta"]
    tables = _tables(spark, seed=51)
    eng = IVMEngine(spark)
    for t, df in tables.items():
        eng.register_table(t, df)
    eng.create_immv("v", sql=sql)

    d1 = _delta(spark, tables["tc"], "c", 61)
    d2 = _delta(spark, tables["tc"], "c", 67, frac_del=0.0, n_ins=3)
    delta_dir = str(tmp_path / "deltas")
    d1.write.parquet(f"{delta_dir}/c1")
    d2.write.parquet(f"{delta_dir}/c2")
    stream = (
        spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{delta_dir}/*")
    )
    m = StreamingViewMaintainer(eng, "v", "tc")
    q = m.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert m.batches_applied >= 1

    eng2 = IVMEngine(spark)
    for t in tables:
        eng2.register_table(t, eng.table(t))  # bases advanced by the stream
    assert rows(eng.read_view("v")) == rows(eng2.create_immv("v", sql=sql))


def test_multibatch_theta_full_suffix_chain(spark):
    """Three maintenance batches through theta-LEFT + FULL-suffix stay
    exact (state round-trips through the ⊎ merge between batches)."""
    sql, _ = SHAPES["theta_left_full_suffix_core_delta"]
    tables = _tables(spark, seed=23)
    eng = IVMEngine(spark)
    for t, df in tables.items():
        eng.register_table(t, df)
    eng.create_immv("v", sql=sql)
    for t, seed in [("tb", 31), ("tc", 37), ("ta", 41)]:
        d = _delta(spark, eng.table(t), t[1], seed)
        eng.register_delta(t, d)
        eng.maintain("v")
        eng2 = IVMEngine(spark)
        for name in tables:
            eng2.register_table(name, eng.table(name))
        assert rows(eng.read_view("v")) == rows(eng2.create_immv("v", sql=sql))
