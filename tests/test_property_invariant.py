"""Property-based check of the IVM invariant (SURVEY.md §5):

    merge(q(T), ivm(Δ)) == q(T ∖ Δ⁻ ⊎ Δ⁺)

for random base tables, random consistent deltas (deletes drawn from the
base — the Δ⁻ ⊆ T precondition), and every supported view shape.  The
reference never automated this; its poster states it as the correctness
criterion.
"""


from hypothesis import HealthCheck, assume, given, settings, strategies as st

from ivm_extension_spark import IVMEngine

from tests.conftest import force_merge, rows

KEYS = ["k0", "k1", "k2"]

row_st = st.tuples(
    st.integers(min_value=-50, max_value=50),
    st.sampled_from(KEYS),
    st.text(alphabet="abc", min_size=0, max_size=2),
)

base_st = st.lists(row_st, min_size=0, max_size=12)

VIEW_SHAPES = [
    "SELECT b, sum(a) AS s, count(c) AS n FROM t GROUP BY b",
    "SELECT b, sum(a + 2) AS s2, avg(a) AS m FROM t GROUP BY b",
    "SELECT sum(a) AS s, count(c) AS n FROM t",
    "SELECT a, b FROM t",
    "SELECT b, sum(a) AS s FROM t WHERE a > 0 GROUP BY b",
    # aux-state aggregates: exact under deletes via per-(group,value) counts
    "SELECT b, min(a) AS lo, max(a) AS hi FROM t GROUP BY b",
    "SELECT b, count(DISTINCT a) AS nd FROM t GROUP BY b",
    "SELECT min(a) AS lo, count(DISTINCT c) AS nd FROM t",
    # HAVING: applied on read, state pre-HAVING
    "SELECT b, sum(a) AS s FROM t GROUP BY b HAVING s > 0",
    # variance family: hidden SUM/SUM-of-squares/COUNT companions are
    # exact integers here, so merged and recomputed doubles are
    # bit-identical (same recompose expression tree)
    "SELECT b, var_samp(a) AS v, stddev_pop(a) AS sd FROM t GROUP BY b",
    # top-k view: full pre-limit state, deterministic total order
    "SELECT b, sum(a) AS s FROM t GROUP BY b ORDER BY s DESC, b ASC LIMIT 2",
    # DISTINCT single-table
    "SELECT DISTINCT b, c FROM t",
    # order statistics: exact under deletes from the shared aux value
    # multiset; median/percentile interpolation over integers is exact
    # halves/quarters, so merged vs recomputed doubles are bit-identical
    "SELECT b, median(a) AS med, mode(c) AS mc FROM t GROUP BY b",
    "SELECT b, percentile(a, 0.25) AS q1, count(a) AS n FROM t GROUP BY b",
]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    base=base_st,
    inserts=st.lists(row_st, min_size=0, max_size=6),
    delete_mask=st.lists(st.booleans(), min_size=12, max_size=12),
    shape=st.sampled_from(VIEW_SHAPES),
)
def test_ivm_invariant(spark, base, inserts, delete_mask, shape):
    deletes = [r for r, m in zip(base, delete_mask) if m]
    delta = [(*r, True) for r in inserts] + [(*r, False) for r in deletes]

    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame(base, schema="a int, b string, c string")
    )
    eng.register_delta(
        "t",
        spark.createDataFrame(
            delta, schema="a int, b string, c string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv("v", sql=shape)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))

    eng.apply_delta("t")
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (base, delta, shape)


# -- join views: deltas on both sides, shared join-column name -------------

# join keys: small domain, NULL included (a NULL key never matches)
key_st = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
fact_row_st = st.tuples(st.integers(min_value=-20, max_value=20), key_st)
dim_row_st = st.tuples(key_st, st.sampled_from(["a", "b", "c"]))

JOIN_SHAPES = [
    "SELECT name, sum(a) AS s, count(a) AS n FROM f JOIN d ON f.k = d.k "
    "GROUP BY name",
    "SELECT name, min(a) AS lo, max(a) AS hi FROM f JOIN d ON f.k = d.k "
    "GROUP BY name",
    "SELECT a, name FROM f JOIN d ON f.k = d.k",
    # LEFT JOIN: the anti part (NULL-padded f rows) must track R's per-key
    # match count crossing zero under the same random deltas
    "SELECT a, name FROM f LEFT JOIN d ON f.k = d.k",
    "SELECT name, count(a) AS n, count(*) AS rows_n "
    "FROM f LEFT JOIN d ON f.k = d.k GROUP BY name",
    "SELECT a, name FROM f FULL OUTER JOIN d ON f.k = d.k",
    # SEMI/ANTI: membership must track the per-key match count crossing
    # zero under random deltas on both sides (duplicate keys included)
    "SELECT a FROM f WHERE EXISTS (SELECT 1 FROM d WHERE f.k = d.k)",
    "SELECT a FROM f WHERE NOT EXISTS (SELECT 1 FROM d WHERE f.k = d.k)",
    "SELECT a, count(*) AS n FROM f WHERE EXISTS "
    "(SELECT 1 FROM d WHERE f.k = d.k) GROUP BY a",
    # DISTINCT: tuple visibility must track its multiset count crossing
    # zero as join branches add/remove duplicates
    "SELECT DISTINCT name FROM f JOIN d ON f.k = d.k",
    "SELECT DISTINCT a, name FROM f LEFT JOIN d ON f.k = d.k",
    # MIN/MAX aux state over an outer join: the padded side's NULLs flow
    # through the value multiset (all-NULL groups re-derive to NULL)
    "SELECT a, min(name) AS lo, max(name) AS hi FROM f LEFT JOIN d "
    "ON f.k = d.k GROUP BY a",
    # expression key: the equi pair is an expression, not a bare column
    "SELECT a, name FROM f LEFT JOIN d ON f.k + 1 = d.k",
    # EXISTS with an R-local conjunct pushed into d and Δd before counting
    "SELECT a FROM f WHERE EXISTS (SELECT 1 FROM d WHERE f.k = d.k "
    "AND d.name <> 'c')",
    # FULL over a shared key name: both sides' k stay addressable
    "SELECT f.k AS fk, d.k AS dk, a, name FROM f FULL JOIN d ON f.k = d.k",
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    fact=st.lists(fact_row_st, min_size=0, max_size=8),
    dim=st.lists(dim_row_st, min_size=0, max_size=4),
    fact_ins=st.lists(fact_row_st, min_size=0, max_size=4),
    dim_ins=st.lists(dim_row_st, min_size=0, max_size=2),
    fact_del_mask=st.lists(st.booleans(), min_size=8, max_size=8),
    dim_del_mask=st.lists(st.booleans(), min_size=4, max_size=4),
    shape=st.sampled_from(JOIN_SHAPES),
)
def test_ivm_invariant_join_views(
    spark, fact, dim, fact_ins, dim_ins, fact_del_mask, dim_del_mask, shape
):
    f_del = [r for r, m in zip(fact, fact_del_mask) if m]
    d_del = [r for r, m in zip(dim, dim_del_mask) if m]
    f_delta = [(*r, True) for r in fact_ins] + [(*r, False) for r in f_del]
    d_delta = [(*r, True) for r in dim_ins] + [(*r, False) for r in d_del]

    eng = IVMEngine(spark)
    eng.register_table("f", spark.createDataFrame(fact, schema="a int, k int"))
    eng.register_table("d", spark.createDataFrame(dim, schema="k int, name string"))
    eng.register_delta(
        "f",
        spark.createDataFrame(
            f_delta, schema="a int, k int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.register_delta(
        "d",
        spark.createDataFrame(
            d_delta, schema="k int, name string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv("v", sql=shape)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))

    for t in ("f", "d"):
        eng.apply_delta(t)
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (fact, dim, f_delta, d_delta, shape)


# -- chains (3 tables): deltas on any non-empty subset of the tables -------

g_row_st = st.tuples(
    st.integers(min_value=10, max_value=12),
    st.sampled_from(["p", "q"]),
)
dim3_row_st = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.sampled_from(["a", "b"]),
    st.integers(min_value=10, max_value=12),
)

# the same rows under key columns renamed apart (fk, dk, dgk, gk): theta
# maintenance needs unique column names across the joined tables
RENAMED_SCHEMAS = (
    "a int, fk int",
    "dk int, name string, dgk int",
    "gk int, label string",
)
RENAMED_SHAPES = (
    # FULL leading the chain, a LEFT join after it
    "SELECT a, name, label FROM f FULL JOIN d ON fk = dk "
    "LEFT JOIN g ON dgk = gk",
    # theta (non-equi) LEFT position followed by an equi LEFT join
    "SELECT a, name, label FROM f LEFT JOIN d ON fk < dk "
    "LEFT JOIN g ON dgk = gk",
)
CHAIN_SCHEMAS = ("a int, k int", "k int, name string, gk int", "gk int, label string")

CHAIN_SHAPES = [
    # deltas on f (leftmost), d (middle), g (last) or several at once
    "SELECT a, name, label FROM f LEFT JOIN d ON f.k = d.k "
    "LEFT JOIN g ON d.gk = g.gk",
    "SELECT a, name, label FROM f JOIN d ON f.k = d.k "
    "LEFT JOIN g ON d.gk = g.gk",
    "SELECT a, name, label FROM f LEFT JOIN d ON f.k = d.k "
    "JOIN g ON d.gk = g.gk",
    "SELECT label, count(a) AS n, sum(a) AS s FROM f LEFT JOIN d ON f.k = d.k "
    "JOIN g ON d.gk = g.gk GROUP BY label",
    "SELECT name, min(a) AS lo, max(label) AS hi FROM f JOIN d ON f.k = d.k "
    "LEFT JOIN g ON d.gk = g.gk GROUP BY name",
    # semi/anti tail: delta on g exercises the membership-flip chain rule,
    # delta on d exercises the mid-chain rule with a semi/anti suffix
    "SELECT a, name FROM f JOIN d ON f.k = d.k "
    "WHERE EXISTS (SELECT 1 FROM g WHERE g.gk = d.gk)",
    "SELECT a, name FROM f LEFT JOIN d ON f.k = d.k "
    "WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.gk = d.gk)",
    "SELECT name, count(*) AS n FROM f JOIN d ON f.k = d.k "
    "WHERE EXISTS (SELECT 1 FROM g WHERE g.gk = d.gk AND g.label = 'p') "
    "GROUP BY name",
    # FULL at the chain tail: a delta on g counts both preserved sides;
    # a delta on f or d meets FULL in the suffix, whose g-preserved rows
    # flip where their key's match count in f⋈d crosses zero
    "SELECT a, name, label FROM f JOIN d ON f.k = d.k "
    "FULL JOIN g ON d.gk = g.gk",
    # FULL leading the chain over tables that share their key names
    "SELECT a, name, label FROM f FULL JOIN d ON f.k = d.k "
    "LEFT JOIN g ON d.gk = g.gk",
    *RENAMED_SHAPES,
]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    fact=st.lists(fact_row_st, min_size=0, max_size=6),
    dim=st.lists(dim3_row_st, min_size=0, max_size=4),
    dim2=st.lists(g_row_st, min_size=0, max_size=3),
    ins_f=st.lists(fact_row_st, min_size=0, max_size=2),
    ins=st.lists(dim3_row_st, min_size=0, max_size=3),
    ins2=st.lists(g_row_st, min_size=0, max_size=2),
    del_mask=st.lists(st.booleans(), min_size=4, max_size=4),
    which=st.sampled_from(["f", "d", "g", "fd", "fg", "dg", "fdg"]),
    shape=st.sampled_from(CHAIN_SHAPES),
)
def test_ivm_invariant_chain_dim_delta(
    spark, fact, dim, dim2, ins_f, ins, ins2, del_mask, which, shape
):
    schemas = RENAMED_SCHEMAS if shape in RENAMED_SHAPES else CHAIN_SCHEMAS
    eng = IVMEngine(spark)
    deltas = {}
    for t, base, new, schema in zip(
        "fdg", (fact, dim, dim2), (ins_f, ins, ins2), schemas
    ):
        eng.register_table(t, spark.createDataFrame(base, schema=schema))
        if t in which:
            deltas[t] = [(*r, True) for r in new] + [
                (*r, False) for r, m in zip(base, del_mask) if m
            ]
            eng.register_delta(
                t,
                spark.createDataFrame(
                    deltas[t], f"{schema}, _duckdb_ivm_multiplicity boolean"
                ),
            )

    eng.create_immv("v", sql=shape)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))

    for t in which:
        eng.apply_delta(t)
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (fact, dim, dim2, deltas, which, shape)


# -- patch merge ≡ shuffle merge under random deltas -----------------------

PATCH_SHAPES = [
    "SELECT b, sum(a) AS s, count(c) AS n FROM t GROUP BY b",
    "SELECT b, avg(a) AS m, var_samp(a) AS v FROM t GROUP BY b",
    "SELECT b, sum(a) AS s FROM t GROUP BY b HAVING s > 0",
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    base=base_st,
    inserts=st.lists(row_st, min_size=0, max_size=6),
    delete_mask=st.lists(st.booleans(), min_size=12, max_size=12),
    shape=st.sampled_from(PATCH_SHAPES),
)
def test_patch_merge_equals_shuffle_merge(
    spark, monkeypatch, base, inserts, delete_mask, shape
):
    deletes = [r for r, m in zip(base, delete_mask) if m]
    delta = [(*r, True) for r in inserts] + [(*r, False) for r in deletes]
    results = {}
    for strat in ("patch", "shuffle"):
        force_merge(monkeypatch, strat)
        eng = IVMEngine(spark)
        eng.register_table(
            "t", spark.createDataFrame(base, schema="a int, b string, c string")
        )
        eng.register_delta(
            "t",
            spark.createDataFrame(
                delta,
                schema="a int, b string, c string, _duckdb_ivm_multiplicity boolean",
            ),
        )
        eng.create_immv("v", sql=shape)
        eng.ivm_upsert("v")
        results[strat] = rows(eng.merge_view("v"))
    assert results["patch"] == results["shuffle"], (base, delta, shape)


# --------------------------------------------------------------------------
# banded (theta) LEFT-join delta: the same invariant for random points,
# random overlapping intervals, and consistent deltas on BOTH sides
# --------------------------------------------------------------------------

pt_row_st = st.tuples(
    st.integers(min_value=0, max_value=999_999),  # pid (unique-ified below)
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False, width=32),
)
iv_row_st = st.tuples(
    st.integers(min_value=0, max_value=999_999),  # iid
    st.floats(min_value=0.0, max_value=90.0, allow_nan=False, width=32),
    st.floats(min_value=0.0, max_value=40.0, allow_nan=False, width=32),  # width
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(pt_row_st, min_size=0, max_size=8, unique_by=lambda r: r[0]),
    ivs=st.lists(iv_row_st, min_size=0, max_size=5, unique_by=lambda r: r[0]),
    pt_ins=st.lists(pt_row_st, min_size=0, max_size=4, unique_by=lambda r: r[0]),
    iv_ins=st.lists(iv_row_st, min_size=0, max_size=3, unique_by=lambda r: r[0]),
    pt_del_mask=st.lists(st.booleans(), min_size=8, max_size=8),
    iv_del_mask=st.lists(st.booleans(), min_size=5, max_size=5),
    how=st.sampled_from(["left", "full"]),
)
def test_range_left_join_delta_invariant_property(
    spark, pts, ivs, pt_ins, iv_ins, pt_del_mask, iv_del_mask, how
):
    from pyspark.sql import functions as F

    from ivm_extension_spark.operators.rangejoin import (
        range_full_join_delta,
        range_join,
        range_left_join_delta,
    )

    delta_fn = range_left_join_delta if how == "left" else range_full_join_delta
    from ivm_extension_spark.operators.rewrite import MULT_COL

    # disjoint id spaces for inserts vs base (deltas stay consistent)
    pt_ins = [(pid + 1_000_000, v) for pid, v in pt_ins]
    iv_ins = [(iid + 1_000_000, lo, wd) for iid, lo, wd in iv_ins]
    pt_dels = [r for r, m in zip(pts, pt_del_mask) if m]
    iv_dels = [r for r, m in zip(ivs, iv_del_mask) if m]
    assume(pt_ins or iv_ins or pt_dels or iv_dels)

    def pdf(rows_):
        return spark.createDataFrame(
            [(i, float(v)) for i, v in rows_] or [(None, None)],
            "pid long, pt double",
        ).filter("pid IS NOT NULL")

    def idf(rows_):
        return spark.createDataFrame(
            [(i, float(lo), float(lo + wd)) for i, lo, wd in rows_]
            or [(None, None, None)],
            "iid long, lo double, hi double",
        ).filter("iid IS NOT NULL")

    def pdelta(ins, dels):
        data = [(i, float(v), True) for i, v in ins] + [
            (i, float(v), False) for i, v in dels
        ]
        return spark.createDataFrame(
            data or [(None, None, None)], f"pid long, pt double, {MULT_COL} boolean"
        ).filter("pid IS NOT NULL")

    def idelta(ins, dels):
        data = [(i, float(lo), float(lo + wd), True) for i, lo, wd in ins] + [
            (i, float(lo), float(lo + wd), False) for i, lo, wd in dels
        ]
        return spark.createDataFrame(
            data or [(None, None, None, None)],
            f"iid long, lo double, hi double, {MULT_COL} boolean",
        ).filter("iid IS NOT NULL")

    P, I = pdf(pts), idf(ivs)
    dP = pdelta(pt_ins, pt_dels) if (pt_ins or pt_dels) else None
    dI = idelta(iv_ins, iv_dels) if (iv_ins or iv_dels) else None

    dv = delta_fn(P, I, dP, dI, "pt", "lo", "hi", bin_width=13.0)
    v_old = range_join(P, I, "pt", "lo", "hi", 13.0, how=how)
    cols = v_old.columns
    merged = (
        v_old.withColumn("__s", F.lit(1))
        .unionByName(
            dv.withColumn(
                "__s", F.when(F.col(MULT_COL), F.lit(1)).otherwise(F.lit(-1))
            ).drop(MULT_COL)
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__n"))
        .filter(F.col("__n") > 0)
        .select(*cols, F.explode(F.expr("sequence(1, __n)")).alias("__i"))
        .drop("__i")
    )
    P2 = pdf([r for r in pts if r not in pt_dels] + pt_ins)
    I2 = idf([r for r in ivs if r not in iv_dels] + iv_ins)
    recomputed = range_join(P2, I2, "pt", "lo", "hi", 13.0, how=how)
    assert rows(merged) == rows(recomputed)


# --------------------------------------------------------------------------
# one-sided inequality (dyadic) join delta: the same invariant for random
# values — NEGATIVE domains (origin shift), bin-boundary ties, duplicates
# --------------------------------------------------------------------------

# -0.0 is normalized to 0.0: Spark's aggregation (the ⊎ merge's groupBy)
# canonicalizes negative zero in grouping keys, and the rows() helper
# sorts by str where "-0.0" != "0.0" — a representational artifact, not
# view algebra
ineq_val_st = st.floats(
    min_value=-50.0, max_value=50.0, allow_nan=False, width=32
).map(lambda v: 0.0 if v == 0 else v)
ineq_row_st = st.tuples(st.integers(min_value=0, max_value=999_999), ineq_val_st)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    ls=st.lists(ineq_row_st, min_size=0, max_size=8, unique_by=lambda r: r[0]),
    rs=st.lists(ineq_row_st, min_size=0, max_size=5, unique_by=lambda r: r[0]),
    l_ins=st.lists(ineq_row_st, min_size=0, max_size=4, unique_by=lambda r: r[0]),
    r_ins=st.lists(ineq_row_st, min_size=0, max_size=3, unique_by=lambda r: r[0]),
    l_del_mask=st.lists(st.booleans(), min_size=8, max_size=8),
    r_del_mask=st.lists(st.booleans(), min_size=5, max_size=5),
    op=st.sampled_from(["<", "<=", ">", ">="]),
    how=st.sampled_from(["inner", "left", "full", "semi", "anti"]),
)
def test_ineq_join_delta_invariant_property(
    spark, ls, rs, l_ins, r_ins, l_del_mask, r_del_mask, op, how
):
    from pyspark.sql import functions as F

    from ivm_extension_spark.operators.ineqjoin import (
        ineq_anti_join,
        ineq_anti_join_delta,
        ineq_full_join,
        ineq_full_join_delta,
        ineq_join,
        ineq_join_delta,
        ineq_left_join,
        ineq_left_join_delta,
        ineq_semi_join,
        ineq_semi_join_delta,
    )
    from ivm_extension_spark.operators.rewrite import MULT_COL

    l_ins = [(i + 1_000_000, v) for i, v in l_ins]
    r_ins = [(i + 1_000_000, v) for i, v in r_ins]
    l_dels = [r for r, m in zip(ls, l_del_mask) if m]
    r_dels = [r for r, m in zip(rs, r_del_mask) if m]
    assume(l_ins or r_ins or l_dels or r_dels)

    kw = dict(bin_width=7.0, max_bins=32, origin=-64.0)

    def ldf(rows_):
        return spark.createDataFrame(
            [(i, float(v)) for i, v in rows_] or [(None, None)],
            "lid long, x double",
        ).filter("lid IS NOT NULL")

    def rdf(rows_):
        return spark.createDataFrame(
            [(i, float(v)) for i, v in rows_] or [(None, None)],
            "rid long, y double",
        ).filter("rid IS NOT NULL")

    def delta(ins, dels, schema):
        data = [(i, float(v), True) for i, v in ins] + [
            (i, float(v), False) for i, v in dels
        ]
        return spark.createDataFrame(
            data or [(None, None, None)], schema
        ).filter("lid IS NOT NULL" if "lid" in schema else "rid IS NOT NULL")

    L, R = ldf(ls), rdf(rs)
    dL = (
        delta(l_ins, l_dels, f"lid long, x double, {MULT_COL} boolean")
        if (l_ins or l_dels)
        else None
    )
    dR = (
        delta(r_ins, r_dels, f"rid long, y double, {MULT_COL} boolean")
        if (r_ins or r_dels)
        else None
    )
    join_fn = {
        "inner": ineq_join, "left": ineq_left_join, "full": ineq_full_join,
        "semi": ineq_semi_join, "anti": ineq_anti_join,
    }[how]
    delta_fn = {
        "inner": ineq_join_delta,
        "left": ineq_left_join_delta,
        "full": ineq_full_join_delta,
        "semi": ineq_semi_join_delta,
        "anti": ineq_anti_join_delta,
    }[how]
    dv = delta_fn(L, R, dL, dR, "x", "y", op, **kw)
    v_old = join_fn(L, R, "x", "y", op, **kw)
    cols = v_old.columns
    merged = (
        v_old.withColumn("__s", F.lit(1))
        .unionByName(
            dv.withColumn(
                "__s", F.when(F.col(MULT_COL), F.lit(1)).otherwise(F.lit(-1))
            ).drop(MULT_COL)
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__n"))
        .filter(F.col("__n") > 0)
        .select(*cols, F.explode(F.expr("sequence(1, __n)")).alias("__i"))
        .drop("__i")
    )
    L2 = ldf([r for r in ls if r not in l_dels] + l_ins)
    R2 = rdf([r for r in rs if r not in r_dels] + r_ins)
    if how == "inner":
        recomputed = L2.crossJoin(R2).filter(F.expr(f"x {op} y")).select(*cols)
    elif how in ("semi", "anti"):
        recomputed = L2.join(
            R2, on=F.expr(f"x {op} y"),
            how="left_semi" if how == "semi" else "left_anti",
        ).select(*cols)
    else:
        recomputed = L2.join(R2, on=F.expr(f"x {op} y"), how=how).select(*cols)
    assert rows(merged) == rows(recomputed)


# -- theta (non-equi) join views: the round-4 general theta algebra --------

f2_row_st = st.tuples(
    st.integers(min_value=-20, max_value=20),  # a: payload
    st.integers(min_value=-5, max_value=5),  # fval: theta operand
)
d2_row_st = st.tuples(
    st.integers(min_value=-5, max_value=5),  # cut
    st.sampled_from(["a", "b"]),  # name
)

THETA_SHAPES = [
    # two-table LEFT/FULL: NULL-pad rows track per-key match counts
    "SELECT a, name FROM f2 LEFT JOIN d2 ON fval < cut",
    "SELECT a, name FROM f2 FULL OUTER JOIN d2 ON fval + a < cut",
    # SEMI/ANTI via EXISTS lowering
    "SELECT a FROM f2 WHERE EXISTS (SELECT 1 FROM d2 WHERE fval < cut)",
    "SELECT a FROM f2 WHERE NOT EXISTS (SELECT 1 FROM d2 WHERE fval <= cut)",
    # aggregate on top of the theta join delta
    "SELECT name, count(a) AS n FROM f2 LEFT JOIN d2 ON fval < cut "
    "GROUP BY name",
    # mid-chain theta: deltaless equi suffix folds linearly
    "SELECT a, name, label FROM f2 LEFT JOIN d2 ON fval < cut "
    "JOIN g2 ON name = gname",
    # general chain rule (virtual theta core): suffix table carries a
    # delta, so the linear fold cannot apply
    "SELECT a, label, name FROM f2 LEFT JOIN g2 ON fval < gcut "
    "JOIN d2 ON gname = name",
    # FULL suffix after the theta position, deltas on core AND suffix
    "SELECT a, label, name FROM f2 LEFT JOIN g2 ON fval < gcut "
    "FULL JOIN d2 ON gname = name",
    # FULL (deltaless) suffix after a theta core with both deltas
    "SELECT a, name, label FROM f2 LEFT JOIN d2 ON fval < cut "
    "FULL JOIN g2 ON name = gname",
]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    fact=st.lists(f2_row_st, min_size=0, max_size=6),
    dim=st.lists(d2_row_st, min_size=0, max_size=4),
    fact_ins=st.lists(f2_row_st, min_size=0, max_size=3),
    dim_ins=st.lists(d2_row_st, min_size=0, max_size=2),
    fact_del_mask=st.lists(st.booleans(), min_size=6, max_size=6),
    dim_del_mask=st.lists(st.booleans(), min_size=4, max_size=4),
    shape=st.sampled_from(THETA_SHAPES),
)
def test_ivm_invariant_theta_views(
    spark, fact, dim, fact_ins, dim_ins, fact_del_mask, dim_del_mask, shape
):
    f_del = [r for r, m in zip(fact, fact_del_mask) if m]
    d_del = [r for r, m in zip(dim, dim_del_mask) if m]
    f_delta = [(*r, True) for r in fact_ins] + [(*r, False) for r in f_del]
    d_delta = [(*r, True) for r in dim_ins] + [(*r, False) for r in d_del]

    eng = IVMEngine(spark)
    eng.register_table("f2", spark.createDataFrame(fact, schema="a int, fval int"))
    eng.register_table("d2", spark.createDataFrame(dim, schema="cut int, name string"))
    eng.register_table(
        "g2",
        spark.createDataFrame(
            [("a", "p", 1), ("b", "q", -2)],
            schema="gname string, label string, gcut int",
        ),
    )
    eng.register_delta(
        "f2",
        spark.createDataFrame(
            f_delta, schema="a int, fval int, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.register_delta(
        "d2",
        spark.createDataFrame(
            d_delta, schema="cut int, name string, _duckdb_ivm_multiplicity boolean"
        ),
    )
    eng.create_immv("v", sql=shape)
    eng.ivm_upsert("v")
    merged = rows(eng.merge_view("v"))

    for t in ("f2", "d2"):
        eng.apply_delta(t)
    truth = rows(eng.full_refresh("v"))
    assert merged == truth, (fact, dim, f_delta, d_delta, shape)
