"""colops — the chunky single-round-trip constructions must be
value-equivalent to the chatty Column-API forms they replaced."""

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark.operators import colops
from ivm_extension_spark.operators.colops import q


def test_q_quotes_and_escapes():
    assert q("a") == "`a`"
    assert q("weird name") == "`weird name`"
    assert q("tick`ed") == "`tick``ed`"


def test_ns_eq_matches_eqnullsafe(spark):
    left = spark.createDataFrame(
        [(1, "x"), (None, "y"), (2, None)], "k int, s string"
    )
    keys = spark.createDataFrame([(1,), (None,), (3,)], "k int")
    kd = colops.renamed(keys, ["k"], "__mk_")
    got = sorted(
        r.s
        for r in left.join(kd, on=colops.ns_eq(["k"], "__mk_"), how="leftsemi")
        .select("s")
        .collect()
    )
    # NULL-safe: the NULL key matches the NULL probe row
    assert got == ["x", "y"]


def test_renamed_keep_rest_preserves_order(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    out = colops.renamed(df, ["b"], "__mk_", keep_rest=True)
    assert out.columns == ["__mk_b", "a", "c"]


def test_signed_and_mult_roundtrip(spark):
    mult = "_duckdb_ivm_multiplicity"
    d = spark.createDataFrame([(1, True), (2, False)], f"v int, {mult} boolean")
    s = colops.signed(d, mult, "__w")
    assert s.columns == ["v", "__w"]
    assert {(r.v, r["__w"]) for r in s.collect()} == {(1, 1), (2, -1)}
    back = colops.mult_from_sign(s, "__w", mult)
    assert back.columns == ["v", mult]
    assert {(r.v, r[mult]) for r in back.collect()} == {(1, True), (2, False)}


def test_signed_duplicate_name_fallback(spark):
    # a joined delta legitimately carries both sides' same-named key —
    # name-based enumeration would be ambiguous, the fallback must kick in
    mult = "_duckdb_ivm_multiplicity"
    a = spark.createDataFrame([(1, True)], f"k int, {mult} boolean")
    b = spark.createDataFrame([(1, 10)], "k int, v int")
    joined = a.join(b, a["k"] == b["k"])  # two columns literally named k
    assert joined.columns.count("k") == 2
    s = colops.signed(joined, mult, "__w")
    row = s.collect()[0]
    assert row["__w"] == 1 and mult not in s.columns


def test_null_pad_types(spark):
    df = spark.createDataFrame([(1,)], "a int")
    other = spark.createDataFrame(
        [(1, 2.5, "x")], "a int, price double, tag string"
    )
    out = colops.null_pad(df, other, key_cols=("a",))
    assert out.columns == ["a", "price", "tag"]
    assert dict(out.dtypes)["price"] == "double"
    r = out.collect()[0]
    assert r.price is None and r.tag is None


def test_flip_case_matches_withcolumn_chain(spark):
    rows = [(0, 3), (2, -2), (1, 1), (4, -1), (0, -1)]
    j = spark.createDataFrame(rows, "__mold int, __dm int")
    # NULL __mold (the left-join miss) must behave like 0
    j = j.unionByName(
        spark.createDataFrame([(None, 5)], "__mold int, __dm int")
    )
    fused = (
        j.selectExpr("__dm", colops.flip_case(1))
        .filter("`__flip` IS NOT NULL")
        .collect()
    )
    chain = (
        j.withColumn("__m0", F.coalesce(F.col("__mold"), F.lit(0)))
        .withColumn("__mnew", F.col("__m0") + F.col("__dm"))
        .withColumn(
            "__flip",
            F.when((F.col("__m0") == 0) & (F.col("__mnew") > 0), F.lit(1)).when(
                (F.col("__m0") > 0) & (F.col("__mnew") <= 0), F.lit(-1)
            ),
        )
        .filter(F.col("__flip").isNotNull())
        .select("__dm", "__flip")
        .collect()
    )
    assert sorted((r["__dm"], r["__flip"]) for r in fused) == sorted(
        (r["__dm"], r["__flip"]) for r in chain
    )
    # inverted enter sign
    inv = j.selectExpr(colops.flip_case(-1)).filter("`__flip` IS NOT NULL")
    assert {r["__flip"] for r in inv.collect()} <= {-1, 1}


def test_null_lit_exprs_ddl(spark):
    df = spark.createDataFrame([(1, "2020-01-01")], "a int, d string").select(
        "a", F.col("d").cast("date").alias("d")
    )
    exprs = colops.null_lit_exprs(df, ["d"])
    out = spark.range(1).selectExpr("id", *exprs)
    assert dict(out.dtypes)["d"] == "date"


def test_keyed_join_inner_payload_and_plain_equality(spark):
    side = spark.createDataFrame([(1, "a"), (None, "n"), (2, "b")], "k int, v string")
    keys = spark.createDataFrame([(1, 10), (None, 20)], "k int, p int")
    ns = colops.keyed_join(side, keys, ["k"], "inner")
    assert ns.columns == ["k", "v", "p"]  # payload after side, key copy gone
    assert sorted(map(tuple, ns.collect()), key=str) == sorted(
        [(1, "a", 10), (None, "n", 20)], key=str
    )
    plain = colops.keyed_join(side, keys, ["k"], "inner", null_safe=False)
    assert [tuple(r) for r in plain.collect()] == [(1, "a", 10)]


def test_keyed_join_across_foreach_batch_clone_session(spark, tmp_path):
    # foreachBatch hands the callback a micro-batch on a CLONED session:
    # the NULL-safe broadcast join must resolve frames of both the
    # engine's session and the clone, whichever comes first
    keyed_join = colops.keyed_join

    table = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "n"), (3, "c")], "k int, v string"
    )
    spark.createDataFrame([(1,), (None,), (7,)], "k int").write.parquet(
        str(tmp_path / "in")
    )
    got = {}

    def on_batch(batch, _batch_id):
        got["table_first"] = sorted(
            r.v for r in keyed_join(table, batch, ["k"], "left_semi").collect()
        )
        got["batch_first"] = sorted(
            ((r.k, r.v) for r in keyed_join(batch, table, ["k"], "inner").collect()),
            key=str,
        )

    query = (
        spark.readStream.schema("k int")
        .parquet(str(tmp_path / "in"))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120)
    assert query.exception() is None
    assert got["table_first"] == ["a", "n"]
    assert got["batch_first"] == sorted([(1, "a"), (None, "n")], key=str)
