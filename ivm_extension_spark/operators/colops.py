"""Chunky DataFrame constructions — the py4j round-trip diet.

Every PySpark DataFrame method and Column operation costs at least one
py4j round trip (+ the JVM-side dispatch and the new Dataset's
analysis), so a rename prologue written as N ``F.col(c).alias(p+c)``
pairs inside a ``select`` pays ~2N+1 round trips where ONE suffices.
The delta rules build hundreds of such nodes per upsert — profiled in
round 9 at ~6,900 round trips for one theta-chain batch, ~1-2 s of
serialized driver-side construction at ANY cluster size (guide §7.3:
jobless driver gaps; §4: the Python boundary — which exists on the
driver, not just in UDFs).  The helpers here express the same logical
plans with O(1) round trips per construction: identifier lists marshal
inside a single ``selectExpr``/``toDF`` call, join conditions as one
parsed SQL expression.

Plan equivalence (verified by shape-normalized ``explain("formatted")``
diffs when these landed): ``AS`` aliases are the same Project node as
``F.col().alias()``, ``<=>`` IS ``eqNullSafe``, ``CASE WHEN b THEN 1
ELSE -1 END`` is the same expression as ``F.when(b, 1).otherwise(-1)``,
and ``CAST(NULL AS <ddl>)`` is the typed null literal.  Only internal
or schema-derived identifiers pass through here, always backtick-quoted
(:func:`q`), so arbitrary user column names survive the SQL-text trip.
"""

from __future__ import annotations

import functools
import re
import threading

from pyspark.sql import Column, DataFrame, functions as F


def q(name: str) -> str:
    """Backtick-quote an identifier for SQL-text construction."""
    return "`" + name.replace("`", "``") + "`"


# a ``{name}`` placeholder, or a quoted span the binder must leave
# alone: a backticked identifier or a single/double-quoted literal (a
# user theta condition may legitimately contain '{r}' in a literal)
_BIND_RX = re.compile(
    r"`(?:[^`]|``)*`|'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|\{(\w+)\}"
)


@functools.cache
def _global_temp_db(sc) -> str:
    """The global temp-view database — a static conf, fixed per context."""
    return sc.getConf().get("spark.sql.globalTempDatabase", "global_temp")


def sql_over(text: str, **dfs: DataFrame) -> DataFrame:
    """Run one SQL text over the given DataFrames — ``{name}``
    placeholders in ``text`` (outside quoted literals and identifiers)
    are bound by registering each frame under a thread-locally REUSED
    global temp-view slot (``spark.sql`` analyzes eagerly, so the
    returned plan holds the resolved relations and the slot can be
    overwritten by the next construction).

    Global, not session-local: under ``foreachBatch`` the micro-batch
    lives on a cloned session, so a local view of it is invisible to
    ``spark.sql`` on the engine's session — a global temp view resolves
    from every session of the context.

    Cost model: ``len(dfs) + 1`` round trips and ONE Catalyst analysis
    pass for the whole construction, however many renames / joins /
    projections / filters the text composes — the round-10 extension of
    this module's diet (a fused rule level that took 4 Dataset calls
    paid 4 analyses of ever-growing trees).  Slots are per (thread,
    position): concurrent ``build_all`` branches never collide, and at
    most ``threads x slots`` views ever exist per context."""
    spark = next(iter(dfs.values())).sparkSession
    db = q(_global_temp_db(spark.sparkContext))
    views: dict[str, str] = {}
    for i, (k, df) in enumerate(dfs.items()):
        v = f"__ivm_sql_{threading.get_ident()}_{i}"
        df.createOrReplaceGlobalTempView(v)
        views[k] = f"{db}.{q(v)}"
    return spark.sql(
        _BIND_RX.sub(lambda m: views.get(m.group(1), m.group(0)), text)
    )


def ns_eq(cols, prefix: str, op: str = "<=>") -> Column:
    """NULL-SAFE equality of each ``c`` against ``prefix + c`` as ONE
    parsed expression — the broadcast-probe join condition every delta
    rule uses (`<=>` is exactly ``Column.eqNullSafe``; ``op="="`` is
    plain equality)."""
    return F.expr(" AND ".join(f"{q(c)} {op} {q(prefix + c)}" for c in cols))


def renamed(df: DataFrame, cols, prefix: str, keep_rest: bool = False) -> DataFrame:
    """``cols`` renamed to ``prefix + c`` (other columns dropped, or kept
    AFTER the renames when ``keep_rest`` — the probe-relation prologue)."""
    exprs = [f"{q(c)} AS {q(prefix + c)}" for c in cols]
    if keep_rest:
        exprs += [q(c) for c in df.columns if c not in cols]
    return df.selectExpr(*exprs)


def keyed_join(
    df: DataFrame, other: DataFrame, keys, how: str, null_safe: bool = True
) -> DataFrame:
    """``df`` joined with broadcast ``other`` on NULL-SAFE equality of
    ``keys`` — a NULL key matches a NULL key, as GROUP BY groups them —
    or plain equality when not ``null_safe``.  ``how`` is ``inner``,
    ``left``, ``left_semi`` or ``left_anti``.  ``other``'s key copies
    are renamed apart for the condition and never reach the result; on
    an inner or left join its other (payload) columns follow ``df``'s."""
    prefix = "__ivm_jk_"
    semi = how in ("left_semi", "left_anti")
    probe = renamed(other, keys, prefix, keep_rest=not semi)
    cond = ns_eq(keys, prefix, "<=>" if null_safe else "=")
    out = df.join(F.broadcast(probe), cond, how)
    return out if semi else out.drop(*[prefix + k for k in keys])


def null_pad(df: DataFrame, other: DataFrame, key_cols) -> DataFrame:
    """Append ``other``'s non-key columns to ``df`` as typed NULLs (the
    preserved-side padding) in one select — the chatty form was a
    ``withColumn`` loop: one full analysis pass per padded column."""
    pads = null_lit_exprs(other, [c for c in other.columns if c not in key_cols])
    return df.selectExpr("*", *pads)


def null_lit_exprs(side, cols) -> list[str]:
    """``CAST(NULL AS type) AS c`` strings for ``cols`` of ``side`` (a
    DataFrame, or a StructType when there is no frame yet) — for callers
    splicing typed null pads into their own selectExpr."""
    schema = side.schema if isinstance(side, DataFrame) else side
    return [
        f"CAST(NULL AS {schema[c].dataType.simpleString()}) AS {q(c)}"
        for c in cols
    ]


def flip_case(enter_sign: int) -> str:
    """The zero-crossing ``__flip`` projection over a Δm/old-count join
    (``__dm``, nullable ``__mold``) as one expression: ``enter_sign``
    when the key's match count crosses 0→+, its negation on +→0, NULL
    otherwise — the fused form of the withColumn chain every counting
    delta rule used (3 analysis passes + ~10 round trips → 1)."""
    return (
        "CASE WHEN coalesce(`__mold`, 0) = 0 AND"
        f" coalesce(`__mold`, 0) + `__dm` > 0 THEN {enter_sign}"
        " WHEN coalesce(`__mold`, 0) > 0 AND"
        f" coalesce(`__mold`, 0) + `__dm` <= 0 THEN {-enter_sign} END AS `__flip`"
    )


def _dup_names(df: DataFrame) -> bool:
    cols = df.columns
    return len(set(cols)) != len(cols)


def mult_from_sign(df: DataFrame, sign_col: str, mult_col: str) -> DataFrame:
    """Signed ±weight column -> bool multiplicity (appended last, sign
    dropped) in one select.  Falls back to withColumn+drop when the
    relation carries DUPLICATE column names (a joined delta before its
    projection legitimately holds both sides' same-named key columns —
    name-based enumeration would be ambiguous there)."""
    if _dup_names(df):
        return df.withColumn(
            mult_col, F.expr(f"{q(sign_col)} > 0")
        ).drop(sign_col)
    return df.selectExpr(
        *[q(c) for c in df.columns if c != sign_col],
        f"{q(sign_col)} > 0 AS {q(mult_col)}",
    )


def signed(delta: DataFrame, mult_col: str, sign_col: str) -> DataFrame:
    """bool multiplicity -> signed ±1 weight column (appended last,
    bool dropped) in one select (duplicate-name fallback as in
    :func:`mult_from_sign`)."""
    if _dup_names(delta):
        return delta.withColumn(
            sign_col, F.expr(f"CASE WHEN {q(mult_col)} THEN 1 ELSE -1 END")
        ).drop(mult_col)
    return delta.selectExpr(
        *[q(c) for c in delta.columns if c != mult_col],
        f"CASE WHEN {q(mult_col)} THEN 1 ELSE -1 END AS {q(sign_col)}",
    )
