"""One-sided inequality (theta) joins — ``l.x < r.y`` — as EQUI joins.

The banded join (rangejoin.py) handles point-in-interval; a one-sided
inequality has an UNBOUNDED interval (``x < y`` means x ∈ (-∞, y)), so
exploding the interval to fixed-width bins doesn't terminate.  The
classic fix is dyadic (segment-tree) decomposition over the binned
value axis:

- every half-open bin prefix ``[0, n)`` is the disjoint union of at
  most one canonical dyadic node per bit of ``n`` (≤ ``levels`` nodes);
- every bin ``b`` lies under exactly one ancestor node per level
  (``b >> level``).

So pairs with ``bin(x) < bin(y)`` — which ALL satisfy ``x < y`` —
are found by equi-joining the lesser side's ``levels`` ancestor rows
against the greater side's ≤ ``levels`` prefix-decomposition rows on
``(level, node)``; each qualifying pair matches in EXACTLY ONE node
(the decomposition is canonical), so no dedup is needed.  Pairs in the
SAME bin are an ordinary bin equi-join re-checked against the exact
predicate.  Catalyst never sees a non-equi condition, so there is no
nested-loop fallback; comparisons are O((|L| + |R|) · levels + |output|)
instead of |L| × |R|.

At 100 TB: both branches are plain hash joins on small integer keys —
broadcast when one side is a delta, shuffle otherwise — and the
``levels``-fold row expansion (default 21 for 2^21 bins) happens inside
whole-stage codegen between the scan and the join, never materialized.

This module supplies the dyadic PAIR GENERATOR for the counting-join
rule (countjoin.py): :func:`ineq_join`.  The LEFT/FULL/SEMI/ANTI
computes and every delta rule are that shared rule bound onto it.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, functions as F

from ivm_extension_spark.operators import colops, countjoin as cj
from ivm_extension_spark.operators.colops import q

_LVL, _IDX = "__dy_lvl", "__dy_idx"
_BIN = "__dy_bin"

_OPS = {"<", "<=", ">", ">="}

_BARE_RX = re.compile(r"[A-Za-z_]\w*")


def _bare(expr: str, cols: list[str]) -> bool:
    """``expr`` is one existing column name, not an expression."""
    e = expr.strip()
    return bool(_BARE_RX.fullmatch(e)) and e in cols


def _as_column(df: DataFrame, expr: str, scratch: str):
    """Resolve a value-axis operand that may be an EXPRESSION (the SQL
    front routes conditions like ``o_totalprice < cutoff * scale`` here)
    to a real column: bare existing columns pass through, anything else
    is materialized as ``scratch``.  Returns (df, col_name, added)."""
    e = expr.strip()
    if _bare(e, df.columns):
        return df, e, None
    if scratch in df.columns:
        raise ValueError(f"scratch column name {scratch!r} already exists")
    return df.withColumn(scratch, F.expr(e)), scratch, scratch


def auto_dyadic_bins(
    left: DataFrame,
    right: DataFrame,
    left_expr: str,
    right_expr: str,
    levels: int = 16,
) -> tuple[float, int, float]:
    """Derive ``(bin_width, max_bins, origin)`` covering both sides'
    value domains — used by the SQL front when routing a one-sided
    inequality at CREATE time, where no caller supplies bin geometry.
    Costs one tiny min/max aggregation job per side (the alternative is
    a nested-loop materialization, O(|L|·|R|)).  The domain is padded by
    one bin on each end so the runtime guard never trips on boundary
    floating-point rounding."""
    nbins = 1 << levels

    def mm(df: DataFrame, e: str) -> tuple[float | None, float | None]:
        row = df.select(
            F.min(F.expr(e)).cast("double").alias("lo"),
            F.max(F.expr(e)).cast("double").alias("hi"),
        ).first()
        return (row["lo"], row["hi"]) if row else (None, None)

    vals = [v for v in (*mm(left, left_expr), *mm(right, right_expr))
            if v is not None and math.isfinite(v)]
    if not vals:
        return 1.0, nbins, 0.0
    lo, hi = min(vals), max(vals)
    span = hi - lo
    width = (span / (nbins - 4)) if span > 0 else 1.0
    return width, nbins, lo - width


def _binned(
    df: DataFrame, col: str, bin_width: float, levels: int, origin: float
) -> DataFrame:
    """Attach the bin index, guarding the dyadic domain [0, 2^levels).
    ``origin`` shifts the value axis so negative-valued columns land in
    nonnegative bins (the dyadic decomposition needs unsigned indices;
    the shift is order-preserving so the join predicate is unaffected)."""
    if _BIN in df.columns:
        raise ValueError(f"input already has the reserved bin column {_BIN!r}")
    if not (math.isfinite(bin_width) and math.isfinite(origin)):
        raise ValueError(
            f"bin_width and origin must be finite, got {bin_width!r} and {origin!r}"
        )
    # one parsed expression instead of ~15 Column-op round trips (the
    # round-10 construction diet).  Float literals carry the D suffix so
    # Spark parses DOUBLE (bare `0.5` parses as DECIMAL and would change
    # the arithmetic); repr(float) round-trips bit-exactly.
    qc = q(col)
    ow, oo = f"{float(bin_width)!r}D", f"{float(origin)!r}D"
    b = f"CAST(FLOOR(({qc} - {oo}) / {ow}) AS BIGINT)"
    msg_pre = (
        f"value outside the dyadic domain [0, {1 << levels}) bins "
        f"at bin_width={bin_width}: "
    )
    guarded = (
        f"CASE WHEN ({b} < 0) OR ({b} >= {1 << levels}) THEN "
        f"CAST(raise_error(concat({msg_pre!r}, CAST({qc} AS STRING), "
        f"' — shift/scale the column or raise max_bins')) AS BIGINT) "
        f"ELSE {b} END"
    )
    return df.selectExpr("*", f"{guarded} AS {q(_BIN)}")


# Both node generators prepend a sentinel (level −1, idx = bin) "self"
# node, so the SAME-bin pairs (which need the exact predicate re-check)
# ride the same single (level, idx) equi-join as the strictly-lower-bin
# dyadic pairs — one scan and one hash join per side instead of two.
# The two pair classes cannot collide: ancestors at level ≥ 0 only meet
# prefix nodes at level ≥ 0 (strictly-lower bins), sentinel only meets
# sentinel (equal bins).
_SELF_NODE = f"array(named_struct('lvl', CAST(-1 AS INT), 'idx', {_BIN}))"


def _ancestors(df: DataFrame, levels: int) -> DataFrame:
    """One row per (level, ancestor-node) of the row's bin — node at
    level l is ``bin >> l`` — plus the sentinel self node.  Runs inside
    codegen (Generate over a transform of a constant-length sequence)."""
    nodes = (
        f"concat({_SELF_NODE}, "
        f"transform(sequence(0, {levels - 1}), "
        f"l -> named_struct('lvl', CAST(l AS INT), 'idx', shiftright({_BIN}, l))))"
    )
    return df.selectExpr("*", f"explode({nodes}) AS `__dy`").selectExpr(
        *[q(c) for c in df.columns],
        f"`__dy`.`lvl` AS {_LVL}",
        f"`__dy`.`idx` AS {_IDX}",
    )


def _prefix_nodes(df: DataFrame, levels: int) -> DataFrame:
    """One row per canonical dyadic node of the prefix ``[0, bin)`` —
    walking the bits of ``bin`` high→low, each set bit i contributes the
    node (level=i, idx=offset >> i) and advances offset by 2^i; ≤ one
    node per bit, an empty prefix (bin 0) contributes nothing — plus the
    sentinel self node."""
    nodes = (
        f"""
        concat({_SELF_NODE},
        CASE WHEN {_BIN} <= 0 THEN
            CAST(array() AS array<struct<lvl:int,idx:bigint>>)
        ELSE
            aggregate(
                sequence({levels - 1}, 0, -1),
                named_struct(
                    'off', CAST(0 AS BIGINT),
                    'nodes', CAST(array() AS array<struct<lvl:int,idx:bigint>>)),
                (acc, i) -> CASE
                    WHEN (shiftright({_BIN}, i) & 1) = 1 THEN named_struct(
                        'off', acc.off + shiftleft(CAST(1 AS BIGINT), i),
                        'nodes', array_append(
                            acc.nodes,
                            named_struct('lvl', CAST(i AS INT),
                                         'idx', shiftright(acc.off, i))))
                    ELSE acc END,
                acc -> acc.nodes)
        END)
        """
    )
    return df.selectExpr("*", f"explode({nodes}) AS `__dy`").selectExpr(
        *[q(c) for c in df.columns],
        f"`__dy`.`lvl` AS {_LVL}",
        f"`__dy`.`idx` AS {_IDX}",
    )


def ineq_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    broadcast: str | None = None,
    origin: float = 0.0,
    extra_cond: str | None = None,
) -> DataFrame:
    """Inner join on ``left.left_col <op> right.right_col`` (plus equal
    ``key_cols``), planned as one hash equi-join — never a nested loop.

    ``bin_width`` quantizes the value axis; values must land in bins
    ``[0, max_bins)`` after subtracting ``origin`` (guarded at runtime —
    set ``origin`` to the domain minimum for negative-valued columns).
    ``broadcast`` may name 'left' or 'right' to hint that side (pass the
    DELTA side in incremental maintenance).  Output: all left columns +
    non-key right columns.

    ``left_col``/``right_col`` may be SQL EXPRESSIONS over their side's
    columns (materialized to scratch bin axes internally), and
    ``extra_cond`` is a residual SQL condition over both sides' (bare,
    disjoint) columns re-checked on every candidate pair — together they
    let the SQL front route a full ON clause like
    ``l.price < r.cutoff * r.scale AND l.qty >= r.min_qty`` through the
    dyadic plan.
    """
    if op not in _OPS:
        raise ValueError(f"op must be one of {sorted(_OPS)}, got {op!r}")
    overlap = (set(left.columns) & set(right.columns)) - set(key_cols)
    if overlap:
        raise ValueError(
            f"non-key column names must be disjoint, both sides have {sorted(overlap)}"
        )
    levels = max(int(max_bins - 1).bit_length(), 1)
    out_cols = [*left.columns, *[c for c in right.columns if c not in key_cols]]

    left, left_col, _ = _as_column(left, left_col, "__ineq_lv")
    right, right_col, _ = _as_column(right, right_col, "__ineq_rv")
    lb = _binned(left, left_col, bin_width, levels, origin)
    rb = _binned(right, right_col, bin_width, levels, origin)

    # ONE equi-join on (level, node) carries both pair classes: the
    # lesser side contributes its ancestors (+ sentinel self node), the
    # greater side the canonical decomposition of its strict bin prefix
    # (+ sentinel).  Strictly-lower-bin pairs ALL satisfy the
    # inequality; sentinel (same-bin) pairs are re-checked exactly.
    if op in ("<", "<="):
        nl, nr = _ancestors(lb, levels), _prefix_nodes(rb, levels)
    else:
        nl, nr = _prefix_nodes(lb, levels), _ancestors(rb, levels)
    # join + exact re-check + residual + output projection as ONE SQL
    # text (round-10 construction diet; plan shape unchanged — USING
    # join is the same name-equality join as on=[cols])
    hint = {
        "left": "/*+ BROADCAST(__l) */ ",
        "right": "/*+ BROADCAST(__r) */ ",
        None: "",
    }[broadcast]
    using = ", ".join(q(c) for c in [*key_cols, _LVL, _IDX])
    where = f"({q(_LVL)} != -1) OR ({q(left_col)} {op} {q(right_col)})"
    if extra_cond:
        where = f"({where}) AND ({extra_cond})"
    proj = ", ".join(q(c) for c in out_cols)
    return colops.sql_over(
        f"SELECT {hint}{proj} FROM {{l}} AS __l JOIN {{r}} AS __r "
        f"USING ({using}) WHERE {where}",
        l=nl,
        r=nr,
    )


def _bind(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    op: str,
    bin_width: float,
    max_bins: int,
    key_cols: tuple[str, ...],
    origin: float,
    extra_cond: str | None = None,
) -> cj.Matcher:
    """The dyadic generator plus both sides' match columns: the columns
    each axis operand and ``extra_cond`` reference (with a residual, a
    row's match fate depends on ALL condition inputs).  Bare axis
    columns with no residual never match through a NULL, so the count
    bookkeeping may use plain equality."""
    from ivm_extension_spark.operators.thetajoin import referenced_cols

    def on(axis: str, cols: list[str]) -> list[str]:
        exprs = [axis, extra_cond] if extra_cond else [axis]
        return list(dict.fromkeys(
            c for e in exprs for c in referenced_cols(e, cols, key_cols)
        ))

    return cj.Matcher(
        lambda a, b, bc: ineq_join(
            a, b, left_col, right_col, op, bin_width, max_bins, key_cols,
            bc, origin, extra_cond,
        ),
        key_cols,
        on(left_col, left.columns),
        on(right_col, right.columns),
        null_safe=bool(extra_cond)
        or not (_bare(left_col, left.columns) and _bare(right_col, right.columns)),
    )


def ineq_left_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
    extra_cond: str | None = None,
) -> DataFrame:
    """LEFT OUTER inequality join (countjoin.outer_join) — expression
    axes and ``extra_cond`` residuals as in :func:`ineq_join`."""
    return cj.outer_join(left, right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin, extra_cond,
    ), full=False)


def ineq_full_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
    extra_cond: str | None = None,
) -> DataFrame:
    """FULL OUTER inequality join (countjoin.outer_join)."""
    return cj.outer_join(left, right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin, extra_cond,
    ), full=True)


def ineq_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
    extra_cond: str | None = None,
) -> DataFrame:
    """LEFT SEMI inequality join — EXISTS (countjoin.semi_anti_join):
    the dyadic probe runs over the DISTINCT left keys, so the large
    left side is never expanded ``levels``-fold."""
    return cj.semi_anti_join(left, right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin, extra_cond,
    ), anti=False)


def ineq_anti_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
    extra_cond: str | None = None,
) -> DataFrame:
    """LEFT ANTI inequality join — NOT EXISTS (countjoin.semi_anti_join);
    NULL ``left_col`` rows qualify, NULL never satisfies the predicate."""
    return cj.semi_anti_join(left, right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin, extra_cond,
    ), anti=True)


def ineq_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
) -> DataFrame:
    """Δ(L ⋈θ R) for the one-sided inequality join
    (countjoin.inner_delta).  Deltas carry the bool multiplicity
    column; output = joined columns + the multiplicity bool."""
    return cj.inner_delta(left, right, d_left, d_right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin,
    ))


def ineq_left_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
) -> DataFrame:
    """Δ(L ⟕θ R) for the one-sided inequality join
    (countjoin.outer_delta)."""
    return cj.outer_delta(left, right, d_left, d_right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin,
    ), full=False)


def ineq_full_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
) -> DataFrame:
    """Δ(L ⟗θ R) for the one-sided inequality join
    (countjoin.outer_delta)."""
    return cj.outer_delta(left, right, d_left, d_right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin,
    ), full=True)


def ineq_semi_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
) -> DataFrame:
    """Δ(L ⋉θ R) for the one-sided inequality SEMI join
    (countjoin.semi_anti_delta)."""
    return cj.semi_anti_delta(left, right, d_left, d_right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin,
    ), anti=False)


def ineq_anti_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    left_col: str,
    right_col: str,
    op: str = "<",
    bin_width: float = 1.0,
    max_bins: int = 1 << 21,
    key_cols: tuple[str, ...] = (),
    origin: float = 0.0,
) -> DataFrame:
    """Δ(L ▷θ R) for the one-sided inequality ANTI join
    (countjoin.semi_anti_delta)."""
    return cj.semi_anti_delta(left, right, d_left, d_right, _bind(
        left, right, left_col, right_col, op, bin_width, max_bins, key_cols,
        origin,
    ), anti=True)
