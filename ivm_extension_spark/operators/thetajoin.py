"""General (two-sided expression) theta joins: the BROADCAST THETA
pair generator for the counting-join rule (countjoin.py).

The binned generators are the cheap paths for structured conditions —
rangejoin.py for point-in-interval, ineqjoin.py for one-sided ``l.x <
r.y``.  What they cannot express is a condition that is an arbitrary
boolean over expressions of BOTH sides (``l.price * (1 - l.disc) <
r.cutoff * r.scale AND l.qty >= r.min_qty``).  This module's generator,
:func:`theta_join`, joins on the condition itself; a row's match set is
fixed by the columns the condition references (:func:`referenced_cols`,
extended by any caller-supplied ``left_on``/``right_on``).  The SQL
front routes here automatically: a join step of rewrite.py's
left-deep fold (``rewrite._fold_joins``) whose condition is not a
conjunction of equi pairs and right-local predicates binds
:func:`matcher` onto the counting-join rule, at any chain position.

Scale shape: there is no equi axis, so every theta probe is a
BroadcastNestedLoopJoin — but in the delta rules the broadcast side is
always delta-derived, so each branch is one narrow scan of a base
relation against a small broadcast: O(|base| · |Δ|) comparisons, no
shuffle of either base, no base×base loop.  The PLAIN computes are for
CREATE-time/small dimensions and oracle checks — they let Catalyst pick
the strategy.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ivm_extension_spark.operators import colops, countjoin as cj
from ivm_extension_spark.operators.colops import q

# SQL string literals, single- or double-quoted (a doubled quote or a
# backslash escapes): column-name rewriting and reference detection must
# never look inside them — a condition like ``tag = 'disc'`` or
# ``tag = "disc"`` must not have the literal mangled just because a
# column named disc exists
_LITERAL_RX = re.compile(r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"")


def sub_outside_literals(pattern: str, repl: str, s: str) -> str:
    """``re.sub`` applied only OUTSIDE SQL string literals."""
    out: list[str] = []
    last = 0
    for m in _LITERAL_RX.finditer(s):
        out.append(re.sub(pattern, repl, s[last : m.start()]))
        out.append(m.group(0))
        last = m.end()
    out.append(re.sub(pattern, repl, s[last:]))
    return "".join(out)


def referenced_cols(cond: str, cols: list[str], key_cols: tuple[str, ...]) -> list[str]:
    """The non-key columns of ``cols`` that ``cond`` mentions (word-
    boundary match, string literals masked) — the default match-count
    key when ``left_on`` / ``right_on`` is not given explicitly."""
    masked = _LITERAL_RX.sub("''", cond)
    return [
        c
        for c in cols
        if c not in key_cols and re.search(rf"\b{re.escape(c)}\b", masked)
    ]


def _check_disjoint(
    left: DataFrame, right: DataFrame, key_cols: tuple[str, ...]
) -> None:
    overlap = (set(left.columns) & set(right.columns)) - set(key_cols)
    if overlap:
        raise ValueError(
            f"non-key column names must be disjoint, both sides have {sorted(overlap)}"
        )


def theta_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    broadcast: str | None = None,
) -> DataFrame:
    """INNER join on the arbitrary SQL condition ``cond`` (over the two
    sides' bare, disjoint non-key column names) plus ``key_cols``
    equality.  ``broadcast`` may name 'left' or 'right' — pass the
    DELTA side in maintenance so the base side is scanned once and
    never shuffled.  Output: all left columns + non-key right columns.

    Both sides are renamed to prefixed temp columns (fresh exprIds) and
    ``cond`` is rewritten to the prefixed names before joining: in the
    delta rules one side is routinely DERIVED from the other (e.g. the
    affected-key set probed back against its base), and bare names in
    ``F.expr(cond)`` would trip Spark's ambiguous-self-join analysis.
    A key column mentioned inside ``cond`` resolves to the LEFT side."""
    _check_disjoint(left, right, key_cols)
    lp, rp = "__tl_", "__tr_"
    cond2 = cond
    for c in left.columns:
        cond2 = sub_outside_literals(rf"\b{re.escape(c)}\b", lp + c, cond2)
    for c in right.columns:
        if c not in key_cols:
            cond2 = sub_outside_literals(rf"\b{re.escape(c)}\b", rp + c, cond2)
    # ONE SQL text: rename prologue + hinted join + output projection —
    # same logical plan as the Dataset-API form (verified: optimized
    # plans identical), one analysis pass and 3 round trips instead of
    # six Dataset calls (round-10 construction diet, guide §7.3)
    lsub = ", ".join(f"{q(c)} AS {q(lp + c)}" for c in left.columns)
    rsub = ", ".join(f"{q(c)} AS {q(rp + c)}" for c in right.columns)
    on = " AND ".join(
        [f"({cond2})"] + [f"({q(lp + k)} = {q(rp + k)})" for k in key_cols]
    )
    out = ", ".join(
        [f"{q(lp + k)} AS {q(k)}" for k in key_cols]
        + [f"{q(lp + c)} AS {q(c)}" for c in left.columns if c not in key_cols]
        + [f"{q(rp + c)} AS {q(c)}" for c in right.columns if c not in key_cols]
    )
    hint = {
        "left": "/*+ BROADCAST(__l) */ ",
        "right": "/*+ BROADCAST(__r) */ ",
        None: "",
    }[broadcast]
    return colops.sql_over(
        f"SELECT {hint}{out} FROM (SELECT {lsub} FROM {{l}}) AS __l "
        f"JOIN (SELECT {rsub} FROM {{r}}) AS __r ON {on}",
        l=left,
        r=right,
    )


def matcher(
    cond: str,
    left: DataFrame,
    right: DataFrame,
    key_cols: tuple[str, ...],
    left_on: list[str] | None = None,
    right_on: list[str] | None = None,
) -> cj.Matcher:
    """The broadcast-theta generator plus both sides' match columns:
    the caller's ``left_on``/``right_on`` EXTENDED with the condition's
    referenced columns.  A finer custom key still fixes the match set,
    but the count probes re-evaluate ``cond`` over projections keyed by
    these lists, so the referenced columns must ride along."""

    def on(custom: list[str] | None, cols: list[str]) -> list[str]:
        ref = referenced_cols(cond, cols, key_cols)
        return list(dict.fromkeys([*(custom or []), *ref]))

    return cj.Matcher(
        lambda a, b, bc: theta_join(a, b, cond, key_cols, bc),
        key_cols,
        on(left_on, left.columns),
        on(right_on, right.columns),
    )


def theta_left_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """LEFT OUTER theta join (countjoin.outer_join)."""
    return cj.outer_join(
        left, right, matcher(cond, left, right, key_cols, left_on), full=False
    )


def theta_full_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
    right_on: list[str] | None = None,
) -> DataFrame:
    """FULL OUTER theta join (countjoin.outer_join)."""
    return cj.outer_join(
        left, right, matcher(cond, left, right, key_cols, left_on, right_on),
        full=True,
    )


def theta_semi_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """LEFT SEMI theta join — EXISTS (countjoin.semi_anti_join)."""
    return cj.semi_anti_join(
        left, right, matcher(cond, left, right, key_cols, left_on), anti=False
    )


def theta_anti_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """LEFT ANTI theta join — NOT EXISTS (countjoin.semi_anti_join)."""
    return cj.semi_anti_join(
        left, right, matcher(cond, left, right, key_cols, left_on), anti=True
    )


def theta_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Δ(L ⋈θ R) — the poster's general inner delta rule
    (countjoin.inner_delta).  Deltas carry the bool multiplicity;
    output = joined columns + the multiplicity bool."""
    return cj.inner_delta(
        left, right, d_left, d_right, matcher(cond, left, right, key_cols)
    )


def theta_semi_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ⋉θ R) (countjoin.semi_anti_delta)."""
    return cj.semi_anti_delta(
        left, right, d_left, d_right,
        matcher(cond, left, right, key_cols, left_on), anti=False,
    )


def theta_anti_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ▷θ R) (countjoin.semi_anti_delta)."""
    return cj.semi_anti_delta(
        left, right, d_left, d_right,
        matcher(cond, left, right, key_cols, left_on), anti=True,
    )


def theta_left_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ⟕θ R) (countjoin.outer_delta)."""
    return cj.outer_delta(
        left, right, d_left, d_right,
        matcher(cond, left, right, key_cols, left_on), full=False,
    )


def theta_full_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
    right_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ⟗θ R) (countjoin.outer_delta)."""
    return cj.outer_delta(
        left, right, d_left, d_right,
        matcher(cond, left, right, key_cols, left_on, right_on), full=True,
    )
