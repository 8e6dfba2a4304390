"""The IVM rewrite: turn a ViewDef into its delta plan (a DataFrame).

This is the Spark-first re-expression of the reference's whole core
(ivm_rewrite_rule.hpp:28-359, a DuckDB optimizer-extension that edits the
optimized logical plan node-by-node).  We never touch plans: the delta
query is *declared* with DataFrame operations and Catalyst does predicate
pushdown / column pruning / physical planning (SURVEY.md section 4 —
zero custom rules needed).

Node-for-node parity with the reference rewrite:

- scan swap  (ivm_rewrite_rule.hpp:100-220): read ``delta_<table>``
  instead of the base table; hard error if the delta is missing
  (reference behavior at :110-116).  Filter/column pushdown onto the
  delta scan (:140, :150-205) is Catalyst's job — free.
- filter     (:277-281): applied unchanged — the delta rule for
  selection is the identity.
- projection (:254-276): multiplicity column selected through.
- aggregate  (:221-253): ``_duckdb_ivm_multiplicity`` added as an extra
  group key so inserts and deletes aggregate into separate groups;
  aggregate functions run unchanged over the delta rows.
- top node   (:62-87): multiplicity appended as the last output column.

Beyond the reference (its poster's "future work"): the inner-join delta
rule  Δ(L ⋈ R) = ΔL⋈R  ∪  L⋈ΔR  ∪  ΔL⋈ΔR  generalized to n tables
(every non-empty subset of delta substitutions), with signed weights
multiplied across sides.  Delta sides are broadcast by default — at
scale ΔT is small relative to T, so every branch becomes a broadcast
hash join and the 100-TB base table is only ever scanned, never
shuffled.

A chain with LEFT/FULL OUTER or SEMI/ANTI joins (WHERE [NOT] EXISTS /
IN-subquery views, lowered by the SQL front) is one left-deep fold of a
single binary step, Δ(X ∘ T) from (X, ΔX, T, ΔT), bound onto the
counting-join rule in ``countjoin.py`` — per-key match counts, NULL-pad
terms and zero crossings, written once for every join family.  Equi
conditions use the equi pair generator (``countjoin.equi``), anything
else thetajoin's broadcast-theta matcher.  Base sides are only ever
probed by broadcast delta-derived sets, never shuffled.  Without a delta
on T an inner/left/semi/anti join is linear in X, so the step is the
plain join ΔX ∘ T.
"""

from __future__ import annotations

import re
from itertools import product
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ivm_extension_spark.operators import colops, countjoin as cj
from ivm_extension_spark.operators.colops import q
from ivm_extension_spark.operators.pin import pin_all
from ivm_extension_spark.plans.sqlfront import _split_conjuncts
from ivm_extension_spark.plans.viewdef import Aggregate, ViewDef

MULT_COL = "_duckdb_ivm_multiplicity"
_SIGN = "__ivm_sign"


class IVMError(RuntimeError):
    """Engine-level error (missing delta table, unsupported shape, ...)."""


def _agg_expr(agg: Aggregate):
    e = F.expr(agg.expr) if agg.expr != "*" else None
    if agg.fn == "sum":
        out = F.sum(e)
    elif agg.fn == "count":
        out = F.count(F.lit(1)) if e is None else F.count(e)
    elif agg.fn == "avg":
        out = F.avg(e)
    elif agg.fn == "min":
        out = F.min(e)
    elif agg.fn == "max":
        out = F.max(e)
    elif agg.fn == "count_distinct":
        out = F.count_distinct(e)
    elif agg.fn == "sum_distinct":
        out = F.sum_distinct(e)
    elif agg.fn == "avg_distinct":
        # no pyspark.sql.functions twin — textual DISTINCT inside avg
        out = F.expr(f"avg(DISTINCT {agg.expr})")
    elif agg.fn == "var_pop":
        out = F.var_pop(e)
    elif agg.fn == "var_samp":
        out = F.var_samp(e)
    elif agg.fn == "stddev_pop":
        out = F.stddev_pop(e)
    elif agg.fn == "stddev_samp":
        out = F.stddev_samp(e)
    elif agg.fn == "median":
        out = F.median(e)
    elif agg.fn == "mode":
        # deterministic: ties break to the SMALLEST value — the engine-wide
        # mode semantics (matched by the aux-relation derive and oracles)
        out = F.mode(e, deterministic=True)
    elif agg.fn == "percentile":
        out = F.percentile(e, F.lit(agg.fraction))
    else:  # pragma: no cover - guarded by Aggregate.__post_init__
        raise NotImplementedError(agg.fn)
    return out.alias(agg.alias)


def _signed_delta(delta: DataFrame, sign_col: str) -> DataFrame:
    """delta table (bool multiplicity) -> signed weight column, bool dropped.

    Internally the engine works with signed weights (+1 insert / -1
    delete); the bool survives only at the API surface (SURVEY.md
    section 1.4 mapping table).
    """
    from ivm_extension_spark.operators import colops

    return colops.signed(delta, MULT_COL, sign_col)


def _delta_source(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
) -> DataFrame:
    """Build the delta source relation with a single ``__ivm_sign`` column.

    Single table: the delta scan itself.  All-inner joins: union of all
    branches where at least one side is a delta (up to 2^n - 1 branches
    for n tables).  A joined table with no registered delta is simply
    unchanged (Δ=∅): every branch marking it delta is empty and is
    skipped — so a fact⋈dim⋈dim view with a delta only on the fact
    table generates exactly one branch.  A chain with any LEFT/FULL/
    SEMI/ANTI join is the left-deep counting-join fold
    (:func:`_fold_joins`).  If NO table has a delta the hard error
    mirrors the reference (ivm_rewrite_rule.hpp:110-116).

    The output keeps the view's table qualifiers (``f.k`` and bare
    ``a`` both resolve), so the view's WHERE, select and group
    expressions apply to it unchanged.
    """
    tables = view.tables
    if len(tables) == 1:
        return _signed_delta(get_delta(tables[0]), _SIGN)

    def _has_delta(t: str) -> bool:
        try:
            get_delta(t)
            return True
        except IVMError:
            return False

    with_delta = {t for t in tables if _has_delta(t)}
    if not with_delta:
        get_delta(tables[0])  # re-raise the reference's missing-delta error

    if any(j.how != "inner" for j in view.joins):
        return _fold_joins(view, get_table, get_delta, with_delta)

    branches: list[DataFrame] = []
    for combo in product((False, True), repeat=len(tables)):
        if not any(combo):
            continue  # the all-base branch is V itself, not part of ΔV
        if any(is_d and t not in with_delta for t, is_d in zip(tables, combo)):
            continue  # Δ=∅ for a deltaless table: the branch is empty
        sides: list[DataFrame] = []
        for tname, is_delta in zip(tables, combo):
            # alias each side with its table name so join conditions may
            # use qualified columns (f.k = d1.k) when names collide
            if is_delta:
                d = _signed_delta(get_delta(tname), f"__w_{tname}").alias(tname)
                sides.append(F.broadcast(d))
            else:
                sides.append(
                    get_table(tname).withColumn(f"__w_{tname}", F.lit(1)).alias(tname)
                )
        acc = sides[0]
        for join, side in zip(view.joins, sides[1:]):
            acc = acc.join(side, on=F.expr(join.on), how="inner")
        sign_sql = " * ".join(["1"] + [q(f"__w_{t}") for t in tables])
        acc = acc.withColumn(_SIGN, F.expr(sign_sql)).drop(
            *[f"__w_{t}" for t in tables]
        )
        branches.append(acc)
    out = branches[0]
    for b in branches[1:]:
        # positional union: every branch is built with the identical
        # column order (same table order, same per-side projections), and
        # unlike unionByName it tolerates join columns that share a name
        # across tables (f.k = d.k) — a name-keyed union would reject the
        # duplicate column outright
        out = out.union(b)
    return out


def _split_depth0(s: str, rx) -> list[str] | None:
    """Split ``s`` on regex matches occurring at paren/quote depth 0."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    i = last = 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = rx.match(s, i)
            if m and m.end() > i:
                parts.append(s[last : i])
                last = i = m.end()
                continue
        i += 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


# a single '=' that is not part of  <=  >=  !=  ==  <=>
_EQ_RX = re.compile(r"(?<![<>!=])=(?![=>])")


def _strip_qualifiers(cond: str, tables) -> str:
    """Rewrite ``<table>.<col>`` references of ``tables`` to bare names —
    for a relation whose columns were flattened (a routed theta join
    carries no alias metadata)."""
    for t in tables:
        cond = re.sub(rf"\b{re.escape(t)}\s*\.\s*(\w+)", r"\1", cond)
    return cond


def _equi_pairs(
    cond: str,
    lname: str | list[str],
    rname: str,
    lcols: list[str],
    rcols: list[str],
) -> list[tuple[str, str]] | None:
    """Parse a join condition into conjunctive equi pairs (lexpr, rexpr),
    classifying each equality side by table qualifier or bare-column
    membership.  ``lname`` may be a list of table names when the left
    side is a join prefix (chain maintenance).  Returns None when the
    condition is not a pure conjunctive equi-join (theta/OR/ambiguous) —
    callers then fall back or reject, depending on what the delta rule
    needs."""
    lnames = [lname] if isinstance(lname, str) else list(lname)

    def side(e: str) -> str | None:
        if any(re.search(rf"\b{re.escape(n)}\s*\.", e) for n in lnames):
            return None if re.search(rf"\b{re.escape(rname)}\s*\.", e) else "l"
        if re.search(rf"\b{re.escape(rname)}\s*\.", e):
            return "r"
        bare = e.strip()
        in_l, in_r = bare in lcols, bare in rcols
        if in_l != in_r:
            return "l" if in_l else "r"
        return None

    def resolve_bare(e: str, other: str) -> str | None:
        # pairwise disambiguation: a bare column that exists on BOTH
        # sides is still classifiable when the other equality side has
        # already claimed a table — 'gk = g.gk' (prefix-flattened d.gk)
        # puts the bare gk on the left because g took the right role
        bare = e.strip()
        if other == "r" and bare in lcols:
            return "l"
        if other == "l" and bare in rcols:
            return "r"
        return None

    pairs: list[tuple[str, str]] = []
    for conj in _split_conjuncts(cond):
        sides = _split_depth0(conj, _EQ_RX)
        if len(sides) != 2:
            return None
        a, b = sides
        sa, sb = side(a), side(b)
        if sa is None and sb is not None:
            sa = resolve_bare(a, sb)
        elif sb is None and sa is not None:
            sb = resolve_bare(b, sa)
        if sa == "l" and sb == "r":
            pairs.append((a, b))
        elif sa == "r" and sb == "l":
            pairs.append((b, a))
        else:
            return None
    return pairs or None


# a column reference, optionally table-qualified (``f.k``, ``F.`k```) —
# never a function name, a number or the field part of ``s.field``
_NAME = r"(?:[A-Za-z_]\w*|`[^`]+`)"
_REF_RX = re.compile(rf"(?<![\w.`])(?:({_NAME})\s*\.\s*)?({_NAME})(?![\w`]|\s*\()")
# a bare word that names no column: a type (``CAST(x AS date)``), an
# interval unit (``INTERVAL 1 day``, ``INTERVAL '1' DAY``), a typed
# literal's prefix (``DATE '2024-01-01'``) or an expression keyword
_NOT_REF_BEFORE = re.compile(r"(?:\bAS|(?<![\w.])\d[\w.]*|['\"])\s*$", re.I)
_NOT_REF_AFTER = re.compile(r"\s*['\"]")
_KEYWORDS = frozenset(
    "and or not is null true false in like rlike ilike between case when "
    "then else end distinct interval exists".split()
)


def _mask_literals(s: str) -> str:
    """``s`` with the body of every '…' / "…" string literal blanked to
    spaces (same length, backslash escapes honoured); backquoted
    identifiers are kept, and a quote inside one opens no literal."""
    out = list(s)
    quote: str | None = None
    i = 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            else:
                out[i] = " "
                if ch == "\\" and i + 1 < len(s):
                    i += 1
                    out[i] = " "
        elif ch == "`":
            j = s.find("`", i + 1)
            i = len(s) if j < 0 else j
        elif ch in ("'", '"'):
            quote = ch
        i += 1
    return "".join(out)


# a flat column name of the join fold (table position, column position)
_FLAT_RX = re.compile(r"\b__c\d+_\d+\b")


def _split_on(
    cond: str, xcols: set[str], tcols: set[str]
) -> tuple[list[tuple[str, str]], list[str], bool]:
    """Split a flat-named join condition into its equi pairs (X-side
    expression, T-side expression), its T-local conjuncts, and whether
    any other conjunct (two-sided non-equi, X-local) remains."""
    pairs: list[tuple[str, str]] = []
    local: list[str] = []
    other = False
    for conj in _split_conjuncts(cond):
        if set(_FLAT_RX.findall(conj)) <= tcols:
            local.append(conj)
            continue
        sides = _split_depth0(conj, _EQ_RX)
        if len(sides) == 2:
            ra, rb = (set(_FLAT_RX.findall(e)) for e in sides)
            if ra and rb and ra <= xcols and rb <= tcols:
                pairs.append((sides[0], sides[1]))
                continue
            if ra and rb and rb <= xcols and ra <= tcols:
                pairs.append((sides[1], sides[0]))
                continue
        other = True
    return pairs, local, other


def _fold_joins(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    with_delta: set[str],
) -> DataFrame:
    """ΔV source of a left-deep chain with LEFT/FULL/SEMI/ANTI joins: the
    left-deep composition of one binary counting-join step.

    With X_k the chain through table k, ΔX_0 = ΔT_0 (or none) and

        ΔX_k = step(X_{k-1}, T_k, ΔX_{k-1}, ΔT_k)

    where the step is ``countjoin.inner_delta``, ``outer_delta`` or
    ``semi_anti_delta`` over the equi pair generator (``countjoin.equi``,
    T-local conjuncts pushed into T_k and ΔT_k) or, for any other
    condition, thetajoin's broadcast-theta matcher (a side the condition
    does not name gets one constant key).  Without ΔT_k an
    inner/left/semi/anti join is linear in its left side, so the step
    is the plain join ΔX_{k-1} ∘ T_k.  The OLD prefix X_{k-1} is
    ``compute_view`` of the truncated view (structured theta joins take
    their routed plans), read only through broadcast delta-derived
    probes.

    Naming: every (table, column) gets a unique flat name ``__c{t}_{c}``
    and each join condition is rewritten to flat names once (references
    resolved case-insensitively; string literals, types and interval
    units left alone), so steps never depend on table qualifiers; the
    result gets them back through an empty, optimized-away cross join
    of the visible tables that heads a positional union.

    WHERE conjuncts over the prefix's columns alone filter X_{k-1} and
    ΔX_{k-1} when no FULL join follows (FULL pads the prefix columns of
    its right-preserved rows with NULLs); the caller re-applies the
    whole WHERE above ΔV, where those conjuncts are then no-ops."""
    import dataclasses

    from ivm_extension_spark.operators import thetajoin as tj

    tables, joins = view.tables, view.joins
    cols = [get_table(t).columns for t in tables]
    flat = [[f"__c{i}_{n}" for n in range(len(c))] for i, c in enumerate(cols)]
    # table positions whose columns the chain emits (semi/anti add none)
    seen = [0] + [k + 1 for k, j in enumerate(joins) if j.how not in ("semi", "anti")]

    def through(pos: int) -> list[int]:
        return [i for i in seen if i <= pos]

    def to_flat(sql: str, scope: list[int]) -> str:
        # names resolve case-insensitively, as Spark resolves them
        qual, owners = {}, {}
        for i in scope:
            for c, f in zip(cols[i], flat[i]):
                qual[(tables[i].lower(), c.lower())] = f
                owners.setdefault(c.lower(), []).append(f)
        masked = _mask_literals(sql)
        out, last = [], 0
        for m in _REF_RX.finditer(masked):
            t, c = (g and g.strip("`").lower() for g in m.groups())
            if t is not None and (t, c) in qual:
                rep = qual[(t, c)]
            elif t is None and (
                c in _KEYWORDS
                or _NOT_REF_BEFORE.search(masked, 0, m.start())
                or _NOT_REF_AFTER.match(masked, m.end())
            ):
                continue
            else:  # bare, or ``col.field``
                o = owners.get(t if t is not None else c, [])
                if len(o) != 1:
                    continue
                rep = o[0] + sql[m.end(1) if t is not None else m.end() : m.end()]
            out.append(sql[last : m.start()] + rep)
            last = m.end()
        return "".join(out) + sql[last:]

    def renamed(df: DataFrame, i: int, *extra: str) -> DataFrame:
        return df.selectExpr(
            *[f"{q(c)} AS {f}" for c, f in zip(cols[i], flat[i])], *extra
        )

    def prefix(k: int) -> DataFrame:
        """The OLD chain through table position k, flat-named."""
        if k == 0:
            return renamed(get_table(tables[0]), 0)
        sel = tuple(
            (f"{tables[i]}.{c}", f) for i in through(k) for c, f in zip(cols[i], flat[i])
        )
        return compute_view(
            dataclasses.replace(
                view, joins=joins[:k], where=None, select=sel, aggregates=(),
                group_by=(), output_order=tuple(f for _, f in sel), having=None,
                qualify=None, distinct=False, grouping_sets=(), order_by=(),
                limit=None,
            ),
            get_table,
        )

    conds, splits = [], []
    for k, j in enumerate(joins):
        conds.append(to_flat(j.on, [*through(k), k + 1]))
        pairs, local, other = _split_on(
            conds[-1], {f for i in through(k) for f in flat[i]}, set(flat[k + 1])
        )
        equi = bool(pairs) and not other and not (j.how == "full" and local)
        splits.append((pairs, local, equi, bool(pairs or other)))
    where = [to_flat(c, seen) for c in _split_conjuncts(view.where or "")]

    mult = q(MULT_COL)
    dX = renamed(get_delta(tables[0]), 0, mult) if tables[0] in with_delta else None
    for k, (j, cond, (pairs, local, equi, both)) in enumerate(zip(joins, conds, splits)):
        T = renamed(get_table(j.table), k + 1)
        dT = (
            renamed(get_delta(j.table), k + 1, mult) if j.table in with_delta else None
        )
        keep = [q(f) for i in through(k + 1) for f in flat[i]] + [mult]
        if dT is None and (dX is None or j.how != "full"):
            if dX is not None:  # linear in its left side: ΔX ∘ T
                dX = dX.join(T, on=F.expr(cond), how=j.how).selectExpr(*keep)
            continue

        if not both and j.how in ("semi", "anti"):
            # a condition over T alone is a constant existence gate,
            # which SEMI/ANTI maintenance does not take
            raise IVMError(
                f"{j.how}-join maintenance needs a join condition over both "
                f"sides, got {j.on!r}"
            )
        # a theta condition names bare columns, which must be unique
        # through the last theta outer/semi/anti join the step depends on
        thetas = [n for n in range(k + 1) if joins[n].how != "inner" and not splits[n][2]]
        if thetas:
            names = [c for i in {*through(thetas[-1]), thetas[-1] + 1} for c in cols[i]]
            dups = sorted({c for c in names if names.count(c) > 1})
            if dups:
                raise IVMError(
                    f"theta {joins[thetas[-1]].how}-join chain maintenance requires "
                    f"unique column names across the joined tables, got duplicates "
                    f"{dups} — rename them or use an equi condition"
                )

        X = prefix(k)
        xcols = {f for i in through(k) for f in flat[i]}
        pushed = False
        if all(jj.how != "full" for jj in joins[k:]):
            pre = [c for c in where if set(_FLAT_RX.findall(c)) <= xcols]
            if pre:
                pred = " AND ".join(f"({c})" for c in pre)
                X = X.filter(pred)
                dX = dX.filter(pred) if dX is not None else None
                pushed = True
        # ΔX after a step is read by several branches of this one; a
        # joined or filtered prefix holding (or feeding) a theta join is
        # read by three concurrent theta probes.  Both are pinned EAGER
        # and concurrently (a lazy checkpoint is recomputed by every
        # concurrent reader that starts before it lands)
        pin_x = (k > 0 or pushed) and not all(sp[2] for sp in splits[: k + 1])
        pX, pdX = pin_all(X if pin_x else None, dX if k > 0 else None)
        X = pX if pin_x else X
        dX = pdX if k > 0 else dX

        if equi:
            m = cj.equi(len(pairs))
            xk = [f"{e} AS `__k{n}`" for n, (e, _) in enumerate(pairs)]
            tk = [f"{e} AS `__k{n}`" for n, (_, e) in enumerate(pairs)]
            pred = " AND ".join(f"({c})" for c in local)
            X, dX = (None if d is None else d.selectExpr("*", *xk) for d in (X, dX))
            T, dT = (
                None if d is None else (d.filter(pred) if pred else d).selectExpr("*", *tk)
                for d in (T, dT)
            )
        else:
            m = tj.matcher(cond, X, T, ())
            if not (m.kp_l and m.kp_r):
                # a side the condition does not name: its rows share one
                # match set, keyed by a constant
                X, dX, T, dT = (
                    None if d is None else d.selectExpr("*", "0 AS `__k0`")
                    for d in (X, dX, T, dT)
                )
                m = tj.matcher(cond, X, T, ("__k0",))
        if j.how == "inner":
            dv = cj.inner_delta(X, T, dX, dT, m)
        elif j.how in ("left", "full"):
            dv = cj.outer_delta(X, T, dX, dT, m, full=j.how == "full")
        else:
            dv = cj.semi_anti_delta(X, T, dX, dT, m, anti=j.how == "anti")
        dX = dv.selectExpr(*keep)

    anchor = None
    for i in seen:
        a = get_table(tables[i]).alias(tables[i]).limit(0)
        anchor = a if anchor is None else anchor.crossJoin(a)
    return anchor.select(*[f"{tables[i]}.*" for i in seen], F.lit(1).alias(_SIGN)).union(
        dX.selectExpr(
            *[q(f) for i in seen for f in flat[i]],
            f"CASE WHEN {mult} THEN 1 ELSE -1 END AS {_SIGN}",
        )
    )


def _group_cols(view: ViewDef):
    """Grouping columns: the select list's non-aggregate items, plus any
    GROUP BY expression not already covered by a select item (grouped but
    not projected — legal SQL, the extra key simply isn't output)."""
    cols = [F.expr(e).alias(a) for e, a in view.select]
    covered = {e.strip().lower() for e, _ in view.select} | {
        a.strip().lower() for _, a in view.select
    }
    for g in view.group_by:
        if g.strip().lower() not in covered:
            cols.append(F.expr(g).alias(g))
    return cols


def delta_plan(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
) -> DataFrame:
    """Compute ΔV: the incremental change to ``view`` given the current
    delta tables.  Output schema: view columns in select order +
    ``_duckdb_ivm_multiplicity`` boolean last (ivm_extension.cpp:79-81).

    Aggregate views return one row per (group keys x multiplicity value
    present) — inserts and deletes are aggregated separately, exactly the
    reference's golden behavior (tests/ivm.test:76-82, SURVEY.md 2d).
    """
    if view.window_lists:
        # multi-PARTITION-BY window views: ONE fused affected-region
        # recompute (operators/windowcdc.py multi_window_view_delta) —
        # all windows compute in a single projection; the delta region
        # is the union of each list's affected partitions, closed under
        # every list for the recompute input.
        from ivm_extension_spark.operators.windowcdc import multi_window_view_delta

        def _compute_multi(df: DataFrame, carry: tuple[str, ...]) -> DataFrame:
            if view.where:
                df = df.filter(F.expr(view.where))
            return df.select(
                *[F.expr(e).alias(a) for e, a in view.select], *carry
            )

        delta = get_delta(view.source)
        if view.where:
            # row-local WHERE: prune delta rows that cannot affect the
            # view before key-set extraction (same rationale as the
            # single-list branch below)
            delta = delta.filter(F.expr(view.where))
        return multi_window_view_delta(
            get_table(view.source),
            delta,
            view.window_lists,
            _compute_multi,
            mult_col=MULT_COL,
        )

    if view.window_partition:
        # window views: affected-partition partial recompute — the
        # window value of every row in a touched PARTITION BY key may
        # change, and no other row can (operators/windowcdc.py).  The
        # WHERE lives inside the recompute (row-local filters commute
        # with whole-partition restriction).
        from ivm_extension_spark.operators.windowcdc import window_view_delta

        def _compute(df: DataFrame) -> DataFrame:
            if view.where:
                df = df.filter(F.expr(view.where))
            return df.selectExpr(*[f"{e} AS {q(a)}" for e, a in view.select])

        delta = get_delta(view.source)
        if view.where:
            # the WHERE is row-local over source columns (window views
            # are single-table by construction), so a delta row failing
            # it cannot change the view — pruning it BEFORE the
            # affected-key extraction keeps the broadcast key set and
            # the partition recompute sized to rows that matter (a
            # selective view otherwise pays the whole delta's keys)
            delta = delta.filter(F.expr(view.where))
        return window_view_delta(
            get_table(view.source),
            delta,
            view.window_partition,
            _compute,
            mult_col=MULT_COL,
        )

    src = _delta_source(view, get_table, get_delta)
    src = colops.mult_from_sign(src, _SIGN, MULT_COL)

    if view.where:
        src = src.filter(F.expr(view.where))

    if view.is_aggregate:
        keys = _group_cols(view)
        grouped = src.groupBy(*keys, F.col(MULT_COL))
        aggs = [_agg_expr(a) for a in view.aggregates]
        out = grouped.agg(*aggs)
    else:
        out = src.selectExpr(
            *[f"{e} AS {q(a)}" for e, a in view.select], q(MULT_COL)
        )

    return out.selectExpr(*[q(a) for a in view.output_order], q(MULT_COL))


# --------------------------------------------------------------------------
# CREATE-time structured-theta routing
#
# The DELTA rules for theta conditions are broadcast-delta-shaped and fine
# (thetajoin.py module doc), but the PLAIN materialization of a theta view
# (initial CREATE, full refresh, invariant checks) used to hand Catalyst the
# raw non-equi condition — a BroadcastNestedLoopJoin on large×large inputs.
# When the ON clause is STRUCTURED, a cheap equi plan exists and compute_view
# routes to it:
#
#   one-sided comparison  l_expr <op> r_expr   → ineqjoin.py (dyadic
#       segment-tree decomposition: pure hash joins on (level, node))
#   point-in-interval     lo ≤ p AND p ≤ hi    → rangejoin.py (banded bins)
#   anything else (OR, two-sided exprs, non-comparisons) → Catalyst fallback,
#       the documented shape for arbitrary theta (thetajoin.py)
#
# Routing never changes semantics: the FULL original ON clause is re-checked
# on every candidate pair (extra_cond), the binned structure only bounds
# which pairs are generated.  Conditions with an equi conjunct are NOT
# routed — Catalyst already extracts the equi key and hash-joins with the
# theta part as a residual.

# a single comparison operator at depth 0; excludes  <>  !=  <=>  and the
# lambda arrow ->
_CMP_RX = re.compile(r"<=(?!>)|>=|<(?![=>])|(?<![<>=!-])>")
_FLIP_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}


def _split_cmp(conj: str) -> tuple[str, str, str] | None:
    """``(lhs, op, rhs)`` when ``conj`` is a single depth-0 comparison
    (quotes and parens respected), else None."""
    s = conj
    op = None
    lhs = ""
    depth = 0
    quote: str | None = None
    i = last = 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = _CMP_RX.match(s, i)
            if m:
                if op is not None:
                    return None
                op = m.group(0)
                lhs = s[last:i]
                last = i = m.end()
                continue
        i += 1
    if op is None:
        return None
    lhs, rhs = lhs.strip(), s[last:].strip()
    if not lhs or not rhs:
        return None
    return lhs, op, rhs


_BETWEEN_RX = re.compile(r"\s+between\s+", re.IGNORECASE)
_AND_WORD_RX = re.compile(r"\s+and\s+", re.IGNORECASE)


def _between_cmps(conj: str) -> list[tuple[str, str, str]] | None:
    """``p BETWEEN lo AND hi`` as its two comparisons ``p >= lo`` and
    ``p <= hi`` (depth 0, quotes respected; NOT BETWEEN excluded), else
    None."""
    parts = _split_depth0(conj, _BETWEEN_RX)
    if len(parts) != 2 or re.search(r"\bnot$", parts[0], re.IGNORECASE):
        return None
    bounds = _split_depth0(parts[1], _AND_WORD_RX)
    if len(bounds) != 2:
        return None
    return [(parts[0], ">=", bounds[0]), (parts[0], "<=", bounds[1])]


def _expr_side(
    e: str, lnames: list[str], lcols: list[str], rname: str, rcols: list[str]
) -> str | None:
    """Which relation an expression references: 'l', 'r', or None when
    it references both / neither / ambiguously (string literals masked;
    requires the router's disjoint-bare-names precondition)."""
    from ivm_extension_spark.operators.thetajoin import _LITERAL_RX

    has_l = any(re.search(rf"\b{re.escape(n)}\s*\.", e) for n in lnames)
    has_r = bool(re.search(rf"\b{re.escape(rname)}\s*\.", e))
    toks = set(re.findall(r"\b[A-Za-z_]\w*\b", _LITERAL_RX.sub("''", e)))
    if toks & set(lcols) & set(rcols):
        return None
    l_side = has_l or bool(toks & set(lcols))
    r_side = has_r or bool(toks & set(rcols))
    if l_side and r_side:
        return None
    if l_side:
        return "l"
    if r_side:
        return "r"
    return None


def _classify_theta(
    on: str, lnames: list[str], lcols: list[str], rname: str, rcols: list[str]
) -> dict | None:
    """Classify a two-relation theta ON clause for CREATE-time routing.
    Returns None when any conjunct is an equi pair (Catalyst already
    hash-joins those, theta residual and all) or no one-sided comparison
    exists; otherwise ``{'ineqs': [(lexpr, op, rexpr), ...], 'range':
    (point, lo, hi, point_side) | None}`` with every inequality
    normalized to left-relation-expression-first."""
    ineqs: list[tuple[str, str, str]] = []
    for conj in _split_conjuncts(on):
        if _equi_pairs(conj, lnames, rname, lcols, rcols):
            return None
        for cmp_ in _between_cmps(conj) or [_split_cmp(conj)]:
            if not cmp_:
                continue
            lhs, op, rhs = cmp_
            sl = _expr_side(lhs, lnames, lcols, rname, rcols)
            sr = _expr_side(rhs, lnames, lcols, rname, rcols)
            if sl == "l" and sr == "r":
                ineqs.append((lhs, op, rhs))
            elif sl == "r" and sr == "l":
                ineqs.append((rhs, _FLIP_OP[op], lhs))
    if not ineqs:
        return None
    rng = None
    by_l: dict[str, list[tuple[str, str]]] = {}
    by_r: dict[str, list[tuple[str, str]]] = {}
    for le, op, re_ in ineqs:
        by_l.setdefault(le, []).append((op, re_))
        by_r.setdefault(re_, []).append((op, le))
    # the same LEFT expr bounded both ways → points live on the left
    for pe, pairs in by_l.items():
        lo = [x for (o, x) in pairs if o in (">", ">=")]
        hi = [x for (o, x) in pairs if o in ("<", "<=")]
        if lo and hi:
            rng = (pe, lo[0], hi[0], "l")
            break
    if rng is None:
        # the same RIGHT expr bounded both ways → points on the right;
        # normalized (lexpr op pe) means lexpr is the LO bound when op
        # is <-family (lexpr ≤ pe) and the HI bound when >-family
        for pe, pairs in by_r.items():
            lo = [x for (o, x) in pairs if o in ("<", "<=")]
            hi = [x for (o, x) in pairs if o in (">", ">=")]
            if lo and hi:
                rng = (pe, lo[0], hi[0], "r")
                break
    return {"ineqs": ineqs, "range": rng}


# Routing is only a WIN when both sides are large: with a side under
# this many rows, Catalyst broadcasts it and the nested-loop join is
# LINEAR work (|big| · |small| comparisons, one narrow pass, no explode,
# no extra jobs) — measured 4x faster than the dyadic plan on the
# 3-row-dimension theta lifecycles.  The BNLJ disaster this routing
# exists for is big×big, where no broadcast fits.  Probed with
# limit-bounded counts (never a full count of a big relation).
_ROUTE_MIN_ROWS = 10_000


def _routed_theta_join(
    acc: DataFrame, lnames: list[str], R: DataFrame, join
) -> DataFrame | None:
    """Route a structured theta join at materialization time (see the
    section comment above).  Returns the joined DataFrame with BARE
    flattened columns — the caller must strip the joined tables'
    qualifiers from all downstream expressions — or None when the
    condition is not routable (the caller then falls back to the
    general Catalyst join)."""
    from pyspark.sql.types import NumericType

    from ivm_extension_spark.operators import ineqjoin as iq
    from ivm_extension_spark.operators import rangejoin as rj

    lcols, rcols = acc.columns, R.columns
    if len(set(lcols)) != len(lcols) or (set(lcols) & set(rcols)):
        return None
    cls = _classify_theta(join.on, lnames, lcols, join.table, rcols)
    if cls is None:
        return None

    def small(df: DataFrame) -> bool:
        return (
            df.select(F.lit(1)).limit(_ROUTE_MIN_ROWS + 1).count()
            <= _ROUTE_MIN_ROWS
        )

    # dimension side first: almost always the cheap probe that settles it
    if small(R) or small(acc):
        return None
    tables = [*lnames, join.table]
    cond = _strip_qualifiers(join.on, tables)

    def numeric(df: DataFrame, e: str) -> bool:
        try:
            dt = df.select(F.expr(e).alias("__t")).schema[0].dataType
        except Exception:
            return False
        return isinstance(dt, NumericType)

    rng = cls["range"]
    routable_range = rng is not None and (
        join.how in ("inner", "full") or (join.how == "left" and rng[3] == "l")
    )
    if routable_range:
        pe, lo, hi = (_strip_qualifiers(x, tables) for x in rng[:3])
        points, intervals = (acc, R) if rng[3] == "l" else (R, acc)
        if numeric(points, pe) and numeric(intervals, lo) and numeric(intervals, hi):
            bw = rj.auto_range_bin_width(points, intervals, pe, lo, hi)
            return rj.range_join(
                points, intervals, pe, lo, hi, bw, how=join.how, extra_cond=cond
            )
    if rng is not None:
        # an interval condition we can't hand to range_join (LEFT
        # preserving the interval side, or semi/anti): the single-axis
        # dyadic plan would stream every half-space pair through the
        # residual filter — strictly worse than Catalyst's loop here
        return None
    lexpr, op, rexpr = cls["ineqs"][0]
    lexpr = _strip_qualifiers(lexpr, tables)
    rexpr = _strip_qualifiers(rexpr, tables)
    if not (numeric(acc, lexpr) and numeric(R, rexpr)):
        return None
    bw, nb, orig = iq.auto_dyadic_bins(acc, R, lexpr, rexpr)
    fns = {
        "inner": iq.ineq_join,
        "left": iq.ineq_left_join,
        "full": iq.ineq_full_join,
        "semi": iq.ineq_semi_join,
        "anti": iq.ineq_anti_join,
    }
    return fns[join.how](
        acc, R, lexpr, rexpr, op,
        bin_width=bw, max_bins=nb, origin=orig, extra_cond=cond,
    )


def _strip_view_qualifiers(view: ViewDef, tables: list[str], from_join_idx: int):
    """A copy of ``view`` whose downstream expressions (joins from
    ``from_join_idx`` on, WHERE, select/aggregate/group expressions)
    have the given tables' qualifiers stripped — applied after a routed
    structured-theta join flattens the accumulated relation to bare
    columns (the router checked global name disjointness, so stripping
    cannot introduce ambiguity)."""
    import dataclasses

    return dataclasses.replace(
        view,
        joins=tuple(
            j if n < from_join_idx
            else dataclasses.replace(j, on=_strip_qualifiers(j.on, tables))
            for n, j in enumerate(view.joins)
        ),
        where=_strip_qualifiers(view.where, tables) if view.where else None,
        select=tuple((_strip_qualifiers(e, tables), a) for e, a in view.select),
        aggregates=tuple(
            dataclasses.replace(
                a, expr=a.expr if a.expr == "*" else _strip_qualifiers(a.expr, tables)
            )
            for a in view.aggregates
        ),
        group_by=tuple(_strip_qualifiers(g, tables) for g in view.group_by),
    )


def compute_view(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
) -> DataFrame:
    """Run the view query over the base tables (no deltas) — used for the
    initial materialization of V and for full-refresh / invariant checks.
    Structured theta joins (one-sided inequality / point-in-interval)
    are routed to the dyadic / banded equi plans instead of Catalyst's
    nested-loop fallback — see the routing section comment above."""
    acc = get_table(view.source).alias(view.source)
    lnames = [view.source]
    for idx in range(len(view.joins)):
        join = view.joins[idx]
        R = get_table(join.table).alias(join.table)
        routed = None
        if _equi_pairs(join.on, lnames, join.table, acc.columns, R.columns) is None:
            try:
                routed = _routed_theta_join(acc, lnames, R, join)
            except Exception:
                # the router runs eager stats jobs; any failure falls
                # back to the semantically identical Catalyst join
                routed = None
        if routed is not None:
            acc = routed
            view = _strip_view_qualifiers(view, [*lnames, join.table], idx + 1)
        else:
            acc = acc.join(R, on=F.expr(join.on), how=join.how)
        lnames.append(join.table)
    if view.where:
        acc = acc.filter(F.expr(view.where))
    if view.is_aggregate:
        out = acc.groupBy(*_group_cols(view)).agg(*[_agg_expr(a) for a in view.aggregates])
    else:
        out = acc.selectExpr(*[f"{e} AS {q(a)}" for e, a in view.select])
    return out.selectExpr(*[q(a) for a in view.output_order])
